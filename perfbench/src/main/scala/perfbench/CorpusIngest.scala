package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Tables
import graft.operators.{Corpus, CorpusStore, ManifestTable}

/** `corpus_ingest`: a growing [[CorpusStore]]. One writer delivers the
  * generated document waves as named ticks (closed loop), a reader runs a
  * point lookup by md5 after each tick, one tick id is redelivered to hit
  * the replay skip, and the cycle ends with the housekeeping a deployment
  * runs: forget (a content purge) and a manifest rebuild. A cycle
  * starts on an empty root; cycles repeat while the run has time left.
  */
object CorpusIngest {
  val StoreOps = Seq("create", "tick", "replay", "lookup", "forget", "manifest")

  final case class Plan(waves: Int, forgetMd5s: Seq[String], forgetIds: Seq[Long],
                        probes: Seq[Seq[String]])

  /** The generated documents, persisted. */
  def load(spark: SparkSession, inputs: String): DataFrame = {
    val d = Tables.documents(spark, inputs).persist()
    d.count()
    d
  }

  def run(ctx: Ctx, docs: DataFrame, plan: Plan, seconds: Double): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    def wave(w: Int) = docs.filter(col("doc_id") % plan.waves === w)
    def lookup(root: String, md5s: Seq[String]): Set[Long] =
      CorpusStore.read(spark, root).filter(col("text_md5").isin(md5s: _*))
        .select("doc_id").collect().map(_.getLong(0)).toSet

    // no warm-up: creating the store is the first, cold, operation, as it
    // is for a process that starts a new store
    var reports = Seq.empty[CorpusStore.TickReport]
    var looked = Seq.empty[(Int, Set[Long])]
    var forgot: CorpusStore.ForgetReport = null
    var preForget = 0L
    var manifest: (StructType, Array[Row]) = null
    var root = ""
    val setupDone = ctx.setupDone()
    var cycle = 0
    while (cycle == 0 || (System.nanoTime() - setupDone) / 1e9 < seconds) {
      root = s"${ctx.work}/store$cycle"
      reports = Seq.empty
      looked = Seq.empty
      tr.span("cycle") {
        def storeOp[A](kind: String, label: String)(body: => A): A =
          ctx.op(kind, label)(tr.span(s"store.$kind")(body))
        (0 until plan.waves).foreach { w =>
          val kind = if (w == 0) "create" else "tick"
          reports :+= storeOp(kind, s"wave$w")(
            CorpusStore.tick(wave(w), root, tickId = Some(s"wave$w")))
          // the newest tick is redelivered once, as an at-least-once
          // queue does after a lost acknowledgement
          if (w == plan.waves - 1)
            reports :+= storeOp("replay", s"wave$w")(
              CorpusStore.tick(wave(w), root, tickId = Some(s"wave$w")))
          looked :+= w -> storeOp("lookup", s"after wave$w")(lookup(root, plan.probes(w)))
        }
        preForget = ManifestTable.currentVersion(spark, root).get
        forgot = storeOp("forget", "")(CorpusStore.forget(spark, root, plan.forgetMd5s))
        manifest = storeOp("manifest", "") {
          val m = CorpusStore.manifest(spark, root)
          (m.schema, m.collect())
        }
        spark.catalog.clearCache()
      }
      cycle += 1
    }
    val measuredS = (System.nanoTime() - setupDone) / 1e9
    val measuredCpuS = ctx.cpuSinceSetupS()

    val checks = tr.span("check") {
      val replay = reports.filter(_.replaySkipped)
      Seq(
        Check("replay_skip", replay.size == 1 && reports.size == plan.waves + 1,
          s"${replay.size} of ${reports.size} ticks skipped as replays"),
        Harness.check("lookups") {
          // the store before the purge holds every kept document; a lookup
          // after wave w sees those of waves <= w with a probed md5
          val before = CorpusStore.readAt(spark, root, preForget)
            .select(col("doc_id"), col("text_md5")).collect()
            .map(r => r.getLong(0) -> r.getString(1))
          val bad = looked.filterNot { case (w, got) =>
            got == before.collect {
              case (id, m) if plan.probes(w).contains(m) && id % plan.waves <= w => id
            }.toSet
          }
          Check("lookups", bad.isEmpty, s"${looked.size} lookups, ${bad.size} wrong")
        },
        Harness.check("forget") {
          val left = CorpusStore.read(spark, root)
            .filter(col("text_md5").isin(plan.forgetMd5s: _*)).count()
          Check("forget", left == 0 && forgot.nPurgedDocs == plan.forgetMd5s.size,
            s"${forgot.nPurgedDocs} purged, $left left")
        },
        Harness.check("manifest") {
          val got = spark.createDataFrame(manifest._2.toSeq.asJava, manifest._1)
          val want = tr.span("check.corpus_pipeline_incremental")(
            Corpus.corpusPipelineIncremental(
              docs.filter(!col("doc_id").isin(plan.forgetIds: _*)), plan.waves))
          val c = Harness.sameRows("manifest", got, want)
          spark.catalog.clearCache()
          c
        })
    }
    val kept = CorpusStore.read(spark, root).count()
    val storeBytes = Harness.treeBytes(root)
    docs.unpersist()

    val ingested = reports.filterNot(_.replaySkipped)
    val tickS = ctx.timed("tick")
    val nRaw = ingested.map(_.nRaw).sum
    val named = Seq(
      ("ingest_tick_p50_s", Harness.median(tickS), "s"),
      ("ingest_docs_per_s", ingested.drop(1).map(_.nRaw).sum * cycle / tickS.sum, "1/s"),
      ("store_create_s", Harness.median(ctx.timed("create")), "s"),
      ("lookup_p50_s", Harness.median(ctx.timed("lookup")), "s"),
      ("forget_s", Harness.median(ctx.timed("forget")), "s"),
      ("store_bytes_per_doc", storeBytes.toDouble / kept, "B"))
    val layers =
      if (!tr.enabled) Seq.empty
      else Layers.common(tr) ++ Layers.shares(tr, "store.", StoreOps) ++
        Layers.jobsPerCall(tr, "store.", Seq("tick")) ++ Seq(
          ("store.keep_ratio", ingested.map(_.nKept).sum.toDouble / nRaw, "ratio"),
          ("store.replay_skips", reports.count(_.replaySkipped).toDouble, "count"),
          ("store.forget.files_rewritten", forgot.nFilesRewritten.toDouble, "count"))
    Outcome(cycle, measuredS / cycle, measuredCpuS / cycle, named, storeBytes.toDouble / kept, checks, layers)
  }
}
