package perfbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Orchestrator

/** One benchmark run in one JVM:
  *
  *   perfbench.Main <workload> <inputs dir> <work dir> <seconds> <trace 0|1>
  *                  <cores> <result file>
  *
  * `perfbench/run.py` generates the inputs, launches this main and turns
  * the result file into the benchmark's output line.
  */
object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val SetupRepeats = 5

  def main(args: Array[String]): Unit = {
    val Array(workload, inputs, work, seconds, trace, cores, resultFile) = args
    val calStart = calibrate()
    val traced = trace == "1"
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
    if (traced) builder.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
    val load: SparkSession => DataFrame = workload match {
      case "ohlc_cron" => OhlcCron.load(_, inputs)
      case "corpus_ingest" => CorpusIngest.load(_, inputs)
    }

    // one set-up is a Spark session start and the input load; it runs
    // SetupRepeats times, each on a new session, and the last one is kept.
    // The first also pays the JVM's class loading, so the median is a warm one.
    val setupStartMs = System.currentTimeMillis()
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var input: DataFrame = null
    (1 to SetupRepeats).foreach { _ =>
      if (spark != null) { input.unpersist(); spark.stop() }
      val t0 = System.nanoTime()
      spark = builder.getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      input = load(spark)
      setupS += (System.nanoTime() - t0) / 1e9
    }
    val runId = s"$workload-${java.util.UUID.randomUUID().toString.take(8)}"
    val tracer = new Tracer(spark.sparkContext, traced)
    val ctx = new Ctx(spark, tracer, inputs, work)
    val sizes = new ObjectMapper().readTree(Paths.get(inputs, "sizes.json").toFile)

    val outcome: Either[Op, Outcome] =
      try Right(workload match {
        case "ohlc_cron" =>
          val o = sizes.get("outage")
          OhlcCron.run(ctx, input,
            sizes.get("ticks").elements().asScala.map(t => Timestamp.valueOf(t.asText)).toSeq,
            Orchestrator.Outage(Timestamp.valueOf(o.get("start").asText),
              Timestamp.valueOf(o.get("end").asText),
              Timestamp.valueOf(o.get("healed_at").asText)),
            seconds.toDouble)
        case "corpus_ingest" =>
          val p = new ObjectMapper().readTree(Paths.get(inputs, "corpus_plan.json").toFile)
          def strs(n: com.fasterxml.jackson.databind.JsonNode) =
            n.elements().asScala.map(_.asText).toSeq
          CorpusIngest.run(ctx, input, CorpusIngest.Plan(
            p.get("waves").asInt,
            strs(p.get("forget_md5s")),
            p.get("forget_doc_ids").elements().asScala.map(_.asLong).toSeq,
            p.get("probe_md5s").elements().asScala.map(strs).toSeq),
            seconds.toDouble)
      }) catch { case f: OpFailed => Left(f.op) }
    val workloadDoneMs = System.currentTimeMillis()
    tracer.finish()
    val calEnd = calibrate()

    val out = Json.obj(
      "workload" -> workload,
      "run_id" -> runId,
      "traced" -> traced,
      "setup_start_ms" -> setupStartMs,
      "setup_s" -> setupS.toSeq,
      "setup_done_ms" -> ctx.setupDoneMs,
      "checks_done_ms" -> workloadDoneMs,
      "host" -> Json.obj(
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "spark_cores" -> cores.toInt,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "cpu_calibration_start_s" -> calStart,
        "cpu_calibration_end_s" -> calEnd),
      "ops" -> ctx.ops.map(o => Json.obj("kind" -> o.kind, "label" -> o.label,
        "wall_s" -> o.wallS, "error" -> o.error.orNull)).toSeq,
      "failed_op" -> outcome.left.toOption.map(o => s"${o.kind} ${o.label}: ${o.error.get}").orNull,
      "outcome" -> outcome.toOption.map { r =>
        Json.obj(
          "cycles" -> r.cycles,
          "cycle_s" -> r.cycleS,
          "cycle_cpu_s" -> r.cycleCpuS,
          "bytes_per_row" -> r.bytesPerRow,
          "named" -> r.named.map { case (n, v, u) => Json.obj("name" -> n, "value" -> v, "unit" -> u) },
          "checks" -> r.checks.map(c => Json.obj("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
          "layers" -> r.layers.map { case (n, v, u) => Json.obj("name" -> n, "value" -> v, "unit" -> u) })
      }.orNull,
      "spans" -> (if (!traced) Seq.empty else tracer.spans.toSeq.map { s =>
        val c = tracer.spark(s.id)
        Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run_id" -> runId,
          "start_s" -> (s.startNs - ctx.setupDoneNs) / 1e9, "wall_s" -> s.wallS,
          "self_s" -> s.selfS, "failed" -> s.failed,
          "fs_self" -> s.fsSelf.toSeq, "jobs" -> c.jobs, "stages" -> c.stages,
          "tasks" -> c.tasks, "task_s" -> c.taskMs / 1000.0,
          "shuffle_write_bytes" -> c.shuffleWrite, "input_bytes" -> c.input,
          "spill_bytes" -> c.spill)
      }))
    Files.writeString(Paths.get(resultFile), out.json)
    spark.stop()
  }

  /** A fixed single-threaded CPU sample: it slows down when the host is
    * contended and is independent of the data and of the program.
    */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var h = 0L
    var i = 0L
    while (i < 100000000L) { h = h * 6364136223846793005L + i; h ^= h >>> 29; i += 1 }
    val s = (System.nanoTime() - t0) / 1e9
    if (h == 42L) println("") // keeps the loop from being optimised away
    s
  }
}

/** A minimal JSON writer for the result file. */
object Json {
  final case class Obj(json: String)

  def obj(kv: (String, Any)*): Obj =
    Obj(kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}"))

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def value(v: Any): String = v match {
    case null => "null"
    case o: Obj => o.json
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case b: Boolean => b.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
