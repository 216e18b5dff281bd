package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types._

import graft.operators.ManifestTable

/** The DOCUMENTED consumer of the change data feed, shipped as a library
  * function: a `foreachBatch` upsert keyed on `text_md5` that applies each
  * [[StoreChangesSource]] micro-batch (insert/delete keyed diffs) to a
  * downstream MIRROR — the training-data export that stays equal to the
  * corpus store's snapshot. The composition that makes the pipeline
  * EXACTLY-ONCE IN EFFECT:
  *
  *   - the source is at-least-once (the V1 recovery contract re-runs the
  *     last uncommitted window after a crash);
  *   - each batch is a KEYED diff, and [[applyBatch]] is an idempotent
  *     keyed upsert — survivors are selected by anti-join on the batch's
  *     keys before the batch's inserts are re-added, so replaying a window
  *     reproduces, not duplicates, the mirror state;
  *   - each application lands as ONE atomic [[ManifestTable]] commit, so a
  *     crash mid-apply leaves the previous mirror snapshot fully intact
  *     for the replay to rebuild from.
  *
  * SCALE SHAPE: the mirror is bucket-partitioned by `text_md5`
  * (`p_b=<bucket>/`, count recorded in the creating commit's meta and
  * resolved from the store thereafter), and a batch rewrites ONLY the
  * buckets its keys hash to — O(touched buckets) per micro-batch, never
  * O(mirror), the [[graft.operators.CorpusStore]] tick discipline.
  *
  * RETENTION: a replayed window re-reads both endpoint manifests of the
  * UPSTREAM store; if the from-version aged out of the store's retention
  * (`retainSnapshots` below the stream's restart lag) the batch FAILS
  * LOUDLY inside [[graft.operators.CorpusStore.changesBetween]] — never a
  * silent skip (spec-pinned in `StoreChangesMirrorSpec`).
  */
object StoreChangesMirror {

  /** Default mirror bucket count — enough that a batch's rewrite
    * granularity is small at test scale; production mirrors size this to
    * O(mirror bytes / target file size) at creation.
    */
  val DefaultBuckets = 16

  private val MirrorSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("text_md5", StringType)))

  private def bucketOf(md5: org.apache.spark.sql.Column, n: Int) =
    pmod(conv(substring(md5, 1, 4), 16, 10).cast("int"), lit(n))

  /** The bucket count the mirror was created with (its first commit's
    * meta), or None for a not-yet-created mirror.
    */
  def bucketsOf(spark: SparkSession, root: String): Option[Int] =
    ManifestTable.currentVersion(spark, root).flatMap(v =>
      ManifestTable.commitMeta(spark, root, v).get("mirror_buckets")
        .map(_.toInt))

  /** `files` of the mirror at `root` (a typed empty frame for none), read
    * with the stored schema — [[MirrorSchema]] plus the `p_b` partition
    * column — through [[ManifestTable.readFiles]], then without `p_b`.
    */
  private def readFiles(spark: SparkSession, root: String,
                        files: Seq[String]): DataFrame =
    ManifestTable.readFiles(spark, root, files, Some(StructType(
      MirrorSchema.fields :+ StructField("p_b", IntegerType)))).drop("p_b")

  /** The current mirror contents — what must equal
    * `CorpusStore.read(...)`'s keyed view once the stream drains.
    */
  def read(spark: SparkSession, root: String): DataFrame =
    readFiles(spark, root, ManifestTable.liveFiles(spark, root))

  /** Apply ONE change batch (the [[StoreChangesSource]] schema:
    * doc_id, lang, source, text_md5, change ∈ insert|delete) to the
    * mirror at `root`. Idempotent; one atomic commit; rewrites only the
    * md5 buckets the batch touches. This IS the `foreachBatch` body —
    * public so a non-streaming caller ([[graft.operators.CorpusStore
    * .changesBetween]] in a catch-up loop) can apply windows directly.
    */
  def applyBatch(batch: DataFrame, root: String,
                 nBuckets: Int = DefaultBuckets): Unit = {
    val spark = batch.sparkSession
    val n = bucketsOf(spark, root).getOrElse(nBuckets)
    val keyed = batch
      .select(col("doc_id"), col("lang"), col("source"), col("text_md5"),
        col("change"))
      .withColumn("p_b", bucketOf(col("text_md5"), n))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // a batch is a tick window — its distinct buckets are metadata-sized
      val touched = keyed.select(col("p_b")).distinct()
        .collect().map(_.getInt(0)).sorted
      if (touched.isEmpty) return // empty window: nothing to commit
      val touchedDirs = touched.map(b => s"p_b=$b").toSeq
      val live = ManifestTable.liveFiles(spark, root)
        .filter(f => touchedDirs.exists(d => f.startsWith(d + "/")))
      // keyed upsert: drop every key the batch names (insert OR delete),
      // re-add the inserts — replaying the same window is a no-op by
      // construction
      val survivors = readFiles(spark, root, live)
        .join(keyed.select(col("text_md5")).distinct(),
          Seq("text_md5"), "left_anti")
        .withColumn("p_b", bucketOf(col("text_md5"), n))
      val inserts = keyed.filter(col("change") === "insert")
        .select(col("doc_id"), col("lang"), col("source"), col("text_md5"),
          col("p_b"))
      // one file per touched bucket
      val added = ManifestTable.writeFiles(spark, root, Seq(ManifestTable.WriteSet(
        survivors.select(inserts.columns.map(col).toIndexedSeq: _*)
          .unionByName(inserts),
        inserts.columns.filter(_ != "p_b").toSeq,
        ManifestTable.partitionDir(Seq("p_b")), lit(0), None)))
      ManifestTable.commitReplace(spark, root, touchedDirs,
        added.map(_._1.path), meta = Map("mirror_buckets" -> n.toString))
      ManifestTable.vacuum(spark, root)
    } finally keyed.unpersist()
  }

  /** The stream-side attachment: `attach(changesStream, mirrorRoot)
    * .start()` maintains the mirror from a live
    * [[StoreChangesSourceProvider]] stream.
    */
  def attach(changes: DataFrame, root: String,
             nBuckets: Int = DefaultBuckets): DataStreamWriter[Row] =
    changes.writeStream
      .foreachBatch((b: DataFrame, _: Long) => applyBatch(b, root, nBuckets))
}
