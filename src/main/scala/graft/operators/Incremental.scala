package graft.operators

import java.util.UUID

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's operational loop as a deterministic batch utility
  * (SURVEY.md §3.2, §2.9): resume from the sink's MAX(ts) watermark (S6),
  * re-read a trailing overlap for late/revised rows
  * (`collectors/binance.py:152-153`), and upsert with last-write-wins
  * semantics (S8/S9) over a date-partitioned sink — the object-storage
  * analog of `ON CONFLICT DO UPDATE`.
  *
  * Durability: the sink is a [[ManifestTable]] — the merged slice is staged,
  * published under never-colliding names, and made visible by ONE atomic
  * manifest rename. There is no delete-before-commit window: a crash at any
  * point leaves the previous snapshot fully readable (the reference gets the
  * same guarantee from Postgres's transactional upsert,
  * `aggregators/base.py:155-238`).
  *
  * Scale: one upsert is O(touched partitions), not O(sink). The batch is
  * evaluated once; the existing rows read are only the live files under the
  * batch's own `p_date=` partitions, picked off the manifest (no directory
  * listing), and the watermark comes from manifest stats. The one exception:
  * when `tsCol` is not part of the key, a revision can move a key across
  * dates, so a semi-join of the batch keys against the whole sink finds the
  * partitions holding their stale copies.
  */
object Incremental {

  /** Read the current snapshot of a sync sink. */
  def readSink(spark: SparkSession, sinkPath: String): DataFrame =
    ManifestTable.read(spark, sinkPath)

  private def livePartitions(spark: SparkSession, sinkPath: String): Seq[String] =
    ManifestTable.liveFiles(spark, sinkPath)
      .map(f => f.takeWhile(_ != '/'))
      .filter(_.startsWith("p_date=")).distinct

  /** S6: the sink's resume point. Fast path: when EVERY live file carries
    * manifest min/max stats for `tsCol` (written by [[mergeAndCommit]]'s
    * footer pass), the watermark is the max of the file maxes — pure
    * manifest metadata, zero file opens. Any stats-less file could hide a
    * larger ts, so the fallback reads the latest date partition's files
    * (the max always lives there), never the full sink.
    */
  def sinkWatermark(spark: SparkSession, sinkPath: String,
                    tsCol: String): Option[java.sql.Timestamp] = {
    val entries = ManifestTable.liveEntries(spark, sinkPath)
    val statMaxes = entries.flatMap(_.stats.get(tsCol).map(_._2))
    if (entries.nonEmpty && statMaxes.size == entries.size) {
      // INT64 micros since epoch (UTC session everywhere in this project)
      val us = statMaxes.max
      val ts = new java.sql.Timestamp(Math.floorDiv(us, 1000L))
      ts.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
      return Some(ts)
    }
    val parts = livePartitions(spark, sinkPath)
    if (parts.isEmpty) None
    else {
      val latest = parts.max // p_date=YYYY-MM-DD sorts lexically = temporally
      val files = ManifestTable.liveFiles(spark, sinkPath)
        .filter(_.startsWith(latest + "/"))
        .map(f => s"${ManifestTable.dataDir(sinkPath)}/$f")
      spark.read.option("basePath", ManifestTable.dataDir(sinkPath))
        .parquet(files: _*)
        .agg(max(col(tsCol))).collect().headOption
        .flatMap(r => Option(r.getTimestamp(0)))
    }
  }

  /** Per-tick outcome, mirroring the reference's inserted-vs-updated
    * tracking (`RETURNING (xmax = 0)`, `collectors/binance.py:111`).
    */
  case class SyncStats(written: Long, inserted: Long, updated: Long)

  /** One sync tick. `keyCols` identify a row (upsert key); `seqCols` order
    * arrivals (latest wins, must be totally ordering).
    */
  def syncTick(source: DataFrame, sinkPath: String,
               keyCols: Seq[String], seqCols: Seq[String],
               tsCol: String, overlap: String): SyncStats = {
    val spark = source.sparkSession
    val wm = sinkWatermark(spark, sinkPath, tsCol)
    val newData = wm match {
      case Some(w) =>
        source.filter(col(tsCol) > lit(w) - expr(s"INTERVAL $overlap"))
      case None => source
    }
    mergeAndCommit(newData, sinkPath, keyCols, seqCols, tsCol)
  }

  /** Upsert WITHOUT the watermark filter — the gap-repair path
    * ([[GapRepair]], `collectors/binance_1m.py:404-507`): refetched rows are
    * older than the sink's watermark by construction, so the tick filter
    * would drop exactly the rows being repaired. The source is expected to
    * be range-bounded already (the API's start/end_timestamp params).
    */
  def backfill(source: DataFrame, sinkPath: String,
               keyCols: Seq[String], seqCols: Seq[String],
               tsCol: String): SyncStats =
    mergeAndCommit(source, sinkPath, keyCols, seqCols, tsCol)

  /** One pass per upsert. The batch (with `p_date`) is persisted and read
    * by every step below, so the source — an aggregation over every visible
    * trade, or a paged API refetch — is evaluated exactly once: one
    * `distinct p_date` job over it, then the write. `inserted`/`updated`
    * ride that write as an [[Observation]] instead of costing count jobs.
    */
  private def mergeAndCommit(newData: DataFrame, sinkPath: String,
                             keyCols: Seq[String], seqCols: Seq[String],
                             tsCol: String): SyncStats = {
    val spark = newData.sparkSession
    val batch = newData.withColumn("p_date", to_date(col(tsCol))).persist()
    try {
      val batchDates = datesOf(batch)
      // nothing to upsert: no staging, no commit (a re-detected natural gap
      // refetches empty on every repair tick)
      if (batchDates.isEmpty) return SyncStats(0L, 0L, 0L)

      val live = ManifestTable.liveFiles(spark, sinkPath)
      def read(files: Seq[String]): DataFrame =
        spark.read.option("basePath", ManifestTable.dataDir(sinkPath))
          .parquet(files.map(f => s"${ManifestTable.dataDir(sinkPath)}/$f"): _*)
      // partitions to rewrite: the batch's own dates, plus — only when the
      // key does not pin the date — those holding an existing version of a
      // batch key (a revision may move a row across the date boundary, and
      // the stale copy must not survive elsewhere). That probe is the one
      // full-sink read left; keyed-on-ts sinks never pay it.
      val touchedDates =
        if (live.isEmpty || keyCols.contains(tsCol)) batchDates
        else (batchDates ++ datesOf(read(live)
          .join(broadcast(batch.select(keyCols.map(col): _*).distinct()),
            keyCols, "left_semi"))).distinct
      val touched = touchedDates.map(d => s"p_date=$d")

      // existing rows of the touched partitions only, straight off the
      // manifest's live-file list — untouched partitions are never opened
      val existing = live.filter(f => touched.exists(p => f.startsWith(p + "/")))
      val fromBatch = batch.withColumn("__new", lit(true))
      val rows =
        if (existing.isEmpty) fromBatch
        else read(existing).withColumn("__new", lit(false)).unionByName(fromBatch)

      // LWW per key, with presence flags over the whole key group: a key
      // the batch carries is an update when the sink already held it
      val lwwWindow = Window.partitionBy(keyCols.map(col): _*)
        .orderBy(seqCols.map(c => col(c).desc): _*)
      val keyGroup = lwwWindow.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      val counts = Observation()
      val merged = rows
        .withColumn("__rn", row_number().over(lwwWindow))
        .withColumn("__in_batch", max(col("__new")).over(keyGroup))
        .withColumn("__in_sink", !min(col("__new")).over(keyGroup))
        .filter(col("__rn") === 1)
        .observe(counts,
          count(when(col("__in_batch") && !col("__in_sink"), 1)).as("inserted"),
          count(when(col("__in_batch") && col("__in_sink"), 1)).as("updated"))
        .drop("__rn", "__new", "__in_batch", "__in_sink")

      // stage → publish → one atomic manifest rename. A partition whose rows
      // all merged away produces no staged files but is still listed as
      // replaced, so its stale files drop out of the new snapshot.
      val staging = s"$sinkPath/_staging/${UUID.randomUUID()}"
      // INT64-micros timestamps (scoped; INT96 is parquet-deprecated and
      // carries no footer stats, which would disable both the manifest
      // watermark fast path and ts file skipping)
      val prevTsType = spark.conf.get("spark.sql.parquet.outputTimestampType")
      spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // one file per touched partition: the layout is independent of how
      // the LWW shuffle happened to split the keys
      try merged.repartition(col("p_date"))
        .write.mode(SaveMode.Overwrite).partitionBy("p_date").parquet(staging)
      finally spark.conf.set("spark.sql.parquet.outputTimestampType", prevTsType)
      val added = ManifestTable.publishFiles(spark, sinkPath, staging)
      // loud, never silent: a non-empty batch merges to a non-empty slice
      // (LWW keeps at least one row per key), so zero published files means
      // the staged write vanished before the publish (external cleanup or a
      // concurrent writer's deep vacuum racing this tick) — committing would
      // REPLACE the touched partitions with nothing and lose their rows
      require(added.nonEmpty,
        s"staged sink files vanished before publish at $sinkPath — is " +
          "another writer's housekeeping running against this sink?")
      // row counts AND tsCol min/max from the parquet FOOTERS of the
      // published files — one concurrent metadata read per file, not a
      // second full scan of the merged slice; the stats ride the manifest so
      // later watermark reads and range scans are metadata-only
      val meta = ManifestTable.footerMeta(spark,
        ManifestTable.dataDir(sinkPath), added, Seq(tsCol))
      ManifestTable.commitEntries(spark, sinkPath, touched, meta.map(_._1))
      // cheap tier: per-tick reclamation stays manifest arithmetic. Crash
      // orphans (published by a tick that died before its commit) wait
      // for the sink's maintenance pass — [[Layout.compactTable]] runs
      // the deep (listing) vacuum when it rewrites the sink's files
      ManifestTable.vacuum(spark, sinkPath, deep = false)

      val observed = counts.get
      SyncStats(meta.map(_._2).sum,
        observed("inserted").asInstanceOf[Long], observed("updated").asInstanceOf[Long])
    } finally batch.unpersist()
  }

  private def datesOf(df: DataFrame): Seq[String] =
    df.select(col("p_date")).distinct().collect().map(_.getDate(0).toString).toSeq

}
