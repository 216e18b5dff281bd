package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Storage-layout operators for the 100 TB design: bucketed tables make the
  * recurring fact-fact join (lineitem ⋈ orders on orderkey) shuffle-free —
  * both sides are pre-hash-partitioned and sorted on the join key at write
  * time, so the join planner emits SortMergeJoin with NO Exchange. At the
  * reference's scale this is the difference between re-shuffling 100 TB per
  * run and reading co-located buckets.
  *
  * (Date-partitioned layout — the other axis — is exercised by
  * [[Incremental.syncTick]]'s manifest commit, which replaces the touched
  * `p_date=` partitions in one atomic [[ManifestTable]] snapshot.)
  */
object Layout {

  /** Write `df` bucketed+sorted on `key` as managed table `name`. */
  def writeBucketed(df: DataFrame, name: String, key: String,
                    buckets: Int = 32): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key).sortBy(key)
      .saveAsTable(name)

  /** Small-file compaction: rewrite a parquet directory into files of
    * roughly `targetBytes` each (continuous upsert ticks — `Incremental.
    * syncTick` — accrue one small file per touched partition per tick; at
    * scale unmanaged small files dominate scan planning and NN/listing
    * cost). Coalesce, not repartition: no shuffle, just fewer output tasks.
    * Returns (files_before, files_after).
    */
  def compact(spark: SparkSession, path: String,
              targetBytes: Long = 128L << 20,
              partitionCols: Seq[String] = Seq.empty): (Long, Long) = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parquetFiles = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(path), true)
      var files = List.empty[org.apache.hadoop.fs.LocatedFileStatus]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) files ::= f
      }
      files
    }
    val before = parquetFiles
    val totalBytes = before.map(_.getLen).sum
    val nOut = math.max(1, (totalBytes / targetBytes).toInt)
    // stage-then-swap: writing over the directory the plan reads from would
    // leave a window where the only copy of the data is executor-local
    // (lineage truncated, source deleted). partitionCols MUST name the
    // sink's partitioning (e.g. "p_date" for Incremental sinks) or the
    // rewrite would flatten the layout.
    val staging = s"$path.__staging"
    val retired = s"$path.__old"
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    fs.delete(new org.apache.hadoop.fs.Path(retired), true)
    val writer = spark.read.parquet(path).coalesce(nOut)
      .write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .parquet(staging)
    // retire-then-swap, never delete-then-swap: at every crash point a full
    // copy exists on disk (either `path`, or `__old` + `__staging`), so the
    // worst outcome is a manual rename, not data loss. A ManifestTable sink
    // gets a genuinely atomic version of this via compactTable below.
    fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(retired))
    fs.rename(new org.apache.hadoop.fs.Path(staging),
      new org.apache.hadoop.fs.Path(path))
    fs.delete(new org.apache.hadoop.fs.Path(retired), true)
    (before.length.toLong, parquetFiles.length.toLong)
  }

  /** Compaction of a [[ManifestTable]] sink with a truly atomic cutover:
    * rewrite the live snapshot into ~`targetBytes` files, publish them, and
    * flip one manifest. Readers see either the old file set or the new one —
    * never an empty or half-swapped directory. Returns (files_before,
    * files_after).
    */
  def compactTable(spark: SparkSession, root: String,
                   targetBytes: Long = 128L << 20,
                   partitionCols: Seq[String] = Seq.empty): (Long, Long) = {
    val beforeEntries = ManifestTable.liveEntries(spark, root)
    val before = beforeEntries.map(_.path)
    // compaction must not degrade the table: whatever columns the old
    // snapshot tracked min/max for, the rewritten files track too (else one
    // compact would silently disable file skipping and the metadata-only
    // watermark until the next stats-writing commit)
    val statCols = beforeEntries.flatMap(_.stats.keys).distinct
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes = before.map { f =>
      fs.getFileStatus(new org.apache.hadoop.fs.Path(
        s"${ManifestTable.dataDir(root)}/$f")).getLen
    }.sum
    val nOut = math.max(1, (totalBytes / targetBytes).toInt)
    val staging = s"$root/_staging/compact-${java.util.UUID.randomUUID()}"
    val writer = ManifestTable.read(spark, root).coalesce(nOut)
      .write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .parquet(staging)
    val added = ManifestTable.publishFiles(spark, root, staging)
    // replace-everything commit: empty prefix matches every live file
    if (statCols.isEmpty)
      ManifestTable.commitReplace(spark, root, Seq(""), added)
    else
      ManifestTable.commitEntries(spark, root, Seq(""),
        ManifestTable.footerMeta(spark, ManifestTable.dataDir(root),
          added, statCols).map(_._1))
    // deep on purpose: compaction is the sink's maintenance pass, so it
    // also sweeps crash orphans the per-tick cheap vacuums leave behind
    ManifestTable.vacuum(spark, root, deep = true)
    (before.length.toLong, added.length.toLong)
  }

  /** Join two bucketed tables on their bucket keys — shuffle-free when both
    * were written with the same bucket count.
    */
  def bucketedJoin(spark: SparkSession, left: String, right: String,
                   leftKey: String, rightKey: String): DataFrame = {
    // bind both sides once: fresh spark.table() instances in the condition
    // give ambiguous references for self-joins
    val l = spark.table(left)
    val r = spark.table(right)
    l.join(r, l(leftKey) === r(rightKey))
  }
}
