package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{lit, spark_partition_id}

/** Small-file compaction of a [[ManifestTable]] sink. Continuous upsert
  * ticks ([[Incremental.syncTick]]) accrue one small file per touched
  * `p_date` partition per tick; at scale unmanaged small files dominate
  * scan planning and listing cost. ([[CorpusStore.compact]] is the corpus
  * store's own form: per-bucket, fragmented buckets only.)
  */
object Layout {

  /** Compaction of a [[ManifestTable]] sink with a truly atomic cutover:
    * rewrite the live snapshot into ~`targetBytes` files, written straight
    * into `data/`, and flip one manifest. Readers see either the old file
    * set or the new one — never an empty or half-swapped directory.
    * Returns (files_before, files_after).
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
    val rows = ManifestTable.read(spark, root).coalesce(nOut)
    // one file per (partition dir, coalesced partition): a df.write's layout
    val added = ManifestTable.writeFiles(spark, root, Seq(ManifestTable.WriteSet(
      rows, rows.columns.filterNot(partitionCols.contains).toSeq,
      if (partitionCols.isEmpty) lit("") else ManifestTable.partitionDir(partitionCols),
      spark_partition_id(), None, statCols)))
    // replace-everything commit: empty prefix matches every live file
    ManifestTable.commitEntries(spark, root, Seq(""), added.map(_._1))
    // deep on purpose: compaction is the sink's maintenance pass, so it
    // also sweeps crash orphans the per-tick cheap vacuums leave behind
    ManifestTable.vacuum(spark, root, deep = true)
    (before.length.toLong, added.length.toLong)
  }
}
