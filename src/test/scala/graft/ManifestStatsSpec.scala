package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.operators.{Incremental, ManifestTable}
import graft.operators.ManifestTable.FileEntry

/** Manifest-level min/max file skipping: footer stats ride the manifest at
  * commit time; range reads prune files by pure metadata (the same pruning
  * Delta/Iceberg do). Safety first: a file without stats is never skipped,
  * and pre-stats manifests (bare-path lines) stay readable unchanged.
  */
class ManifestStatsSpec extends SparkSpec {
  import spark.implicits._

  /** Commit `ranges` as one file each of longs [lo, hi] on column `seq`. */
  private def tableWithFiles(root: String, ranges: Seq[(Long, Long)]): Unit =
    ranges.foreach { case (lo, hi) =>
      val written = ManifestTable.writeFiles(spark, root, Seq(ManifestTable.WriteSet(
        (lo to hi).toDF("seq").withColumn("payload", col("seq") * 10),
        Seq("seq", "payload"), lit(""), lit(0), None, Seq("seq"))))
      ManifestTable.commitEntries(spark, root, Seq.empty, written.map(_._1))
    }

  /** Per-file (min, max) of INT64 column `c` from the parquet footer of
    * `file`, or None when no row group carries a non-null value.
    */
  private def footerRange(file: String, c: String): Option[(Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file), spark.sparkContext.hadoopConfiguration))
    try {
      val chunks = r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
        .filter(_.getPath.toDotString == c).map(_.getStatistics)
        .filter(_.hasNonNullValue)
      if (chunks.isEmpty) None
      else Some((chunks.map(_.genericGetMin.asInstanceOf[java.lang.Long].longValue).min,
        chunks.map(_.genericGetMax.asInstanceOf[java.lang.Long].longValue).max))
    } finally r.close()
  }

  test("readWhere plans only the files whose stats intersect the range") {
    val root = Files.createTempDirectory("graft_stats").toString + "/t"
    tableWithFiles(root, Seq((0L, 99L), (100L, 199L), (200L, 299L)))

    val entries = ManifestTable.liveEntries(spark, root)
    assert(entries.size == 3 && entries.forall(_.stats.contains("seq")))

    val one = ManifestTable.readWhere(spark, root, "seq", 120L, 150L)
    assert(one.inputFiles.length == 1) // metadata pruned 2 of 3 before the scan
    assert(one.filter(col("seq").between(120, 150)).count() == 31L)

    val two = ManifestTable.readWhere(spark, root, "seq", 90L, 110L) // straddles
    assert(two.inputFiles.length == 2)

    // fully outside every range: zero-file scan, schema preserved
    val none = ManifestTable.readWhere(spark, root, "seq", 1000L, 2000L)
    assert(none.count() == 0L)
    assert(none.columns.toSeq == Seq("seq", "payload"))
    assert(none.schema.map(_.dataType) == Seq(LongType, LongType))
  }

  test("files without stats are never pruned; bare-path manifests still read") {
    val root = Files.createTempDirectory("graft_stats2").toString + "/t"
    val added = ManifestTable.writeFiles(spark, root, Seq(ManifestTable.WriteSet(
      (0L to 9L).toDF("seq"), Seq("seq"), lit(""), lit(0), None))).map(_._1.path)
    // pre-stats manifest: bare paths, no stats column
    ManifestTable.commitReplace(spark, root, Seq.empty, added)

    assert(ManifestTable.liveEntries(spark, root).forall(_.stats.isEmpty))
    // a range that would prune the file if its stats were known
    val df = ManifestTable.readWhere(spark, root, "seq", 1000L, 2000L)
    assert(df.inputFiles.length == 1) // kept: skipping unprovable
    assert(ManifestTable.read(spark, root).count() == 10L)

    assert(ManifestTable.pruneEntries(
      Seq(FileEntry("a.parquet"), FileEntry("b.parquet", Map("seq" -> (0L, 5L)))),
      "seq", 100L, 200L).map(_.path) == Seq("a.parquet"))
  }

  test("prune safety property: an entry is dropped iff provably disjoint (randomized)") {
    val rnd = new scala.util.Random(17)
    for (_ <- 1 to 500) {
      val entries = (1 to 10).map { i =>
        if (rnd.nextBoolean()) {
          val lo = rnd.nextInt(1000).toLong
          FileEntry(s"f$i.parquet", Map("c" -> (lo, lo + rnd.nextInt(200))))
        } else FileEntry(s"f$i.parquet") // no stats: must always survive
      }
      val qlo = rnd.nextInt(1200).toLong
      val qhi = qlo + rnd.nextInt(300)
      val kept = ManifestTable.pruneEntries(entries, "c", qlo, qhi)
        .map(_.path).toSet
      entries.foreach { e =>
        val mayOverlap = e.stats.get("c")
          .forall { case (mn, mx) => mx >= qlo && mn <= qhi }
        assert(kept.contains(e.path) == mayOverlap)
      }
    }
  }

  test("compaction preserves the tracked stat columns") {
    val root = Files.createTempDirectory("graft_stats4").toString + "/t"
    tableWithFiles(root, Seq((0L, 99L), (100L, 199L), (200L, 299L)))
    val (nBefore, nAfter) = graft.operators.Layout.compactTable(spark, root)
    assert(nBefore == 3L && nAfter < nBefore)
    val entries = ManifestTable.liveEntries(spark, root)
    assert(entries.forall(_.stats.contains("seq")))
    // skipping still works on the compacted snapshot
    assert(ManifestTable.readWhere(spark, root, "seq", 0L, 299L).count() == 300L)
    assert(ManifestTable.readWhere(spark, root, "seq", 5000L, 6000L).count() == 0L)

    // a timestamp sink: the rewrite keeps its ts stats, so the watermark
    // stays metadata-only after compaction
    val sink = Files.createTempDirectory("graft_stats4ts").toString + "/t"
    Incremental.syncTick(Seq(
      (1L, sqlTs("2024-01-01 10:00:00"), "b1"),
      (2L, sqlTs("2024-01-01 10:00:00"), "b1")).toDF("key", "ts", "batch"),
      sink, Seq("key"), Seq("batch"), "ts", "2 HOURS")
    val us = sqlTs("2024-01-01 10:00:00").getTime * 1000L
    assert(ManifestTable.liveEntries(spark, sink).map(_.stats) ==
      Seq(Map("ts" -> (us, us))))
    graft.operators.Layout.compactTable(spark, sink, partitionCols = Seq("p_date"))
    assert(ManifestTable.liveEntries(spark, sink).map(_.stats) ==
      Seq(Map("ts" -> (us, us))))
    var wm: Option[java.sql.Timestamp] = None
    assert(jobsOf { wm = Incremental.sinkWatermark(spark, sink, "ts") }.isEmpty)
    assert(wm.contains(sqlTs("2024-01-01 10:00:00")))
    assert(Incremental.readSink(spark, sink).count() == 2L)
  }

  test("writeFiles stats equal the parquet footer min/max; an all-null " +
    "column gets no entry") {
    val root = Files.createTempDirectory("graft_stats5").toString + "/t"
    // four files (two dirs x two splits): n and ts range per file, and
    // `sparse` null everywhere in split 1
    val rows = spark.range(0, 400).toDF("id")
      .withColumn("n", (col("id") * 7) % 1000 - 300)
      .withColumn("ts", timestamp_micros(col("id") * 1000003L))
      .withColumn("sparse", when(col("id") % 2 === 0, col("id")))
      .withColumn("d", (col("id") % 2).cast("string"))
      .withColumn("s", (col("id") / 200).cast("int"))
    val written = ManifestTable.writeFiles(spark, root, Seq(ManifestTable.WriteSet(
      rows, Seq("id", "n", "ts", "sparse"), concat(lit("d="), col("d")),
      col("s"), None, Seq("n", "ts", "sparse"))))
    assert(written.size == 4 && written.map(_._2).sum == 400L)
    written.foreach { case (e, _) =>
      val file = s"${ManifestTable.dataDir(root)}/${e.path}"
      Seq("n", "ts", "sparse").foreach { c =>
        assert(e.stats.get(c) == footerRange(file, c), s"$c of ${e.path}")
      }
      assert(e.stats.contains("n") && e.stats.contains("ts"))
      // odd ids land in d=1, where `sparse` is all null
      assert(e.stats.contains("sparse") == e.path.startsWith("d=0/"))
    }
  }

  test("syncTick commits ts stats; sinkWatermark resolves from metadata alone") {
    val sink = Files.createTempDirectory("graft_stats3").toString + "/t"
    val batch = Seq(
      (1L, sqlTs("2024-01-01 10:00:00.123456"), "b1"),
      (2L, sqlTs("2024-01-02 11:30:00"), "b1"))
      .toDF("key", "ts", "batch")
    Incremental.syncTick(batch, sink, Seq("key"), Seq("batch"), "ts", "2 HOURS")

    val entries = ManifestTable.liveEntries(spark, sink)
    assert(entries.nonEmpty && entries.forall(_.stats.contains("ts")))
    // every file has stats → the watermark is metadata-only, micros-exact
    assert(Incremental.sinkWatermark(spark, sink, "ts").get ==
      sqlTs("2024-01-02 11:30:00"))
    // and a range read over one day plans only that day's file(s)
    val us = sqlTs("2024-01-01 00:00:00").getTime * 1000L
    val dayEnd = sqlTs("2024-01-01 23:59:59").getTime * 1000L
    val day1 = ManifestTable.readWhere(spark, sink, "ts", us, dayEnd)
    assert(day1.inputFiles.length < entries.size)
    assert(day1.select("key").as[Long].collect().toSeq == Seq(1L))
  }
}
