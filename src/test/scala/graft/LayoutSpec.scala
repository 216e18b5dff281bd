package graft

import org.apache.spark.sql.functions._

import graft.operators.Layout

/** Compaction of a manifest sink: one atomic cutover, rows unchanged. */
class LayoutSpec extends SparkSpec {

  test("compactTable rewrites a manifest sink atomically, preserving snapshot") {
    import graft.operators.{Incremental, ManifestTable}
    import spark.implicits._
    val sink = java.nio.file.Files.createTempDirectory("graft_compact_mt").toString + "/t"
    // 4 append-only commits accrue 4 small files across two partitions
    (1 to 4).foreach { i =>
      val day = if (i <= 2) 1 else 2
      val added = ManifestTable.writeFiles(spark, sink, Seq(ManifestTable.WriteSet(
        Seq((i.toLong, sqlTs(s"2024-01-0$day 1$i:00:00"), i * 1.0, s"b$i"))
          .toDF("key", "ts", "value", "batch")
          .withColumn("p_date", to_date(col("ts"))),
        Seq("key", "ts", "value", "batch"),
        ManifestTable.partitionDir(Seq("p_date")), lit(0), None)))
      ManifestTable.commitReplace(spark, sink, Seq.empty, added.map(_._1.path))
    }
    assert(ManifestTable.liveFiles(spark, sink).size == 4)
    val rowsBefore = Incremental.readSink(spark, sink).orderBy("key")
      .select("key", "value").as[(Long, Double)].collect().toSeq
    val (before, after) = Layout.compactTable(spark, sink,
      targetBytes = 1L << 30, partitionCols = Seq("p_date"))
    assert(after < before)
    val rowsAfter = Incremental.readSink(spark, sink).orderBy("key")
      .select("key", "value").as[(Long, Double)].collect().toSeq
    assert(rowsAfter == rowsBefore)
    // version advanced exactly once; old files vacuumed
    assert(ManifestTable.liveFiles(spark, sink).size == after.toInt)
  }
}
