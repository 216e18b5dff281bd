package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.operators.{Incremental, ManifestTable}

/** Watermark resume + trailing-overlap re-read + LWW upsert (SURVEY §3.2):
  * two ticks with overlapping, revised rows must converge to last-write-wins
  * of the union; replaying a tick is a no-op. The sink is a ManifestTable —
  * a crash at ANY point before the manifest rename must lose nothing.
  */
class IncrementalSpec extends SparkSpec {
  import spark.implicits._

  private def rows(data: (Long, String, Double, String)*) =
    data.map { case (id, ts, v, b) => (id, sqlTs(ts), v, b) }
      .toDF("key", "ts", "value", "batch")

  // a distributed source (not a driver-local relation) whose every row
  // evaluation bumps `evals` — the stand-in for a paged API refetch
  private lazy val evals = spark.sparkContext.longAccumulator("source_row_evals")
  private def counted(data: (Long, String, Double, String)*) = {
    val acc = evals // a local, so the closure does not capture the suite
    val bump = udf((k: Long) => { acc.add(1L); k }).asNondeterministic()
    spark.sparkContext.parallelize(
      data.map { case (id, ts, v, b) => (id, sqlTs(ts), v, b) }, 2)
      .toDF("key", "ts", "value", "batch")
      .withColumn("key", bump(col("key")))
  }

  test("two overlapping ticks converge to last-write-wins; replay is idempotent") {
    val sink = Files.createTempDirectory("graft_sink").toString + "/t"
    val batch1 = rows(
      (1L, "2024-01-01 10:00:00", 100.0, "b1"),
      (2L, "2024-01-01 11:00:00", 200.0, "b1"),
      (3L, "2024-01-02 09:00:00", 300.0, "b1"))
    Incremental.syncTick(batch1, sink, Seq("key"), Seq("batch"), "ts", "2 HOURS")

    // batch2 revises key 3 (inside the 2h overlap of max ts) and adds key 4
    val batch2 = rows(
      (3L, "2024-01-02 09:00:00", 333.0, "b2"),
      (4L, "2024-01-02 10:00:00", 400.0, "b2"))
    val stats2 = Incremental.syncTick(batch2, sink, Seq("key"), Seq("batch"), "ts", "2 HOURS")
    assert(stats2.inserted == 1L && stats2.updated == 1L) // key 4 new, key 3 revised

    val after2 = Incremental.readSink(spark, sink)
      .select("key", "value", "batch").orderBy("key")
      .as[(Long, Double, String)].collect().toSeq
    assert(after2 == Seq((1L, 100.0, "b1"), (2L, 200.0, "b1"),
      (3L, 333.0, "b2"), (4L, 400.0, "b2")))

    // replay batch2 → unchanged
    Incremental.syncTick(batch2, sink, Seq("key"), Seq("batch"), "ts", "2 HOURS")
    val after3 = Incremental.readSink(spark, sink)
      .select("key", "value", "batch").orderBy("key")
      .as[(Long, Double, String)].collect().toSeq
    assert(after3 == after2)

    // watermark reflects max ts
    assert(Incremental.sinkWatermark(spark, sink, "ts").get ==
      sqlTs("2024-01-02 10:00:00"))
    // untouched partition (2024-01-01) was not rewritten away
    assert(Incremental.readSink(spark, sink)
      .filter(col("key") === 1L).count() == 1L)
  }

  test("first tick dedups in-batch key duplicates (LWW applies from tick one)") {
    val sink = java.nio.file.Files.createTempDirectory("graft_sink2").toString + "/t"
    val batch = rows(
      (1L, "2024-01-01 10:00:00", 100.0, "a"),
      (1L, "2024-01-01 10:00:00", 200.0, "b"))
    val stats = Incremental.syncTick(batch, sink, Seq("key"), Seq("batch"), "ts", "2 HOURS")
    assert(stats.written == 1L)
    val row = Incremental.readSink(spark, sink).collect()
    assert(row.length == 1 && row.head.getAs[String]("batch") == "b")
  }

  test("a revision that moves a key across the date boundary kills the stale copy") {
    val sink = java.nio.file.Files.createTempDirectory("graft_sink3").toString + "/t"
    Incremental.syncTick(
      rows((5L, "2024-01-01 23:50:00", 100.0, "a")),
      sink, Seq("key"), Seq("batch"), "ts", "2 HOURS")
    // revised ts lands on 2024-01-02 but the old copy lives in 2024-01-01
    val stats = Incremental.syncTick(
      rows((5L, "2024-01-02 00:10:00", 200.0, "b")),
      sink, Seq("key"), Seq("batch"), "ts", "2 HOURS")
    // the moved key is found by the whole-sink probe: a revision, not a new key
    assert(stats.updated == 1L && stats.inserted == 0L && stats.written == 1L)
    val out = Incremental.readSink(spark, sink).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Double]("value") == 200.0)
  }

  test("each upsert evaluates its source once and leaves nothing cached") {
    val sink = Files.createTempDirectory("graft_once").toString + "/t"
    Incremental.syncTick(
      rows((1L, "2024-01-01 10:00:00", 100.0, "a"),
        (2L, "2024-01-02 10:00:00", 200.0, "a")),
      sink, Seq("key"), Seq("batch"), "ts", "2 HOURS")
    evals.reset()
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet

    // revises key 2, adds key 3; the first row falls behind the overlap
    val tick = Incremental.syncTick(
      counted((1L, "2024-01-01 10:00:00", 111.0, "b"),
        (2L, "2024-01-02 10:00:00", 222.0, "b"),
        (3L, "2024-01-02 11:00:00", 300.0, "b")),
      sink, Seq("key"), Seq("batch"), "ts", "2 HOURS")
    assert(evals.value == 3L, s"tick source rows evaluated ${evals.value} times")
    assert(tick.inserted == 1L && tick.updated == 1L)
    assert(spark.sparkContext.getPersistentRDDs.keySet == cachedBefore)

    evals.reset()
    val repair = Incremental.backfill(
      counted((1L, "2024-01-01 10:00:00", 111.0, "c"),
        (4L, "2024-01-01 12:00:00", 400.0, "c")),
      sink, Seq("key"), Seq("batch"), "ts")
    assert(evals.value == 2L, s"backfill source rows evaluated ${evals.value} times")
    assert(repair.inserted == 1L && repair.updated == 1L)
    assert(spark.sparkContext.getPersistentRDDs.keySet == cachedBefore)

    val out = Incremental.readSink(spark, sink)
      .select("key", "value").orderBy("key").as[(Long, Double)].collect().toSeq
    assert(out == Seq((1L, 111.0), (2L, 222.0), (3L, 300.0), (4L, 400.0)))
  }

  test("a tick on a ts-keyed sink never opens an untouched partition") {
    val sink = Files.createTempDirectory("graft_touched").toString + "/t"
    val key = Seq("key", "ts") // the date is part of the key: no key can move
    Incremental.syncTick(
      rows((1L, "2024-01-01 10:00:00", 100.0, "a"),
        (2L, "2024-01-02 10:00:00", 200.0, "a")),
      sink, key, Seq("batch"), "ts", "2 HOURS")
    val v1 = ManifestTable.currentVersion(spark, sink).get

    // take the untouched day's data away for the duration of the tick: any
    // read of it (a full-sink scan or semi-join) fails the tick
    val data = java.nio.file.Paths.get(ManifestTable.dataDir(sink))
    val untouched = ManifestTable.liveFiles(spark, sink)
      .filter(_.startsWith("p_date=2024-01-01/"))
    assert(untouched.size == 1)
    val aside = Files.createTempDirectory("graft_aside").resolve("f.parquet")
    Files.move(data.resolve(untouched.head), aside)
    val stats =
      try Incremental.syncTick(
        rows((2L, "2024-01-02 10:00:00", 222.0, "b"),
          (3L, "2024-01-02 11:00:00", 300.0, "b")),
        sink, key, Seq("batch"), "ts", "2 HOURS")
      finally Files.move(aside, data.resolve(untouched.head))

    assert(ManifestTable.currentVersion(spark, sink).get == v1 + 1)
    assert(stats == Incremental.SyncStats(2L, 1L, 1L))
    val out = Incremental.readSink(spark, sink)
      .select("key", "value", "batch").orderBy("key")
      .as[(Long, Double, String)].collect().toSeq
    assert(out == Seq((1L, 100.0, "a"), (2L, 222.0, "b"), (3L, 300.0, "b")))
  }

  test("an empty batch neither stages nor commits") {
    val sink = Files.createTempDirectory("graft_empty").toString + "/t"
    Incremental.syncTick(
      rows((1L, "2024-01-01 10:00:00", 100.0, "a")),
      sink, Seq("key"), Seq("batch"), "ts", "2 HOURS")
    val v1 = ManifestTable.currentVersion(spark, sink)
    val root = java.nio.file.Paths.get(sink)
    def tree(): Set[String] = {
      val walk = Files.walk(root)
      try walk.iterator().asScala.map(p => root.relativize(p).toString).toSet
      finally walk.close()
    }
    val before = tree()

    // a gap refetch that came back empty, and a tick whose one row falls
    // behind the watermark's overlap (evaluated once, then filtered away)
    assert(Incremental.backfill(counted(), sink, Seq("key"), Seq("batch"), "ts") ==
      Incremental.SyncStats(0L, 0L, 0L))
    evals.reset()
    assert(Incremental.syncTick(
      counted((1L, "2023-12-31 10:00:00", 999.0, "z")),
      sink, Seq("key"), Seq("batch"), "ts", "2 HOURS") ==
      Incremental.SyncStats(0L, 0L, 0L))
    assert(evals.value == 1L, s"stale tick source evaluated ${evals.value} times")

    assert(ManifestTable.currentVersion(spark, sink) == v1)
    assert(tree() == before) // no manifest, no data file, no _staging/ entry
    assert(!before.exists(_.startsWith("_staging/")))
  }

  test("a writer killed anywhere before the manifest rename loses nothing") {
    val sink = java.nio.file.Files.createTempDirectory("graft_sink4").toString + "/t"
    Incremental.syncTick(
      rows((1L, "2024-01-01 10:00:00", 100.0, "a"),
        (2L, "2024-01-02 10:00:00", 200.0, "a")),
      sink, Seq("key"), Seq("batch"), "ts", "2 HOURS")
    val v1 = ManifestTable.currentVersion(spark, sink).get
    val snapshot1 = Incremental.readSink(spark, sink)
      .select("key", "value").orderBy("key")
      .as[(Long, Double)].collect().toSeq

    // simulate a tick that dies AFTER staging + publishing its files but
    // BEFORE the atomic manifest rename (the widest crash window): in the
    // old delete-then-rename scheme this is exactly where partitions were
    // already deleted. Here the published files must stay invisible.
    val staging = s"$sink/_staging/crashed-tick"
    rows((2L, "2024-01-02 10:00:00", 999.0, "b"))
      .withColumn("p_date", to_date(col("ts")))
      .write.partitionBy("p_date").parquet(staging)
    ManifestTable.publishFiles(spark, sink, staging) // ... and then it dies

    assert(ManifestTable.currentVersion(spark, sink).get == v1)
    val snapshotAfterCrash = Incremental.readSink(spark, sink)
      .select("key", "value").orderBy("key")
      .as[(Long, Double)].collect().toSeq
    assert(snapshotAfterCrash == snapshot1) // nothing lost, nothing leaked

    // recovery is just housekeeping: vacuum drops the orphans, and the
    // retried tick commits normally on top of the intact snapshot
    assert(ManifestTable.vacuum(spark, sink) >= 1L)
    Incremental.syncTick(
      rows((2L, "2024-01-02 10:00:00", 999.0, "b")),
      sink, Seq("key"), Seq("batch"), "ts", "2 HOURS")
    val recovered = Incremental.readSink(spark, sink)
      .select("key", "value").orderBy("key")
      .as[(Long, Double)].collect().toSeq
    assert(recovered == Seq((1L, 100.0), (2L, 999.0)))
  }

  test("a reader pinned to snapshot N survives a concurrent commit + vacuum of N+1") {
    val sink = java.nio.file.Files.createTempDirectory("graft_sink5").toString + "/t"
    Incremental.syncTick(
      rows((1L, "2024-01-01 10:00:00", 100.0, "a")),
      sink, Seq("key"), Seq("batch"), "ts", "2 HOURS")
    // the reader plans its scan now — the DataFrame's file list is pinned
    // to the current manifest version
    val pinned = Incremental.readSink(spark, sink)
    // a writer revises key 1 (its old file is replaced in the new snapshot)
    // and vacuums immediately, as every syncTick does
    Incremental.syncTick(
      rows((1L, "2024-01-01 11:00:00", 111.0, "b")),
      sink, Seq("key"), Seq("batch"), "ts", "2 HOURS")
    // retention keeps the previous snapshot's files: the pinned scan still
    // completes and sees exactly the old version's rows
    val seen = pinned.select("key", "value").as[(Long, Double)].collect().toSeq
    assert(seen == Seq((1L, 100.0)))

    // ...but history is bounded: after enough further commits the old
    // manifest ages out and its exclusively-referenced files are reclaimed
    Incremental.syncTick(
      rows((1L, "2024-01-01 12:00:00", 222.0, "c")),
      sink, Seq("key"), Seq("batch"), "ts", "2 HOURS")
    val versionsLeft = graft.operators.ManifestTable.versions(spark, sink)
    assert(versionsLeft.size <= graft.operators.ManifestTable.RetainSnapshots)
    intercept[Exception] { pinned.select("key", "value").collect() }
  }

  test("two-tier vacuum: the cheap tier reclaims aged-out files (and " +
    "their bloom sidecars) by manifest arithmetic alone; crash orphans " +
    "wait for the deep sweep") {
    import org.apache.spark.sql.SaveMode
    val root = java.nio.file.Files.createTempDirectory("graft_vac").toString
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def commitFresh(tag: Long): Seq[String] = {
      val staging = s"$root/_staging/${java.util.UUID.randomUUID()}"
      spark.range(tag, tag + 10).toDF("k")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(staging)
      val added = ManifestTable.publishFiles(spark, root, staging)
      ManifestTable.writeFileBlooms(spark, root, added, "k")
      // empty prefix: each commit REPLACES the whole previous snapshot,
      // so version N's files are referenced by version N alone
      ManifestTable.commitReplace(spark, root, Seq(""), added)
      added
    }
    def onDisk(rel: String): Boolean =
      fs.exists(new org.apache.hadoop.fs.Path(
        s"${ManifestTable.dataDir(root)}/$rel"))

    val v1Files = commitFresh(0L)
    // a crash orphan: published (sidecar and all) but never committed
    val orphanStaging = s"$root/_staging/${java.util.UUID.randomUUID()}"
    spark.range(100L, 110L).toDF("k")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(orphanStaging)
    val orphan = ManifestTable.publishFiles(spark, root, orphanStaging)

    commitFresh(10L)
    val v3Files = commitFresh(20L)

    // cheap tier (no listing): v1 aged out (retain 2 of 3) → its files
    // and sidecars go; the never-committed orphan is untouched
    val removed = ManifestTable.vacuum(spark, root, deep = false)
    assert(removed >= v1Files.size,
      s"cheap vacuum reclaimed $removed < ${v1Files.size} aged-out files")
    assert(v1Files.forall(f => !onDisk(f)), "aged-out data files survived")
    assert(v1Files.forall(f => ManifestTable.readBloom(spark, root, f).isEmpty),
      "aged-out files' bloom sidecars survived the cheap tier")
    assert(orphan.forall(onDisk),
      "cheap vacuum touched a crash orphan — it must not list data/")
    assert(v3Files.forall(onDisk), "live files lost")

    // deep sweep: the orphan goes too; the live snapshot is untouched
    assert(ManifestTable.vacuum(spark, root, deep = true) >= orphan.size)
    assert(orphan.forall(f => !onDisk(f)), "deep vacuum left the orphan")
    assert(v3Files.forall(onDisk), "deep vacuum ate live files")
    assert(ManifestTable.read(spark, root).count() == 10L)
  }
}
