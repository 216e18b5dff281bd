package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkException
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.operators.{CorpusStore, ManifestTable}
import graft.operators.CorpusStore.StoreLayout

/** The store writer every CorpusStore commit goes through
  * ([[ManifestTable.writeFiles]]): one job writes each bucket file and its
  * Bloom sidecar straight into `data/`, and only the commit makes them
  * visible. These specs pin what that must preserve — every live file has
  * a sidecar byte-equal to the filter its own rows define, the committed
  * rows equal the reported counts — and what it must not cost: one write
  * job per tick, after which the tick reads nothing it wrote, and one job
  * per forget locate read.
  */
@graft.tags.Slow
class CorpusStoreWriteSpec extends SparkSpec {

  // the shared test corpus every store spec ingests
  private def sf0001Docs = Tables.documents(spark, "/root/testdata/sf0.001")

  private val keyOf = Map("doc" -> "text_md5", "tomb" -> "text_md5",
    "band" -> "band_val")

  private def fsOf(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def kindFiles(root: String, kind: String): Seq[String] =
    ManifestTable.liveFiles(spark, root).filter(_.startsWith(s"p_kind=$kind/"))

  private def kindRows(root: String, kind: String): Long = {
    val dd = ManifestTable.dataDir(root)
    kindFiles(root, kind).map(f => spark.read.parquet(s"$dd/$f").count()).sum
  }

  private def bytesOf(bf: BloomFilter): Seq[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    bf.writeTo(out)
    out.toByteArray.toSeq
  }

  /** Every live file's sidecar equals, byte for byte, the filter rebuilt
    * from that file's own key column and row count — both from a Spark
    * read of the file and from the writer's task-local read-back path.
    */
  private def checkSidecars(root: String, stage: String): Unit = {
    val fs = fsOf(root)
    val dd = ManifestTable.dataDir(root)
    keyOf.foreach { case (kind, key) =>
      kindFiles(root, kind).foreach { f =>
        val side = new Path(s"$root/_blooms/$f.bloom")
        assert(fs.exists(side), s"$stage: $f has no sidecar")
        val in = fs.open(side)
        val onDisk = try in.readAllBytes().toSeq finally in.close()
        val file = spark.read.parquet(s"$dd/$f")
        // a string key hashes its UTF-8, a binary one (band) its raw bytes
        val keys = file.select(col(key)).collect().map(r => r.get(0) match {
          case b: Array[Byte] => b
          case s: String => s.getBytes("UTF-8")
        })
        val rebuilt = BloomFilter.create(math.max(keys.length.toLong, 16L), 0.01)
        keys.foreach(rebuilt.putBinary)
        assert(onDisk == bytesOf(rebuilt),
          s"$stage: sidecar of $f differs from its rebuilt filter")
        val readBack = BloomFilter.create(math.max(keys.length.toLong, 16L), 0.01)
        ManifestTable.readBackKeys(spark.sparkContext.hadoopConfiguration,
          new Path(s"$dd/$f"), key)(readBack.putBinary)
        assert(bytesOf(readBack) == onDisk,
          s"$stage: read-back filter of $f differs from its sidecar")
      }
    }
  }

  test("every commit path writes one sidecar per live file, byte-equal to " +
    "the filter of the file's own keys; committed rows equal the reports") {
    val docs = sf0001Docs
    val root = java.nio.file.Files.createTempDirectory("graft_write").toString
    try {
      def counts: Map[String, Long] =
        keyOf.keys.map(k => k -> kindRows(root, k)).toMap
      val r0 = CorpusStore.tick(docs.filter(col("doc_id") % 2 === 0), root,
        tickId = Some("w0"))
      checkSidecars(root, "create tick")
      val c0 = counts
      assert(r0.nKept > 0 && r0.nExactNew > r0.nKept,
        s"create tick must keep and tombstone something: $r0")
      assert(c0("doc") == r0.nKept &&
        c0("tomb") == r0.nExactNew - r0.nKept, s"create tick: $c0 vs $r0")

      val r1 = CorpusStore.tick(docs.filter(col("doc_id") % 2 === 1), root,
        tickId = Some("w1"))
      checkSidecars(root, "second tick")
      val c1 = counts
      assert(c1("doc") == c0("doc") + r1.nKept &&
        c1("tomb") == c0("tomb") + r1.nExactNew - r1.nKept,
        s"second tick: $c1 vs $c0 + $r1")

      val victims = CorpusStore.read(spark, root).orderBy("doc_id").limit(2)
        .select("doc_id", "text_md5").collect()
      val victimIds = victims.map(_.getLong(0)).toSeq
      val victimBands = CorpusStore.bands(spark, root)
        .filter(col("doc_id").isin(victimIds: _*)).count()
      val f = CorpusStore.forget(spark, root, victims.map(_.getString(1)).toSeq)
      checkSidecars(root, "forget")
      val c2 = counts
      assert(f.nPurgedDocs == 2L, s"forget: $f")
      assert(c2("doc") == c1("doc") - 2 &&
        c2("band") == c1("band") - victimBands &&
        c2("tomb") == c1("tomb") + f.nNewTombstones,
        s"forget: $c2 vs $c1, $victimBands victim band rows, $f")

      CorpusStore.compact(spark, root, targetBytes = 1L << 30)
      checkSidecars(root, "compact")
      assert(counts == c2, "compaction changed the committed rows")
      CorpusStore.compact(spark, root,
        rebucketTo = Some(StoreLayout(32, 32)))
      checkSidecars(root, "rebucket")
      assert(counts == c2, "rebucket changed the committed rows")
    } finally spark.catalog.clearCache()
  }

  test("a tick's write phase is exactly one job and the tick's last: no " +
    "job reads a file the tick just wrote; every job carries its phase") {
    val docs = sf0001Docs
    val root = java.nio.file.Files.createTempDirectory("graft_wjobs").toString
    val sc = spark.sparkContext
    try {
      Seq("w0" -> 0, "w1" -> 1).foreach { case (id, wave) =>
        val seen = jobsOf(CorpusStore.tick(
          docs.filter(col("doc_id") % 2 === wave), root, tickId = Some(id)))
        assert(seen.nonEmpty && seen.forall(j =>
          j._2 != null && j._2.startsWith(s"tick $id: ")),
          s"tick $id ran unlabelled jobs: $seen")
        val phases = seen.map(_._2.stripPrefix(s"tick $id: ")).distinct.toSet
        // the creation tick has no store to probe: no exact or near job;
        // later, the exact probe runs only if a Bloom-pruned doc or tomb
        // file may hold a batch md5
        val expected = Set("gate", "fold", "write") ++
          (if (wave == 0) Set.empty[String] else Set("near"))
        assert(phases - "exact" == expected && (wave == 1 || !phases("exact")),
          s"tick $id phases: $phases")
        val writes = seen.filter(_._2 == s"tick $id: write")
        assert(writes.size == 1, s"tick $id write phase ran ${writes.size} jobs")
        assert(seen.last == writes.head,
          s"tick $id ran jobs after its write job: $seen")
        assert(sc.getLocalProperty("spark.job.description") == null,
          "the tick did not restore the caller's job description")
      }
      // the housekeeping ops label every job they run by phase too
      val victims = CorpusStore.read(spark, root).orderBy("doc_id").limit(2)
        .select("text_md5").collect().map(_.getString(0)).toSeq
      Seq[(String, () => Any)](
        "forget" -> (() => CorpusStore.forget(spark, root, victims)),
        "compact" -> (() => CorpusStore.compact(spark, root,
          targetBytes = 1L << 30))).foreach { case (op, run) =>
        val seen = jobsOf(run())
        // Spark's own parallel file listing (more than 32 paths in one
        // read) keeps the description Spark gives it
        assert(seen.nonEmpty && seen.forall(j => j._2 != null &&
          (j._2.startsWith(s"$op: ") || j._2.startsWith("Listing leaf files"))),
          s"$op ran unlabelled jobs: $seen")
        assert(sc.getLocalProperty("spark.job.description") == null,
          s"$op did not restore the caller's job description")
        // forget's four locate reads (doc victims, tomb hits, victim band
        // keys, band victims) are one job each
        val locates = seen.count(_._2 == s"$op: locate")
        assert(op != "forget" || (locates > 0 && locates <= 4),
          s"forget: locate ran $locates jobs: $seen")
      }
    } finally spark.catalog.clearCache()
  }

  test("a writer run whose commit never happens changes neither read nor " +
    "the version; the deep vacuum removes exactly its files and sidecars; " +
    "a failed task deletes what it wrote") {
    val docs = sf0001Docs
    val root = java.nio.file.Files.createTempDirectory("graft_worphan").toString
    def tree(root: String): Set[String] = Seq("data", "_blooms").flatMap { d =>
      val fs = fsOf(root)
      val base = fs.makeQualified(new Path(s"$root/$d"))
      val out = scala.collection.mutable.ListBuffer.empty[String]
      if (fs.exists(base)) {
        val it = fs.listFiles(base, true)
        while (it.hasNext)
          out += s"$d/" + base.toUri.relativize(it.next().getPath.toUri).getPath
      }
      out
    }.toSet
    try {
      CorpusStore.tick(docs.filter(col("doc_id") % 2 === 0), root,
        tickId = Some("w0"))
      val v = ManifestTable.currentVersion(spark, root)
      def snapshot = CorpusStore.read(spark, root).orderBy("doc_id")
        .collect().toSeq
      val before = snapshot
      val treeBefore = tree(root)
      val rows = CorpusStore.read(spark, root)
      val written = ManifestTable.writeFiles(spark, root, Seq(
        ManifestTable.WriteSet(rows, rows.columns.toSeq,
          concat(lit("p_kind=doc/p_b="), pmod(col("doc_id"), lit(16))),
          lit(0), Some("text_md5")))).map(_._1.path)
      assert(written.nonEmpty)
      val orphans = written.flatMap(f => Seq(s"data/$f", s"_blooms/$f.bloom"))
      assert(tree(root) == treeBefore ++ orphans,
        "the writer must put each file and its sidecar in place, nothing else")
      assert(ManifestTable.currentVersion(spark, root) == v,
        "an uncommitted write moved the version")
      assert(snapshot == before, "an uncommitted write changed read")
      assert(ManifestTable.vacuum(spark, root, deep = true) == written.size)
      assert(tree(root) == treeBefore,
        "the deep vacuum must remove exactly the uncommitted files and sidecars")
    } finally spark.catalog.clearCache()

    // a task that fails mid-way deletes the files it already wrote: its
    // last group's directory is blocked by a regular file, so opening that
    // group's file fails after the task's earlier groups were written
    val plain = java.nio.file.Files.createTempDirectory("graft_wfail").toString
    val blocked = new Path(s"${ManifestTable.dataDir(plain)}/fail/g=zz")
    fsOf(plain).create(blocked).close()
    val dirs = (0 until 40).map(i => s"fail/g=$i") :+ "fail/g=zz/b"
    val parts = new org.apache.spark.HashPartitioner(spark.sparkContext.defaultParallelism)
    val failing = parts.getPartition((0, "fail/g=zz/b", 0))
    val sameTask = dirs.init.filter(d => parts.getPartition((0, d, 0)) == failing)
    assert(sameTask.nonEmpty, "the failing task must hold earlier groups")
    val input = spark.range(0, 41 * 5).toDF("k")
      .withColumn("d", element_at(array(dirs.map(lit): _*),
        (col("k") % 41 + 1).cast("int")))
    intercept[SparkException] {
      ManifestTable.writeFiles(spark, plain, Seq(
        ManifestTable.WriteSet(input, Seq("k"), col("d"), lit(0), Some("k"))))
    }
    // the aborted job's other tasks are killed asynchronously: let them
    // finish (and clean up) before looking at the tree
    val deadline = System.currentTimeMillis() + 20000
    while (spark.sparkContext.statusTracker.getExecutorInfos
        .map(_.numRunningTasks).sum > 0 && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    val left = tree(plain)
    sameTask.foreach { d =>
      assert(!left.exists(f => f.startsWith(s"data/$d/") ||
        f.startsWith(s"_blooms/$d/")),
        s"the failed task left files of its group $d behind: $left")
    }
    // what other tasks of the failed job wrote is a crash orphan
    ManifestTable.vacuum(spark, plain, deep = true)
    assert(!tree(plain).exists(_.endsWith(".parquet")),
      "the deep vacuum left files of the failed write")
  }
}
