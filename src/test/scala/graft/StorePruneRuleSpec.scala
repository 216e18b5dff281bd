package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, md5}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.operators.CorpusStore
import graft.operators.CorpusStore.StoreLayout
import graft.plans.GraftExtensions

/** The optimizer half of the store's file index ([[graft.plans.StorePruneRule]]):
  * literal key predicates on a tagged snapshot scan shrink the planned file
  * list through the SAME two-level prune (bucket dirs + Bloom sidecars) the
  * tick machinery uses — with bit-identical results, because pruning only
  * removes files that provably hold no matching row.
  */
class StorePruneRuleSpec extends SparkSpec {

  // pinned to 16 buckets a kind: the prune assertions need more than one
  // bucket to prune between (the sizing rule gives this store 1/1)
  private lazy val root: String = {
    val r = java.nio.file.Files.createTempDirectory("graft_prune").toString
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    (0 until 2).foreach { i =>
      CorpusStore.tick(docs.filter(col("doc_id") % 2 === i), r,
        tickId = Some(s"w$i"), layoutIfNew = Some(StoreLayout(16, 16)))
    }
    GraftExtensions.install(spark)
    r
  }

  private def store: DataFrame = CorpusStore.read(spark, root)

  /** Files the OPTIMIZED plan's relation would scan (empty if the rule
    * replaced the scan with an empty relation).
    */
  private def scanFiles(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case r: LogicalRelation =>
        r.relation.asInstanceOf[HadoopFsRelation].location.inputFiles.toSeq
    }.flatten

  private def relNames(files: Seq[String]): Seq[String] =
    files.map(f => f.substring(f.lastIndexOf("p_kind=")))

  test("driver-side bucketForKey agrees with the distributed bucket exprs") {
    val lay = CorpusStore.layoutOf(spark, root)
    val md5s = store.select(col("text_md5")).limit(20).collect()
      .map(_.getString(0))
    val viaDf = store.limit(20)
      .select(col("text_md5"),
        CorpusStore.md5Bucket(col("text_md5"), lay).as("b"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    md5s.foreach { k =>
      assert(CorpusStore.bucketForKey("doc", lay, k) === viaDf(k),
        s"md5 bucket drifted for $k")
    }
    val bandViaDf = CorpusStore.bands(spark, root).limit(20)
      .select(col("band_id"), col("band_val"),
        CorpusStore.bandBucket(col("band_id"), col("band_val"), lay).as("b"))
      .collect()
    assert(bandViaDf.nonEmpty, "fixture store has no band postings")
    bandViaDf.foreach { r =>
      assert(CorpusStore.bandBucketForKey(r.getInt(0), r.getString(1), lay) ===
        r.getInt(2), s"band bucket drifted for (${r.getInt(0)}, ${r.getString(1)})")
    }
  }

  test("point lookup prunes to the key's bucket with identical results") {
    val all = store.collect()
    val k = all.map(_.getAs[String]("text_md5")).sorted.head
    val expected = all.filter(_.getAs[String]("text_md5") == k)
      .map(_.getAs[Long]("doc_id")).sorted.toSeq

    val q = store.filter(col("text_md5") === k).select(col("doc_id"))
    val full = relNames(scanFiles(store))
    val pruned = relNames(scanFiles(q))
    val bucket = CorpusStore.bucketForKey("doc",
      CorpusStore.layoutOf(spark, root), k)
    assert(pruned.nonEmpty && pruned.size < full.size,
      s"no pruning happened: ${pruned.size} of ${full.size} files")
    assert(pruned.forall(_.startsWith(s"p_kind=doc/p_b=$bucket/")),
      s"pruned scan left the key's bucket: $pruned")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq === expected)
  }

  test("a key the store never wrote prunes to at most its bucket's Bloom " +
    "false positives — normally an EMPTY relation") {
    val k = "f" * 32 // well-formed md5 hex, no document hashes to it
    val q = store.filter(col("text_md5") === k)
    val full = relNames(scanFiles(store))
    val files = relNames(scanFiles(q))
    val bucket = CorpusStore.bucketForKey("doc",
      CorpusStore.layoutOf(spark, root), k)
    // a Bloom false positive may legitimately keep a file of the key's
    // bucket (costs one spurious read, never correctness) — the hard
    // claims are containment, a real reduction, and zero result rows
    assert(files.forall(_.startsWith(s"p_kind=doc/p_b=$bucket/")),
      s"miss lookup kept files outside the key's bucket: $files")
    assert(files.size < full.size, "miss lookup did not prune")
    if (files.isEmpty)
      assert(q.queryExecution.optimizedPlan.collect {
        case l: LocalRelation => l }.nonEmpty,
        "fully-pruned lookup was not rewritten to an empty relation")
    assert(q.count() === 0L)
  }

  test("IN lists prune to the union of the keys' buckets; AND keeps the " +
    "prune, OR across columns and non-key filters void it") {
    val lay = CorpusStore.layoutOf(spark, root)
    val all = store.collect()
    val ks = all.map(_.getAs[String]("text_md5")).distinct.sorted.take(3)
    val buckets = ks.map(CorpusStore.bucketForKey("doc", lay, _)).toSet
    val full = relNames(scanFiles(store))

    val qIn = store.filter(col("text_md5").isin(ks: _*))
    val prunedIn = relNames(scanFiles(qIn))
    assert(prunedIn.forall(f =>
      buckets.exists(b => f.startsWith(s"p_kind=doc/p_b=$b/"))))
    assert(qIn.count() ===
      all.count(r => ks.contains(r.getAs[String]("text_md5"))))

    val qAnd = store.filter(col("text_md5") === ks.head &&
      col("lang") =!= "zz")
    assert(relNames(scanFiles(qAnd)).size < full.size,
      "AND with an extra predicate lost the prune")
    assert(qAnd.count() === all.count(r =>
      r.getAs[String]("text_md5") == ks.head && r.getAs[String]("lang") != "zz"))

    val qOr = store.filter(col("text_md5") === ks.head || col("lang") === "en")
    assert(relNames(scanFiles(qOr)).size === full.size,
      "OR across columns must not prune")
    val qLang = store.filter(col("lang") === "en")
    assert(relNames(scanFiles(qLang)).size === full.size,
      "non-key filters must not prune")
  }

  test("SQL over a registered view goes through the same prune") {
    store.createOrReplaceTempView("store_docs")
    val k = store.select(col("text_md5")).orderBy("text_md5").limit(1)
      .collect()(0).getString(0)
    val q = spark.sql(
      s"SELECT doc_id FROM store_docs WHERE text_md5 = '$k'")
    val full = relNames(scanFiles(store))
    val pruned = relNames(scanFiles(q))
    assert(pruned.nonEmpty && pruned.size < full.size,
      "SQL path did not prune")
    assert(q.count() > 0L)
  }

  test("a pruned plan keeps reading its own snapshot after the store moves") {
    val all = store.collect()
    val k = all.map(_.getAs[String]("text_md5")).sorted.last
    val q = store.filter(col("text_md5") === k).select(col("doc_id"))
    val before = q.collect().map(_.getLong(0)).sorted.toSeq
    // the store moves on: a new tick with a fresh synthetic doc
    import spark.implicits._
    val extra = Seq((900001L, "en", "web",
      "a sufficiently long and unique synthetic document " * 8 +
        "with plenty of distinct tokens to pass the quality gate"))
      .toDF("doc_id", "lang", "source", "text")
    CorpusStore.tick(extra, root, tickId = Some("w-extra"))
    assert(q.collect().map(_.getLong(0)).sorted.toSeq === before,
      "a planned query changed results when the store ticked")
    // a FRESH read sees the new snapshot
    assert(CorpusStore.read(spark, root)
      .filter(col("doc_id") === 900001L).count() === 1L)
  }

  test("a read tags its scan with its own files' layout: a rebucket " +
    "committed while the read resolves its snapshot loses no lookup row") {
    // the store is opened through a scheme that counts version lookups
    // (`_manifests` listings) and can commit between two of them
    spark.sparkContext.hadoopConfiguration
      .set("fs.listhook.impl", classOf[ListHookFs].getName)
    GraftExtensions.install(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_prune_mixed")
      .toString
    val r = s"listhook:$dir"
    import spark.implicits._
    val docs = (0 until 40).map { i =>
      (i.toLong, "en", "web", s"mixed snapshot doc $i " +
        (0 until 30).map(j => s"m${i}_$j").mkString(" "))
    }.toDF("doc_id", "lang", "source", "text")
    CorpusStore.tick(docs, r, tickId = Some("m0"), minQuality = 0.0,
      layoutIfNew = Some(StoreLayout(1, 1)))
    // a key the rebucket moves out of bucket 0, where every file of the
    // 1-bucket snapshot sits
    val wider = StoreLayout(4, 4)
    val (k, id) = CorpusStore.read(spark, r).select("text_md5", "doc_id")
      .collect().map(row => (row.getString(0), row.getLong(1))).sorted
      .find { case (m, _) => CorpusStore.bucketForKey("doc", wider, m) != 0 }
      .get
    // the rebucket commits just before the read's fourth version lookup,
    // where a read that looks the layout up apart from its file list
    // would make it; a read with fewer lookups sees the store move after
    // its frame is built instead. The rebucket opens the store by its
    // plain path: its deep vacuum's recursive listing needs the `file:`
    // scheme
    ListHookFs.before(4)(
      CorpusStore.compact(spark, dir, rebucketTo = Some(wider)))
    val listedBefore = ListHookFs.manifestListings.get
    val frame = CorpusStore.read(spark, r)
    val listings = ListHookFs.manifestListings.get - listedBefore
    ListHookFs.runPending()
    assert(CorpusStore.layoutOf(spark, r) == wider, "the rebucket did not land")
    assert(frame.filter(col("text_md5") === k).select(col("doc_id"))
      .collect().map(_.getLong(0)).toSeq === Seq(id),
      "the lookup lost a row its snapshot's files hold")
    assert(listings === 1, s"one read looked the version up $listings times")
  }

  test("band compound lookup: band_id AND band_val literals prune to the " +
    "compound bucket with identical results; band_val alone does not prune") {
    val lay = CorpusStore.layoutOf(spark, root)
    val bands = CorpusStore.bands(spark, root)
    val all = bands.collect()
    assert(all.nonEmpty, "fixture store has no band postings")
    // pick a band value that at least two docs share when one exists (the
    // investigative query's real shape), else any present pair
    val byKey = all.groupBy(r =>
      (r.getAs[Int]("band_id"), r.getAs[String]("band_val")))
    val (bid, bval) = byKey.maxBy(_._2.length)._1
    val expected = byKey((bid, bval)).map(_.getAs[Long]("doc_id")).sorted.toSeq

    val q = bands.filter(col("band_id") === bid && col("band_val") === bval)
      .select(col("doc_id"))
    val full = relNames(scanFiles(bands))
    val pruned = relNames(scanFiles(q))
    val bucket = CorpusStore.bandBucketForKey(bid, bval, lay)
    assert(pruned.nonEmpty && pruned.size < full.size,
      s"band lookup did not prune: ${pruned.size} of ${full.size} files")
    assert(pruned.forall(_.startsWith(s"p_kind=band/p_b=$bucket/")),
      s"band prune left the compound bucket: $pruned")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq === expected,
      "pruned band lookup diverged from the full scan")

    // half a compound key resolves no bucket: band_val alone must not
    // prune (and an IN pair on both columns must)
    val qVal = bands.filter(col("band_val") === bval)
    assert(relNames(scanFiles(qVal)).size === full.size,
      "band_val-only filter must not prune")
    val (bid2, bval2) = byKey.keys.toSeq.sortBy(_.toString())
      .find(_ != (bid, bval)).getOrElse((bid, bval))
    val qIn = bands.filter(col("band_id").isin(bid, bid2) &&
      col("band_val").isin(bval, bval2)).select(col("doc_id"))
    val prunedIn = relNames(scanFiles(qIn)).toSet
    val buckets = Set(bucket,
      CorpusStore.bandBucketForKey(bid, bval2, lay),
      CorpusStore.bandBucketForKey(bid2, bval, lay),
      CorpusStore.bandBucketForKey(bid2, bval2, lay))
    assert(prunedIn.nonEmpty && prunedIn.size < full.size,
      "IN-pair band lookup did not prune")
    assert(prunedIn.forall(f =>
      buckets.exists(b => f.startsWith(s"p_kind=band/p_b=$b/"))),
      "IN-pair prune left the cross product's buckets")
    val expectedIn = all.filter { r =>
      Set(bid, bid2).contains(r.getAs[Int]("band_id")) &&
        Set(bval, bval2).contains(r.getAs[String]("band_val"))
    }.map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(qIn.collect().map(_.getLong(0)).sorted.toSeq === expectedIn)
  }

  /** Store-side file names of the optimized plan (the probe's own parquet
    * relation filtered out).
    */
  private def storeScanFiles(df: DataFrame): Seq[String] =
    relNames(scanFiles(df).filter(_.contains("p_kind=")))

  test("filter-by-JOIN prunes: a semi-join against a small keys FRAME " +
    "(not literals) shrinks the scan with zero collect in user code") {
    val lay = CorpusStore.layoutOf(spark, root)
    val all = store.collect()
    // expectation bookkeeping only — the QUERY UNDER TEST collects nothing
    val ks = all.map(_.getAs[String]("text_md5")).distinct.sorted.take(2)
    val buckets = ks.map(CorpusStore.bucketForKey("doc", lay, _)).toSet
    val pdir = java.nio.file.Files
      .createTempDirectory("graft_prune_probe").toString
    import spark.implicits._
    ks.toSeq.toDF("text_md5").write.mode("overwrite").parquet(pdir)
    val probe = spark.read.parquet(pdir)
    val full = relNames(scanFiles(store))

    val qSemi = store.join(probe, Seq("text_md5"), "left_semi")
      .select(col("doc_id"))
    val prunedSemi = storeScanFiles(qSemi)
    assert(prunedSemi.nonEmpty && prunedSemi.size < full.size,
      s"semi-join did not prune: ${prunedSemi.size} of ${full.size} files")
    assert(prunedSemi.forall(f =>
      buckets.exists(b => f.startsWith(s"p_kind=doc/p_b=$b/"))),
      s"semi-join prune left the probe keys' buckets: $prunedSemi")
    val expected = all.filter(r => ks.contains(r.getAs[String]("text_md5")))
      .map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(qSemi.collect().map(_.getLong(0)).sorted.toSeq === expected,
      "pruned semi-join diverged from the full scan")

    // inner join: same prune, and the probe's columns still come through
    val qInner = store.join(probe, Seq("text_md5")).select(col("doc_id"))
    val prunedInner = storeScanFiles(qInner)
    assert(prunedInner.nonEmpty && prunedInner.size < full.size,
      "inner join did not prune")
    assert(qInner.collect().map(_.getLong(0)).sorted.toSeq === expected)

    // an EMPTY probe prunes the scan to an empty relation (no file reads)
    val emptyDir = java.nio.file.Files
      .createTempDirectory("graft_prune_empty").toString
    ks.toSeq.toDF("text_md5").limit(0).write.mode("overwrite").parquet(emptyDir)
    val qEmpty = store.join(spark.read.parquet(emptyDir),
      Seq("text_md5"), "left_semi")
    assert(qEmpty.count() === 0L)
    assert(storeScanFiles(qEmpty).isEmpty,
      "an empty probe should leave no store files in the plan")

    // a probe estimated OVER the broadcast bar must not trigger
    // planner-time evaluation: join the store against itself (stats =
    // full store size, far over a 1-byte threshold)
    val was = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
      val qBig = store.join(store.select(col("text_md5")),
        Seq("text_md5"), "left_semi")
      assert(storeScanFiles(qBig).size >= full.size,
        "an over-threshold probe must not prune (planner would execute " +
          "an arbitrarily large subquery)")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", was)
  }

  test("join prune is voided by a non-transparent path (limit between scan " +
    "and join) and by a nondeterministic probe") {
    val all = store.collect()
    val ks = all.map(_.getAs[String]("text_md5")).distinct.sorted.take(2)
    val pdir = java.nio.file.Files
      .createTempDirectory("graft_prune_guard").toString
    import spark.implicits._
    ks.toSeq.toDF("text_md5").write.mode("overwrite").parquet(pdir)
    val probe = spark.read.parquet(pdir)
    val full = relNames(scanFiles(store))

    // a LIMIT between the tagged scan and the join picks DIFFERENT rows
    // once files are dropped — the rule must leave the file list alone
    val qLimited = store.limit(5).join(probe, Seq("text_md5"), "left_semi")
    assert(storeScanFiles(qLimited).size === full.size,
      "a limit between the scan and the join must void the prune")

    // a nondeterministic probe evaluates to different keys at plan time
    // vs runtime — the rule must not collect it (rand >= 0.5: a provably-
    // true bound like rand() >= 0.0 would be folded away by the optimizer
    // before the rule ever sees it)
    val ndProbe = probe.filter(org.apache.spark.sql.functions.rand(42) >= 0.5)
    val qNd = store.join(ndProbe, Seq("text_md5"), "left_semi")
    assert(storeScanFiles(qNd).size === full.size,
      "a nondeterministic probe must void the prune")

    // the transparent shapes still prune: Project/Filter between scan and
    // join keep the rewrite live
    val qOk = store.select(col("text_md5"), col("doc_id"))
      .filter(col("doc_id") >= 0L)
      .join(probe, Seq("text_md5"), "left_semi")
    assert(storeScanFiles(qOk).size < full.size,
      "Project/Filter between the scan and the join should keep the prune")
  }
}
