package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{CorpusStore, Dedup, ManifestTable}

/** The tick decides every document's fate on the driver from key sets
  * (md5s, band keys, candidate pairs) and lets Spark only compute batch
  * features, probe pruned store files and verify pairs. These specs pin
  * that the decisions equal the in-memory sequential fold and a plain
  * collections reference for every skew cap and threshold, and that the
  * tick stays a handful of jobs.
  */
@graft.tags.Slow
class CorpusStoreTickSpec extends SparkSpec {

  private val cols = Seq("doc_id", "lang", "source", "text")
  private val nWaves = 3

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Crafted cases, placed in waves by doc_id % 3:
    *   - shingle-less docs (< 3 tokens) and an exact copy of one;
    *   - within-batch exact copies (same wave) and a cross-wave copy;
    *   - the O–X–C chain (jaccard(O,X) = jaccard(X,C) ≈ 0.483, (O,C) = 0):
    *     linked at 0.45, not at 0.5;
    *   - a store near-dup: a base in wave 0, its one-token edit in wave 1;
    *   - a family of one-token edits of one text: three in wave 0, two in
    *     wave 1, one in wave 2, so its band buckets exceed cap 1 and cap 2
    *     in the first batch and then in the store, and cap 1 in the second
    *     batch.
    */
  private def crafted: Seq[(Long, String)] = {
    def words(tag: String, n: Int) = (0 until n).map(i => s"$tag$i")
    val base = words("base", 40)
    val fam = words("fam", 40)
    def edit(ws: Seq[String], at: Int, w: String) = ws.updated(at, w).mkString(" ")
    val w = (0 until 30).map(i => s"w${i}x36")
    val u = (0 until 30).map(i => s"u${i}x36")
    Seq(
      0L -> "tiny", 3L -> "tiny", 1L -> "two words",
      6L -> words("ex", 30).mkString(" "), 9L -> words("ex", 30).mkString(" "),
      4L -> words("ex", 30).mkString(" "),
      12L -> u.mkString(" "), 15L -> (w ++ u).mkString(" "),
      18L -> w.mkString(" "),
      21L -> base.mkString(" "), 22L -> edit(base, 20, "other"),
      24L -> edit(fam, 39, "f0"), 27L -> edit(fam, 39, "f1"),
      30L -> edit(fam, 39, "f5"),
      25L -> edit(fam, 39, "f2"), 28L -> edit(fam, 39, "f3"),
      29L -> edit(fam, 39, "f4"))
  }

  /** Seeded cases: random texts over a small vocabulary, with near copies
    * (one to three tokens replaced), exact copies and a few shingle-less
    * docs, ids from 1000 so they never collide with the crafted ones.
    */
  private def seeded: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(7)
    def word() = s"s${rnd.nextInt(400)}"
    val bases = (0 until 90).map(_ => Seq.fill(8 + rnd.nextInt(30))(word()))
    val near = (0 until 30).map { _ =>
      val b = bases(rnd.nextInt(bases.size))
      (0 until 1 + rnd.nextInt(3)).foldLeft(b)((t, _) =>
        t.updated(rnd.nextInt(t.size), word()))
    }
    val exact = (0 until 12).map(_ => bases(rnd.nextInt(bases.size)))
    val tiny = (0 until 4).map(_ => Seq.fill(1 + rnd.nextInt(2))(word()))
    (bases ++ near ++ exact ++ tiny).map(_.mkString(" "))
      .zip(rnd.shuffle((1000L until 1000L + 136L).toList))
      .map { case (t, id) => id -> t }
  }

  private def corpus: DataFrame = {
    import spark.implicits._
    (crafted ++ seeded).map { case (id, t) => (id, "en", "web", t) }
      .toDF(cols: _*)
  }

  /** First arrival per text in (wave, doc_id) order: what the tick's md5
    * and tombstone checks leave for the near-dup fold.
    */
  private def firstArrivals(docs: DataFrame): DataFrame =
    docs.withColumn("__rn", row_number().over(Window.partitionBy(md5(col("text")))
        .orderBy(col("doc_id") % nWaves, col("doc_id"))))
      .filter(col("__rn") === 1).drop("__rn")

  /** Keepers of the greedy wave fold, decided in plain Scala collections
    * from each document's shingle set and band values (computed by Spark),
    * independent of the kernel the tick and the fold share: per wave, a
    * doc drops when a store bucket it shares holds at most `cap` earlier
    * keepers and one of them reaches `threshold` in exact Jaccard; the
    * survivors link when they share a bucket of at most `cap` survivors
    * and reach `threshold`, and each linked component keeps its minimum id.
    */
  private def referenceFold(docs: DataFrame, cap: Int,
                            threshold: Double): Set[Long] = {
    val feats = Dedup.minhashSignatures(docs)
      .join(Dedup.shingleSignatures(docs).select("doc_id", "shingles"), "doc_id")
      .select(col("doc_id") +: col("shingles") +:
        (0 until Dedup.NumBands).map(b => col(s"band_$b")): _*)
      .collect().map { r =>
        val sh = Option(r.getSeq[String](1)).getOrElse(Seq.empty).toSet
        val keys = (0 until Dedup.NumBands)
          .flatMap(b => Option(r.getString(2 + b)).map(b -> _))
        r.getLong(0) -> (sh, keys)
      }.toMap
    def similar(a: Long, b: Long): Boolean = {
      val (sa, sb) = (feats(a)._1, feats(b)._1)
      val union = (sa ++ sb).size
      union > 0 && (sa & sb).size.toDouble / union >= threshold
    }
    def buckets(ids: Seq[Long]): Map[(Int, String), Seq[Long]] =
      ids.flatMap(id => feats(id)._2.map(_ -> id)).groupMap(_._1)(_._2)
    (0 until nWaves).foldLeft(Vector.empty[Long]) { (kept, w) =>
      val store = buckets(kept)
      val survivors = feats.keys.filter(_ % nWaves == w).toSeq.sorted
        .filterNot(id => feats(id)._2.exists(k =>
          store.get(k).exists(g => g.size <= cap && g.exists(similar(id, _)))))
      val links = buckets(survivors).values.filter(_.size <= cap).toSeq
        .flatMap(g => for (a <- g; b <- g if a != b && similar(a, b)) yield a -> b)
        .groupMap(_._1)(_._2)
      def component(id: Long): Set[Long] = Iterator
        .iterate((Set(id), Set(id))) { case (seen, frontier) =>
          val next = frontier.flatMap(links.getOrElse(_, Nil)) -- seen
          (seen ++ next, next)
        }.dropWhile(_._2.nonEmpty).next()._1
      kept ++ survivors.filter(id => component(id).min == id)
    }.toSet
  }

  test("keepers and tombstones after every wave equal the sequential fold " +
    "for cap 1, 2 and the default, at thresholds 0.45 and 0.5") {
    val docs = corpus.cache()
    val exact = firstArrivals(docs).cache()
    val exactMd5 = exact.select(col("text")).collect().map(r => md5Hex(r.getString(0))).toSet
    val keptBy = scala.collection.mutable.Map.empty[(Int, Double), Set[Long]]
    try {
      for (cap <- Seq(1, 2, Dedup.MaxBucketSize); threshold <- Seq(0.45, 0.5)) {
        val root = java.nio.file.Files.createTempDirectory("graft_tickeq").toString
        val reports = (0 until nWaves).map(i =>
          CorpusStore.tick(docs.filter(col("doc_id") % nWaves === i), root,
            tickId = Some(s"w$i"), minQuality = 0.0, threshold = threshold,
            cap = cap))
        val what = s"cap=$cap threshold=$threshold"
        val kept = CorpusStore.docs(spark, root).select("doc_id", "text")
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        val expected = Dedup.sequentialIngest(exact, nWaves, threshold, cap)
          .select("doc_id").collect().map(_.getLong(0)).toSet
        assert(kept.keySet == expected, s"$what: keepers diverged from the " +
          s"sequential fold: extra ${kept.keySet -- expected}, " +
          s"missing ${expected -- kept.keySet}")
        val reference = referenceFold(exact, cap, threshold)
        assert(expected == reference, s"$what: the sequential fold diverged " +
          s"from the collections reference: extra ${expected -- reference}, " +
          s"missing ${reference -- expected}")
        val dd = ManifestTable.dataDir(root)
        val tombs = spark.read
          .parquet(CorpusStore.kindFiles(spark, root, "tomb").map(f => s"$dd/$f"): _*)
          .select("text_md5").collect().map(_.getString(0)).toSeq
        assert(tombs.distinct.size == tombs.size, s"$what: duplicate tombstones")
        assert(tombs.toSet == exactMd5 -- kept.values.map(md5Hex),
          s"$what: tombstones are not the exact-new md5s minus the keepers")
        assert(reports.map(_.nExactNew).sum == exactMd5.size &&
          reports.map(_.nKept).sum == kept.size, s"$what: $reports")
        keptBy((cap, threshold)) = kept.keySet
      }
      // the fixture exercises what it claims: the cap and the chain's
      // threshold each change the outcome
      assert(keptBy((1, 0.5)) != keptBy((Dedup.MaxBucketSize, 0.5)) &&
        keptBy((2, 0.5)) != keptBy((1, 0.5)), "the skew cap never bit")
      assert(keptBy((Dedup.MaxBucketSize, 0.45))(12L) &&
        !keptBy((Dedup.MaxBucketSize, 0.45))(18L) &&
        keptBy((Dedup.MaxBucketSize, 0.5))(18L), "the O–X–C chain drifted")
    } finally {
      docs.unpersist()
      exact.unpersist()
      spark.catalog.clearCache()
    }
  }

  test("a creation tick runs at most 4 Spark jobs and a tick on a populated " +
    "store at most 12") {
    val root = java.nio.file.Files.createTempDirectory("graft_tickjobs").toString
    try {
      Seq("w0" -> 4, "w1" -> 12).zipWithIndex.foreach { case ((id, bound), wave) =>
        val batch = corpus.filter(col("doc_id") % nWaves === wave).cache()
        batch.count()
        val jobs = jobsOf(CorpusStore.tick(batch, root, tickId = Some(id),
          minQuality = 0.0))
        batch.unpersist()
        val byPhase = jobs.groupBy(_._2).map { case (d, js) => s"$d: ${js.size}" }
        assert(jobs.size <= bound,
          s"tick $id ran ${jobs.size} jobs (bound $bound): ${byPhase.mkString(", ")}")
      }
    } finally spark.catalog.clearCache()
  }
}
