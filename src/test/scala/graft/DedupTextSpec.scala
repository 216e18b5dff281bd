package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Shingles, TextOps}

/** Dedup + text-analysis semantics on hand-built documents. */
class DedupTextSpec extends SparkSpec {
  import spark.implicits._

  private def docs(texts: (Long, String)*) =
    texts.map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("exactDedup keeps min doc_id per identical text") {
    val d = docs((5L, "a b c"), (2L, "a b c"), (9L, "x y z"))
    val r = Dedup.exactDedup(d).orderBy("keep_id").collect()
    assert(r.map(x => (x.getAs[Long]("keep_id"), x.getAs[Long]("n_dups"))).toSeq
      == Seq((2L, 2L), (9L, 1L)))
  }

  test("shingles: k=3 over tokens; fewer than k tokens → empty") {
    val sh = Seq("a b c d", "a b").toDF("text")
      .select(Shingles.shingles(TextOps.tokens(col("text")), 3).as("s"))
      .as[Seq[String]].collect()
    assert(sh(0) == Seq("a b c", "b c d"))
    assert(sh(1) == Seq.empty)
  }

  test("minhash LSH finds a true near-duplicate pair") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 20) "CHANGED" else s"w$i").mkString(" ")
    val other = (100 to 140).map(i => s"v$i").mkString(" ")
    val pairs = Dedup.minhashLshPairs(docs((1L, base), (2L, nearDup), (3L, other)))
      .collect()
    assert(pairs.length == 1)
    assert(pairs.head.getAs[Long]("doc_a") == 1L)
    assert(pairs.head.getAs[Long]("doc_b") == 2L)
    assert(pairs.head.getAs[Double]("jaccard") > 0.8)
  }

  test("identical docs get identical minhash signatures and simhash bits") {
    val d = docs((1L, "alpha beta gamma delta epsilon"), (2L, "alpha beta gamma delta epsilon"),
      (3L, "zeta eta theta iota kappa"))
    val sigs = Dedup.minhashSignatures(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> (0 until Dedup.NumHashes).map(j => r.getAs[String](s"sig_$j")))
      .toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
    val sh = Dedup.simhash(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("simhash_bits")).toMap
    assert(sh(1L) == sh(2L))
    assert(sh(1L).length == 64)
    assert(sh(1L).forall(c => c == '0' || c == '1'))
  }

  test("simhashPairs pigeonhole banding: pair differing only in the first 16 bits is found") {
    val base = "1" * 64
    // 3 flips, all inside bits 1-16 — a single 16-bit-prefix block would
    // never co-bucket these; blocks 3..8 still agree → candidate by pigeonhole
    val nearPrefix = "0" + "1" * 3 + "0" + "1" * 5 + "0" + "1" * 53
    // 20 flips spread everywhere, but sharing block 8 (bits 57-64) — a
    // candidate that must be rejected by the exact Hamming verify
    val farShared = ("10" * 20) + "1" * 16 + "1" * 8
    val sigs = Seq((1L, base), (2L, nearPrefix), (3L, farShared))
      .toDF("doc_id", "simhash_bits")
    val pairs = Dedup.simhashPairsFromSigs(sigs).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Long]("hamming")))
    assert(pairs.toSeq == Seq((1L, 2L, 3L)))
  }

  test("ngramJaccardPairs banded candidates find a near-dup; bucket cap bounds degenerate bands") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 20) "CHANGED" else s"w$i").mkString(" ")
    val other = (100 to 140).map(i => s"v$i").mkString(" ")
    val pairs = Dedup.ngramJaccardPairs(docs((1L, base), (2L, nearDup), (3L, other)))
      .collect()
    assert(pairs.length == 1)
    assert(pairs.head.getAs[Long]("doc_a") == 1L && pairs.head.getAs[Long]("doc_b") == 2L)
    assert(pairs.head.getAs[Double]("jaccard") > 0.8)
    // 12 identical docs → every band bucket holds all 12; cap=10 drops them
    // (bounded per-task pair work), default cap keeps all 66 pairs
    val many = docs((1L to 12L).map(i => i -> base): _*)
    assert(Dedup.minhashLshPairs(many, cap = 10).collect().isEmpty)
    assert(Dedup.minhashLshPairs(many).count() == 66L)
    assert(Dedup.ngramJaccardPairs(many, cap = 10).collect().isEmpty)
  }

  test("connectedComponents finds min-label clusters, handles chains") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (12L, 11L))
      .toDF("doc_a", "doc_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L)
    // small long-typed graph: the size-adaptive LOCAL union-find path
    val cc = Dedup.connectedComponents(edges).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("component")).toMap
    assert(cc == expected)
    // localEdgeLimit=0 forces the distributed loop: identical labels
    val dist = Dedup.connectedComponents(edges, localEdgeLimit = 0).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("component")).toMap
    assert(dist == expected)
  }

  test("connectedComponents: 1000-node chain converges in logarithmic rounds") {
    // worst-case diameter graph through the DISTRIBUTED loop (forced via
    // localEdgeLimit=0); pointer jumping must finish in ~log2(1000) rounds —
    // maxIter=15 would fail plain O(diameter) propagation instantly
    val edges = (0L until 999L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(edges, maxIter = 15, localEdgeLimit = 0)
      .collect()
    assert(cc.length == 1000)
    assert(cc.forall(_.getAs[Long]("component") == 0L))
  }

  test("token counts: whitespace vs BPE-ish regex") {
    val r = TextOps.tokenCount(docs((1L, "ab cd, ef 12!"))).collect().head
    assert(r.getAs[Long]("n_ws_tokens") == 4L)
    // [ab][cd][,][ef][12][!]
    assert(r.getAs[Long]("n_re_tokens") == 6L)
  }

  test("quality metrics are ratios in [0,1] and stopwords counted") {
    val r = TextOps.textQuality(docs((1L, "the cat sat on the mat"))).collect().head
    assert(r.getAs[Long]("n_words") == 6L)
    assert(r.getAs[Double]("stopword_ratio") == bround2(2.0 / 6.0))
    assert(r.getAs[Double]("alpha_ratio") <= 1.0)
    assert(r.getAs[Double]("quality_score") >= 0.0)
  }

  private def bround2(d: Double): Double =
    BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_EVEN).toDouble

  test("shingle-less docs: null bands (no co-bucketing), degenerate pairs dropped") {
    // doc 1 and 2 have < 3 tokens → empty shingle sets; same block
    val d = docs((1L, "ab cd"), (2L, "xy zz"), (3L, "a b c d e f g h"))
    val sigs = Dedup.minhashSignatures(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("band_0")).toMap
    assert(sigs(1L) == null && sigs(2L) == null && sigs(3L) != null)
    // null bands never join → no spurious LSH pairs
    assert(Dedup.minhashLshPairs(d).collect().isEmpty)
    // blocked jaccard: the (1,2) pair has n_union=0 → dropped, no ANSI error
    assert(Dedup.ngramJaccardPairs(d, threshold = 0.0)
      .filter(col("doc_a") === 1L && col("doc_b") === 2L).collect().isEmpty)
  }

  test("textQuality on empty text: null ratios, no division error") {
    val r = TextOps.textQuality(docs((1L, ""))).collect().head
    assert(r.getAs[Long]("n_chars") == 0L)
    assert(r.isNullAt(r.fieldIndex("alpha_ratio")))
    assert(r.isNullAt(r.fieldIndex("quality_score")))
  }

  test("incrementalNearDups: best corpus match per new doc, keepers absent") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val oneOff = (1 to 40).map(i => if (i == 20) "X" else s"w$i").mkString(" ")
    val threeOff = (1 to 40).map(i => if (i % 13 == 0) "Y" else s"w$i").mkString(" ")
    val corpus = docs((1L, oneOff), (2L, threeOff), (3L, "p q r s t u v"))
    val batch = docs((101L, base), (102L, (200 to 240).map(i => s"z$i").mkString(" ")))
    val r = Dedup.incrementalNearDups(batch, Dedup.shingleSignatures(corpus))
      .collect()
    // 102 has no corpus match → absent; 101 matches both 1 and 2, keeps the
    // higher-jaccard match (doc 1, a single changed token)
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("new_id") == 101L)
    assert(row.getAs[Long]("dup_of") == 1L)
    assert(row.getAs[Double]("jaccard") > 0.8)
  }

  test("incrementalNearDups prunes the corpus via a broadcast semi-join") {
    val corpus = docs((1L, (1 to 40).map(i => s"w$i").mkString(" ")))
    val batch = docs((101L, (1 to 40).map(i => s"w$i").mkString(" ")))
    val plan = Dedup.incrementalNearDups(batch, Dedup.shingleSignatures(corpus))
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), "corpus must be pruned by a semi-join")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      "the batch bucket keys must broadcast — the corpus side never shuffles for the prune")
  }

  test("sequentialIngest runs at most 5 Spark jobs per wave") {
    // per wave: the persisted frame's collect (the input's repartition map
    // stage, the cache stage, the result) and at most one verification job
    // against the store and one within the wave; the keepers come back as
    // a driver-built frame, so counting them runs nothing of the fold
    val input = Tables.documents(spark, "/root/testdata/sf0.001")
    try for (n <- Seq(1, 3)) {
      var kept: org.apache.spark.sql.DataFrame = null
      val jobs = jobsOf { kept = Dedup.sequentialIngest(input, n) }
      assert(jobs.size <= 5 * n, s"$n waves ran ${jobs.size} jobs")
      assert(kept.count() > 0 && kept.select("batch_id").distinct().count() == n)
    } finally spark.catalog.clearCache()
  }

  test("langId picks marker-language, priority order on ties, und on none") {
    val d = docs(
      (1L, "the house of cards"), // en markers: the, of
      (2L, "der hund und die katze"), // de
      (3L, "qqq www eee")) // none
    val r = TextOps.langId(d).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[String]("predicted_lang")).toMap
    assert(r(1L) == "en")
    assert(r(2L) == "de")
    assert(r(3L) == "und")
  }
}
