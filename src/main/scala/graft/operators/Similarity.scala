package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (`Array[Float]` vectors):
  * brute-force cosine top-k as the correctness baseline, and an IVF
  * (inverted-file) variant as the scale path — assign every vector to its
  * nearest centroid, then search only the query's cluster.
  *
  * Numeric parity: embeddings are cast element-wise to double, dot products
  * and norms are explicit LEFT-TO-RIGHT folds (`aggregate` with 0.0 init ↔
  * DuckDB `list_reduce`), so both engines run the identical IEEE-754
  * operation sequence and results compare bit-exact.
  *
  * Scale design: queries (and centroids) are tiny → broadcast; the big side
  * streams through map-side cosine scoring, and per-query top-k is a
  * window over (query, cosine desc) — with k small this is a partial top-k
  * per partition under AQE, never a global sort of the corpus. IVF cuts the
  * scored candidates by the cluster fan-out (here 8 clusters → 8× fewer
  * score evaluations at the same recall trade-off as any IVF index).
  */
object Similarity {

  /** Element-wise double vector from the float embedding. */
  private def dvec(c: Column): Column = transform(c, x => x.cast("double"))

  /** Left-to-right dot product: the codegen'd [[graft.functions.DotProduct]]
    * kernel (same IEEE fold order as the declarative
    * `aggregate(zip_with(...))` form, ~10× faster on O(n²) scoring).
    */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine of two pre-normalized (unit) vectors: a single fold per pair. */
  def cosine(ua: Column, ub: Column): Column = dot(ua, ub)

  /** Unit vectors, normalized ONCE per vector — every pairwise cosine is then
    * one dot product instead of three (the norms would otherwise be re-folded
    * for each of the O(n²) pairs). The oracle mirrors the same
    * normalize-then-dot sequence for bit parity. Registers the native kernel
    * on the input's session (idempotent).
    */
  private def vectors(emb: DataFrame): DataFrame = {
    graft.functions.VectorExpressions.register(emb.sparkSession)
    emb.select(col("vec_id"), dvec(col("embedding")).as("v"))
      .withColumn("n", norm(col("v")))
      .select(col("vec_id"), transform(col("v"), x => x / col("n")).as("v"))
  }

  /** Brute-force cosine top-k: every query (vec_id < nQueries) scored against
    * the full corpus. The baseline every ANN variant is measured against.
    */
  def annBruteForce(emb: DataFrame, nQueries: Int = 8, k: Int = 5): DataFrame = {
    val e = vectors(emb)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scored = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", cosine(col("qv"), col("v")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"), col("cosine"))
  }

  /** Lloyd iterations for IVF centroid training (spherical k-means). */
  val KmeansIters = 3

  /** Fixed-point scale (2^20) for the centroid-update dimension sums.
    * Double summation order across Spark partitions is NON-deterministic,
    * so a plain avg() of doubles is neither run-to-run reproducible at
    * scale nor oracle-exact; summing floor(x · 2^20) as LONGS is exact and
    * order-free, and the ~1e-6 quantization of the *mean* is far below the
    * voronoi-boundary noise k-means tolerates. The scale is part of the
    * operator contract (the DuckDB oracle mirrors it).
    */
  val KmeansScale = 1048576L

  /** Deterministic spherical k-means over the normalized corpus: init =
    * the first `nCentroids` vectors (the seed), then `iters` Lloyd rounds
    * of (map-side argmax assignment under LITERAL centroids) → (one
    * (centroid, dim)-keyed fixed-point sum aggregate — k·dim output rows,
    * partial-aggregated map-side, collected as metadata) → (driver-side
    * mean + unit normalization). Empty clusters keep their previous
    * centroid. No iteration ever shuffles the corpus: the per-round
    * shuffle is the k·dim partial sums.
    */
  def trainCentroids(emb: DataFrame, nCentroids: Int = 8,
                     iters: Int = KmeansIters): Seq[Array[Double]] =
    trainCentroidsFrom(vectors(emb), nCentroids, iters)

  /** Training loop over a prebuilt normalized frame — callers that also
    * search ([[annIvf]], [[ivfAssign]]) persist ONE shared frame so the
    * parquet scan + normalization run once, not once per Lloyd round plus
    * once per search stage (cache lifecycle: the caller's session owns the
    * entries, same contract as the Dedup persists — Bench/Verify
    * clearCache between queries).
    */
  private[operators] def trainCentroidsFrom(e: DataFrame, nCentroids: Int,
                                            iters: Int): Seq[Array[Double]] = {
    var cents: Seq[Array[Double]] = e.filter(col("vec_id") < nCentroids)
      .orderBy(col("vec_id")).collect()
      .map(r => r.getSeq[Double](1).toArray).toSeq
    for (_ <- 1 to iters) {
      val updated = lloydSums(e, cents).map { case (cid, (sums, n)) =>
        val mv = sums.map(_ / n.toDouble)
        var acc = 0.0
        mv.foreach(x => acc += x * x)
        val nrm = math.sqrt(acc)
        cid -> mv.map(_ / nrm)
      }
      cents = cents.indices.map(c => updated.getOrElse(c, cents(c)))
    }
    cents
  }

  /** One assignment pass under literal `cents`: per-centroid fixed-point
    * dimension sums (already divided back by [[KmeansScale]]) and member
    * counts, collected as k·dim metadata — the shared kernel of a Lloyd
    * round here and of [[CentroidStore.refresh]]'s mini-batch update.
    * Absent centroid ids had no members this pass.
    *
    * Shape: ONE groupBy(cid) hash aggregate with `dim` element-wise sum
    * columns, never a posexplode — the exploded form multiplied every
    * corpus row ×dim before the aggregate and shuffled k·dim keyed rows;
    * this shuffles k rows of dim+1 columns after map-side partial
    * aggregation and generates no extra rows at all (guide §2.3 — shuffle
    * fewer bytes; the per-(cid,dim) sums and counts are identical values:
    * element-wise long sums are order-free).
    */
  private[operators] def lloydSums(e: DataFrame, cents: Seq[Array[Double]])
      : Map[Int, (Array[Double], Long)] = {
    val dim = cents.head.length
    val sums = (0 until dim).map(i =>
      sum(floor(element_at(col("v"), i + 1) * lit(KmeansScale.toDouble)))
        .as(s"s_$i"))
    // size >= 1 guard: the exploded form implicitly dropped null/empty
    // vectors (posexplode emits no rows for them) — impossible for real
    // embeddings, but the kernel must not change behavior on degenerate
    // input
    val rows = e
      .filter(size(col("v")) >= 1)
      .select((-bestCentroid(cents, col("v"))("nid")).as("cid"), col("v"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n"), sums: _*)
      .collect()
    rows.map { r =>
      r.getInt(0) -> ((Array.tabulate(dim)(i =>
        r.getLong(2 + i).toDouble / KmeansScale.toDouble), r.getLong(1)))
    }.toMap
  }

  /** Map-side argmax over literal centroids: struct max by (cosine, −id)
    * picks the max-cosine centroid with ties to the LOWEST id — no window,
    * no shuffle, the assignment is a scan-stage expression.
    */
  private def bestCentroid(cents: Seq[Array[Double]], v: Column): Column =
    array_max(array(cents.zipWithIndex.map { case (cv, c) =>
      struct(dot(typedlit(cv.toSeq), v).as("c"), lit(-c).as("nid"))
    }: _*))

  /** IVF cluster assignment under TRAINED centroids ([[trainCentroids]]:
    * seeded with the first `nCentroids` vectors, [[KmeansIters]] Lloyd
    * rounds — iteration count, seed and fixed-point scale are all part of
    * the oracle contract). Ties break to the lowest centroid id. Output:
    * vec_id → (centroid_id, centroid_cosine), computed entirely map-side.
    */
  def ivfAssign(emb: DataFrame, nCentroids: Int = 8,
                iters: Int = KmeansIters): DataFrame = {
    val e = vectors(emb)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ivfAssignFrom(e, trainCentroidsFrom(e, nCentroids, iters))
  }

  /** Assignment under ALREADY-TRAINED centroids (self-contained queries
    * train in-query; [[CentroidStore]] consumers pass staged centroids) —
    * `e` must be a [[vectors]] frame.
    */
  private[operators] def ivfAssignFrom(e: DataFrame,
                                       cents: Seq[Array[Double]]): DataFrame =
    e.select(col("vec_id"), bestCentroid(cents, col("v")).as("__best"))
      .select(col("vec_id"),
        (-col("__best")("nid")).cast("long").as("centroid_id"),
        col("__best")("c").as("centroid_cosine"))

  /** The normalized-vector frame, exposed for [[CentroidStore]] consumers
    * (same normalize-once contract as every in-object caller).
    */
  private[operators] def normalized(emb: DataFrame): DataFrame = vectors(emb)

  /** IVF top-k with MULTI-PROBE search: each query (vec_id < nQueries)
    * probes its `nProbe` nearest trained centroids' cells and scores only
    * their members — the recall knob every production IVF exposes
    * (single-cell probing loses neighbors that sit just across a voronoi
    * boundary). Cell membership is the map-side [[bestCentroid]] argmax
    * (cells are disjoint, so no post-join dedup); the query frame — probe
    * assignments exploded, nQueries·nProbe rows — broadcasts, and per-query
    * top-k is the same partial-window form as [[annBruteForce]].
    */
  def annIvf(emb: DataFrame, nCentroids: Int = 8, k: Int = 5,
             nProbe: Int = 2, nQueries: Int = 8,
             iters: Int = KmeansIters): DataFrame = {
    val e = vectors(emb)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    annIvfFrom(e, trainCentroidsFrom(e, nCentroids, iters), k, nProbe, nQueries)
  }

  /** Multi-probe search under already-trained centroids ([[CentroidStore]]
    * consumers skip the in-query training entirely).
    */
  private[operators] def annIvfFrom(e: DataFrame, cents: Seq[Array[Double]],
                                    k: Int, nProbe: Int,
                                    nQueries: Int): DataFrame = {
    // probe list: sort by (−cosine, id) ascending == cosine desc with
    // low-id ties, take the first nProbe
    val probeArr = slice(array_sort(array(cents.zipWithIndex.map { case (cv, c) =>
      struct((-dot(typedlit(cv.toSeq), col("qv"))).as("nc"), lit(c).as("cid"))
    }: _*)), 1, nProbe)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
      .select(col("query_id"), col("qv"), explode(probeArr).as("__p"))
      .select(col("query_id"), col("qv"), col("__p")("cid").as("probe_cid"))
    ivfSearchKernel(assignedMembers(e, cents), q, k)
  }

  /** (vec_id, v, centroid_id) membership under literal `cents` — the
    * search-side assignment frame, shared by [[annIvfFrom]] and the staged
    * [[IvfStore]] postings build (so the two paths cannot drift).
    */
  private[operators] def assignedMembers(e: DataFrame,
                                         cents: Seq[Array[Double]]): DataFrame =
    e.select(col("vec_id"), col("v"), bestCentroid(cents, col("v")).as("__best"))
      .select(col("vec_id"), col("v"),
        (-col("__best")("nid")).cast("long").as("centroid_id"))

  /** The probe-scoped scoring kernel: `queryProbes` = (query_id, qv,
    * probe_cid) — each query meets only its probed cells' members, exact
    * cosine, per-query top-k with (cosine desc, vec_id) ties. Shared by the
    * self-contained and staged search paths.
    */
  private[operators] def ivfSearchKernel(members: DataFrame,
                                         queryProbes: DataFrame,
                                         k: Int): DataFrame = {
    // a staged search may be the session's FIRST similarity call (build
    // once, query from later sessions) — cosine() needs the native kernel
    // registered here, not just in vectors() (the annQuantizedFrom
    // precedent)
    graft.functions.VectorExpressions.register(members.sparkSession)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    members.join(broadcast(queryProbes), col("centroid_id") === col("probe_cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", cosine(col("qv"), col("v")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"), col("cosine"))
  }

  /** SemDeDup (Abbas et al. 2023): SEMANTIC deduplication — cluster the
    * corpus with the trained k-means ([[trainCentroids]], the exact model
    * the IVF queries mirror), then inside each cluster drop every vector
    * that has a lower-id member with cosine ≥ `threshold`. Unlike the
    * sign-LSH near-dup path (which targets literal near-copies), the
    * cluster scope catches paraphrase-level duplicates at far lower τ
    * without any global pair generation. One-pass pairwise rule (a vector
    * compares against ALL lower-id cluster members, kept or not) — no
    * sequential dependency, so the whole operator is one self-join + one
    * aggregate; strictly more aggressive than the published greedy form on
    * chains a<b<c where only adjacent pairs clear τ.
    *
    * Output: every vector with its cluster, its max cosine to any lower-id
    * cluster member (NULL for the cluster's min id — max is order-free, so
    * exact cross-engine), and the keep bit.
    *
    * Scale shape: the self-join is keyed on centroid_id — Σ cluster²
    * pairwise work, the same bound as IVF cell search; nCentroids grows
    * with the corpus to hold cells flat, and a skew-heavy cluster is real
    * data skew AQE splits. No global quadratic step; centroids are literal
    * expressions, so assignment is map-side on the one persisted
    * normalized frame.
    */
  def semDedup(emb: DataFrame, nCentroids: Int = 8, threshold: Double = 0.35,
               iters: Int = KmeansIters): DataFrame = {
    val e = vectors(emb)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    semDedupFrom(e, trainCentroidsFrom(e, nCentroids, iters), threshold)
  }

  /** The cluster-scoped drop rule under already-trained centroids. */
  private[operators] def semDedupFrom(e: DataFrame, cents: Seq[Array[Double]],
                                      threshold: Double): DataFrame = {
    val m = e.select(col("vec_id"), col("v"),
      (-bestCentroid(cents, col("v"))("nid")).cast("long").as("centroid_id"))
    val lower = m.select(col("centroid_id"), col("vec_id").as("vec_b"),
      col("v").as("vb"))
    val best = m.join(lower, Seq("centroid_id"))
      .filter(col("vec_b") < col("vec_id"))
      .withColumn("cos", cosine(col("v"), col("vb")))
      .groupBy(col("vec_id")).agg(max(col("cos")).as("max_lower_cosine"))
    m.join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), col("centroid_id"), col("max_lower_cosine"),
        coalesce(col("max_lower_cosine") < threshold, lit(true)).as("kept"))
  }

  /** Embedding near-duplicate pairs: all pairs with cosine ≥ threshold.
    * Local baseline is the quadratic join; at scale the same verification
    * kernel runs on LSH/IVF candidate buckets instead (see [[lshNearDups]]).
    */
  def embeddingNearDups(emb: DataFrame, threshold: Double = 0.4): DataFrame = {
    val e = vectors(emb)
    val b = e.select(col("vec_id").as("vec_b"), col("v").as("vb"))
    e.join(b, col("vec_id") < col("vec_b"))
      .withColumn("cosine", cosine(col("v"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select(col("vec_id").as("vec_a"), col("vec_b"), col("cosine"))
  }

  /** Deterministic random hyperplanes for sign-LSH: component (j, i) is an
    * md5-derived value in [-1, 1) — reproducible in SQL text form, so the
    * DuckDB oracle uses the IDENTICAL constants.
    */
  val NumPlanes = 12
  val Dim = 64
  def hyperplaneSeq(n: Int): Seq[Seq[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until n).map { j =>
      (0 until Dim).map { i =>
        val h = md.digest(s"$j:$i".getBytes("UTF-8"))
          .take(4).map("%02x".format(_)).mkString
        java.lang.Long.parseLong(h, 16).toDouble / 4294967296.0 * 2 - 1
      }
    }
  }
  lazy val hyperplanes: Seq[Seq[Double]] = hyperplaneSeq(NumPlanes)

  /** Banded sign-LSH layout: NumSimBands bands × BandBits sign bits each
    * (48 planes total, a superset of [[hyperplanes]] under the same md5
    * derivation). Band count is the recall knob (any shared band → candidate);
    * bits-per-band is the bucket-granularity knob — it grows with
    * log(corpus) to hold expected bucket size flat at 100 TB.
    */
  val NumSimBands = 4
  val BandBits = 12
  lazy val bandPlanes: Seq[Seq[Double]] = hyperplaneSeq(NumSimBands * BandBits)

  /** Sign-LSH bucket expression over a normalized-vector column: bit j =
    * (v · w_j) > 0, as a NumPlanes-char '0'/'1' string.
    */
  private def bucketExpr(v: Column): Column =
    concat(hyperplanes.map { w =>
      when(dot(v, array(w.map(lit): _*)) > 0, "1").otherwise("0")
    }: _*)

  /** Sign-LSH bucket of every vector. Map-side only. */
  def lshBuckets(emb: DataFrame): DataFrame =
    vectors(emb).select(col("vec_id"), bucketExpr(col("v")).as("bucket"))

  /** LSH-bucketed near-dup pairs — the 100 TB path: candidates share a
    * bucket (shuffle keyed on the bucket, no quadratic join), then the exact
    * cosine verifies. Recall trades off against NumPlanes like any sign-LSH.
    * Buckets derive from the SAME normalized frame (one scan, one
    * normalization pass — a separate lshBuckets join would scan twice).
    * Degenerate buckets (all-zero vectors, boilerplate embeddings) are
    * dropped beyond `cap` docs — same skew guard as the MinHash band joins.
    */
  def lshNearDups(emb: DataFrame, threshold: Double = 0.4,
                  cap: Int = Dedup.MaxBucketSize): DataFrame = {
    val bk = vectors(emb).withColumn("bucket", bucketExpr(col("v")))
    val pairs = Dedup.bandPairs(
      bk.select(col("vec_id"), lit(0).as("band_id"), col("bucket")),
      cap, "vec_a", "vec_b")
    // single band → a pair has exactly one shared bucket; join it (and the
    // vectors) back per surviving pair, so the pair stream stays ids-only
    val va = bk.select(col("vec_id").as("vec_a"), col("bucket"), col("v").as("va"))
    val vb = bk.select(col("vec_id").as("vec_b"), col("v").as("vb"))
    // Staged.once barrier: the threshold filter otherwise folds into the
    // join condition and the 64-dim dot runs twice per candidate pair
    Staged.once(pairs.join(va, "vec_a").join(vb, "vec_b"),
        Seq("vec_a", "vec_b", "bucket"),
        Seq("cosine" -> cosine(col("va"), col("vb"))))
      .filter(col("cosine") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("bucket"), col("cosine"))
  }

  /** Banded sign-LSH near-dup pairs — the registered replacement for the
    * all-pairs exact join (which stays as a spec-only baseline): vectors
    * sharing ANY of the [[NumSimBands]] 12-bit sign bands become candidates
    * (Σ bucket² work per band, bucket-capped), then the exact cosine
    * verifies against `threshold`. The candidate stream carries only ids —
    * the 64-double vectors are joined back per distinct pair, so the band
    * explode never multiplies vector payloads.
    */
  def embeddingNearDupsBanded(emb: DataFrame, threshold: Double = 0.4,
                              cap: Int = Dedup.MaxBucketSize): DataFrame = {
    val e = vectors(emb)
    val pairs = Dedup.bandPairs(signBands(e), cap, "vec_a", "vec_b")
    val va = e.select(col("vec_id").as("vec_a"), col("v").as("va"))
    val vb = e.select(col("vec_id").as("vec_b"), col("v").as("vb"))
    // Staged.once barrier — same join-condition dot duplication as
    // [[lshNearDups]], same fix
    Staged.once(pairs.join(va, "vec_a").join(vb, "vec_b"),
        Seq("vec_a", "vec_b"),
        Seq("cosine" -> cosine(col("va"), col("vb"))))
      .filter(col("cosine") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cosine"))
  }

  /** (vec_id, band_id, band_val) sign-LSH band rows of a [[vectors]] frame
    * — the input shape of [[Dedup.bandPairs]] and of the asymmetric
    * batch-vs-corpus prune in [[incrementalEmbeddingNearDups]].
    */
  private def signBands(e: DataFrame): DataFrame = {
    val sig = concat(bandPlanes.map { w =>
      when(dot(col("v"), array(w.map(lit): _*)) > 0, "1").otherwise("0")
    }: _*)
    val bandCols = (0 until NumSimBands).map(b =>
      struct(lit(b).as("band_id"),
        substring(col("sig"), b * BandBits + 1, BandBits).as("band_val")))
    e.withColumn("sig", sig)
      .select(col("vec_id"), explode(array(bandCols: _*)).as("band"))
      .select(col("vec_id"), col("band.band_id").as("band_id"),
        col("band.band_val").as("band_val"))
      .filter(col("band_val").isNotNull)
  }

  /** INCREMENTAL embedding near-dup detection — the embedding twin of
    * [[Dedup.incrementalNearDups]]: a batch of new vectors is checked
    * against an existing corpus, reporting each duplicated new vector's
    * best corpus match (highest exact cosine ≥ `threshold`, ties → lowest
    * corpus vec_id). Same asymmetric scale shape: the batch's distinct
    * band keys broadcast, the corpus band rows are pruned by a map-side
    * LEFT SEMI join (the corpus never shuffles), the skew cap counts the
    * PRUNED buckets (exact — the semi-join keeps or drops whole buckets),
    * and everything downstream is bounded by Σ(batch-touched capped
    * buckets).
    */
  def incrementalEmbeddingNearDups(batchEmb: DataFrame, corpusEmb: DataFrame,
                                   threshold: Double = 0.4,
                                   cap: Int = Dedup.MaxBucketSize): DataFrame = {
    val nb = vectors(batchEmb)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cb = vectors(corpusEmb)
    val batchBands = signBands(nb)
    // persisted: capBuckets reads it twice (bucket counts + join back), and
    // each unpersisted reference would recompute the 48-plane corpus sign
    // dots from the scan up — one sign-LSH pass over the corpus, not two.
    // Lifecycle follows the module policy (session clearCache between
    // queries), same as the batch persist above.
    // no distinct() on the broadcast build side — LEFT SEMI ignores
    // build-side duplicates (the [[Dedup.incrementalNearDups]] precedent)
    val touched = signBands(cb).join(
      broadcast(batchBands.select(col("band_id"), col("band_val"))),
      Seq("band_id", "band_val"), "leftsemi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val capped = Dedup.capBuckets(touched, Seq("band_id", "band_val"), cap)
    // spreadDistinct: one exchange dedups AND spreads the pair key, so the
    // 64-dim verify dots below run across the cluster instead of on the
    // 1–2 partitions AQE would coalesce the byte-tiny pair stream to
    val candidates = Dedup.spreadDistinct(
      batchBands.as("n")
        .join(capped.as("c"), Seq("band_id", "band_val"))
        .select(col("n.vec_id").as("new_id"), col("c.vec_id").as("dup_of")),
      "new_id", "dup_of")
    val va = nb.select(col("vec_id").as("new_id"), col("v").as("va"))
    val vb = cb.select(col("vec_id").as("dup_of"), col("v").as("vb"))
    // Staged.once barrier — same join-condition dot duplication as
    // [[lshNearDups]], same fix
    val verified = Staged.once(
        candidates.join(va, "new_id").join(vb, "dup_of"),
        Seq("new_id", "dup_of"),
        Seq("cosine" -> cosine(col("va"), col("vb"))))
      .filter(col("cosine") >= threshold)
    val best = org.apache.spark.sql.expressions.Window
      .partitionBy(col("new_id"))
      .orderBy(col("cosine").desc, col("dup_of"))
    verified
      .withColumn("__rk", row_number().over(best))
      .filter(col("__rk") === 1)
      .select(col("new_id"), col("dup_of"), col("cosine"))
  }

  /** Scalar (per-dimension min/max) 8-bit quantization — the memory scale
    * path for ANN: a float corpus shrinks 4× (further with the int8 scoring
    * kernel downstream), at a bounded reconstruction error of
    * (mx−mn)/255 per dimension. Constant dimensions quantize to 0.
    *
    * The per-dimension bounds are FITTED ONCE ([[fitQuantBounds]]: one
    * posexplode → dimension-keyed min/max aggregate — output rows =
    * dimensionality) and collected to the driver as model metadata, the
    * same bounded-metadata pattern as the watermark reads: every consumer
    * (quantize, codes staging, search) then embeds the bounds as literals,
    * so no plan ever re-runs the bounds aggregate and the search plan
    * contains ZERO aggregates over the float corpus.
    *
    * Integer outputs only, and the scale arithmetic is the same
    * double-precision expression in both engines, so the oracle
    * hash-compare is exact.
    */
  case class QuantBounds(mns: Array[Double], mxs: Array[Double]) {
    /** Per-dimension bin width (mx−mn)/255 — 0.0 for constant dimensions. */
    def scales: Array[Double] =
      mns.indices.map(i => (mxs(i) - mns(i)) / 255.0).toArray
  }

  /** One dimension-keyed aggregate over the corpus, collected as metadata
    * (rows = dimensionality — 64 doubles here, never data-scale).
    */
  def fitQuantBounds(emb: DataFrame): QuantBounds = {
    val rows = emb.select(posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("dim"), col("xf").cast("double").as("x"))
      .groupBy(col("dim")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .orderBy(col("dim")).collect()
    QuantBounds(rows.map(_.getDouble(1)), rows.map(_.getDouble(2)))
  }

  /** Quantization expression: code q_i = floor((x_i − mn_i)/(mx_i − mn_i) ·
    * 255) ∈ [0, 255], 0 on constant dimensions — identical IEEE-754 op
    * sequence to the oracle.
    */
  private def quantArr(qb: QuantBounds, embCol: Column,
                       clamp: Boolean = false): Column = {
    val mns = typedlit(qb.mns.toSeq)
    val mxs = typedlit(qb.mxs.toSeq)
    transform(embCol, (x, i) => {
      val mn = element_at(mns, i + 1)
      val mx = element_at(mxs, i + 1)
      val raw = floor((x.cast("double") - mn) / (mx - mn) * lit(255.0))
      // clamped form for FROZEN-bounds quantization of new data
      // ([[QuantStore.ingestBatch]]): out-of-distribution values saturate at
      // the range edges (standard SQ behavior) instead of overflowing the
      // int8 code domain. Fit-to-data callers keep the unclamped arithmetic
      // (codes are in range by construction; the oracle mirrors it).
      // Null elements must stay null through the clamp: least/greatest SKIP
      // null operands, so an unguarded clamp would turn raw=null into a
      // saturated max code — a silently wrong extreme value where the
      // module's contract (graft_dot, the unclamped path) propagates null.
      val clamped = when(raw.isNull, raw)
        .otherwise(greatest(lit(0L), least(lit(255L), raw)))
      val q = if (clamp) clamped else raw
      when(mx === mn, lit(0L)).otherwise(q)
    })
  }

  def quantizeEmbeddings(emb: DataFrame): DataFrame =
    quantizeEmbeddings(emb, fitQuantBounds(emb))

  def quantizeEmbeddings(emb: DataFrame, qb: QuantBounds): DataFrame =
    emb.select(col("vec_id"), quantArr(qb, col("embedding")).as("qvec"))

  /** The staged search corpus: int8 codes (zero-point −128, so q = b + 128)
    * plus the per-vector norm of the bin-center dequantized vector — ONE
    * double alongside 1 byte/dimension, everything the asymmetric search
    * needs without ever touching the float corpus again. Materialize this
    * frame once per corpus snapshot (à la [[QuantStore]]) and
    * [[annQuantized]]'s scan reads 1/4 the bytes of the float embeddings.
    */
  def quantizeCodes(emb: DataFrame, qb: QuantBounds,
                    clamp: Boolean = false): DataFrame = {
    val mns = typedlit(qb.mns.toSeq)
    val scl = typedlit(qb.scales.toSeq)
    // two-step select: the quantization array is referenced twice below and
    // CollapseProject keeps non-cheap multiply-referenced aliases staged
    emb.select(col("vec_id"), quantArr(qb, col("embedding"), clamp).as("__q"))
      .select(col("vec_id"),
        transform(col("__q"), q => (q - 128).cast("tinyint")).as("codes"),
        sqrt(aggregate(
          transform(col("__q"), (q, i) =>
            element_at(mns, i + 1)
              + (q.cast("double") + lit(0.5)) * element_at(scl, i + 1)),
          lit(0.0), (acc, d) => acc + d * d)).as("dnorm"))
  }

  /** ANN over the staged quantized corpus — asymmetric distance, scored in
    * the integer domain: full-precision unit queries against int8 codes
    * (the standard SQ search form; the corpus holds 1/4 the bytes, the
    * query loses no precision). The bin-center dequantization
    * d_i = mn_i + (q_i + 0.5)·s_i is affine in the code, so the cosine
    * collapses to
    *   cosine = (Σ_i w_i·b_i + c0) / ‖d‖,  w_i = qv_i·s_i,
    *   c0 = Σ_i qv_i·(mn_i + 128.5·s_i),  b_i = q_i − 128 (int8),
    * with w/c0 computed once per query (broadcast) and ‖d‖ staged next to
    * the codes — the scan is one codegen'd `graft_dot_i8` byte loop per
    * (query, vector), NO dequantized array<double> ever materializes, and
    * the plan has no bounds aggregate at all (bounds are fitted metadata).
    * Recall loss is bounded by the per-dimension half-bin error (mx−mn)/510.
    */
  def annQuantized(emb: DataFrame, nQueries: Int = 8, k: Int = 5): DataFrame = {
    val qb = fitQuantBounds(emb)
    val q = vectors(emb).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    annQuantizedFrom(quantizeCodes(emb, qb), qb, q, k)
  }

  /** The search kernel over an (in-memory or staged — see
    * [[graft.operators.QuantStore]]) codes frame: per-query weights and
    * correction broadcast, map-side `graft_dot_i8` scoring, partial-window
    * top-k. `unitQueries` = (query_id, qv) with UNIT query vectors.
    */
  private[operators] def annQuantizedFrom(staged: DataFrame, qb: QuantBounds,
                                          unitQueries: DataFrame, k: Int): DataFrame = {
    graft.functions.VectorExpressions.register(staged.sparkSession)
    val scl = typedlit(qb.scales.toSeq)
    val mAdj = typedlit(
      qb.mns.indices.map(i => qb.mns(i) + 128.5 * qb.scales(i)).toSeq)
    val q = unitQueries.select(col("query_id"),
      zip_with(col("qv"), scl, (a, b) => a * b).as("w"),
      aggregate(zip_with(col("qv"), mAdj, (a, b) => a * b),
        lit(0.0), (acc, x) => acc + x).as("c0"))
    val wnd = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    staged.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        (call_function("graft_dot_i8", col("w"), col("codes")) + col("c0"))
          / col("dnorm"))
      .withColumn("rank", row_number().over(wnd).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"), col("cosine"))
  }
}
