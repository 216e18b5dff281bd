package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materialized IVF INDEX — model + postings — the piece that makes IVF an
  * actual index at 100 TB.
  *
  * The self-contained [[Similarity.annIvf]] (and its [[CentroidStore]]
  * consumer) computes cell membership map-side per query batch: correct,
  * but every search still SCANS THE WHOLE CORPUS to find the probed cells'
  * members. This store materializes the assignment once per corpus
  * snapshot as a [[ManifestTable]] dataset PARTITIONED BY CELL
  * (`p_cell=N/…`), so a search plans its scan over ONLY the probed cells'
  * files — with nProbe=2 of C cells, ~2/C of the corpus bytes, the
  * classic inverted-file read pattern. Query vectors fetched from the
  * store itself (the oracle-parity self-query form) prune by the
  * manifest's per-file vec_id min/max stats, so even the query fetch
  * opens a bounded file set.
  *
  * The model lives in a nested [[CentroidStore]] (atomic versioned
  * commits, mini-batch refresh), and MODEL/POSTINGS PAIRING is explicit:
  * each postings snapshot records the model version its assignments were
  * computed under — as `#meta:` lines INSIDE the postings manifest commit
  * ([[ManifestTable.commitMeta]]), atomic with the snapshot — and every
  * search resolves ONE postings version and probes with exactly that
  * version's centroids — a search racing a rebuild can never probe
  * new-model cells against old-model postings (cell ids mean different
  * voronoi regions across retrains; the mispairing would be silently
  * wrong, not an error).
  *
  * Search output is byte-identical to [[CentroidStore.annIvf]] /
  * [[Similarity.annIvf]] under the same model (spec-asserted): the probe
  * selection mirrors the column-expression arithmetic exactly (same
  * left-to-right dot fold, same (−cosine, id) tie order) and the scoring
  * runs through the shared [[Similarity.ivfSearchKernel]].
  */
object IvfStore {

  private def modelRoot(root: String) = s"$root/model"
  private def postingsRoot(root: String) = s"$root/postings"

  /** Train (via the nested [[CentroidStore]]) and materialize the postings
    * for a corpus snapshot. One normalization pass feeds both training and
    * the postings write. Returns the committed postings version. `tickId`
    * stamps the postings commit (same marker [[ingestBatch]] writes), so
    * an at-least-once caller whose bootstrap build crashed after the
    * commit can retry through [[ingestBatch]] without double-appending.
    */
  def build(emb: DataFrame, root: String, nCentroids: Int = 8,
            iters: Int = Similarity.KmeansIters,
            tickId: Option[String] = None): Long = {
    val spark = emb.sparkSession
    val e = Similarity.normalized(emb)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val mv = CentroidStore.buildFrom(e, modelRoot(root), nCentroids, iters)
      val cents = CentroidStore.readCentroidsAt(spark, modelRoot(root), mv)
      commitPostings(spark, root,
        Similarity.assignedMembers(e, cents), mv, replaced = Seq(""), tickId)
    } finally e.unpersist()
  }

  /** Whether a postings snapshot exists — the bootstrap-vs-append switch
    * for composed platform ticks ([[CorpusStore.tickWithIndex]]).
    */
  def isBuilt(spark: SparkSession, root: String): Boolean =
    ManifestTable.currentVersion(spark, postingsRoot(root)).nonEmpty

  /** One incremental index tick — the [[CorpusStore.tick]]
    * pattern for the postings: a NEW batch of embeddings is assigned
    * under the CURRENT staged model (map-side argmax over literal
    * centroids — the existing corpus postings are never re-read or
    * re-shuffled) and APPENDED as new files in their cells' partitions.
    * Optionally refresh the model first ([[CentroidStore.refresh]]'s
    * mini-batch Lloyd tick) — note a refreshed model only affects NEW
    * batches; existing postings keep their assignment (the standard IVF
    * trade: assignments drift from the model until the next full
    * [[build]], bounded by the refresh step size; the snapshot's model
    * ref advances with the tick so search probes the model the NEWEST
    * postings were assigned under). Returns the committed version.
    *
    * `tickId`: a stable caller-supplied id (e.g. the upstream batch id)
    * that makes the tick CRASH-IDEMPOTENT under at-least-once retry —
    * the model refresh and the postings commit are separate commits, and
    * a crash between them would otherwise double-apply the batch to the
    * model on retry. Both commits carry the marker; a retry skips
    * whatever already landed.
    */
  def ingestBatch(batchEmb: DataFrame, root: String,
                  refreshModel: Boolean = false,
                  tickId: Option[String] = None): Long = {
    val spark = batchEmb.sparkSession
    // crash-idempotent replay (at-least-once callers pass a stable tickId):
    // the tick's two commits — model refresh, then postings — each carry
    // the tick marker, so a retry after a crash between them skips
    // whatever already landed. Without the guard, re-running refreshFrom
    // would absorb the batch's mass into the centroids TWICE (silent model
    // skew), and re-running the postings commit would append the batch's
    // rows twice.
    val donePostings = for {
      id <- tickId
      pv <- ManifestTable.currentVersion(spark, postingsRoot(root))
      if postingsTickOf(spark, root, pv).contains(id)
    } yield pv
    donePostings.getOrElse {
      // with a model refresh the normalized batch feeds TWO passes (the
      // mini-batch Lloyd sums and the postings write) — persist so the scan
      // + per-vector norms run once, the build()'s one-normalization design
      val e0 = Similarity.normalized(batchEmb)
      val e = if (refreshModel)
        e0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else e0
      try {
        val mv =
          if (!refreshModel) CentroidStore.currentVersion(spark, modelRoot(root))
          else {
            val cur = CentroidStore.currentVersion(spark, modelRoot(root))
            val alreadyRefreshed = tickId.exists(id =>
              CentroidStore.tickOf(spark, modelRoot(root), cur).contains(id))
            if (alreadyRefreshed) cur
            else CentroidStore.refreshFrom(e, modelRoot(root), tick = tickId)
          }
        val cents = CentroidStore.readCentroidsAt(spark, modelRoot(root), mv)
        commitPostings(spark, root,
          Similarity.assignedMembers(e, cents), mv, replaced = Seq.empty, tickId)
      } finally if (refreshModel) e.unpersist()
    }
  }

  /** Shared postings commit: write the cell-partitioned files with their
    * vec_id stats (so the self-query fetch file-prunes), record the model
    * version this snapshot's assignments used BEFORE the commit (the
    * single-writer version-pairing discipline of [[QuantStore.build]]),
    * and commit — replace-all for a build, append for a tick.
    */
  private def commitPostings(spark: SparkSession, root: String,
                             postings: DataFrame, modelVersion: Long,
                             replaced: Seq[String],
                             tick: Option[String] = None): Long = {
    val prev = ManifestTable.currentVersion(spark, postingsRoot(root))
      .getOrElse(0L)
    val entries = ManifestTable.writeFiles(spark, postingsRoot(root), Seq(
      ManifestTable.WriteSet(postings.withColumn("p_cell", col("centroid_id")),
        postings.columns.toSeq, ManifestTable.partitionDir(Seq("p_cell")),
        spark_partition_id(), None, Seq("vec_id")))).map(_._1)
    // the model↔postings pairing rides INSIDE the manifest commit (atomic
    // with the snapshot through the conditional publisher — no separately
    // written sidecar a racing committer could clobber), and the
    // expected-version CAS rejects a concurrent postings writer BEFORE
    // anything is committed
    val v = ManifestTable.commitEntries(spark, postingsRoot(root), replaced,
      entries, expectedVersion = Some(prev),
      meta = Map("model_version" -> modelVersion.toString) ++
        tick.map("tick_id" -> _))
    require(v == prev + 1 && modelVersionOf(spark, root, v) == modelVersion,
      s"concurrent build detected: postings v$v not paired with model v$modelVersion")
    ManifestTable.vacuum(spark, postingsRoot(root))
    v
  }

  /** What [[forget]] did: the committed postings version (unchanged when
    * no victim posting existed), postings purged, files rewritten.
    */
  case class IvfForgetReport(version: Long, nPurged: Long,
                             nFilesRewritten: Int)

  /** INDEX PURGE — the vector-index half of right-to-be-forgotten
    * ([[CorpusStore.forgetWithIndex]] composes it with the corpus purge):
    * remove every posting whose `vec_id` is in `vecIds` from the live
    * postings snapshot, so [[annIvf]] can never again return a purged
    * document's embedding.
    *
    * SCALE: the manifest's per-file vec_id min/max stats shortlist the
    * files that might hold a victim, the shortlist is narrowed to files
    * that actually DO, and only those are rewritten without the victim
    * rows (cell layout preserved) — ONE atomic file-level commit
    * ([[ManifestTable.commitRewriteFiles]]), O(touched files), never a
    * postings scan or an index rebuild. The new snapshot pairs with the
    * SAME model version (a pure row removal changes no assignment; the
    * commit's meta carries the ref forward). The centroids themselves
    * are untouched: a k-means mean over many vectors is an aggregate, not
    * retrievable content, and the next refresh/build washes the purged
    * vector's residual out. Physical deletion follows the usual retention
    * lapse ([[ManifestTable.vacuum]] window), like the corpus purge.
    *
    * Idempotent: re-running with the same ids finds no victim postings and
    * commits nothing. A store with no postings snapshot is a no-op.
    */
  def forget(spark: SparkSession, root: String,
             vecIds: Seq[Long]): IvfForgetReport = {
    import spark.implicits._
    val pr = postingsRoot(root)
    val cur = ManifestTable.currentVersion(spark, pr)
    val ids = vecIds.distinct.sorted.toArray
    if (cur.isEmpty || ids.isEmpty)
      return IvfForgetReport(cur.getOrElse(0L), 0L, 0)
    require(ids.length <= 100000,
      s"forget batch too large (${ids.length}); split into <=100000-id calls")
    val pv = cur.get
    // level 1: files whose vec_id range can hold a victim (stats prune —
    // the anyPosted shortlist rule; stat-less files are always candidates)
    val candidates = ManifestTable.entriesOf(spark, pr, pv)
      .filter(_.stats.get("vec_id").forall { case (mn, mx) =>
        val i = java.util.Arrays.binarySearch(ids, mn)
        val at = if (i >= 0) i else -i - 1
        at < ids.length && ids(at) <= mx
      }).map(_.path)
    if (candidates.isEmpty) return IvfForgetReport(pv, 0L, 0)
    val idsDf = broadcast(ids.toSeq.toDF("vec_id"))
    // level 2: of the candidates, the files that actually hold a victim
    val victimFiles = ManifestTable.readFiles(spark, pr, candidates)
      .join(idsDf, Seq("vec_id"), "left_semi")
      .select(input_file_name().as("f")).distinct()
      .collect().map(r => ManifestTable.manifestPathOf(spark, pr, r.getString(0)))
      .toSeq.sorted
    if (victimFiles.isEmpty) return IvfForgetReport(pv, 0L, 0)
    val touched = ManifestTable.readFiles(spark, pr, victimFiles)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nPurged = touched.join(idsDf, Seq("vec_id"), "left_semi").count()
      val survivors = touched.join(idsDf, Seq("vec_id"), "left_anti")
      val entries = ManifestTable.writeFiles(spark, pr, Seq(ManifestTable.WriteSet(
        survivors, survivors.columns.filter(_ != "p_cell").toSeq,
        ManifestTable.partitionDir(Seq("p_cell")), lit(0), None, Seq("vec_id"))))
        .map(_._1)
      // the rewrite changes no assignment, so the new snapshot pairs with
      // the SAME model — the ref rides the commit's own meta lines (atomic
      // with the snapshot), and the expected-version CAS rejects a racing
      // tickWithIndex BEFORE this commit lands, never after (round-13's
      // post-commit require left an unresolvable committed snapshot)
      val mv = modelVersionOf(spark, root, pv)
      val v = ManifestTable.commitRewriteFiles(spark, pr, victimFiles, entries,
        expectedVersion = Some(pv), meta = Map("model_version" -> mv.toString))
      require(v == pv + 1 && modelVersionOf(spark, root, v) == mv,
        s"concurrent writer detected: purge committed v$v, planned ${pv + 1}")
      ManifestTable.vacuum(spark, pr)
      IvfForgetReport(v, nPurged, victimFiles.size)
    } finally touched.unpersist()
  }

  /** The model version postings snapshot `postingsVersion` was assigned
    * under, from the commit's own meta. Every postings commit records it,
    * so a version without it is a foreign or tampered root and throws.
    */
  def modelVersionOf(spark: SparkSession, root: String,
                     postingsVersion: Long): Long =
    ManifestTable.commitMeta(spark, postingsRoot(root), postingsVersion)
      .get("model_version").map(_.toLong)
      .getOrElse(throw new IllegalStateException(
        s"postings v$postingsVersion at $root records no model_version"))

  /** The tick id postings snapshot `postingsVersion` was committed under,
    * if any — the [[ingestBatch]] replay marker (absent = an untracked
    * commit, e.g. a purge).
    */
  private def postingsTickOf(spark: SparkSession, root: String,
                             postingsVersion: Long): Option[String] =
    ManifestTable.commitMeta(spark, postingsRoot(root), postingsVersion)
      .get("tick_id")

  /** Whether ANY of `ids` is already posted — the replay backstop for
    * composed platform ticks ([[CorpusStore.tickWithIndex]]): a tick's
    * postings land in ONE atomic commit, so presence of any of the tick's
    * keeper vectors proves the whole tick's postings landed and the tick
    * can be skipped without its `_ticks_ivf` marker (which thereby becomes
    * prunable fast-path state, like the corpus markers). The scan plans
    * only over files whose per-file vec_id min/max stats can hold a
    * candidate id (the [[annIvfSelf]] pruning), so the check is
    * O(candidate-range files), not O(postings).
    */
  def anyPosted(spark: SparkSession, root: String, ids: Array[Long]): Boolean = {
    import spark.implicits._
    if (ids.isEmpty) false
    else ManifestTable.currentVersion(spark, postingsRoot(root)) match {
      case None => false
      case Some(pv) =>
        val sorted = ids.sorted
        val kept = ManifestTable.entriesOf(spark, postingsRoot(root), pv)
          .filter(_.stats.get("vec_id").forall { case (mn, mx) =>
            val i = java.util.Arrays.binarySearch(sorted, mn)
            val at = if (i >= 0) i else -i - 1
            at < sorted.length && sorted(at) <= mx
          })
        kept.nonEmpty &&
          !ManifestTable.readFiles(spark, postingsRoot(root), kept.map(_.path))
            .select(col("vec_id"))
            .join(broadcast(sorted.toSeq.toDF("vec_id")), Seq("vec_id"),
              "left_semi")
            .isEmpty
    }
  }

  /** Driver-side mirror of the probe expression: the same left-to-right
    * IEEE fold as `graft_dot` and the same ascending (−cosine, cid) order
    * as the `array_sort(struct(nc, cid))` probe list — so the staged
    * search probes exactly the cells the self-contained plan probes.
    */
  private def probesOf(cents: Seq[Array[Double]], qv: Array[Double],
                       nProbe: Int): Seq[Int] = {
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0
      var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    cents.zipWithIndex.map { case (cv, c) => (-dot(cv, qv), c) }
      .sortBy(identity).take(nProbe).map(_._2)
  }

  /** Multi-probe search over the staged index, reading ONLY the probed
    * cells' files. `unitQueries` = (query_id, qv) with UNIT query vectors
    * (request-scale, supplied by the caller). The postings version — and
    * through the model ref, the centroids — are resolved ONCE.
    */
  def annIvf(spark: SparkSession, root: String, unitQueries: DataFrame,
             k: Int = 5, nProbe: Int = 2): DataFrame =
    annIvfPinned(spark, root, pinnedVersion(spark, root), unitQueries, k, nProbe)

  /** The oracle-parity self-query form ([[Similarity.annIvf]]'s contract:
    * queries are the corpus vectors with vec_id < nQueries): query fetch
    * and member scan share ONE pinned postings version — a tick committing
    * mid-search cannot mix snapshots — and the query fetch plans only over
    * files whose vec_id stats can hold the query ids.
    */
  def annIvfSelf(spark: SparkSession, root: String, k: Int = 5,
                 nProbe: Int = 2, nQueries: Int = 8): DataFrame = {
    val pv = pinnedVersion(spark, root)
    val entries = ManifestTable.entriesOf(spark, postingsRoot(root), pv)
    val qFiles = ManifestTable
      .pruneEntries(entries, "vec_id", 0L, nQueries - 1L).map(_.path)
    val q = ManifestTable.readFiles(spark, postingsRoot(root), qFiles,
        pinned = entries.map(_.path))
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    annIvfPinned(spark, root, pv, q, k, nProbe)
  }

  private def pinnedVersion(spark: SparkSession, root: String): Long =
    ManifestTable.currentVersion(spark, postingsRoot(root))
      .getOrElse(throw new IllegalStateException(s"no postings snapshot at $root"))

  private def annIvfPinned(spark: SparkSession, root: String, pv: Long,
                           unitQueries: DataFrame, k: Int,
                           nProbe: Int): DataFrame = {
    import spark.implicits._
    val cents = CentroidStore.readCentroidsAt(spark, modelRoot(root),
      modelVersionOf(spark, root, pv))
    val qvs = unitQueries.select(col("query_id"), col("qv")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val qProbes = qvs.toSeq.flatMap { case (qid, qv) =>
      probesOf(cents, qv, nProbe).map(c => (qid, qv.toSeq, c.toLong))
    }
    val probed = qProbes.map(_._3).toSet
    val allFiles = ManifestTable.filesOf(spark, postingsRoot(root), pv)
    // partition-path pruning: only files under a probed p_cell=… dir plan.
    // Empty probed cells (possible under skew — a centroid can end with no
    // members) just contribute no files; like the self-contained form, the
    // affected query returns no rows rather than erroring.
    val files = allFiles.filter(f => probed.exists(c => f.startsWith(s"p_cell=$c/")))
    val members = ManifestTable.readFiles(spark, postingsRoot(root), files,
        pinned = allFiles)
      .select(col("vec_id"), col("v"), col("centroid_id"))
    val q = qProbes.toDF("query_id", "qv", "probe_cid")
    Similarity.ivfSearchKernel(members, q, k)
  }
}
