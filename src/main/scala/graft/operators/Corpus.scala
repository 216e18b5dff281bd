package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The composed training-corpus preparation pipeline — the flagship
  * END-TO-END of the LLM-data operators, in the canonical order a corpus
  * build runs them:
  *
  *   quality gate → exact dedup → near-dup dedup (LSH + connected
  *   components, min-doc_id survivor per group) → corpus stats.
  *
  * Each stage is an existing operator ([[TextOps.textQuality]],
  * [[Dedup.exactDedup]] semantics, [[Dedup.minhashLshPairs]] +
  * [[Dedup.connectedComponents]]); the composition is pure DataFrame
  * chaining, so Catalyst plans it as one DAG — the quality filter prunes
  * before any shingling work, the pair generation only sees surviving
  * documents, and nothing materializes between stages unless the session
  * chooses to (at 100 TB, stage outputs would be staged tables, but the
  * declared plan is identical either way).
  */
object Corpus {

  /** Surviving-corpus statistics per (lang, source). `minQuality` is
    * compared against the 4-dp-rounded quality score (bit-identical in both
    * engines), so the gate boundary is exact.
    */
  def cleanCorpusStats(docs: DataFrame, minQuality: Double = 0.70): DataFrame =
    cleanedSurvivors(docs, minQuality)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))

  /** Dedup observability: per (lang, source) — how many documents the
    * exact and near-dup stages each remove, and the survival rate. The
    * numbers a corpus build publishes per tick to catch a source gone
    * degenerate (a crawler re-emitting one page, a boilerplate explosion)
    * before it trains. Same kernels as [[cleanCorpusStats]] minus the
    * quality gate, so rates reconcile with the pipeline's own decisions.
    */
  def dedupRates(docs: DataFrame): DataFrame = {
    // skew-immune exact stage (see Dedup.keepMinBy)
    val exactKept = Dedup.keepMinBy(docs, md5(col("text")), col("doc_id"))
    val nearRemoved = Dedup.connectedComponents(
      Dedup.minhashLshPairs(exactKept).select(col("doc_a"), col("doc_b")))
      .filter(col("node") =!= col("component"))
      .select(col("node").as("doc_id"))
    val total = docs.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"))
    val kept = exactKept.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_exact_kept"))
    val near = exactKept.join(nearRemoved, Seq("doc_id"), "left_semi")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_near_removed"))
    total.join(kept, Seq("lang", "source"), "left")
      .join(near, Seq("lang", "source"), "left")
      .withColumn("n_exact_kept", coalesce(col("n_exact_kept"), lit(0L)))
      .withColumn("n_near_removed", coalesce(col("n_near_removed"), lit(0L)))
      .withColumn("n_exact_removed", col("n_docs") - col("n_exact_kept"))
      .withColumn("survival_rate", bround(
        (col("n_exact_kept") - col("n_near_removed")).cast("double") / col("n_docs"), 4))
      .select(col("lang"), col("source"), col("n_docs"),
        col("n_exact_removed"), col("n_near_removed"), col("survival_rate"))
  }

  /** Quality gate → exact dedup → near-dup canonical survivors, returning
    * the surviving document rows themselves (the stage chain
    * [[cleanCorpusStats]] aggregates and [[corpusPipeline]] continues).
    */
  private def cleanedSurvivors(docs: DataFrame, minQuality: Double): DataFrame =
    survivorStages(docs, minQuality)._3

  /** The stage-1 chain with each boundary exposed: (quality-gated,
    * exact-deduped, near-dup survivors) — [[cleanedSurvivors]] consumes
    * only the last; [[pipelineFunnel]] counts all three.
    */
  private def survivorStages(docs: DataFrame, minQuality: Double)
      : (DataFrame, DataFrame, DataFrame) = {
    // inline per-row gate — no metrics self-join; the filter runs inside
    // the scan stage and prunes before any shingling work
    val clean = docs.filter(TextOps.qualityScore(col("text")) >= minQuality)
    // exact dedup: lowest doc_id survives per identical text — a partial-
    // aggregating min_by (skew-immune: a boilerplate text with millions of
    // copies combines map-side instead of landing in one window task)
    val deduped = Dedup.keepMinBy(clean, md5(col("text")), col("doc_id"))
    // near-dup groups among the survivors: keep the canonical (minimum)
    // member of each component; docs in no pair never enter the graph and
    // survive by the null branch
    val groups = Dedup.connectedComponents(
      Dedup.minhashLshPairs(deduped).select(col("doc_a"), col("doc_b")))
    val survivors = deduped
      .join(groups, deduped("doc_id") === groups("node"), "left")
      .filter(col("node").isNull || col("component") === col("doc_id"))
      .drop("node", "component")
    (clean, deduped, survivors)
  }

  /** THE end-to-end training-corpus build — every curation stage the suite
    * implements, chained into one declared DAG from raw `documents` to the
    * per-shard packed training manifest a data loader reads:
    *
    *   1. quality gate → exact dedup → near-dup canonical survivors
    *      ([[cleanedSurvivors]]: the [[cleanCorpusStats]] chain)
    *   2. C4 boilerplate scrub ([[TextOps.scrubBoilerplate]], lang/source
    *      riding the per-doc aggregate); fully-boilerplate docs drop
    *   3. PII redaction ([[TextOps.redactPii]], map-side)
    *   4. perplexity gate ([[TextOps.perplexityScores]] `keep` — the LM
    *      trains on the `doc_id % 10 < 3` slice of the SCRUBBED corpus) ∧
    *      classifier gate ([[TextOps.classifierScores]] `label`), applied
    *      as one semi-join per id set (docs with <2 tokens have no bigrams
    *      and drop at the perplexity gate, the operator's own contract)
    *   5. decontamination ([[contaminationScores]] over the gated set:
    *      train-split docs only, ≥20% held-out shingle overlap drops)
    *   6. temperature mixture → per-source token budgets
    *      (`floor(mix_weight · totalBudget)`, the [[Sampling.mixtureWeights]]
    *      α=0.5 fixed-point rule in the REGEX-token unit so mixing, sampling
    *      and packing all account in the same currency) → deterministic
    *      hash-order prefix sampling ([[Sampling.budgetSample]]'s fill rule)
    *   7. global training order ([[Sampling.trainingOrder]]) → round-robin
    *      shards → per-shard sequence packing ([[packBins]]'s fill rule in
    *      `train_rank` order)
    *
    * Output: one row per (shard, bin) — the packed-sequence manifest —
    * with doc and token counts, all exact integers.
    *
    * Scale shape: stages 1–3 fuse into the survivor DAG (gates inside the
    * scan stage, one chunk-hash shuffle for the scrub); each gate in 4–5 is
    * one ids-only semi-join (AQE broadcasts the id sets when they fit);
    * stage 6 is one window cumsum keyed on source plus a source-count-sized
    * broadcast of budgets; stage 7 is the range-partitioned rank stamp and
    * ONE window keyed on shard — at production, `nShards` is O(loader
    * workers), so the packing window parallelizes across shards. The
    * multiply-referenced frames (`red`, `gated`, `toks`, `kept`) are
    * stage cuts (`stageCut`: cached, plan-truncated) — Catalyst duplicates
    * uncached common subtrees, and each feeds 2–3 consumers.
    */
  def corpusPipeline(docs: DataFrame,
                     minQuality: Double = 0.70,
                     perplexityThreshold: Double = 3.5,
                     flagAt: Double = 0.2,
                     totalBudget: Long = 20000L,
                     nShards: Int = 8,
                     seqBudget: Long = 1024L,
                     seed: String = "graft"): DataFrame =
    pipelineTail(cleanedSurvivors(docs, minQuality),
      perplexityThreshold, flagAt, totalBudget, nShards, seqBudget, seed)

  /** THE INCREMENTAL end-to-end corpus build — the production arrival-order
    * form of [[corpusPipeline]]: documents land in `nWaves` arrival waves
    * (`doc_id % nWaves`, the [[Dedup.sequentialIngest]] convention), each
    * wave is quality-gated and then greedily deduplicated against
    * everything kept so far (first-arrival-wins — the store-backed
    * [[CorpusStore.tick]] semantics, spec-identical), and the
    * accumulated keepers flow through the SAME stage 2–7 tail as the
    * batch build.
    *
    * Two deliberate contract differences from [[corpusPipeline]]:
    * exact-duplicate survivorship is first ARRIVAL wins, not min doc_id
    * (an explicit md5-keyed pre-dedup ordered by (wave, doc_id) — the
    * ingest fold alone would catch shingle-full copies at jaccard 1.0
    * but docs with < [[Dedup.ShingleK]] tokens have no shingles and
    * never co-bucket, so the exact rule must not ride the near-dup
    * machinery), and near-dup survivorship is greedy per arrival order
    * rather than symmetric connected components — the trade a corpus
    * that grows batch by batch actually makes.
    * Stages 6–7 (budgets, global order, packing) rebuild from the
    * accumulated keeper metadata, which is the scale design: per-tick
    * work is O(batch + touched buckets), the global manifest rebuild is
    * a metadata-scale pass over (doc_id, source, n_tokens).
    */
  def corpusPipelineIncremental(docs: DataFrame,
                                nWaves: Int = 3,
                                minQuality: Double = 0.70,
                                perplexityThreshold: Double = 3.5,
                                flagAt: Double = 0.2,
                                totalBudget: Long = 20000L,
                                nShards: Int = 8,
                                seqBudget: Long = 1024L,
                                seed: String = "graft"): DataFrame = {
    // fail fast, not just in pipelineTail: the ingest fold below runs its
    // Spark jobs when called (it decides the keepers on the driver), so
    // deferring to the tail's require would run the whole fold before
    // rejecting a bad shard count
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    pipelineTail(incrementalSurvivorStages(docs, nWaves, minQuality)._3,
      perplexityThreshold, flagAt, totalBudget, nShards, seqBudget, seed)
  }

  /** The incremental stage-1 chain with each boundary exposed —
    * [[corpusPipelineIncremental]] consumes only the survivors;
    * [[pipelineFunnelIncremental]] counts all three.
    */
  private def incrementalSurvivorStages(docs: DataFrame, nWaves: Int,
                                        minQuality: Double)
      : (DataFrame, DataFrame, DataFrame) = {
    // persisted: each ingest wave filters it and the survivors join reads
    // it again — unpersisted, the scan + quality regexes would re-run
    // nWaves+1 times (module persist policy, same as pipelineTail's frames)
    val clean = docs.filter(TextOps.qualityScore(col("text")) >= minQuality)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // exact duplicates, first-arrival-wins: earliest wave, then min doc_id
    // (the same tie the within-wave components resolve). Explicit because
    // the fold's jaccard-1.0 path only sees shingle-FULL copies — a
    // < ShingleK-token doc has null bands and never co-buckets, so two
    // identical tiny docs in different waves would otherwise both survive.
    // Same skew-immune min_by kernel as cleanedSurvivors, ordered by
    // (wave, doc_id) via a struct ordering key.
    // persisted: the wave fold filters this frame once PER WAVE (and the
    // funnel counts it once more) — unpersisted, the md5 window shuffle
    // re-runs nWaves+1 times for one materialization's worth of work
    val exact = Dedup.keepMinBy(clean, md5(col("text")),
      struct(col("doc_id") % nWaves, col("doc_id")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keepers = Dedup.sequentialIngest(exact, nWaves)
    val survivors = clean.join(keepers.select(col("doc_id")), Seq("doc_id"), "left_semi")
    (clean, exact, survivors)
  }

  /** The tail's corpus-dependent MODEL state — the perplexity LM (bigram
    * counts + per-lang vocabulary) and the held-out decontamination
    * shingle set. These are deterministic functions of the survivor set,
    * so a versioned store can stage them per snapshot ([[CorpusStore]]'s
    * `_models/v{N}` sidecars) and a loader refresh over an unchanged
    * snapshot reuses them instead of re-training.
    */
  case class TailModels(lmBigrams: DataFrame, lmVocab: DataFrame,
                        heldShingles: DataFrame)

  /** Stages 2–7 of the corpus build (everything after survivor selection):
    * scrub → redact → LM/classifier gates → split + contamination →
    * mixture budgets + prefix fill → order → shards → packed manifest.
    */
  private[operators] def pipelineTail(survivors: DataFrame,
                           perplexityThreshold: Double,
                           flagAt: Double,
                           totalBudget: Long,
                           nShards: Int,
                           seqBudget: Long,
                           seed: String): DataFrame =
    tailStages(survivors, perplexityThreshold, flagAt, totalBudget,
      nShards, seqBudget, seed).manifest

  /** [[pipelineTail]] with the corpus-dependent models surfaced: returns
    * the manifest plus the [[TailModels]] it used — freshly derived when
    * `staged` is None (the caller may then persist them as version
    * sidecars), or exactly the supplied ones. Output is byte-identical
    * either way when the staged frames equal the derived ones
    * (spec-asserted).
    */
  private[operators] def pipelineTailWithModels(survivors: DataFrame,
                           perplexityThreshold: Double,
                           flagAt: Double,
                           totalBudget: Long,
                           nShards: Int,
                           seqBudget: Long,
                           seed: String,
                           staged: Option[TailModels])
      : (DataFrame, TailModels) = {
    val t = tailStages(survivors, perplexityThreshold, flagAt, totalBudget,
      nShards, seqBudget, seed, staged)
    (t.manifest, t.models)
  }

  /** The tail's stage boundaries, exposed for [[pipelineFunnel]]'s counts
    * — the same frames [[pipelineTail]] wires, so the funnel can never
    * drift from the pipeline's real decisions.
    */
  private case class TailStages(red: DataFrame, gated: DataFrame,
                                train: DataFrame, toks: DataFrame,
                                kept: DataFrame, manifest: DataFrame,
                                models: TailModels)

  /** Cache + PLAN-TRUNCATE a multiply-consumed stage frame: lazy
    * `localCheckpoint` instead of a bare `persist`. The persist alone kept
    * the data cached but left the LOGICAL plan intact, and the tail's plans
    * compound multiplicatively — `gated` embeds `red` three times (the
    * frame + both gate semi-joins), `decon` embeds `gated` ~four times,
    * `kept` embeds `toks` three more — so the funnel/pipeline analyzed
    * trees reached 7–15 MILLION formatted characters (measured, see the
    * `_before.txt` captures under plans/r15). Analysis, cache-lookup
    * `sameResult` probes,
    * and listener plan-string rendering over that tree were per-action
    * driver CPU. The lazy localCheckpoint truncates each stage to a
    * LogicalRDD leaf (the optimization-guide §3.3 remedy), collapsing the
    * downstream plans to ~100 KB, while the RDD itself stays cached
    * (localCheckpoint persists MEMORY_AND_DISK) exactly like the persist
    * it replaces. `eager = false` keeps materialization inside the first
    * consuming action — nothing moves out of the benched region.
    * FAULT-TOLERANCE TRADE, explicit: the blocks live executor-local with
    * lineage truncated, so an executor loss (decommission, dynamic
    * allocation, spot preemption) makes them unrecoverable and fails the
    * query instead of recomputing — not for dynamic-allocation or
    * preemptible clusters. Cache lifecycle passes from the session's
    * clearCache to GC + ContextCleaner.
    */
  private def stageCut(df: DataFrame): DataFrame =
    df.localCheckpoint(false)

  private def tailStages(survivors: DataFrame,
                         perplexityThreshold: Double,
                         flagAt: Double,
                         totalBudget: Long,
                         nShards: Int,
                         seqBudget: Long,
                         seed: String,
                         staged: Option[TailModels] = None): TailStages = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.storage.StorageLevel
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val red = stageCut(
      TextOps.scrubBoilerplate(survivors, passthrough = Seq("lang", "source"))
      .filter(length(col("clean_text")) > 0)
      .select(col("doc_id"), col("lang"), col("source"),
        TextOps.redactPii(col("clean_text")).as("text")))
    // the perplexity LM: staged (a versioned sidecar) or freshly trained on
    // the reference slice of the scrubbed corpus; fresh counts persist (cb
    // feeds both the score join and the continuation-total derivation)
    val (lmB, lmV) = staged.map(m => (m.lmBigrams, m.lmVocab)).getOrElse {
      val (cb, v) = TextOps.perplexityModel(red)
      (cb.persist(StorageLevel.MEMORY_AND_DISK), v)
    }
    val pKeep = TextOps.perplexityScoresWith(red, lmB, lmV,
      threshold = perplexityThreshold)
      .filter(col("keep")).select(col("doc_id"))
    val cKeep = TextOps.classifierScores(red).filter(col("label"))
      .select(col("doc_id"))
    val gated = stageCut(red
      .join(pKeep, Seq("doc_id"), "left_semi")
      .join(cKeep, Seq("doc_id"), "left_semi"))
    // the TRAIN split continues; val/test docs leave the pipeline HERE, as
    // an explicit filter (contaminationScores only scores train docs — a
    // bare semi-join against it would drop the other splits as an invisible
    // join side effect). Same doc_id hash as contaminationScores' internal
    // split, so the two agree row-for-row.
    val train = Sampling.trainValTestSplit(gated, col("doc_id"))
      .filter(col("split") === "train").drop("split")
    // the held-out shingle set: staged sidecar or derived from this
    // snapshot's gated set — identical by determinism. The FRESH path
    // shares ONE persisted docShingleSets frame between the held-out
    // derivation and the train-side scoring (the contaminationScores
    // single-pass shape): unshared, the tokenize→shingle pass over the
    // gated corpus ran twice per build.
    val (held, conScores) = staged match {
      case Some(m) =>
        (m.heldShingles, contaminationScoresWith(gated, m.heldShingles,
          flagAt = flagAt))
      case None =>
        val sets = docShingleSets(gated, 8)
          .persist(StorageLevel.MEMORY_AND_DISK)
        val h = heldFromSets(sets)
        (h, scoreTrainSets(sets, h, flagAt))
    }
    val decon = train.join(
      conScores.filter(!col("flagged")).select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    val toks = stageCut(decon.select(col("source"), col("doc_id"),
      size(regexp_extract_all(col("text"), lit(TextOps.tokenPattern), lit(0)))
        .cast("long").as("n_tokens")))
    val perSource = toks.groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("src_tokens"))
    val total = perSource.agg(sum(col("src_tokens")).as("__t"))
    // the mixtureWeights fixed-point contract: sqrt (correctly rounded both
    // engines), Σ floor(sqrt(share)·1e9) as order-free LONGs, and the
    // budget floors the ROUNDED weight so both engines floor the same double
    val budgets = perSource.crossJoin(broadcast(total))
      .withColumn("__q", floor(
        sqrt(col("src_tokens").cast("double") / col("__t")) * lit(1.0e9)).cast("long"))
      .withColumn("__denom", sum(col("__q")).over(Window.partitionBy()))
      .select(col("source"),
        floor(bround(col("__q").cast("double") / col("__denom"), 4)
          * totalBudget).cast("long").as("budget"))
    val wCum = Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    // cached + plan-cut: both the rank stamp and the token join-back
    // consume it, and an uncached reference would re-run the cumsum window
    // (and the budget aggregate below it) once per consumer
    val kept = stageCut(toks
      .withColumn("__cum", sum(col("n_tokens")).over(wCum))
      .join(broadcast(budgets), Seq("source"))
      .filter(col("__cum") - col("n_tokens") < col("budget")))
    val ranked = Sampling.trainingOrder(kept.select(col("doc_id")), seed)
      .join(kept.select(col("doc_id"), col("n_tokens")), Seq("doc_id"))
      .withColumn("shard", col("train_rank") % nShards)
    val wPack = Window.partitionBy(col("shard")).orderBy(col("train_rank"))
    val manifest = ranked
      .withColumn("__cum", sum(col("n_tokens")).over(wPack))
      .withColumn("bin", expr(s"(__cum - n_tokens) div $seqBudget"))
      .groupBy(col("shard"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("bin_tokens"))
    TailStages(red, gated, train, toks, kept, manifest,
      staged.getOrElse(TailModels(lmB, lmV, held)))
  }

  /** Per-stage survivor counts of the batch pipeline — the funnel a corpus
    * build publishes per tick so a collapse at any gate (a quality
    * threshold eating a source, a decontamination set gone degenerate, a
    * budget starving the mix) is visible as ONE ordered row set instead of
    * nine ad-hoc counts. Counts come from the SAME frames
    * [[corpusPipeline]] wires (the [[survivorStages]]/[[tailStages]]
    * boundaries), so the funnel can never disagree with the build's own
    * decisions.
    *
    * Scale shape: nine 1-row count aggregates over the pipeline's shared
    * DAG; the multiply-consumed frames are the tail's stage cuts exactly
    * as in the build, and the stage-1 chain is persisted here (each count
    * is a separate action — unpersisted, the quality regexes would re-run
    * once per downstream stage).
    */
  def pipelineFunnel(docs: DataFrame,
                     minQuality: Double = 0.70,
                     perplexityThreshold: Double = 3.5,
                     flagAt: Double = 0.2,
                     totalBudget: Long = 20000L,
                     nShards: Int = 8,
                     seqBudget: Long = 1024L,
                     seed: String = "graft"): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val (clean0, deduped0, survivors0) =
      survivorStages(docs, minQuality)
    // persisting AFTER the chain is built still caches for the downstream
    // frames: Spark matches cached data by logical plan, and deduped0/
    // survivors0 embed clean0's exact plan as their child
    val clean = clean0.persist(StorageLevel.MEMORY_AND_DISK)
    val survivors = survivors0.persist(StorageLevel.MEMORY_AND_DISK)
    funnelFrom(docs, clean, deduped0, survivors,
      perplexityThreshold, flagAt, totalBudget, nShards, seqBudget, seed)
  }

  /** [[pipelineFunnel]] for the arrival-order build — the funnel the
    * PRODUCTION pipeline ([[corpusPipelineIncremental]]) publishes per
    * tick: stage 2 is the exact first-arrival-wins pre-dedup and stage 3
    * the greedy wave-vs-store ingest fold, then the identical tail counts.
    */
  def pipelineFunnelIncremental(docs: DataFrame,
                                nWaves: Int = 3,
                                minQuality: Double = 0.70,
                                perplexityThreshold: Double = 3.5,
                                flagAt: Double = 0.2,
                                totalBudget: Long = 20000L,
                                nShards: Int = 8,
                                seqBudget: Long = 1024L,
                                seed: String = "graft"): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val (clean, exact, survivors0) =
      incrementalSurvivorStages(docs, nWaves, minQuality)
    // clean is persisted by the stage chain (the wave fold re-reads it);
    // survivors feeds both its own count and the whole tail
    val survivors = survivors0.persist(StorageLevel.MEMORY_AND_DISK)
    funnelFrom(docs, clean, exact, survivors,
      perplexityThreshold, flagAt, totalBudget, nShards, seqBudget, seed)
  }

  /** The shared funnel close: nine 1-row counts over the stage frames
    * (stage-1 boundaries passed in, tail boundaries from [[tailStages]]).
    */
  private def funnelFrom(docs: DataFrame, clean: DataFrame, exact: DataFrame,
                         survivors: DataFrame,
                         perplexityThreshold: Double, flagAt: Double,
                         totalBudget: Long, nShards: Int, seqBudget: Long,
                         seed: String): DataFrame = {
    val t = tailStages(survivors, perplexityThreshold, flagAt, totalBudget,
      nShards, seqBudget, seed)
    val stages: Seq[(Long, String, DataFrame)] = Seq(
      (0L, "raw", docs),
      (1L, "quality_gate", clean),
      (2L, "exact_dedup", exact),
      (3L, "near_dedup", survivors),
      (4L, "boilerplate_scrub", t.red),
      (5L, "model_gates", t.gated),
      (6L, "train_split", t.train),
      (7L, "decontaminated", t.toks), // 1 row per decon doc (token stamp)
      (8L, "budget_kept", t.kept))
    stages.map { case (i, name, df) =>
      df.agg(count(lit(1)).as("n_docs"))
        .select(lit(i).as("stage_idx"), lit(name).as("stage"), col("n_docs"))
    }.reduce(_.union(_))
  }

  /** Token-budget sequence packing (contiguous fill): documents of one
    * stratum, in deterministic doc_id order, are packed into bins of
    * `budget` tokens — each doc lands in the bin its START offset falls in
    * (`(cumsum − own) div budget`). One window cumsum per stratum, single
    * shuffle; first-fit-decreasing would pack marginally tighter but is
    * inherently sequential, while this fill is order-deterministic, scales
    * as a plain window, and overshoots each bin by at most one document.
    * Tokens are the regex tokenizer's count ([[TextOps.tokenCount]]'s
    * `n_re_tokens`), so packing and token accounting agree.
    */
  def packBins(docs: DataFrame, budget: Long = 4096): DataFrame = {
    val toks = size(regexp_extract_all(col("text"), lit(TextOps.tokenPattern), lit(0)))
      .cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("doc_id"))
    docs.select(col("lang"), col("doc_id"), toks.as("n_tokens"))
      .withColumn("__cum", sum(col("n_tokens")).over(w))
      .withColumn("bin", expr(s"(__cum - n_tokens) div $budget"))
      .groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("bin_tokens"))
  }

  /** Split-aware decontamination: TRAIN documents sharing any `k`-token
    * shingle with a held-out (val/test) document, with the count of shared
    * distinct shingles — the n-gram-overlap contamination check run before
    * training, composed from [[Sampling.trainValTestSplit]] and the dedup
    * pipeline's [[Shingles]]. Shape at scale: explode to (shingle, doc)
    * pairs, distinct the held-out shingle set, one semi-join keyed on the
    * shingle — the same single-shuffle form regardless of corpus size; k=8
    * keeps the shingle space sparse (stopword runs don't collide the way
    * minhash's k=3 shingles deliberately do).
    */
  def decontaminate(docs: DataFrame, k: Int = 8): DataFrame = {
    val split = Sampling.trainValTestSplit(docs, col("doc_id"))
    // token array staged before the shingle lambda (the TextOps.tokens()
    // evaluation contract — captured, the split re-ran per shingle)
    val shingled = split
      .select(col("doc_id"), col("split"),
        TextOps.tokens(col("text")).as("__toks"))
      .select(col("doc_id"), col("split"),
        explode(array_distinct(
          Shingles.shingles(col("__toks"), k))).as("shingle"))
    val held = shingled.filter(col("split") =!= "train")
      .select(col("shingle")).distinct()
    shingled.filter(col("split") === "train")
      .join(held, Seq("shingle"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_contaminated_shingles"))
  }

  /** [[decontaminate]] with a Bloom prefilter — the 100 TB shape. The plain
    * form shuffles EVERY train shingle into the semi-join; at corpus scale
    * that is the dominant cost even though held-out shingles are rare in
    * train data (that's the point of decontamination). Here the held-out
    * distinct shingle set is folded into a Bloom filter (one small
    * aggregate, a few MB), joined on as a broadcast scalar, and the
    * map-side `might_contain` drops the overwhelming non-candidate mass
    * BEFORE the shuffle; the exact semi-join then removes Bloom false
    * positives. No false negatives exist, so the result — and the DuckDB
    * oracle — is IDENTICAL to the exact form; only the shuffled volume
    * changes (from all train shingles to true matches + ~fpp of the rest).
    *
    * Uses Spark's own `BloomFilterAggregate`/`BloomFilterMightContain`
    * (the runtime row-level-filtering kernels, codegen'd), registered on
    * the session under `graft_` names since the builtin registry does not
    * expose them ([[graft.functions.TextExpressions.registerBloom]]).
    * `numBits` defaults to ~9.6 bits/item at the `expectedItems` estimate
    * (~1% fpp); an under-estimate only raises fpp — never correctness.
    *
    * CONF DEPENDENCY: `BloomFilterAggregate` silently clamps `numBits` to
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumBits` (default 67108864
    * = 8 MB), so above ~6.7M expected held-out shingles the real fpp
    * degrades past the advertised ~1% and the shuffle-pruning benefit
    * erodes — correctness never changes (the semi-join stays exact). At
    * 100 TB, raise that conf alongside `expectedItems` (held-out sets are
    * bounded by the eval suites, so 8 MB covers most real deployments).
    */
  def decontaminateBloom(docs: DataFrame, k: Int = 8,
                         expectedItems: Long = 1L << 20): DataFrame = {
    graft.functions.TextExpressions.registerBloom(docs.sparkSession)
    val split = Sampling.trainValTestSplit(docs, col("doc_id"))
    // token array staged before the shingle lambda (the TextOps.tokens()
    // evaluation contract — captured, the split re-ran per shingle)
    val shingled = split
      .select(col("doc_id"), col("split"),
        TextOps.tokens(col("text")).as("__toks"))
      .select(col("doc_id"), col("split"),
        explode(array_distinct(
          Shingles.shingles(col("__toks"), k))).as("shingle"))
    val held = shingled.filter(col("split") =!= "train")
      .select(col("shingle")).distinct()
    // scalar subquery: might_contain requires a constant/scalar bloom, and
    // the subquery broadcasts once — the probe runs inside the scan stage,
    // before any exchange
    val bloom = held.agg(call_function("graft_bloom_agg",
      xxhash64(col("shingle")), lit(expectedItems),
      lit(expectedItems * 10)).as("__bf")).scalar()
    shingled.filter(col("split") === "train")
      .filter(call_function("graft_might_contain",
        bloom, xxhash64(col("shingle"))))
      .join(held, Seq("shingle"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_contaminated_shingles"))
  }

  /** Per-document contamination SCORE for every train document — the
    * graded form of [[decontaminate]]: how much of each train doc's
    * distinct-`k`-shingle set appears in the held-out split, as a fraction,
    * plus the flag at `flagAt` (the usual policy is "drop above X% overlap",
    * not "drop on any hit" — one shared boilerplate sentence shouldn't kill
    * a document). Docs with fewer than `k` tokens have no shingles:
    * fraction null, never flagged.
    *
    * Scale shape: the heavy side is identical to [[decontaminate]] (explode
    * → distinct held-out set → one shingle-keyed semi-join, Bloom-prunable
    * the same way); the extra join-back of per-doc match counts onto the
    * train docs is broadcast-sized (bounded by contaminated docs, which
    * decontamination presumes are rare).
    */
  def contaminationScores(docs: DataFrame, k: Int = 8,
                          flagAt: Double = 0.2): DataFrame = {
    // ONE tokenize→shingle pass over the corpus: the per-doc shingle sets
    // are persisted and BOTH halves (the held-out distinct set and the
    // train-side scoring) filter the cached frame — the self-deriving form
    // previously derived docShingleSets twice (once per half), re-running
    // the scan + split + shingle lambda over every document (measured: the
    // two passes dominated q_contamination_scores). Same expressions, same
    // rows — only the second computation is gone (guide §1.2: don't
    // recompute what you already have). Cache lifecycle: the caller's
    // session owns the entries (the module persist policy).
    val sets = docShingleSets(docs, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    scoreTrainSets(sets, heldFromSets(sets), flagAt)
  }

  /** The held-out distinct shingle set off a prebuilt [[docShingleSets]]
    * frame — shared so the self-deriving scorer computes the sets once.
    */
  private def heldFromSets(sets: DataFrame): DataFrame =
    sets.filter(col("split") =!= "train")
      .select(explode(col("sh")).as("shingle")).distinct()

  /** The scoring half of [[contaminationScores]] against a supplied
    * held-out shingle set — byte-identical to the self-deriving form when
    * `held` equals the internally-derived set (spec-asserted).
    */
  def contaminationScoresWith(docs: DataFrame, held: DataFrame, k: Int = 8,
                              flagAt: Double = 0.2): DataFrame =
    scoreTrainSets(docShingleSets(docs, k), held, flagAt)

  /** Train-side scoring off a prebuilt [[docShingleSets]] frame. */
  private def scoreTrainSets(sets: DataFrame, held: DataFrame,
                             flagAt: Double): DataFrame = {
    // explode_OUTER + the per-doc size carried through: shingle-less docs
    // keep a null-shingle row (they must appear in the output), n_shingles
    // rides along so no join-back onto the train docs is needed, and the
    // shingle pass runs exactly once per row subset (one train, one held)
    val shingled = sets.filter(col("split") === "train")
      .select(col("doc_id"), size(col("sh")).cast("long").as("n_shingles"),
        explode_outer(col("sh")).as("shingle"))
    val heldHit = held.select(col("shingle")).distinct()
      .withColumn("__hit", lit(1L))
    // one shuffle join + one aggregate computes BOTH counts (vs the
    // semi-join + count + join-back form: same shuffled volume on the
    // heavy side, one fewer pass over the corpus text)
    shingled.join(heldHit, Seq("shingle"), "left")
      .groupBy(col("doc_id"))
      .agg(max(col("n_shingles")).as("n_shingles"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_contaminated"))
      .withColumn("contamination",
        when(col("n_shingles") > 0,
          col("n_contaminated").cast("double") / col("n_shingles")))
      .withColumn("flagged",
        col("contamination").isNotNull && col("contamination") >= flagAt)
  }

  /** (doc_id, split, sh) per-document distinct shingle sets with the
    * train/val/test stamp — the shared input of both contamination halves.
    * Token array staged before the shingle lambda (the TextOps.tokens()
    * evaluation contract — captured, the split re-ran per shingle).
    */
  private def docShingleSets(docs: DataFrame, k: Int): DataFrame =
    Sampling.trainValTestSplit(docs, col("doc_id"))
      .select(col("doc_id"), col("split"),
        TextOps.tokens(col("text")).as("__toks"))
      .select(col("doc_id"), col("split"),
        array_distinct(Shingles.shingles(col("__toks"), k)).as("sh"))
}
