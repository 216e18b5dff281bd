package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{lit, spark_partition_id}

/** Materialized quantized-ANN staging — the cross-query form of
  * [[Similarity.annQuantized]]'s in-plan staging.
  *
  * At 100 TB the whole point of scalar quantization is that SEARCH never
  * touches the float corpus: quantize ONCE per corpus snapshot into a
  * [[ManifestTable]] dataset of (vec_id, int8 codes, dequantized norm) —
  * 1/4 the scan bytes of the float embeddings — plus the fitted
  * per-dimension bounds as a one-row sidecar. Every subsequent query reads
  * only the staged codes: fit, quantize and the float scan are all
  * build-time costs, amortized across the query stream, and the staged
  * dataset lives under snapshot isolation (atomic manifest commit, vacuum
  * retention) rather than executor storage memory.
  *
  * MODEL/SNAPSHOT ATOMICITY: the bounds sidecar is versioned WITH the
  * snapshot — written to `_bounds/v{N}` for the version N the codes commit
  * will take, BEFORE that commit exists. A reader pinned to version v
  * therefore always reads the bounds v was quantized under; during a
  * build, readers still resolve the previous version and its matching
  * bounds. (The earlier in-place `_bounds` overwrite let a concurrent
  * reader pair NEW bounds with OLD codes — integer codes decode against
  * the wrong scale, silently wrong distances.)
  */
object QuantStore {

  private def boundsPath(root: String, version: Long) = s"$root/_bounds/v$version"

  /** Build (or refresh) the staged codes dataset + versioned bounds sidecar
    * for a corpus snapshot. Atomic snapshot replace (an empty-prefix
    * [[ManifestTable.commitReplace]]); single-writer (the manifest commit
    * is the linearization point, asserted against the precomputed
    * version).
    * Returns the committed version.
    */
  def build(emb: DataFrame, root: String): Long = {
    val qb = Similarity.fitQuantBounds(emb)
    commitCodes(emb.sparkSession, root, qb,
      Similarity.quantizeCodes(emb, qb), replaced = Seq(""))
  }

  /** Post-commit pairing check. The store is SINGLE-WRITER by contract
    * (one build per corpus snapshot); this makes a contract violation
    * LOUD instead of silently wrong: if a racing writer overwrote this
    * build's bounds between the bounds write and the codes commit, the
    * committed snapshot's codes would decode against the other build's
    * scale — so the bounds are read BACK at the committed version and
    * must byte-equal what this build fitted.
    */
  private def verifyModelCommit(spark: SparkSession, root: String,
                                version: Long, vNext: Long,
                                qb: Similarity.QuantBounds): Unit = {
    require(version == vNext,
      s"concurrent build detected: committed v$version, bounds staged for v$vNext")
    val back = readBoundsAt(spark, root, version)
    require(back.mns.sameElements(qb.mns) && back.mxs.sameElements(qb.mxs),
      s"concurrent build detected: bounds at v$version are not this build's " +
        "model — snapshot is mispaired, rebuild required")
  }

  /** One incremental ingest tick — the [[CorpusStore.tick]]
    * pattern for the quantized corpus: a NEW batch of embeddings is
    * quantized under the CURRENT snapshot's FROZEN bounds and APPENDED as
    * new files; the existing corpus codes are never re-read, re-quantized,
    * or re-shuffled (at 100 TB a full refit per tick is the non-viable
    * path this replaces). Out-of-distribution batch values saturate at the
    * range edges (the standard SQ behavior — reconstruction error for
    * clamped dimensions grows with drift, search stays well-defined);
    * schedule a full [[build]] refit when drift warrants it. The frozen
    * model is copied forward under the new version, so every
    * version-pinned (codes, bounds) pairing invariant holds unchanged.
    * Returns the committed version.
    */
  def ingestBatch(batchEmb: DataFrame, root: String): Long = {
    val spark = batchEmb.sparkSession
    val qb = readBoundsAt(spark, root, pinnedVersion(spark, root))
    // no partitions replaced = append: the previous snapshot's files carry
    // forward untouched; the frozen bounds are re-staged under the new
    // version, so the version-pinned (codes, bounds) pairing holds
    commitCodes(spark, root, qb,
      Similarity.quantizeCodes(batchEmb, qb, clamp = true), replaced = Seq.empty)
  }

  /** The single commit sequence both [[build]] and [[ingestBatch]] run —
    * the version-pairing invariant lives in exactly one place: stage the
    * bounds sidecar under the version the codes commit WILL take (model
    * and snapshot become visible together, at the commit), write the
    * codes into `data/`, commit, verify the pairing, then vacuum and prune
    * expired sidecars.
    */
  private def commitCodes(spark: SparkSession, root: String,
                          qb: Similarity.QuantBounds, codes: DataFrame,
                          replaced: Seq[String]): Long = {
    import spark.implicits._
    // one-row bounds sidecar: model metadata, dims-sized, never data-scale
    val vNext = ManifestTable.currentVersion(spark, root).getOrElse(0L) + 1L
    Seq((qb.mns.toSeq, qb.mxs.toSeq)).toDF("mns", "mxs")
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(boundsPath(root, vNext))
    val added = ManifestTable.writeFiles(spark, root, Seq(ManifestTable.WriteSet(
      codes, codes.columns.toSeq, lit(""), spark_partition_id(), None)))
    val version = ManifestTable.commitReplace(spark, root, replaced,
      added.map(_._1.path))
    verifyModelCommit(spark, root, version, vNext, qb)
    ManifestTable.vacuum(spark, root)
    pruneBounds(spark, root)
    version
  }

  /** Drop bounds sidecars whose snapshot was vacuumed (same retention as
    * the manifest; an orphan from a failed build is overwritten by the next
    * build of that version, and removed here once that version expires).
    */
  private def pruneBounds(spark: SparkSession, root: String): Unit = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    ManifestTable.pruneVersionDirs(fs, new Path(s"$root/_bounds"),
      ManifestTable.versions(spark, root).toSet)
  }

  /** The fitted bounds snapshot `version` was quantized under. */
  def readBoundsAt(spark: SparkSession, root: String,
                   version: Long): Similarity.QuantBounds = {
    val r = spark.read.parquet(boundsPath(root, version)).collect().head
    Similarity.QuantBounds(
      r.getSeq[Double](0).toArray, r.getSeq[Double](1).toArray)
  }

  /** The fitted bounds of the current snapshot. */
  def readBounds(spark: SparkSession, root: String): Similarity.QuantBounds =
    readBoundsAt(spark, root, pinnedVersion(spark, root))

  /** Staged codes of snapshot `version`. */
  def readAt(spark: SparkSession, root: String, version: Long): DataFrame =
    ManifestTable.readAt(spark, root, version)

  /** Latest staged codes snapshot. */
  def read(spark: SparkSession, root: String): DataFrame =
    readAt(spark, root, pinnedVersion(spark, root))

  private def pinnedVersion(spark: SparkSession, root: String): Long =
    ManifestTable.currentVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no committed snapshot at $root"))

  /** [[Similarity.annQuantized]] off the stage: identical scoring kernel and
    * output, but the only corpus-scale input is the staged int8 codes —
    * `unitQueries` = (query_id, qv) with unit query vectors (queries are
    * request-scale, supplied by the caller, not derived from the corpus).
    * The snapshot version is resolved ONCE and both codes and bounds read
    * at it — a commit landing mid-plan cannot mix model generations.
    */
  def annQuantized(spark: SparkSession, root: String,
                   unitQueries: DataFrame, k: Int = 5): DataFrame = {
    val v = pinnedVersion(spark, root)
    Similarity.annQuantizedFrom(readAt(spark, root, v),
      readBoundsAt(spark, root, v), unitQueries, k)
  }
}
