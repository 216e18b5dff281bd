package graft.operators

import java.util.UUID

import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** The continuously-built training corpus as ONE disk-backed store — the
  * production composition of the whole curation suite, and the corpus twin
  * of [[Orchestrator]]'s market-data loop:
  *
  *   per arriving batch ([[tick]]): quality gate → within-batch exact dedup
  *   (first arrival wins) → exact-vs-store dedup (the batch md5s probed
  *   against the kept md5s AND the dropped-doc tombstones, file-pruned) →
  *   near-dup-vs-store dedup (band-key probe + exact-Jaccard verification
  *   of the candidate pairs against their stored texts, file-pruned) →
  *   within-batch near-dup
  *   components → ONE write job of the keepers' rows plus their dedup
  *   state, made live by ONE atomic commit. Filter then verify: the
  *   driver decides every document's fate from batch-bounded key sets
  *   (ids, md5s, band keys, candidate pairs), and Spark only computes the
  *   batch features, probes the pruned store files and verifies pairs —
  *   a handful of jobs per tick. On demand ([[manifest]]): the packed
  *   per-shard training manifest rebuilt from the accumulated keepers
  *   through the SAME stage 2–7 tail as [[Corpus.corpusPipeline]].
  *
  * PHYSICAL LAYOUT — the 100 TB design. One [[ManifestTable]] holds THREE
  * row kinds, each under its own partition prefix, all committed in ONE
  * atomic snapshot (so dedup state and the document set can never
  * disagree, and a crash between "two stores" cannot orphan either):
  *
  *   - `p_kind=doc/p_b=<md5 bucket>`   (doc_id, lang, source, text,
  *     text_md5, tick) — the documents; bucketed by md5 so the exact check
  *     plans only over buckets the batch's md5s hash to.
  *   - `p_kind=tomb/p_b=<md5 bucket>`  (text_md5) — tombstones of docs the
  *     near-dup stage DROPPED. Without them, an exact redelivery of a doc
  *     dropped TRANSITIVELY (component chain O–X–C where only C was kept
  *     and jaccard(O, C) < threshold) would pass the exact check, find no
  *     direct store match, and be re-appended — the store would not be
  *     byte-stable under marker-less replay. With them, every md5 the
  *     store ever processed past the quality gate is either kept or
  *     tombstoned, so exact redelivery always drops at the exact stage.
  *   - `p_kind=band/p_b=<band bucket>` (doc_id, band_id, band_val,
  *     text_md5) — the LSH band postings, bucketed by (band_id,
  *     hash(band_val)) so a tick's band prune plans only over the buckets
  *     the batch's band values hash to — the [[IvfStore]] `p_cell`
  *     inverted-file pattern applied to LSH. A candidate's md5 leads to
  *     its doc row, whose text verification re-shingles. Both md5 columns
  *     are stored as 16-byte binary (random hex does not compress, so the
  *     hex strings cost twice the bytes); [[bands]] decodes them to the
  *     lowercase hex every other md5 column holds, and the store's own
  *     reads filter on the binary column ([[encodeBands]]/[[decodeBands]]).
  *
  * Scale shape: per-tick INPUT is O(touched buckets), not O(store) — the
  * store is never rewritten (appends only), never reshuffled (the batch's
  * md5s, band keys and candidate md5s filter the pruned scans as literal
  * sets), and the text column is only read from the md5 buckets the batch
  * and its candidates touch (spec-asserted: every tick scan's file list ⊆
  * the touched partitions). Per-doc tick cost is
  * O(store/buckets) bytes instead of O(store). The bucket counts are
  * sized to the data: a creation tick gives every kind the smallest power
  * of two of buckets that holds its keepers at [[TargetRowsPerFile]] rows
  * a file (one bucket for any store below that), so a small store is a
  * handful of files per commit, not one per bucket; a store that outgrows
  * its counts raises them with a [[compact]]-with-rebucket (they are baked
  * into the directory layout, not a config flip). The
  * skew cap stays EXACT under pruning: the prune skips only files that cannot hold a
  * probed (band_id, band_val), so each probed bucket is read whole and
  * its count is the store's bucket size.
  *
  * Convergence contract (spec-asserted): driving the doc_id % nWaves wave
  * slices through [[tick]] in arrival order yields a store — and a
  * [[manifest]] — identical to [[Corpus.corpusPipelineIncremental]] run
  * over the whole corpus at once. The exact stage differs mechanically
  * (the incremental build pre-dedups exact copies across ALL waves before
  * its fold; a tick sees the store's kept md5s plus tombstones), but the
  * outcomes agree: a later exact copy of a kept doc drops at the md5
  * check, and a later exact copy of a DROPPED doc drops at the tombstone
  * check — including transitive within-batch drops, which a direct-match
  * check alone would miss.
  *
  * Replay safety (at-least-once delivery): a named tick that already rode
  * a committed snapshot is skipped by the `_ticks/` marker fast path; an
  * unnamed (or marker-lost/pruned) replay re-runs and drops every
  * document at the exact (kept + tombstoned md5s) stage — zero keepers
  * and zero new tombstones commit nothing, so the store is byte-stable
  * under re-delivery either way (the contract
  * [[streaming.StreamingCorpus]] relies on, covering the full row and
  * transitively-dropped docs).
  *
  * The manifest rebuild is one pipeline-tail pass over the accumulated
  * SURVIVORS (never the raw corpus): the scrub/gate/decontamination
  * stages are corpus-dependent — the LM trains on a slice of the current
  * corpus, the held-out set grows with it — so freezing their per-tick
  * results would silently diverge from the all-at-once build this store
  * is contractually convergent with; only the budget/order/pack stages
  * are metadata-scale. The rebuild runs per loader refresh, amortized
  * across however many ticks land in between.
  *
  * Housekeeping: per-tick appends fragment each bucket into batch-sized
  * files; [[compact]] rewrites the fragmented buckets of every kind to
  * target-size files in ONE write job and ONE atomic commit (rows, dedup
  * state, and tick markers all unchanged — spec-asserted).
  * [[Layout.compactTable]] cannot be applied to this root directly: the
  * kinds carry different schemas.
  *
  * Every commit path — [[tick]], [[forget]], [[compact]] — writes through
  * [[ManifestTable.writeFiles]]: one Spark job whose tasks write each
  * bucket file and its Bloom sidecar straight into `data/` under a unique
  * name (no staging dir, no rename, no footer pass, no sidecar job) and
  * report each file's row count, which the commit checks against the
  * op's own counts before the manifest makes the files live.
  */
object CorpusStore {

  /** One tick's driver-side report: the committed (or reused) snapshot
    * version and the per-stage survivor counts — the funnel a production
    * ingest publishes per batch.
    */
  case class TickReport(version: Long, nRaw: Long, nQuality: Long,
                        nExactNew: Long, nKept: Long, replaySkipped: Boolean)

  // ---- physical layout: bucket partitions for file-pruned tick scans ----

  /** The bucket-EXPRESSION version this binary computes. Bumped when the
    * hash expressions below or the kinds they lay out change shape; a store
    * written under a different expression version fails loudly at open
    * instead of silently pruning against wrong directories (or, for
    * version 1, which had a shingle kind and md5-less band postings,
    * silently missing near-dups; or, for version 2, whose band postings
    * held their md5s as hex strings, reading them as 16-byte binary).
    */
  val BucketExprVersion = 3

  /** The store's physical bucket layout — PERSISTED PER SNAPSHOT as the
    * `#meta:layout=` line of every commit, never a compile-time constant.
    * Every tick and pruned read resolves the layout from the store
    * itself, so a reader and the writer that laid the directories out can
    * never disagree; changing the constants of a live store is
    * [[compact]] with `rebucketTo` (an atomic rewrite that recomputes
    * every `p_b`), and a caller that *asserts* a layout ([[tick]]'s
    * `layoutIfNew`) on a store created under a different one gets an
    * error, not a silent dedup miss.
    *
    * - `md5Buckets`: buckets for the md5-keyed kinds (doc, tomb).
    * - `bandValBuckets`: band-value buckets PER band id (the band kind has
    *   NumBands × this dirs).
    *
    * A creation tick without an explicit or staged choice takes
    * [[sizedLayout]] of its keepers; a growing store raises the counts with
    * one rebucket compaction — per-tick scanned bytes scale with
    * store/buckets.
    */
  case class StoreLayout(md5Buckets: Int, bandValBuckets: Int,
                         exprVersion: Int = BucketExprVersion) {
    require(md5Buckets > 0 && bandValBuckets > 0,
      s"bucket counts must be positive: $this")
    private[graft] def render: String =
      s"""{"md5Buckets":$md5Buckets,"bandValBuckets":$bandValBuckets,""" +
        s""""exprVersion":$exprVersion}"""
  }

  /** Rows one bucket file of a kind should hold: about one 128 MB file of
    * ~2 KB documents. Each kind holds one row per document (the band kind
    * one per document per band id, in a bucket space per band id), so one
    * count sizes both bucket counts.
    */
  private[graft] val TargetRowsPerFile = 1 << 16

  /** The layout a creation tick that keeps `keepers` documents commits when
    * its caller does not choose: every count the smallest power of two
    * >= ceil(keepers / [[TargetRowsPerFile]]) — 1/1 for any store below
    * the target.
    */
  private[graft] def sizedLayout(keepers: Long): StoreLayout = {
    val need = math.max(1L, (keepers + TargetRowsPerFile - 1) / TargetRowsPerFile)
    val n = (1L << (64 - java.lang.Long.numberOfLeadingZeros(need - 1))).toInt
    StoreLayout(n, n)
  }

  private[graft] def md5Bucket(c: Column, l: StoreLayout): Column =
    pmod(conv(substring(c, 1, 4), 16, 10).cast("int"), lit(l.md5Buckets))
  private[graft] def bandBucket(bandId: Column, bandVal: Column,
                                l: StoreLayout): Column =
    bandId.cast("int") * l.bandValBuckets +
      pmod(conv(substring(bandVal, 1, 4), 16, 10).cast("int"),
        lit(l.bandValBuckets))

  // ---- layout: in each commit's meta; staged before the first commit ---

  /** The pre-creation staged layout: a zero-commit creation tick's explicit
    * choice, adopted by the store's first real commit. Read only while the
    * store has no committed version — every commit carries its own layout
    * as `#meta:layout=` INSIDE the manifest ([[ManifestTable.commitMeta]]),
    * atomic with the snapshot, and nothing else.
    */
  private def stagedLayoutPath(root: String) =
    new org.apache.hadoop.fs.Path(s"$root/_layout/v1")

  private def writeStagedLayout(spark: SparkSession, root: String,
                                l: StoreLayout): Unit = {
    val out = fsOf(spark, root).create(stagedLayoutPath(root), true)
    try out.write(l.render.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private[graft] def parseLayout(s: String, where: String): StoreLayout = {
    def field(k: String): Int = {
      val m = s""""$k"\\s*:\\s*(-?\\d+)""".r.findFirstMatchIn(s)
      require(m.nonEmpty, s"layout $where is missing \"$k\": $s")
      m.get.group(1).toInt
    }
    val version = field("exprVersion")
    if (version != BucketExprVersion)
      throw new IllegalStateException(
        s"store layout $where was written by bucket-expression version " +
          s"$version; this binary computes version $BucketExprVersion — " +
          (version match {
            case 1 => "it predates the shingle-free format (its band " +
              "postings carry no text_md5). Rebuild it by ticking its documents."
            case 2 => "it has its band postings stored as hex strings, not " +
              "16-byte binary. Rebuild it by ticking its documents."
            case _ => "reading it would file-prune against wrong directories. " +
              "Migrate with a compact(rebucketTo = ...) run by a matching binary."
          }))
    StoreLayout(field("md5Buckets"), field("bandValBuckets"), version)
  }

  private def readStagedLayout(spark: SparkSession,
                               root: String): Option[StoreLayout] = {
    val fs = fsOf(spark, root)
    val p = stagedLayoutPath(root)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      Some(parseLayout(s, p.toString))
    }
  }

  /** The layout recorded in committed `version`'s own meta. Every commit
    * writes one, so a version without it is a foreign or tampered root:
    * that throws rather than guess a layout and prune against wrong dirs.
    */
  private def committedLayoutAt(spark: SparkSession, root: String,
                                version: Long): StoreLayout = {
    val where = s"$root manifest v$version #meta:layout"
    parseLayout(ManifestTable.commitMeta(spark, root, version).getOrElse(
      "layout", throw new IllegalStateException(
        s"$where is missing: every CorpusStore commit records its layout, " +
          "so this root was not written by a CorpusStore or its manifest " +
          "was edited")), where)
  }

  /** The layout governing the CURRENT snapshot (never a compile-time
    * constant; an operation takes its [[Snapshot]]'s). Before the
    * first commit it is the staged creation choice; a store with neither
    * has no layout yet (its creation tick sizes one) and throws, as does a
    * layout with a foreign expression version (see [[BucketExprVersion]]).
    */
  def layoutOf(spark: SparkSession, root: String): StoreLayout =
    ManifestTable.currentVersion(spark, root) match {
      case None => readStagedLayout(spark, root).getOrElse(
        throw new IllegalStateException(s"no layout at $root yet: the " +
          "creation tick sizes it from its keepers"))
      case Some(v) => committedLayoutAt(spark, root, v)
    }

  /** One committed version as a store operation sees it: its live files
    * and the layout its own commit recorded. An operation resolves one and
    * takes both from it: v's files bucketed under v+1's layout (a rebucket
    * in between) would prune away rows v holds.
    */
  private case class Snapshot(version: Long, files: Seq[String],
                              layout: StoreLayout) {
    def kind(k: String): Seq[String] = files.filter(_.startsWith(s"p_kind=$k/"))
  }

  /** Snapshot `version`, format guard first ([[requireStoreLayout]]): a
    * root not written by the store fails on that, not on a missing layout.
    */
  private def snapshotAt(spark: SparkSession, root: String,
                         version: Long): Snapshot = {
    val files = ManifestTable.filesOf(spark, root, version)
    requireStoreLayout(root, files)
    Snapshot(version, files, committedLayoutAt(spark, root, version))
  }

  /** The current snapshot: one `_manifests` listing, then [[snapshotAt]]. */
  private def currentSnapshot(spark: SparkSession, root: String): Snapshot =
    snapshotAt(spark, root, ManifestTable.currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $root")))

  /** A CALLER-supplied layout (tick's `layoutIfNew`, compact's
    * `rebucketTo`) must carry this binary's expression version — parseLayout
    * already fails foreign layouts at read, but without this check a
    * caller could PERSIST a layout labeled with a version the expressions
    * don't match, bricking the store for every matching reader.
    */
  private def requireCurrentExprVersion(l: StoreLayout, what: String): Unit =
    require(l.exprVersion == BucketExprVersion,
      s"$what carries bucket-expression version ${l.exprVersion}, but this " +
        s"binary computes version $BucketExprVersion; persisting that " +
        "layout would mislabel the store's directories")

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("lang", StringType),
    StructField("source", StringType), StructField("text", StringType),
    StructField("text_md5", StringType), StructField("tick", StringType)))
  private val bandSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("band_id", IntegerType),
    StructField("band_val", BinaryType), StructField("text_md5", BinaryType)))
  private val tombSchema = StructType(Seq(StructField("text_md5", StringType)))

  private def kindSchema(kind: String): StructType = kind match {
    case "doc" => docSchema
    case "band" => bandSchema
    case "tomb" => tombSchema
    case other => throw new IllegalArgumentException(s"unknown kind: $other")
  }

  /** The band kind's two md5 columns, stored as the 16 bytes of their
    * lowercase hex. These helpers are the store's only conversions: the
    * tick's write encodes its hex postings, [[bands]] and the tick's
    * candidate aggregate decode stored rows, and forget and compact move
    * stored rows unchanged. Bucket expressions, Bloom probes and
    * driver-side keys stay hex ([[md5Bytes]] converts a probe key).
    */
  private val BandMd5Cols = Seq("band_val", "text_md5")
  private def encodeBands(rows: DataFrame): DataFrame =
    rows.withColumns(BandMd5Cols.map(c => c -> unhex(col(c))).toMap)
  private def decodeBands(rows: DataFrame): DataFrame =
    rows.withColumns(BandMd5Cols.map(c => c -> decodeMd5(col(c))).toMap)

  private val HexUpper = "ABCDEF"
  private val HexLower = "abcdef"

  /** Lowercase hex of a binary md5. `translate`, not `lower`: Spark's
    * `lower` maps case through ICU, whose first use in a JVM took about
    * 1.4 s (a 1,000-row select in a fresh session: 1,754 ms, against
    * 342 ms with `translate`), paid by a store's creation tick.
    */
  private def decodeMd5(c: Column): Column =
    translate(hex(c), HexUpper, HexLower)

  /** The stored binary column inside a [[decodeMd5]] expression, which
    * equals the hex key that column's bucket and Bloom probe are computed
    * from — how [[graft.plans.StorePruneRule]] sees a predicate on a
    * [[bands]] column as one on the stored key.
    */
  private[graft] object DecodedMd5 {
    import org.apache.spark.sql.catalyst.expressions.{Expression, Hex, Literal, StringTranslate}
    def unapply(e: Expression): Option[Expression] = e match {
      case StringTranslate(Hex(c), Literal(from, _), Literal(to, _))
          if c.dataType == BinaryType && String.valueOf(from) == HexUpper &&
            String.valueOf(to) == HexLower => Some(c)
      case _ => None
    }
  }

  /** A hex md5 as the 16 bytes a band-kind column and its Bloom sidecar
    * hold; throws on a malformed key.
    */
  private def md5Bytes(hex: String): Array[Byte] =
    java.util.HexFormat.of().parseHex(hex)

  /** [[bandBucket]] of a stored (binary) band row. */
  private def storedBandBucket(l: StoreLayout): Column =
    bandBucket(col("band_id"), decodeMd5(col("band_val")), l)

  /** The store's two partition columns: part of every kind's read schema
    * ([[readKindFiles]]), so the rewrites keep each row in its bucket;
    * [[read]], [[bands]] and [[readAt]] drop them.
    */
  private val PartCols = Seq(
    StructField("p_kind", StringType), StructField("p_b", IntegerType))
  private val PartColNames = PartCols.map(_.name)

  /** Live files of one kind (manifest-listed, no directory walk). */
  private[graft] def kindFiles(spark: SparkSession, root: String,
                               kind: String): Seq[String] =
    ManifestTable.liveFiles(spark, root).filter(_.startsWith(s"p_kind=$kind/"))

  /** The p_b bucket a store file sits in, parsed from its path. */
  private def bucketOfPath(path: String): Option[Int] =
    "p_b=(\\d+)/".r.findFirstMatchIn(path).map(_.group(1).toInt)

  /** The column each kind's per-file Bloom sidecar indexes — the key the
    * tick reads probe by. The doc kind serves both the exact probe (batch
    * md5s) and the near-dup verification fetch (candidate md5s).
    */
  private val BloomKeyOf = Map("doc" -> "text_md5", "tomb" -> "text_md5",
    "band" -> "band_val")

  /** The single column a kind's files can be index-pruned BY (bucket dir +
    * Bloom sidecar agree on it) — what [[graft.plans.StorePruneRule]] keys
    * its literal-predicate extraction on. The band kind is excluded HERE
    * because its bucket is a (band_id, band_val) compound — a band_val
    * literal alone cannot resolve a directory; the rule handles it through
    * its own two-column extraction routed via [[bandBucketForKey]].
    */
  private[graft] def bloomKeyOf(kind: String): Option[String] =
    if (kind == "band") None else BloomKeyOf.get(kind)

  /** One kind's rows as a [[ManifestTable.writeFiles]] set: the kind's
    * columns in its schema order, one file per (`bucket`, `split`) under
    * `p_kind=<kind>/p_b=<bucket>`, with the kind's Bloom sidecar. Every
    * store writer (tick, forget, compact) commits through these sets.
    */
  private def kindSet(kind: String, rows: DataFrame, bucket: Column,
                      split: Column = lit(0)): ManifestTable.WriteSet =
    ManifestTable.WriteSet(rows, kindSchema(kind).fieldNames.toSeq,
      concat(lit(s"p_kind=$kind/p_b="), bucket.cast("string")), split,
      BloomKeyOf.get(kind))

  /** Rows [[ManifestTable.writeFiles]] reported writing for `kind`. */
  private def rowsOf(written: Seq[(ManifestTable.FileEntry, Long)],
                     kind: String): Long =
    written.collect { case (f, n) if f.path.startsWith(s"p_kind=$kind/") => n }.sum

  /** [[prunedKindFiles]] sharpened by the per-file Bloom sidecars: of the
    * batch-touched buckets' files, keep only those whose filter might
    * contain at least one of the batch's keys FOR THAT BUCKET. This is the
    * second prune level — bucket dirs bound the candidate set to
    * O(touched buckets); the blooms then skip the (common) files a mostly-
    * fresh batch shares no key with, so the steady-state exact/band read
    * is near zero however large the buckets grow between compactions.
    * Sidecar reads are bounded by the dir-pruned shortlist, loaded from a
    * bounded pool when cold ([[ManifestTable.readBlooms]] — a cold tick at
    * thousands of files per touched bucket must not pay one serial driver
    * round-trip per sidecar) and cached (immutable files → immutable
    * filters); a file with no readable sidecar is always read — skipping
    * must be provably safe, the [[ManifestTable.pruneEntries]] rule.
    */
  private[graft] def bloomPrunedKindFiles(spark: SparkSession, root: String,
                                          kind: String,
                                          keysByBucket: Map[Int, Seq[String]])
      : Seq[String] =
    pruneRelFilesByBucket(spark, root, kindFiles(spark, root, kind),
      keysByBucket)

  /** The `p_b` bucket a KEY lands in, computed DRIVER-SIDE for the
    * optimizer's literal-predicate prune ([[graft.plans.StorePruneRule]]).
    * Mirrors [[md5Bucket]] with the same Catalyst operators evaluated
    * eagerly (Substring→Conv→Cast→Pmod) —
    * the distributed and driver forms can never drift apart because they
    * are the same expression classes, and the spec pins the equivalence on
    * real keys anyway. Soundness for garbage keys is free: a key the store
    * never wrote matches no row, so ANY bucket answer for it prunes
    * correctly; only keys that exist must agree with the writer, and those
    * are well-formed (lowercase-hex md5s).
    */
  private[graft] def bucketForKey(kind: String, l: StoreLayout,
                                  key: String): Int = kind match {
    case "doc" | "tomb" => hexPmod(key, l.md5Buckets)
    case other =>
      throw new IllegalArgumentException(
        s"kind $other has no single-key bucket expression")
  }

  /** The band kind's compound bucket, driver-side — [[bandBucket]]'s twin
    * the way [[bucketForKey]] twins the single-key exprs.
    */
  private[graft] def bandBucketForKey(bandId: Int, bandVal: String,
                                      l: StoreLayout): Int =
    bandId * l.bandValBuckets + hexPmod(bandVal, l.bandValBuckets)

  /** pmod(conv(substring(hex,1,4),16,10)::int, buckets) evaluated eagerly —
    * the shared core of the md5/band-val bucket exprs, as the same Catalyst
    * operators the distributed form compiles to.
    */
  private def hexPmod(hex: String, buckets: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Conv, Literal, Pmod, Substring}
    Pmod(Cast(Conv(Substring(Literal(hex), Literal(1), Literal(4)),
      Literal(16), Literal(10)), IntegerType), Literal(buckets))
      .eval(null).asInstanceOf[Int]
  }

  /** Two-level prune of an EXPLICIT relative-file list (a pinned
    * snapshot's files, not a fresh listing — the caller's plan must keep
    * reading the snapshot it planned against) down to the files that might
    * hold any of `keys`: bucket dirs first, then the per-file Bloom
    * sidecars. Same safety contract as [[bloomPrunedKindFiles]] — a file
    * with no readable sidecar is kept, so a skip is only ever justified by
    * a negative probe. Returns None (meaning "don't prune") if any key
    * fails bucket evaluation.
    */
  private[graft] def pruneRelFiles(spark: SparkSession, root: String,
                                   kind: String, l: StoreLayout,
                                   relFiles: Seq[String], keys: Seq[String])
      : Option[Seq[String]] = {
    val byBucket: Map[Int, Seq[String]] =
      try keys.groupBy(k => bucketForKey(kind, l, k))
      catch { case scala.util.control.NonFatal(_) => return None }
    Some(pruneRelFilesByBucket(spark, root, relFiles, byBucket))
  }

  /** [[pruneRelFiles]] with the (bucket → probe keys) map prebuilt — the
    * form compound-bucketed kinds use (band: [[bandBucketForKey]] buckets,
    * band_val probe keys).
    */
  private[graft] def pruneRelFilesByBucket(spark: SparkSession, root: String,
                                           relFiles: Seq[String],
                                           byBucket: Map[Int, Seq[String]])
      : Seq[String] = {
    val shortlist = relFiles.filter(f =>
      bucketOfPath(f).exists(byBucket.contains))
    val blooms = ManifestTable.readBlooms(spark, root, shortlist)
    shortlist.filter { f =>
      val ks = byBucket(bucketOfPath(f).get)
      // a band sidecar hashed its keys' 16 raw bytes, the others UTF-8 hex
      val bytes: String => Array[Byte] =
        if (f.startsWith("p_kind=band/")) md5Bytes
        else _.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      blooms(f) match {
        case None     => true
        case Some(bf) => ks.exists(k => bf.mightContainBinary(bytes(k)))
      }
    }
  }

  /** [[kindFiles]] restricted to the given bucket partitions — THE file
    * prune every tick scan goes through (spec-asserted ⊆ batch-touched
    * partitions).
    */
  private[graft] def prunedKindFiles(spark: SparkSession, root: String,
                                     kind: String,
                                     buckets: Set[Int]): Seq[String] =
    kindFiles(spark, root, kind)
      .filter(f => buckets.exists(b => f.startsWith(s"p_kind=$kind/p_b=$b/")))

  /** One kind's `files` with its partition columns, read with the kind's
    * static schema through [[ManifestTable.readFiles]]: no schema-inference
    * job, columns in schema order whichever writer path (tick, forget,
    * compact) laid a file out, and a typed empty frame for an empty list (a
    * tomb-only first commit has no doc file to borrow a schema from).
    */
  private def readKindFiles(spark: SparkSession, root: String,
                            files: Seq[String], kind: String,
                            tags: Map[String, String] = Map.empty): DataFrame =
    ManifestTable.readFiles(spark, root, files,
      Some(StructType(kindSchema(kind).fields ++ PartCols)), tags = tags)

  /** The relation-option tags [[read]] stamps on a snapshot scan so
    * [[graft.plans.StorePruneRule]] can recognize it and prune its file
    * list against literal key predicates. The LAYOUT rides along (rendered
    * JSON) so the rule buckets with exactly the layout that wrote the
    * files it is pruning — never a re-resolved one that a concurrent
    * rebucket could have moved past the plan.
    */
  private def pruneTags(root: String, kind: String,
                        l: StoreLayout): Map[String, String] = Map(
    "graft.store.root" -> root,
    "graft.store.kind" -> kind,
    "graft.store.layout" -> l.render)

  // the marker layout, in one place: every reader/writer goes through these
  private def fsOf(spark: SparkSession, root: String) =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def markerDir(root: String, ns: String) =
    new org.apache.hadoop.fs.Path(s"$root/$ns")
  private def markerPath(root: String, ns: String, id: String) =
    new org.apache.hadoop.fs.Path(s"$root/$ns/$id")
  private def writeMarker(spark: SparkSession, root: String, ns: String,
                          id: String): Unit = {
    val fs = fsOf(spark, root)
    fs.mkdirs(markerDir(root, ns))
    fs.create(markerPath(root, ns, id)).close()
  }
  private def markerExists(spark: SparkSession, root: String, ns: String,
                           id: String): Boolean =
    fsOf(spark, root).exists(markerPath(root, ns, id))

  /** The kept documents of the latest snapshot (doc kind: doc_id, lang,
    * source, text, text_md5, tick). One resolved version supplies both the
    * doc files and the layout the scan is tagged with (one `_manifests`
    * listing). Guards the format boundary: a root whose live files carry no
    * `p_kind=` prefix was written by something other than this store (e.g.
    * a plain [[ManifestTable]]) — reading it as an empty doc frame would
    * silently re-ingest everything on the next tick, so it throws instead.
    */
  def read(spark: SparkSession, root: String): DataFrame = {
    val snap = currentSnapshot(spark, root)
    readKindFiles(spark, root, snap.kind("doc"), "doc",
      pruneTags(root, "doc", snap.layout)).drop(PartColNames: _*)
  }

  /** Format-boundary guard of every snapshot a store op resolves
    * ([[snapshotAt]]), [[readAt]] and [[changesBetween]]: a non-empty file
    * set with no `p_kind=` prefix was
    * written by something other than this store (a plain [[ManifestTable]],
    * or an incompatible format version). Silently treating it as an empty
    * snapshot would make an incremental consumer on a mistyped root
    * conclude "no documents / no changes" — so it throws instead.
    */
  private def requireStoreLayout(root: String, files: Seq[String]): Unit =
    require(files.isEmpty || files.exists(_.startsWith("p_kind=")),
      s"files at $root carry no p_kind= partitions — not a CorpusStore " +
        "layout (or one from an incompatible format version); refusing to " +
        "read it as an empty store")

  /** The kept documents of the latest snapshot — the frame [[manifest]]
    * and any downstream analysis consume (column-pruned scan).
    */
  def docs(spark: SparkSession, root: String): DataFrame =
    read(spark, root).select(col("doc_id"), col("lang"), col("source"),
      col("text"))

  /** The live band postings (doc_id, band_id, band_val, text_md5), with
    * both md5 columns decoded to lowercase hex — the investigative "which
    * documents share this band" surface. Like [[read]], files and tagged
    * layout come from one resolved version. Tagged for
    * [[graft.plans.StorePruneRule]]: with the rule installed, a query
    * pinning BOTH `band_id` and `band_val` to literals plans over the
    * compound band bucket's pruned files only (bucket dir +
    * band_val Bloom probes), not the whole band kind.
    */
  def bands(spark: SparkSession, root: String): DataFrame = {
    val snap = currentSnapshot(spark, root)
    decodeBands(readKindFiles(spark, root, snap.kind("band"), "band",
      pruneTags(root, "band", snap.layout)).drop(PartColNames: _*))
  }

  /** Tick ids that have committed (one FS listing — observability; the
    * per-tick replay check uses an O(1) `exists` on the single marker).
    */
  def committedTicks(spark: SparkSession, root: String): Seq[String] = {
    val fs = fsOf(spark, root)
    val dir = markerDir(root, "_ticks")
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).map(_.getPath.getName).toSeq
  }

  /** Marker housekeeping: delete tick markers whose mtime is older than
    * `olderThanMillis` (an AGE cutoff, not a count — count-based retention
    * depends on tick rate and on mtime tie-ordering, so on coarse-mtime
    * object stores a marker still inside the redelivery window could be
    * pruned while an older one survived). Size the cutoff to the delivery
    * system's maximum redelivery lag, the same reasoning as snapshot
    * retention; the default (7 days) dwarfs any realistic redelivery
    * horizon. Markers grow one file per named tick forever otherwise.
    *
    * Pruning the corpus namespace (`_ticks/`) is safe because that marker
    * is only the FAST replay path — a re-delivered tick whose marker was
    * pruned falls back to the semantic replay: every document drops at
    * the exact (store md5s + dropped-doc tombstones) / near-dup checks,
    * zero keepers commit nothing (spec-asserted byte-stable). The
    * `_ticks_ivf/` namespace is pruned on the same cutoff: a re-delivered
    * platform tick whose marker is gone is caught by the postings
    * presence check in [[tickWithIndex]] (its keeper vectors are already
    * posted — the index-side semantic backstop), so the marker there is
    * also only the fast path. Returns markers deleted.
    */
  def pruneTickMarkers(spark: SparkSession, root: String,
                       olderThanMillis: Long = 7L * 24 * 3600 * 1000): Long = {
    require(olderThanMillis >= 0,
      s"olderThanMillis must be >= 0, got $olderThanMillis")
    val fs = fsOf(spark, root)
    // "now" from the STORAGE SYSTEM's clock, not the driver's: marker
    // mtimes are stamped by the filesystem, so an age cutoff computed from
    // a skewed driver clock could prune a marker still inside the
    // redelivery window. A freshly-written probe file's mtime is the
    // filesystem's own notion of now — same clock as every marker.
    // probe lives in its OWN `_clock/` namespace, never `_ticks/`: a crash
    // between create and delete must not leave a file committedTicks would
    // report as a tick id (and even transiently it must not be listed)
    val fsNow = {
      val probe = new org.apache.hadoop.fs.Path(
        s"$root/_clock/probe-${UUID.randomUUID()}")
      fs.mkdirs(probe.getParent)
      fs.create(probe, true).close()
      val t = fs.getFileStatus(probe).getModificationTime
      // delete ONLY this call's probe file — deleting the whole _clock/
      // dir would race a concurrent pruner's live probe
      fs.delete(probe, false)
      t
    }
    val cutoff = fsNow - olderThanMillis
    Seq("_ticks", "_ticks_ivf").map { ns =>
      val dir = markerDir(root, ns)
      if (!fs.exists(dir)) 0L
      else {
        val expired = fs.listStatus(dir)
          .filter(_.getModificationTime <= cutoff)
        expired.foreach(st => fs.delete(st.getPath, false))
        expired.length.toLong
      }
    }.sum
  }

  /** Ingest one arriving batch of raw documents; returns the tick's
    * funnel counts and committed version. `tickId` (optional, `[A-Za-z0-9._-]+`)
    * enables the replay fast path; the marker is written AFTER the commit,
    * so a crash between commit and marker degrades to the (byte-stable)
    * semantic replay, never to loss or duplication.
    *
    * `retainSnapshots` is the per-tick vacuum's retention window — it
    * bounds how far back [[manifest]] can reproduce a training manifest
    * (only the retained versions stay readable). The default keeps the
    * current and previous snapshot; a deployment that needs deeper
    * training-reproducibility raises it (disk cost: the store is
    * append-only, so old snapshots share all but the newest files).
    *
    * `layoutIfNew` picks the bucket layout WHEN THIS TICK CREATES the
    * store (without it, the tick sizes one from its keepers —
    * [[sizedLayout]]); on an existing store the persisted layout governs, and
    * asserting a different one here throws (see [[StoreLayout]]). The
    * choice survives even if this tick's documents all drop (it is staged
    * under `_layout/v1` for the first real commit to adopt), so creation
    * ticks need not repeat it.
    */
  def tick(rawBatch: DataFrame, root: String,
           tickId: Option[String] = None,
           minQuality: Double = 0.70,
           threshold: Double = 0.5,
           cap: Int = Dedup.MaxBucketSize,
           retainSnapshots: Int = ManifestTable.RetainSnapshots,
           layoutIfNew: Option[StoreLayout] = None): TickReport =
    tickCollecting(rawBatch, root, tickId, minQuality, threshold, cap,
      retainSnapshots, layoutIfNew)._1

  /** [[tick]] plus the tick's keeper doc_ids, which the tick decides on the
    * driver anyway — [[tickWithIndex]]'s fresh path consumes them so the
    * index step needs no store scan. Empty when skipped or when nothing
    * was kept.
    */
  private def tickCollecting(rawBatch: DataFrame, root: String,
                             tickId: Option[String],
                             minQuality: Double,
                             threshold: Double,
                             cap: Int,
                             retainSnapshots: Int = ManifestTable.RetainSnapshots,
                             layoutIfNew: Option[StoreLayout] = None)
      : (TickReport, Array[Long]) = {
    // OPTIMISTIC CONCURRENCY — two genuinely concurrent ticks both land.
    // A tick is an optimistic transaction: it reads snapshot N, computes
    // its keepers against N, and commits CONDITIONED on the store still
    // being at N (ManifestTable's expected-version check + the conditional
    // manifest install). A tick that loses — another writer committed
    // while it computed — throws CommitConflictException, and this loop
    // re-reads and RECOMPUTES the whole tick against the new snapshot:
    // the winner's keepers must be deduped against, so retrying just the
    // commit would be wrong. Replay markers and the md5/tombstone
    // semantics make re-running safe by construction; the lost attempt's
    // written files are deleted at the conflict site. Bounded: ticks
    // are seconds long, so starvation means pathological writer counts —
    // serialize those deployments instead.
    val maxRetries = 5
    var attempt = 0
    var last: CommitConflictException = null
    while (attempt <= maxRetries) {
      try return tickAttempt(rawBatch, root, tickId, minQuality, threshold,
        cap, retainSnapshots, layoutIfNew)
      catch {
        case e: CommitConflictException =>
          attempt += 1
          last = e
          logInfo(s"tick lost commit race $attempt/$maxRetries at $root — " +
            "recomputing against the new snapshot")
      }
    }
    throw new IllegalStateException(
      s"tick lost $maxRetries consecutive commit races at $root — " +
        "pathological writer contention; serialize these writers", last)
  }

  private def logInfo(msg: String): Unit =
    System.err.println(s"[graft.CorpusStore] $msg")

  /** Run `body` with every Spark job it starts described as
    * `<op>: <name>` (`tick <id|untracked>: gate`, `forget: locate`,
    * `compact: write`, …) — so a store op's jobs read by phase in the UI,
    * event log and listeners — restoring the caller's description after.
    */
  private def phase[T](spark: SparkSession, op: String, name: String)
                      (body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"$op: $name")
    try body finally sc.setJobDescription(prev)
  }

  /** The store's band postings among stored `rows` grouped per (band_id,
    * band_val), as that bucket's (doc_id, text_md5) postings when it holds
    * at most `cap` — the skew cap of [[Dedup.capBuckets]] as ONE job (an RDD
    * aggregate: one shuffle, no AQE map-stage job), keyed and valued in
    * hex. Exact under the file prune: a Bloom prune only skips files that
    * cannot hold the value, so every posting of a probed bucket is in
    * `rows` and its count is the store's full bucket size. Over-cap
    * buckets come back absent.
    */
  private def cappedBuckets(rows: DataFrame, cap: Int)
      : Map[(Int, String), Seq[(Long, String)]] =
    decodeBands(rows).select(col("band_id"), col("band_val"), col("doc_id"),
        col("text_md5")).rdd
      .map(r => (r.getInt(0), r.getString(1)) -> (r.getLong(2), r.getString(3)))
      .aggregateByKey((0L, List.empty[(Long, String)]))(
        { case ((n, ids), id) => (n + 1, if (n >= cap) Nil else id :: ids) },
        { case ((n1, a), (n2, b)) =>
          (n1 + n2, if (n1 + n2 > cap) Nil else a ::: b) })
      .collect { case (k, (n, ids)) if n <= cap => k -> ids }
      .collect().toMap

  /** One tick, FILTER THEN VERIFY: the driver decides every document's
    * fate from key sets, and Spark only computes the batch's features,
    * probes the pruned store files and verifies candidate pairs. The
    * driver holds ids, md5s, band keys and candidate pairs — batch-bounded
    * — never text or shingles. Jobs, each described `tick <id>: <phase>`:
    *
    *   - gate: ONE persisted batch frame (gated rows + md5, shingles, the
    *     [[Dedup.NumBands]] band values), materialized by a collect of
    *     (doc_id, text_md5, band values); the within-batch exact dedup
    *     (first arrival = min doc_id per md5) then runs on the driver.
    *   - exact: one scan of the Bloom-pruned doc and tomb files filtered
    *     by the batch md5s; the touched md5s drop (no job on creation).
    *   - near: one aggregate of the Bloom-pruned store band postings
    *     under the batch's band keys (ids and md5s of buckets within the
    *     cap); the candidate pairs form on the driver and one job verifies
    *     them against the batch frame and the md5-pruned candidate doc rows.
    *   - fold: within-batch pairs from equal band values among the
    *     survivors (buckets within the cap, the [[Dedup.bandPairs]] rule),
    *     verified in one job; a driver union-find keeps each component's
    *     minimum id. Near and fold are [[Dedup.waveKeepers]], the decision
    *     [[Dedup.sequentialIngest]] makes over postings held in memory.
    *   - write: ONE [[ManifestTable.writeFiles]] job whose sets filter the
    *     batch frame by the literal keeper and tombstone id sets.
    */
  private def tickAttempt(rawBatch: DataFrame, root: String,
                          tickId: Option[String],
                          minQuality: Double,
                          threshold: Double,
                          cap: Int,
                          retainSnapshots: Int,
                          layoutIfNew: Option[StoreLayout])
      : (TickReport, Array[Long]) = {
    val spark = rawBatch.sparkSession
    tickId.foreach(id => require(id.matches("[A-Za-z0-9._-]+"),
      s"unsafe tick id: $id"))
    // version 0 = "store still empty" (a processed tick whose documents all
    // dropped leaves no snapshot; its marker alone records the delivery)
    val prev = ManifestTable.currentVersion(spark, root)
    if (tickId.exists(id => markerExists(spark, root, "_ticks", id)))
      return (TickReport(prev.getOrElse(0L), 0L, 0L, 0L, 0L,
        replaySkipped = true), Array.empty)
    // the snapshot the tick reads and commits against: every probe's file
    // list and bucket expression come from it. A creation tick probes
    // nothing, so it decides its layout at the write, once its keepers are
    // known. A layout the caller asserts against an existing store that
    // disagrees is a configuration error, not a silent dedup miss
    layoutIfNew.foreach(requireCurrentExprVersion(_, "tick(layoutIfNew)"))
    val snap = prev.map(snapshotAt(spark, root, _))
    for (l <- layoutIfNew; s <- snap) require(l == s.layout,
      s"store at $root is laid out as ${s.layout} but the tick asserted " +
        s"$l; changing a live store's layout is compact(rebucketTo = ...)")
    val stamp = tickId.getOrElse("untracked")
    val op = s"tick $stamp"

    // the quality gate and every per-doc feature in one persisted frame;
    // the raw row count rides its first pass as an observation
    val raw = Observation()
    val batch = Dedup.withShingleBands(rawBatch
      .observe(raw, count(lit(1)).as("n"))
      .filter(TextOps.qualityScore(col("text")) >= minQuality)
      .select(col("doc_id"), col("lang"), col("source"), col("text"),
        md5(col("text")).as("text_md5")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // try/finally: an at-least-once caller CATCHES and retries a failed
    // tick, so a mid-tick exception must not strand this attempt's cache
    // in executor storage (the IvfStore.build discipline)
    try {
      val gated = phase(spark, op, "gate")(
        batch.select(col("doc_id") +: col("text_md5") +: Dedup.BandCols: _*).collect())
      val nQuality = gated.length.toLong
      val nRaw = raw.get("n").asInstanceOf[Long]
      // band values per doc (null for a shingle-less doc)
      val bandsOf = gated.map(r =>
        r.getLong(0) -> Dedup.BandCols.indices.map(b => r.getString(2 + b))).toMap
      // within-batch exact dedup: first arrival (min doc_id) per md5
      val firstOf =
        gated.groupMapReduce(_.getString(1))(_.getLong(0))(math.min)
      // the rows of an md5-keyed kind whose text_md5 is among `md5s`:
      // bucket dirs, then the per-file Bloom sidecars, bound the scan to
      // files that may hold one (the same bucket expression the write side
      // uses, evaluated driver-side); None when no file may
      def md5Rows(kind: String, s: Snapshot,
                  md5s: Seq[String]): Option[DataFrame] = {
        val files = pruneRelFilesByBucket(spark, root, s.kind(kind),
          md5s.groupBy(bucketForKey(kind, s.layout, _)))
        if (files.isEmpty) None
        else Some(readKindFiles(spark, root, files, kind)
          .filter(col("text_md5").isin(md5s: _*)))
      }
      // exact-vs-store: every md5 the store kept OR tombstoned drops
      val exactNew = phase(spark, op, "exact") {
        val reads = snap.toSeq.flatMap(s => Seq("doc", "tomb")
          .flatMap(md5Rows(_, s, firstOf.keys.toSeq)))
          .map(_.select(col("text_md5")))
        val seen = if (reads.isEmpty) Set.empty[String]
          else reads.reduce(_ union _).collect().map(_.getString(0)).toSet
        firstOf.collect { case (m, id) if !seen(m) => id }.toSeq.sorted
      }
      val nExactNew = exactNew.size.toLong
      // the near-dup decision (Dedup.waveKeepers): store candidates from
      // the band postings under the batch's band keys, verified against
      // the shingles of the candidates' stored texts — every store read
      // two-level pruned — then the within-batch components
      val keepers = Dedup.waveKeepers[(Long, String)](
        exactNew.map(id => id -> bandsOf(id)), cap,
        probes => snap match {
          case Some(s) => phase(spark, op, "near") {
            val files = pruneRelFilesByBucket(spark, root, s.kind("band"), probes
              .groupMap { case (b, v) => bandBucketForKey(b, v, s.layout) }(_._2))
            if (files.isEmpty) Map.empty
            else cappedBuckets(readKindFiles(spark, root, files, "band")
              .filter(col("band_val").isin(probes.map(p => md5Bytes(p._2)): _*)),
              cap)
          }
          case None => Map.empty
        },
        cands => snap.toSeq.flatMap(s => phase(spark, op, "near") {
          md5Rows("doc", s, cands.map(_._2._2).distinct).toSeq
            .flatMap(docs => Dedup.verifiedPairs(
              cands.map { case (id, (c, _)) => id -> c }.distinct, batch,
              Dedup.docShingles(docs), threshold))
        }),
        pairs => phase(spark, op, "fold")(
          Dedup.verifiedPairs(pairs, batch, batch, threshold)))
      val tombs = exactNew.filterNot(keepers.toSet)
      // a creation tick's layout: the most recent EXPLICIT choice — the
      // caller's, else an earlier zero-commit creation tick's staged one —
      // else sized from its keepers. Before the first commit there is no
      // data a layout change could corrupt, so last-writer-wins is safe
      val layout = snap.map(_.layout).orElse(layoutIfNew)
        .orElse(readStagedLayout(spark, root))
        .getOrElse(sizedLayout(keepers.size))
      // keepers' doc rows + their band postings (each carrying its md5, the
      // verification fetch's key; both md5s binary) + the dropped docs'
      // tombstones: ONE write job straight into data/ (one file per
      // touched bucket per kind, each with its Bloom sidecar)
      val written =
        if (exactNew.isEmpty) Seq.empty[(ManifestTable.FileEntry, Long)]
        else phase(spark, op, "write") {
          val kept = batch.filter(col("doc_id").isin(keepers: _*))
          ManifestTable.writeFiles(spark, root, Seq(
            kindSet("doc", kept.withColumn("tick", lit(stamp)),
              md5Bucket(col("text_md5"), layout)),
            kindSet("band", encodeBands(
              Dedup.explodeBands(kept, Dedup.BandCols, Seq("doc_id", "text_md5"))),
              storedBandBucket(layout)),
            kindSet("tomb", batch.filter(col("doc_id").isin(tombs: _*)),
              md5Bucket(col("text_md5"), layout))))
        }
      val nKept = rowsOf(written, "doc")
      // the write must hold exactly the driver's decisions: one doc row
      // per keeper, one tombstone per other exact-new doc (band is exempt:
      // shingle-less keepers emit none)
      require(nKept == keepers.size && rowsOf(written, "tomb") == tombs.size,
        s"store write inconsistent with the tick (keepers=${keepers.size}, " +
          s"tombstones=${tombs.size}, written=${Seq("doc", "band", "tomb")
            .map(k => s"$k:${rowsOf(written, k)}").mkString(",")})")
      // zero keepers AND zero tombstones commit NOTHING: replay without a
      // marker must leave the version untouched, not mint empty snapshots
      val version =
        if (written.isEmpty) {
          // a creation tick whose documents ALL dropped still records its
          // explicit layout choice (as the staged layout the first real
          // commit will adopt) — otherwise a later tick without
          // layoutIfNew would silently size the store by the rule,
          // defeating the creation-time assertion
          if (prev.isEmpty) layoutIfNew.foreach(writeStagedLayout(spark, root, _))
          prev.getOrElse(0L)
        }
        else phase(spark, op, "commit") {
          val files = written.map(_._1.path)
          val v =
            try ManifestTable.commitReplace(spark, root, Seq.empty, files,
              expectedVersion = Some(prev.getOrElse(0L)),
              meta = Map("layout" -> layout.render))
            catch {
              case e: CommitConflictException =>
                // lost the race after writing: this attempt's data files
                // are orphans no manifest references — delete them (and
                // their bloom sidecars) so the retry loop doesn't
                // accumulate junk for the deep vacuum to find. The retry
                // recomputes and rewrites from scratch.
                ManifestTable.deleteWritten(spark, root, files)
                throw e
            }
          // cheap tier only: per-tick reclamation is manifest arithmetic;
          // the deep orphan sweep (a recursive listing) runs at compact
          // time, not once per batch
          ManifestTable.vacuum(spark, root, retainSnapshots, deep = false)
          v
        }
      tickId.foreach(id => writeMarker(spark, root, "_ticks", id))
      (TickReport(version, nRaw, nQuality, nExactNew, nKept,
        replaySkipped = false), keepers.toArray)
    } finally batch.unpersist()
  }

  /** The FULL platform tick: [[tick]] plus vector-index maintenance in one
    * production step. After the corpus tick, the batch's embeddings
    * restricted to the tick's KEPT doc_ids (`vec_id` = `doc_id`; the kept
    * set is batch-bounded, recovered from the store's `tick` column, so
    * the restriction broadcasts) flow into the staged IVF index: the first
    * kept batch trains and builds ([[IvfStore.build]]), later batches
    * append postings under the staged model — optionally after one
    * mini-batch model refresh ([[IvfStore.ingestBatch]]).
    *
    * Replay safety composes: the corpus tick skips (marker) or no-ops
    * (semantic), the kept set re-derives from committed store rows either
    * way, and the SAME tick id rides the IVF postings/model commit guards
    * — so a crash anywhere in the chain re-lands exactly the commits that
    * are missing, never a double-append (the bootstrap build stamps the
    * marker too). A tick id is therefore REQUIRED here, unlike [[tick]].
    */
  def tickWithIndex(rawBatch: DataFrame, batchEmb: DataFrame,
                    root: String, ivfRoot: String, tickId: String,
                    refreshModel: Boolean = false,
                    minQuality: Double = 0.70,
                    threshold: Double = 0.5,
                    cap: Int = Dedup.MaxBucketSize): TickReport = {
    val spark = rawBatch.sparkSession
    val (r, keeperIds) = tickCollecting(rawBatch, root, Some(tickId),
      minQuality, threshold, cap)
    if (ManifestTable.currentVersion(spark, root).isEmpty) return r
    // composed-tick marker (own `_ticks_ivf/` namespace): IvfStore's guard
    // covers only the CURRENT postings version's marker — enough for the
    // immediate replay at-least-once delivers, but a re-delivery arriving
    // after LATER ticks have committed would re-append an old batch. Later
    // ticks can only run once this one completed (marker included), so the
    // marker is always present exactly when the current-version guard no
    // longer covers the tick. Prunable by [[pruneTickMarkers]] past the
    // redelivery horizon: the presence check below is the index-side
    // semantic backstop a marker-less replay falls back to.
    if (!markerExists(spark, root, "_ticks_ivf", tickId)) {
      import spark.implicits._
      // fresh path: the tick just collected its keeper ids (batch-bounded)
      // — no store scan, no presence check (fresh keepers are by
      // construction unposted). Replay/retry path (corpus tick skipped or
      // its keeper collection lost): re-derive the keeper ids from the
      // committed store rows' tick column, then ask the postings whether
      // this tick already landed — a tick's postings commit atomically, so
      // ANY posted keeper proves the whole tick's postings did
      // ([[IvfStore.anyPosted]], vec_id-stat-pruned).
      val (keptIds, maybePosted) =
        if (keeperIds.nonEmpty) (keeperIds, false)
        else (read(spark, root).filter(col("tick") === tickId)
          .select(col("doc_id")).as[Long].collect(), true)
      if (!(maybePosted && IvfStore.anyPosted(spark, ivfRoot, keptIds))) {
        val keptVecs = batchEmb.join(
          broadcast(keptIds.toSeq.toDF("vec_id")), Seq("vec_id"), "left_semi")
        if (!keptVecs.isEmpty) {
          if (!IvfStore.isBuilt(spark, ivfRoot))
            IvfStore.build(keptVecs, ivfRoot, tickId = Some(tickId))
          else
            IvfStore.ingestBatch(keptVecs, ivfRoot, refreshModel, Some(tickId))
        }
      }
      writeMarker(spark, root, "_ticks_ivf", tickId)
    }
    r
  }

  /** INCREMENTAL small-file compaction with a truly atomic cutover, and
    * the store's one supported layout migration.
    *
    * Default mode (`rebucketTo = None`): rewrite ONLY fragmented buckets —
    * a `p_b` dir whose file count exceeds what its bytes justify
    * (more than ceil(bytes / targetBytes) files). Cold buckets' files are
    * carried into the new manifest UNTOUCHED, so one invocation costs
    * O(fragmented buckets), not O(store) — the per-tick input bound
    * applied to maintenance. Output files are sized PER BUCKET: rows
    * repartition on (p_b, sub-split) with ceil(bucketBytes / targetBytes)
    * sub-splits each, so a hot bucket emits several ~targetBytes files and
    * a small one exactly one — never the one-global-`coalesce` shape whose
    * tasks each emit a file into every bucket they hold.
    *
    * Rebucket mode (`rebucketTo = Some(layout)`): the whole store rewrites
    * in one atomic commit with every `p_b` RECOMPUTED from the row's own
    * key columns under the new layout, and the commit's `#meta:layout`
    * flips with the same version — the supported way to raise the bucket
    * constants of a live store (e.g. 16 → production 4096). Readers see
    * the old layout+files or the new, never a mix.
    *
    * Rows, dedup state, and tick markers are unchanged in both modes
    * (spec-asserted). Returns (files_before, files_after).
    */
  def compact(spark: SparkSession, root: String,
              targetBytes: Long = 128L << 20,
              rebucketTo: Option[StoreLayout] = None): (Long, Long) = {
    rebucketTo.foreach(requireCurrentExprVersion(_, "compact(rebucketTo)"))
    val fs = fsOf(spark, root)
    val dd = ManifestTable.dataDir(root)
    // the plan's files and its current layout: one version
    val snap = currentSnapshot(spark, root)
    val target = rebucketTo.getOrElse(snap.layout)
    val rebucket = target != snap.layout
    val live = snap.files

    def bucketExpr(kind: String): Column = kind match {
      case "doc" | "tomb" => md5Bucket(col("text_md5"), target)
      case "band" => storedBandBucket(target)
    }
    // sub-split hash key: any uniformly-distributed row key of the kind
    def subKey(kind: String): Column = kind match {
      case "doc" | "tomb" => col("text_md5")
      case "band" => col("band_val")
    }
    def targetBucketCount(kind: String): Int = kind match {
      case "doc" | "tomb" => target.md5Buckets
      case "band" => Dedup.NumBands * target.bandValBuckets
    }

    // per kind: (replaced bucket dirs, its write set, files read)
    def planOf(kind: String)
        : Option[(Seq[String], ManifestTable.WriteSet, Int)] = {
      val sized = snap.kind(kind).map(f => f -> fs.getFileStatus(
        new org.apache.hadoop.fs.Path(s"$dd/$f")).getLen)
      // bucket dir ("p_kind=doc/p_b=3") → its files with sizes
      val byBucket = sized.groupBy(_._1.split('/').take(2).mkString("/"))
      def justified(bytes: Long): Long =
        math.max(1L, (bytes + targetBytes - 1) / targetBytes)
      val rewrite =
        if (rebucket) byBucket
        else byBucket.filter { case (_, bf) =>
          bf.length > justified(bf.map(_._2).sum)
        }
      if (rewrite.isEmpty) None
      else {
        val inFiles = rewrite.values.flatten.map(_._1).toSeq
        val df = readKindFiles(spark, root, inFiles, kind)
        val (bucket, nSub: Column) =
          if (rebucket) {
            // per-target-bucket bytes are unknown until the hash runs;
            // a uniform estimate sizes the sub-splits (hash buckets are
            // uniform by construction)
            val totalBytes = sized.map(_._2).sum
            val per = totalBytes / math.max(1, targetBucketCount(kind))
            (bucketExpr(kind), lit(justified(per)))
          } else {
            // exact per-bucket sizing from the live file sizes
            val pairs = rewrite.toSeq.flatMap { case (dir, bf) =>
              val b = dir.split("p_b=")(1).toInt
              Seq(lit(b), lit(justified(bf.map(_._2).sum)))
            }
            (col("p_b"), element_at(map(pairs: _*), col("p_b")))
          }
        // one file per (bucket, sub-split), each with a FRESH bloom
        // sidecar (a merged file's filter is not the union of its inputs'
        // — it is sized to the merged file's row count), so the
        // second-level prune survives every compaction and rebucket
        Some((rewrite.keys.toSeq, kindSet(kind, df, bucket,
          pmod(xxhash64(subKey(kind)), nSub.cast("bigint"))), inFiles.length))
      }
    }
    val plans = phase(spark, "compact", "plan")(
      Seq("doc", "band", "tomb").flatMap(planOf))
    val replacedDirs = plans.flatMap(_._1)
    val nRewrittenIn = plans.map(_._3).sum
    if (replacedDirs.isEmpty && !rebucket)
      return (live.length.toLong, live.length.toLong) // nothing fragmented
    // every rewritten kind in ONE write job, then ONE commit
    val added = phase(spark, "compact", "write")(
      ManifestTable.writeFiles(spark, root, plans.map(_._2))).map(_._1.path)
    // the layout flips in the SAME commit (its meta line)
    ManifestTable.commitReplace(spark, root,
      if (rebucket) Seq("") else replacedDirs, added,
      meta = Map("layout" -> target.render))
    // deep on purpose: compaction is the store's maintenance pass, so it
    // also sweeps crash orphans the per-tick cheap vacuums leave behind
    ManifestTable.vacuum(spark, root, deep = true)
    (live.length.toLong, (live.length - nRewrittenIn + added.length).toLong)
  }

  /** What [[forget]] did: the committed version (unchanged when there was
    * nothing to do), documents purged, tombstones added for requested md5s
    * not already blocked, and live files rewritten across the doc and band
    * kinds.
    */
  case class ForgetReport(version: Long, nPurgedDocs: Long,
                          nNewTombstones: Long, nFilesRewritten: Int)

  /** CONTENT PURGE (right-to-be-forgotten): remove every document whose
    * `text_md5` is in `md5s` from the live snapshot — doc rows and band
    * postings — and tombstone ALL the requested md5s so an
    * exact redelivery of the purged text can never re-enter. One atomic
    * commit: the affected files (located through the same two-level
    * bucket+Bloom index the tick reads use, so a purge touches O(requests)
    * files, never the store) are rewritten without the victim rows and
    * swapped file-for-file ([[ManifestTable.commitRewriteFiles]]). The
    * rewrite and the new tombstones are one write job whose fresh Bloom
    * sidecars land with their files, ahead of the commit; each kind's
    * written rows must equal its victim files' rows minus the victims.
    *
    * Semantics a caller must know:
    *   - EXACT copies never return (tombstoned — including md5s the store
    *     had never seen, so a purge can pre-block a text). NEAR duplicates
    *     of the purged content MAY enter later: purging the text and band
    *     rows is the point (the bands derive from the content), and with
    *     them goes the store's ability to recognize its near-neighbors.
    *   - The purge is LOGICAL at commit time and physical after retention:
    *     prior snapshot versions still reference the old files until
    *     [[ManifestTable.vacuum]] ages them out (same reader-lag contract
    *     as every commit). Run a purge, then let retention lapse (or
    *     compact + deep-vacuum) for hard deletion.
    *   - Vector-index postings written by [[tickWithIndex]] are NOT
    *     touched here — [[forgetWithIndex]] composes this purge with
    *     [[IvfStore.forget]] for stores that run the platform tick.
    *   - Idempotent: re-running with the same md5s finds no victims and
    *     no new tombstones and commits nothing.
    *
    * Housekeeping contract (single writer), like [[compact]].
    */
  def forget(spark: SparkSession, root: String, md5s: Seq[String],
             retainSnapshots: Int = ManifestTable.RetainSnapshots)
      : ForgetReport = {
    val keys = forgetKeys(md5s)
    forgetAt(spark, root, currentSnapshot(spark, root), keys, retainSnapshots)
  }

  /** A purge request's md5s, lowercased and distinct. */
  private def forgetKeys(md5s: Seq[String]): Seq[String] = {
    val keys = md5s.map(_.toLowerCase).distinct
    require(keys.nonEmpty, "forget of an empty md5 set")
    // fail loud on malformed hashes — a purge that silently no-ops on a
    // typo'd hex string is a compliance bug, not a convenience
    keys.foreach(k => require(k.matches("[0-9a-f]{32}"),
      s"not an md5 hex digest: $k"))
    require(keys.size <= 100000,
      s"forget batch too large (${keys.size}); split into <=100000-key calls")
    keys
  }

  /** [[forget]] of `keys` against the resolved snapshot `snap`. */
  private def forgetAt(spark: SparkSession, root: String, snap: Snapshot,
                       keys: Seq[String], retainSnapshots: Int): ForgetReport = {
    val layout = snap.layout
    def locate[T](body: => T): T = phase(spark, "forget", "locate")(body)
    def shortlist(kind: String, ks: Seq[String]): Seq[String] =
      pruneRelFiles(spark, root, kind, layout, snap.kind(kind), ks)
        .getOrElse(snap.kind(kind))

    /** Of `files`, each one holding a `victim` row: file → (its rows, its
      * victim rows, the victims' doc_ids). One aggregate per kind, as ONE
      * job (an RDD aggregate: no AQE map-stage job) — the rows it counts
      * are what the rewrite must keep.
      */
    def victimFiles(files: Seq[String], kind: String, victim: Column)
        : Map[String, (Long, Long, Seq[Long])] =
      if (files.isEmpty) Map.empty
      else locate(readKindFiles(spark, root, files, kind)
        .select(input_file_name(), coalesce(victim, lit(false)), col("doc_id"))
        .rdd.map { r =>
          val ids = if (r.getBoolean(1)) List(r.getLong(2)) else Nil
          r.getString(0) -> (1L, ids.size.toLong, ids) }
        .reduceByKey((a, b) => (a._1 + b._1, a._2 + b._2, a._3 ::: b._3))
        .filter(_._2._2 > 0)
        .collect()).map { case (f, v) =>
          ManifestTable.manifestPathOf(spark, root, f) -> v }.toMap

    // victim documents, through the index
    val docVictim = col("text_md5").isin(keys: _*)
    val docHits = victimFiles(shortlist("doc", keys), "doc", docVictim)
    val victimIds = docHits.values.flatMap(_._3).toSeq.distinct

    // tombstones to add: every requested md5 not already blocked (kept
    // victims are not in tomb — their md5s get blocked here). The matches
    // are request-bounded: collected as they are, deduplicated here
    val tombShort = shortlist("tomb", keys)
    val already =
      if (tombShort.isEmpty) Set.empty[String]
      else locate(readKindFiles(spark, root, tombShort, "tomb")
        .filter(col("text_md5").isin(keys: _*))
        .collect()).map(_.getString(0)).toSet
    val newTombs = keys.filterNot(already.contains)

    if (victimIds.isEmpty && newTombs.isEmpty)
      return ForgetReport(snap.version, 0L, 0L, 0)

    // the victims' band postings: their keys derive from the victim doc
    // rows located above with the SAME kernels the tick used, so the
    // located band rows are exactly the stored ones
    val idVictim = col("doc_id").isin(victimIds: _*)
    val bandKeys =
      if (docHits.isEmpty) Array.empty[(Int, String)]
      else locate(Dedup.explodeBands(Dedup.withShingleBands(
          readKindFiles(spark, root, docHits.keys.toSeq, "doc")
            .filter(docVictim).select(col("doc_id"), col("text"))),
        Dedup.BandCols)
        .select(col("band_id"), col("band_val"))
        .collect()).map(r => (r.getInt(0), r.getString(1))).distinct
    val bandByBucket: Map[Int, Seq[String]] = bandKeys.toSeq
      .groupBy { case (id, v) => bandBucketForKey(id, v, layout) }
      .map { case (b, kvs) => b -> kvs.map(_._2).distinct }
    val bandHits = victimFiles(pruneRelFilesByBucket(spark, root,
      snap.kind("band"), bandByBucket), "band", idVictim)

    // ONE write job: the affected files rewritten without the victim rows
    // (same buckets) plus the new tombstones, then ONE commit flips all
    import spark.implicits._
    val rewrites = Seq(("doc", docHits, docVictim),
      ("band", bandHits, idVictim)).filter(_._2.nonEmpty)
    val written = phase(spark, "forget", "write")(
      ManifestTable.writeFiles(spark, root,
        rewrites.map { case (kind, hits, victim) =>
          kindSet(kind, readKindFiles(spark, root, hits.keys.toSeq, kind)
            .filter(!victim), col("p_b"))
        } ++ (if (newTombs.isEmpty) Nil
          else Seq(kindSet("tomb", newTombs.toDF("text_md5"),
            md5Bucket(col("text_md5"), layout))))))
    // a purge that silently dropped NON-victim rows on the way would be
    // data loss wearing a compliance hat: every kind's rewrite must hold
    // exactly its files' rows minus their victim rows
    rewrites.foreach { case (kind, hits, _) =>
      val expected = hits.values.map { case (n, nv, _) => n - nv }.sum
      require(rowsOf(written, kind) == expected,
        s"purge rewrite of kind $kind wrote ${rowsOf(written, kind)} rows, " +
          s"expected $expected")
    }
    require(rowsOf(written, "tomb") == newTombs.size,
      s"purge wrote ${rowsOf(written, "tomb")} tombstones, expected " +
        s"${newTombs.size}")
    val removed = rewrites.flatMap(_._2.keys).distinct
    val v = ManifestTable.commitRewriteFiles(spark, root, removed,
      written.map(_._1),
      meta = Map("layout" -> layout.render))
    ManifestTable.vacuum(spark, root, retainSnapshots, deep = false)
    ForgetReport(v, victimIds.size.toLong, newTombs.size.toLong,
      removed.size)
  }

  /** [[forget]] composed with the vector index [[tickWithIndex]] maintains
    * — the platform store's complete right-to-be-forgotten: the victims'
    * IVF postings leave the index FIRST (while their doc rows still exist
    * to resolve md5 → doc_id through the doc-kind two-level index), then
    * the corpus purge runs. After both, neither [[read]] nor
    * [[IvfStore.annIvf]] can ever return the purged content.
    *
    * Ordering is the crash-safety: a retry after a crash anywhere finds
    * the doc rows still present (the corpus purge hadn't run), re-resolves
    * the SAME victim ids, re-runs the idempotent index purge (a no-op if
    * it landed), and completes the corpus purge. The reverse order would
    * strand the postings forever — once the doc rows are gone, md5s no
    * longer resolve to vec_ids. Same housekeeping contract (single writer)
    * and retention semantics as [[forget]].
    */
  def forgetWithIndex(spark: SparkSession, root: String, ivfRoot: String,
                      md5s: Seq[String],
                      retainSnapshots: Int = ManifestTable.RetainSnapshots)
      : ForgetReport = {
    val keys = forgetKeys(md5s)
    // one snapshot for both halves: the index purge resolves its victims
    // from the doc rows the corpus purge then removes
    val snap = currentSnapshot(spark, root)
    val docShort = pruneRelFiles(spark, root, "doc", snap.layout,
      snap.kind("doc"), keys).getOrElse(snap.kind("doc"))
    val victimIds =
      if (docShort.isEmpty) Seq.empty[Long]
      else readKindFiles(spark, root, docShort, "doc")
        .filter(col("text_md5").isin(keys: _*))
        .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    if (victimIds.nonEmpty) IvfStore.forget(spark, ivfRoot, victimIds)
    forgetAt(spark, root, snap, keys, retainSnapshots)
  }

  /** The packed (shard, bin) training manifest over the accumulated
    * keepers — [[Corpus.corpusPipeline]]'s stage 2–7 tail off the store
    * (identical output to the all-at-once incremental build when the
    * ticks were its arrival waves; spec-asserted).
    *
    * `version` pins a store snapshot (default: the current one) — the
    * byte-reproducible rebuild of the manifest a past loader refresh saw
    * (the tail is a deterministic function of the snapshot's rows, and a
    * snapshot's files are immutable while the retention window holds
    * them). The training-reproducibility read: "which exact (shard, bin)
    * packing did version v train on". RETENTION BOUND: only versions
    * inside the per-tick vacuum's window stay readable — with [[tick]]'s
    * default (`ManifestTable.RetainSnapshots` = 2) that is the current and
    * previous version only; anything older fails loudly. Pass a larger
    * `retainSnapshots` to [[tick]] when loaders need to reproduce deeper
    * history.
    *
    * Cache lifecycle: unlike [[tick]], which releases its own caches, the
    * tail keeps its multiply-consumed stage frames alive past the call. Its
    * persisted frames follow the session-cache contract (a long-running
    * caller materializes the manifest, then clears the session cache or
    * runs each refresh in its own session), but its stage cuts
    * (`Corpus.stageCut`, lazy `localCheckpoint` blocks) are NOT dropped
    * by `spark.catalog.clearCache()`: they stay among the context's
    * persistent RDDs until GC and the `ContextCleaner` reclaim them once
    * the frames are unreachable.
    *
    * Jobs the call runs itself are described `manifest: <phase>`: the
    * tail's stage cuts run their upstream shuffle stages when planned, so
    * most of a refresh runs here (`plan`), as do [[manifestCached]]'s
    * model writes (`models`); the returned frame's last stages run in the
    * caller's action, under the caller's description.
    */
  def manifest(spark: SparkSession, root: String,
               version: Option[Long] = None,
               perplexityThreshold: Double = 3.5,
               flagAt: Double = 0.2,
               totalBudget: Long = 20000L,
               nShards: Int = 8,
               seqBudget: Long = 1024L,
               seed: String = "graft"): DataFrame =
    phase(spark, "manifest", "plan") {
      val rows = version match {
        case None => docs(spark, root)
        case Some(v) =>
          val files = ManifestTable.filesOf(spark, root, v)
            .filter(_.startsWith("p_kind=doc/"))
          require(files.nonEmpty, s"no doc files in snapshot v$v at $root")
          readKindFiles(spark, root, files, "doc")
            .select(col("doc_id"), col("lang"), col("source"), col("text"))
      }
      Corpus.pipelineTail(rows, perplexityThreshold, flagAt, totalBudget,
        nShards, seqBudget, seed)
    }

  /** [[manifest]] with the tail's corpus-dependent models STAGED per store
    * snapshot version (the [[CentroidStore]] versioned-sidecar pattern
    * applied to the pipeline tail): the first refresh at version v trains
    * the perplexity LM and derives the held-out decontamination shingle
    * set, then persists them under `_models/v{v}/` (write, then one
    * atomic `_DONE` marker — a crash mid-write just re-derives next
    * refresh); subsequent refreshes at the SAME version load the sidecars
    * instead of re-training. Byte-identical manifest either way
    * (spec-asserted) — the models are deterministic functions of the
    * snapshot, so staging changes cost, never content. Sidecars of
    * vacuumed versions prune on the shared retention parser.
    */
  def manifestCached(spark: SparkSession, root: String,
                     perplexityThreshold: Double = 3.5,
                     flagAt: Double = 0.2,
                     totalBudget: Long = 20000L,
                     nShards: Int = 8,
                     seqBudget: Long = 1024L,
                     seed: String = "graft"): DataFrame = {
    val v = ManifestTable.currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $root"))
    val fs = fsOf(spark, root)
    val base = new org.apache.hadoop.fs.Path(s"$root/_models")
    val mdir = s"$root/_models/v$v"
    val done = new org.apache.hadoop.fs.Path(s"$mdir/_DONE")
    val staged =
      if (fs.exists(done)) phase(spark, "manifest", "plan")(
        Some(Corpus.TailModels(
          spark.read.parquet(s"$mdir/lm_bigrams"),
          spark.read.parquet(s"$mdir/lm_vocab"),
          spark.read.parquet(s"$mdir/held_shingles"))))
      else None
    val (m, models) = phase(spark, "manifest", "plan")(
      Corpus.pipelineTailWithModels(docs(spark, root), perplexityThreshold,
        flagAt, totalBudget, nShards, seqBudget, seed, staged))
    if (staged.isEmpty) phase(spark, "manifest", "models") {
      // the model writes run the tail's shared DAG up to `gated`; its
      // stage frames are persisted by the tail itself, so the manifest
      // materialization that follows reuses them, not re-derives
      models.lmBigrams.write.mode(SaveMode.Overwrite)
        .parquet(s"$mdir/lm_bigrams")
      models.lmVocab.coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(s"$mdir/lm_vocab")
      models.heldShingles.write.mode(SaveMode.Overwrite)
        .parquet(s"$mdir/held_shingles")
      fs.create(done).close()
      ManifestTable.pruneVersionDirs(fs, base,
        ManifestTable.versions(spark, root).toSet)
    }
    m
  }

  /** [[read]] pinned at a RETAINED snapshot version — the doc rows exactly
    * as that version committed them (time travel; files are immutable
    * inside the retention window, see [[tick]]'s `retainSnapshots`). An
    * unretained version fails loudly at the manifest read; a retained
    * version with no doc files (e.g. a tomb-only first commit) reads as a
    * correctly typed empty frame.
    */
  def readAt(spark: SparkSession, root: String, version: Long): DataFrame = {
    val files = ManifestTable.filesOf(spark, root, version)
    requireStoreLayout(root, files)
    readKindFiles(spark, root, files.filter(_.startsWith("p_kind=doc/")), "doc")
      .drop(PartColNames: _*)
  }

  /** Change data feed between two retained snapshots: the document-level
    * inserts and deletes that move `fromVersion`'s kept-document view to
    * `toVersion`'s — what an incremental consumer (a training-data export
    * refresh, a downstream feature store) applies instead of re-reading the
    * corpus. Output: (doc_id, lang, source, text_md5, change) with change
    * in {insert, delete}; `text_md5` is the store's content identity (the
    * exact-dedup key — one doc row per md5 per snapshot), so a delete names
    * exactly the content that left.
    *
    * SCALE: pure manifest arithmetic picks the doc files the two versions
    * do NOT share, and only those files are ever read — ticks append and
    * [[forget]] rewrites only victim files, so a tick-window diff costs
    * O(changed files), never O(store). Rows that merely MOVED between
    * files cancel in a `text_md5` anti-join between the two changed sides:
    * a [[compact]]-only window reads its rewritten files once and yields
    * zero changes. The one degenerate window is a `rebucketTo` migration
    * (every file rewrites, so the diff reads the store once to prove
    * nothing changed) — diff around migrations, not across them, when that
    * matters.
    *
    * Both versions must still be retained (an unretained version's
    * manifest is gone and the read fails loudly — raise [[tick]]'s
    * `retainSnapshots` to the consumer's maximum refresh lag).
    * `fromVersion = 0` is the EMPTY store: the bootstrap full export
    * (every kept doc as an insert). Streaming surface:
    * [[graft.streaming.StoreChangesSource]] serves exactly these windows
    * as micro-batches with store versions as offsets.
    */
  def changesBetween(spark: SparkSession, root: String,
                     fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion > toVersion $toVersion")
    // version 0 = the EMPTY store: changesBetween(0, v) is the bootstrap
    // diff — every kept document as an insert — which is what lets a CDF
    // consumer (graft.streaming.StoreChangesSource) start from nothing
    // and stay incremental afterwards
    def docFiles(v: Long): Set[String] =
      if (v == 0L) Set.empty
      else {
        val files = ManifestTable.filesOf(spark, root, v)
        requireStoreLayout(root, files)
        files.filter(_.startsWith("p_kind=doc/")).toSet
      }
    val fromF = docFiles(fromVersion)
    val toF = docFiles(toVersion)
    def changedRows(own: Set[String], other: Set[String], tag: String) =
      readKindFiles(spark, root, (own -- other).toSeq.sorted, "doc")
        .join(readKindFiles(spark, root, (other -- own).toSeq.sorted, "doc")
          .select(col("text_md5")),
          Seq("text_md5"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source"), col("text_md5"))
        .withColumn("change", lit(tag))
    changedRows(toF, fromF, "insert")
      .unionByName(changedRows(fromF, toF, "delete"))
  }

  /** [[changesBetween]] from `sinceVersion` to the current snapshot — the
    * consumer-side refresh call ("what changed since my last export").
    */
  def changesSince(spark: SparkSession, root: String,
                   sinceVersion: Long): DataFrame =
    changesBetween(spark, root, sinceVersion,
      ManifestTable.currentVersion(spark, root).getOrElse(
        throw new IllegalStateException(s"no committed snapshot at $root")))

  case class KindHealth(kind: String, nFiles: Long, nBuckets: Long,
                        maxFilesPerBucket: Long)
  case class StoreHealth(version: Long, nRetainedVersions: Int,
                         nCommittedTicks: Int, layout: StoreLayout,
                         kinds: Seq[KindHealth])

  /** Operational health of the live snapshot — the numbers a compaction
    * schedule and a capacity dashboard key on — from manifest arithmetic
    * plus one marker listing: no data file is opened and no directory
    * under `data/` is walked, so the call is O(manifest lines) on the
    * driver however large the store grows. `maxFilesPerBucket` is the
    * fragmentation signal: ticks append one file per touched bucket per
    * kind, so it climbs roughly one per tick between [[compact]] runs and
    * collapses back to ~1 after.
    */
  def health(spark: SparkSession, root: String): StoreHealth = {
    // one listing gives the retained versions and the current one
    val versions = ManifestTable.versions(spark, root)
    val snap = snapshotAt(spark, root, versions.lastOption.getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $root")))
    val kinds = Seq("doc", "tomb", "band").map { k =>
      val files = snap.kind(k)
      val perBucket = files.groupBy(bucketOfPath).values.map(_.size)
      KindHealth(k, files.size.toLong, perBucket.size.toLong,
        if (perBucket.isEmpty) 0L else perBucket.max.toLong)
    }
    StoreHealth(snap.version, versions.size,
      committedTicks(spark, root).size, snap.layout, kinds)
  }
}
