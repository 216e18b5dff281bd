package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, EqualNullSafe, EqualTo, Expression, In, InSet, Literal, Or}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Distinct, Filter, Join, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.{CorpusStore, ManifestTable}

/** Index-backed point reads on a [[CorpusStore]] through the PLAIN
  * declarative API — the optimizer half of the store's two-level file
  * index (bucket dirs + per-file Bloom sidecars), which until this rule
  * only the tick machinery could use.
  *
  * [[CorpusStore.read]] tags its snapshot scan with the store root, the
  * row kind, and the layout that wrote the files (relation options). When
  * a query filters that scan by LITERAL keys of the kind's index column —
  * `docs.filter($"text_md5" === lit)`, an IN list, SQL `WHERE text_md5 =
  * '…'` over a registered view — this rule swaps the relation's file list
  * for the two-level-pruned shortlist, so a point lookup on a 100 TB store
  * plans as a handful of file reads instead of a full-snapshot scan. The
  * filter itself stays in the plan (Bloom false positives and co-bucketed
  * rows still need the exact predicate); pruning only ever REMOVES files
  * that provably hold no matching row, so results are bit-identical to the
  * unpruned scan (spec-asserted, and the driver oracle gates a query
  * through this path).
  *
  * Soundness rules, in order:
  *   - only conjuncts that RESTRICT the key column prune (an `OR` across
  *     different columns restricts nothing);
  *   - extraction must be total — any non-literal or unrenderable value in
  *     a conjunct voids that conjunct;
  *   - a file with no readable sidecar is always kept (skipping must be
  *     provably safe — the [[ManifestTable.pruneEntries]] rule);
  *   - the prune works on the relation's OWN file list, never a fresh
  *     manifest listing: the plan keeps reading the snapshot it was built
  *     against even if the store ticks or compacts concurrently (the
  *     layout rides in the tag for the same reason).
  *
  * Installed per-session ([[GraftExtensions.install]]) or via config
  * (`spark.sql.extensions=graft.plans.GraftSessionExtensions`). Runs in a
  * fixed-point batch, so a rewritten relation is marked
  * (`graft.store.pruned`) and never reconsidered.
  */
class StorePruneRule(spark: SparkSession) extends Rule[LogicalPlan] {

  /** Literal-set extraction cap: beyond this many keys the driver-side
    * probe work outgrows what a scan-side filter costs anyway.
    */
  private val MaxKeys = 4096

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, rel: LogicalRelation)
        if taggedRelation(rel).nonEmpty =>
      val hfs = taggedRelation(rel).get
      val root = hfs.options("graft.store.root")
      val kind = hfs.options("graft.store.kind")
      val layout = CorpusStore.parseLayout(hfs.options("graft.store.layout"),
        s"relation tag at $root")
      val byRel = manifestPaths(root, hfs)
      val pruned: Option[Seq[String]] = CorpusStore.bloomKeyOf(kind) match {
        case Some(keyCol) =>
          keysOf(cond, keyCol) match {
            case Some(keys) if keys.nonEmpty && keys.size <= MaxKeys =>
              CorpusStore.pruneRelFiles(spark, root, kind, layout,
                byRel.keys.toSeq, keys.toSeq)
            case _ => None
          }
        case None if kind == "band" => bandPrune(cond, root, layout, byRel)
        case _ => None
      }
      pruned match {
        case Some(kept) if kept.size < byRel.size =>
          if (kept.isEmpty) Filter(cond, LocalRelation(rel.output))
          else Filter(cond, rel.copy(relation = rebuilt(hfs,
            kept.sorted.map(byRel))))
        case _ => f // no reduction (or unprunable keys): leave as-is
      }

    // filter-by-JOIN point reads: a semi/inner join of the tagged scan
    // against a SMALL keys frame on the kind's index column — the shape a
    // user writes when the probe keys come from another query instead of
    // literals. See [[joinPrune]].
    case j @ Join(left, right, jt, Some(cond), _)
        if (jt == LeftSemi || jt == Inner) &&
          (firstTagged(left).nonEmpty || firstTagged(right).nonEmpty) =>
      joinPrune(j).getOrElse(j)
  }

  /** The DPP-style prune for joins (the round-13 gap: point reads whose
    * probe keys come from a query still collected them driver-side,
    * because only literal predicates pruned). When one side of a
    * semi/inner equi-join contains the tagged snapshot scan and the OTHER
    * side — the probe — is estimated under the broadcast threshold, the
    * probe's distinct keys are evaluated here in the planner (exactly the
    * subquery execution dynamic partition pruning performs) and routed
    * through the same two-level file prune as literal keys. USER CODE
    * COLLECTS NOTHING; soundness is unchanged — pruning only removes
    * files whose bucket+Bloom provably hold none of the probe's keys, and
    * the join itself stays in the plan to do the exact matching. A probe
    * over [[MaxKeys]] distinct keys abandons the prune (the scan-side
    * join out-filters driver probe work at that size); a FAILED probe
    * evaluation abandons it too, never guesses.
    */
  private def joinPrune(j: Join): Option[LogicalPlan] = {
    val Join(left, right, jt, Some(cond), _) = j: @unchecked
    val (scanSide, probeSide, taggedIn) = firstTagged(left) match {
      case Some(t) => (left, right, t)
      case None    => (right, left, firstTagged(right).get)
    }
    // an inner join multiplies rows, but file pruning stays sound for it:
    // a pruned-away file holds no row matching ANY probe key, so it can
    // contribute no join output. LeftSemi additionally requires the scan
    // on the LEFT (Spark's semi shape) — enforced by the match above
    // having found the tagged side.
    if (jt == LeftSemi && !firstTagged(left).contains(taggedIn)) return None
    val (rel, hfs) = taggedIn
    // file pruning is only sound when every node between the join and the
    // tagged scan is pushdown-transparent (Project/Filter — the same
    // condition Spark's DPP enforces): a Limit, Window, or Sample in
    // between picks DIFFERENT rows once files are dropped (e.g.
    // store.read.limit(10).join(probe) returns a different 10 rows), so
    // the pruned plan would not be bit-identical to the unpruned one
    if (!pruneTransparent(scanSide, rel)) return None
    val kind = hfs.options("graft.store.kind")
    val keyCol = CorpusStore.bloomKeyOf(kind).getOrElse(return None)
    // the equi-conjunct pairing the scan's key column with a probe column
    val probeAttr: Attribute = conjuncts(cond).collectFirst {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if a.name == keyCol && rel.outputSet.contains(a) &&
            probeSide.outputSet.contains(b) => b
      case EqualTo(b: AttributeReference, a: AttributeReference)
          if a.name == keyCol && rel.outputSet.contains(a) &&
            probeSide.outputSet.contains(b) => b
    }.getOrElse(return None)
    // the probe is executed TWICE — once here at plan time (to collect the
    // prune keys) and again at runtime by the join that stays in the plan.
    // A nondeterministic probe (rand()/uuid()) or a streaming source could
    // produce DIFFERENT runtime keys than the plan-time keys used to drop
    // files, silently losing matching rows — the same determinism bar
    // Spark's DPP places on reused subqueries. Bail, never guess.
    if (probeSide.isStreaming ||
        probeSide.exists(p => p.expressions.exists(e => !e.deterministic)))
      return None
    // "small frame" = the broadcast-side estimate, the same bar a
    // broadcast join uses; a disabled threshold (<= 0) falls back to 10MB
    val bc = spark.sessionState.conf.autoBroadcastJoinThreshold
    val limit = if (bc > 0) bc else 10L << 20
    if (probeSide.stats.sizeInBytes > limit) return None
    val keys =
      try {
        val probePlan = Distinct(Project(Seq(probeAttr), probeSide))
        StorePruneRule.planToDf(spark, probePlan)
          .limit(MaxKeys + 1).collect()
          .flatMap(r => Option(r.get(0)).map(_.toString)).toSeq
      } catch { case scala.util.control.NonFatal(_) => return None }
    if (keys.size > MaxKeys) return None
    val root = hfs.options("graft.store.root")
    val layout = CorpusStore.parseLayout(hfs.options("graft.store.layout"),
      s"relation tag at $root")
    val byRel = manifestPaths(root, hfs)
    // zero probe keys: the equi-join can match nothing — empty scan
    if (keys.isEmpty)
      return Some(j.copy(
        left = if (scanSide eq left) replaceRel(left, rel, None) else left,
        right = if (scanSide eq right) replaceRel(right, rel, None) else right))
    CorpusStore.pruneRelFiles(spark, root, kind, layout,
      byRel.keys.toSeq, keys) match {
      case Some(kept) if kept.size < byRel.size =>
        val newHfs =
          if (kept.isEmpty) None
          else Some(rebuilt(hfs, kept.sorted.map(byRel)))
        val rebuiltSide = replaceRel(scanSide, rel, newHfs)
        Some(j.copy(
          left = if (scanSide eq left) rebuiltSide else left,
          right = if (scanSide eq right) rebuiltSide else right))
      case _ => None
    }
  }

  /** Swap `rel` inside `side` for the pruned relation (None = provably
    * empty → an empty LocalRelation with the same output attributes).
    */
  private def replaceRel(side: LogicalPlan, rel: LogicalRelation,
                         newHfs: Option[HadoopFsRelation]): LogicalPlan =
    side.transform {
      case lr: LogicalRelation if lr eq rel =>
        newHfs match {
          case Some(h) => rel.copy(relation = h)
          case None    => LocalRelation(rel.output)
        }
    }

  /** True when the path from `side`'s root down to `rel` crosses only
    * Project/Filter nodes — the pushdown-transparency condition under
    * which removing provably-non-matching files from the scan cannot
    * change the side's surviving row set (Project/Filter act row-wise;
    * anything order- or count-sensitive in between voids the prune).
    */
  private def pruneTransparent(side: LogicalPlan,
                               rel: LogicalRelation): Boolean = {
    def walk(p: LogicalPlan): Boolean = p match {
      case lr: LogicalRelation  => lr eq rel
      case Project(_, child)    => walk(child)
      case Filter(_, child)     => walk(child)
      case _                    => false
    }
    walk(side)
  }

  /** The single tagged unpruned scan inside `side`, if exactly one. */
  private def firstTagged(side: LogicalPlan)
      : Option[(LogicalRelation, HadoopFsRelation)] = {
    val tagged = side.collect {
      case lr: LogicalRelation if taggedRelation(lr).nonEmpty =>
        (lr, taggedRelation(lr).get)
    }
    if (tagged.size == 1) tagged.headOption else None
  }

  /** The band kind's COMPOUND prune: its bucket is a (band_id, band_val)
    * pair, so a plan restricting BOTH columns to literal sets — the
    * "which documents share this band" investigative query — prunes
    * through the cross product of the two sets routed via
    * [[CorpusStore.bandBucketForKey]] (bucket dirs) with the band_vals as
    * per-bucket Bloom probes. The cross product over-approximates the
    * plan's actual pairs, so the prune stays sound: every file holding a
    * matching (id, val) row is in a kept bucket with its val probed.
    * Either column unrestricted → no prune (a band_val alone cannot
    * resolve a bucket dir). The band kind stores band_val as binary and
    * [[CorpusStore.bands]] decodes it to hex, so the optimizer hands this
    * rule the decode pushed below that projection (`decode(band_val) =
    * lit`); [[keySet]] sees through it.
    */
  private def bandPrune(cond: Expression, root: String,
                        layout: CorpusStore.StoreLayout,
                        byRel: Map[String, String]): Option[Seq[String]] =
    (keysOf(cond, "band_id"), keysOf(cond, "band_val")) match {
      case (Some(is), Some(vs)) if is.nonEmpty && vs.nonEmpty &&
          is.size * vs.size <= MaxKeys =>
        // a non-numeric band_id literal (or a bucket-eval failure on a
        // garbage band_val) voids the prune, never guesses — the
        // pruneRelFiles total-extraction rule
        try {
          val byBucket = (for { i <- is.toSeq.map(_.toInt); v <- vs.toSeq }
            yield (i, v))
            .groupBy { case (i, v) =>
              CorpusStore.bandBucketForKey(i, v, layout) }
            .map { case (b, kvs) => b -> kvs.map(_._2).distinct }
          Some(CorpusStore.pruneRelFilesByBucket(spark, root,
            byRel.keys.toSeq, byBucket))
        } catch { case scala.util.control.NonFatal(_) => None }
      case _ => None
    }

  /** The relation's store tags, if it is an UNPRUNED tagged snapshot scan. */
  private def taggedRelation(rel: LogicalRelation): Option[HadoopFsRelation] =
    rel.relation match {
      case hfs: HadoopFsRelation
          if hfs.options.contains("graft.store.root") &&
            hfs.options.contains("graft.store.kind") &&
            hfs.options.contains("graft.store.layout") &&
            !hfs.options.contains("graft.store.pruned") => Some(hfs)
      case _ => None
    }

  /** The relation's files keyed by their manifest paths — the names the
    * store's prune works on.
    */
  private def manifestPaths(root: String,
                            hfs: HadoopFsRelation): Map[String, String] =
    hfs.location.inputFiles.toSeq
      .map(abs => ManifestTable.manifestPathOf(spark, root, abs) -> abs).toMap

  /** The relation copy over the pruned file list: a fresh file index on
    * exactly those paths (same options, so `basePath` keeps partition
    * parsing identical), same schemas, marked so the fixed-point batch
    * never reconsiders it. Output attributes are REUSED from the original
    * relation by the caller (`rel.copy`), so references above stay valid.
    */
  private def rebuilt(hfs: HadoopFsRelation,
                      keptAbs: Seq[String]): HadoopFsRelation = {
    val opts = hfs.options + ("graft.store.pruned" -> "true")
    val index = new InMemoryFileIndex(spark, keptAbs.map(new Path(_)),
      opts, Some(hfs.schema))
    hfs.copy(location = index, options = opts)(spark)
  }

  /** The set of values `keyCol` is RESTRICTED to by `cond`, if any conjunct
    * pins it: conjuncts are intersected (AND), and within a conjunct only
    * pure key-equality shapes count — `= lit`, `IN (lits)`, optimizer
    * `InSet`, and OR-trees built solely of those on the key column. A
    * conjunct that mixes in anything else restricts nothing and is
    * skipped; if no conjunct restricts the key, None (no prune).
    */
  private def keysOf(cond: Expression, keyCol: String): Option[Set[String]] = {
    val sets = conjuncts(cond).flatMap(keySet(_, keyCol))
    sets.reduceOption(_ intersect _)
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x         => Seq(x)
  }

  private def keySet(e: Expression, keyCol: String): Option[Set[String]] =
    e match {
      case EqualTo(KeyAttr(a), Literal(v, _)) if a.name == keyCol =>
        render(v).map(Set(_))
      case EqualTo(Literal(v, _), KeyAttr(a)) if a.name == keyCol =>
        render(v).map(Set(_))
      case EqualNullSafe(KeyAttr(a), Literal(v, _))
          if a.name == keyCol => render(v).map(Set(_))
      case EqualNullSafe(Literal(v, _), KeyAttr(a))
          if a.name == keyCol => render(v).map(Set(_))
      case In(KeyAttr(a), vs)
          if a.name == keyCol && vs.forall(_.isInstanceOf[Literal]) =>
        sequence(vs.map { case Literal(v, _) => render(v) })
      case InSet(KeyAttr(a), vs) if a.name == keyCol =>
        sequence(vs.toSeq.map(render))
      case Or(l, r) =>
        for { a <- keySet(l, keyCol); b <- keySet(r, keyCol) } yield a ++ b
      case _ => None
    }

  /** A key column as a predicate compares it: the attribute itself, or a
    * stored binary column under the store's hex decode
    * ([[CorpusStore.DecodedMd5]]), which equals the hex key its bucket and
    * Bloom probe are computed from.
    */
  private object KeyAttr {
    def unapply(e: Expression): Option[AttributeReference] = e match {
      case a: AttributeReference => Some(a)
      case CorpusStore.DecodedMd5(a: AttributeReference) => Some(a)
      case _ => None
    }
  }

  private def sequence(vs: Seq[Option[String]]): Option[Set[String]] =
    if (vs.forall(_.nonEmpty)) Some(vs.flatten.toSet) else None

  /** Literal internal value → the STRING the sidecar writer keyed on
    * (`cast(col as string)`): UTF8String verbatim, integral types in
    * decimal. Anything else (null, non-integral numerics, binaries) is
    * unrenderable — the conjunct is voided rather than guessed at.
    */
  private def render(v: Any): Option[String] = v match {
    case u: UTF8String => Some(u.toString)
    case l: Long       => Some(l.toString)
    case i: Int        => Some(i.toString)
    case s: Short      => Some(s.toString)
    case b: Byte       => Some(b.toString)
    case _             => None
  }
}

object StorePruneRule {
  /** `Dataset.ofRows` — the LogicalPlan→DataFrame constructor every
    * planner-time subquery evaluation in Spark itself uses — is
    * `private[sql]` (public at the bytecode level), so [[joinPrune]]'s
    * probe evaluation resolves it reflectively ONCE here, failing loudly
    * and actionably at class init on a Spark that moved the seam (the
    * [[graft.streaming.StoreChangesSource]] hardening discipline).
    */
  private val ofRows: java.lang.reflect.Method =
    try {
      val cls = Class.forName("org.apache.spark.sql.classic.Dataset$")
      cls.getMethod("ofRows",
        Class.forName("org.apache.spark.sql.classic.SparkSession"),
        classOf[LogicalPlan])
    } catch {
      case e: ReflectiveOperationException =>
        throw new IllegalStateException(
          "org.apache.spark.sql.classic.Dataset.ofRows(SparkSession, " +
            "LogicalPlan) is not resolvable on this Spark version — " +
            "update StorePruneRule.planToDf to this version's " +
            "LogicalPlan->DataFrame seam.", e)
    }

  private[plans] def planToDf(spark: SparkSession,
                              plan: LogicalPlan): org.apache.spark.sql.DataFrame = {
    val module = Class.forName("org.apache.spark.sql.classic.Dataset$")
      .getField("MODULE$").get(null)
    ofRows.invoke(module, spark, plan)
      .asInstanceOf[org.apache.spark.sql.DataFrame]
  }
}

/** Session installers for the store's optimizer rule. */
object GraftExtensions {
  /** Idempotently add [[StorePruneRule]] to an EXISTING session (the
    * runtime path — no config restart needed).
    */
  def install(spark: SparkSession): Unit = synchronized {
    val cur = spark.experimental.extraOptimizations
    if (!cur.exists(_.isInstanceOf[StorePruneRule]))
      spark.experimental.extraOptimizations = cur :+ new StorePruneRule(spark)
  }
}

/** Config-time form: `--conf spark.sql.extensions=graft.plans.GraftSessionExtensions`. */
class GraftSessionExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit =
    e.injectOptimizerRule(s => new StorePruneRule(s))
}
