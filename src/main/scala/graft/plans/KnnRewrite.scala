package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{DoubleType, FloatType, ArrayType}
import graft.Metric
import graft.functions.{CosineDistance, IpDistance, L2Distance}

/**
 * SURVEY §4.3 (stretch): serve `ORDER BY <distance>(vec, <literal>) LIMIT k`
 * from a sealed vector index instead of a full corpus scan.
 *
 * The reference has no SQL surface at all — its kNN entry point is the
 * stream job. This is the Spark-native surface on top of the same cold
 * tier: [[KnnIndex.register]] declares that kNN queries over a corpus
 * path should be answered by the HNSW sidecars of a cell-sealed
 * [[graft.store.ColdTier]] directory (built from the same rows). One
 * matcher, [[KnnScanRule]], recognizes the statement right after
 * analysis and replaces it with one logical leaf, [[KnnScan]]; the
 * planner maps that leaf to one physical operator, [[KnnServeExec]],
 * which serves it when the statement executes. Nothing serves during
 * analysis or optimization: `EXPLAIN` and `queryExecution.optimizedPlan`
 * run no kernel, and the optimizer walks a one-node plan instead of a
 * 128-element array of literal casts.
 *
 * Where the hooks live: [[graft.GraftExtensions]] injects the matcher as
 * a post-hoc resolution rule and as an optimizer rule, plus the planner
 * strategy; [[graft.SparkEntry.configure]] applies the extensions, so
 * every session the program builds has them. [[KnnIndex.install]] adds
 * the same matcher (as a late `extraOptimizations` rule) and strategy to
 * a session built without them. The optimizer-time copies also catch
 * shapes that only optimizer normalization exposes (a view whose filter
 * sits inside its definition, an unwrapped cast, the window-rank idiom
 * below).
 *
 * Registration is the opt-in: an index-served ORDER BY is APPROXIMATE
 * (graph recall — spec-gated ≥ the same bars as every other ANN surface
 * here), which is exactly the trade the user requests by registering.
 * Without a registration — or with `spark.graft.knn.rewrite=false` — the
 * plan is untouched and Spark executes the exact scan.
 *
 * Matched shape (what `df.select(id, dist).orderBy(dist).limit(k)` and
 * the SQL `SELECT id, l2_distance(vec, array(...)) AS dist FROM corpus
 * ORDER BY dist LIMIT k` both analyze to):
 *
 *   GlobalLimit k
 *     LocalLimit k
 *       Sort [dist ASC] | [dist ASC, idCol ASC], global
 *         Project [idCol, Alias(distance(vecCol, foldable) | swapped) AS dist]
 *           [Filter <registered conjuncts>]
 *             [SubqueryAlias / View] parquet relation (registered path)
 *
 * The query vector may be literal casts or a bound parameter
 * (`spark.sql(text, Map("q" -> arr))` with `l2_distance(vec, :q)`): it is
 * evaluated once, when the statement is matched.
 *
 * The optional second sort key is the deterministic-pagination tie-break
 * on the registered id column — the probe's merge contract already
 * orders by (dist, id), so the tie-broken form is served by the
 * identical probe; any other second key keeps the exact plan.
 *
 * The projection may list only the registered id column and the distance
 * alias (the classic vector-search answer shape): anything wider would
 * need candidate hydration — that variant stays on the exact path rather
 * than silently changing more of the query than was opted into. The one
 * tolerated extra is ANOTHER alias of the SAME distance expression: the
 * other production top-k idiom —
 *
 *   SELECT id, dist FROM (
 *     SELECT id, <distance>(vec, <literal>) AS dist,
 *            row_number() OVER (ORDER BY <distance>(vec, <literal>)) AS rn
 *     FROM corpus) WHERE rn <= k
 *
 * — optimizes (LimitPushDownThroughWindow) into exactly the matched
 * Limit/Sort shape with the window's sort key as a duplicate `_w0`
 * distance alias beside `dist`, the Window/Filter wrapper left above.
 * Every such alias maps to the probe's distance, the wrapper recomputes
 * row_number over the k probe rows (trivial), and the results match the
 * ORDER BY ... LIMIT k form (row_number admits exactly k rows; rank-like
 * functions don't reduce to this shape, so their tie semantics are never
 * silently changed).
 *
 * Which engine answers a matched statement, and what it costs
 * ([[KnnServeExec]] decides at execute time; "warm" = sidecars and
 * decoded segments already resident in this process, within
 * `graft.coldtier.segmentCacheBytes`):
 *
 * | shape                                     | warm engine (in-process)          | jobs | fallback (cold, over budget, segment without sidecar) |
 * |-------------------------------------------|-----------------------------------|------|--------------------------------------------------------|
 * | literal `=`/`IN`/range admitted to <= 4 segments | exact kernel over decoded segments | 0 | distributed exact scan of those segments |
 * | unfiltered                                | graph probe, graph distances      | 0    | `searchIndexedFast` probe (~7 jobs)                    |
 * | any other literal `=`/`IN`/range          | graph probe + exact re-rank       | 0    | `searchIndexedLiteralFiltered` probe (~13 jobs)        |
 *
 * The warm engine and its fallback answer identically for the same tier
 * state; only where the work runs differs. A registration whose tier is
 * gone when the statement is matched keeps the exact plan; one whose
 * tier fails while the statement executes runs the original plan.
 * `EXPLAIN` shows `KnnServeExec`; after execution its SQL metrics (also
 * in the SQL UI) name the engine, the fallback reason, the segments
 * admitted, the rows scored and the kernel time.
 */
object KnnIndex {
  /** @param filterColumns attribute columns sealed into the tier's
   *        segments (ColdTier attribute payload) that a matched
   *        `WHERE <col> = <literal>`, `<col> IN (<literals>)`, or — on
   *        numeric columns — a range band (`<col> >= a AND <col> < b`,
   *        BETWEEN) may be served against. A filtered
   *        probe hydrates only the graph shortlist (candidate-bounded
   *        IO, not zero-IO like the bare probe) and over-fetches the
   *        shortlist by `filterOverfetch` since the graph walk is
   *        filter-oblivious — size `shortlist * filterOverfetch /
   *        selectivity` to the label distribution when registering.
   * @param timeColumn the corpus column whose values were sealed as the
   *        tier's `eventTime`. A matched range predicate on it (`ts >=
   *        a`, `ts < b`, `BETWEEN`, or a point `ts = v`) becomes the
   *        probe's freshness window — the reference's TTL semantics
   *        surfaced in SQL ("top-k among the last N days"). Bounds are
   *        clamped to the same ±2^62 eventTime contract the bare
   *        rewrite imposes. Disjoint from `filterColumns` (an equality
   *        on the time column is a point window, not a label filter).
   * @param snapshot pin every probe to [[graft.store.ColdTier.snapshot]]
   *        version `v` — the `VERSION AS OF` time-travel idiom as a
   *        registration property: mutations sealed after the snapshot
   *        (flushes, deletes, compactions) are invisible to rewritten
   *        queries, byte-stable until the registration changes
   *        ([[graft.store.ColdTier.gc]] keeps pinned segment files and
   *        sidecars alive until the snapshot is dropped). */
  final case class Registration(coldDir: String, idCol: String,
      vecCol: String, metric: Metric, efSearch: Int, probeSegments: Int,
      shortlist: Int, filterColumns: Set[String] = Set.empty,
      filterOverfetch: Int = 4, timeColumn: Option[String] = None,
      snapshot: Option[Long] = None,
      // serve matched filter conjuncts IN-WALK (the ACORN acceptance
      // filter) instead of by shortlist over-fetch: equality/IN
      // conjuncts test sealed attribute hashes, numeric range bands test
      // sealed canonical values — declare it when the tier's sidecars
      // were sealed with the filter columns (ColdTier.sealIndexes
      // attrColumns); shards sealed without the payload fall back per
      // shard, so correctness never depends on the declaration (only
      // recall and probe cost do).
      inWalk: Boolean = false)

  private val reg =
    new java.util.concurrent.ConcurrentHashMap[String, Registration]()

  private def norm(p: String): String =
    p.stripPrefix("file:").stripSuffix("/")

  /** Declare that kNN ORDER-BY queries over `corpusPath` are served by
   * the sealed tier at `coldDir` (sidecars must be sealed). */
  def register(corpusPath: String, coldDir: String, idCol: String = "id",
      vecCol: String = "vec", metric: Metric = Metric.L2,
      efSearch: Int = 96, probeSegments: Int = Int.MaxValue,
      shortlist: Int = 64, filterColumns: Set[String] = Set.empty,
      filterOverfetch: Int = 4, timeColumn: Option[String] = None,
      snapshot: Option[Long] = None, inWalk: Boolean = false): Unit = {
    require(timeColumn.forall(t => !filterColumns(t)),
      s"timeColumn $timeColumn must not also be a filter column")
    require(probeSegments >= 1, s"probeSegments $probeSegments < 1")
    reg.put(norm(corpusPath),
      Registration(coldDir, idCol, vecCol, metric, efSearch, probeSegments,
        shortlist, filterColumns, filterOverfetch, timeColumn, snapshot,
        inWalk))
  }

  def unregister(corpusPath: String): Unit = reg.remove(norm(corpusPath))
  def clear(): Unit = reg.clear()

  private[plans] def isEmpty: Boolean = reg.isEmpty

  /** Install the SQL kNN matcher and operator on an ALREADY-BUILT session
   * (idempotent). `withExtensions` only applies at session construction
   * — a session obtained from a shared `getOrCreate()` (a shared test
   * JVM, a user's own builder) may never have seen
   * [[graft.GraftExtensions]] — so the matcher rides
   * `experimental.extraOptimizations` (a post-optimizer batch; the
   * matched Limit/Sort/Project shape is stable there) and the strategy
   * `experimental.extraStrategies`. On a session built with the
   * extensions the analysis-time copy has already replaced the
   * statement, and this one returns at once. */
  def install(spark: SparkSession): Unit = {
    val exp = spark.experimental
    if (!exp.extraOptimizations.exists(_.isInstanceOf[KnnScanRule]))
      exp.extraOptimizations = exp.extraOptimizations :+ KnnScanRule(spark)
    if (!exp.extraStrategies.contains(KnnStrategy))
      exp.extraStrategies = KnnStrategy +: exp.extraStrategies
  }

  private[plans] def lookup(paths: Seq[String]): Option[Registration] =
    paths.iterator.flatMap(p => Option(reg.get(norm(p)))).nextOption()
}

/** The SQL kNN matcher: replaces a matched statement (see [[KnnIndex]])
 * with a [[KnnScan]] leaf. The same rule runs after analysis (post-hoc
 * resolution) and after optimization; a plan without a registered
 * corpus or without a LIMIT returns at once. */
case class KnnScanRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private def metricOf(e: Expression): Option[(Metric, Expression, Expression)] =
    e match {
      case L2Distance(a, b) => Some((Metric.L2, a, b))
      case IpDistance(a, b) => Some((Metric.IP, a, b))
      case CosineDistance(a, b) => Some((Metric.Cosine, a, b))
      case _ => None
    }

  /** The (vec attribute, query literal) pair in either argument order. */
  private def vecAndQuery(a: Expression, b: Expression)
      : Option[(AttributeReference, Array[Float])] = {
    def asQuery(e: Expression): Option[Array[Float]] =
      if (!e.foldable) None
      else e.dataType match {
        case ArrayType(FloatType, _) =>
          Option(e.eval()).map(
            _.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
              .toFloatArray())
        case ArrayType(DoubleType, _) =>
          Option(e.eval()).map(
            _.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
              .toDoubleArray().map(_.toFloat))
        case _ => None
      }
    (a, b) match {
      case (attr: AttributeReference, q) => asQuery(q).map((attr, _))
      case (q, attr: AttributeReference) => asQuery(q).map((attr, _))
      case _ => None
    }
  }

  /** Root paths of the underlying file relation, looking through the
   * analyzed name scope of a temp view (SubqueryAlias, View) and through
   * pass-through (attribute-only) Projects that column pruning may have
   * inserted between the matched Project and the scan. */
  private def relationPaths(plan: LogicalPlan): Seq[String] = plan match {
    case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
      fs.location.rootPaths.map(_.toString)
    case SubqueryAlias(_, child) => relationPaths(child)
    case v: View => relationPaths(v.child)
    case Project(ps, child) if ps.forall(_.isInstanceOf[AttributeReference]) =>
      relationPaths(child)
    case _ => Seq.empty
  }

  /** Split a conjunction into its conjuncts. */
  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** The contract eventTime window of a registered corpus: [-2^62,
   * 2^62 - 1], the widest span a (qtime, ttl) pair can express without
   * overflowing `qtime - ttl`. Without a matched time predicate a
   * statement probes this whole window, so negative eventTimes are
   * in-window; eventTimes beyond ±2^62 (three orders past nanosecond
   * epoch stamps) are out of contract for a registered corpus, and user
   * bounds are clamped to it ([[decompose]]), which also keeps
   * `ceil - floor <= Long.MaxValue` overflow-free. */
  private val FloorDef: Long = Long.MaxValue / 2 - Long.MaxValue // -2^62
  private val CeilDef: Long = Long.MaxValue / 2                  // 2^62 - 1

  /** The inclusive freshness bounds a single conjunct contributes when
   * it is a comparison between the registered time column and an
   * integral foldable: (lowers, uppers). Strict bounds convert exactly
   * on integral types (`ts > a` == `ts >= a+1`); a point `ts = v`
   * contributes both. Empty when the conjunct is not a time bound. */
  private def timeBounds(e: Expression, tname: String)
      : (Seq[Long], Seq[Long], Option[ExprId]) = {
    def timeAttr(x: Expression): Option[AttributeReference] = x match {
      case ar: AttributeReference if ar.name == tname &&
          (ar.dataType == org.apache.spark.sql.types.LongType ||
           ar.dataType == org.apache.spark.sql.types.IntegerType ||
           ar.dataType == org.apache.spark.sql.types.ShortType ||
           ar.dataType == org.apache.spark.sql.types.ByteType) => Some(ar)
      case _ => None
    }
    def longOf(l: Expression): Option[Long] =
      if (!l.foldable) None
      else Option(l.eval()).collect {
        case v: java.lang.Long => v.longValue()
        case v: java.lang.Integer => v.longValue()
        case v: java.lang.Short => v.longValue()
        case v: java.lang.Byte => v.longValue()
      }
    def lo(v: Long, strict: Boolean): Option[Long] =
      if (!strict) Some(v)
      else if (v == Long.MaxValue) None else Some(v + 1)
    def hi(v: Long, strict: Boolean): Option[Long] =
      if (!strict) Some(v)
      else if (v == Long.MinValue) None else Some(v - 1)
    val none = (Seq.empty[Long], Seq.empty[Long], None)
    def bound(a: Expression, l: Expression, aIsLower: Boolean,
        strict: Boolean) =
      (timeAttr(a), longOf(l)) match {
        case (Some(ar), Some(v)) =>
          val b = if (aIsLower) lo(v, strict) else hi(v, strict)
          // an unrepresentable strict bound (ts > Long.MaxValue) is an
          // unsatisfiable window; emit a crossed pair so the caller bails
          b match {
            case Some(x) if aIsLower => (Seq(x), Seq.empty, Some(ar.exprId))
            case Some(x) => (Seq.empty, Seq(x), Some(ar.exprId))
            case None => (Seq(Long.MaxValue), Seq(Long.MinValue),
              Some(ar.exprId))
          }
        case _ => none
      }
    e match {
      case GreaterThanOrEqual(a, l) if timeAttr(a).isDefined =>
        bound(a, l, aIsLower = true, strict = false)
      case GreaterThan(a, l) if timeAttr(a).isDefined =>
        bound(a, l, aIsLower = true, strict = true)
      case LessThanOrEqual(a, l) if timeAttr(a).isDefined =>
        bound(a, l, aIsLower = false, strict = false)
      case LessThan(a, l) if timeAttr(a).isDefined =>
        bound(a, l, aIsLower = false, strict = true)
      case GreaterThanOrEqual(l, a) if timeAttr(a).isDefined =>
        bound(a, l, aIsLower = false, strict = false)
      case GreaterThan(l, a) if timeAttr(a).isDefined =>
        bound(a, l, aIsLower = false, strict = true)
      case LessThanOrEqual(l, a) if timeAttr(a).isDefined =>
        bound(a, l, aIsLower = true, strict = false)
      case LessThan(l, a) if timeAttr(a).isDefined =>
        bound(a, l, aIsLower = true, strict = true)
      case EqualTo(a, l) if timeAttr(a).isDefined =>
        (timeAttr(a), longOf(l)) match {
          case (Some(ar), Some(v)) => (Seq(v), Seq(v), Some(ar.exprId))
          case _ => none
        }
      case EqualTo(l, a) if timeAttr(a).isDefined =>
        longOf(l).map(v => (Seq(v), Seq(v),
          timeAttr(a).map(_.exprId))).getOrElse(none)
      case _ => none
    }
  }

  /** A range conjunct on a REGISTERED (numeric) filter column:
   * `(attr, op, foldable numeric literal)` with the attribute
   * normalized to the LEFT (`5 < score` extracts as `score > 5`).
   * Strict and inclusive bounds both extract — hydration re-applies
   * the exact operator; segment admission only needs the closed hull.
   * A coerced attribute (`Cast(score) >= 2.5`) does NOT extract — the
   * conjunct lands in leftovers and the rewrite bails to the exact
   * plan rather than guessing cast semantics. */
  private def attrRangeBound(e: Expression, allowed: Set[String])
      : Option[(AttributeReference, String, Expression)] = {
    def attrOf(x: Expression): Option[AttributeReference] = x match {
      case ar: AttributeReference if allowed(ar.name) &&
          ar.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] =>
        Some(ar)
      case _ => None
    }
    def numLit(l: Expression): Boolean = l.foldable &&
      l.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] &&
      l.eval() != null
    def mk(a: Expression, op: String, l: Expression) =
      attrOf(a).filter(_ => numLit(l)).map((_, op, l))
    e match {
      case GreaterThanOrEqual(a, l) if attrOf(a).isDefined => mk(a, ">=", l)
      case GreaterThan(a, l) if attrOf(a).isDefined => mk(a, ">", l)
      case LessThanOrEqual(a, l) if attrOf(a).isDefined => mk(a, "<=", l)
      case LessThan(a, l) if attrOf(a).isDefined => mk(a, "<", l)
      case GreaterThanOrEqual(l, a) if attrOf(a).isDefined => mk(a, "<=", l)
      case GreaterThan(l, a) if attrOf(a).isDefined => mk(a, "<", l)
      case LessThanOrEqual(l, a) if attrOf(a).isDefined => mk(a, ">=", l)
      case LessThan(l, a) if attrOf(a).isDefined => mk(a, ">", l)
      case _ => None
    }
  }

  /** Decompose a matched WHERE into filter specs on REGISTERED filter
   * columns — each spec an `attr = foldable` equality or an
   * `attr IN (foldables)` list (In and its optimizer InSet form), at
   * most one spec per column, specs conjoining across DISTINCT columns
   * (`WHERE label IN (1, 3) AND region = 'eu'`) — plus RANGE conjuncts
   * on registered NUMERIC filter columns (`score >= a AND score < b`,
   * BETWEEN — any number per column, they conjoin into one band) —
   * plus any number of
   * range conjuncts on the REGISTERED time column, folded into one
   * inclusive freshness window clamped to the ±2^62 contract.
   * Optimizer-inferred `isnotnull(attr)` conjuncts are tolerated only
   * NEXT TO a real extracted conjunct on the same attribute (an
   * equality, IN, or range already implies non-null, so dropping the
   * isnotnull preserves semantics; a BARE isnotnull does not — it would
   * make the probe return null-attribute rows the query excludes). Any
   * other conjunct — the same column under BOTH an equality/IN and a
   * range, or an unsatisfiable window
   * (floor > ceil) — bails the rewrite: the query keeps its exact plan
   * rather than silently dropping or widening a predicate. */
  private def decompose(cond: Expression, allowed: Set[String],
      timeCol: Option[String])
      : Option[(Seq[(AttributeReference, Seq[Expression])],
                Seq[(AttributeReference, String, Expression)],
                Option[(Long, Long)])] = {
    // analysis coerces `label IN (1, 2)` over a BIGINT column to
    // `cast(label as bigint) IN (...)`; drop such same-type casts as the
    // optimizer's SimplifyCasts would
    val cs = conjuncts(cond.transform {
      case c: Cast if c.child.dataType == c.dataType => c.child
    })
    def asFilter(e: Expression)
        : Option[(AttributeReference, Seq[Expression])] = e match {
      case EqualTo(a: AttributeReference, l)
          if l.foldable && allowed(a.name) => Some((a, Seq(l)))
      case EqualTo(l, a: AttributeReference)
          if l.foldable && allowed(a.name) => Some((a, Seq(l)))
      case In(a: AttributeReference, vs)
          if vs.nonEmpty && vs.forall(_.foldable) && allowed(a.name) =>
        Some((a, vs))
      case InSet(a: AttributeReference, vs)
          if vs.nonEmpty && allowed(a.name) =>
        // InSet holds Catalyst-internal values of the child's type
        Some((a, vs.toSeq.map(v => Literal(v, a.dataType))))
      case _ => None
    }
    val specs =
      scala.collection.mutable.ListBuffer
        .empty[(AttributeReference, Seq[Expression])]
    val rangeSpecs = scala.collection.mutable.ListBuffer
      .empty[(AttributeReference, String, Expression)]
    var lowers = List.empty[Long]
    var uppers = List.empty[Long]
    val realAttrIds = scala.collection.mutable.Set.empty[ExprId]
    val leftovers = scala.collection.mutable.ListBuffer.empty[Expression]
    cs.foreach { c =>
      asFilter(c) match {
        case Some(spec) =>
          // the same column twice (label = 1 AND label IN (2, 3)):
          // intersection semantics are legal but rare — exact path
          if (specs.exists(_._1.exprId == spec._1.exprId)) return None
          specs += spec; realAttrIds += spec._1.exprId
        case None =>
          val (los, his, aid) = timeCol
            .map(timeBounds(c, _)).getOrElse((Seq.empty, Seq.empty, None))
          if (los.nonEmpty || his.nonEmpty) {
            lowers ++= los; uppers ++= his; aid.foreach(realAttrIds += _)
          } else attrRangeBound(c, allowed) match {
            case Some(rb) =>
              rangeSpecs += rb; realAttrIds += rb._1.exprId
            case None => leftovers += c
          }
      }
    }
    // a column under BOTH an equality/IN and a range (`label = 1 AND
    // label < 5`): intersection semantics are legal but rare — exact
    // path (multiple RANGE bounds on one column are the BETWEEN
    // decomposition and conjoin fine)
    if (rangeSpecs.exists(r => specs.exists(_._1.exprId == r._1.exprId)))
      return None
    val tolerated = leftovers.forall {
      case IsNotNull(a: AttributeReference) => realAttrIds(a.exprId)
      case _ => false
    }
    if (!tolerated) return None
    // the hydration predicate casts every value to the spec's one
    // declared type — a post-analysis In has coerced children, so a
    // mixed-type list here is out of contract: exact path
    if (!specs.forall(s => s._2.map(_.dataType).distinct.length == 1))
      return None
    val window =
      if (lowers.isEmpty && uppers.isEmpty) None
      else {
        val floor = (FloorDef :: lowers).max
        val ceil = (CeilDef :: uppers).min
        if (floor > ceil) return None // unsatisfiable: exact plan answers
        Some((floor, ceil))          // empty via its own pushed predicate
      }
    Some((specs.toSeq, rangeSpecs.toSeq, window))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (KnnIndex.isEmpty || !plan.containsPattern(TreePattern.LIMIT)) return plan
    if (spark.conf.get("spark.graft.knn.rewrite", "true") != "true") return plan
    plan.transformDownWithPruning(_.containsPattern(TreePattern.LIMIT)) {
      // one or two ascending sort keys: the distance alone, or the
      // deterministic pagination form `ORDER BY dist, id` — the probe's
      // merge contract already orders by (dist, id), so the tie-broken
      // form is served by the identical probe (the second key is
      // validated as the registered id column inside the match body)
      case lim @ Limit(IntegerLiteral(k),
          Sort(SortOrder(sortRef: AttributeReference, Ascending, _, _)
              +: restOrders,
            true, Project(projList, below), _))
          if k > 0 && restOrders.length <= 1 &&
            lim.getTagValue(KnnScan.ExactOnly).isEmpty =>
        // no registration / shape mismatch: exact path
        scanFor(lim, k, sortRef, restOrders, projList, below).getOrElse(lim)
    }
  }

  /** The [[KnnScan]] that serves a matched Limit/Sort/Project, if the
   * rest of the statement fits a registration. */
  private def scanFor(lim: LogicalPlan, k: Int, sortRef: AttributeReference,
      restOrders: Seq[SortOrder], projList: Seq[NamedExpression],
      below: LogicalPlan): Option[KnnScan] = {
    val (condOpt, rel) = below match {
      case Filter(c, ch) => (Some(c), ch)
      case ch => (None, ch)
    }
    val paths = relationPaths(rel)
    if (paths.isEmpty) return None
    // evaluating the query array or a filter literal may throw (an
    // overflowing cast): the statement keeps its exact plan, which
    // raises the same error when it runs
    try for {
      r <- KnnIndex.lookup(paths)
      // a WHERE must decompose into the declared shapes — one
      // equality on a sealed attribute and/or a range on the sealed
      // time column; otherwise stay on the exact path
      specs <- condOpt match {
        case None => Some((Seq.empty, Seq.empty, None))
        case Some(c) => decompose(c, r.filterColumns, r.timeColumn)
      }
      (fspecs, rspecs, window) = specs
      distAlias <- projList.collectFirst {
        case al @ Alias(d, _) if al.exprId == sortRef.exprId => (al, d)
      }
      (metric, a, b) <- metricOf(distAlias._2)
      if metric == r.metric
      (vecAttr, qv) <- vecAndQuery(a, b)
      if vecAttr.name == r.vecCol
      idAttr <- projList.collectFirst {
        case at: AttributeReference if at.name == r.idCol => at
      }
      // a second sort key must be the registered id column ascending
      // (the probe's own tie-break); anything else keeps exact
      if restOrders.forall {
        case SortOrder(ar: AttributeReference, Ascending, _, _) =>
          ar.exprId == idAttr.exprId
        case _ => false
      }
      // schema parity with the probe output (id LONG, dist DOUBLE): the
      // operator fills each output slot by its type
      if idAttr.dataType == org.apache.spark.sql.types.LongType
      if distAlias._1.dataType == DoubleType
      // the ONLY projected columns are the id and the distance — the
      // shape the probe answers without hydration. A SECOND alias of
      // the same distance expression is tolerated (the window-rank
      // idiom's `_w0` sort key, see the object scaladoc) — every
      // such alias re-exposes the probe's dist.
      if projList.forall {
        case at: AttributeReference => at.name == r.idCol
        case al: Alias => al.exprId == distAlias._1.exprId ||
          al.child.semanticEquals(distAlias._2)
        case _ => false
      }
      // a tier deleted since registration serves nothing: keep the exact
      // plan (one metadata call; a tier that fails later, while the
      // statement runs, makes the operator run this same exact plan)
      if graft.store.ColdTier.tierPresent(spark, r.coldDir, r.snapshot)
    } yield {
      val filters = fspecs.map { case (attr, lits) =>
        (attr.name,
          lits.map(l => org.apache.spark.sql.catalyst
            .CatalystTypeConverters.convertToScala(l.eval(), l.dataType)),
          lits.head.dataType)
      }
      val ranges = rspecs.map { case (attr, op, l) =>
        graft.store.ColdTier.RangeBound(attr.name, op,
          org.apache.spark.sql.catalyst.CatalystTypeConverters
            .convertToScala(l.eval(), l.dataType), l.dataType)
      }
      KnnScan(r, qv, k, filters, ranges, window.getOrElse((FloorDef, CeilDef)),
        projList.map(_.toAttribute), lim)
    } catch {
      case scala.util.control.NonFatal(e) =>
        logWarning(s"graft: kNN statement over $paths not matched: $e")
        None
    }
  }
}
