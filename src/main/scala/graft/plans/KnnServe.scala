package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, GenericInternalRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.{LeafExecNode, SQLExecution, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}
import graft.store.ColdTier

/** A matched SQL kNN statement as one logical leaf (see [[KnnIndex]]):
 * the registration that serves it, the query vector evaluated once, k,
 * the registered filter conjuncts, the inclusive eventTime window
 * (floor, ceil) and the statement's output — the registered id column
 * (LONG) and one or more aliases of the distance (DOUBLE), in the
 * statement's order. `original` is the subtree the leaf replaced; it is
 * not a child (the optimizer never walks it) and runs only when the
 * registration turns out stale while the statement executes. */
case class KnnScan(registration: KnnIndex.Registration, query: Array[Float],
    k: Int, filters: Seq[(String, Seq[Any], DataType)],
    ranges: Seq[ColdTier.RangeBound], window: (Long, Long),
    output: Seq[Attribute], original: LogicalPlan)
    extends LeafNode with MultiInstanceRelation {

  override def producedAttributes: AttributeSet = outputSet
  override def maxRows: Option[Long] = Some(k.toLong)
  override def outputOrdering: Seq[SortOrder] = KnnScan.ordering(output)
  override def computeStats(): Statistics =
    Statistics(sizeInBytes = BigInt(k) * output.map(_.dataType.defaultSize).sum)
  override def newInstance(): LogicalPlan =
    copy(output = output.map(_.newInstance()))

  /** The served request in one line (the query vector is left out). */
  def describe: String = {
    val where = filters.map { case (c, vs, _) =>
      if (vs.size == 1) s"$c = ${vs.head}" else s"$c IN (${vs.mkString(", ")})"
    } ++ ranges.map(b => s"${b.column} ${b.op} ${b.value}")
    val (floor, ceil) = window
    s"${registration.metric} k=$k" +
      (if (where.isEmpty) "" else where.mkString(" WHERE ", " AND ", "")) +
      s" eventTime=[$floor, $ceil] tier=${registration.coldDir}"
  }

  override def simpleString(maxFields: Int): String =
    s"KnnScan ${output.mkString("[", ", ", "]")} $describe"
}

object KnnScan {
  /** Marks a statement that must run its exact plan: the operator tags
   * the copy of `original` it falls back to, so the matcher leaves it. */
  val ExactOnly: TreeNodeTag[Unit] = TreeNodeTag[Unit]("graft.knn.exactOnly")

  /** Rows come out ascending by (dist, id); every distance alias is the
   * same value, so each one orders them. */
  private[plans] def ordering(output: Seq[Attribute]): Seq[SortOrder] = {
    val dists = output.filter(_.dataType == DoubleType)
    val ids = output.filter(_.dataType == LongType)
    (dists.headOption.map(d => SortOrder(d, Ascending, dists.tail)) ++
      ids.headOption.map(i => SortOrder(i, Ascending, ids.tail))).toSeq
  }
}

/** Plans [[KnnScan]] as [[KnnServeExec]] (the SNIPPETS [1]
 * `SqlStrategy` pattern). */
object KnnStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case s: KnnScan => KnnServeExec(s.output, s) :: Nil
    case _ => Nil
  }
}

/** The physical SQL kNN operator. It serves when the statement executes,
 * never while it is planned, and picks the engine then:
 *  1. [[ColdTier.serveLocal]], the one in-process engine, on the calling
 *     thread (the warm exact kernel or graph probe: zero Spark jobs);
 *  2. when that declines (local serving switched off with
 *     `graft.coldtier.exactServeLocal`, an oversized tier or delete log,
 *     a segment without its centroid or sidecar), the direct API, which
 *     is purely distributed ([[ColdTier.searchIndexedFast]] /
 *     [[ColdTier.searchIndexedLiteralFiltered]]: the graph probe, or the
 *     pushed-down exact scan of an admission-collapsed literal);
 *  3. when either throws (the registered tier was deleted or corrupted
 *     after the statement was matched), the statement's original exact
 *     plan.
 * Rows come out ascending by (dist, id), one partition; `executeCollect`
 * and `executeTake` return them without a job. Its SQL metrics say what
 * answered; [[KnnServeExec.engineOf]] reads them back. The logical
 * `scan` stays on the driver (it references the corpus relation), where
 * every engine runs. */
case class KnnServeExec(output: Seq[Attribute], @transient scan: KnnScan)
    extends LeafExecNode {
  import KnnServeExec._

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "engine" -> SQLMetrics.createMetric(sparkContext, EngineMetricName),
    "fallback" -> SQLMetrics.createMetric(sparkContext, FallbackMetricName),
    "segments" -> SQLMetrics.createMetric(sparkContext, "segments admitted"),
    "rowsScored" -> SQLMetrics.createMetric(sparkContext, "rows scored"),
    "kernelTime" -> SQLMetrics.createTimingMetric(sparkContext, "kernel time"))

  override def outputPartitioning: Partitioning = SinglePartition
  override def outputOrdering: Seq[SortOrder] = KnnScan.ordering(output)

  override def executeCollect(): Array[InternalRow] = serve()
  override def executeTake(n: Int): Array[InternalRow] = serve().take(n)
  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(serve().toSeq, 1)

  override def simpleString(maxFields: Int): String =
    s"KnnServeExec ${output.mkString("[", ", ", "]")} ${scan.describe}"

  private def serve(): Array[InternalRow] = {
    val spark = session
    val r = scan.registration
    val (floorTs, ceilTs) = scan.window
    val t0 = System.nanoTime()
    val (pairs, engine, reason, segments, scored) =
      try {
        ColdTier.serveLocal(spark, r.coldDir, scan.query, ceilTs,
          ceilTs - floorTs, scan.k, scan.filters, scan.ranges, r.metric,
          r.snapshot, efSearch = r.efSearch,
          probeSegments = r.probeSegments,
          shortlist = math.max(r.shortlist, scan.k),
          overfetch = r.filterOverfetch, inWalk = r.inWalk) match {
          case Some(s) => (s.rows, s.engine, "none", s.segments, s.rowsScored)
          case None => (distributedProbe(spark), "distributed",
            "local preconditions", 0, 0L)
        }
      } catch {
        case scala.util.control.NonFatal(e) =>
          logWarning(s"graft: serving kNN from ${r.coldDir} failed (stale " +
            s"registration?) — running the statement's exact plan: $e")
          val rows = exactPlan(spark)
          record("scan", "stale registration", 0, 0L, t0)
          return rows
      }
    record(engine, reason, segments, scored, t0)
    val proj = UnsafeProjection.create(output.map(_.dataType).toArray)
    val isId = output.map(_.dataType == LongType).toArray
    pairs.map { case (id, d) =>
      proj(new GenericInternalRow(isId.map(b => if (b) id else d: Any))).copy()
    }
  }

  /** The distributed probe with the registration's parameters, its rows
   * ascending (dist, id). */
  private def distributedProbe(spark: SparkSession): Array[(Long, Double)] = {
    import spark.implicits._
    val r = scan.registration
    val (floorTs, ceilTs) = scan.window
    val queries = Seq((0L, scan.query, ceilTs, ceilTs - floorTs))
      .toDF("qid", "qv", "qtime", "ttl")
    val shortlist = math.max(r.shortlist, scan.k)
    val probe =
      if (scan.filters.isEmpty && scan.ranges.isEmpty)
        ColdTier.searchIndexedFast(spark, r.coldDir, queries, scan.k,
          r.metric, efSearch = r.efSearch, probeSegments = r.probeSegments,
          shortlist = shortlist, snapshot = r.snapshot)
      else
        // the graph shortlist is filter-oblivious, so it is over-fetched
        // (the registered filterOverfetch as a floor, raised by the
        // attr-stats selectivity estimate) and only the shortlisted ids
        // are hydrated under the full literal conjunction
        ColdTier.searchIndexedLiteralFiltered(spark, r.coldDir, queries,
          scan.k, scan.filters, r.metric, shortlist = shortlist,
          efSearch = r.efSearch, probeSegments = r.probeSegments,
          overfetch = r.filterOverfetch, ranges = scan.ranges,
          inWalk = r.inWalk, snapshot = r.snapshot)
    probe.select(col("id"), col("dist")).limit(scan.k).collect()
      .map(row => (row.getLong(0), row.getDouble(1)))
      .sortBy { case (id, d) => (d, id) }
  }

  /** The statement's original plan, run as an exact scan; its rows put
   * in (dist, id) order, which a single-key ORDER BY leaves open. */
  private def exactPlan(spark: SparkSession): Array[InternalRow] = {
    val plan = scan.original.clone()
    plan.setTagValue(KnnScan.ExactOnly, ())
    val exec = spark.sessionState.executePlan(plan).executedPlan
    if (KnnServeExec.find(exec).isDefined) throw new IllegalStateException(
      s"the exact plan of a kNN statement was served again:\n$exec")
    val di = output.indexWhere(_.dataType == DoubleType)
    val ii = output.indexWhere(_.dataType == LongType)
    exec.executeCollect().sortBy(row => (row.getDouble(di), row.getLong(ii)))
  }

  private def record(engine: String, reason: String, segments: Int,
      scored: Long, t0: Long): Unit = {
    metrics("engine").set(Engines.indexOf(engine).toLong)
    metrics("fallback").set(FallbackReasons.indexOf(reason).toLong)
    metrics("segments").set(segments.toLong)
    metrics("rowsScored").set(scored)
    metrics("kernelTime").set((System.nanoTime() - t0) / 1000000L)
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY),
      metrics.values.toSeq)
  }
}

object KnnServeExec {
  /** The `engine` metric's values: 1 exact kernel and 2 graph probe
   * (in-process), 3 distributed probe, 4 the original exact plan. */
  val Engines: IndexedSeq[String] =
    IndexedSeq("none", "exact", "probe", "distributed", "scan")
  /** The `fallback` metric's values: 1 the in-process route declined,
   * 2 the registered tier failed. */
  val FallbackReasons: IndexedSeq[String] =
    IndexedSeq("none", "local preconditions", "stale registration")

  private val EngineMetricName =
    "engine (1 exact kernel, 2 graph probe, 3 distributed probe, 4 exact scan)"
  private val FallbackMetricName =
    "fallback reason (1 local preconditions missed, 2 stale registration)"

  /** The served kNN operator of an executed plan, if it has one. */
  def find(plan: SparkPlan): Option[KnnServeExec] = plan match {
    case e: KnnServeExec => Some(e)
    case a: AdaptiveSparkPlanExec => find(a.executedPlan)
    case q: QueryStageExec => find(q.plan)
    case p => p.children.iterator.map(find).collectFirst { case Some(e) => e }
  }

  /** Which engine served the last execution of `plan`'s kNN operator
   * ("none" before it ran); None when the plan has no such operator. */
  def engineOf(plan: SparkPlan): Option[String] =
    find(plan).map(e => Engines(e.metrics("engine").value.toInt))

  /** Why the last execution fell back ("none" when it did not). */
  def fallbackOf(plan: SparkPlan): Option[String] =
    find(plan).map(e => FallbackReasons(e.metrics("fallback").value.toInt))
}
