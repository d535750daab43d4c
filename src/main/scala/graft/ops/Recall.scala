package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Recall / latency evaluation (reference C8: SearchResult.getAccuracy
 * 192-201, StreamSearchLocalAccuracyTest.java — recall@k = |result ids
 * intersect ground-truth ids| / k, latency = completion - query event
 * time).
 */
object Recall {

  /** Per-query recall@k of ranked results vs ranked truth.
   * Both inputs: (qid, rn, id) rows; truth rows beyond k are ignored. */
  def atK(results: DataFrame, truth: DataFrame, k: Int): DataFrame = {
    val r = results.where(col("rn") <= k)
      .groupBy("qid").agg(collect_set(col("id")).as("got"))
    val t = truth.where(col("rn") <= k)
      .groupBy("qid").agg(collect_set(col("id")).as("want"))
    r.join(t, "qid")
      .select(col("qid"),
        (size(array_intersect(col("got"), col("want"))).cast("double") / k)
          .as("recall"))
  }

  /** Mean recall@k (single row). */
  def meanAtK(results: DataFrame, truth: DataFrame, k: Int): Double =
    atK(results, truth, k).agg(avg("recall")).collect()(0).getDouble(0)

  /** Latency stats over a per-result latency column —
   * [[graft.streaming.VectorStreamJob.mergePartialsLocal]] emits `latency_ms`
   * (merge stamp − routing stamp, the reference's searchCompleteTime −
   * queryEventTime). One row per query (latency repeats per rank). */
  def latency(results: DataFrame, latencyCol: String = "latency_ms"): DataFrame =
    results.groupBy("qid").agg(max(col(latencyCol)).as("latency"))
      .agg(
        expr("percentile(latency, 0.5)").as("p50"),
        expr("percentile(latency, 0.99)").as("p99"),
        avg("latency").as("mean"),
        count(lit(1)).as("n"))

  /** Rank discounts 1/log2(r+1) for r = 1..k, scaled to INTEGERS
   * (×10¹⁵, ~the full double mantissa) and computed ONCE driver-side.
   * Integer discounts make the DCG sum EXACT — order-free and immune to
   * summation-algorithm differences (DuckDB's DOUBLE SUM is
   * Kahan-compensated; a sequential double fold is one ulp off it for
   * these log-derived values). Σ over k hits ≤ 4.5·10¹⁵ < 2⁵³, so the
   * final CAST to DOUBLE and the division are correctly rounded and
   * identical in both engines. */
  def ndcgDiscountsScaled(k: Int): Array[Long] =
    Array.tabulate(k)(i => math.round(math.log(2) / math.log(i + 2) * 1e15))

  /** NDCG@k with binary relevance (truth membership): DCG = sum of the
   * integer hit discounts (exact); IDCG = Σ discounts — constant because
   * |relevant| = k by construction. Cost: one broadcast hits join + one
   * agg over k × |queries| rows. */
  def ndcgAtK(results: DataFrame, truth: DataFrame, k: Int): DataFrame = {
    val ds = ndcgDiscountsScaled(k)
    val idcg = ds.sum
    val got = results.where(col("rn") <= k)
      .select(col("qid"), col("rn"), col("id"))
    val rel = truth.where(col("rn") <= k).select(col("qid"), col("id"))
    val dArr = array(scala.collection.immutable.ArraySeq
      .unsafeWrapArray(ds.map(lit)): _*)
    val dcg = got.join(broadcast(rel), Seq("qid", "id"))
      .select(col("qid"), element_at(dArr, col("rn")).as("d"))
      .groupBy("qid").agg(sum(col("d")).as("dcg"))
    got.select("qid").distinct()
      .join(broadcast(dcg), Seq("qid"), "left")
      .select(col("qid"),
        (coalesce(col("dcg"), lit(0L)).cast("double") /
          lit(idcg).cast("double")).as("ndcg"))
  }
}
