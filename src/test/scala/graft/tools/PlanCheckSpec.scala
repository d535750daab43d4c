package graft.tools

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/**
 * The plan audit as a FAILING gate (round-6 advice #7): PlanCheck printed
 * broadcast/wscg/pushdown booleans but a regression — like round 5's
 * eval_mrr sort-merge fallback on two tiny windowed inputs — only
 * surfaced if someone read the output. Every audited entry now asserts
 * the plan properties its scale story depends on:
 *
 *  - `wscg`: the hot path stays inside whole-stage codegen;
 *  - `noSortMerge`: every join the entry performs against a small side is
 *    broadcast (sort-merge of a tiny input = a lost size estimate). The
 *    one legitimate sort-merge is search_hybrid_rrf's posting join — its
 *    probe side is corpus-sized, shuffling is the correct plan;
 *  - `broadcast`: entries whose plan must contain a broadcast join;
 *  - `pushedFilters`: the parquet scan receives pushed predicates
 *    (dedup_clusters exempt: it reads the whole pair aux by design).
 */
class PlanCheckSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkEntry.configure(
    SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")).getOrCreate()
  private val dir = "/root/testdata/sf0.001"

  /** (entry, requireBroadcast, requirePushedFilters, allowSortMerge) —
   * wscg is required for every entry. */
  private val expectations: Seq[(String, Boolean, Boolean, Boolean)] = Seq(
    ("q1_pricing_summary", false, true, false),
    ("q3_revenue_by_nation", true, true, false),
    ("q6_window_topn", false, true, false),
    ("q11_interval_join", true, true, false),
    ("knn_l2", true, true, false),
    ("knn_ttl", true, true, false),
    ("text_jaccard_pairs", true, true, false),
    ("dedup_minhash", true, true, false),
    // the lossless wave scans score through the bounded-heap kernel
    // (mapPartitions over the broadcast probe set — measured 19x cheaper
    // per pair than the broadcast-join + per-row-UDAF formulation it
    // replaced), so no broadcast JOIN is expected in these plans anymore;
    // variants that also apply tombstones/snapshots keep a broadcast
    // (the anti-join), filtered keeps the join formulation
    ("knn_coldtier", false, true, false),
    ("knn_coldtier_compacted", false, true, false),
    ("knn_coldtier_deletes", true, true, false),
    ("knn_coldtier_snapshot", true, true, false),
    ("knn_coldtier_sq", true, true, false),
    // PQ cold scan: ADC kernel (no join) + broadcast-join exact re-rank
    ("knn_coldtier_pq", true, true, false),
    // filtered compressed scans: over-fetched code shortlist + the
    // equality at the broadcast-join exact re-rank (rerankExact)
    ("knn_coldtier_sq_filtered", true, true, false),
    ("knn_coldtier_pq_filtered", true, true, false),
    ("knn_coldtier_hnsw", true, true, false),
    ("knn_coldtier_hnsw_filtered", true, true, false),
    // IN-list in-walk probe OUTPUT = the literal-filtered exact re-rank
    // over the aux shortlist — same broadcast shape as the equality twin
    ("knn_coldtier_hnsw_filtered_in", true, true, false),
    // range in-walk probe OUTPUT = the range-filtered exact re-rank
    // over the aux shortlist — same broadcast shape
    ("knn_coldtier_hnsw_filtered_range", true, true, false),
    // per-query IN in-walk probe OUTPUT = the qfin exact re-rank over
    // the aux shortlist — same broadcast shape (the any-of equality
    // rides the broadcast probe tuple's array)
    ("knn_coldtier_hnsw_filtered_qin", true, true, false),
    ("knn_coldtier_hnsw_sharded", true, true, false),
    ("ann_sfc_adaptive", false, true, false),
    ("embed_neardup", false, true, false),
    ("embed_neardup_lsh", true, true, false),
    ("text_decontaminate", true, true, false),
    ("text_sample_stratified", false, true, false),
    ("knn_join", false, true, false),
    ("ann_ivf_pq", true, true, false),
    ("ann_ivf_pq_rerank", true, true, false),
    ("dedup_semantic", true, true, false),
    ("text_repetition", true, true, false),
    ("text_stopwords", true, true, false),
    ("ann_sq8", false, true, false),
    ("ann_sq8_rerank", true, true, false),
    ("dedup_clusters", false, false, false),
    ("text_dedup_lines", true, true, false),
    ("text_pii", false, true, false),
    ("text_filter_gopher", true, true, false),
    ("text_mix_langs", true, true, false),
    ("text_pack_sequences", false, true, false),
    ("ann_ivf_sq8", true, true, false),
    ("ann_mrl_rerank", true, true, false),
    ("ann_bq_rerank", true, true, false),
    ("search_docs", true, true, false),
    ("eval_mrr", true, true, false),
    // the posting join now broadcasts the budgeted query-term set (the
    // windowed sub-plan defeated size estimation; sort-merge shuffled the
    // whole tf table on a 31-distinct-key column = maximal skew), so NO
    // audited entry has a legitimate sort-merge left
    ("search_hybrid_rrf", true, true, false),
    ("knn_range", true, true, false),
    // single-table windowed sessionization: one hash exchange on user_id,
    // no join at all
    ("q10_sessionize", false, true, false),
    // the composed curation pipeline: all stage joins are doc_id-keyed
    // broadcasts at this scale (at corpus scale AQE may shuffle them —
    // same keys, still no silent regression to audit for); at sf0.001 the
    // entry returns ZERO rows and AQE collapses the whole plan to
    // EmptyRelation (nothing to audit), hence the sf0.01 override below
    ("pipeline_curate", true, true, false),
    ("knn_tiered", true, true, false),
    // filtered cross-tier twin: label-filtered exact re-rank over the
    // union aux — same broadcast candidate + query joins
    ("knn_tiered_filtered", true, true, false),
    // in-walk cross-tier OUTPUT = the same filtered re-rank shape; the
    // cold aux came from the acceptance-filtered walk at plain shortlist
    ("knn_tiered_inwalk", true, true, false),
    // banded cross-tier merge OUTPUT = range-filtered exact re-rank over
    // the unioned aux shortlists — same broadcast shape
    ("knn_tiered_range", true, true, false),
    // IN-filtered cross-tier merge OUTPUT = literal-IN exact re-rank over
    // the unioned aux shortlists — same broadcast shape
    ("knn_tiered_in", true, true, false),
    // per-query-IN cross-tier merge OUTPUT = the qfin exact re-rank over
    // the unioned aux shortlists — same broadcast shape (the any-of
    // equality rides the broadcast probe tuple's array)
    ("knn_tiered_qin", true, true, false),
    ("knn_coldtier_routed", true, true, false),
    ("knn_coldtier_reclustered", false, true, false), // kernel scan, see knn_coldtier
    // round-8 extension: every remaining oracle entry is audited, so no
    // entry's plan can regress invisibly between bench rounds
    ("ann_ivf", false, true, false),
    ("ann_ivf_filtered", false, true, false),
    ("ann_lsh", false, true, false),
    ("ann_lsh_proximity", false, true, false),
    ("ann_lsh_random", false, true, false),
    ("ann_odyssey", false, true, false),
    ("ann_pq", false, true, false),
    ("ann_pq_rerank", true, true, false),
    ("ann_sfc", false, true, false),
    ("dedup_simhash", true, true, false),
    ("eval_recall", true, true, false),
    ("knn_bruteforce", false, true, false),
    // duplicate-key kernel gate: same bounded-heap bf kernel shape as
    // knn_bruteforce (mapPartitions over broadcast queries, no join) —
    // the dup expansion + id repartition happen before the kernel
    ("knn_bruteforce_dup", false, true, false),
    ("knn_cosine", true, true, false),
    ("knn_deletes", true, true, false),
    ("knn_filtered", true, true, false),
    ("knn_ip", true, true, false),
    ("knn_partitioned", true, true, false),
    ("knn_sql", true, true, false),
    ("multimodal_decode", false, true, false),
    ("multimodal_frames", false, true, false),
    ("multimodal_resize", false, true, false),
    ("part_hash_balance", false, true, false),
    ("part_zorder", false, true, false),
    ("q12_rollup", false, true, false),
    ("q13_conditional_agg", true, true, false),
    ("q14_having", false, true, false),
    ("q15_scalar_subquery", true, true, false),
    ("q16_exists_corr", true, true, false),
    ("q17_json_extract", false, true, false),
    ("q2_top_revenue_orders", true, true, false),
    ("q4_semi_join", true, true, false),
    // empty result at every generated SF (all customers have orders) —
    // AQE collapses the whole frame to EmptyRelation, so it is audited
    // with AQE off (see noAqe), where the static plan must be the
    // broadcast anti-join with the o_custkey null-filter pushed down
    ("q5_anti_join", true, true, false),
    ("q7_distinct_agg", false, true, false),
    ("q8_setops", true, true, false),
    ("q9_events_hourly", false, true, false),
    ("text_dedup_exact", true, true, false),
    ("text_dedup_norm", true, true, false),
    ("text_fingerprint", false, true, false),
    ("text_langid", false, true, false),
    ("text_lm_score", false, true, false),
    ("text_quality", false, true, false),
    ("text_stats", false, true, false),
    // attribute-filtered cold tier: same kernel as knn_coldtier — the
    // label equality rides the broadcast probe TUPLE into the bounded-heap
    // scan, so there is no broadcast JOIN left in this plan either
    ("knn_coldtier_filtered", false, true, false),
    // label-aligned + attr-stats pruning: same kernel, fewer segments
    // planned (the entry itself asserts one probe per query)
    ("knn_coldtier_filtered_pruned", false, true, false),
    // RANGE-filtered cold tier: the [qflo,qfhi] band rides the broadcast
    // probe TUPLE into the same bounded-heap kernel — no broadcast join
    ("knn_coldtier_range", false, true, false),
    // aligned + interval pruning: same kernel, the entry itself asserts
    // three admissible probes per query
    ("knn_coldtier_range_pruned", false, true, false),
    // histogram gap pruning on a label-STRUCTURED layout: same kernel,
    // the entry itself asserts ONE probe per query where min/max alone
    // would plan three
    ("knn_coldtier_range_hist", false, true, false),
    // attr-aligned RECLUSTER: same kernel over the rewritten layout,
    // the entry itself asserts <= one bucket (2 cells) per query
    ("knn_coldtier_attr_reclustered", false, true, false),
    // cluster frame broadcasts into the documents scan; no scan filter
    // (quality reads every document's text by design, like dedup_clusters)
    ("dedup_keep_best", true, false, false),
    // row-local chunking: scan + explode, no join at all
    ("text_chunk", false, true, false),
    // duplicated-hash side is aggregated + threshold-filtered → broadcast
    ("text_dedup_substring", true, true, false),
    // distributed TakeOrdered top-N over the aggregated token frame
    ("text_vocab", false, true, false),
    // RAG composition: queries broadcast into the brute-force scan, hits
    // broadcast back into the chunk hydration join
    ("pipeline_rag", true, true, false),
    // OPQ: same ADC + broadcast-rerank shape as ann_pq_rerank
    ("ann_opq_rerank", true, true, false),
    // per-lang window + agg, no join (exact oracle shape; scale path is
    // a one-pass approx_percentile sketch — documented in the entry)
    ("text_length_quantiles", false, true, false),
    // retention self-join keys on (hour, user) over the distinct
    // activity frame; at this sf the shifted side broadcasts
    ("q18_retention", true, true, false),
    // OPQ,IVF,PQ composition: routed-cell ADC with broadcast model
    ("ann_opq_ivf", true, true, false),
    // exact-dedup shape on the canonical-url key
    ("text_dedup_url", true, true, false),
    // built-in sliding window(): explode to width/slide rows + one agg
    ("q19_sliding_windows", false, true, false),
    // non-L2 cold tier: same broadcast-probe shape, no segment skip
    ("knn_coldtier_cosine", false, true, false), // kernel scan, see knn_coldtier
    // eval family shape: broadcast hits join over k x queries rows
    ("eval_ndcg", true, true, false),
    ("knn_coldtier_ip", false, true, false), // kernel scan, see knn_coldtier
    // graph-routed coarse quantization: identical output shape to
    // knn_coldtier_routed (the routing mechanism lives inside the aux)
    ("knn_coldtier_graph_routed", true, true, false),
    // V5 approximate mode: output = exact re-rank over the aux ids
    // (the skip decisions live inside the aux)
    ("knn_coldtier_early_term", true, true, false),
    // the approximate mode composed with the attribute filter: same
    // aux-replay recipe, filtered hydration at the re-rank
    ("knn_coldtier_filtered_early_term", true, true, false),
    // SQL-rewrite entry OUTPUT = the exact re-rank over the aux ids
    // (broadcast candidate + query joins, vec_id=0 filter pushed); the
    // zero-file-scan property of the REWRITTEN plan itself is asserted
    // inside the entry (it throws if the corpus scan survives)
    ("knn_sql_rewrite", true, true, false),
    // filtered-rewrite entry OUTPUT = the label-filtered exact re-rank
    // over the aux ids — same broadcast shape; the no-corpus-scan
    // property of the rewritten plan is asserted inside the entry
    ("knn_sql_rewrite_filtered", true, true, false),
    // aligned-exact rewrite entry OUTPUT (r16): the exact kernel now
    // serves admission-collapsed plans from the WARM SEGMENT CACHE by
    // default (ColdTier.serveLocal's exact engine — zero Spark jobs per
    // statement), so the plan is a LocalRelation under the row_number
    // window: no scan, hence no PushedFilters to audit here. The
    // distributed scan FALLBACK's pushdown + bit-equality to this
    // engine are asserted in ExactServeLocalSpec; the no-corpus-scan
    // AND exact-kernel-served properties stay asserted inside the entry
    ("knn_sql_rewrite_aligned_exact", false, false, false),
    // the IN-collapse sibling (entry 138, r15 verdict #3): same
    // memory-served LocalRelation shape, same in-entry assertions
    ("knn_sql_rewrite_aligned_exact_in", false, false, false),
    // IN-list rewrite entry OUTPUT = the literal-filtered exact re-rank
    // over the aux ids — same broadcast shape + no-corpus-scan assertion
    ("knn_sql_rewrite_in", true, true, false),
    // in-walk-served IN rewrite OUTPUT = the same literal-filtered
    // re-rank shape (broadcast + no-corpus-scan assertion in the entry)
    ("knn_sql_rewrite_inwalk", true, true, false),
    // window-rank-idiom rewrite entry OUTPUT = the exact re-rank over
    // the aux ids — the knn_sql_rewrite shape
    ("knn_sql_rewrite_rank", true, true, false),
    // range-band rewrite entry OUTPUT = the range-filtered exact re-rank
    // over the aux ids — same broadcast shape + no-corpus-scan assertion
    ("knn_sql_rewrite_range", true, true, false),
    // the VERSION-pinned rewrite's OUTPUT is the snapshot-pinned exact
    // re-rank over the aux ids — the knn_sql_rewrite shape
    ("knn_sql_rewrite_snapshot", true, true, false),
    // pinned + filtered composition: pinned hydration under the label
    // equality, broadcast re-rank over the aux ids
    ("knn_sql_rewrite_snapshot_filtered", true, true, false),
    // catalog observability view: a bare stats-parquet scan
    ("coldtier_stats", false, true, false),
    // routed kNN JOIN: both sides route into a pid-keyed cogroup — no
    // broadcast join anywhere (that absence IS the point: the exact
    // knn_join's corpus-as-queries broadcast is what this shape removes)
    ("ann_knn_join", false, true, false),
    // temporal flavor: same cogroup shape, window applied per cell
    ("ann_knn_join_windowed", false, true, false),
    ("part_gray", false, true, false))

  /** Entries whose plan only materializes at a larger scale factor. */
  private val dirOverride: Map[String, String] =
    Map("pipeline_curate" -> "/root/testdata/sf0.01")

  /** Entries whose result set is empty at every generated SF: AQE
   * replaces the executed plan with EmptyRelation (nothing to audit), so
   * the assertion runs against the statically planned tree instead. */
  private val noAqe: Set[String] = Set("q5_anti_join")

  test("every audited entry keeps its expected physical-plan shape") {
    spark.sparkContext.setLogLevel("ERROR")
    val failures = expectations.flatMap {
      case (name, wantBroadcast, wantPushed, allowSortMerge) =>
        val aqeOff = noAqe(name)
        if (aqeOff) spark.conf.set("spark.sql.adaptive.enabled", "false")
        val p = try PlanProps.of(spark, dirOverride.getOrElse(name, dir), name)
          finally if (aqeOff) spark.conf.set("spark.sql.adaptive.enabled", "true")
        val errs = Seq(
          (!p.wscg) -> "no WholeStageCodegen span",
          (wantBroadcast && !p.broadcast) -> "expected broadcast join missing",
          (wantPushed && !p.pushedFilters) -> "no PushedFilters on the scan",
          (!allowSortMerge && p.sortMerge) ->
            "sort-merge join appeared (lost a broadcast?)"
        ).collect { case (true, msg) => s"$name: $msg ($p)" }
        errs
    }
    assert(failures.isEmpty, failures.mkString("\n", "\n", ""))
  }
}
