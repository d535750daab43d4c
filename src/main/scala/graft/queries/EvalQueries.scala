package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.multimodal.Multimodal
import graft.ops.Recall

/**
 * Evaluation + multimodal operators with full oracles:
 *
 *  - eval_recall: recall@10 of the TTL-restricted kNN against the
 *    unrestricted kNN (C8 machinery; values < 1 where the freshness
 *    window hides true neighbors) — the oracle recomputes both searches
 *    and the intersection in SQL.
 *  - multimodal_decode: documents' text bytes as an opaque BINARY media
 *    column through the batched decode plumbing; the stub codec derives
 *    metadata + byte-nibble features, all replicated in SQL (ASCII
 *    corpus makes ascii() == byte value).
 */
object EvalQueries {

  /** Sealed cold-tier dirs per sf dir (sealing is deterministic). */
  private val sealedDirs = scala.collection.concurrent.TrieMap.empty[String, String]
  /** Dirs whose segments have SQ8 code companions sealed. */
  private val codesSealed = scala.collection.concurrent.TrieMap.empty[String, Boolean]
  /** Dirs whose segments have PQ code companions sealed. */
  private val pqCodesSealed = scala.collection.concurrent.TrieMap.empty[String, Boolean]
  private val filteredCodesSealed = scala.collection.concurrent.TrieMap.empty[String, Boolean]
  private val filteredPqCodesSealed = scala.collection.concurrent.TrieMap.empty[String, Boolean]
  /** Dirs whose segments have HNSW index sidecars sealed. */
  private val hnswSealed = scala.collection.concurrent.TrieMap.empty[String, Boolean]
  /** Compacted cold-tier dirs per sf dir (six flushes -> two segments). */
  private val compactedDirs = scala.collection.concurrent.TrieMap.empty[String, String]
  /** Cold-tier dirs sealed with SHARDED HNSW sidecars per sf dir. */
  private val shardedDirs = scala.collection.concurrent.TrieMap.empty[String, String]
  /** Cold-tier dirs with a sealed delete log per sf dir. */
  private val deletesDirs = scala.collection.concurrent.TrieMap.empty[String, String]
  /** Hot/cold tiered layout per sf dir: (tier dir, hot/cold ts cut). */
  private val tieredDirs = scala.collection.concurrent.TrieMap.empty[String, (String, Long)]
  /** Cell-sealed (one segment per k-means cell) tier dirs per sf dir. */
  private val routedDirs = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Cell-sealed + HNSW-indexed tier over the embeddings table (shared by
   * `knn_coldtier_routed` and `knn_sql_rewrite`). The k-means fit sample
   * is BOUNDED (deterministic, like ColdTier.recluster's sampleCap) —
   * the routing model must be fittable from a driver-sized sample
   * regardless of corpus size — and STRIDED across the id range (id %
   * stride == 0), not an id-ordered prefix: if ids correlate with
   * position in embedding space, a prefix sample misses clusters and
   * silently degrades routing recall. */
  private def fitSample(data: org.apache.spark.sql.DataFrame,
      cap: Int = 8192): Array[Array[Float]] = {
    val n = data.count()
    // ceiling division: floor would give stride 1 for any corpus under
    // 2*cap rows — exactly the id-ordered prefix this sample exists to
    // avoid
    val stride = math.max(1L, (n + cap - 1) / cap)
    data.where(col("id") % stride === 0).orderBy("id")
      .limit(cap).collect().map(_.getSeq[Float](1).toArray)
  }

  /** ONE cell-sealed + HNSW-indexed tier builder (shared by the plain and
   * label-carrying layouts so their recipes can never diverge): strided
   * k-means fit sample, one partitioned sealMany write, sidecars. */
  private def buildRoutedTier(s: SparkSession, dir: String,
      prefix: String, extraCols: Seq[String]): String = {
    val e = Tables(s, dir, "embeddings")
    val t = java.nio.file.Files.createTempDirectory(prefix).toString
    val data = e.select(Seq(col("vec_id").as("id"),
      col("embedding").as("vec"), col("vec_id").as("eventTime")) ++
      extraCols.map(col): _*)
    val sample = fitSample(data)
    val cells = graft.partitioners.KMeansPartitioner.fit(sample, k = 4,
      replicationFactor = 1, iterations = 4, seed = 42L, queryProbes = 2)
    val bCells = s.sparkContext.broadcast(cells)
    val cellOf = udf((v: Seq[Float]) =>
      bCells.value.dataPartitions(v.toArray, 0L)(0))
    // batch seal: the whole cell layout lands in ONE partitioned
    // write (sealMany) — the shape a flush/compaction uses at scale
    val segStats = graft.store.ColdTier.sealMany(
      data.withColumn("segmentId", cellOf(col("vec")).cast("long")), t)
    graft.store.ColdTier.sealIndexes(s, t, segStats.map(_.segmentId).toSeq,
      graft.Metric.L2, m = 16, efConstruction = 128)
    t
  }

  private def routedTier(s: SparkSession, dir: String): String =
    routedDirs.getOrElseUpdate(dir,
      buildRoutedTier(s, dir, "graft-cold-routed", Seq.empty))
  /** Cell-sealed + indexed tier WITH the label attribute (the
   * filtered-rewrite layout) per sf dir. */
  private val routedFilteredDirs = scala.collection.concurrent.TrieMap.empty[String, String]

  /** [[routedTier]] sealed with the label attribute riding the segments —
   * the layout a filtered SQL rewrite hydrates its shortlist against. */
  private def routedFilteredTier(s: SparkSession, dir: String): String =
    routedFilteredDirs.getOrElseUpdate(dir,
      buildRoutedTier(s, dir, "graft-cold-rflt", Seq("label")))

  /** Label-ALIGNED tier (one segment per label) + attr-stats sidecar per
   * sf dir — the partition-pruning layout for filtered search. */
  private val alignedFilteredDirs = scala.collection.concurrent.TrieMap.empty[String, String]
  /** Label-STRUCTURED (bimodal per segment) tier dirs for the histogram
   * gap-pruning entry, per sf dir. */
  private val histDirs = scala.collection.concurrent.TrieMap.empty[String, String]
  /** Time-sliced tier rewritten by reclusterByAttr (label buckets x
   * k-means cells), per sf dir. */
  private val attrReclusterDirs = scala.collection.concurrent.TrieMap.empty[String, String]
  private def alignedFilteredTier(s: SparkSession, dir: String): String =
    alignedFilteredDirs.getOrElseUpdate(dir, {
      val e = Tables(s, dir, "embeddings")
      val t = java.nio.file.Files.createTempDirectory("graft-cold-aligned")
        .toString
      graft.store.ColdTier.sealMany(
        e.select(col("vec_id").as("id"), col("embedding").as("vec"),
          col("vec_id").as("eventTime"), col("label"),
          col("label").cast("long").as("segmentId")), t)
      graft.store.ColdTier.sealAttrStats(s, t, "label")
      t
    })

  /** Time-accreted-then-reclustered tier dirs per sf dir. */
  private val reclusteredDirs = scala.collection.concurrent.TrieMap.empty[String, String]
  /** Hot/cold tiered layout sealed WITH the label attribute per sf dir:
   * (tier dir, hot/cold ts cut) — the cross-tier FILTERED layout. */
  private val tieredFilteredDirs =
    scala.collection.concurrent.TrieMap.empty[String, (String, Long)]
  /** Like [[tieredFilteredTier]] but the cold sidecars are sealed WITH
   * the label attribute payload (hashes + canonical values) — the
   * in-walk cross-tier layout. Separate CACHE so the over-fetch entries
   * keep exercising filter-oblivious sidecars; one shared BUILDER so
   * the layouts can never diverge. */
  private val tieredInWalkDirs =
    scala.collection.concurrent.TrieMap.empty[String, (String, Long)]
  private def tieredInWalkTier(s: SparkSession, dir: String,
      e: org.apache.spark.sql.DataFrame): (String, Long) =
    tieredInWalkDirs.getOrElseUpdate(dir,
      buildTieredTier(s, e, "graft-cold-tieriw", Seq("label")))

  /** Hot/cold tiered layout WITH the label attribute, per sf dir:
   * newest quarter in one unindexed hot segment, older three quarters
   * in two indexed cold segments. Shared by the filtered and range
   * cross-tier entries so their layouts can never diverge. Returns
   * (tier dir, hot/cold eventTime cut). */
  private def tieredFilteredTier(s: SparkSession, dir: String,
      e: org.apache.spark.sql.DataFrame): (String, Long) =
    tieredFilteredDirs.getOrElseUpdate(dir,
      buildTieredTier(s, e, "graft-cold-tierflt", Nil))

  /** One copy of the hot/cold split recipe (newest-quarter cut, parity
   * split of the cold rows, seal-then-index order) for every tiered
   * layout variant — the cut formula and seal order can never diverge
   * between the over-fetch and in-walk entries. */
  private def buildTieredTier(s: SparkSession,
      e: org.apache.spark.sql.DataFrame, prefix: String,
      attrColumns: Seq[String]): (String, Long) = {
    val t = java.nio.file.Files.createTempDirectory(prefix).toString
    val maxId = e.agg(max(col("vec_id"))).first().getLong(0)
    val c = maxId / 4 * 3
    (0 until 2).foreach { i =>
      graft.store.ColdTier.seal(
        e.where(col("vec_id") < c && col("vec_id") % 2 === i)
          .select(col("vec_id").as("id"), col("embedding").as("vec"),
            col("vec_id").as("eventTime"), col("label")), t, i.toLong)
    }
    graft.store.ColdTier.sealIndexes(s, t, 0L until 2L,
      graft.Metric.L2, m = 16, efConstruction = 128,
      attrColumns = attrColumns)
    graft.store.ColdTier.seal(
      e.where(col("vec_id") >= c)
        .select(col("vec_id").as("id"), col("embedding").as("vec"),
          col("vec_id").as("eventTime"), col("label")), t, 2L)
    (t, c)
  }
  /** The SQL-rewrite entries' shared hard gate: file-relation scans in
   * the OPTIMIZED plan that still touch the registered corpus parquet —
   * nonEmpty means the index rewrite failed to fire. One copy so the
   * scan-detection rule can never diverge across the gated idioms. */
  /** The engine a served SQL kNN statement ran with, read from its
   * operator's metrics after it executed. */
  private def servedBy(df: org.apache.spark.sql.DataFrame): Option[String] =
    graft.plans.KnnServeExec.engineOf(df.queryExecution.executedPlan)

  private def corpusScansOf(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] =
    df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation
          if l.relation.isInstanceOf[
            org.apache.spark.sql.execution.datasources.HadoopFsRelation] &&
            l.relation
              .asInstanceOf[
                org.apache.spark.sql.execution.datasources.HadoopFsRelation]
              .location.rootPaths.exists(_.toString
                .contains("embeddings.parquet")) => l
    }

  /** Top-n of the SQL-rewrite entry (one literal query; the LIMIT). */
  private val SqlRewriteK = 500
  /** Top-n of the FILTERED SQL-rewrite entry — smaller than SqlRewriteK
   * so the filter-oblivious shortlist (overfetched 4x) keeps headroom
   * over the matching-label candidate mass. */
  private val SqlRewriteFilteredK = 200
  /** Top-n of the ALIGNED-EXACT SQL-rewrite entry: served by the exact
   * kernel (no shortlist bound applies), sized under the per-label mass
   * at sf0.01 so the twin compares full-length lists. */
  private val SqlRewriteAlignedK = 100
  /** Top-n of the IN-list SQL-rewrite entry — two of ten labels match
   * (~20% of candidates), so the bound keeps the same headroom margin
   * the single-label entry keeps at 200. */
  private val SqlRewriteInK = 60
  /** The IN-list entry's static label set (embeddings.label is uniform
   * over 0..9 at every sf, TESTDATA.md) — static so the DuckDB twin can
   * embed the same literals. */
  private val SqlRewriteInLabels = Seq(0, 1)
  /** Top-n of the IN-collapse ALIGNED-EXACT entry: served by the exact
   * kernel over the two admitted single-label segments (no shortlist
   * bound applies), sized under the two-label candidate mass at sf0.01
   * so the twin compares full-length lists. */
  private val SqlRewriteAlignedInK = 80
  /** The IN-WALK in-list entry's static label set (2 of 10 labels) —
   * hashed once at plan time ([[graft.store.ColdTier.literalAttrHash]])
   * and applied at candidate acceptance inside every sidecar walk;
   * static so the DuckDB twin can embed the same literals. */
  private val InWalkInLabels = Seq(2, 7)
  /** The IN-WALK range entry's static band `label > Lo AND label <= Hi`
   * (2 of 10 labels; one strict edge so the closed-hull admit +
   * exact-re-rank drop is exercised) — static so the DuckDB twin can
   * embed the same bounds. */
  private val InWalkRangeLo = 4
  private val InWalkRangeHi = 6
  /** The range entry's static band `label >= Lo AND label < Hi` — 4 of
   * 10 labels match (~40% of candidates); top-n sized to the same
   * headroom margin as the IN entry (shortlist 500 over-fetched 4x). */
  private val SqlRewriteRangeLo = 2
  private val SqlRewriteRangeHi = 6
  private val SqlRewriteRangeK = 100
  /** The cross-tier range entry's static inclusive band (4 of 10
   * labels) — static so the band can ride rerankExact's literalRanges
   * and the DuckDB twin can embed the same BETWEEN. */
  private val TieredRangeLo = 2
  private val TieredRangeHi = 5
  /** The cross-tier IN entry's static value set (3 of 10 labels) —
   * static so the set can ride both the hot filterIn kernel (per-query
   * qfin) and rerankExact's literalFilters, and the DuckDB twin can
   * embed the same IN list. */
  private val TieredInLabels = Seq(1, 4, 8)
  /** The SQL-rewrite probe's contract freshness window as a (qtime, ttl)
   * pair: floor -2^62, ceil 2^62-1 — exactly what KnnRewrite.singleQuery
   * plans for an unwindowed registered query. The rewrite entries' exact
   * re-rank uses the SAME span so probe and re-rank can never disagree
   * on a negative eventTime (a MaxValue/2 ttl floors the window at 0 and
   * would silently exclude such rows — harmless on this testdata where
   * eventTime = vec_id >= 0, but inconsistent with the probe's span). */
  private val RewriteQtime = Long.MaxValue / 2
  private val RewriteTtl = Long.MaxValue
  /** Snapshot-pinned tier dirs per sf dir: (tier dir, snapshot version). */
  private val snapshotDirs = scala.collection.concurrent.TrieMap.empty[String, (String, Long)]
  /** Decoy id floor for the pinned-SQL entry — far outside any vec_id. */
  private val SqlSnapshotDecoyBase = 1L << 40
  /** Indexed routed tier + pinned snapshot + post-snapshot DECOY segment
   * per sf dir: (tier dir, pinned version). The decoys sit exactly at
   * the vec_id-0 query point under ids outside the corpus — any
   * unpinned probe ranks them first, a pinned one provably never sees
   * them. */
  private val sqlSnapDirs = scala.collection.concurrent.TrieMap.empty[String, (String, Long)]
  /** Like [[sqlSnapDirs]] but the tier carries the label attribute and
   * the post-pin decoys carry the MATCHING label — the layout that
   * proves the snapshot pin composes with the filtered rewrite (an
   * unpinned filtered probe would rank the label-matching decoys
   * first; a pinned one provably never sees them): (tier, version,
   * decoy label). */
  private val sqlSnapFltDirs = scala.collection.concurrent.TrieMap.empty[String, (String, Long, Int)]
  private def sqlSnapshotFilteredTier(s: SparkSession,
      dir: String): (String, Long, Int) =
    sqlSnapFltDirs.getOrElseUpdate(dir, {
      import s.implicits._
      val t = buildRoutedTier(s, dir, "graft-cold-snapflt", Seq("label"))
      val ver = graft.store.ColdTier.snapshot(s, t)
      val e = Tables(s, dir, "embeddings")
      val r0 = e.where(col("vec_id") === 0L)
        .select(col("embedding"), col("label")).head()
      val qv = r0.getSeq[Float](0).toArray
      val lbl = r0.getInt(1)
      // decoys AT the query point carrying the query's OWN label —
      // admissible to every filter surface, so only the snapshot pin
      // can keep them out
      val decoys = (0 until 64).map(i => (SqlSnapshotDecoyBase + i,
        qv.map(x => x + (i + 1) * 1e-5f), 0L, lbl))
      val maxSeg = graft.store.ColdTier.catalog(s, t).map(_.segmentId).max
      graft.store.ColdTier.seal(
        decoys.toDF("id", "vec", "eventTime", "label"), t, maxSeg + 1)
      graft.store.ColdTier.sealIndexes(s, t, Seq(maxSeg + 1),
        graft.Metric.L2, m = 16, efConstruction = 128)
      (t, ver, lbl)
    })

  private def sqlSnapshotTier(s: SparkSession, dir: String): (String, Long) =
    sqlSnapDirs.getOrElseUpdate(dir, {
      import s.implicits._
      val t = buildRoutedTier(s, dir, "graft-cold-snap", Seq.empty)
      val ver = graft.store.ColdTier.snapshot(s, t)
      val e = Tables(s, dir, "embeddings")
      val qv = e.where(col("vec_id") === 0L)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val decoys = (0 until 64).map(i => (SqlSnapshotDecoyBase + i,
        qv.map(x => x + (i + 1) * 1e-5f), 0L))
      val maxSeg = graft.store.ColdTier.catalog(s, t).map(_.segmentId).max
      graft.store.ColdTier.seal(
        decoys.toDF("id", "vec", "eventTime"), t, maxSeg + 1)
      graft.store.ColdTier.sealIndexes(s, t, Seq(maxSeg + 1),
        graft.Metric.L2, m = 16, efConstruction = 128)
      (t, ver)
    })

  private def sealedTier(s: SparkSession, dir: String): String =
    sealedDirs.getOrElseUpdate(dir, {
      val e = Tables(s, dir, "embeddings")
      val t = java.nio.file.Files.createTempDirectory("graft-cold").toString
      (0 until 3).foreach { i =>
        graft.store.ColdTier.seal(
          e.where(col("vec_id") % 3 === i)
            .select(col("vec_id").as("id"), col("embedding").as("vec"),
              col("vec_id").as("eventTime")), t, i.toLong)
      }
      t
    })

  /** Like [[filteredTier]] but with HNSW sidecars sealed carrying the
   * label's per-node attribute hashes (format v2) — the IN-WALK filtered
   * probe layout. Its own dir so no other entry's (re)seal flips the
   * sidecar generation under it. */
  private val inWalkDirs = scala.collection.concurrent.TrieMap.empty[String, String]
  private def inWalkTier(s: SparkSession, dir: String): String =
    inWalkDirs.getOrElseUpdate(dir, {
      val e = Tables(s, dir, "embeddings")
      val t = java.nio.file.Files.createTempDirectory("graft-cold-iw").toString
      (0 until 3).foreach { i =>
        graft.store.ColdTier.seal(
          e.where(col("vec_id") % 3 === i)
            .select(col("vec_id").as("id"), col("embedding").as("vec"),
              col("vec_id").as("eventTime"), col("label")), t, i.toLong)
      }
      graft.store.ColdTier.sealIndexes(s, t, 0L until 3L,
        graft.Metric.L2, m = 16, efConstruction = 128,
        attrColumns = Seq("label"))
      t
    })

  /** Label-ALIGNED + attr-stats + HNSW-INDEXED tier per sf dir — the
   * converged layout of the r14 rare-label frontier (one segment per
   * label, sidecars sealed WITH the label payload). On this layout the
   * attr-stats admission collapses a label literal to its ONE segment,
   * so the SQL operator's exact-kernel decision
   * ([[graft.store.ColdTier.serveLocal]], engine "exact") must pick the
   * lossless kernel over the graph probe the committed sidecars would
   * otherwise serve — exactly what knn_sql_rewrite_aligned_exact gates. */
  private val alignedIndexedDirs = scala.collection.concurrent.TrieMap.empty[String, String]
  private def alignedIndexedTier(s: SparkSession, dir: String): String =
    alignedIndexedDirs.getOrElseUpdate(dir, {
      val e = Tables(s, dir, "embeddings")
      val t = java.nio.file.Files.createTempDirectory("graft-cold-alix")
        .toString
      val segStats = graft.store.ColdTier.sealMany(
        e.select(col("vec_id").as("id"), col("embedding").as("vec"),
          col("vec_id").as("eventTime"), col("label"),
          col("label").cast("long").as("segmentId")), t)
      graft.store.ColdTier.sealAttrStats(s, t, "label")
      graft.store.ColdTier.sealIndexes(s, t,
        segStats.map(_.segmentId).toSeq, graft.Metric.L2, m = 16,
        efConstruction = 128, attrColumns = Seq("label"))
      t
    })

  /** Like [[sealedTier]] but sealed WITH the label attribute column (the
   * filtered-search layout). Kept separate so the attribute-less entries
   * keep exercising the plain segment schema. */
  private val filteredDirs = scala.collection.concurrent.TrieMap.empty[String, String]
  private def filteredTier(s: SparkSession, dir: String): String =
    filteredDirs.getOrElseUpdate(dir, {
      val e = Tables(s, dir, "embeddings")
      val t = java.nio.file.Files.createTempDirectory("graft-cold-flt").toString
      (0 until 3).foreach { i =>
        graft.store.ColdTier.seal(
          e.where(col("vec_id") % 3 === i)
            .select(col("vec_id").as("id"), col("embedding").as("vec"),
              col("vec_id").as("eventTime"), col("label")), t, i.toLong)
      }
      t
    })

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "eval_recall" -> { (s, dir) =>
      Recall.atK(
        VectorQueries.queries("knn_ttl")(s, dir),
        VectorQueries.queries("knn_l2")(s, dir), VectorQueries.K)
    },

    "eval_ndcg" -> { (s, dir) =>
      // C8 evaluation, NDCG flavor: rank-discounted gain of the
      // TTL-restricted ranking against the unrestricted top-k as binary
      // relevance. Discounts are driver-computed literals shared with
      // the twin — no transcendental runs on either engine.
      Recall.ndcgAtK(
        VectorQueries.queries("knn_ttl")(s, dir),
        VectorQueries.queries("knn_l2")(s, dir), VectorQueries.K)
    },

    "eval_mrr" -> { (s, dir) =>
      // C8 evaluation, MRR flavor: reciprocal rank of the first
      // TTL-restricted hit that the unrestricted top-k also contains
      // (0.0 when the freshness window hides them all). One hits join +
      // one aggregation over k x |queries| rows — evaluation cost never
      // scales with the corpus.
      val got = VectorQueries.queries("knn_ttl")(s, dir)
        .select(col("qid"), col("rn"), col("id"))
      val rel = VectorQueries.queries("knn_l2")(s, dir)
        .select(col("qid"), col("id"))
      // both sides are k x |queries| rows — size estimates on windowed
      // sub-plans are unknown, so hint the broadcast or Catalyst falls
      // back to a sort-merge shuffle of two tiny inputs
      val first = got.join(broadcast(rel), Seq("qid", "id"))
        .groupBy("qid").agg(min(col("rn")).as("first_rel"))
      got.select("qid").distinct()
        .join(broadcast(first), Seq("qid"), "left")
        .select(col("qid"),
          coalesce(lit(1.0) / col("first_rel"), lit(0.0)).as("mrr"))
    },

    "knn_coldtier" -> { (s, dir) =>
      // seal the corpus into 3 overlapping segments, search through the
      // cold tier in lossless mode (factor 1.0) — must equal exact kNN.
      // Sealing is deterministic per sf dir, so repeated invocations (the
      // bench's warmup+reps) reuse the sealed segments and time the search
      val e = Tables(s, dir, "embeddings")
      val tmp = sealedTier(s, dir)
      val queries = e.where(col("vec_id") % VectorQueries.QueryMod === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          lit(Long.MaxValue / 2).as("qtime"), lit(Long.MaxValue / 2).as("ttl"))
      graft.store.ColdTier.search(s, tmp, queries, VectorQueries.K,
        graft.Metric.L2, firstWaveFraction = 0.34, terminationFactor = 1.0)
    },

    "knn_coldtier_cosine" -> { (s, dir) =>
      // the NON-L2 cold-tier path under the hard gate: cosine disables
      // the triangle-inequality skip (ColdTier: `prune = metric == L2`),
      // so every fresh segment scans in one wave — this entry gates that
      // fallback's correctness through the same catalog/freshness
      // machinery, bit-exact vs exact cosine kNN.
      val e = Tables(s, dir, "embeddings")
      val tmp = sealedTier(s, dir)
      val queries = e.where(col("vec_id") % VectorQueries.QueryMod === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          lit(Long.MaxValue / 2).as("qtime"), lit(Long.MaxValue / 2).as("ttl"))
      graft.store.ColdTier.search(s, tmp, queries, VectorQueries.K,
        graft.Metric.Cosine, firstWaveFraction = 0.34,
        terminationFactor = 1.0)
    },

    "coldtier_stats" -> { (s, dir) =>
      // the catalog itself under the hard gate — the observability view
      // an operator reads (reference analog: the SST metadata the base
      // engine's version set maintains). The seal layout is
      // deterministic (vec_id % 3 stripes with vec_id event times), so
      // count/min/max per segment are independently derivable by the
      // twin; float stats (centroid/radius) are excluded — their
      // accumulation order is partition-layout-dependent by design.
      val tmp = sealedTier(s, dir)
      s.read.parquet(s"$tmp/_segments")
        .select(col("segmentId").as("segment_id"),
          col("count").as("n_rows"),
          col("minTs").as("min_ts"), col("maxTs").as("max_ts"))
    },

    "knn_coldtier_ip" -> { (s, dir) =>
      // inner product completes the cold tier's metric matrix (L2 skips
      // segments, cosine/IP scan every fresh segment in one wave)
      val e = Tables(s, dir, "embeddings")
      val tmp = sealedTier(s, dir)
      val queries = e.where(col("vec_id") % VectorQueries.QueryMod === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          lit(Long.MaxValue / 2).as("qtime"), lit(Long.MaxValue / 2).as("ttl"))
      graft.store.ColdTier.search(s, tmp, queries, VectorQueries.K,
        graft.Metric.IP, firstWaveFraction = 0.34, terminationFactor = 1.0)
    },

    "knn_coldtier_filtered" -> { (s, dir) =>
      // attribute-filtered cold-tier search (the filtered-ANN surface the
      // hot path has as knn_filtered, pushed into the sealed tier): the
      // segments are sealed WITH the label attribute column, each query
      // carries its own label, and only label-matching rows are
      // candidates. The equality rides the broadcast probe join — no
      // extra shuffle, the label column is the only extra scan IO — and
      // wave pruning stays lossless (full-segment lower bounds also
      // bound the filtered subset), so this must equal per-label exact
      // kNN bit-for-bit.
      val e = Tables(s, dir, "embeddings")
      val tmp = filteredTier(s, dir)
      val queries = e.where(col("vec_id") % VectorQueries.QueryMod === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          lit(Long.MaxValue / 2).as("qtime"), lit(Long.MaxValue / 2).as("ttl"),
          col("label").as("qfilter"))
      graft.store.ColdTier.search(s, tmp, queries, VectorQueries.K,
        graft.Metric.L2, firstWaveFraction = 0.34, terminationFactor = 1.0,
        filterColumn = Some("label"))
    },

    "knn_coldtier_filtered_pruned" -> { (s, dir) =>
      // the PARTITION-PRUNING flavor of filtered search: the tier is
      // label-ALIGNED (one segment per label, sealAttrStats sidecar), so
      // probe planning drops every segment whose label range cannot
      // admit the query's qfilter — zero IO for non-matching segments.
      // The entry THROWS unless the plan collapsed to exactly one probe
      // per query (pruning engaged, not just filtered), and the result
      // must STILL be per-label exact kNN bit-for-bit — pruning is
      // lossless (a pruned segment provably holds no matching row).
      val e = Tables(s, dir, "embeddings")
      val tmp = alignedFilteredTier(s, dir)
      val queries = e.where(col("vec_id") % VectorQueries.QueryMod === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          lit(Long.MaxValue / 2).as("qtime"), lit(Long.MaxValue / 2).as("ttl"),
          col("label").as("qfilter"))
      val stats = scala.collection.mutable.Map.empty[String, Long]
      val out = graft.store.ColdTier.search(s, tmp, queries,
        VectorQueries.K, graft.Metric.L2, firstWaveFraction = 0.34,
        terminationFactor = 1.0, filterColumn = Some("label"),
        searchStats = Some(stats))
      val nq = queries.count()
      val planned = stats("wave1_probes") + stats("wave2_planned")
      require(planned == nq, s"knn_coldtier_filtered_pruned: expected " +
        s"$nq probes (one admissible segment per query), planned $planned " +
        "— attr-stats pruning did not engage")
      out
    },

    "knn_coldtier_range" -> { (s, dir) =>
      // RANGE-filtered cold-tier search (`attribute BETWEEN qlo AND
      // qhi` — the price-band / score-band / recency-band production
      // shape): each query carries its own numeric band over the label
      // column and only in-band rows are candidates. The bounds ride
      // the broadcast probe tuple into the same bounded-heap kernel as
      // the equality filter (two NaN-safe double compares per (row,
      // query)), wave pruning stays lossless, so this must equal
      // per-band exact kNN bit-for-bit.
      val e = Tables(s, dir, "embeddings")
      val tmp = filteredTier(s, dir)
      val queries = e.where(col("vec_id") % VectorQueries.QueryMod === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          lit(Long.MaxValue / 2).as("qtime"), lit(Long.MaxValue / 2).as("ttl"),
          least(col("label"), lit(6)).as("qflo"),
          (least(col("label"), lit(6)) + 2).as("qfhi"))
      graft.store.ColdTier.search(s, tmp, queries, VectorQueries.K,
        graft.Metric.L2, firstWaveFraction = 0.34, terminationFactor = 1.0,
        filterColumn = Some("label"), filterRange = true)
    },

    "knn_coldtier_range_pruned" -> { (s, dir) =>
      // the PARTITION-PRUNING flavor of range-filtered search: on the
      // label-ALIGNED tier (one segment per label + sealAttrStats
      // sidecar), probe planning drops every segment whose label
      // [min,max] cannot OVERLAP the query's [qflo,qfhi] — each band
      // spans exactly 3 of the 10 label segments, so the entry THROWS
      // unless the plan collapsed to exactly 3 probes per query, and
      // the result must STILL be per-band exact kNN bit-for-bit
      // (interval pruning is lossless).
      val e = Tables(s, dir, "embeddings")
      val tmp = alignedFilteredTier(s, dir)
      val queries = e.where(col("vec_id") % VectorQueries.QueryMod === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          lit(Long.MaxValue / 2).as("qtime"), lit(Long.MaxValue / 2).as("ttl"),
          least(col("label"), lit(6)).as("qflo"),
          (least(col("label"), lit(6)) + 2).as("qfhi"))
      val stats = scala.collection.mutable.Map.empty[String, Long]
      val out = graft.store.ColdTier.search(s, tmp, queries,
        VectorQueries.K, graft.Metric.L2, firstWaveFraction = 0.34,
        terminationFactor = 1.0, filterColumn = Some("label"),
        filterRange = true, searchStats = Some(stats))
      val nq = queries.count()
      val planned = stats("wave1_probes") + stats("wave2_planned")
      require(planned == 3 * nq, s"knn_coldtier_range_pruned: expected " +
        s"${3 * nq} probes (3 admissible segments per query), planned " +
        s"$planned — attr-range interval pruning did not engage")
      out
    },

    "knn_coldtier_range_hist" -> { (s, dir) =>
      // HISTOGRAM gap pruning — the admission signal for tiers whose
      // layout does NOT align with the filter column: segments are
      // sealed by label STRUCTURE (seg0 = labels {0,9}: wide range,
      // hollow middle; seg1 = {3,4,5}; seg2 = {1,2,6,7,8}), so the
      // bare [min,max] admits ALL THREE for the band [3,5] while the
      // sealAttrStats per-segment histograms prove seg0/seg2 hold zero
      // mass there. The entry THROWS unless the plan collapsed to ONE
      // probe per query, and the result must STILL be per-band exact
      // kNN bit-for-bit (gap pruning is lossless: a zero-mass bucket
      // range provably holds no matching row).
      val e = Tables(s, dir, "embeddings")
      val tmp = histDirs.getOrElseUpdate(dir, {
        val t = java.nio.file.Files.createTempDirectory("graft-cold-hist")
          .toString
        val seg = when(col("label") === 0 || col("label") === 9, 0L)
          .when(col("label") >= 3 && col("label") <= 5, 1L)
          .otherwise(2L)
        graft.store.ColdTier.sealMany(
          e.select(col("vec_id").as("id"), col("embedding").as("vec"),
            col("vec_id").as("eventTime"), col("label"),
            seg.as("segmentId")), t)
        graft.store.ColdTier.sealAttrStats(s, t, "label")
        t
      })
      val queries = e.where(col("vec_id") % VectorQueries.QueryMod === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          lit(Long.MaxValue / 2).as("qtime"), lit(Long.MaxValue / 2).as("ttl"),
          lit(3).as("qflo"), lit(5).as("qfhi"))
      val stats = scala.collection.mutable.Map.empty[String, Long]
      val out = graft.store.ColdTier.search(s, tmp, queries,
        VectorQueries.K, graft.Metric.L2, firstWaveFraction = 0.34,
        terminationFactor = 1.0, filterColumn = Some("label"),
        filterRange = true, searchStats = Some(stats))
      val nq = queries.count()
      val planned = stats("wave1_probes") + stats("wave2_planned")
      require(planned == nq, s"knn_coldtier_range_hist: expected $nq " +
        s"probes (histogram gap pruning to one segment per query), " +
        s"planned $planned — min/max alone would plan ${3 * nq}")
      out
    },

    "knn_coldtier_attr_reclustered" -> { (s, dir) =>
      // ATTRIBUTE-aligned recompaction: the tier is sealed TIME-sliced
      // and label-MIXED (the streaming layout — every segment's label
      // range spans every label, admission prunes nothing), then
      // reclusterByAttr re-seals it into 5 label-quantile buckets x 2
      // k-means cells and seals the attr-stats sidecar itself. After
      // the pass, a per-label query admits ONE bucket (<= 2 cells) —
      // the entry THROWS unless planning collapsed to <= 2 probes per
      // query — and the result must STILL be per-label exact kNN
      // bit-for-bit (the recluster is a pure layout change: tombstones
      // applied, row multiset preserved, one atomic catalog swap).
      val e = Tables(s, dir, "embeddings")
      val tmp = attrReclusterDirs.getOrElseUpdate(dir, {
        val t = java.nio.file.Files
          .createTempDirectory("graft-cold-attrrc").toString
        (0 until 3).foreach { i =>
          graft.store.ColdTier.seal(
            e.where(col("vec_id") % 3 === i)
              .select(col("vec_id").as("id"), col("embedding").as("vec"),
                col("vec_id").as("eventTime"), col("label")), t, i.toLong)
        }
        graft.store.ColdTier.reclusterByAttr(s, t, "label", buckets = 5,
          cellsPerBucket = 2, m = 8, efConstruction = 64)
        t
      })
      val queries = e.where(col("vec_id") % VectorQueries.QueryMod === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          lit(Long.MaxValue / 2).as("qtime"), lit(Long.MaxValue / 2).as("ttl"),
          col("label").as("qfilter"))
      val stats = scala.collection.mutable.Map.empty[String, Long]
      val out = graft.store.ColdTier.search(s, tmp, queries,
        VectorQueries.K, graft.Metric.L2, firstWaveFraction = 1.0,
        terminationFactor = 1.0, filterColumn = Some("label"),
        searchStats = Some(stats))
      val nq = queries.count()
      val planned = stats("wave1_probes") + stats("wave2_planned")
      require(planned <= 2 * nq, s"knn_coldtier_attr_reclustered: " +
        s"expected <= ${2 * nq} probes (one bucket x 2 cells per " +
        s"query), planned $planned — the mixed layout would plan " +
        s"${10 * nq}")
      out
    },

    "knn_coldtier_compacted" -> { (s, dir) =>
      // LSM-style compaction under the hard gate: six small "flushes" are
      // sealed (the accreting-streaming-tier shape), compact() merges
      // time-adjacent runs into two segments through the atomic
      // catalog-swap + gc lifecycle, and the lossless search over the
      // compacted tier must STILL equal exact kNN — compaction preserves
      // the row multiset, so the oracle is the same exact-kNN twin as
      // knn_coldtier through an independent storage layout.
      val e = Tables(s, dir, "embeddings")
      val tmp = compactedDirs.getOrElseUpdate(dir, {
        val t = java.nio.file.Files.createTempDirectory("graft-cold-cpt").toString
        (0 until 6).foreach { i =>
          graft.store.ColdTier.seal(
            e.where(col("vec_id") % 6 === i)
              .select(col("vec_id").as("id"), col("embedding").as("vec"),
                col("vec_id").as("eventTime")), t, i.toLong)
        }
        val total = e.count()
        graft.store.ColdTier.compact(s, t, targetRows = (total + 1) / 2)
        t
      })
      val queries = e.where(col("vec_id") % VectorQueries.QueryMod === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          lit(Long.MaxValue / 2).as("qtime"), lit(Long.MaxValue / 2).as("ttl"))
      graft.store.ColdTier.search(s, tmp, queries, VectorQueries.K,
        graft.Metric.L2, firstWaveFraction = 0.5, terminationFactor = 1.0)
    },

    "knn_coldtier_deletes" -> { (s, dir) =>
      // the delete LOG under the hard gate (V4 for data the hot tier
      // already retired): rows flushed to cold cannot be touched by the
      // keyed operator's tombstone map, so deletes arriving after the
      // flush seal into the tier's delete log and shadow at read time
      // (versioned: del_ts >= eventTime). Deterministic victim set
      // (vec_id % 17 == 3, tombstoned at its own eventTime); lossless
      // search must equal exact kNN over the survivors.
      val e = Tables(s, dir, "embeddings")
      val tmp = deletesDirs.getOrElseUpdate(dir, {
        val t = java.nio.file.Files.createTempDirectory("graft-cold-del").toString
        (0 until 3).foreach { i =>
          graft.store.ColdTier.seal(
            e.where(col("vec_id") % 3 === i)
              .select(col("vec_id").as("id"), col("embedding").as("vec"),
                col("vec_id").as("eventTime")), t, i.toLong)
        }
        graft.store.ColdTier.sealDeletes(
          e.where(col("vec_id") % 17 === 3)
            .select(col("vec_id").as("id"), col("vec_id").as("ts")), t, 0L)
        t
      })
      val queries = e.where(col("vec_id") % VectorQueries.QueryMod === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          lit(Long.MaxValue / 2).as("qtime"), lit(Long.MaxValue / 2).as("ttl"))
      graft.store.ColdTier.search(s, tmp, queries, VectorQueries.K,
        graft.Metric.L2, firstWaveFraction = 0.34, terminationFactor = 1.0)
    },

    "knn_coldtier_snapshot" -> { (s, dir) =>
      // TIME TRAVEL under the hard gate: ColdTier.snapshot pins the
      // tier's catalog + tombstone state (the durable analog of the
      // reference base engine's pinned Version reads, db/version_set.h)
      // BEFORE a delete batch lands; one entry then answers the same
      // queries through both views — the pinned read still sees the
      // tombstoned stripe, the live read excludes it. Twin: the
      // knn_coldtier (full corpus) and knn_coldtier_deletes (survivors)
      // formulations unioned, tagged by view.
      val e = Tables(s, dir, "embeddings")
      val (tmp, v0) = snapshotDirs.getOrElseUpdate(dir, {
        val t = java.nio.file.Files.createTempDirectory("graft-cold-snap")
          .toString
        (0 until 3).foreach { i =>
          graft.store.ColdTier.seal(
            e.where(col("vec_id") % 3 === i)
              .select(col("vec_id").as("id"), col("embedding").as("vec"),
                col("vec_id").as("eventTime")), t, i.toLong)
        }
        val v = graft.store.ColdTier.snapshot(s, t)
        graft.store.ColdTier.sealDeletes(
          e.where(col("vec_id") % 17 === 3)
            .select(col("vec_id").as("id"), col("vec_id").as("ts")), t, 0L)
        (t, v)
      })
      val queries = e.where(col("vec_id") % VectorQueries.QueryMod === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          lit(Long.MaxValue / 2).as("qtime"), lit(Long.MaxValue / 2).as("ttl"))
      def run(snap: Option[Long]) =
        graft.store.ColdTier.search(s, tmp, queries, VectorQueries.K,
          graft.Metric.L2, firstWaveFraction = 0.34,
          terminationFactor = 1.0, snapshot = snap)
      run(Some(v0)).withColumn("src", lit("pinned"))
        .unionByName(run(None).withColumn("src", lit("live")))
    },

    "knn_coldtier_sq" -> { (s, dir) =>
      // the COMPRESSED cold tier under the hard gate: SQ8 code companions
      // sealed beside the segments (same dir-cached quantizer as ann_sq8,
      // so the oracle replays from the ann_sq8 aux), search through
      // ColdTier.searchCompressed. With every segment inside the query
      // window this must equal the ann_sq8_rerank pipeline bit-for-bit —
      // two independent execution paths (catalog + segment scan +
      // freshness machinery vs a single code table) against one SQL twin.
      val e = Tables(s, dir, "embeddings")
      val tmp = sealedTier(s, dir)
      val model = PqQueries.sqModelFor(s, dir)
      codesSealed.getOrElseUpdate(dir, {
        (0L until 3L).foreach(sid =>
          graft.store.ColdTier.sealCodes(s, tmp, sid, model))
        true
      })
      val queries = e.where(col("vec_id") % VectorQueries.QueryMod === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          lit(Long.MaxValue / 2).as("qtime"), lit(Long.MaxValue / 2).as("ttl"))
      graft.store.ColdTier.searchCompressed(s, tmp, queries, VectorQueries.K,
        model, PqQueries.Shortlist)
    },

    "knn_coldtier_pq" -> { (s, dir) =>
      // the 32x-compressed cold tier under the hard gate: PQ code
      // companions sealed beside the segments (same dir-cached codebooks
      // as ann_pq, so the oracle replays from the ann_pq aux), searched
      // through ColdTier.searchCompressedPq — IVFADC+R on the sealed
      // tier, ADC scored in the bounded-heap kernel with per-query
      // freshness, global shortlist merge, exact re-rank. With every
      // segment inside the query window this must equal the
      // ann_pq_rerank pipeline bit-for-bit — two independent execution
      // paths (catalog + companions + freshness machinery vs a single
      // flat code table) against one SQL twin; the knn_coldtier_sq
      // recipe at 32x instead of 4x.
      val e = Tables(s, dir, "embeddings")
      val tmp = sealedTier(s, dir)
      val model = PqQueries.pqModelFor(s, dir)
      pqCodesSealed.getOrElseUpdate(dir, {
        (0L until 3L).foreach(sid =>
          graft.store.ColdTier.sealPqCodes(s, tmp, sid, model))
        true
      })
      val queries = e.where(col("vec_id") % VectorQueries.QueryMod === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          lit(Long.MaxValue / 2).as("qtime"), lit(Long.MaxValue / 2).as("ttl"))
      graft.store.ColdTier.searchCompressedPq(s, tmp, queries,
        VectorQueries.K, model, PqQueries.Shortlist)
    },

    "knn_coldtier_sq_filtered" -> { (s, dir) =>
      // FILTERED compressed scan (SQ8): the code companions carry no
      // attributes, so the dequantized-distance shortlist stays
      // filter-oblivious, over-fetched 4x, and the label equality is
      // applied at the exact-rerank hydration — the same composition as
      // the filtered indexed path, on the 4x-compressed IO path. The
      // DuckDB twin replays the identical pipeline (over-fetched code
      // shortlist from the ann_sq8 aux, equality in the rerank join),
      // so the gate is bit-exactness of the whole filtered pipeline.
      val e = Tables(s, dir, "embeddings")
      val tmp = filteredTier(s, dir)
      val model = PqQueries.sqModelFor(s, dir)
      filteredCodesSealed.getOrElseUpdate(dir, {
        (0L until 3L).foreach(sid =>
          graft.store.ColdTier.sealCodes(s, tmp, sid, model))
        true
      })
      val queries = e.where(col("vec_id") % VectorQueries.QueryMod === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          lit(Long.MaxValue / 2).as("qtime"), lit(Long.MaxValue / 2).as("ttl"),
          col("label").as("qfilter"))
      graft.store.ColdTier.searchCompressed(s, tmp, queries,
        VectorQueries.K, model, PqQueries.Shortlist,
        filterColumn = Some("label"), overfetch = 4)
    },

    "knn_coldtier_pq_filtered" -> { (s, dir) =>
      // FILTERED compressed scan at 32x (PQ/IVFADC+R): same
      // composition — filter-oblivious ADC shortlist over-fetched 4x,
      // label equality at the exact re-rank — replayed bit-exactly
      // from the ann_pq aux.
      val e = Tables(s, dir, "embeddings")
      val tmp = filteredTier(s, dir)
      val model = PqQueries.pqModelFor(s, dir)
      filteredPqCodesSealed.getOrElseUpdate(dir, {
        (0L until 3L).foreach(sid =>
          graft.store.ColdTier.sealPqCodes(s, tmp, sid, model))
        true
      })
      val queries = e.where(col("vec_id") % VectorQueries.QueryMod === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          lit(Long.MaxValue / 2).as("qtime"), lit(Long.MaxValue / 2).as("ttl"),
          col("label").as("qfilter"))
      graft.store.ColdTier.searchCompressedPq(s, tmp, queries,
        VectorQueries.K, model, PqQueries.Shortlist,
        filterColumn = Some("label"), overfetch = 4)
    },

    "knn_coldtier_hnsw" -> { (s, dir) =>
      // V9 probe path under the hard gate: per-segment HNSW sidecars
      // (sealed once — the reference's flush-time index build) probed for
      // a deterministic per-query shortlist, then exactly re-ranked. The
      // shortlist is materialized as oracle aux and the DuckDB twin
      // replays the re-rank over it — the established approximate-op
      // recipe (the graph walk itself is not SQL-expressible; its quality
      // is spec-gated by recall in ColdTierSpec).
      val e = Tables(s, dir, "embeddings")
      val tmp = sealedTier(s, dir)
      hnswSealed.getOrElseUpdate(dir, {
        graft.store.ColdTier.sealIndexes(s, tmp, 0L until 3L,
          graft.Metric.L2, m = 16, efConstruction = 128)
        true
      })
      val queries = e.where(col("vec_id") % VectorQueries.QueryMod === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          lit(Long.MaxValue / 2).as("qtime"), lit(Long.MaxValue / 2).as("ttl"))
      OracleAux.write(
        graft.store.ColdTier.probeCandidates(s, tmp, queries,
          shortlist = PqQueries.Shortlist, graft.Metric.L2, efSearch = 100),
        dir, "coldtier_hnsw_shortlist")
      graft.store.ColdTier.rerankExact(s, tmp,
        OracleAux.read(s, dir, "coldtier_hnsw_shortlist"), queries,
        VectorQueries.K, graft.Metric.L2)
    },

    "knn_coldtier_hnsw_sharded" -> { (s, dir) =>
      // the SHARDED sidecar layout under the hard gate: a row bound far
      // under segment size forces hash-of-id shard graphs per segment
      // (the layout compaction produces at scale, where a single-task
      // graph build would dominate the merge), and probeCandidates
      // unions the per-shard shortlists. Same aux + exact-re-rank
      // recipe as knn_coldtier_hnsw — the two entries answer the same
      // queries through the two sidecar layouts, in a separate tier dir
      // so neither reseals the other's generation.
      val e = Tables(s, dir, "embeddings")
      val tmp = shardedDirs.getOrElseUpdate(dir, {
        val t = java.nio.file.Files.createTempDirectory("graft-cold-shard")
          .toString
        (0 until 3).foreach { i =>
          graft.store.ColdTier.seal(
            e.where(col("vec_id") % 3 === i)
              .select(col("vec_id").as("id"), col("embedding").as("vec"),
                col("vec_id").as("eventTime")), t, i.toLong)
        }
        graft.store.ColdTier.sealIndexes(s, t, 0L until 3L,
          graft.Metric.L2, m = 16, efConstruction = 128, maxGraphRows = 64)
        t
      })
      val queries = e.where(col("vec_id") % VectorQueries.QueryMod === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          lit(Long.MaxValue / 2).as("qtime"), lit(Long.MaxValue / 2).as("ttl"))
      OracleAux.write(
        graft.store.ColdTier.probeCandidates(s, tmp, queries,
          shortlist = PqQueries.Shortlist, graft.Metric.L2, efSearch = 100),
        dir, "coldtier_hnsw_shard_shortlist")
      graft.store.ColdTier.rerankExact(s, tmp,
        OracleAux.read(s, dir, "coldtier_hnsw_shard_shortlist"), queries,
        VectorQueries.K, graft.Metric.L2)
    },

    "knn_coldtier_hnsw_filtered" -> { (s, dir) =>
      // IN-WALK filtered sidecar probe under the hard gate: sidecars
      // sealed WITH per-node label hashes (format v2), each walk applies
      // the query's label at candidate acceptance (traversal unfiltered —
      // the ACORN shape; reference filter point hnswlib.h:135-146), and
      // the exact filtered re-rank restores metric truth. The matching
      // candidate set is materialized as oracle aux and the DuckDB twin
      // replays the label-filtered re-rank over it — the established
      // approximate-op recipe (walk quality is spec-gated: recall >= 0.9
      // on a 1% label in ColdTierSpec, with NO shortlist over-fetch).
      val e = Tables(s, dir, "embeddings")
      val tmp = inWalkTier(s, dir)
      val queries = e.where(col("vec_id") % VectorQueries.QueryMod === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          lit(Long.MaxValue / 2).as("qtime"), lit(Long.MaxValue / 2).as("ttl"),
          col("label").as("qfilter"))
      OracleAux.write(
        graft.store.ColdTier.probeCandidates(s, tmp, queries,
          shortlist = PqQueries.Shortlist, graft.Metric.L2, efSearch = 100,
          filterColumn = Some("label"), inWalkFilter = true),
        dir, "coldtier_hnsw_flt_shortlist")
      graft.store.ColdTier.rerankExact(s, tmp,
        OracleAux.read(s, dir, "coldtier_hnsw_flt_shortlist"), queries,
        VectorQueries.K, graft.Metric.L2, filterColumn = Some("label"))
    },

    "knn_coldtier_hnsw_filtered_in" -> { (s, dir) =>
      // IN-LIST in-walk sidecar probe: the label IN set hashes ONCE at
      // plan time (literalAttrHash — the same canonical xxhash64 rule
      // the sealer used), the hash array broadcasts beside the shard
      // index, and every walk admits a candidate whose sealed hash
      // equals ANY of the values (acceptance only; traversal stays
      // unfiltered — the ACORN shape; reference filter point
      // hnswlib.h:135-146). The exact literal-filtered re-rank restores
      // metric truth; the shortlist lands as oracle aux and the DuckDB
      // twin replays the IN-filtered re-rank over it — the established
      // approximate-op recipe.
      val e = Tables(s, dir, "embeddings")
      val tmp = inWalkTier(s, dir)
      val queries = e.where(col("vec_id") % VectorQueries.QueryMod === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          lit(Long.MaxValue / 2).as("qtime"), lit(Long.MaxValue / 2).as("ttl"))
      val filters = Seq(("label", InWalkInLabels: Seq[Any],
        org.apache.spark.sql.types.IntegerType))
      OracleAux.write(
        graft.store.ColdTier.probeCandidates(s, tmp, queries,
          shortlist = PqQueries.Shortlist, graft.Metric.L2, efSearch = 100,
          inWalkLiterals = filters),
        dir, "coldtier_hnsw_flt_in_shortlist")
      graft.store.ColdTier.rerankExact(s, tmp,
        OracleAux.read(s, dir, "coldtier_hnsw_flt_in_shortlist"), queries,
        VectorQueries.K, graft.Metric.L2, literalFilters = filters)
    },

    "knn_coldtier_hnsw_filtered_qin" -> { (s, dir) =>
      // PER-QUERY IN in-walk sidecar probe — the last cell of the
      // filter matrix (literal IN/range and per-query equality walk
      // in-walk already; per-query IN previously rode only the scan
      // kernel's qfin channel): each query carries its OWN 2-label
      // value set ([label, (label+3) % 10] — derivable by the DuckDB
      // twin), the routed tuple carries the sorted canonical hash set,
      // every walk admits candidates matching ANY value at acceptance
      // (traversal unfiltered — the ACORN shape; reference filter point
      // hnswlib.h:135-146), and the exact re-rank applies the true
      // null-rejecting IN. Shortlist aux + DuckDB replay, the
      // established approximate-op recipe.
      val e = Tables(s, dir, "embeddings")
      val tmp = inWalkTier(s, dir)
      val queries = e.where(col("vec_id") % VectorQueries.QueryMod === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          lit(Long.MaxValue / 2).as("qtime"), lit(Long.MaxValue / 2).as("ttl"),
          array(col("label"), pmod(col("label") + 3, lit(10))).as("qfin"))
      OracleAux.write(
        graft.store.ColdTier.probeCandidates(s, tmp, queries,
          shortlist = PqQueries.Shortlist, graft.Metric.L2, efSearch = 100,
          filterColumn = Some("label"), inWalkFilterIn = true),
        dir, "coldtier_hnsw_flt_qin_shortlist")
      graft.store.ColdTier.rerankExact(s, tmp,
        OracleAux.read(s, dir, "coldtier_hnsw_flt_qin_shortlist"), queries,
        VectorQueries.K, graft.Metric.L2, filterColumn = Some("label"),
        filterIn = true)
    },

    "knn_coldtier_hnsw_filtered_range" -> { (s, dir) =>
      // RANGE in-walk sidecar probe (format v3): the band's bounds fold
      // to their conservative CLOSED double hull at plan time, every
      // walk admits a candidate whose sealed canonical value lies inside
      // it (acceptance only — strict edges admitted closed; rounding is
      // monotone, so a truly-matching row can never be rejected), and
      // the exact range-filtered re-rank restores the strict bound. One
      // strict edge (label > lo) is deliberate: the walk admits the
      // boundary label, the re-rank drops it — the admit-only contract
      // under test. Shortlist aux + DuckDB replay as usual.
      val e = Tables(s, dir, "embeddings")
      val tmp = inWalkTier(s, dir)
      val queries = e.where(col("vec_id") % VectorQueries.QueryMod === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          lit(Long.MaxValue / 2).as("qtime"), lit(Long.MaxValue / 2).as("ttl"))
      val ranges = Seq(
        graft.store.ColdTier.RangeBound("label", ">", InWalkRangeLo,
          org.apache.spark.sql.types.IntegerType),
        graft.store.ColdTier.RangeBound("label", "<=", InWalkRangeHi,
          org.apache.spark.sql.types.IntegerType))
      OracleAux.write(
        graft.store.ColdTier.probeCandidates(s, tmp, queries,
          shortlist = PqQueries.Shortlist, graft.Metric.L2, efSearch = 100,
          inWalkRanges = ranges),
        dir, "coldtier_hnsw_flt_range_shortlist")
      graft.store.ColdTier.rerankExact(s, tmp,
        OracleAux.read(s, dir, "coldtier_hnsw_flt_range_shortlist"),
        queries, VectorQueries.K, graft.Metric.L2, literalRanges = ranges)
    },

    "knn_coldtier_reclustered" -> { (s, dir) =>
      // vector-aware recompaction under the hard gate: four TIME-sliced
      // flush segments (the streaming layout) recluster into k-means-cell
      // segments through the atomic swap, and the lossless search over
      // the reclustered tier must STILL equal exact kNN — recluster
      // preserves the row multiset, so the oracle is the same exact-kNN
      // twin as knn_coldtier through the third storage layout
      // (accreted / compacted / reclustered).
      val e = Tables(s, dir, "embeddings")
      val tmp = reclusteredDirs.getOrElseUpdate(dir, {
        val t = java.nio.file.Files
          .createTempDirectory("graft-cold-recl").toString
        val maxId = e.agg(max(col("vec_id"))).first().getLong(0)
        val slice = maxId / 4 + 1
        (0 until 4).foreach { i =>
          graft.store.ColdTier.seal(
            e.where(col("vec_id") >= i * slice &&
                col("vec_id") < (i + 1) * slice)
              .select(col("vec_id").as("id"), col("embedding").as("vec"),
                col("vec_id").as("eventTime")), t, i.toLong)
        }
        graft.store.ColdTier.recluster(s, t, numCells = 3,
          graft.Metric.L2, m = 16, efConstruction = 128)
        t
      })
      val queries = e.where(col("vec_id") % VectorQueries.QueryMod === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          lit(Long.MaxValue / 2).as("qtime"), lit(Long.MaxValue / 2).as("ttl"))
      graft.store.ColdTier.search(s, tmp, queries, VectorQueries.K,
        graft.Metric.L2, firstWaveFraction = 0.5, terminationFactor = 1.0)
    },

    "knn_coldtier_routed" -> { (s, dir) =>
      // segment ROUTING under the hard gate: the tier is sealed along
      // vector-space structure (one segment per k-means cell — the
      // layout a vector-aware compaction produces at scale), each query
      // probes only its probeSegments=2 nearest-centroid segments'
      // sidecars, and the routed shortlist replays through the exact
      // re-rank in DuckDB. Routing choice + graph walk are both inside
      // the aux; the twin proves the re-rank bit-exactly (routing
      // RECALL on separated clusters is spec-gated in ColdTierSpec).
      val e = Tables(s, dir, "embeddings")
      val tmp = routedTier(s, dir)
      val queries = e.where(col("vec_id") % VectorQueries.QueryMod === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          lit(Long.MaxValue / 2).as("qtime"), lit(Long.MaxValue / 2).as("ttl"))
      OracleAux.write(
        graft.store.ColdTier.probeCandidates(s, tmp, queries,
          shortlist = PqQueries.Shortlist, graft.Metric.L2, efSearch = 100,
          probeSegments = 2),
        dir, "coldtier_routed_shortlist")
      graft.store.ColdTier.rerankExact(s, tmp,
        OracleAux.read(s, dir, "coldtier_routed_shortlist"), queries,
        VectorQueries.K, graft.Metric.L2)
    },

    "knn_coldtier_early_term" -> { (s, dir) =>
      // V5's APPROXIMATE mode under the hard gate: the two-wave scan at
      // terminationFactor 0.8 with the learned kth-distance EWMA
      // fallback (the reference's adaptive termination,
      // vector_options.h:79-96 + version_set.cc:2689-2698) over the
      // cell-aligned tier — wave-2 segments whose lower bound exceeds
      // the per-query (or learned) threshold are never scanned. The
      // approximate result's ids land as oracle aux and replay through
      // the exact re-rank (the routed recipe): which segments were
      // skipped is inside the aux; recall ≥0.95 with a real skip
      // fraction is spec-gated (ColdTierSpec), and the 10× skip/recall
      // evidence is a bench line.
      val e = Tables(s, dir, "embeddings")
      val tmp = routedTier(s, dir)
      val queries = e.where(col("vec_id") % VectorQueries.QueryMod === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          lit(Long.MaxValue / 2).as("qtime"), lit(Long.MaxValue / 2).as("ttl"))
      val lossless = graft.store.ColdTier.search(s, tmp, queries,
        VectorQueries.K, graft.Metric.L2, firstWaveFraction = 0.25,
        terminationFactor = 1.0)
      val ewma = graft.store.ColdTier.learnThreshold(lossless,
        VectorQueries.K, None)
      val approx = graft.store.ColdTier.search(s, tmp, queries,
        VectorQueries.K, graft.Metric.L2, firstWaveFraction = 0.25,
        terminationFactor = 0.8, ewmaThreshold = ewma)
      OracleAux.write(approx.select("qid", "id"), dir,
        "coldtier_et_shortlist")
      graft.store.ColdTier.rerankExact(s, tmp,
        OracleAux.read(s, dir, "coldtier_et_shortlist"), queries,
        VectorQueries.K, graft.Metric.L2)
    },

    "knn_coldtier_filtered_early_term" -> { (s, dir) =>
      // the APPROXIMATE mode COMPOSED with the attribute filter: the
      // per-query threshold is the kth best FILTERED distance from
      // wave 1 (sound — a segment's lower bound holds for every row in
      // it, filtered or not, so skipping lb > threshold can never drop
      // a better filtered row; lossless at factor 1.0 is gated by
      // knn_coldtier_filtered), run at factor 0.8 + the learned EWMA
      // fallback over the label-MIXED tier where wave 2 exists. The
      // approximate filtered ids land as aux and replay through the
      // FILTERED exact re-rank — the established approximate-op recipe.
      val e = Tables(s, dir, "embeddings")
      val tmp = filteredTier(s, dir)
      val queries = e.where(col("vec_id") % VectorQueries.QueryMod === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          lit(Long.MaxValue / 2).as("qtime"), lit(Long.MaxValue / 2).as("ttl"),
          col("label").as("qfilter"))
      val lossless = graft.store.ColdTier.search(s, tmp, queries,
        VectorQueries.K, graft.Metric.L2, firstWaveFraction = 0.34,
        terminationFactor = 1.0, filterColumn = Some("label"))
      val ewma = graft.store.ColdTier.learnThreshold(lossless,
        VectorQueries.K, None)
      val approx = graft.store.ColdTier.search(s, tmp, queries,
        VectorQueries.K, graft.Metric.L2, firstWaveFraction = 0.34,
        terminationFactor = 0.8, ewmaThreshold = ewma,
        filterColumn = Some("label"))
      OracleAux.write(approx.select("qid", "id"), dir,
        "coldtier_filtered_et_shortlist")
      graft.store.ColdTier.rerankExact(s, tmp,
        OracleAux.read(s, dir, "coldtier_filtered_et_shortlist"), queries,
        VectorQueries.K, graft.Metric.L2, filterColumn = Some("label"))
    },

    "knn_coldtier_graph_routed" -> { (s, dir) =>
      // IVF_HNSW-style coarse quantization: ROUTING itself goes through
      // a graph walk over the segment centroids (CentroidRouter) instead
      // of the linear nearest-centroid sort — O(ef·log S) per query, the
      // routing shape a 100-TB tier (~10^5 segments at ~1 GB cells)
      // needs; the linear sort is the very loop that stops scaling
      // there. Same aux-replay recipe as knn_coldtier_routed: the routed
      // shortlist replays through the exact re-rank in DuckDB; router ==
      // linear equivalence on separated cells and the narrow-window
      // fallback are spec-gated in ColdTierSpec.
      val e = Tables(s, dir, "embeddings")
      val tmp = routedTier(s, dir)
      val queries = e.where(col("vec_id") % VectorQueries.QueryMod === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          lit(Long.MaxValue / 2).as("qtime"), lit(Long.MaxValue / 2).as("ttl"))
      OracleAux.write(
        graft.store.ColdTier.probeCandidates(s, tmp, queries,
          shortlist = PqQueries.Shortlist, graft.Metric.L2, efSearch = 100,
          probeSegments = 2, routeEf = 64),
        dir, "coldtier_graph_routed_shortlist")
      graft.store.ColdTier.rerankExact(s, tmp,
        OracleAux.read(s, dir, "coldtier_graph_routed_shortlist"), queries,
        VectorQueries.K, graft.Metric.L2)
    },

    "knn_sql_rewrite" -> { (s, dir) =>
      // SURVEY §4.3 stretch as an ORACLE-GATED surface: the SQL a user
      // writes — `SELECT vec_id, l2_distance(embedding, <literal>) AS
      // dist FROM corpus ORDER BY dist LIMIT n` — over the REGISTERED
      // embeddings corpus is matched (KnnScanRule) into a KnnScan served by
      // the cell-routed graph probe with ZERO file scans at query time.
      // The entry THROWS if the plan still scans the corpus, so a
      // rewrite regression turns the driver's gate red instead of
      // silently falling back to the exact scan. The probe's id choices
      // land as oracle aux and replay through the exact re-rank — the
      // knn_coldtier_routed recipe; graph recall + the no-rewrite
      // negative cases are spec-gated in KnnRewriteSpec.
      val tmp = routedTier(s, dir)
      graft.GraftFunctions.register(s)
      graft.plans.KnnIndex.install(s)
      val corpus = s"$dir/embeddings.parquet"
      val e = Tables(s, dir, "embeddings")
      val qv = e.where(col("vec_id") === 0L)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      try {
        graft.plans.KnnIndex.register(corpus, tmp, idCol = "vec_id",
          vecCol = "embedding", metric = graft.Metric.L2, efSearch = 100,
          probeSegments = 2, shortlist = SqlRewriteK)
        val arr = qv.map(f => s"CAST($f AS FLOAT)")
          .mkString("array(", ",", ")")
        e.createOrReplaceTempView("graft_knn_corpus")
        val df = s.sql(
          s"""SELECT vec_id, l2_distance(embedding, $arr) AS dist
             |FROM graft_knn_corpus ORDER BY dist LIMIT $SqlRewriteK"""
            .stripMargin)
        val scans = df.queryExecution.optimizedPlan.collect {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
        }
        require(scans.isEmpty, "knn_sql_rewrite: the ORDER BY plan still " +
          "scans files — the index rewrite did not fire")
        OracleAux.write(
          df.select(lit(0L).as("qid"), col("vec_id").as("id")),
          dir, "sql_rewrite_ids")
      } finally graft.plans.KnnIndex.unregister(corpus)
      val queries = e.where(col("vec_id") === 0L)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          lit(RewriteQtime).as("qtime"), lit(RewriteTtl).as("ttl"))
      graft.store.ColdTier.rerankExact(s, tmp,
        OracleAux.read(s, dir, "sql_rewrite_ids"), queries,
        SqlRewriteK, graft.Metric.L2)
    },

    "knn_sql_rewrite_rank" -> { (s, dir) =>
      // the OTHER production top-k idiom: `row_number() OVER (ORDER BY
      // dist) <= n` instead of `ORDER BY dist LIMIT n`.
      // LimitPushDownThroughWindow reduces it to the matched Limit/Sort
      // shape with a duplicate `_w0` distance alias, which the rewrite
      // tolerates (KnnRewrite scaladoc); the Window/Filter wrapper
      // recomputes row_number over the k probe rows. The entry THROWS if
      // any file scan survives, and the served ids replay through the
      // exact re-rank — the knn_sql_rewrite recipe. rank()/dense_rank()
      // never reduce to this shape (tie semantics), spec-gated negative.
      val tmp = routedTier(s, dir)
      graft.GraftFunctions.register(s)
      graft.plans.KnnIndex.install(s)
      val corpus = s"$dir/embeddings.parquet"
      val e = Tables(s, dir, "embeddings")
      val qv = e.where(col("vec_id") === 0L)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      try {
        graft.plans.KnnIndex.register(corpus, tmp, idCol = "vec_id",
          vecCol = "embedding", metric = graft.Metric.L2, efSearch = 100,
          probeSegments = 2, shortlist = SqlRewriteK)
        val arr = qv.map(f => s"CAST($f AS FLOAT)")
          .mkString("array(", ",", ")")
        e.createOrReplaceTempView("graft_knn_corpus_rank")
        val df = s.sql(
          s"""SELECT vec_id, dist FROM (
             |  SELECT vec_id, l2_distance(embedding, $arr) AS dist,
             |    row_number() OVER (ORDER BY l2_distance(embedding, $arr))
             |      AS rn
             |  FROM graft_knn_corpus_rank) WHERE rn <= $SqlRewriteK"""
            .stripMargin)
        val scans = df.queryExecution.optimizedPlan.collect {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
        }
        require(scans.isEmpty, "knn_sql_rewrite_rank: the window-rank " +
          "plan still scans files — the index rewrite did not fire")
        OracleAux.write(
          df.select(lit(0L).as("qid"), col("vec_id").as("id")),
          dir, "sql_rewrite_rank_ids")
      } finally graft.plans.KnnIndex.unregister(corpus)
      val queries = e.where(col("vec_id") === 0L)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          lit(RewriteQtime).as("qtime"), lit(RewriteTtl).as("ttl"))
      graft.store.ColdTier.rerankExact(s, tmp,
        OracleAux.read(s, dir, "sql_rewrite_rank_ids"), queries,
        SqlRewriteK, graft.Metric.L2)
    },

    "knn_sql_rewrite_filtered" -> { (s, dir) =>
      // the FILTERED SQL-rewrite surface (the most common production kNN
      // shape: `WHERE label = x ORDER BY dist LIMIT k`): the optimizer
      // routes the matched equality into the index probe — graph
      // shortlist over-fetched 4x, then ONLY the shortlist hydrated
      // against the tier (the label rides the candidate-bounded re-rank
      // join) — so the corpus is never scanned. The entry THROWS if a
      // corpus scan survives; tier hydration scans are expected (this
      // surface is candidate-bounded IO, not zero-IO like the bare
      // rewrite). Chosen ids land as oracle aux and replay through the
      // filtered exact re-rank — the knn_sql_rewrite recipe.
      val tmp = routedFilteredTier(s, dir)
      graft.GraftFunctions.register(s)
      graft.plans.KnnIndex.install(s)
      val corpus = s"$dir/embeddings.parquet"
      val e = Tables(s, dir, "embeddings")
      val r0 = e.where(col("vec_id") === 0L)
        .select(col("embedding"), col("label")).head()
      val qv = r0.getSeq[Float](0).toArray
      val lbl = r0.getInt(1)
      try {
        graft.plans.KnnIndex.register(corpus, tmp, idCol = "vec_id",
          vecCol = "embedding", metric = graft.Metric.L2, efSearch = 100,
          probeSegments = 2, shortlist = SqlRewriteK,
          filterColumns = Set("label"), filterOverfetch = 4)
        val arr = qv.map(f => s"CAST($f AS FLOAT)")
          .mkString("array(", ",", ")")
        e.createOrReplaceTempView("graft_knn_corpus_flt")
        val df = s.sql(
          s"""SELECT vec_id, l2_distance(embedding, $arr) AS dist
             |FROM graft_knn_corpus_flt WHERE label = $lbl
             |ORDER BY dist LIMIT $SqlRewriteFilteredK""".stripMargin)
        val corpusScans = corpusScansOf(df)
        require(corpusScans.isEmpty, "knn_sql_rewrite_filtered: the " +
          "filtered ORDER BY plan still scans the corpus — the index " +
          "rewrite did not fire")
        OracleAux.write(
          df.select(lit(0L).as("qid"), col("vec_id").as("id")),
          dir, "sql_rewrite_filtered_ids")
      } finally graft.plans.KnnIndex.unregister(corpus)
      val queries = e.where(col("vec_id") === 0L)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          lit(RewriteQtime).as("qtime"), lit(RewriteTtl).as("ttl"),
          col("label").as("qfilter"))
      graft.store.ColdTier.rerankExact(s, tmp,
        OracleAux.read(s, dir, "sql_rewrite_filtered_ids"), queries,
        SqlRewriteFilteredK, graft.Metric.L2, filterColumn = Some("label"))
    },

    "knn_sql_rewrite_aligned_exact" -> { (s, dir) =>
      // r15 (r14 verdict #3) as a THROWING gate: on an attr-ALIGNED
      // registered tier — one segment per label, HNSW sidecars sealed
      // WITH the label payload, attr-stats committed — the filtered SQL
      // idiom (`WHERE label = x ORDER BY dist LIMIT k`) must be served
      // by the EXACT admission-collapsed scan kernel (recall 1.0 by
      // construction, the r14 lossless endpoint: 1.0 at 192.7 q/s vs
      // ~32 q/s for the graph probe at 0.9468 on the 10x tier), NOT the
      // graph probe the committed sidecars would otherwise serve. The
      // entry THROWS if (a) the corpus is still scanned (rewrite did
      // not fire) or (b) the graph probe served the statement (the
      // KnnServeExec engine metric is not "exact"). Because the serving
      // kernel is exact, the DuckDB twin is the FULL independent
      // filtered kNN — no aux replay, the strongest oracle shape here.
      val tmp = alignedIndexedTier(s, dir)
      graft.GraftFunctions.register(s)
      graft.plans.KnnIndex.install(s)
      val corpus = s"$dir/embeddings.parquet"
      val e = Tables(s, dir, "embeddings")
      val r0 = e.where(col("vec_id") === 0L)
        .select(col("embedding"), col("label")).head()
      val qv = r0.getSeq[Float](0).toArray
      val lbl = r0.getInt(1)
      val df = try {
        graft.plans.KnnIndex.register(corpus, tmp, idCol = "vec_id",
          vecCol = "embedding", metric = graft.Metric.L2, efSearch = 100,
          probeSegments = 2, shortlist = SqlRewriteAlignedK,
          filterColumns = Set("label"), filterOverfetch = 4)
        val arr = qv.map(f => s"CAST($f AS FLOAT)")
          .mkString("array(", ",", ")")
        e.createOrReplaceTempView("graft_knn_corpus_alx")
        val df0 = s.sql(
          s"""SELECT vec_id, l2_distance(embedding, $arr) AS dist
             |FROM graft_knn_corpus_alx WHERE label = $lbl
             |ORDER BY dist LIMIT $SqlRewriteAlignedK""".stripMargin)
        val corpusScans = corpusScansOf(df0)
        require(corpusScans.isEmpty, "knn_sql_rewrite_aligned_exact: " +
          "the filtered ORDER BY plan still scans the corpus — the " +
          "index rewrite did not fire")
        // the operator picks the engine when the statement runs and
        // reports it in its metrics (the LIMIT over the k-row statement
        // plans away)
        val ran = df0.limit(SqlRewriteAlignedK)
        ran.collect()
        require(servedBy(ran).contains("exact"),
          "knn_sql_rewrite_aligned_exact: the GRAPH PROBE served an " +
            "attr-aligned tier — the exact-kernel serving decision " +
            "did not fire (admission should collapse the label literal " +
            "to its one segment)")
        df0
      } finally graft.plans.KnnIndex.unregister(corpus)
      // the served plan IS exact — expose it as (qid, rn, id, dist)
      // directly; the twin recomputes the same filtered kNN from scratch
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("dist"), col("id"))
      df.select(lit(0L).as("qid"), col("vec_id").as("id"), col("dist"))
        .withColumn("rn", row_number().over(w))
        .select(col("qid"), col("rn"), col("id"), col("dist"))
    },

    "knn_sql_rewrite_aligned_exact_in" -> { (s, dir) =>
      // r16 (r15 verdict #3): exact-kernel serving ELIGIBILITY covers
      // every literal shape, but until this entry only the
      // single-equality collapse was oracle-gated. The IN-list idiom
      // (`WHERE label IN (0, 1) ORDER BY dist LIMIT k`) on the
      // attr-ALIGNED tier: per-value admission collapses each IN value
      // to its one single-label segment (2 admitted segments <= the
      // exact kernel's 4-segment bound, strictly fewer than the 10-segment
      // catalog), so the EXACT kernel must serve. THROWS if (a) the
      // corpus is still scanned (rewrite did not fire) or (b) the graph
      // probe served (the KnnServeExec engine metric is not "exact"). Because
      // the serving kernel is exact, the DuckDB twin is the FULL
      // independent IN-filtered kNN — no aux replay.
      val tmp = alignedIndexedTier(s, dir)
      graft.GraftFunctions.register(s)
      graft.plans.KnnIndex.install(s)
      val corpus = s"$dir/embeddings.parquet"
      val e = Tables(s, dir, "embeddings")
      val qv = e.where(col("vec_id") === 0L)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val df = try {
        graft.plans.KnnIndex.register(corpus, tmp, idCol = "vec_id",
          vecCol = "embedding", metric = graft.Metric.L2, efSearch = 100,
          probeSegments = 2, shortlist = SqlRewriteAlignedInK,
          filterColumns = Set("label"), filterOverfetch = 4)
        val arr = qv.map(f => s"CAST($f AS FLOAT)")
          .mkString("array(", ",", ")")
        e.createOrReplaceTempView("graft_knn_corpus_alin")
        val df0 = s.sql(
          s"""SELECT vec_id, l2_distance(embedding, $arr) AS dist
             |FROM graft_knn_corpus_alin
             |WHERE label IN (${SqlRewriteInLabels.mkString(", ")})
             |ORDER BY dist LIMIT $SqlRewriteAlignedInK""".stripMargin)
        val corpusScans = corpusScansOf(df0)
        require(corpusScans.isEmpty,
          "knn_sql_rewrite_aligned_exact_in: the IN-list ORDER BY " +
            "plan still scans the corpus — the index rewrite did not " +
            "fire")
        val ran = df0.limit(SqlRewriteAlignedInK)
        ran.collect()
        require(servedBy(ran).contains("exact"),
          "knn_sql_rewrite_aligned_exact_in: the GRAPH PROBE served " +
            "an attr-aligned tier for a collapsing IN literal — the " +
            "exact-kernel serving decision did not fire")
        df0
      } finally graft.plans.KnnIndex.unregister(corpus)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("dist"), col("id"))
      df.select(lit(0L).as("qid"), col("vec_id").as("id"), col("dist"))
        .withColumn("rn", row_number().over(w))
        .select(col("qid"), col("rn"), col("id"), col("dist"))
    },

    "knn_sql_rewrite_in" -> { (s, dir) =>
      // the IN-LIST SQL-rewrite surface (`WHERE label IN (0, 1) ORDER BY
      // dist LIMIT k` — the next most common production shape after
      // single equality): the optimizer decomposes the IN into a
      // multi-value filter spec, the probe admits segments whose
      // attr-stats [min,max] covers ANY of the values, and the graph
      // shortlist (over-fetched 4x) hydrates candidate-bounded under
      // the full IN predicate — the corpus is never scanned (the entry
      // THROWS if a corpus scan survives). Chosen ids land as oracle
      // aux and replay through the literal-filtered exact re-rank; the
      // twin applies the same static IN list (the WHERE guards against
      // aux drift).
      val tmp = routedFilteredTier(s, dir)
      graft.GraftFunctions.register(s)
      graft.plans.KnnIndex.install(s)
      val corpus = s"$dir/embeddings.parquet"
      val e = Tables(s, dir, "embeddings")
      val qv = e.where(col("vec_id") === 0L)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      try {
        graft.plans.KnnIndex.register(corpus, tmp, idCol = "vec_id",
          vecCol = "embedding", metric = graft.Metric.L2, efSearch = 100,
          probeSegments = 2, shortlist = SqlRewriteK,
          filterColumns = Set("label"), filterOverfetch = 4)
        val arr = qv.map(f => s"CAST($f AS FLOAT)")
          .mkString("array(", ",", ")")
        e.createOrReplaceTempView("graft_knn_corpus_in")
        val df = s.sql(
          s"""SELECT vec_id, l2_distance(embedding, $arr) AS dist
             |FROM graft_knn_corpus_in
             |WHERE label IN (${SqlRewriteInLabels.mkString(", ")})
             |ORDER BY dist LIMIT $SqlRewriteInK""".stripMargin)
        val corpusScans = corpusScansOf(df)
        require(corpusScans.isEmpty, "knn_sql_rewrite_in: the IN-list " +
          "ORDER BY plan still scans the corpus — the index rewrite " +
          "did not fire")
        OracleAux.write(
          df.select(lit(0L).as("qid"), col("vec_id").as("id")),
          dir, "sql_rewrite_in_ids")
      } finally graft.plans.KnnIndex.unregister(corpus)
      val queries = e.where(col("vec_id") === 0L)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          lit(RewriteQtime).as("qtime"), lit(RewriteTtl).as("ttl"))
      graft.store.ColdTier.rerankExact(s, tmp,
        OracleAux.read(s, dir, "sql_rewrite_in_ids"), queries,
        SqlRewriteInK, graft.Metric.L2,
        literalFilters = Seq(("label", SqlRewriteInLabels,
          org.apache.spark.sql.types.IntegerType)))
    },

    "knn_sql_rewrite_inwalk" -> { (s, dir) =>
      // the IN-list rewrite served IN-WALK: the registration declares
      // the tier's sidecars carry label hashes (inWalk = true — sealed
      // by inWalkTier), so the matched `WHERE label IN (...) ORDER BY
      // dist LIMIT k` probe filters at candidate ACCEPTANCE inside each
      // graph walk with a PLAIN shortlist — no 1/selectivity over-fetch
      // — while hydration still applies the exact IN predicate. Same
      // no-corpus-scan gate (the entry THROWS if a scan survives), same
      // bit-exact aux replay as knn_sql_rewrite_in; only the serving
      // mechanism differs.
      val tmp = inWalkTier(s, dir)
      graft.GraftFunctions.register(s)
      graft.plans.KnnIndex.install(s)
      val corpus = s"$dir/embeddings.parquet"
      val e = Tables(s, dir, "embeddings")
      val qv = e.where(col("vec_id") === 0L)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      try {
        graft.plans.KnnIndex.register(corpus, tmp, idCol = "vec_id",
          vecCol = "embedding", metric = graft.Metric.L2, efSearch = 100,
          shortlist = SqlRewriteK, filterColumns = Set("label"),
          inWalk = true)
        val arr = qv.map(f => s"CAST($f AS FLOAT)")
          .mkString("array(", ",", ")")
        e.createOrReplaceTempView("graft_knn_corpus_inwalk")
        val df = s.sql(
          s"""SELECT vec_id, l2_distance(embedding, $arr) AS dist
             |FROM graft_knn_corpus_inwalk
             |WHERE label IN (${SqlRewriteInLabels.mkString(", ")})
             |ORDER BY dist LIMIT $SqlRewriteInK""".stripMargin)
        val corpusScans = corpusScansOf(df)
        require(corpusScans.isEmpty, "knn_sql_rewrite_inwalk: the " +
          "in-walk IN-list ORDER BY plan still scans the corpus — the " +
          "index rewrite did not fire")
        OracleAux.write(
          df.select(lit(0L).as("qid"), col("vec_id").as("id")),
          dir, "sql_rewrite_inwalk_ids")
      } finally graft.plans.KnnIndex.unregister(corpus)
      val queries = e.where(col("vec_id") === 0L)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          lit(RewriteQtime).as("qtime"), lit(RewriteTtl).as("ttl"))
      graft.store.ColdTier.rerankExact(s, tmp,
        OracleAux.read(s, dir, "sql_rewrite_inwalk_ids"), queries,
        SqlRewriteInK, graft.Metric.L2,
        literalFilters = Seq(("label", SqlRewriteInLabels,
          org.apache.spark.sql.types.IntegerType)))
    },

    "knn_sql_rewrite_range" -> { (s, dir) =>
      // the RANGE SQL-rewrite surface (`WHERE label >= 2 AND label < 6
      // ORDER BY dist LIMIT k` — the price-band / score-band shape,
      // with one strict bound so exclusive-edge hydration is
      // exercised): the optimizer decomposes the band into range
      // specs, segment admission is the conservative closed hull over
      // the attr-stats sidecar (no sidecar here — never prunes, still
      // correct), and the over-fetched graph shortlist hydrates
      // candidate-bounded under the EXACT band predicate — the corpus
      // is never scanned (the entry THROWS if a corpus scan survives).
      // Chosen ids land as oracle aux and replay through the
      // range-filtered exact re-rank; the twin applies the same static
      // band (the WHERE guards against aux drift).
      val tmp = routedFilteredTier(s, dir)
      graft.GraftFunctions.register(s)
      graft.plans.KnnIndex.install(s)
      val corpus = s"$dir/embeddings.parquet"
      val e = Tables(s, dir, "embeddings")
      val qv = e.where(col("vec_id") === 0L)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      try {
        graft.plans.KnnIndex.register(corpus, tmp, idCol = "vec_id",
          vecCol = "embedding", metric = graft.Metric.L2, efSearch = 100,
          probeSegments = 2, shortlist = SqlRewriteK,
          filterColumns = Set("label"), filterOverfetch = 4)
        val arr = qv.map(f => s"CAST($f AS FLOAT)")
          .mkString("array(", ",", ")")
        e.createOrReplaceTempView("graft_knn_corpus_range")
        val df = s.sql(
          s"""SELECT vec_id, l2_distance(embedding, $arr) AS dist
             |FROM graft_knn_corpus_range
             |WHERE label >= $SqlRewriteRangeLo AND label < $SqlRewriteRangeHi
             |ORDER BY dist LIMIT $SqlRewriteRangeK""".stripMargin)
        val corpusScans = corpusScansOf(df)
        require(corpusScans.isEmpty, "knn_sql_rewrite_range: the range " +
          "ORDER BY plan still scans the corpus — the index rewrite " +
          "did not fire")
        OracleAux.write(
          df.select(lit(0L).as("qid"), col("vec_id").as("id")),
          dir, "sql_rewrite_range_ids")
      } finally graft.plans.KnnIndex.unregister(corpus)
      val queries = e.where(col("vec_id") === 0L)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          lit(RewriteQtime).as("qtime"), lit(RewriteTtl).as("ttl"))
      graft.store.ColdTier.rerankExact(s, tmp,
        OracleAux.read(s, dir, "sql_rewrite_range_ids"), queries,
        SqlRewriteRangeK, graft.Metric.L2,
        literalRanges = Seq(
          graft.store.ColdTier.RangeBound("label", ">=", SqlRewriteRangeLo,
            org.apache.spark.sql.types.IntegerType),
          graft.store.ColdTier.RangeBound("label", "<", SqlRewriteRangeHi,
            org.apache.spark.sql.types.IntegerType)))
    },

    "knn_sql_rewrite_snapshot" -> { (s, dir) =>
      // the VERSION AS OF SQL surface: the registration pins a
      // ColdTier.snapshot taken BEFORE a decoy segment was sealed right
      // at the query point. The rewritten ORDER BY must serve the
      // pinned catalog: the entry THROWS if the rewrite left a file
      // scan OR if any post-snapshot decoy id survives (the pin
      // failed); the chosen ids land as aux and replay through the
      // snapshot-pinned exact re-rank — the DuckDB twin re-ranks them
      // against the immutable corpus table, the knn_sql_rewrite recipe.
      val (tmp, ver) = sqlSnapshotTier(s, dir)
      graft.GraftFunctions.register(s)
      graft.plans.KnnIndex.install(s)
      val corpus = s"$dir/embeddings.parquet"
      val e = Tables(s, dir, "embeddings")
      val qv = e.where(col("vec_id") === 0L)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      try {
        graft.plans.KnnIndex.register(corpus, tmp, idCol = "vec_id",
          vecCol = "embedding", metric = graft.Metric.L2, efSearch = 100,
          probeSegments = Int.MaxValue, shortlist = SqlRewriteK,
          snapshot = Some(ver))
        val arr = qv.map(f => s"CAST($f AS FLOAT)")
          .mkString("array(", ",", ")")
        e.createOrReplaceTempView("graft_knn_corpus_snap")
        val df = s.sql(
          s"""SELECT vec_id, l2_distance(embedding, $arr) AS dist
             |FROM graft_knn_corpus_snap ORDER BY dist LIMIT $SqlRewriteK"""
            .stripMargin)
        val scans = df.queryExecution.optimizedPlan.collect {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
        }
        require(scans.isEmpty, "knn_sql_rewrite_snapshot: the pinned " +
          "ORDER BY plan still scans files — the index rewrite did not fire")
        require(df.where(col("vec_id") >= SqlSnapshotDecoyBase).isEmpty,
          "knn_sql_rewrite_snapshot: a post-snapshot decoy id leaked " +
            "into the pinned probe — VERSION pinning failed")
        OracleAux.write(
          df.select(lit(0L).as("qid"), col("vec_id").as("id")),
          dir, "sql_rewrite_snapshot_ids")
      } finally graft.plans.KnnIndex.unregister(corpus)
      val queries = e.where(col("vec_id") === 0L)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          lit(RewriteQtime).as("qtime"), lit(RewriteTtl).as("ttl"))
      graft.store.ColdTier.rerankExact(s, tmp,
        OracleAux.read(s, dir, "sql_rewrite_snapshot_ids"), queries,
        SqlRewriteK, graft.Metric.L2, snapshot = Some(ver))
    },

    "knn_sql_rewrite_snapshot_filtered" -> { (s, dir) =>
      // the pin COMPOSED with the filtered rewrite (`VERSION AS OF` +
      // `WHERE label = x ORDER BY dist LIMIT k`): the registration
      // carries BOTH snapshot and filterColumns, so the rewrite routes
      // through the literal-filtered probe with admission, hydration
      // and tombstones all pinned. The decoy segment sealed AFTER the
      // pin sits at the query point with the MATCHING label — every
      // filter surface admits it, so only the pin can exclude it. The
      // entry THROWS if a corpus scan survives (hydration reads tier
      // files — this surface is candidate-bounded IO, not zero-IO) or
      // if any decoy id leaks; ids replay through the pinned filtered
      // exact re-rank — the knn_sql_rewrite recipe.
      val (tmp, ver, lbl) = sqlSnapshotFilteredTier(s, dir)
      graft.GraftFunctions.register(s)
      graft.plans.KnnIndex.install(s)
      val corpus = s"$dir/embeddings.parquet"
      val e = Tables(s, dir, "embeddings")
      val qv = e.where(col("vec_id") === 0L)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      try {
        graft.plans.KnnIndex.register(corpus, tmp, idCol = "vec_id",
          vecCol = "embedding", metric = graft.Metric.L2, efSearch = 100,
          probeSegments = Int.MaxValue, shortlist = SqlRewriteK,
          filterColumns = Set("label"), filterOverfetch = 4,
          snapshot = Some(ver))
        val arr = qv.map(f => s"CAST($f AS FLOAT)")
          .mkString("array(", ",", ")")
        e.createOrReplaceTempView("graft_knn_corpus_snapflt")
        val df = s.sql(
          s"""SELECT vec_id, l2_distance(embedding, $arr) AS dist
             |FROM graft_knn_corpus_snapflt WHERE label = $lbl
             |ORDER BY dist LIMIT $SqlRewriteFilteredK""".stripMargin)
        val corpusScans = corpusScansOf(df)
        require(corpusScans.isEmpty, "knn_sql_rewrite_snapshot_filtered: " +
          "the pinned filtered ORDER BY plan still scans the corpus — " +
          "the index rewrite did not fire")
        require(df.where(col("vec_id") >= SqlSnapshotDecoyBase).isEmpty,
          "knn_sql_rewrite_snapshot_filtered: a post-snapshot decoy with " +
            "a MATCHING label leaked into the pinned filtered probe — " +
            "the pin does not compose with the filter")
        OracleAux.write(
          df.select(lit(0L).as("qid"), col("vec_id").as("id")),
          dir, "sql_rewrite_snapflt_ids")
      } finally graft.plans.KnnIndex.unregister(corpus)
      val queries = e.where(col("vec_id") === 0L)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          lit(RewriteQtime).as("qtime"), lit(RewriteTtl).as("ttl"),
          col("label").as("qfilter"))
      graft.store.ColdTier.rerankExact(s, tmp,
        OracleAux.read(s, dir, "sql_rewrite_snapflt_ids"), queries,
        SqlRewriteFilteredK, graft.Metric.L2, filterColumn = Some("label"),
        snapshot = Some(ver))
    },

    "knn_tiered" -> { (s, dir) =>
      // ONE query answered across BOTH tiers — the reference's
      // hierarchical search (db/version_set.cc:2563-2655 probes the
      // memtable and every fresh SST for a single query and merges):
      // the newest quarter of the corpus (by eventTime) is the hot tier,
      // probed through per-partition in-memory HNSW memtables
      // (Ann.search — the streaming hot path's topology); the older
      // three quarters are sealed cold segments probed through their
      // HNSW sidecars with the query window clipped to the cold ts
      // range. Both shortlists land as oracle aux; ONE unified exact
      // re-rank over the union answers the query, so the DuckDB twin
      // replays the whole cross-tier merge bit-exactly. (The repo's
      // streaming design serves disjoint windows per tier by default —
      // this entry is the single-query cross-tier composition.)
      val e = Tables(s, dir, "embeddings")
      val (tmp, cut) = tieredDirs.getOrElseUpdate(dir, {
        val t = java.nio.file.Files.createTempDirectory("graft-cold-tier2")
          .toString
        val maxId = e.agg(max(col("vec_id"))).first().getLong(0)
        val c = maxId / 4 * 3
        (0 until 2).foreach { i =>
          graft.store.ColdTier.seal(
            e.where(col("vec_id") < c && col("vec_id") % 2 === i)
              .select(col("vec_id").as("id"), col("embedding").as("vec"),
                col("vec_id").as("eventTime")), t, i.toLong)
        }
        graft.store.ColdTier.sealIndexes(s, t, 0L until 2L,
          graft.Metric.L2, m = 16, efConstruction = 128)
        // hot rows live as an unindexed third segment so the unified
        // re-rank reads every tier's bytes from one catalog; the cold
        // probe's clipped window keeps it out of the sidecar path
        graft.store.ColdTier.seal(
          e.where(col("vec_id") >= c)
            .select(col("vec_id").as("id"), col("embedding").as("vec"),
              col("vec_id").as("eventTime")), t, 2L)
        (t, c)
      })
      val queries = e.where(col("vec_id") % VectorQueries.QueryMod === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          lit(Long.MaxValue / 2).as("qtime"), lit(Long.MaxValue / 2).as("ttl"))
      val coldQ = queries
        .withColumn("qtime", lit(cut - 1)).withColumn("ttl", lit(cut - 1))
      OracleAux.write(
        graft.store.ColdTier.probeCandidates(s, tmp, coldQ,
          shortlist = PqQueries.Shortlist, graft.Metric.L2, efSearch = 100),
        dir, "tiered_cold_shortlist")
      val hot = e.where(col("vec_id") >= cut)
        .select(col("vec_id").as("id"), col("embedding").as("vec"),
          col("vec_id").as("eventTime"))
      OracleAux.write(
        graft.ops.Ann.search(hot, queries,
            graft.partitioners.SimplePartitioner(4), PqQueries.Shortlist,
            graft.Metric.L2, useHnsw = true, efSearch = 100)
          .select(col("qid"), col("id")),
        dir, "tiered_hot_shortlist")
      graft.store.ColdTier.rerankExact(s, tmp,
        OracleAux.read(s, dir, "tiered_cold_shortlist")
          .unionByName(OracleAux.read(s, dir, "tiered_hot_shortlist")),
        queries, VectorQueries.K, graft.Metric.L2)
    },

    "knn_tiered_filtered" -> { (s, dir) =>
      // the FILTERED cross-tier composition — the hierarchical search of
      // knn_tiered under a per-query label equality, the batch twin of
      // the streaming filtered surface (VectorStreamJob's attr channel):
      // the cold tier is probed through filter-oblivious sidecars with
      // an 8x over-fetched shortlist (the filtered-ANN over-fetch
      // contract), the hot quarter answers through the EXACT filtered
      // scan kernel (window clipped to [cut, inf) keeps cold segments
      // out by freshness pruning — the same disjoint-window split the
      // streaming job serves), both shortlists land as aux, and ONE
      // label-filtered exact re-rank over the union answers the query —
      // so the DuckDB twin replays the whole filtered cross-tier merge
      // bit-exactly.
      val e = Tables(s, dir, "embeddings")
      val (tmp, cut) = tieredFilteredTier(s, dir, e)
      val queries = e.where(col("vec_id") % VectorQueries.QueryMod === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          lit(Long.MaxValue / 2).as("qtime"), lit(Long.MaxValue / 2).as("ttl"),
          col("label").as("qfilter"))
      val coldQ = queries
        .withColumn("qtime", lit(cut - 1)).withColumn("ttl", lit(cut - 1))
      OracleAux.write(
        graft.store.ColdTier.probeCandidates(s, tmp, coldQ,
          shortlist = PqQueries.Shortlist * 8, graft.Metric.L2,
          efSearch = 100, filterColumn = Some("label")),
        dir, "tiered_flt_cold_shortlist")
      // hot half: the exact filtered kernel over the hot segment only
      val hotQ = queries
        .withColumn("ttl", lit(Long.MaxValue / 2 - cut))
      OracleAux.write(
        graft.store.ColdTier.search(s, tmp, hotQ, PqQueries.Shortlist,
            graft.Metric.L2, firstWaveFraction = 1.0,
            terminationFactor = 1.0, filterColumn = Some("label"))
          .select(col("qid"), col("id")),
        dir, "tiered_flt_hot_shortlist")
      graft.store.ColdTier.rerankExact(s, tmp,
        OracleAux.read(s, dir, "tiered_flt_cold_shortlist")
          .unionByName(OracleAux.read(s, dir, "tiered_flt_hot_shortlist")),
        queries, VectorQueries.K, graft.Metric.L2,
        filterColumn = Some("label"))
    },

    "knn_tiered_inwalk" -> { (s, dir) =>
      // the IN-WALK cross-tier composition: the same hierarchical split
      // as knn_tiered_filtered, but the cold sidecars carry label
      // hashes and the cold probe filters at candidate ACCEPTANCE with
      // a PLAIN shortlist — no 8x over-fetch; the acceptance filter
      // replaces it — while the hot quarter still answers through the
      // exact filtered scan kernel (disjoint freshness windows keep the
      // tiers from double-serving, as in every tiered entry). Both
      // shortlists land as aux and ONE label-filtered exact re-rank
      // over the union answers the query, so the DuckDB twin replays
      // the whole merge bit-exactly — composition correctness stays
      // independent of walk quality (that is ColdTierSpec's job).
      val e = Tables(s, dir, "embeddings")
      val (tmp, cut) = tieredInWalkTier(s, dir, e)
      val queries = e.where(col("vec_id") % VectorQueries.QueryMod === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          lit(Long.MaxValue / 2).as("qtime"), lit(Long.MaxValue / 2).as("ttl"),
          col("label").as("qfilter"))
      val coldQ = queries
        .withColumn("qtime", lit(cut - 1)).withColumn("ttl", lit(cut - 1))
      OracleAux.write(
        graft.store.ColdTier.probeCandidates(s, tmp, coldQ,
          shortlist = PqQueries.Shortlist, graft.Metric.L2,
          efSearch = 100, filterColumn = Some("label"),
          inWalkFilter = true),
        dir, "tiered_iw_cold_shortlist")
      val hotQ = queries
        .withColumn("ttl", lit(Long.MaxValue / 2 - cut))
      OracleAux.write(
        graft.store.ColdTier.search(s, tmp, hotQ, PqQueries.Shortlist,
            graft.Metric.L2, firstWaveFraction = 1.0,
            terminationFactor = 1.0, filterColumn = Some("label"))
          .select(col("qid"), col("id")),
        dir, "tiered_iw_hot_shortlist")
      graft.store.ColdTier.rerankExact(s, tmp,
        OracleAux.read(s, dir, "tiered_iw_cold_shortlist")
          .unionByName(OracleAux.read(s, dir, "tiered_iw_hot_shortlist")),
        queries, VectorQueries.K, graft.Metric.L2,
        filterColumn = Some("label"))
    },

    "knn_tiered_range" -> { (s, dir) =>
      // the RANGE cross-tier composition — knn_tiered_filtered's
      // hierarchical search under a static numeric band (`label BETWEEN
      // 2 AND 5`, the streaming attrHi channel's batch twin): the cold
      // tier is probed through filter-oblivious sidecars with the same
      // 8x over-fetched shortlist, the hot quarter answers through the
      // exact RANGE kernel (filterRange = true, window clipped to the
      // hot range), both shortlists land as aux, and ONE range-filtered
      // exact re-rank (literalRanges) over the union answers the query
      // — the DuckDB twin replays the whole banded cross-tier merge
      // bit-exactly.
      val e = Tables(s, dir, "embeddings")
      val (tmp, cut) = tieredFilteredTier(s, dir, e)
      val queries = e.where(col("vec_id") % VectorQueries.QueryMod === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          lit(Long.MaxValue / 2).as("qtime"), lit(Long.MaxValue / 2).as("ttl"))
      val coldQ = queries
        .withColumn("qtime", lit(cut - 1)).withColumn("ttl", lit(cut - 1))
      OracleAux.write(
        graft.store.ColdTier.probeCandidates(s, tmp, coldQ,
          shortlist = PqQueries.Shortlist * 8, graft.Metric.L2,
          efSearch = 100),
        dir, "tiered_rng_cold_shortlist")
      val hotQ = queries
        .withColumn("ttl", lit(Long.MaxValue / 2 - cut))
        .withColumn("qflo", lit(TieredRangeLo))
        .withColumn("qfhi", lit(TieredRangeHi))
      OracleAux.write(
        graft.store.ColdTier.search(s, tmp, hotQ, PqQueries.Shortlist,
            graft.Metric.L2, firstWaveFraction = 1.0,
            terminationFactor = 1.0, filterColumn = Some("label"),
            filterRange = true)
          .select(col("qid"), col("id")),
        dir, "tiered_rng_hot_shortlist")
      graft.store.ColdTier.rerankExact(s, tmp,
        OracleAux.read(s, dir, "tiered_rng_cold_shortlist")
          .unionByName(OracleAux.read(s, dir, "tiered_rng_hot_shortlist")),
        queries, VectorQueries.K, graft.Metric.L2,
        literalRanges = Seq(
          graft.store.ColdTier.RangeBound("label", ">=", TieredRangeLo,
            org.apache.spark.sql.types.IntegerType),
          graft.store.ColdTier.RangeBound("label", "<=", TieredRangeHi,
            org.apache.spark.sql.types.IntegerType)))
    },

    "knn_tiered_in" -> { (s, dir) =>
      // the IN-LIST cross-tier composition — knn_tiered_filtered's
      // hierarchical search under a static value set (`label IN
      // (1, 4, 8)`, the streaming attrIn channel's batch twin): the
      // cold tier is probed through filter-oblivious sidecars with the
      // same 8x over-fetched shortlist, the hot quarter answers through
      // the exact IN kernel (filterIn = true — per-value equality
      // decomposition, per-value attr admission, merged by qid), both
      // shortlists land as aux, and ONE literal-IN exact re-rank over
      // the union answers the query — the DuckDB twin replays the whole
      // IN-filtered cross-tier merge bit-exactly.
      val e = Tables(s, dir, "embeddings")
      val (tmp, cut) = tieredFilteredTier(s, dir, e)
      val queries = e.where(col("vec_id") % VectorQueries.QueryMod === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          lit(Long.MaxValue / 2).as("qtime"), lit(Long.MaxValue / 2).as("ttl"))
      val coldQ = queries
        .withColumn("qtime", lit(cut - 1)).withColumn("ttl", lit(cut - 1))
      OracleAux.write(
        graft.store.ColdTier.probeCandidates(s, tmp, coldQ,
          shortlist = PqQueries.Shortlist * 8, graft.Metric.L2,
          efSearch = 100),
        dir, "tiered_in_cold_shortlist")
      val hotQ = queries
        .withColumn("ttl", lit(Long.MaxValue / 2 - cut))
        .withColumn("qfin", array(TieredInLabels.map(lit): _*))
      OracleAux.write(
        graft.store.ColdTier.search(s, tmp, hotQ, PqQueries.Shortlist,
            graft.Metric.L2, firstWaveFraction = 1.0,
            terminationFactor = 1.0, filterColumn = Some("label"),
            filterIn = true)
          .select(col("qid"), col("id")),
        dir, "tiered_in_hot_shortlist")
      graft.store.ColdTier.rerankExact(s, tmp,
        OracleAux.read(s, dir, "tiered_in_cold_shortlist")
          .unionByName(OracleAux.read(s, dir, "tiered_in_hot_shortlist")),
        queries, VectorQueries.K, graft.Metric.L2,
        literalFilters = Seq(("label", TieredInLabels,
          org.apache.spark.sql.types.IntegerType)))
    },

    "knn_tiered_qin" -> { (s, dir) =>
      // the PER-QUERY-IN cross-tier composition — knn_tiered_in's qfin
      // sibling: each query carries its OWN value set ([label,
      // (label+3) % 10], re-derivable by the DuckDB twin), the hot
      // quarter answers through the exact filterIn kernel (per-value
      // equality decomposition), the cold three-quarters through the
      // NEW per-query-IN in-walk probe (sidecars carry label hashes;
      // each walk admits candidates matching ANY of the query's values
      // at acceptance, PLAIN shortlist — no over-fetch), and ONE
      // per-query-IN exact re-rank (rerankExact filterIn) over the
      // union answers the query. The per-query value shape is exactly
      // what the plan-time literal rewrite CANNOT serve — this entry is
      // that column's composition gate.
      val e = Tables(s, dir, "embeddings")
      val (tmp, cut) = tieredInWalkTier(s, dir, e)
      val queries = e.where(col("vec_id") % VectorQueries.QueryMod === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          lit(Long.MaxValue / 2).as("qtime"), lit(Long.MaxValue / 2).as("ttl"),
          array(col("label"), pmod(col("label") + 3, lit(10))).as("qfin"))
      val coldQ = queries
        .withColumn("qtime", lit(cut - 1)).withColumn("ttl", lit(cut - 1))
      OracleAux.write(
        graft.store.ColdTier.probeCandidates(s, tmp, coldQ,
          shortlist = PqQueries.Shortlist, graft.Metric.L2,
          efSearch = 100, filterColumn = Some("label"),
          inWalkFilterIn = true),
        dir, "tiered_qin_cold_shortlist")
      val hotQ = queries
        .withColumn("ttl", lit(Long.MaxValue / 2 - cut))
      OracleAux.write(
        graft.store.ColdTier.search(s, tmp, hotQ, PqQueries.Shortlist,
            graft.Metric.L2, firstWaveFraction = 1.0,
            terminationFactor = 1.0, filterColumn = Some("label"),
            filterIn = true)
          .select(col("qid"), col("id")),
        dir, "tiered_qin_hot_shortlist")
      graft.store.ColdTier.rerankExact(s, tmp,
        OracleAux.read(s, dir, "tiered_qin_cold_shortlist")
          .unionByName(OracleAux.read(s, dir, "tiered_qin_hot_shortlist")),
        queries, VectorQueries.K, graft.Metric.L2,
        filterColumn = Some("label"), filterIn = true)
    },

    "multimodal_decode" -> { (s, dir) =>
      val media = Tables(s, dir, "documents")
        .select(col("doc_id").as("id"), lit("image").as("media_type"),
          col("text").cast("binary").as("media"))
      Multimodal.decode(media)
        .select(col("id"), col("meta.width").as("width"),
          col("meta.height").as("height"), col("meta.channels").as("channels"),
          col("meta.durationMs").as("duration_ms"),
          element_at(col("features"), 5).cast("double").as("f4"))
    },

    "multimodal_resize" -> { (s, dir) =>
      // batched nearest-neighbor resize through the binary-column
      // plumbing; the integer-only stub replays exactly in SQL.
      // Exploded to one scalar row per (id, pixel_idx) — oracle entries
      // must never emit a bare ARRAY column (the driver checker hashes
      // rows through pandas, where an array cell is unhashable).
      val media = Tables(s, dir, "documents")
        .select(col("doc_id").as("id"), lit("image").as("media_type"),
          col("text").cast("binary").as("media"))
      Multimodal.resize(media, width = 8, height = 8, rowStride = 64)
        .select(col("id"), posexplode(col("pixels")))
        .toDF("id", "pixel_idx", "pixel")
    },

    "multimodal_frames" -> { (s, dir) =>
      // batched frame sampling: one row per (id, frame_idx), 64-byte
      // frames at stride 4 (= every 256th offset)
      val media = Tables(s, dir, "documents")
        .select(col("doc_id").as("id"), lit("video").as("media_type"),
          col("text").cast("binary").as("media"))
      Multimodal.sampleFrames(media, stride = 4)
        .select(col("id"), col("frame_idx"),
          length(col("frame_bytes")).as("frame_len"),
          ascii(substring(col("frame_bytes"), 1, 1).cast("string"))
            .as("first_byte"))
    })

  /** Per-label exact kNN — the shared DuckDB twin of every filtered
   * cold-tier surface (time-sliced and label-aligned layouts alike). */
  private val filteredKnnOracle: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv, label
       |  FROM embeddings WHERE vec_id % ${VectorQueries.QueryMod} = 0),
       |d AS (SELECT q.qid, b.vec_id AS id,
       |  list_sum([ (CAST(x[1] AS DOUBLE)-CAST(x[2] AS DOUBLE)) * (CAST(x[1] AS DOUBLE)-CAST(x[2] AS DOUBLE))
       |    for x in list_zip(q.qv, b.embedding)]) AS dist
       |  FROM q, embeddings b WHERE b.label = q.label),
       |r AS (SELECT qid, id, dist,
       |  row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn FROM d)
       |SELECT qid, rn, id, dist FROM r WHERE rn <= ${VectorQueries.K}""".stripMargin

  /** Per-band exact kNN (`label BETWEEN qflo AND qfhi`, each query's
   * band derived from its own label) — the shared DuckDB twin of the
   * RANGE-filtered cold-tier surfaces. */
  private val rangeKnnOracle: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv,
       |  LEAST(label, 6) AS qflo, LEAST(label, 6) + 2 AS qfhi
       |  FROM embeddings WHERE vec_id % ${VectorQueries.QueryMod} = 0),
       |d AS (SELECT q.qid, b.vec_id AS id,
       |  list_sum([ (CAST(x[1] AS DOUBLE)-CAST(x[2] AS DOUBLE)) * (CAST(x[1] AS DOUBLE)-CAST(x[2] AS DOUBLE))
       |    for x in list_zip(q.qv, b.embedding)]) AS dist
       |  FROM q, embeddings b WHERE b.label BETWEEN q.qflo AND q.qfhi),
       |r AS (SELECT qid, id, dist,
       |  row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn FROM d)
       |SELECT qid, rn, id, dist FROM r WHERE rn <= ${VectorQueries.K}""".stripMargin

  def oracles: Map[String, String] = Map(
    "eval_recall" -> {
      def knn(extraPred: String) =
        s"""SELECT qid, id FROM (
           |  SELECT q.qid, b.vec_id AS id, row_number() OVER (PARTITION BY q.qid
           |    ORDER BY list_sum([ (CAST(x[1] AS DOUBLE)-CAST(x[2] AS DOUBLE)) * (CAST(x[1] AS DOUBLE)-CAST(x[2] AS DOUBLE))
           |      for x in list_zip(q.qv, b.embedding)]), b.vec_id) AS rn
           |  FROM (SELECT vec_id AS qid, embedding AS qv FROM embeddings
           |        WHERE vec_id % ${VectorQueries.QueryMod} = 0) q,
           |       embeddings b WHERE $extraPred) WHERE rn <= ${VectorQueries.K}""".stripMargin
      s"""WITH a AS (${knn(s"b.vec_id >= q.qid - ${VectorQueries.Ttl} AND b.vec_id <= q.qid")}),
         |b AS (${knn("true")})
         |SELECT a.qid, CAST(COUNT(*) AS DOUBLE) / ${VectorQueries.K} AS recall
         |FROM a JOIN b ON a.qid = b.qid AND a.id = b.id
         |GROUP BY a.qid""".stripMargin
    },

    "knn_coldtier" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |  WHERE vec_id % ${VectorQueries.QueryMod} = 0),
         |d AS (SELECT q.qid, b.vec_id AS id,
         |  list_sum([ (CAST(x[1] AS DOUBLE)-CAST(x[2] AS DOUBLE)) * (CAST(x[1] AS DOUBLE)-CAST(x[2] AS DOUBLE))
         |    for x in list_zip(q.qv, b.embedding)]) AS dist
         |  FROM q, embeddings b),
         |r AS (SELECT qid, id, dist,
         |  row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn FROM d)
         |SELECT qid, rn, id, dist FROM r WHERE rn <= ${VectorQueries.K}""".stripMargin,

    "coldtier_stats" ->
      """SELECT vec_id % 3 AS segment_id, COUNT(*) AS n_rows,
        |  MIN(vec_id) AS min_ts, MAX(vec_id) AS max_ts
        |FROM embeddings GROUP BY 1""".stripMargin,

    "knn_coldtier_ip" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |  WHERE vec_id % ${VectorQueries.QueryMod} = 0),
         |d AS (SELECT q.qid, b.vec_id AS id,
         |  ${VectorQueries.ipSql("q.qv", "b.embedding")} AS dist
         |  FROM q, embeddings b),
         |r AS (SELECT qid, id, dist,
         |  row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn FROM d)
         |SELECT qid, rn, id, dist FROM r WHERE rn <= ${VectorQueries.K}"""
        .stripMargin,

    "knn_coldtier_cosine" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |  WHERE vec_id % ${VectorQueries.QueryMod} = 0),
         |d AS (SELECT q.qid, b.vec_id AS id,
         |  ${VectorQueries.cosSql("q.qv", "b.embedding")} AS dist
         |  FROM q, embeddings b),
         |r AS (SELECT qid, id, dist,
         |  row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn FROM d)
         |SELECT qid, rn, id, dist FROM r WHERE rn <= ${VectorQueries.K}"""
        .stripMargin,

    // per-label exact kNN: the filtered cold-tier search restricts the
    // candidate set to label-matching rows before the same top-k
    "knn_coldtier_filtered" -> filteredKnnOracle,
    "knn_coldtier_range" -> rangeKnnOracle,
    "knn_coldtier_range_pruned" -> rangeKnnOracle,
    // static band [3,5] over the label-STRUCTURED layout — same
    // per-band exact-kNN recipe, fixed bounds
    "knn_coldtier_range_hist" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv
         |  FROM embeddings WHERE vec_id % ${VectorQueries.QueryMod} = 0),
         |d AS (SELECT q.qid, b.vec_id AS id,
         |  ${VectorQueries.l2Sql("q.qv", "b.embedding")} AS dist
         |  FROM q, embeddings b WHERE b.label BETWEEN 3 AND 5),
         |r AS (SELECT qid, id, dist,
         |  row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn FROM d)
         |SELECT qid, rn, id, dist FROM r WHERE rn <= ${VectorQueries.K}"""
        .stripMargin,
    // the label-aligned + attr-stats layout answers the SAME per-label
    // exact kNN — pruning changes which segments are touched, never the
    // result (an independent storage layout through an identical twin)
    "knn_coldtier_filtered_pruned" -> filteredKnnOracle,
    // the attr-recluster pass is a pure layout change — the filtered
    // search over the rewritten tier answers the SAME per-label exact
    // kNN as every other filtered flavor
    "knn_coldtier_attr_reclustered" -> filteredKnnOracle,

    // identical SQL twin to ann_sq8_rerank: with every segment fresh, the
    // compressed cold tier IS that pipeline via an independent path
    "knn_coldtier_sq" -> PqQueries.oracles("ann_sq8_rerank"),
    // filtered compressed twins: over-fetched code shortlist + label
    // equality at the rerank join — the engine's exact composition
    "knn_coldtier_sq_filtered" -> PqQueries.filteredSqOracle(4),
    "knn_coldtier_pq_filtered" -> PqQueries.filteredPqOracle(4),
    // independent-path twin: the cold-tier PQ scan must replay the flat
    // ann_pq_rerank pipeline bit-for-bit (same codebooks, full window)
    "knn_coldtier_pq" -> PqQueries.oracles("ann_pq_rerank"),

    // compaction preserves the row multiset, so the compacted tier answers
    // the same exact-kNN twin as the uncompacted one
    "knn_coldtier_compacted" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |  WHERE vec_id % ${VectorQueries.QueryMod} = 0),
         |d AS (SELECT q.qid, b.vec_id AS id,
         |  list_sum([ (CAST(x[1] AS DOUBLE)-CAST(x[2] AS DOUBLE)) * (CAST(x[1] AS DOUBLE)-CAST(x[2] AS DOUBLE))
         |    for x in list_zip(q.qv, b.embedding)]) AS dist
         |  FROM q, embeddings b),
         |r AS (SELECT qid, id, dist,
         |  row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn FROM d)
         |SELECT qid, rn, id, dist FROM r WHERE rn <= ${VectorQueries.K}""".stripMargin,

    // exact kNN over the tombstone survivors: the delete log shadows
    // vec_id % 17 == 3 (del_ts = eventTime >= row ts), so the oracle
    // simply excludes them from the corpus
    "knn_coldtier_deletes" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |  WHERE vec_id % ${VectorQueries.QueryMod} = 0),
         |d AS (SELECT q.qid, b.vec_id AS id,
         |  list_sum([ (CAST(x[1] AS DOUBLE)-CAST(x[2] AS DOUBLE)) * (CAST(x[1] AS DOUBLE)-CAST(x[2] AS DOUBLE))
         |    for x in list_zip(q.qv, b.embedding)]) AS dist
         |  FROM q, embeddings b WHERE b.vec_id % 17 <> 3),
         |r AS (SELECT qid, id, dist,
         |  row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn FROM d)
         |SELECT qid, rn, id, dist FROM r WHERE rn <= ${VectorQueries.K}""".stripMargin,

    // time travel: the pinned view answers the full-corpus exact-kNN
    // formulation (no tombstone existed at snapshot time), the live view
    // answers the tombstone-survivor one — one entry, both views
    "knn_coldtier_snapshot" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |  WHERE vec_id % ${VectorQueries.QueryMod} = 0),
         |d AS (SELECT q.qid, b.vec_id AS id,
         |  list_sum([ (CAST(x[1] AS DOUBLE)-CAST(x[2] AS DOUBLE)) * (CAST(x[1] AS DOUBLE)-CAST(x[2] AS DOUBLE))
         |    for x in list_zip(q.qv, b.embedding)]) AS dist
         |  FROM q, embeddings b),
         |r AS (SELECT qid, id, dist,
         |  row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn FROM d),
         |dl AS (SELECT q.qid, b.vec_id AS id,
         |  list_sum([ (CAST(x[1] AS DOUBLE)-CAST(x[2] AS DOUBLE)) * (CAST(x[1] AS DOUBLE)-CAST(x[2] AS DOUBLE))
         |    for x in list_zip(q.qv, b.embedding)]) AS dist
         |  FROM q, embeddings b WHERE b.vec_id % 17 <> 3),
         |rl AS (SELECT qid, id, dist,
         |  row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn FROM dl)
         |SELECT 'pinned' AS src, qid, rn, id, dist FROM r WHERE rn <= ${VectorQueries.K}
         |UNION ALL
         |SELECT 'live' AS src, qid, rn, id, dist FROM rl WHERE rn <= ${VectorQueries.K}""".stripMargin,

    // replay the exact re-rank over the materialized HNSW shortlist aux
    "knn_coldtier_hnsw" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |  WHERE vec_id % ${VectorQueries.QueryMod} = 0),
         |c AS (SELECT qid, id FROM ${OracleAux.ref("coldtier_hnsw_shortlist")}),
         |d AS (SELECT q.qid, c.id,
         |  ${VectorQueries.l2Sql("q.qv", "b.embedding")} AS dist
         |  FROM c JOIN q USING (qid) JOIN embeddings b ON b.vec_id = c.id),
         |r AS (SELECT qid, id, dist,
         |  row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn FROM d)
         |SELECT qid, rn, id, dist FROM r WHERE rn <= ${VectorQueries.K}"""
        .stripMargin,

    // replay the LABEL-filtered exact re-rank over the in-walk
    // shortlist aux: same recipe as knn_coldtier_hnsw plus the
    // null-rejecting label equality the hydration applies
    "knn_coldtier_hnsw_filtered" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv, label
         |  FROM embeddings WHERE vec_id % ${VectorQueries.QueryMod} = 0),
         |c AS (SELECT qid, id FROM ${OracleAux.ref("coldtier_hnsw_flt_shortlist")}),
         |d AS (SELECT q.qid, c.id,
         |  ${VectorQueries.l2Sql("q.qv", "b.embedding")} AS dist
         |  FROM c JOIN q USING (qid) JOIN embeddings b ON b.vec_id = c.id
         |  WHERE b.label = q.label),
         |r AS (SELECT qid, id, dist,
         |  row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn FROM d)
         |SELECT qid, rn, id, dist FROM r WHERE rn <= ${VectorQueries.K}"""
        .stripMargin,

    // replay the IN-filtered exact re-rank over the literal in-walk
    // shortlist aux: same recipe as knn_coldtier_hnsw_filtered with the
    // static IN list in place of the per-query label equality
    "knn_coldtier_hnsw_filtered_in" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv
         |  FROM embeddings WHERE vec_id % ${VectorQueries.QueryMod} = 0),
         |c AS (SELECT qid, id FROM ${OracleAux.ref("coldtier_hnsw_flt_in_shortlist")}),
         |d AS (SELECT q.qid, c.id,
         |  ${VectorQueries.l2Sql("q.qv", "b.embedding")} AS dist
         |  FROM c JOIN q USING (qid) JOIN embeddings b ON b.vec_id = c.id
         |  WHERE b.label IN (${InWalkInLabels.mkString(", ")})),
         |r AS (SELECT qid, id, dist,
         |  row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn FROM d)
         |SELECT qid, rn, id, dist FROM r WHERE rn <= ${VectorQueries.K}"""
        .stripMargin,

    // replay the PER-QUERY-IN exact re-rank over the qfin in-walk
    // shortlist aux: each query's own 2-label set re-derived from its
    // embeddings row, exactly as the Spark entry built it
    "knn_coldtier_hnsw_filtered_qin" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv, label
         |  FROM embeddings WHERE vec_id % ${VectorQueries.QueryMod} = 0),
         |c AS (SELECT qid, id FROM ${OracleAux.ref("coldtier_hnsw_flt_qin_shortlist")}),
         |d AS (SELECT q.qid, c.id,
         |  ${VectorQueries.l2Sql("q.qv", "b.embedding")} AS dist
         |  FROM c JOIN q USING (qid) JOIN embeddings b ON b.vec_id = c.id
         |  WHERE b.label = q.label OR b.label = (q.label + 3) % 10),
         |r AS (SELECT qid, id, dist,
         |  row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn FROM d)
         |SELECT qid, rn, id, dist FROM r WHERE rn <= ${VectorQueries.K}"""
        .stripMargin,

    // replay the range-filtered exact re-rank over the range in-walk
    // shortlist aux — the strict lower bound re-applied exactly
    "knn_coldtier_hnsw_filtered_range" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv
         |  FROM embeddings WHERE vec_id % ${VectorQueries.QueryMod} = 0),
         |c AS (SELECT qid, id FROM ${OracleAux.ref("coldtier_hnsw_flt_range_shortlist")}),
         |d AS (SELECT q.qid, c.id,
         |  ${VectorQueries.l2Sql("q.qv", "b.embedding")} AS dist
         |  FROM c JOIN q USING (qid) JOIN embeddings b ON b.vec_id = c.id
         |  WHERE b.label > $InWalkRangeLo AND b.label <= $InWalkRangeHi),
         |r AS (SELECT qid, id, dist,
         |  row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn FROM d)
         |SELECT qid, rn, id, dist FROM r WHERE rn <= ${VectorQueries.K}"""
        .stripMargin,

    // same re-rank replay over the sharded layout's shortlist aux
    "knn_coldtier_hnsw_sharded" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |  WHERE vec_id % ${VectorQueries.QueryMod} = 0),
         |c AS (SELECT qid, id FROM ${OracleAux.ref("coldtier_hnsw_shard_shortlist")}),
         |d AS (SELECT q.qid, c.id,
         |  ${VectorQueries.l2Sql("q.qv", "b.embedding")} AS dist
         |  FROM c JOIN q USING (qid) JOIN embeddings b ON b.vec_id = c.id),
         |r AS (SELECT qid, id, dist,
         |  row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn FROM d)
         |SELECT qid, rn, id, dist FROM r WHERE rn <= ${VectorQueries.K}"""
        .stripMargin,

    // recluster preserves the row multiset, so the reclustered tier
    // answers the same exact-kNN twin as the accreted/compacted layouts
    "knn_coldtier_reclustered" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |  WHERE vec_id % ${VectorQueries.QueryMod} = 0),
         |d AS (SELECT q.qid, b.vec_id AS id,
         |  ${VectorQueries.l2Sql("q.qv", "b.embedding")} AS dist
         |  FROM q, embeddings b),
         |r AS (SELECT qid, id, dist,
         |  row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn FROM d)
         |SELECT qid, rn, id, dist FROM r WHERE rn <= ${VectorQueries.K}"""
        .stripMargin,

    // early-termination replay: the approximate scan's ids re-ranked
    // exactly — the skip decisions live inside the aux
    "knn_coldtier_early_term" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |  WHERE vec_id % ${VectorQueries.QueryMod} = 0),
         |c AS (SELECT qid, id FROM ${OracleAux.ref("coldtier_et_shortlist")}),
         |d AS (SELECT q.qid, c.id,
         |  ${VectorQueries.l2Sql("q.qv", "b.embedding")} AS dist
         |  FROM c JOIN q USING (qid) JOIN embeddings b ON b.vec_id = c.id),
         |r AS (SELECT qid, id, dist,
         |  row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn FROM d)
         |SELECT qid, rn, id, dist FROM r WHERE rn <= ${VectorQueries.K}"""
        .stripMargin,

    // filtered early-termination replay: the approximate FILTERED
    // scan's ids re-ranked exactly under the same label equality (a
    // no-op on ids the filtered scan produced — mirrored anyway so the
    // twin replays the engine's hydration semantics verbatim)
    "knn_coldtier_filtered_early_term" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv, label
         |  FROM embeddings WHERE vec_id % ${VectorQueries.QueryMod} = 0),
         |c AS (SELECT qid, id
         |  FROM ${OracleAux.ref("coldtier_filtered_et_shortlist")}),
         |d AS (SELECT q.qid, c.id,
         |  ${VectorQueries.l2Sql("q.qv", "b.embedding")} AS dist
         |  FROM c JOIN q USING (qid)
         |  JOIN embeddings b ON b.vec_id = c.id AND b.label = q.label),
         |r AS (SELECT qid, id, dist,
         |  row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn FROM d)
         |SELECT qid, rn, id, dist FROM r WHERE rn <= ${VectorQueries.K}"""
        .stripMargin,

    // graph-routed replay: identical twin to knn_coldtier_routed — the
    // routing mechanism (graph walk vs linear sort) is inside the aux
    "knn_coldtier_graph_routed" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |  WHERE vec_id % ${VectorQueries.QueryMod} = 0),
         |c AS (SELECT qid, id FROM ${
            OracleAux.ref("coldtier_graph_routed_shortlist")}),
         |d AS (SELECT q.qid, c.id,
         |  ${VectorQueries.l2Sql("q.qv", "b.embedding")} AS dist
         |  FROM c JOIN q USING (qid) JOIN embeddings b ON b.vec_id = c.id),
         |r AS (SELECT qid, id, dist,
         |  row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn FROM d)
         |SELECT qid, rn, id, dist FROM r WHERE rn <= ${VectorQueries.K}"""
        .stripMargin,

    // SQL-rewrite replay: the optimizer-served top-n's ids re-ranked
    // exactly — one query (vec_id 0), the routed-probe recipe
    "knn_sql_rewrite" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |  WHERE vec_id = 0),
         |c AS (SELECT qid, id FROM ${OracleAux.ref("sql_rewrite_ids")}),
         |d AS (SELECT q.qid, c.id,
         |  ${VectorQueries.l2Sql("q.qv", "b.embedding")} AS dist
         |  FROM c JOIN q USING (qid) JOIN embeddings b ON b.vec_id = c.id),
         |r AS (SELECT qid, id, dist,
         |  row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn FROM d)
         |SELECT qid, rn, id, dist FROM r WHERE rn <= $SqlRewriteK"""
        .stripMargin,

    // pinned-SQL replay: the VERSION AS OF probe's ids re-ranked exactly
    // against the immutable corpus table — the knn_sql_rewrite recipe
    // (decoy exclusion is gated in the entry itself)
    "knn_sql_rewrite_snapshot" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |  WHERE vec_id = 0),
         |c AS (SELECT qid, id FROM ${OracleAux.ref("sql_rewrite_snapshot_ids")}),
         |d AS (SELECT q.qid, c.id,
         |  ${VectorQueries.l2Sql("q.qv", "b.embedding")} AS dist
         |  FROM c JOIN q USING (qid) JOIN embeddings b ON b.vec_id = c.id),
         |r AS (SELECT qid, id, dist,
         |  row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn FROM d)
         |SELECT qid, rn, id, dist FROM r WHERE rn <= $SqlRewriteK"""
        .stripMargin,

    // window-rank SQL-rewrite replay: identical recipe over the ids the
    // row_number() idiom's rewritten plan served
    "knn_sql_rewrite_rank" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |  WHERE vec_id = 0),
         |c AS (SELECT qid, id FROM ${OracleAux.ref("sql_rewrite_rank_ids")}),
         |d AS (SELECT q.qid, c.id,
         |  ${VectorQueries.l2Sql("q.qv", "b.embedding")} AS dist
         |  FROM c JOIN q USING (qid) JOIN embeddings b ON b.vec_id = c.id),
         |r AS (SELECT qid, id, dist,
         |  row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn FROM d)
         |SELECT qid, rn, id, dist FROM r WHERE rn <= $SqlRewriteK"""
        .stripMargin,

    // filtered SQL-rewrite replay: the filtered top-n's ids re-ranked
    // exactly under the same label equality (the aux carries only
    // label-matching ids — the WHERE guards against aux drift)
    // pinned + filtered composition replay: the pinned filtered
    // rewrite's ids re-ranked under the same label equality against the
    // immutable corpus table (the decoys are not corpus rows — a leaked
    // decoy id would join to nothing Spark-side re-ranks to a row,
    // hash-mismatching; the entry additionally THROWS on any leak)
    "knn_sql_rewrite_snapshot_filtered" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv, label
         |  FROM embeddings WHERE vec_id = 0),
         |c AS (SELECT qid, id FROM ${OracleAux.ref("sql_rewrite_snapflt_ids")}),
         |d AS (SELECT q.qid, c.id,
         |  ${VectorQueries.l2Sql("q.qv", "b.embedding")} AS dist
         |  FROM c JOIN q USING (qid) JOIN embeddings b ON b.vec_id = c.id
         |  WHERE b.label = q.label),
         |r AS (SELECT qid, id, dist,
         |  row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn FROM d)
         |SELECT qid, rn, id, dist FROM r WHERE rn <= $SqlRewriteFilteredK"""
        .stripMargin,

    "knn_sql_rewrite_filtered" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv, label
         |  FROM embeddings WHERE vec_id = 0),
         |c AS (SELECT qid, id FROM ${OracleAux.ref("sql_rewrite_filtered_ids")}),
         |d AS (SELECT q.qid, c.id,
         |  ${VectorQueries.l2Sql("q.qv", "b.embedding")} AS dist
         |  FROM c JOIN q USING (qid) JOIN embeddings b ON b.vec_id = c.id
         |  WHERE b.label = q.label),
         |r AS (SELECT qid, id, dist,
         |  row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn FROM d)
         |SELECT qid, rn, id, dist FROM r WHERE rn <= $SqlRewriteFilteredK"""
        .stripMargin,

    // aligned-exact SQL-rewrite: the serving kernel is EXACT (admission
    // collapses the label literal to its one aligned segment and the
    // bounded-heap scan kernel answers it losslessly), so the twin is
    // the FULL independent filtered kNN over the corpus — no aux replay
    "knn_sql_rewrite_aligned_exact" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv, label
         |  FROM embeddings WHERE vec_id = 0),
         |d AS (SELECT q.qid, b.vec_id AS id,
         |  ${VectorQueries.l2Sql("q.qv", "b.embedding")} AS dist
         |  FROM q, embeddings b WHERE b.label = q.label),
         |r AS (SELECT qid, id, dist,
         |  row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn FROM d)
         |SELECT qid, rn, id, dist FROM r WHERE rn <= $SqlRewriteAlignedK"""
        .stripMargin,

    // IN-collapse aligned-exact: per-value admission collapses the
    // static IN list to its single-label segments and the exact kernel
    // serves losslessly, so the twin is again the FULL independent
    // IN-filtered kNN over the corpus — no aux replay
    "knn_sql_rewrite_aligned_exact_in" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv
         |  FROM embeddings WHERE vec_id = 0),
         |d AS (SELECT q.qid, b.vec_id AS id,
         |  ${VectorQueries.l2Sql("q.qv", "b.embedding")} AS dist
         |  FROM q, embeddings b
         |  WHERE b.label IN (${SqlRewriteInLabels.mkString(", ")})),
         |r AS (SELECT qid, id, dist,
         |  row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn FROM d)
         |SELECT qid, rn, id, dist FROM r WHERE rn <= $SqlRewriteAlignedInK"""
        .stripMargin,

    // IN-list SQL-rewrite replay: the rewrite-served top-n's ids
    // re-ranked exactly under the SAME static IN list (the WHERE guards
    // against aux drift) — the filtered-rewrite recipe with literal
    // values embedded in both engines
    "knn_sql_rewrite_in" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv
         |  FROM embeddings WHERE vec_id = 0),
         |c AS (SELECT qid, id FROM ${OracleAux.ref("sql_rewrite_in_ids")}),
         |d AS (SELECT q.qid, c.id,
         |  ${VectorQueries.l2Sql("q.qv", "b.embedding")} AS dist
         |  FROM c JOIN q USING (qid) JOIN embeddings b ON b.vec_id = c.id
         |  WHERE b.label IN (${SqlRewriteInLabels.mkString(", ")})),
         |r AS (SELECT qid, id, dist,
         |  row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn FROM d)
         |SELECT qid, rn, id, dist FROM r WHERE rn <= $SqlRewriteInK"""
        .stripMargin,

    // the in-walk-served IN rewrite replays through the SAME IN-filtered
    // re-rank recipe — only the aux (and the serving mechanism that
    // produced it) differs from knn_sql_rewrite_in
    "knn_sql_rewrite_inwalk" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv
         |  FROM embeddings WHERE vec_id = 0),
         |c AS (SELECT qid, id FROM ${OracleAux.ref("sql_rewrite_inwalk_ids")}),
         |d AS (SELECT q.qid, c.id,
         |  ${VectorQueries.l2Sql("q.qv", "b.embedding")} AS dist
         |  FROM c JOIN q USING (qid) JOIN embeddings b ON b.vec_id = c.id
         |  WHERE b.label IN (${SqlRewriteInLabels.mkString(", ")})),
         |r AS (SELECT qid, id, dist,
         |  row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn FROM d)
         |SELECT qid, rn, id, dist FROM r WHERE rn <= $SqlRewriteInK"""
        .stripMargin,

    "knn_sql_rewrite_range" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv
         |  FROM embeddings WHERE vec_id = 0),
         |c AS (SELECT qid, id FROM ${OracleAux.ref("sql_rewrite_range_ids")}),
         |d AS (SELECT q.qid, c.id,
         |  ${VectorQueries.l2Sql("q.qv", "b.embedding")} AS dist
         |  FROM c JOIN q USING (qid) JOIN embeddings b ON b.vec_id = c.id
         |  WHERE b.label >= $SqlRewriteRangeLo AND b.label < $SqlRewriteRangeHi),
         |r AS (SELECT qid, id, dist,
         |  row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn FROM d)
         |SELECT qid, rn, id, dist FROM r WHERE rn <= $SqlRewriteRangeK"""
        .stripMargin,

    // routed-probe replay: same re-rank recipe over the routed shortlist
    "knn_coldtier_routed" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |  WHERE vec_id % ${VectorQueries.QueryMod} = 0),
         |c AS (SELECT qid, id FROM ${OracleAux.ref("coldtier_routed_shortlist")}),
         |d AS (SELECT q.qid, c.id,
         |  ${VectorQueries.l2Sql("q.qv", "b.embedding")} AS dist
         |  FROM c JOIN q USING (qid) JOIN embeddings b ON b.vec_id = c.id),
         |r AS (SELECT qid, id, dist,
         |  row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn FROM d)
         |SELECT qid, rn, id, dist FROM r WHERE rn <= ${VectorQueries.K}"""
        .stripMargin,

    // cross-tier merge replay: the hot (memtable HNSW) and cold (sidecar)
    // shortlists union into one candidate set; the twin re-ranks it
    // exactly, so the whole hierarchical search is hash-compared
    "knn_tiered" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |  WHERE vec_id % ${VectorQueries.QueryMod} = 0),
         |c AS (SELECT qid, id FROM ${OracleAux.ref("tiered_cold_shortlist")}
         |  UNION SELECT qid, id FROM ${OracleAux.ref("tiered_hot_shortlist")}),
         |d AS (SELECT q.qid, c.id,
         |  ${VectorQueries.l2Sql("q.qv", "b.embedding")} AS dist
         |  FROM c JOIN q USING (qid) JOIN embeddings b ON b.vec_id = c.id),
         |r AS (SELECT qid, id, dist,
         |  row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn FROM d)
         |SELECT qid, rn, id, dist FROM r WHERE rn <= ${VectorQueries.K}"""
        .stripMargin,

    // filtered cross-tier merge replay: both tiers' shortlists union
    // into one candidate set, re-ranked exactly under the query's own
    // label (the WHERE guards against aux drift)
    "knn_tiered_filtered" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv, label
         |  FROM embeddings WHERE vec_id % ${VectorQueries.QueryMod} = 0),
         |c AS (SELECT qid, id FROM ${OracleAux.ref("tiered_flt_cold_shortlist")}
         |  UNION SELECT qid, id FROM ${OracleAux.ref("tiered_flt_hot_shortlist")}),
         |d AS (SELECT q.qid, c.id,
         |  ${VectorQueries.l2Sql("q.qv", "b.embedding")} AS dist
         |  FROM c JOIN q USING (qid) JOIN embeddings b ON b.vec_id = c.id
         |  WHERE b.label = q.label),
         |r AS (SELECT qid, id, dist,
         |  row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn FROM d)
         |SELECT qid, rn, id, dist FROM r WHERE rn <= ${VectorQueries.K}"""
        .stripMargin,

    // in-walk cross-tier merge replay: identical recipe to
    // knn_tiered_filtered — only the aux (and the cold serving
    // mechanism that produced it) differs
    "knn_tiered_inwalk" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv, label
         |  FROM embeddings WHERE vec_id % ${VectorQueries.QueryMod} = 0),
         |c AS (SELECT qid, id FROM ${OracleAux.ref("tiered_iw_cold_shortlist")}
         |  UNION SELECT qid, id FROM ${OracleAux.ref("tiered_iw_hot_shortlist")}),
         |d AS (SELECT q.qid, c.id,
         |  ${VectorQueries.l2Sql("q.qv", "b.embedding")} AS dist
         |  FROM c JOIN q USING (qid) JOIN embeddings b ON b.vec_id = c.id
         |  WHERE b.label = q.label),
         |r AS (SELECT qid, id, dist,
         |  row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn FROM d)
         |SELECT qid, rn, id, dist FROM r WHERE rn <= ${VectorQueries.K}"""
        .stripMargin,

    // banded cross-tier merge replay: both tiers' shortlists union into
    // one candidate set, re-ranked exactly under the static band (the
    // WHERE guards against aux drift)
    "knn_tiered_range" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv
         |  FROM embeddings WHERE vec_id % ${VectorQueries.QueryMod} = 0),
         |c AS (SELECT qid, id FROM ${OracleAux.ref("tiered_rng_cold_shortlist")}
         |  UNION SELECT qid, id FROM ${OracleAux.ref("tiered_rng_hot_shortlist")}),
         |d AS (SELECT q.qid, c.id,
         |  ${VectorQueries.l2Sql("q.qv", "b.embedding")} AS dist
         |  FROM c JOIN q USING (qid) JOIN embeddings b ON b.vec_id = c.id
         |  WHERE b.label BETWEEN $TieredRangeLo AND $TieredRangeHi),
         |r AS (SELECT qid, id, dist,
         |  row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn FROM d)
         |SELECT qid, rn, id, dist FROM r WHERE rn <= ${VectorQueries.K}"""
        .stripMargin,

    // IN-filtered cross-tier merge replay: both tiers' shortlists union
    // into one candidate set, re-ranked exactly under the static value
    // set (the WHERE guards against aux drift)
    "knn_tiered_in" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv
         |  FROM embeddings WHERE vec_id % ${VectorQueries.QueryMod} = 0),
         |c AS (SELECT qid, id FROM ${OracleAux.ref("tiered_in_cold_shortlist")}
         |  UNION SELECT qid, id FROM ${OracleAux.ref("tiered_in_hot_shortlist")}),
         |d AS (SELECT q.qid, c.id,
         |  ${VectorQueries.l2Sql("q.qv", "b.embedding")} AS dist
         |  FROM c JOIN q USING (qid) JOIN embeddings b ON b.vec_id = c.id
         |  WHERE b.label IN (${TieredInLabels.mkString(", ")})),
         |r AS (SELECT qid, id, dist,
         |  row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn FROM d)
         |SELECT qid, rn, id, dist FROM r WHERE rn <= ${VectorQueries.K}"""
        .stripMargin,

    // per-query-IN cross-tier merge replay: both tiers' shortlists union
    // into one candidate set, re-ranked exactly under each query's OWN
    // value set (re-derived from its embeddings row)
    "knn_tiered_qin" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv, label
         |  FROM embeddings WHERE vec_id % ${VectorQueries.QueryMod} = 0),
         |c AS (SELECT qid, id FROM ${OracleAux.ref("tiered_qin_cold_shortlist")}
         |  UNION SELECT qid, id FROM ${OracleAux.ref("tiered_qin_hot_shortlist")}),
         |d AS (SELECT q.qid, c.id,
         |  ${VectorQueries.l2Sql("q.qv", "b.embedding")} AS dist
         |  FROM c JOIN q USING (qid) JOIN embeddings b ON b.vec_id = c.id
         |  WHERE b.label = q.label OR b.label = (q.label + 3) % 10),
         |r AS (SELECT qid, id, dist,
         |  row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn FROM d)
         |SELECT qid, rn, id, dist FROM r WHERE rn <= ${VectorQueries.K}"""
        .stripMargin,

    "eval_ndcg" -> {
      def knn(extraPred: String) =
        s"""SELECT qid, id, rn FROM (
           |  SELECT q.qid, b.vec_id AS id, row_number() OVER (PARTITION BY q.qid
           |    ORDER BY list_sum([ (CAST(x[1] AS DOUBLE)-CAST(x[2] AS DOUBLE)) * (CAST(x[1] AS DOUBLE)-CAST(x[2] AS DOUBLE))
           |      for x in list_zip(q.qv, b.embedding)]), b.vec_id) AS rn
           |  FROM (SELECT vec_id AS qid, embedding AS qv FROM embeddings
           |        WHERE vec_id % ${VectorQueries.QueryMod} = 0) q,
           |       embeddings b WHERE $extraPred) WHERE rn <= ${VectorQueries.K}""".stripMargin
      val ds = graft.ops.Recall.ndcgDiscountsScaled(VectorQueries.K)
      val caseD = (1 to VectorQueries.K)
        .map(r => s"WHEN ${r} THEN ${ds(r - 1)}").mkString(" ")
      s"""WITH a AS (${knn(s"b.vec_id >= q.qid - ${VectorQueries.Ttl} AND b.vec_id <= q.qid")}),
         |b AS (${knn("true")}),
         |h AS (SELECT a.qid, a.rn,
         |  CASE a.rn $caseD END AS d
         |  FROM a JOIN b ON a.qid = b.qid AND a.id = b.id),
         |g AS (SELECT qid, CAST(SUM(d) AS BIGINT) AS dcg
         |  FROM h GROUP BY qid)
         |SELECT qs.qid, CAST(COALESCE(g.dcg, 0) AS DOUBLE)
         |  / CAST(${ds.sum} AS DOUBLE) AS ndcg
         |FROM (SELECT DISTINCT qid FROM a) qs LEFT JOIN g USING (qid)"""
        .stripMargin
    },

    "eval_mrr" -> {
      def knn(extraPred: String) =
        s"""SELECT qid, id, rn FROM (
           |  SELECT q.qid, b.vec_id AS id, row_number() OVER (PARTITION BY q.qid
           |    ORDER BY list_sum([ (CAST(x[1] AS DOUBLE)-CAST(x[2] AS DOUBLE)) * (CAST(x[1] AS DOUBLE)-CAST(x[2] AS DOUBLE))
           |      for x in list_zip(q.qv, b.embedding)]), b.vec_id) AS rn
           |  FROM (SELECT vec_id AS qid, embedding AS qv FROM embeddings
           |        WHERE vec_id % ${VectorQueries.QueryMod} = 0) q,
           |       embeddings b WHERE $extraPred) WHERE rn <= ${VectorQueries.K}""".stripMargin
      s"""WITH a AS (${knn(s"b.vec_id >= q.qid - ${VectorQueries.Ttl} AND b.vec_id <= q.qid")}),
         |b AS (${knn("true")}),
         |f AS (SELECT a.qid, min(a.rn) AS first_rel
         |  FROM a JOIN b ON a.qid = b.qid AND a.id = b.id GROUP BY a.qid)
         |SELECT qs.qid, COALESCE(1.0 / f.first_rel, 0.0) AS mrr
         |FROM (SELECT DISTINCT qid FROM a) qs LEFT JOIN f USING (qid)"""
        .stripMargin
    },

    "multimodal_decode" ->
      """SELECT doc_id AS id,
        |(ascii(substr(text, 1, 1)) * 16 + ascii(substr(text, 2, 1)) % 16) + 1 AS width,
        |(ascii(substr(text, 3, 1)) * 16 + ascii(substr(text, 4, 1)) % 16) + 1 AS height,
        |3 AS channels,
        |CAST(length(text) AS BIGINT) AS duration_ms,
        |CAST(CAST(length(regexp_replace(text, '[^@-O]', '', 'g')) AS FLOAT)
        |  / CAST(length(text) AS FLOAT) AS DOUBLE) AS f4
        |FROM documents""".stripMargin,

    // stride-64 nearest-neighbor resize, integer-only: for each output
    // pixel i (y = i//8, x = i%8), srcIdx = (y*hSrc//8)*64 + x*8 with
    // hSrc = max(len//64, 1); ASCII corpus makes ascii() == byte value.
    // One scalar row per (id, pixel_idx) — same unnest shape as frames.
    "multimodal_resize" ->
      """SELECT doc_id AS id, CAST(p.i AS INTEGER) AS pixel_idx,
        |CASE WHEN ((CAST(p.i AS INTEGER) // 8) * GREATEST(length(text) // 64, 1) // 8) * 64
        |          + (CAST(p.i AS INTEGER) % 8) * 8 < length(text)
        |  THEN ascii(substr(text,
        |    1 + ((CAST(p.i AS INTEGER) // 8) * GREATEST(length(text) // 64, 1) // 8) * 64
        |      + (CAST(p.i AS INTEGER) % 8) * 8, 1))
        |  ELSE 0 END AS pixel
        |FROM documents, unnest(range(64)) AS p(i)""".stripMargin,

    // 64-byte frames every 256 bytes: frame count = ceil(len/256) by
    // integer arithmetic, lengths truncate at the payload tail
    "multimodal_frames" ->
      """SELECT doc_id AS id, CAST(f.i AS INTEGER) AS frame_idx,
        |CAST(length(substr(text, 1 + CAST(f.i AS INTEGER) * 256, 64)) AS INTEGER) AS frame_len,
        |ascii(substr(text, 1 + CAST(f.i AS INTEGER) * 256, 1)) AS first_byte
        |FROM documents,
        |  unnest(range((length(text) + 255) // 256)) AS f(i)""".stripMargin)
}
