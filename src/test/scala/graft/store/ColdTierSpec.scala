package graft.store

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.Metric
import graft.functions.Distances

class ColdTierSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder().master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false").getOrCreate()

  private def mkVecs(n: Int, dim: Int, seed: Long, tsBase: Long) = {
    import spark.implicits._
    val rnd = new java.util.Random(seed)
    (0 until n).map(i => (tsBase + i, Array.fill(dim)(rnd.nextGaussian().toFloat),
      tsBase + i)).toDF("id", "vec", "eventTime")
  }

  test("seal/catalog/search: lossless skip (factor=1.0) equals brute force") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier").toString
    // three time-disjoint segments
    val s1 = mkVecs(300, 8, 1L, 0L)
    val s2 = mkVecs(300, 8, 2L, 1000L)
    val s3 = mkVecs(300, 8, 3L, 2000L)
    ColdTier.seal(s1, dir, 1L)
    ColdTier.seal(s2, dir, 2L)
    ColdTier.seal(s3, dir, 3L)
    assert(ColdTier.catalog(spark, dir).length == 3)

    val all = s1.unionAll(s2).unionAll(s3).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getLong(2)))
    val qv = all(42)._2
    val queries = Seq((7L, qv, 5000L, 100000L)).toDF("qid", "qv", "qtime", "ttl")

    val got = ColdTier.search(spark, dir, queries, 10, Metric.L2,
      firstWaveFraction = 0.34, terminationFactor = 1.0)
      .collect().sortBy(_.getInt(1)).map(_.getLong(2))
    val want = all.map { case (id, v, _) => (id, Distances.l2(qv, v)) }
      .sortBy { case (id, d) => (d, id) }.take(10).map(_._1)
    assert(got.sameElements(want))
  }

  test("freshness pruning skips time-disjoint segments; eviction drops them") {
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier2").toString
    ColdTier.seal(mkVecs(200, 8, 4L, 0L), dir, 1L)
    ColdTier.seal(mkVecs(200, 8, 5L, 10000L), dir, 2L)
    val qv = Array.fill(8)(0f)
    // ttl window only covers the second segment
    val queries = Seq((1L, qv, 10100L, 200L)).toDF("qid", "qv", "qtime", "ttl")
    val got = ColdTier.search(spark, dir, queries, 5, Metric.L2)
      .collect().map(_.getLong(2))
    assert(got.nonEmpty && got.forall(_ >= 10000L))
    // evict everything older than ts 5000 -> one segment left
    val kept = ColdTier.evict(spark, dir, 5000L)
    assert(kept.map(_.segmentId).toList == List(2L))
    assert(ColdTier.catalog(spark, dir).length == 1)
  }

  test("100 segments: lossless two-wave search equals brute force") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier100").toString
    val dim = 4
    val all = (1 to 100).flatMap { sid =>
      val rows = (0 until 20).map { i =>
        val rnd = new java.util.Random(sid * 1000L + i)
        (sid * 100L + i, Array.fill(dim)(rnd.nextGaussian().toFloat),
          sid * 10L + i % 10)
      }
      ColdTier.seal(rows.toDF("id", "vec", "eventTime"), dir, sid.toLong)
      rows
    }
    assert(ColdTier.catalog(spark, dir).length == 100)
    val rndQ = new java.util.Random(7L)
    val qs = (0 until 5).map(i =>
      (i.toLong, Array.fill(dim)(rndQ.nextGaussian().toFloat), 2000L, 2000L))
    val got = ColdTier.search(spark, dir,
        qs.toDF("qid", "qv", "qtime", "ttl"), 10, Metric.L2,
        firstWaveFraction = 0.1, terminationFactor = 1.0)
      .collect().groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getInt(1)).map(_.getLong(2)).toList).toMap
    qs.foreach { case (qid, qv, qtime, ttl) =>
      val want = all
        .filter { case (_, _, ts) => ts >= qtime - ttl && ts <= qtime }
        .map { case (id, v, _) => (id, Distances.l2(qv, v)) }
        .sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toList
      assert(got(qid) == want, s"qid=$qid")
    }
  }

  test("under-filled wave 1 must not set a skip threshold (lossless)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier-uf").toString
    // segment A: hottest (centroid at origin) but only 2 rows inside the
    // freshness window; its stale rows push maxTs into overlap
    val segA = (Seq((1L, Array(0f, 0f), 500L), (2L, Array(0.01f, 0f), 501L)) ++
      (0 until 50).map(i => (100L + i, Array(0.1f, 0f), 5000L)))
      .toDF("id", "vec", "eventTime")
    // segment B: far centroid (wave 2), all rows fresh — holds the results
    // needed to fill k; a threshold from A's 2 rows would wrongly skip it
    val segB = (0 until 20).map(i => (200L + i, Array(3f + i * 0.01f, 0f), 600L))
      .toDF("id", "vec", "eventTime")
    ColdTier.seal(segA, dir, 1L)
    ColdTier.seal(segB, dir, 2L)
    val queries = Seq((9L, Array(0f, 0f), 1000L, 600L))
      .toDF("qid", "qv", "qtime", "ttl")
    val got = ColdTier.search(spark, dir, queries, 5, Metric.L2,
        firstWaveFraction = 0.5, terminationFactor = 1.0)
      .collect().sortBy(_.getInt(1)).map(_.getLong(2))
    // brute force over fresh rows: ids 1, 2 then nearest three from B
    assert(got.toList == List(1L, 2L, 200L, 201L, 202L))
  }

  test("non-L2 metric disables pruning and matches brute force (cosine)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier-cos").toString
    val s1 = mkVecs(200, 8, 11L, 0L)
    val s2 = mkVecs(200, 8, 12L, 1000L)
    ColdTier.seal(s1, dir, 1L)
    ColdTier.seal(s2, dir, 2L)
    val all = s1.unionAll(s2).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val qv = all(17)._2
    val queries = Seq((3L, qv, 5000L, 100000L)).toDF("qid", "qv", "qtime", "ttl")
    val got = ColdTier.search(spark, dir, queries, 10, Metric.Cosine,
        firstWaveFraction = 0.5, terminationFactor = 1.0)
      .collect().sortBy(_.getInt(1)).map(_.getLong(2))
    val want = all.map { case (id, v) => (id, Distances.cosine(qv, v)) }
      .sortBy { case (id, d) => (d, id) }.take(10).map(_._1)
    assert(got.sameElements(want))
  }

  test("approximate termination (factor 0.8): recall >= 0.9 vs lossless on clustered data") {
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier-approx").toString
    val dim = 8
    // six tight clusters, one per segment
    (0 until 6).foreach { c =>
      val rnd = new java.util.Random(100L + c)
      val rows = (0 until 40).map { i =>
        val v = Array.fill(dim)(rnd.nextGaussian().toFloat * 0.3f)
        v(0) += 4f * c
        (c * 100L + i, v, 500L + i)
      }
      ColdTier.seal(rows.toDF("id", "vec", "eventTime"), dir, c.toLong)
    }
    // queries at centers and at midpoints between clusters
    val qs = (0 until 6).map { c =>
      val v = new Array[Float](dim); v(0) = 4f * c
      (c.toLong, v, 10000L, 100000L)
    } ++ (0 until 5).map { c =>
      val v = new Array[Float](dim); v(0) = 4f * c + 2f
      ((100 + c).toLong, v, 10000L, 100000L)
    }
    val qdf = qs.toDF("qid", "qv", "qtime", "ttl")
    def run(factor: Double) = ColdTier.search(spark, dir, qdf, 10, Metric.L2,
        firstWaveFraction = 0.2, terminationFactor = factor)
      .collect().groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(2)).toSet).toMap
    val lossless = run(1.0)
    val approx = run(0.8)
    val recalls = qs.map { case (qid, _, _, _) =>
      approx.getOrElse(qid, Set.empty)
        .intersect(lossless(qid)).size.toDouble / lossless(qid).size
    }
    val recall = recalls.sum / recalls.size
    assert(recall >= 0.9, s"approximate-termination recall: $recall")
  }

  test("EWMA-assisted early termination: recall >= 0.95 while skipping a real fraction of wave-2 probes") {
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier-et").toString
    val dim = 8
    // sixteen tight clusters, one per segment — the cell-aligned layout
    // the 10x bench serves from
    (0 until 16).foreach { c =>
      val rnd = new java.util.Random(300L + c)
      val rows = (0 until 250).map { i =>
        val v = Array.fill(dim)(rnd.nextGaussian().toFloat * 0.3f)
        v(0) += 4f * (c % 4); v(1) += 4f * (c / 4)
        (c * 1000L + i, v, 500L + i)
      }
      ColdTier.seal(rows.toDF("id", "vec", "eventTime"), dir, c.toLong)
    }
    val qrnd = new java.util.Random(77L)
    val qs = (0 until 24).map { qi =>
      val c = qi % 16
      val v = Array.fill(dim)(qrnd.nextGaussian().toFloat * 0.3f)
      v(0) += 4f * (c % 4); v(1) += 4f * (c / 4)
      (qi.toLong, v, 10000L, 100000L)
    }
    val qdf = qs.toDF("qid", "qv", "qtime", "ttl")
    val losslessDf = ColdTier.search(spark, dir, qdf, 10, Metric.L2,
      firstWaveFraction = 0.25, terminationFactor = 1.0)
    val lossless = losslessDf.collect().groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(2)).toSet).toMap
    val ewma = ColdTier.learnThreshold(losslessDf, 10, None)
    assert(ewma.isDefined)
    val stats = scala.collection.mutable.Map.empty[String, Long]
    val approx = ColdTier.search(spark, dir, qdf, 10, Metric.L2,
        firstWaveFraction = 0.25, terminationFactor = 0.8,
        ewmaThreshold = ewma, searchStats = Some(stats))
      .collect().groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(2)).toSet).toMap
    val recalls = qs.map { case (qid, _, _, _) =>
      approx.getOrElse(qid, Set.empty)
        .intersect(lossless(qid)).size.toDouble / lossless(qid).size
    }
    val recall = recalls.sum / recalls.size
    assert(recall >= 0.95, s"early-termination recall: $recall")
    val planned = stats("wave2_planned")
    val scanned = stats("wave2_scanned")
    assert(planned > 0 && scanned < planned,
      s"early termination must skip probes: $scanned/$planned")
    assert(1.0 - scanned.toDouble / planned >= 0.3,
      s"skip fraction too small to be evidence: $scanned/$planned")
  }

  test("FILTERED early termination: the threshold from filtered wave-1 results skips real probes at recall >= 0.95 vs the filtered lossless scan") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier-filt-et").toString
    val rnd = new java.util.Random(67L)
    val dim = 8
    // 16 well-separated cells, one segment each, labels mixed INSIDE
    // every cell (labels never align with segments, so the filter
    // cannot be served by admission and rides the kernel)
    (0 until 16).foreach { c =>
      val rows = (0 until 120).map { i =>
        val v = Array.fill(dim)(rnd.nextGaussian().toFloat * 0.3f)
        v(0) += 4f * (c % 4); v(1) += 4f * (c / 4)
        (c * 1000L + i, v, 500L + i, (i % 3).toLong)
      }
      ColdTier.seal(rows.toDF("id", "vec", "eventTime", "label"), dir,
        c.toLong)
    }
    val qrnd = new java.util.Random(79L)
    val qs = (0 until 24).map { qi =>
      val c = qi % 16
      val v = Array.fill(dim)(qrnd.nextGaussian().toFloat * 0.3f)
      v(0) += 4f * (c % 4); v(1) += 4f * (c / 4)
      (qi.toLong, v, 10000L, 100000L, (qi % 3).toLong)
    }
    val qdf = qs.toDF("qid", "qv", "qtime", "ttl", "qfilter")
    val losslessDf = ColdTier.search(spark, dir, qdf, 10, Metric.L2,
      firstWaveFraction = 0.25, terminationFactor = 1.0,
      filterColumn = Some("label"))
    val lossless = losslessDf.collect().groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(2)).toSet).toMap
    val ewma = ColdTier.learnThreshold(losslessDf, 10, None)
    assert(ewma.isDefined)
    val stats = scala.collection.mutable.Map.empty[String, Long]
    val approx = ColdTier.search(spark, dir, qdf, 10, Metric.L2,
        firstWaveFraction = 0.25, terminationFactor = 0.8,
        ewmaThreshold = ewma, filterColumn = Some("label"),
        searchStats = Some(stats))
      .collect().groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(2)).toSet).toMap
    // every approximate row satisfies its query's filter
    qs.foreach { case (qid, _, _, _, lbl) =>
      approx.getOrElse(qid, Set.empty).foreach { id =>
        assert((id % 1000) % 3 == lbl, s"qid $qid id $id label mismatch")
      }
    }
    val recalls = qs.map { case (qid, _, _, _, _) =>
      approx.getOrElse(qid, Set.empty)
        .intersect(lossless(qid)).size.toDouble / lossless(qid).size
    }
    val recall = recalls.sum / recalls.size
    assert(recall >= 0.95, s"filtered early-termination recall: $recall")
    val planned = stats("wave2_planned")
    val scanned = stats("wave2_scanned")
    assert(planned > 0 && scanned < planned,
      s"filtered early termination must skip probes: $scanned/$planned")
  }

  test("linearRoute == full-sort selection, ties and partial windows included (property)") {
    val rnd = new java.util.Random(5L)
    (0 until 200).foreach { _ =>
      val s = 1 + rnd.nextInt(40)
      val cap = 1 + rnd.nextInt(8)
      val dim = 4
      val cents = Array.fill(s)(Array.fill(dim)(rnd.nextFloat()))
      if (s > 3) cents(s - 1) = cents(0).clone() // exercise the tie-break
      val q = Array.fill(dim)(rnd.nextFloat())
      val inWin = (0 until s).filter(_ => rnd.nextBoolean())
      val want = inWin
        .sortBy(si => (graft.functions.Distances.l2(q, cents(si)), si))
        .take(cap).toSet
      assert(ColdTier.linearRoute(q, inWin, cents(_), cap) == want)
    }
  }

  test("CentroidRouter: graph routing matches linear routing on separated cells, and narrow windows keep exact semantics") {
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier-router").toString
    val dim = 8
    // 64 well-separated cells on an 8x8 grid, one segment each — enough
    // centroids that the graph walk is a real search, not an enumeration
    (0 until 64).foreach { c =>
      val rnd = new java.util.Random(900L + c)
      val rows = (0 until 60).map { i =>
        val v = Array.fill(dim)(rnd.nextGaussian().toFloat * 0.2f)
        v(0) += 4f * (c % 8); v(1) += 4f * (c / 8)
        (c * 1000L + i, v, c * 100L + i)
      }
      ColdTier.seal(rows.toDF("id", "vec", "eventTime"), dir, c.toLong)
    }
    ColdTier.sealIndexes(spark, dir, 0L until 64L, Metric.L2, m = 8,
      efConstruction = 64)
    val qrnd = new java.util.Random(33L)
    val qs = (0 until 32).map { qi =>
      val c = qi * 2 % 64
      val v = Array.fill(dim)(qrnd.nextGaussian().toFloat * 0.2f)
      v(0) += 4f * (c % 8); v(1) += 4f * (c / 8)
      (qi.toLong, v, 100000L, 1000000L)
    }
    val qdf = qs.toDF("qid", "qv", "qtime", "ttl")
    def probe(routeEf: Int) = ColdTier.probeCandidates(spark, dir, qdf,
        shortlist = 20, Metric.L2, efSearch = 64, probeSegments = 2,
        routeEf = routeEf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probe(64) == probe(0),
      "graph routing must choose the same probed segments as the linear " +
        "sort on separated cells")
    // narrow window (only segments 0..15 have eventTime <= 1599): the
    // window filter applies after the walk and the fallback keeps exact
    // freshness semantics — graph-routed results == linear under the
    // SAME window
    val nq = qs.map { case (qid, v, _, _) => (qid, v, 1599L, 1599L) }
      .toDF("qid", "qv", "qtime", "ttl")
    def probeNarrow(routeEf: Int) = ColdTier.probeCandidates(spark, dir, nq,
        shortlist = 20, Metric.L2, efSearch = 64, probeSegments = 2,
        routeEf = routeEf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val narrowG = probeNarrow(64)
    assert(narrowG == probeNarrow(0),
      "narrow-window graph routing must equal linear routing")
    assert(narrowG.forall { case (_, id) => id < 16000L },
      "window must exclude every segment sealed after the cut")
  }

  test("EWMA threshold gates under-filled queries only in approximate mode") {
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier-ewma").toString
    // S1: 3 rows at the query point (under-filled for k=5);
    // S2/S3: 20 rows each at increasing distance
    ColdTier.seal(Seq((1L, Array(0f, 0f), 500L), (2L, Array(0.01f, 0f), 501L),
      (3L, Array(0.02f, 0f), 502L)).toDF("id", "vec", "eventTime"), dir, 1L)
    ColdTier.seal((0 until 20).map(i => (100L + i, Array(2f + i * 0.01f, 0f), 510L))
      .toDF("id", "vec", "eventTime"), dir, 2L)
    ColdTier.seal((0 until 20).map(i => (200L + i, Array(10f + i * 0.01f, 0f), 520L))
      .toDF("id", "vec", "eventTime"), dir, 3L)
    val qdf = Seq((9L, Array(0f, 0f), 1000L, 100000L)).toDF("qid", "qv", "qtime", "ttl")
    def run(factor: Double, ewma: Option[Double]) =
      ColdTier.search(spark, dir, qdf, 5, Metric.L2,
        firstWaveFraction = 0.01, terminationFactor = factor,
        ewmaThreshold = ewma).collect()
    // lossless: no per-query threshold (wave 1 found 3 < 5) -> scan all
    assert(run(1.0, None).length == 5)
    // lossless ignores the EWMA — exactness is never traded silently
    assert(run(1.0, Some(0.1)).length == 5)
    // approximate + tight EWMA: far segments pruned, only S1 rows left
    assert(run(0.8, Some(0.1)).map(_.getLong(2)).toSet == Set(1L, 2L, 3L))
    // approximate + loose EWMA: nothing pruned, equals lossless
    assert(run(0.8, Some(1000.0)).length == 5)
  }

  test("learnThreshold: EWMA over per-query kth distances") {
    import spark.implicits._
    val results = Seq((1L, 5, 10L, 4.0), (2L, 5, 11L, 16.0), (1L, 1, 12L, 1.0))
      .toDF("qid", "rn", "id", "dist")
    // kth rows: sqrt(4)=2 and sqrt(16)=4 -> avg 3
    assert(ColdTier.learnThreshold(results, 5, None).contains(3.0))
    // EWMA fold with alpha 0.2: 0.8*10 + 0.2*3
    assert(ColdTier.learnThreshold(results, 5, Some(10.0)).contains(8.6))
    // no kth rows observed -> previous value carried
    assert(ColdTier.learnThreshold(results, 9, Some(7.0)).contains(7.0))
  }

  test("recordHits folds hit counts into the temperature EWMA; hitCounts attributes results") {
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier-temp").toString
    ColdTier.seal(mkVecs(50, 4, 31L, 0L), dir, 1L)    // ids 0..49
    ColdTier.seal(mkVecs(50, 4, 32L, 1000L), dir, 2L) // ids 1000..1049
    val results = Seq((9L, 1, 5L, 0.1), (9L, 2, 1005L, 0.2), (9L, 3, 1010L, 0.3))
      .toDF("qid", "rn", "id", "dist")
    val hits = ColdTier.hitCounts(spark, dir, results)
    assert(hits == Map(1L -> 1L, 2L -> 2L))
    val t1 = ColdTier.recordHits(spark, dir, hits, decay = 0.7)
      .map(s => s.segmentId -> s.temperature).toMap
    assert(math.abs(t1(1L) - 0.3) < 1e-9 && math.abs(t1(2L) - 0.6) < 1e-9)
    val t2 = ColdTier.recordHits(spark, dir, Map(1L -> 10L), decay = 0.7)
      .map(s => s.segmentId -> s.temperature).toMap
    assert(math.abs(t2(1L) - (0.7 * 0.3 + 3.0)) < 1e-9)
    assert(math.abs(t2(2L) - 0.7 * 0.6) < 1e-9)
  }

  test("compressed search: SQ8 scan + exact re-rank, recall >= 0.95 vs lossless; freshness holds") {
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier-sq").toString
    val s1 = mkVecs(300, 8, 31L, 0L)
    val s2 = mkVecs(300, 8, 32L, 1000L)
    val s3 = mkVecs(300, 8, 33L, 2000L)
    ColdTier.seal(s1, dir, 1L); ColdTier.seal(s2, dir, 2L); ColdTier.seal(s3, dir, 3L)
    val sample = s1.unionAll(s2).unionAll(s3).orderBy("id")
      .select("vec").collect().map(_.getSeq[Float](0).toArray)
    val model = graft.ops.Sq.fit(sample)
    (1L to 3L).foreach(sid => ColdTier.sealCodes(spark, dir, sid, model))

    val all = sample.zipWithIndex
    val queries = Seq(10L, 200L, 433L, 777L).zipWithIndex.map { case (i, qi) =>
      (qi.toLong, all(i.toInt)._1, 5000L, 100000L) }
      .toDF("qid", "qv", "qtime", "ttl")
    val exact = ColdTier.search(spark, dir, queries, 10, Metric.L2)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val got = ColdTier.searchCompressed(spark, dir, queries, 10, model,
        shortlist = 50)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val recalls = exact.map { case (q, t) =>
      got.getOrElse(q, Set.empty).count(t.contains).toDouble / t.size }
    info(s"compressed recall@10 per query: ${recalls.mkString(", ")}")
    assert(recalls.sum / recalls.size >= 0.95)

    // freshness: window covering only segment 2 must return only its ids
    val fq = Seq((9L, all(450)._1, 1999L, 999L)).toDF("qid", "qv", "qtime", "ttl")
    val fres = ColdTier.searchCompressed(spark, dir, fq, 5, model, 25)
      .collect().map(_.getLong(2))
    assert(fres.nonEmpty && fres.forall(id => id >= 1000L && id < 2000L))
  }

  test("PQ compressed search: ADC scan + exact re-rank, recall >= 0.95 vs lossless; freshness holds in the kernel") {
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier-pq").toString
    val s1 = mkVecs(300, 8, 41L, 0L)
    val s2 = mkVecs(300, 8, 42L, 1000L)
    val s3 = mkVecs(300, 8, 43L, 2000L)
    ColdTier.seal(s1, dir, 1L); ColdTier.seal(s2, dir, 2L); ColdTier.seal(s3, dir, 3L)
    val sample = s1.unionAll(s2).unionAll(s3).orderBy("id")
      .select("vec").collect().map(_.getSeq[Float](0).toArray)
    val model = graft.ops.Pq.fit(sample, numSub = 4, codesPerSub = 64,
      iterations = 6, seed = 42L)
    (1L to 3L).foreach(sid => ColdTier.sealPqCodes(spark, dir, sid, model))

    val all = sample.zipWithIndex
    val queries = Seq(10L, 200L, 433L, 777L).zipWithIndex.map { case (i, qi) =>
      (qi.toLong, all(i.toInt)._1, 5000L, 100000L) }
      .toDF("qid", "qv", "qtime", "ttl")
    val exact = ColdTier.search(spark, dir, queries, 10, Metric.L2)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val got = ColdTier.searchCompressedPq(spark, dir, queries, 10, model,
        shortlist = 50)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val recalls = exact.map { case (q, t) =>
      got.getOrElse(q, Set.empty).count(t.contains).toDouble / t.size }
    info(s"PQ compressed recall@10 per query: ${recalls.mkString(", ")}")
    assert(recalls.sum / recalls.size >= 0.95)

    // freshness applies INSIDE the ADC kernel: a window covering only
    // segment 2 must shortlist (and return) only its ids
    val fq = Seq((9L, all(450)._1, 1999L, 999L)).toDF("qid", "qv", "qtime", "ttl")
    val fres = ColdTier.searchCompressedPq(spark, dir, fq, 5, model, 25)
      .collect().map(_.getLong(2))
    assert(fres.nonEmpty && fres.forall(id => id >= 1000L && id < 2000L))
  }

  test("filtered compressed scans (SQ8 + PQ): union admission prunes to the query set's labels, equality at the rerank is exact, deletes die") {
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier-comp-filt").toString
    val rnd = new java.util.Random(61L)
    // label-ALIGNED: segment 1 = label 10 (ids 0..299), 2 = label 20,
    // 3 = label 30; eventTime = id
    val all = (0 until 900).map { i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat), i.toLong,
        (i / 300 * 10 + 10).toLong)
    }
    (0 until 3).foreach { sIdx =>
      ColdTier.seal(all.slice(sIdx * 300, sIdx * 300 + 300)
        .toDF("id", "vec", "eventTime", "label"), dir, sIdx + 1L)
    }
    ColdTier.sealAttrStats(spark, dir, "label")
    val sample = all.map(_._2).toArray
    val sq = graft.ops.Sq.fit(sample)
    (1L to 3L).foreach(sid => ColdTier.sealCodes(spark, dir, sid, sq))
    val pq = graft.ops.Pq.fit(sample, numSub = 4, codesPerSub = 64,
      iterations = 6, seed = 42L)
    (1L to 3L).foreach(sid => ColdTier.sealPqCodes(spark, dir, sid, pq))

    // queries ask for labels 10 and 30 only — union admission must
    // keep exactly segments {1, 3}; no sidecar or no filter keeps all
    val q = Seq(
      (0L, all(7)._2, 100000L, 1000000L, 10L),
      (1L, all(700)._2, 100000L, 1000000L, 30L)
    ).toDF("qid", "qv", "qtime", "ttl", "qfilter")
    val cat = ColdTier.catalog(spark, dir)
    assert(ColdTier.unionAdmissible(spark, dir, Some("label"), q, cat)
      .map(_.segmentId).toSet == Set(1L, 3L))
    assert(ColdTier.unionAdmissible(spark, dir, None, q, cat)
      .map(_.segmentId).toSet == Set(1L, 2L, 3L))

    // shortlist >= every admitted row -> the filtered compressed result
    // IS the per-label exact top-k (both compressed paths)
    def truth(qIdx: Int, label: Long, dead: Set[Long] = Set.empty) =
      all.filter(t => t._4 == label && !dead(t._1))
        .map { case (id, v, _, _) => (id, Distances.l2(all(qIdx)._2, v)) }
        .sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toSeq
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().groupBy(_.getLong(0)).map { case (k, rs) =>
        k -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }
    val gotSq = rows(ColdTier.searchCompressed(spark, dir, q, 10, sq,
      shortlist = 900, filterColumn = Some("label"), overfetch = 1))
    assert(gotSq(0L) == truth(7, 10L), s"sq filtered q0: ${gotSq(0L)}")
    assert(gotSq(1L) == truth(700, 30L), s"sq filtered q1: ${gotSq(1L)}")
    val gotPq = rows(ColdTier.searchCompressedPq(spark, dir, q, 10, pq,
      shortlist = 900, filterColumn = Some("label"), overfetch = 1))
    assert(gotPq(0L) == truth(7, 10L), s"pq filtered q0: ${gotPq(0L)}")
    assert(gotPq(1L) == truth(700, 30L), s"pq filtered q1: ${gotPq(1L)}")

    // tombstoned rows die in both compressed filtered paths
    val dead = truth(7, 10L).take(2).toSet
    ColdTier.sealDeletes(dead.toSeq.map(id => (id, 1000000L))
      .toDF("id", "ts"), dir, 0L)
    val gotSqD = rows(ColdTier.searchCompressed(spark, dir, q, 10, sq,
      shortlist = 900, filterColumn = Some("label"), overfetch = 1))
    assert(gotSqD(0L) == truth(7, 10L, dead),
      s"sq filtered post-delete: ${gotSqD(0L)}")
    val gotPqD = rows(ColdTier.searchCompressedPq(spark, dir, q, 10, pq,
      shortlist = 900, filterColumn = Some("label"), overfetch = 1))
    assert(gotPqD(0L) == truth(7, 10L, dead),
      s"pq filtered post-delete: ${gotPqD(0L)}")
  }

  test("hnsw sidecar roundtrip: deserialized graph answers searches identically") {
    val rnd = new java.util.Random(11L)
    val store = new HnswStore(Metric.L2, m = 8, efConstruction = 64, efSearch = 32)
    val vecs = Array.fill(400)(Array.fill(8)(rnd.nextGaussian().toFloat))
    vecs.zipWithIndex.foreach { case (v, i) => store.put(i.toLong, i.toLong, v) }
    store.delete(3L)
    store.put(5L, 500L, vecs(7)) // supersede label 5
    val bytes = new java.io.ByteArrayOutputStream()
    store.writeTo(new java.io.DataOutputStream(bytes))
    val back = HnswStore.readFrom(new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes.toByteArray)), efSearch = 32)
    assert(back.size == store.size)
    (0 until 20).foreach { _ =>
      val q = Array.fill(8)(rnd.nextGaussian().toFloat)
      val a = store.search(q, 10, 0L, Long.MaxValue).toSeq
      val b = back.search(q, 10, 0L, Long.MaxValue).toSeq
      assert(a == b, "full-window search must match")
      // freshness window + deletes/supersedes survive the roundtrip
      val af = store.search(q, 10, 100L, 300L).toSeq
      val bf = back.search(q, 10, 100L, 300L).toSeq
      assert(af == bf, "windowed search must match")
      assert(!b.exists(_._1 == 3L), "deleted label must stay deleted")
    }
  }

  test("searchIndexed: sidecar probe + exact rerank, recall >= 0.9; scan fallback when a sidecar is missing") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtierhnsw").toString
    // clustered data (pure-random caps any graph's recall by construction)
    val rnd = new java.util.Random(13L)
    val centers = Array.fill(8)(Array.fill(8)(rnd.nextGaussian().toFloat * 3f))
    val all = (0 until 900).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(_ + rnd.nextGaussian().toFloat * 0.3f), i.toLong)
    }
    (0 until 3).foreach { sid =>
      ColdTier.seal(all.filter(_._1 % 3 == sid).toDF("id", "vec", "eventTime"),
        dir, sid.toLong)
    }
    ColdTier.sealIndexes(spark, dir, 0L until 3L, Metric.L2, m = 8,
      efConstruction = 64)
    val queries = all.indices.by(90).map { i =>
      (i.toLong, all(i)._2, Long.MaxValue / 2, Long.MaxValue / 2)
    }.toDF("qid", "qv", "qtime", "ttl")
    def recallOf(got: Map[Long, Seq[Long]]): Double = {
      val hits = got.map { case (qid, ids) =>
        val qv = all(qid.toInt)._2
        val want = all.map { case (id, v, _) => (id, Distances.l2(qv, v)) }
          .sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toSet
        ids.count(want).toDouble / 10
      }
      hits.sum / hits.size
    }
    def run() = ColdTier.searchIndexed(spark, dir, queries, 10, Metric.L2,
        shortlist = 30, efSearch = 64)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }
    val got = run()
    assert(got.size == queries.count())
    assert(got.values.forall(_.size == 10))
    assert(recallOf(got) >= 0.9, s"recall ${recallOf(got)}")
    assert(run() == got, "probe must be deterministic")
    // drop one sidecar: its segment degrades to the exact scan path —
    // results stay complete and recall cannot get worse for that segment
    val gone = new java.io.File(s"$dir/segment-2-hnsw")
    assert(gone.delete(), "sidecar file must exist to be deleted")
    val mixed = run()
    assert(mixed.size == got.size)
    assert(mixed.values.forall(_.size == 10))
    assert(recallOf(mixed) >= 0.9, s"mixed recall ${recallOf(mixed)}")
  }

  test("sealMany: one-pass batch seal is equivalent to per-segment seal (catalog stats + search results)") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val dirA = Files.createTempDirectory("coldtier-many-a").toString
    val dirB = Files.createTempDirectory("coldtier-many-b").toString
    val all = mkVecs(600, 8, 77L, 0L)
      .withColumn("segmentId", pmod(col("id"), lit(3)).cast("long"))
    (0 until 3).foreach { sid =>
      ColdTier.seal(all.where(col("segmentId") === sid)
        .select("id", "vec", "eventTime"), dirA, sid.toLong)
    }
    val statsB = ColdTier.sealMany(all, dirB)
    val statsA = ColdTier.catalog(spark, dirA).sortBy(_.segmentId)
    assert(statsB.map(_.segmentId).toSeq == statsA.map(_.segmentId).toSeq)
    statsA.zip(statsB.sortBy(_.segmentId)).foreach { case (a, b) =>
      assert(a.count == b.count && a.minTs == b.minTs && a.maxTs == b.maxTs)
      assert(a.centroid.zip(b.centroid).forall { case (x, y) =>
        math.abs(x - y) < 1e-4f }, s"centroid drift seg ${a.segmentId}")
      assert(math.abs(a.radius - b.radius) < 1e-6,
        s"radius drift seg ${a.segmentId}")
    }
    // data files must carry the segmentId column (scan paths select it)
    val cols = spark.read.parquet(s"$dirB/segment-0").columns.toSet
    assert(cols == Set("segmentId", "id", "vec", "eventTime"))
    val qv = all.select("vec").collect()(11).getSeq[Float](0).toArray
    val queries = Seq((1L, qv, 5000L, 100000L)).toDF("qid", "qv", "qtime", "ttl")
    def run(d: String) = ColdTier.search(spark, d, queries, 10, Metric.L2,
        firstWaveFraction = 0.34, terminationFactor = 1.0)
      .collect().sortBy(_.getInt(1)).map(r => (r.getLong(2), r.getDouble(3))).toSeq
    assert(run(dirB) == run(dirA))
  }

  test("consumed marker: flush ids removed by compact/recluster/evict stay committed for catalogContains") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier-consumed").toString
    ColdTier.seal(mkVecs(200, 8, 1L, 0L), dir, 0L)
    ColdTier.seal(mkVecs(200, 8, 2L, 1000L), dir, 1L)
    assert(ColdTier.catalogContains(spark, dir, 0L))
    // compaction merges both flush segments away
    ColdTier.compact(spark, dir, targetRows = 1000L)
    val cat = ColdTier.catalog(spark, dir)
    assert(cat.length == 1 && cat.head.segmentId >= ColdTier.CompactionIdBase)
    // the catalog rows are gone, but the flush commit predicate holds —
    // a re-executed micro-batch must NOT re-seal its rows
    assert(ColdTier.catalogContains(spark, dir, 0L),
      "compaction-consumed flush id lost its commit")
    assert(ColdTier.catalogContains(spark, dir, 1L))
    assert(!ColdTier.catalogContains(spark, dir, 7L))
    // recluster consumes whatever it rewrites (incl. reserved-id members:
    // only flush-namespace ids are recorded, reserved ones never collide)
    ColdTier.seal(mkVecs(100, 8, 3L, 2000L), dir, 2L)
    ColdTier.recluster(spark, dir, numCells = 2, m = 8, efConstruction = 32)
    assert(ColdTier.catalogContains(spark, dir, 2L),
      "recluster-consumed flush id lost its commit")
    // evict drops whole segments past retention — same contract
    ColdTier.seal(mkVecs(50, 8, 4L, 3000L), dir, 3L)
    ColdTier.evict(spark, dir, retentionFloor = Long.MaxValue)
    ColdTier.gc(spark, dir)
    assert(ColdTier.catalogContains(spark, dir, 3L),
      "evicted flush id lost its commit")
  }

  test("recluster: time-accreted tier re-seals cell-aligned through the atomic swap — same search results, reserved ids, victims gc'ed, routing gains structure") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier-recluster").toString
    // four well-separated clusters INTERLEAVED across four time-ordered
    // flush segments — the streaming layout, where every segment centroid
    // is near the global mean and centroid routing has no signal
    val rnd = new java.util.Random(31L)
    val centers = Array.tabulate(4) { c =>
      Array.tabulate(8)(d => if (d == c * 2) 20f else 0f)
    }
    val all = (0 until 800).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(_ + rnd.nextGaussian().toFloat * 0.3f), i.toLong)
    }
    (0 until 4).foreach { sid =>
      ColdTier.seal(all.slice(sid * 200, sid * 200 + 200)
        .toDF("id", "vec", "eventTime"), dir, sid.toLong)
    }
    // a delete log: recluster must apply it physically
    ColdTier.sealDeletes(all.filter(_._1 % 19 == 2)
      .map { case (id, _, ts) => (id, ts) }.toDF("id", "ts"), dir, 0L)
    val survivors = all.filterNot(_._1 % 19 == 2)
    val queries = all.indices.by(83).map { i =>
      (i.toLong, all(i)._2, Long.MaxValue / 2, Long.MaxValue / 2)
    }.toDF("qid", "qv", "qtime", "ttl")
    def lossless() = ColdTier.search(spark, dir, queries, 10, Metric.L2,
        firstWaveFraction = 1.0, terminationFactor = 1.0)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }
    val before = lossless()

    val out = ColdTier.recluster(spark, dir, numCells = 4, Metric.L2,
      m = 8, efConstruction = 64)
    // reserved namespace + old files gone + row multiset preserved
    assert(out.forall(_.segmentId >= ColdTier.CompactionIdBase))
    (0 until 4).foreach { sid =>
      assert(!new java.io.File(s"$dir/segment-$sid").exists(),
        s"victim segment-$sid survived gc")
    }
    assert(out.map(_.count).sum == survivors.length)
    assert(lossless() == before, "recluster changed lossless results")
    // cell alignment: with separated clusters each new segment holds one
    // cluster, so the cap-1 routed fast path equals exact brute force
    val got = ColdTier.searchIndexedFast(spark, dir, queries, 10, Metric.L2,
        efSearch = 64, probeSegments = 1, shortlist = 30)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }
    queries.collect().foreach { qr =>
      val (qid, qv) = (qr.getLong(0), qr.getSeq[Float](1).toArray)
      val want = survivors.map { case (id, v, _) =>
        (id, Distances.l2(qv, v)) }
        .sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toSeq
      assert(got(qid) == want, s"qid $qid routed-fast diverged post-recluster")
    }
    // the consolidated delete log survives (future flushes may carry
    // covered rows)
    assert(ColdTier.tombstones(spark, dir).isDefined)
  }

  test("probeSegments routing: each query probes only its nearest-centroid segments; structure-aligned segments keep exactness at cap 1") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtierroute").toString
    // four WELL-SEPARATED clusters, one segment each (ids partitioned by
    // cluster: segment s holds ids [s*250, s*250+250)) — the layout
    // vector-space sealing produces, where segment centroids carry real
    // routing signal
    val rnd = new java.util.Random(29L)
    val centers = Array.tabulate(4) { c =>
      Array.tabulate(8)(d => if (d == c * 2) 20f else 0f)
    }
    val all = (0 until 1000).map { i =>
      val c = centers(i / 250)
      (i.toLong, c.map(_ + rnd.nextGaussian().toFloat * 0.3f), i.toLong)
    }
    (0 until 4).foreach { sid =>
      ColdTier.seal(
        all.slice(sid * 250, sid * 250 + 250).toDF("id", "vec", "eventTime"),
        dir, sid.toLong)
    }
    ColdTier.sealIndexes(spark, dir, 0L until 4L, Metric.L2, m = 8,
      efConstruction = 64)
    val queries = all.indices.by(97).map { i =>
      (i.toLong, all(i)._2, Long.MaxValue / 2, Long.MaxValue / 2)
    }.toDF("qid", "qv", "qtime", "ttl")
    // cap 1: candidates come ONLY from the query's own cluster's segment
    val cand1 = ColdTier.probeCandidates(spark, dir, queries, shortlist = 30,
      Metric.L2, efSearch = 64, probeSegments = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cand1.nonEmpty)
    assert(cand1.forall { case (qid, id) => id / 250 == qid / 250 },
      "a routed candidate crossed into a far segment")
    // separation => the global top-10 lives in the query's own cluster,
    // so the cap-1 routed search must EQUAL exact brute force
    val got = ColdTier.searchIndexed(spark, dir, queries, 10, Metric.L2,
        shortlist = 30, efSearch = 64, probeSegments = 1)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }
    queries.collect().foreach { qr =>
      val (qid, qv) = (qr.getLong(0), qr.getSeq[Float](1).toArray)
      val want = all.map { case (id, v, _) => (id, Distances.l2(qv, v)) }
        .sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toSeq
      assert(got(qid) == want, s"qid $qid routed result diverged from exact")
    }
    // cap >= segment count degrades to the exhaustive default bit-for-bit
    val exhaustive = ColdTier.probeCandidates(spark, dir, queries, 30,
      Metric.L2, 64).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = ColdTier.probeCandidates(spark, dir, queries, 30,
      Metric.L2, 64, probeSegments = 99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == exhaustive)
    // the fast path (graph distances merged directly, no hydration scan)
    // returns the same ids in the same order on the separated clusters
    val fast = ColdTier.searchIndexedFast(spark, dir, queries, 10, Metric.L2,
        efSearch = 64, probeSegments = 1)
      .collect().groupBy(_.getLong(0))
      .map { case (qd, rs) => qd -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }
    assert(fast == got, "fast path ids diverged from the re-ranked path")
  }

  test("sharded sidecars: over-bound segment seals as committed shard graphs, probe unions shard shortlists, uncommitted dir reads as no-index") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtiershard").toString
    val rnd = new java.util.Random(17L)
    val centers = Array.fill(8)(Array.fill(8)(rnd.nextGaussian().toFloat * 3f))
    val all = (0 until 900).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(_ + rnd.nextGaussian().toFloat * 0.3f), i.toLong)
    }
    ColdTier.seal(all.toDF("id", "vec", "eventTime"), dir, 0L)
    ColdTier.sealIndexes(spark, dir, Seq(0L), Metric.L2, m = 8,
      efConstruction = 64, maxGraphRows = 200)
    // layout: a directory of shard graphs committed by the marker
    val idx = new java.io.File(s"$dir/segment-0-hnsw")
    assert(idx.isDirectory, "over-bound segment must seal as a shard dir")
    val shards = idx.listFiles().map(_.getName).filter(_.startsWith("shard-"))
    assert(shards.length == 5, s"900 rows / 200 bound -> 5 shards, got ${shards.toSeq}")
    assert(new java.io.File(idx, "_SEALED").exists(), "marker must commit the dir")
    val queries = all.indices.by(90).map { i =>
      (i.toLong, all(i)._2, Long.MaxValue / 2, Long.MaxValue / 2)
    }.toDF("qid", "qv", "qtime", "ttl")
    def recallOf(got: Map[Long, Seq[Long]]): Double = {
      val hits = got.map { case (qid, ids) =>
        val qv = all(qid.toInt)._2
        val want = all.map { case (id, v, _) => (id, Distances.l2(qv, v)) }
          .sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toSet
        ids.count(want).toDouble / 10
      }
      hits.sum / hits.size
    }
    def run() = ColdTier.searchIndexed(spark, dir, queries, 10, Metric.L2,
        shortlist = 30, efSearch = 64)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }
    val got = run()
    assert(got.size == queries.count())
    assert(got.values.forall(_.size == 10))
    assert(recallOf(got) >= 0.9, s"sharded recall ${recallOf(got)}")
    assert(run() == got, "sharded probe must be deterministic")
    // un-commit the dir: reads as no index -> exact scan fallback, complete
    assert(new java.io.File(idx, "_SEALED").delete())
    val scanned = run()
    assert(scanned.size == got.size && scanned.values.forall(_.size == 10))
    assert(recallOf(scanned) == 1.0, "scan fallback is exact")
    // re-seal converges: marker restored, probe answers again
    ColdTier.sealIndexes(spark, dir, Seq(0L), Metric.L2, m = 8,
      efConstruction = 64, maxGraphRows = 200)
    assert(new java.io.File(idx, "_SEALED").exists())
    assert(run() == got, "re-seal must reproduce the deterministic graph probe")
    // an at-bound segment keeps the single-file layout
    ColdTier.sealIndexes(spark, dir, Seq(0L), Metric.L2, m = 8,
      efConstruction = 64, maxGraphRows = 900)
    assert(new java.io.File(s"$dir/segment-0-hnsw").isFile,
      "at-or-under-bound segment must stay a single graph file")
  }

  test("gc removes evicted segments' files incl. -codes/-hnsw companions; survivors keep answering") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtiergc").toString
    ColdTier.seal(mkVecs(200, 8, 21L, 0L), dir, 1L)
    ColdTier.seal(mkVecs(200, 8, 22L, 10000L), dir, 2L)
    ColdTier.sealIndexes(spark, dir, Seq(1L, 2L), Metric.L2, m = 8,
      efConstruction = 32)
    val model = graft.ops.Sq.fit(
      mkVecs(200, 8, 21L, 0L).select(col("vec")).as[Array[Float]].collect())
    ColdTier.sealCodes(spark, dir, 1L, model)
    ColdTier.evict(spark, dir, 5000L) // drops segment 1 from the catalog
    val deleted = ColdTier.gc(spark, dir)
    val names = deleted.map(p => new java.io.File(p).getName).toSet
    // -attrs: payload-less seals write an explicit EMPTY marker since
    // r15 (the legacy-vs-v1 sentinel), and gc sweeps it with the rest
    assert(names == Set("segment-1", "segment-1-codes", "segment-1-hnsw",
        "segment-1-attrs"),
      s"deleted $names")
    assert(new java.io.File(s"$dir/segment-2").exists())
    assert(new java.io.File(s"$dir/segment-2-hnsw").exists())
    // the surviving segment still answers through both paths
    val queries = Seq((1L, Array.fill(8)(0f), 10100L, 1000L))
      .toDF("qid", "qv", "qtime", "ttl")
    assert(ColdTier.search(spark, dir, queries, 5, Metric.L2).count() == 5)
    assert(ColdTier.searchIndexed(spark, dir, queries, 5, Metric.L2,
      shortlist = 10).count() == 5)
  }

  test("catalog falls back to .tmp when a crash interrupts evict's swap") {
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier-crash").toString
    ColdTier.seal(mkVecs(50, 4, 21L, 0L), dir, 1L)
    ColdTier.seal(mkVecs(50, 4, 22L, 10000L), dir, 2L)
    // simulate the crash window: tmp written, live deleted, rename missed
    val stats = new org.apache.hadoop.fs.Path(s"$dir/_segments")
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/_segments.tmp")
    val fs = stats.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val keep = ColdTier.catalog(spark, dir).filter(_.maxTs >= 5000L)
    keep.toSeq.toDF().write.mode("overwrite").parquet(tmp.toString)
    fs.delete(stats, true)
    assert(ColdTier.catalog(spark, dir).map(_.segmentId).toList == List(2L))
  }

  test("compact merges adjacent small segments: bit-identical search, victims gc'ed, sidecars+codes carried") {
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier-compact").toString
    // six time-adjacent 100-row segments — the accreted-flushes shape
    val segData = (0 until 6).map(i => mkVecs(100, 8, 40L + i, i * 1000L))
    segData.zipWithIndex.foreach { case (df, i) =>
      ColdTier.seal(df, dir, i.toLong)
    }
    ColdTier.sealIndexes(spark, dir, 0L until 6L, Metric.L2, m = 8,
      efConstruction = 64)
    val sample = segData.reduce(_ unionAll _).orderBy("id")
      .select("vec").collect().map(_.getSeq[Float](0).toArray)
    val model = graft.ops.Sq.fit(sample)
    (0L until 6L).foreach(sid => ColdTier.sealCodes(spark, dir, sid, model))

    val queries = Seq((1L, sample(42), 100000L, 10000000L),
      (2L, sample(444), 100000L, 10000000L)).toDF("qid", "qv", "qtime", "ttl")
    def results() = ColdTier.search(spark, dir, queries, 10, Metric.L2,
        firstWaveFraction = 0.34, terminationFactor = 1.0)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).sortBy(t => (t._1, t._2)).toList
    val before = results()

    // 600 rows / target 300 -> two merged segments of three members each
    val out = ColdTier.compact(spark, dir, targetRows = 300L,
      sqModel = Some(model))
    assert(out.length == 2)
    assert(out.map(_.count).sum == 600L)
    assert(out.forall(_.segmentId > 5L), "merged ids continue past the max")
    assert(ColdTier.catalog(spark, dir).map(_.segmentId).sorted.toList ==
      out.map(_.segmentId).sorted.toList)
    // windows stayed tight per group (adjacency-only merging)
    assert(out.sortBy(_.minTs).map(s => (s.minTs, s.maxTs)).toList ==
      List((0L, 2099L), (3000L, 5099L)))
    val names = new java.io.File(dir).list().toSet
    (0 until 6).foreach(i => assert(!names.contains(s"segment-$i"),
      s"victim segment-$i should be gc'ed"))
    out.foreach { s =>
      assert(names.contains(s"segment-${s.segmentId}"))
      assert(names.contains(s"segment-${s.segmentId}-hnsw"),
        "all members indexed -> merged segment indexed")
      assert(names.contains(s"segment-${s.segmentId}-codes"),
        "all members coded + model supplied -> merged segment coded")
    }
    assert(results() == before, "lossless search identical pre/post compaction")
    // compressed path still answers through the carried codes
    assert(ColdTier.searchCompressed(spark, dir, queries, 10, model,
      shortlist = 30).count() == 20)
    // indexed probe path still answers through the carried sidecars
    assert(ColdTier.searchIndexed(spark, dir, queries, 10, Metric.L2,
      shortlist = 30).count() == 20)
  }

  test("sidecar cache sweeps dead graphs on the next miss after compact+gc") {
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier-cachesweep").toString
    val segData = (0 until 4).map(i => mkVecs(100, 8, 50L + i, i * 1000L))
    segData.zipWithIndex.foreach { case (df, i) =>
      ColdTier.seal(df, dir, i.toLong)
    }
    ColdTier.sealIndexes(spark, dir, 0L until 4L, Metric.L2, m = 8,
      efConstruction = 32)
    val q = segData.head.orderBy("id").limit(1)
      .select("vec").collect()(0).getSeq[Float](0).toArray
    val queries = Seq((1L, q, 100000L, 10000000L))
      .toDF("qid", "qv", "qtime", "ttl")
    // populate the executor-local cache with all four sidecars
    ColdTier.searchIndexed(spark, dir, queries, 5, Metric.L2,
      shortlist = 10).count()
    val oldPaths = (0 until 4).map(i => s"$dir/segment-$i-hnsw")
    assert(oldPaths.exists(p =>
        ColdTier.sidecarCachePaths.exists(_.endsWith(new java.io.File(p).getName))),
      "setup: old sidecars should be cached after the first probe")
    // compact gc's the victims; their sidecar files are gone
    ColdTier.compact(spark, dir, targetRows = 200L)
    assert(oldPaths.forall(p => !new java.io.File(p).exists()))
    // next probe misses on the merged segments' sidecars -> sweep runs
    ColdTier.searchIndexed(spark, dir, queries, 5, Metric.L2,
      shortlist = 10).count()
    val dead = ColdTier.sidecarCachePaths.filterNot { p =>
      try new org.apache.hadoop.fs.Path(p)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(new org.apache.hadoop.fs.Path(p))
      catch { case _: Exception => false }
    }
    assert(dead.isEmpty, s"cache holds graphs of gc'ed segments: $dead")
  }

  test("delete log: tombstones shadow flushed rows in every search path, versioned; compact applies them physically and consolidates the log") {
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier-tomb").toString
    val segData = (0 until 2).map(i => mkVecs(100, 8, 70L + i, i * 1000L))
    segData.zipWithIndex.foreach { case (df, i) =>
      ColdTier.seal(df, dir, i.toLong)
    }
    ColdTier.sealIndexes(spark, dir, 0L until 2L, Metric.L2, m = 8,
      efConstruction = 64)
    val all = segData.reduce(_ unionAll _).orderBy("id")
      .select("id", "vec", "eventTime").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getLong(2)))
    // query vector = exact copy of row 0 -> that id is the #1 hit
    val target = all(0)
    val queries = Seq((1L, target._2, 100000L, 10000000L))
      .toDF("qid", "qv", "qtime", "ttl")
    def scanIds() = ColdTier.search(spark, dir, queries, 5, Metric.L2,
      firstWaveFraction = 1.0, terminationFactor = 1.0)
      .collect().sortBy(_.getInt(1)).map(_.getLong(2)).toList
    def probeIds() = ColdTier.searchIndexed(spark, dir, queries, 5,
      Metric.L2, shortlist = 30)
      .collect().sortBy(_.getInt(1)).map(_.getLong(2)).toList
    assert(scanIds().head == target._1)
    assert(probeIds().head == target._1)

    // a tombstone OLDER than the row must NOT shadow it (versioned)
    assert(ColdTier.sealDeletes(
      Seq((target._1, target._3 - 1)).toDF("id", "ts"), dir, 100L))
    assert(scanIds().head == target._1, "older tombstone must not shadow")
    // a tombstone at ts >= row ts kills it in scan AND probe paths
    assert(ColdTier.sealDeletes(
      Seq((target._1, target._3)).toDF("id", "ts"), dir, 101L))
    assert(!scanIds().contains(target._1), "scan path must honor tombstone")
    assert(!probeIds().contains(target._1), "probe path must honor tombstone")
    // idempotent re-seal of the same batch
    assert(!ColdTier.sealDeletes(
      Seq((999L, 999L)).toDF("id", "ts"), dir, 101L))

    // compressed path honors tombstones pre-shortlist
    val sample = all.map(_._2)
    val model = graft.ops.Sq.fit(sample)
    (0L until 2L).foreach(sid => ColdTier.sealCodes(spark, dir, sid, model))
    val comp = ColdTier.searchCompressed(spark, dir, queries, 5, model,
        shortlist = 30)
      .collect().map(_.getLong(2)).toList
    assert(!comp.contains(target._1), "compressed path must honor tombstone")

    // compact rewrites groups minus tombstoned rows and consolidates the
    // log to one max-ts entry per id
    val out = ColdTier.compact(spark, dir, targetRows = 1000L,
      sqModel = Some(model))
    assert(out.length == 1)
    assert(out.head.count == 199L, "tombstoned row physically dropped")
    val gotIds = spark.read.parquet(out.map(_.path): _*)
      .select("id").as[Long].collect().toSet
    assert(!gotIds.contains(target._1))
    val log = ColdTier.tombstones(spark, dir).get.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toList
    assert(log.filter(_._1 == target._1) == List((target._1, target._3)),
      s"log must consolidate to max-ts per id: $log")
    assert(!scanIds().contains(target._1), "still shadowed post-compact")
  }

  test("tombstone anti-join falls back to a shuffled join past the broadcast budget — bit-equal results") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier-tombgate").toString
    val segData = (0 until 2).map(i => mkVecs(100, 8, 90L + i, i * 1000L))
    segData.zipWithIndex.foreach { case (df, i) =>
      ColdTier.seal(df, dir, i.toLong)
    }
    ColdTier.sealIndexes(spark, dir, 0L until 2L, Metric.L2, m = 8,
      efConstruction = 64)
    val all = segData.reduce(_ unionAll _).orderBy("id")
      .select("id", "vec", "eventTime").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getLong(2)))
    // tombstone every 7th id at its own event time (covers it)
    ColdTier.sealDeletes(all.filter(_._1 % 7 == 0).map(t => (t._1, t._3))
      .toSeq.toDF("id", "ts"), dir, 50L)
    val queries = Seq((1L, all(0)._2, 100000L, 10000000L),
      (2L, all(150)._2, 100000L, 10000000L)).toDF("qid", "qv", "qtime", "ttl")
    def scanRes() = ColdTier.search(spark, dir, queries, 10, Metric.L2,
        firstWaveFraction = 1.0, terminationFactor = 1.0)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).sortBy(t => (t._1, t._2)).toList
    def probeRes() = ColdTier.searchIndexed(spark, dir, queries, 10,
        Metric.L2, shortlist = 30)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).sortBy(t => (t._1, t._2)).toList
    val wantScan = scanRes()
    val wantProbe = probeRes()
    assert(wantScan.forall(t => t._3 % 7 != 0), "tombstones must shadow")
    spark.conf.set(ColdTier.TombstoneBroadcastMaxBytesKey, "1")
    try {
      assert(scanRes() == wantScan, "shuffled fallback must be bit-equal (scan)")
      assert(probeRes() == wantProbe, "shuffled fallback must be bit-equal (probe)")
      // and it actually shuffles: the log join is no longer a broadcast
      val df = ColdTier.search(spark, dir, queries, 10, Metric.L2,
        firstWaveFraction = 1.0, terminationFactor = 1.0)
      df.collect()
      def fin(p: org.apache.spark.sql.execution.SparkPlan)
          : org.apache.spark.sql.execution.SparkPlan = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          fin(a.executedPlan)
        case other => other
      }
      val s = fin(df.queryExecution.executedPlan).toString
      assert(s.contains("ShuffledHashJoin") || s.contains("SortMergeJoin"),
        "expected a shuffled anti-join under a 1-byte broadcast budget")
    } finally spark.conf.unset(ColdTier.TombstoneBroadcastMaxBytesKey)
  }

  test("catalogContains: the catalog row — not the segment dir — is the flush commit predicate") {
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier-commit").toString
    ColdTier.seal(mkVecs(50, 4, 95L, 0L), dir, 1L)
    assert(ColdTier.catalogContains(spark, dir, 1L))
    assert(!ColdTier.catalogContains(spark, dir, 2L))
    // orphan dir: a crash between writeSegment and the catalog append
    // leaves the files with no catalog row — NOT a committed flush
    mkVecs(10, 4, 96L, 100L)
      .select(lit(2L).as("segmentId"), col("id"), col("vec"), col("eventTime"))
      .write.parquet(s"$dir/segment-2")
    assert(!ColdTier.catalogContains(spark, dir, 2L),
      "orphan segment dir must not read as committed")
    // re-sealing over the orphan converges (overwrite-mode write)
    ColdTier.seal(mkVecs(10, 4, 96L, 100L), dir, 2L)
    assert(ColdTier.catalogContains(spark, dir, 2L))
    assert(ColdTier.catalog(spark, dir).length == 2)
  }

  test("compact is a no-op when every segment already meets the target") {
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier-noop").toString
    (0 until 3).foreach(i =>
      ColdTier.seal(mkVecs(100, 4, 50L + i, i * 1000L), dir, i.toLong))
    val out = ColdTier.compact(spark, dir, targetRows = 50L)
    assert(out.map(_.segmentId).toList == List(0L, 1L, 2L))
    val names = new java.io.File(dir).list().toSet
    (0 until 3).foreach(i => assert(names.contains(s"segment-$i")))
  }

  test("compact with a retention floor drops expired rows inside surviving segments") {
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier-floor").toString
    val segData = (0 until 3).map(i => mkVecs(100, 8, 60L + i, i * 1000L))
    segData.zipWithIndex.foreach { case (df, i) =>
      ColdTier.seal(df, dir, i.toLong)
    }
    // all three merge into one; rows older than ts 1050 are evicted
    val out = ColdTier.compact(spark, dir, targetRows = 1000L,
      retentionFloor = 1050L)
    assert(out.length == 1)
    assert(out.head.count == 150L, "50 survivors of seg1 + all of seg2")
    assert(out.head.minTs == 1050L && out.head.maxTs == 2099L)
    val qv = Array.fill(8)(0f)
    val queries = Seq((1L, qv, 100000L, 10000000L))
      .toDF("qid", "qv", "qtime", "ttl")
    val got = ColdTier.search(spark, dir, queries, 200, Metric.L2)
      .collect().map(_.getLong(2))
    assert(got.length == 150 && got.forall(_ >= 1050L))
  }

  test("snapshot: pinned reads survive deletes, flushes, and compaction; gc protects pinned files until dropSnapshot") {
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier-snap").toString
    (0 until 3).foreach(i =>
      ColdTier.seal(mkVecs(200, 8, 70L + i, i * 1000L), dir, i.toLong))
    val qv = mkVecs(1, 8, 99L, 0L).collect()(0).getSeq[Float](1).toArray
    val queries = Seq((1L, qv, 100000L, 10000000L))
      .toDF("qid", "qv", "qtime", "ttl")
    def run(snap: Option[Long]) =
      ColdTier.search(spark, dir, queries, 20, Metric.L2,
          firstWaveFraction = 0.34, terminationFactor = 1.0, snapshot = snap)
        .collect().sortBy(_.getInt(1)).map(r => (r.getLong(2), r.getDouble(3)))
    val before = run(None)

    val v0 = ColdTier.snapshot(spark, dir)
    assert(v0 == 0L && ColdTier.snapshots(spark, dir) == Seq(0L))

    // mutate the live tier every way at once: tombstone a stripe, flush a
    // fourth segment, then compact (rewrites + gc's the originals and
    // consolidates the delete log)
    ColdTier.sealDeletes(
      spark.range(0, 4000).select(col("id"), lit(100000L).as("ts"))
        .where(col("id") % 7 === 3), dir, 0L)
    ColdTier.seal(mkVecs(200, 8, 73L, 3000L), dir, 3L)
    ColdTier.compact(spark, dir, targetRows = 10000L)
    assert(ColdTier.catalog(spark, dir).length == 1)

    // live read reflects every mutation; pinned read reflects none
    val live = run(None)
    assert(live.forall { case (id, _) => id % 7 != 3 })
    assert(run(Some(v0)).sameElements(before),
      "snapshot read must equal the pre-mutation result bit-for-bit")

    // pre-merge files still on disk (gc kept them for the snapshot)...
    val names = new java.io.File(dir).list().toSet
    assert(Seq("segment-0", "segment-1", "segment-2").forall(names))
    // ...and reclaimed once the pin is dropped
    assert(ColdTier.dropSnapshot(spark, dir, v0))
    ColdTier.gc(spark, dir)
    val after = new java.io.File(dir).list().toSet
    assert(Seq("segment-0", "segment-1", "segment-2").forall(n => !after(n)))
    assert(run(None).sameElements(live), "live reads unaffected by the drop")
  }

  test("filtered search: per-query label filter equals per-label brute " +
      "force; attributes survive compaction") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier-flt").toString
    val dim = 8
    val rnd = new java.util.Random(11L)
    val all = (0 until 900).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat), i.toLong,
        (i % 5).toLong)
    }
    // three small segments sealed WITH the label attribute column
    (0 until 3).foreach { s =>
      ColdTier.seal(
        all.filter(_._1 % 3 == s).toDF("id", "vec", "eventTime", "label"),
        dir, s.toLong)
    }

    def brute(qv: Array[Float], label: Long, k: Int): Seq[Long] =
      all.filter(_._4 == label)
        .map { case (id, v, _, _) => (id, Distances.l2(qv, v)) }
        .sortBy { case (id, d) => (d, id) }.take(k).map(_._1)

    val queries = (0 until 20).map { qi =>
      val (_, qv, _, _) = all(qi * 37)
      (qi.toLong, qv, 100000L, 1000000L, (qi % 5).toLong)
    }.toDF("qid", "qv", "qtime", "ttl", "qfilter")

    def got() = ColdTier.search(spark, dir, queries, 10, Metric.L2,
        firstWaveFraction = 0.34, terminationFactor = 1.0,
        filterColumn = Some("label"))
      .collect().groupBy(_.getLong(0))
      .map { case (q, rows) =>
        q -> rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
      }

    val before = got()
    (0 until 20).foreach { qi =>
      assert(before(qi.toLong) == brute(all(qi * 37)._2, qi % 5, 10),
        s"query $qi filtered result != per-label brute force")
    }

    // compaction preserves attribute columns: same filtered answers after
    ColdTier.compact(spark, dir, targetRows = 10000L)
    assert(ColdTier.catalog(spark, dir).length == 1)
    assert(got() == before,
      "filtered results must be unchanged by compaction")

    // cross-typed equality keeps SQL coercion semantics: a DOUBLE
    // qfilter against the LONG label column must match numerically
    // (1.0 == 1), not as the strings "1.0" vs "1" — the kernel casts
    // both sides to their tightest common type first
    val qDouble = (0 until 20).map { qi =>
      val (_, qv, _, _) = all(qi * 37)
      (qi.toLong, qv, 100000L, 1000000L, (qi % 5).toDouble)
    }.toDF("qid", "qv", "qtime", "ttl", "qfilter")
    val gotDouble = ColdTier.search(spark, dir, qDouble, 10, Metric.L2,
        firstWaveFraction = 0.34, terminationFactor = 1.0,
        filterColumn = Some("label"))
      .collect().groupBy(_.getLong(0))
      .map { case (q, rows) =>
        q -> rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
      }
    assert(gotDouble == before,
      "double qfilter vs long label must coerce numerically")
  }

  test("attr-stats pruning: a label-aligned tier plans probes only into admissible segments, results stay per-label exact") {
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier-attrprune").toString
    val dim = 8
    val rnd = new java.util.Random(17L)
    val nLabels = 5
    val all = (0 until 1000).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat), i.toLong,
        (i % nLabels).toLong)
    }
    // label-ALIGNED seal: one segment per label (the recluster-key
    // layout the pruning doc promises), then the stats sidecar
    ColdTier.sealMany(all.toDF("id", "vec", "eventTime", "label")
      .withColumn("segmentId", col("label")), dir)
    ColdTier.sealAttrStats(spark, dir, "label")

    def brute(qv: Array[Float], label: Long, k: Int): Seq[Long] =
      all.filter(_._4 == label)
        .map { case (id, v, _, _) => (id, Distances.l2(qv, v)) }
        .sortBy { case (id, d) => (d, id) }.take(k).map(_._1)

    val nQ = 20
    val queries = (0 until nQ).map { qi =>
      val (_, qv, _, _) = all(qi * 41)
      (qi.toLong, qv, 100000L, 1000000L, (qi % nLabels).toLong)
    }.toDF("qid", "qv", "qtime", "ttl", "qfilter")

    val stats = scala.collection.mutable.Map.empty[String, Long]
    val got = ColdTier.search(spark, dir, queries, 10, Metric.L2,
        firstWaveFraction = 1.0, terminationFactor = 1.0,
        filterColumn = Some("label"), searchStats = Some(stats))
      .collect().groupBy(_.getLong(0))
      .map { case (qid, rows) =>
        qid -> rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
      }
    (0 until nQ).foreach { qi =>
      assert(got(qi.toLong) == brute(all(qi * 41)._2, qi % nLabels, 10),
        s"query $qi pruned-filtered result != per-label brute force")
    }
    // PRUNED plan: one admissible segment per query, not nLabels —
    // (wave1 + wave2) probes collapse to exactly nQ
    val planned = stats("wave1_probes") + stats("wave2_planned")
    assert(planned == nQ.toLong,
      s"expected $nQ pruned probes (1/query), planned $planned")

    // a query whose label no segment admits plans ZERO probes and
    // returns empty (null-rejecting equality semantics)
    val missQ = Seq((99L, all(3)._2, 100000L, 1000000L, 42L))
      .toDF("qid", "qv", "qtime", "ttl", "qfilter")
    val missStats = scala.collection.mutable.Map.empty[String, Long]
    val miss = ColdTier.search(spark, dir, missQ, 10, Metric.L2,
      firstWaveFraction = 1.0, terminationFactor = 1.0,
      filterColumn = Some("label"), searchStats = Some(missStats)).count()
    assert(miss == 0L && missStats("wave1_probes") == 0L,
      "out-of-range qfilter must prune every segment")

    // lifecycle: compaction refreshes the sidecar against the NEW
    // catalog (stats keyed by the merged segment ids), and filtered
    // results stay exact
    ColdTier.compact(spark, dir, targetRows = 10000L)
    val newIds = ColdTier.catalog(spark, dir).map(_.segmentId).toSet
    val statIds = spark.read.parquet(s"$dir/attr-stats/label")
      .select("segmentId").collect().map(_.getLong(0)).toSet
    assert(statIds == newIds,
      s"compaction must refresh attr stats: $statIds != $newIds")
    val gotC = ColdTier.search(spark, dir, queries, 10, Metric.L2,
        firstWaveFraction = 1.0, terminationFactor = 1.0,
        filterColumn = Some("label"))
      .collect().groupBy(_.getLong(0))
      .map { case (qid, rows) =>
        qid -> rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
      }
    assert(gotC == got, "filtered results must survive compaction+refresh")

    // stats are advisory: deleting the sidecar keeps results identical
    // (every segment planned again — prune is performance, not truth)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$dir/attr-stats"))
    val got2 = ColdTier.search(spark, dir, queries, 10, Metric.L2,
        firstWaveFraction = 1.0, terminationFactor = 1.0,
        filterColumn = Some("label"))
      .collect().groupBy(_.getLong(0))
      .map { case (qid, rows) =>
        qid -> rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
      }
    assert(got2 == got, "results must not depend on the stats sidecar")
  }

  test("attr-stats family guard: a string-labeled tier with a numeric qfilter disables pruning (broader SQL coercion could match rows an interval test would drop)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier-attrfam").toString
    val dim = 8
    val rnd = new java.util.Random(29L)
    val nLabels = 3
    val all = (0 until 300).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat), i.toLong,
        (i % nLabels).toString)
    }
    ColdTier.sealMany(all.toDF("id", "vec", "eventTime", "label")
      .withColumn("segmentId", (col("id") % nLabels).cast("long")), dir)
    ColdTier.sealAttrStats(spark, dir, "label")
    val nQ = 6
    // NUMERIC qfilter against the STRING label column: the sealed stats
    // are lexicographic, so an interval test on the stringified double
    // ("1.0" vs ["1","1"]) would falsely prune — the family guard must
    // turn pruning OFF and the equality must still resolve row-level
    val queries = (0 until nQ).map { qi =>
      val (_, qv, _, _) = all(qi * 31)
      (qi.toLong, qv, 100000L, 1000000L, (qi % nLabels).toLong)
    }.toDF("qid", "qv", "qtime", "ttl", "qfilter")
    val stats = scala.collection.mutable.Map.empty[String, Long]
    val got = ColdTier.search(spark, dir, queries, 5, Metric.L2,
        firstWaveFraction = 1.0, terminationFactor = 1.0,
        filterColumn = Some("label"), searchStats = Some(stats))
      .collect().groupBy(_.getLong(0))
      .map { case (qid, rows) =>
        qid -> rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
      }
    assert(stats("wave1_probes") + stats("wave2_planned") ==
      (nQ * nLabels).toLong,
      "cross-family qfilter must plan every segment (pruning off)")
    (0 until nQ).foreach { qi =>
      val truth = all.filter(_._4 == (qi % nLabels).toString)
        .map { case (id, v, _, _) => (id, Distances.l2(all(qi * 31)._2, v)) }
        .sortBy { case (id, d) => (d, id) }.take(5).map(_._1).toSeq
      assert(got(qi.toLong) == truth,
        s"query $qi cross-family filtered result != per-label truth")
    }
  }

  test("searchIndexedFiltered + attr stats: capped routing fans out only to admissible segments, shortlist stays label-dense") {
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier-idxflt").toString
    val dim = 8
    val rnd = new java.util.Random(23L)
    val nLabels = 4
    val all = (0 until 800).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat), i.toLong,
        (i % nLabels).toLong)
    }
    ColdTier.sealMany(all.toDF("id", "vec", "eventTime", "label")
      .withColumn("segmentId", col("label")), dir)
    ColdTier.sealIndexes(spark, dir, 0L until nLabels.toLong, Metric.L2,
      m = 8, efConstruction = 64)
    ColdTier.sealAttrStats(spark, dir, "label")

    val nQ = 12
    val queries = (0 until nQ).map { qi =>
      val (_, qv, _, _) = all(qi * 53)
      (qi.toLong, qv, 100000L, 1000000L, (qi % nLabels).toLong)
    }.toDF("qid", "qv", "qtime", "ttl", "qfilter")

    // probeSegments = 1: WITHOUT pruning the cap would pick the single
    // nearest-centroid segment regardless of label (labels are spread
    // uniformly, so centroids nearly coincide and the chosen segment is
    // effectively arbitrary — wrong-label shortlists come back empty
    // after the filter for ~3/4 of queries); WITH pruning the one
    // admissible segment is the label's own
    val got = ColdTier.searchIndexedFiltered(spark, dir, queries, 10,
        "label", Metric.L2, shortlist = 64, efSearch = 96,
        probeSegments = 1)
      .collect().groupBy(_.getLong(0))
      .map { case (qid, rows) =>
        qid -> rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
      }
    def brute(qv: Array[Float], label: Long, k: Int): Seq[Long] =
      all.filter(_._4 == label)
        .map { case (id, v, _, _) => (id, Distances.l2(qv, v)) }
        .sortBy { case (id, d) => (d, id) }.take(k).map(_._1)
    (0 until nQ).foreach { qi =>
      val res = got.getOrElse(qi.toLong, Seq.empty)
      assert(res.nonEmpty, s"query $qi returned nothing — the capped " +
        "probe did not route to the admissible segment")
      assert(res.forall(_ % nLabels == qi % nLabels),
        s"query $qi returned wrong-label ids: $res")
      val truth = brute(all(qi * 53)._2, qi % nLabels, 10).toSet
      val recall = res.count(truth.contains).toDouble / truth.size
      assert(recall >= 0.9, s"query $qi recall $recall")
    }
  }

  test("cross-family filter semantics: string labels with non-integral " +
      "renderings vs a numeric qfilter compare as try_cast-to-DOUBLE on " +
      "EVERY filtered surface (kernel and join formulation agree)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier-xfam").toString
    val dim = 8
    val rnd = new java.util.Random(37L)
    val nLabels = 3
    // labels sealed as the STRINGS "0.0"/"1.0"/"2.0": under the shared
    // filterEquality rule a LONG qfilter 1 equals the string '1.0'
    // (both try_cast to double). A textual kernel compare ("1" vs
    // "1.0") would drop every row, and the old implicit === would
    // THROW under ANSI (cast '1.0' to BIGINT) — the per-surface
    // divergence the advisory flagged
    val all = (0 until 300).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat), i.toLong,
        s"${i % nLabels}.0")
    }
    ColdTier.sealMany(all.toDF("id", "vec", "eventTime", "label")
      .withColumn("segmentId", (col("id") % nLabels).cast("long")), dir)
    val nQ = 6
    val queries = (0 until nQ).map { qi =>
      val (_, qv, _, _) = all(qi * 31)
      (qi.toLong, qv, 100000L, 1000000L, (qi % nLabels).toLong)
    }.toDF("qid", "qv", "qtime", "ttl", "qfilter")
    val got = ColdTier.search(spark, dir, queries, 5, Metric.L2,
        firstWaveFraction = 1.0, terminationFactor = 1.0,
        filterColumn = Some("label"))
      .collect().groupBy(_.getLong(0))
      .map { case (qid, rows) =>
        qid -> rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
      }
    // truth = the SQL semantics: cast('1.0' as double) = cast(1 as double)
    (0 until nQ).foreach { qi =>
      val truth = all.filter(_._4.toDouble == (qi % nLabels).toDouble)
        .map { case (id, v, _, _) => (id, Distances.l2(all(qi * 31)._2, v)) }
        .sortBy { case (id, d) => (d, id) }.take(5).map(_._1).toSeq
      assert(got.getOrElse(qi.toLong, Seq.empty) == truth,
        s"query $qi cross-family kernel result != SQL-coerced truth")
    }
    // and the join-formulated filtered re-rank agrees on the same inputs
    // (the two surfaces must never disagree on cross-typed labels)
    ColdTier.sealIndexes(spark, dir, 0L until nLabels.toLong, Metric.L2,
      m = 8, efConstruction = 64)
    val gotIdx = ColdTier.searchIndexedFiltered(spark, dir, queries, 5,
        "label", Metric.L2, shortlist = 64, efSearch = 96)
      .collect().groupBy(_.getLong(0))
      .map { case (qid, rows) =>
        qid -> rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
      }
    assert(gotIdx == got,
      "kernel scan and join-formulated re-rank disagree on cross-typed labels")
  }

  test("attr-stats commits are crash-atomic: tmp+rename, orphan sweep, " +
      "and a half-written live path is impossible by construction") {
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier-atomic").toString
    val dim = 8
    val rnd = new java.util.Random(41L)
    val nLabels = 4
    val all = (0 until 400).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat), i.toLong,
        (i % nLabels).toLong)
    }
    ColdTier.sealMany(all.toDF("id", "vec", "eventTime", "label")
      .withColumn("segmentId", col("label")), dir)
    ColdTier.sealAttrStats(spark, dir, "label")

    val statsRoot = new java.io.File(s"$dir/attr-stats")
    // the live path is a COMPLETE parquet commit (committer's _SUCCESS),
    // and no tmp residue survives a successful seal
    assert(new java.io.File(statsRoot, "label/_SUCCESS").exists(),
      "live sidecar must be a completed parquet commit")
    assert(!statsRoot.list().exists(_.startsWith(".tmp-")),
      "no tmp dirs may survive a successful seal")

    // simulate a crashed earlier commit: an orphaned tmp dir with junk.
    // It must be invisible to planning (pruning still collapses to one
    // probe per query) and swept by the next seal of the same column.
    val orphan = new java.io.File(statsRoot, ".tmp-label-deadbeef")
    assert(orphan.mkdirs())
    java.nio.file.Files.write(orphan.toPath.resolve("garbage"),
      Array[Byte](1, 2, 3))
    val nQ = 8
    val queries = (0 until nQ).map { qi =>
      val (_, qv, _, _) = all(qi * 17)
      (qi.toLong, qv, 100000L, 1000000L, (qi % nLabels).toLong)
    }.toDF("qid", "qv", "qtime", "ttl", "qfilter")
    val stats = scala.collection.mutable.Map.empty[String, Long]
    ColdTier.search(spark, dir, queries, 5, Metric.L2,
      firstWaveFraction = 1.0, terminationFactor = 1.0,
      filterColumn = Some("label"), searchStats = Some(stats)).count()
    assert(stats("wave1_probes") + stats("wave2_planned") == nQ.toLong,
      "an orphaned tmp dir must not affect pruning")
    ColdTier.sealAttrStats(spark, dir, "label")
    assert(!orphan.exists(), "re-seal must sweep the orphaned tmp dir")

    // a crash in the delete→rename window leaves NO sidecar (never a
    // half-written one): with the live path removed, the search runs
    // unpruned but stays exact — the advisory degradation contract
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(statsRoot, "label"))
    val stats2 = scala.collection.mutable.Map.empty[String, Long]
    val got = ColdTier.search(spark, dir, queries, 5, Metric.L2,
        firstWaveFraction = 1.0, terminationFactor = 1.0,
        filterColumn = Some("label"), searchStats = Some(stats2))
      .collect().groupBy(_.getLong(0))
      .map { case (qid, rows) =>
        qid -> rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
      }
    assert(stats2("wave1_probes") + stats2("wave2_planned") ==
      (nQ * nLabels).toLong, "missing sidecar must plan every segment")
    (0 until nQ).foreach { qi =>
      val truth = all.filter(_._4 == qi % nLabels)
        .map { case (id, v, _, _) => (id, Distances.l2(all(qi * 17)._2, v)) }
        .sortBy { case (id, d) => (d, id) }.take(5).map(_._1).toSeq
      assert(got(qi.toLong) == truth,
        s"query $qi unpruned result != per-label truth")
    }
  }

  test("refreshAttrStatsFor extends the sidecar incrementally; a new segment lacking the column keeps the old rows instead of killing the sidecar") {
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier-attrinc").toString
    def labeled(n: Int, seed: Long, tsBase: Long, label: String) =
      mkVecs(n, 8, seed, tsBase).withColumn("label", lit(label))
    ColdTier.seal(labeled(50, 1L, 0L, "a"), dir, 1L)
    ColdTier.sealAttrStats(spark, dir, "label")
    def statRows() = spark.read.parquet(s"$dir/attr-stats/label")
      .select("segmentId").collect().map(_.getLong(0)).toSet

    // incremental: the new labeled segment gains a row, segment 1's
    // row survives verbatim
    ColdTier.seal(labeled(50, 2L, 1000L, "b"), dir, 2L)
    ColdTier.refreshAttrStatsFor(spark, dir, Set(2L))
    assert(statRows() == Set(1L, 2L), s"sidecar rows: ${statRows()}")

    // a column-less new segment must NOT take the sidecar down: rows
    // for 1 and 2 survive, 3 simply never prunes
    ColdTier.seal(mkVecs(50, 8, 3L, 2000L), dir, 3L)
    ColdTier.refreshAttrStatsFor(spark, dir, Set(3L))
    assert(statRows() == Set(1L, 2L),
      s"column-less segment corrupted the sidecar: ${statRows()}")

    // idempotent: re-refreshing an already-covered id changes nothing
    ColdTier.refreshAttrStatsFor(spark, dir, Set(2L))
    assert(statRows() == Set(1L, 2L))
    assert(ColdTier.attrStatsCover(spark, dir, 2L))
    assert(!ColdTier.attrStatsCover(spark, dir, 3L))
  }

  test("range-filtered search: per-query [qflo,qfhi] band equals banded brute force; interval pruning engages on an aligned tier; null bounds match nothing") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier-rng").toString
    val dim = 8
    val rnd = new java.util.Random(23L)
    val all = (0 until 900).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat), i.toLong,
        (i % 10).toLong)
    }
    // time-sliced tier (no stats sidecar): pure kernel exactness
    (0 until 3).foreach { s =>
      ColdTier.seal(
        all.filter(_._1 % 3 == s).toDF("id", "vec", "eventTime", "label"),
        dir, s.toLong)
    }
    def brute(qv: Array[Float], lo: Long, hi: Long, k: Int): Seq[Long] =
      all.filter(t => t._4 >= lo && t._4 <= hi)
        .map { case (id, v, _, _) => (id, Distances.l2(qv, v)) }
        .sortBy { case (id, d) => (d, id) }.take(k).map(_._1)
    val nQ = 20
    val queries = (0 until nQ).map { qi =>
      val (_, qv, _, _) = all(qi * 37)
      val lo = (qi % 7).toLong
      (qi.toLong, qv, 100000L, 1000000L, lo, lo + 2)
    }.toDF("qid", "qv", "qtime", "ttl", "qflo", "qfhi")
    def run(d: String, st: Option[scala.collection.mutable.Map[String, Long]])
        : Map[Long, Seq[Long]] =
      ColdTier.search(spark, d, queries, 10, Metric.L2,
          firstWaveFraction = 0.34, terminationFactor = 1.0,
          filterColumn = Some("label"), filterRange = true,
          searchStats = st)
        .collect().groupBy(_.getLong(0))
        .map { case (q, rows) =>
          q -> rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
        }
    val got = run(dir, None)
    (0 until nQ).foreach { qi =>
      val lo = (qi % 7).toLong
      assert(got(qi.toLong) == brute(all(qi * 37)._2, lo, lo + 2, 10),
        s"query $qi range result != banded brute force")
    }

    // a null bound matches nothing (SQL's null-rejecting BETWEEN)
    val qNull = Seq((0L, all(5)._2, 100000L, 1000000L, Some(1L),
        Option.empty[Long]))
      .toDF("qid", "qv", "qtime", "ttl", "qflo", "qfhi")
    assert(ColdTier.search(spark, dir, qNull, 10, Metric.L2,
        filterColumn = Some("label"), filterRange = true)
      .collect().isEmpty, "null qfhi must match nothing")

    // label-ALIGNED tier + attr-stats sidecar: the same queries must
    // return the same answers with the plan collapsed to exactly the
    // 3 admissible segments per query (bands span 3 of the 10 labels)
    val dir2 = Files.createTempDirectory("coldtier-rngprune").toString
    ColdTier.sealMany(all.toDF("id", "vec", "eventTime", "label")
      .withColumn("segmentId", col("label")), dir2)
    ColdTier.sealAttrStats(spark, dir2, "label")
    val stats = scala.collection.mutable.Map.empty[String, Long]
    val got2 = run(dir2, Some(stats))
    assert(got2 == got, "aligned-tier range results diverge from sliced")
    val planned = stats("wave1_probes") + stats("wave2_planned")
    assert(planned == 3L * nQ,
      s"expected ${3 * nQ} pruned probes (3 admissible labels/query), " +
        s"planned $planned")
  }

  test("histogram sidecar: GAP pruning drops segments whose [min,max] admits but whose bucket mass in the band/point is zero — results stay exact") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier-hist").toString
    val dim = 8
    val rnd = new java.util.Random(31L)
    // three segments by label STRUCTURE, not range: seg0 holds only
    // labels {0, 9} (wide range, hollow middle), seg1 holds {3, 4, 5},
    // seg2 holds {1, 2, 6, 7, 8} (range [1,8], hollow middle)
    def segOf(label: Long): Long =
      if (label == 0 || label == 9) 0L
      else if (label >= 3 && label <= 5) 1L else 2L
    val all = (0 until 900).map { i =>
      val label = (i % 10).toLong
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat), i.toLong,
        label)
    }
    ColdTier.sealMany(all.toDF("id", "vec", "eventTime", "label")
      .withColumn("segmentId", udf(segOf _).apply(col("label"))), dir)
    ColdTier.sealAttrStats(spark, dir, "label")

    // RANGE [3, 5]: min/max admits all three segments (seg0 [0,9],
    // seg2 [1,8] both cover the band) — the histogram proves both are
    // hollow there, so ONE probe per query survives
    val nQ = 12
    val rq = (0 until nQ).map { qi =>
      (qi.toLong, all(qi * 31)._2, 100000L, 1000000L, 3L, 5L)
    }.toDF("qid", "qv", "qtime", "ttl", "qflo", "qfhi")
    val rstats = scala.collection.mutable.Map.empty[String, Long]
    val rGot = ColdTier.search(spark, dir, rq, 10, Metric.L2,
        firstWaveFraction = 1.0, terminationFactor = 1.0,
        filterColumn = Some("label"), filterRange = true,
        searchStats = Some(rstats))
      .collect().groupBy(_.getLong(0))
      .map { case (q, rows) =>
        q -> rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
      }
    (0 until nQ).foreach { qi =>
      val truth = all.filter(t => t._4 >= 3 && t._4 <= 5)
        .map { case (id, v, _, _) => (id, Distances.l2(all(qi * 31)._2, v)) }
        .sortBy { case (id, d) => (d, id) }.take(10).map(_._1)
      assert(rGot(qi.toLong) == truth, s"query $qi hist-pruned range")
    }
    val rPlanned = rstats("wave1_probes") + rstats("wave2_planned")
    assert(rPlanned == nQ.toLong,
      s"expected $nQ probes (hist gap-pruned to seg1 only), " +
        s"planned $rPlanned")

    // EQUALITY label = 7: min/max admits seg0 [0,9] too; the histogram
    // shows seg0 holds no mass near 7, so only seg2 is probed
    val eq = (0 until nQ).map { qi =>
      (qi.toLong, all(qi * 31)._2, 100000L, 1000000L, 7L)
    }.toDF("qid", "qv", "qtime", "ttl", "qfilter")
    val estats = scala.collection.mutable.Map.empty[String, Long]
    val eGot = ColdTier.search(spark, dir, eq, 10, Metric.L2,
        firstWaveFraction = 1.0, terminationFactor = 1.0,
        filterColumn = Some("label"), searchStats = Some(estats))
      .collect().groupBy(_.getLong(0))
      .map { case (q, rows) =>
        q -> rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
      }
    (0 until nQ).foreach { qi =>
      val truth = all.filter(_._4 == 7)
        .map { case (id, v, _, _) => (id, Distances.l2(all(qi * 31)._2, v)) }
        .sortBy { case (id, d) => (d, id) }.take(10).map(_._1)
      assert(eGot(qi.toLong) == truth, s"query $qi hist-pruned equality")
    }
    val ePlanned = estats("wave1_probes") + estats("wave2_planned")
    assert(ePlanned == nQ.toLong,
      s"expected $nQ probes (hist gap-pruned to seg2 only), " +
        s"planned $ePlanned")
  }

  test("histogram selectivity estimate sizes the literal-filtered overfetch: a 1% label raises the shortlist past the static floor and finds the rare rows") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier-adapt").toString
    val dim = 8
    val rnd = new java.util.Random(37L)
    // 2000 rows, label 1 on 1% of them, label 0 elsewhere — sealed
    // label-MIXED (time-sliced), so admission cannot help and only the
    // over-fetch factor decides whether rare rows reach the re-rank
    val all = (0 until 2000).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat), i.toLong,
        if (i % 100 == 0) 1L else 0L)
    }
    (0 until 2).foreach { s =>
      ColdTier.seal(
        all.filter(_._1 % 2 == s).toDF("id", "vec", "eventTime", "label"),
        dir, s.toLong)
    }
    ColdTier.sealIndexes(spark, dir, 0L until 2L, Metric.L2, m = 8,
      efConstruction = 64)
    ColdTier.sealAttrStats(spark, dir, "label")

    // the estimate is the bucket mass: ~1% for label 1, ~99% for 0
    val sel1 = ColdTier.estimateSelectivity(spark, dir, "label",
      Seq(1.0), Double.NaN, Double.NaN)
    assert(sel1.exists(s => s > 0.005 && s < 0.05),
      s"label-1 selectivity estimate: $sel1")
    // the policy: floor respected, rare label capped at the max raise
    assert(ColdTier.adaptiveOverfetch(4, None) == 4)
    assert(ColdTier.adaptiveOverfetch(4, Some(0.5)) == 4)
    assert(ColdTier.adaptiveOverfetch(4, sel1) >= math.min(
      ColdTier.MaxAdaptiveOverfetch, (1.0 / sel1.get * 0.9).toInt))
    assert(ColdTier.adaptiveOverfetch(1, Some(1e-6)) ==
      ColdTier.MaxAdaptiveOverfetch)
    // the cap bounds only the HISTOGRAM raise — an explicit static
    // factor above the cap is a floor, never reduced by an estimate
    assert(ColdTier.adaptiveOverfetch(128, Some(0.01)) == 128)

    // end-to-end: static overfetch 1 with a small shortlist would keep
    // rare rows out of the filter-oblivious shortlist; the estimator
    // raises it to ~1/sel (capped), and the top-5 under label = 1
    // matches the exact per-label truth
    val q = all(123)._2
    val queries = Seq((0L, q, 100000L, 1000000L))
      .toDF("qid", "qv", "qtime", "ttl")
    val got = ColdTier.searchIndexedLiteralFiltered(spark, dir, queries,
        k = 5, filters = Seq(("label", Seq(1L), org.apache.spark.sql
          .types.LongType)), Metric.L2, shortlist = 8, efSearch = 64,
        overfetch = 1)
      .collect().sortBy(_.getInt(1)).map(_.getLong(2)).toList
    val truth = all.filter(_._4 == 1L)
      .map { case (id, v, _, _) => (id, Distances.l2(q, v)) }
      .sortBy { case (id, d) => (d, id) }.take(5).map(_._1).toList
    assert(got == truth,
      s"adaptive-overfetch filtered probe: $got != $truth")
  }

  test("reclusterByAttr: label-mixed time slices re-seal into quantile buckets x k-means cells — filtered probes collapse to one bucket's cells, results exact, deletes applied") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier-attr-recluster").toString
    val rnd = new java.util.Random(41L)
    // two separated vector clusters (so cellsPerBucket = 2 has real
    // structure) x 10 labels, sealed as four TIME slices — the
    // streaming layout where every segment holds every label and
    // attr admission prunes nothing
    val centers = Array(
      Array.tabulate(8)(d => if (d < 4) 15f else 0f),
      Array.tabulate(8)(d => if (d >= 4) 15f else 0f))
    val all = (0 until 1000).map { i =>
      val c = centers(i % 2)
      (i.toLong, c.map(_ + rnd.nextGaussian().toFloat * 0.3f), i.toLong,
        (i % 10).toLong)
    }
    (0 until 4).foreach { sid =>
      ColdTier.seal(all.slice(sid * 250, sid * 250 + 250)
        .toDF("id", "vec", "eventTime", "label"), dir, sid.toLong)
    }
    ColdTier.sealDeletes(all.filter(_._1 % 23 == 3)
      .map { case (id, _, ts, _) => (id, ts) }.toDF("id", "ts"), dir, 0L)
    val survivors = all.filterNot(_._1 % 23 == 3)
    val queries = all.indices.by(97).map { i =>
      (i.toLong, all(i)._2, Long.MaxValue / 2, Long.MaxValue / 2)
    }.toDF("qid", "qv", "qtime", "ttl")
    def lossless() = ColdTier.search(spark, dir, queries, 10, Metric.L2,
        firstWaveFraction = 1.0, terminationFactor = 1.0)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) =>
        q -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }
    val before = lossless()

    val out = ColdTier.reclusterByAttr(spark, dir, "label", buckets = 5,
      cellsPerBucket = 2, m = 8, efConstruction = 64)
    // lifecycle contract: reserved ids, victims gone, row multiset kept
    assert(out.forall(_.segmentId >= ColdTier.CompactionIdBase))
    (0 until 4).foreach { sid =>
      assert(!new java.io.File(s"$dir/segment-$sid").exists(),
        s"victim segment-$sid survived gc")
    }
    assert(out.map(_.count).sum == survivors.length)
    assert(out.length <= 10, s"${out.length} segments > buckets x cells")
    // the layout is transparent to unfiltered search
    assert(lossless() == before, "reclusterByAttr changed lossless results")

    // filtered equality: with 10 labels in 5 equi-mass buckets, a label
    // admits ONE bucket = at most cellsPerBucket segments; the sidecar
    // reclusterByAttr sealed makes admission engage with no extra setup
    val nQ = 8
    val fq = (0 until nQ).map { qi =>
      (qi.toLong, all(qi * 71)._2, Long.MaxValue / 2, Long.MaxValue / 2,
        (qi % 10).toLong)
    }.toDF("qid", "qv", "qtime", "ttl", "qfilter")
    val stats = scala.collection.mutable.Map.empty[String, Long]
    val got = ColdTier.search(spark, dir, fq, 10, Metric.L2,
        firstWaveFraction = 1.0, terminationFactor = 1.0,
        filterColumn = Some("label"), searchStats = Some(stats))
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) =>
        q -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }
    (0 until nQ).foreach { qi =>
      val want = survivors.filter(_._4 == qi % 10)
        .map { case (id, v, _, _) => (id, Distances.l2(all(qi * 71)._2, v)) }
        .sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toSeq
      assert(got(qi.toLong) == want, s"query $qi filtered post-recluster")
    }
    val planned = stats("wave1_probes") + stats("wave2_planned")
    assert(planned <= 2L * nQ,
      s"attr admission must collapse to one bucket's <=2 cells per " +
        s"query: planned $planned > ${2 * nQ} (tier has ${out.length} " +
        s"segments — mixed layout would plan ${out.length * nQ})")
  }

  test("reclusterByAttr: an empty STRIDED sample does not wipe a tier that still has live rows (catalog counts are pre-tombstone)") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier-attr-stride").toString
    val rnd = new java.util.Random(47L)
    val all = (0 until 2000).map { i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat), i.toLong,
        (i % 4).toLong)
    }
    ColdTier.seal(all.toDF("id", "vec", "eventTime", "label"), dir, 0L)
    // with sampleCap = 1 the stride modulus is total/2 = 1000; keep
    // alive ONLY ids whose hash misses it, so the strided sample is
    // provably empty while live rows exist
    val mod = 1000L
    val alive = spark.range(2000)
      .where(pmod(xxhash64(col("id")), lit(mod)) =!= 0)
      .limit(3).as[Long].collect().toSet
    assert(alive.size == 3)
    ColdTier.sealDeletes(all.filterNot(t => alive(t._1))
      .map { case (id, _, ts, _) => (id, ts) }.toDF("id", "ts"), dir, 0L)
    val out = ColdTier.reclusterByAttr(spark, dir, "label", buckets = 2,
      cellsPerBucket = 1, m = 8, efConstruction = 32, sampleCap = 1)
    assert(out.map(_.count).sum == 3,
      s"live rows must survive the pass: ${out.map(_.count).toList}")
    val ids = spark.read.parquet(
        ColdTier.catalog(spark, dir).map(_.path): _*)
      .select("id").as[Long].collect().toSet
    assert(ids == alive, s"$ids != $alive")
  }

  test("reclusterByAttr: timeSlices keep each segment's time window tight — a windowed filtered query prunes attr x time multiplicatively, results exact") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier-attr-time").toString
    val rnd = new java.util.Random(53L)
    val all = (0 until 1200).map { i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat), i.toLong,
        (i % 4).toLong)
    }
    (0 until 3).foreach { sid =>
      ColdTier.seal(all.slice(sid * 400, sid * 400 + 400)
        .toDF("id", "vec", "eventTime", "label"), dir, sid.toLong)
    }
    val out = ColdTier.reclusterByAttr(spark, dir, "label", buckets = 4,
      cellsPerBucket = 1, m = 8, efConstruction = 32, timeSlices = 4)
    assert(out.length == 16, s"4 labels x 4 slices: ${out.length}")
    // tight windows: each slice spans ~1/4 of the 0..1199 time axis
    assert(out.forall(s => s.maxTs - s.minTs <= 400),
      out.map(s => (s.minTs, s.maxTs)).toList.toString)

    // label = 2 within the window [50, 200]: ONE bucket admits the
    // label and ONE of its slices overlaps the window -> one probe per
    // query, and the result is the windowed per-label exact truth
    val nQ = 4
    val fq = (0 until nQ).map { qi =>
      (qi.toLong, all(qi * 37)._2, 200L, 150L, 2L)
    }.toDF("qid", "qv", "qtime", "ttl", "qfilter")
    val stats = scala.collection.mutable.Map.empty[String, Long]
    val got = ColdTier.search(spark, dir, fq, 10, Metric.L2,
        firstWaveFraction = 1.0, terminationFactor = 1.0,
        filterColumn = Some("label"), searchStats = Some(stats))
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) =>
        q -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }
    (0 until nQ).foreach { qi =>
      val want = all
        .filter(t => t._4 == 2L && t._3 >= 50L && t._3 <= 200L)
        .map { case (id, v, _, _) => (id, Distances.l2(all(qi * 37)._2, v)) }
        .sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toSeq
      assert(got(qi.toLong) == want, s"query $qi windowed filtered")
    }
    val planned = stats("wave1_probes") + stats("wave2_planned")
    assert(planned == nQ.toLong,
      s"attr x time pruning must plan one probe per query: $planned " +
        s"(16 segments; attr alone would plan ${4 * nQ})")
  }

  test("reclusterByAttr: string column buckets lexicographically; a band over the string range prunes to its buckets") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier-attr-str").toString
    val rnd = new java.util.Random(43L)
    val all = (0 until 600).map { i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat), i.toLong,
        s"cat${i % 6}")
    }
    (0 until 3).foreach { sid =>
      ColdTier.seal(all.slice(sid * 200, sid * 200 + 200)
        .toDF("id", "vec", "eventTime", "tag"), dir, sid.toLong)
    }
    val out = ColdTier.reclusterByAttr(spark, dir, "tag", buckets = 3,
      cellsPerBucket = 1, m = 8, efConstruction = 64)
    assert(out.map(_.count).sum == all.length)
    assert(out.length <= 3)
    // equality on one tag admits exactly the bucket holding it
    val nQ = 6
    val fq = (0 until nQ).map { qi =>
      (qi.toLong, all(qi * 41)._2, Long.MaxValue / 2, Long.MaxValue / 2,
        s"cat${qi % 6}")
    }.toDF("qid", "qv", "qtime", "ttl", "qfilter")
    val stats = scala.collection.mutable.Map.empty[String, Long]
    val got = ColdTier.search(spark, dir, fq, 10, Metric.L2,
        firstWaveFraction = 1.0, terminationFactor = 1.0,
        filterColumn = Some("tag"), searchStats = Some(stats))
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) =>
        q -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }
    (0 until nQ).foreach { qi =>
      val want = all.filter(_._4 == s"cat${qi % 6}")
        .map { case (id, v, _, _) => (id, Distances.l2(all(qi * 41)._2, v)) }
        .sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toSeq
      assert(got(qi.toLong) == want, s"query $qi string-filtered")
    }
    val planned = stats("wave1_probes") + stats("wave2_planned")
    assert(planned == nQ.toLong,
      s"string admission must collapse to one bucket per query: " +
        s"planned $planned != $nQ")
  }

  test("catalog CAS: an interleaved committer cannot lose a segment — the stale swap fails loudly and the retry succeeds") {
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier-cas").toString
    ColdTier.seal(mkVecs(100, 8, 60L, 0L), dir, 1L)
    ColdTier.seal(mkVecs(100, 8, 61L, 1000L), dir, 2L)
    // an out-of-band maintenance job reads its base state...
    val (cat0, v0) = ColdTier.catalogVersioned(spark, dir)
    assert(cat0.length == 2)
    // ...then the streaming flusher commits a NEW segment first
    ColdTier.seal(mkVecs(100, 8, 62L, 2000L), dir, 3L)
    assert(ColdTier.catalogVersion(spark, dir) == v0 + 1,
      "a committed seal must bump the catalog version")
    // the maintenance job's commit (a catalog built WITHOUT segment 3)
    // must fail the version CAS — not last-writer-win the concurrently
    // flushed segment out of the catalog
    val ex = intercept[ConcurrentCatalogWriteException] {
      ColdTier.swapCatalog(spark, dir, cat0, v0)
    }
    assert(ex.getMessage.contains("moved from version"))
    assert(ColdTier.catalog(spark, dir).map(_.segmentId).sorted.toList ==
      List(1L, 2L, 3L), "the losing swap must leave the catalog untouched")
    // retry protocol: re-read at the fresh version, recommit — succeeds
    val (cat1, v1) = ColdTier.catalogVersioned(spark, dir)
    ColdTier.swapCatalog(spark, dir, cat1, v1)
    assert(ColdTier.catalog(spark, dir).map(_.segmentId).sorted.toList ==
      List(1L, 2L, 3L))
    assert(ColdTier.catalogVersion(spark, dir) == v1 + 1)
    // and the tier still answers exactly after the fenced commits
    val qv = mkVecs(1, 8, 60L, 0L).select("vec").head().getSeq[Float](0).toArray
    val got = ColdTier.search(spark, dir,
        Seq((9L, qv, 5000L, 100000L)).toDF("qid", "qv", "qtime", "ttl"),
        5, Metric.L2, firstWaveFraction = 1.0, terminationFactor = 1.0)
      .collect()
    assert(got.nonEmpty)
  }

  test("catalog version fences the whole mutation family; a stale crashed lock is broken, a swap CAS loser leaves no tmp debris") {
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier-ver").toString
    assert(ColdTier.catalogVersion(spark, dir) == 0L, "fresh tier is v0")
    ColdTier.seal(mkVecs(200, 8, 70L, 0L), dir, 1L)
    ColdTier.seal(mkVecs(200, 8, 71L, 1000L), dir, 2L)
    val v2 = ColdTier.catalogVersion(spark, dir)
    assert(v2 == 2L, s"two seals = two bumps, got $v2")
    // a crashed writer's stale lock (old mtime) must not wedge the tier:
    // the next committer breaks it and proceeds
    val lock = new java.io.File(dir, "_catalog.lock")
    assert(lock.createNewFile())
    assert(lock.setLastModified(System.currentTimeMillis() - 600000L))
    ColdTier.seal(mkVecs(100, 8, 72L, 2000L), dir, 3L)
    assert(ColdTier.catalogVersion(spark, dir) == 3L)
    assert(!lock.exists(), "the breaker releases the broken lock")
    // compact (a swap mutator) bumps once more and the CAS loser's tmp
    // dir was deleted on failure (no `_segments.tmp-*` debris)
    ColdTier.compact(spark, dir, targetRows = 1000L, metric = Metric.L2,
      m = 8, efConstruction = 32)
    assert(ColdTier.catalogVersion(spark, dir) == 4L)
    val (cat, v) = ColdTier.catalogVersioned(spark, dir)
    intercept[ConcurrentCatalogWriteException] {
      ColdTier.swapCatalog(spark, dir, cat, v - 1)
    }
    val debris = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("_segments.tmp"))
    assert(debris.isEmpty, s"CAS loser left tmp debris: ${debris.toList}")
    // evict (the remaining swap mutator) still commits at the live version
    ColdTier.evict(spark, dir, Long.MinValue)
    assert(ColdTier.catalogVersion(spark, dir) == v + 1)
  }

  test("in-walk filtered probe: recall >= 0.9 on a 1% label WITHOUT attr alignment or shortlist over-fetch; v1 sidecars fall back to the oblivious path") {
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier-inwalk").toString
    val dim = 16
    val nLabels = 100
    // labels stride across ids while segments stripe by id — every
    // segment holds every label (deliberately NOT attr-aligned; the
    // layout the attr-recluster remedy exists for)
    val rows = (0 until 8000).map { i =>
      val rnd = new java.util.Random(7000L + i)
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat), i.toLong,
        (i % nLabels).toLong)
    }
    ColdTier.sealMany(rows.toDF("id", "vec", "eventTime", "label")
      .withColumn("segmentId", pmod(col("id"), lit(4)).cast("long")), dir)
    ColdTier.sealIndexes(spark, dir, 0L until 4L, Metric.L2,
      m = 16, efConstruction = 128, attrColumns = Seq("label"))
    val k = 10
    val nQ = 25
    val qs = (0 until nQ).map { qi =>
      val (_, qv, _, lbl) = rows(qi * 311)
      (qi.toLong, qv, Long.MaxValue / 2, Long.MaxValue / 2, lbl)
    }.toDF("qid", "qv", "qtime", "ttl", "qfilter")
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
      (0 until nQ).map { qi =>
        val (_, qv, _, lbl) = rows(qi * 311)
        val truth = rows.filter(_._4 == lbl)
          .map { case (id, v, _, _) => (id, Distances.l2(qv, v)) }
          .sortBy { case (id, d) => (d, id) }.take(k).map(_._1).toSet
        got.getOrElse(qi.toLong, Set.empty[Long])
          .count(truth.contains).toDouble / k
      }.sum / nQ
    }
    // the in-walk probe: shortlist is NOT inflated by 1/selectivity —
    // the walk's acceptance filter + geometric ef widening surface
    // matching candidates directly (the ACORN shape)
    val inWalk = recallOf(ColdTier.searchIndexedInWalkFiltered(
      spark, dir, qs, k, "label", Metric.L2, shortlist = 2 * k,
      efSearch = 64))
    assert(inWalk >= 0.9, s"in-walk filtered recall $inWalk")
    // the filter-OBLIVIOUS probe at the same shortlist budget is the
    // path this replaces: ~0.25% of each segment's unfiltered top-20
    // matches a 1% label, so recall collapses (deterministic — the
    // graphs and data are seeded)
    val oblivious = recallOf(ColdTier.searchIndexedFiltered(
      spark, dir, qs, k, "label", Metric.L2, shortlist = 2 * k,
      efSearch = 64, overfetch = 1))
    assert(oblivious < inWalk - 0.2,
      s"oblivious $oblivious vs in-walk $inWalk — the acceptance filter " +
        "should be the difference")
    // RESEAL without attr hashes (v1 sidecars): the in-walk surface
    // falls back per shard to the unfiltered walk and must equal the
    // oblivious composition bit-for-bit — correctness never depends on
    // the sidecar generation
    ColdTier.sealIndexes(spark, dir, 0L until 4L, Metric.L2,
      m = 16, efConstruction = 128)
    val fallback = ColdTier.searchIndexedInWalkFiltered(
      spark, dir, qs, k, "label", Metric.L2, shortlist = 2 * k,
      efSearch = 64).collect().map(_.toSeq).toSet
    val obliviousRows = ColdTier.searchIndexedFiltered(
      spark, dir, qs, k, "label", Metric.L2, shortlist = 2 * k,
      efSearch = 64, overfetch = 1).collect().map(_.toSeq).toSet
    assert(fallback == obliviousRows,
      "v1 fallback must equal the filter-oblivious composition exactly")
  }

  test("literal in-walk probe: IN over rare labels without over-fetch, exact scan fallback on mixed layouts, literal-hash parity with the sealer") {
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier-inwalk-lit").toString
    val dim = 16
    val nLabels = 100
    // same deliberately NOT attr-aligned stripe layout as the per-query
    // in-walk test: every segment holds every label
    val rows = (0 until 8000).map { i =>
      val rnd = new java.util.Random(9000L + i)
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat), i.toLong,
        (i % nLabels).toLong)
    }
    ColdTier.sealMany(rows.toDF("id", "vec", "eventTime", "label")
      .withColumn("segmentId", pmod(col("id"), lit(4)).cast("long")), dir)
    ColdTier.sealIndexes(spark, dir, 0L until 4L, Metric.L2,
      m = 16, efConstruction = 128, attrColumns = Seq("label"))
    val k = 10
    val nQ = 25
    val inLabels = Seq(17L, 63L) // 2 of 100 — 2% selectivity
    val filters = Seq(("label", inLabels: Seq[Any],
      org.apache.spark.sql.types.LongType))
    val qs = (0 until nQ).map { qi =>
      val (_, qv, _, _) = rows(qi * 311)
      (qi.toLong, qv, Long.MaxValue / 2, Long.MaxValue / 2)
    }.toDF("qid", "qv", "qtime", "ttl")
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
      (0 until nQ).map { qi =>
        val (_, qv, _, _) = rows(qi * 311)
        val truth = rows.filter(r => inLabels.contains(r._4))
          .map { case (id, v, _, _) => (id, Distances.l2(qv, v)) }
          .sortBy { case (id, d) => (d, id) }.take(k).map(_._1).toSet
        got.getOrElse(qi.toLong, Set.empty[Long])
          .count(truth.contains).toDouble / k
      }.sum / nQ
    }
    // inWalk = true drops the over-fetch entirely (effective factor 1);
    // the acceptance filter + geometric ef widening carry the recall
    val inWalk = recallOf(ColdTier.searchIndexedLiteralFiltered(
      spark, dir, qs, k, filters, Metric.L2, shortlist = 2 * k,
      efSearch = 64, overfetch = 1, inWalk = true))
    assert(inWalk >= 0.9, s"literal in-walk IN recall $inWalk")
    // the oblivious literal path at the same budget collapses (~2% of
    // each segment's unfiltered top-20 matches)
    val oblivious = recallOf(ColdTier.searchIndexedLiteralFiltered(
      spark, dir, qs, k, filters, Metric.L2, shortlist = 2 * k,
      efSearch = 64, overfetch = 1))
    assert(oblivious < inWalk - 0.2,
      s"oblivious $oblivious vs literal in-walk $inWalk")
    // mixed layout: a FIFTH, unindexed segment holding the globally
    // nearest matching rows for a fresh query point — the exact-scan
    // fallback applies the literal predicate itself, so those rows must
    // surface even though no graph covers them
    val rnd5 = new java.util.Random(4242L)
    val probe = Array.fill(dim)(rnd5.nextGaussian().toFloat)
    val near = (0 until 40).map { j =>
      val v = probe.clone()
      v(0) = v(0) + (j + 1) * 1e-4f
      (100000L + j, v, j.toLong, inLabels(j % 2))
    }
    ColdTier.seal(near.toDF("id", "vec", "eventTime", "label"), dir, 4L)
    val mixed = ColdTier.searchIndexedLiteralFiltered(spark, dir,
      Seq((0L, probe, Long.MaxValue / 2, Long.MaxValue / 2))
        .toDF("qid", "qv", "qtime", "ttl"),
      k, filters, Metric.L2, shortlist = 2 * k, efSearch = 64,
      overfetch = 1, inWalk = true).collect()
    assert(mixed.length == k)
    assert(mixed.forall(_.getLong(2) >= 100000L),
      "unindexed matching rows must dominate the mixed-layout top-k")
    // literal-hash parity: the driver-side literalAttrHash must equal
    // the sealer's column expression on the same values — across the
    // numeric width gap (Int literal vs Long column) and for strings
    val parity = Seq(17L, 63L).toDF("label")
      .select(ColdTier.attrHashColumn(col("label"),
        org.apache.spark.sql.types.LongType)._1.as("h"))
      .collect().map(_.getLong(0))
    assert(ColdTier.literalAttrHash(17,
      org.apache.spark.sql.types.IntegerType)._1 == parity(0))
    assert(ColdTier.literalAttrHash(63L,
      org.apache.spark.sql.types.LongType)._1 == parity(1))
    val sparity = Seq("abc").toDF("s")
      .select(ColdTier.attrHashColumn(col("s"),
        org.apache.spark.sql.types.StringType)._1.as("h"))
      .collect().map(_.getLong(0))
    assert(ColdTier.literalAttrHash("abc",
      org.apache.spark.sql.types.StringType)._1 == sparity(0))
    // RANGE in-walk over the same (now mixed) tier: band (30, 32] — the
    // strict edge admits label 30 at walk acceptance (closed hull over
    // the sealed canonical values, format v3) and the exact re-rank
    // drops it; the unindexed 5th segment's exact scan applies the band
    // directly (its labels 17/63 are outside — zero contribution)
    val band = Seq(
      ColdTier.RangeBound("label", ">", 30,
        org.apache.spark.sql.types.IntegerType),
      ColdTier.RangeBound("label", "<=", 32,
        org.apache.spark.sql.types.IntegerType))
    val gotR = ColdTier.searchIndexedLiteralFiltered(spark, dir, qs, k,
      Nil, Metric.L2, shortlist = 2 * k, efSearch = 64, overfetch = 1,
      ranges = band, inWalk = true).collect()
    assert(gotR.forall { r =>
      val id = r.getLong(2)
      id < 100000L && id % 100 > 30 && id % 100 <= 32
    }, "range output must satisfy the strict band exactly")
    val byQ = gotR.groupBy(_.getLong(0))
      .map { case (qid, rs) => qid -> rs.map(_.getLong(2)).toSet }
    val rRecall = (0 until nQ).map { qi =>
      val (_, qv, _, _) = rows(qi * 311)
      val truth = rows.filter(r => r._4 > 30 && r._4 <= 32)
        .map { case (id, v, _, _) => (id, Distances.l2(qv, v)) }
        .sortBy { case (id, d) => (d, id) }.take(k).map(_._1).toSet
      byQ.getOrElse(qi.toLong, Set.empty[Long])
        .count(truth.contains).toDouble / k
    }.sum / nQ
    assert(rRecall >= 0.9, s"in-walk range recall $rRecall")
    // the oblivious range path at the same budget collapses on the 2%
    // band — the acceptance filter is the difference here too
    val gotOb = ColdTier.searchIndexedLiteralFiltered(spark, dir, qs, k,
      Nil, Metric.L2, shortlist = 2 * k, efSearch = 64, overfetch = 1,
      ranges = band).collect()
    val byQOb = gotOb.groupBy(_.getLong(0))
      .map { case (qid, rs) => qid -> rs.map(_.getLong(2)).toSet }
    val obRecall = (0 until nQ).map { qi =>
      val (_, qv, _, _) = rows(qi * 311)
      val truth = rows.filter(r => r._4 > 30 && r._4 <= 32)
        .map { case (id, v, _, _) => (id, Distances.l2(qv, v)) }
        .sortBy { case (id, d) => (d, id) }.take(k).map(_._1).toSet
      byQOb.getOrElse(qi.toLong, Set.empty[Long])
        .count(truth.contains).toDouble / k
    }.sum / nQ
    assert(obRecall < rRecall - 0.2,
      s"oblivious range $obRecall vs in-walk range $rRecall")
  }

  test("attrs marker: compaction and recluster carry the in-walk payload forward instead of stripping it") {
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier-attrs-carry").toString
    val dim = 8
    val rows = (0 until 1200).map { i =>
      val rnd = new java.util.Random(11000L + i)
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat), i.toLong,
        (i % 100).toLong)
    }
    ColdTier.sealMany(rows.toDF("id", "vec", "eventTime", "label")
      .withColumn("segmentId", pmod(col("id"), lit(4)).cast("long")), dir)
    ColdTier.sealIndexes(spark, dir, 0L until 4L, Metric.L2,
      m = 8, efConstruction = 64, attrColumns = Seq("label"))
    val qs = Seq((0L, rows(17)._2, Long.MaxValue / 2, Long.MaxValue / 2))
      .toDF("qid", "qv", "qtime", "ttl")
    val filters = Seq(("label", Seq(17L): Seq[Any],
      org.apache.spark.sql.types.LongType))
    def onlyMatching(): Boolean =
      ColdTier.probeCandidates(spark, dir, qs, shortlist = 10,
          Metric.L2, efSearch = 32, inWalkLiterals = filters)
        .collect().forall(_.getLong(1) % 100 == 17)
    assert(onlyMatching(), "payload must filter before any maintenance")
    // size-tiered compaction rebuilds sidecars — the merged graph must
    // keep the label payload (union of the victims' attrs markers)
    ColdTier.compact(spark, dir, targetRows = 10000L)
    assert(ColdTier.catalog(spark, dir).length == 1, "compacted to one")
    assert(onlyMatching(),
      "compaction must carry the in-walk payload forward")
    // the recluster family shares the commit tail — same guarantee
    ColdTier.recluster(spark, dir, numCells = 2, m = 8,
      efConstruction = 64)
    assert(onlyMatching(),
      "recluster must carry the in-walk payload forward")
  }

  test("writer lock ownership: racing committers breaking the same stale lock lose no segment — every seal lands, every bump counts") {
    // the round-12 advice scenario: N committers all observe a crashed
    // writer's stale lock at once. An ownership-blind break lets two
    // waiters each delete-then-create (the second delete removing the
    // first's FRESH lock), putting two writers inside the critical
    // section — an append's rows can then be deleted by a concurrent
    // swap. The owner-token protocol confirms the exact incarnation
    // observed stale before deleting, so at most one breaker wins; the
    // proof is catalog integrity under the race: all N appended
    // segments present, version bumped exactly N times.
    val dir = Files.createTempDirectory("coldtier-lockrace").toString
    ColdTier.seal(mkVecs(60, 8, 80L, 0L), dir, 0L)
    val v0 = ColdTier.catalogVersion(spark, dir)
    val lock = new java.io.File(dir, "_catalog.lock")
    assert(lock.createNewFile())
    java.nio.file.Files.write(lock.toPath, "crashed-writer".getBytes("UTF-8"))
    assert(lock.setLastModified(System.currentTimeMillis() - 600000L))
    val nWriters = 4
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nWriters)
    try {
      val futures = (1 to nWriters).map { i =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit =
            ColdTier.seal(mkVecs(60, 8, 80L + i, i * 1000L), dir, i.toLong)
        })
      }
      // 300 s, not 120: the default lockWaitMs is itself 120 s, and a
      // loaded parallel-suite hour can push a waiter right up to it —
      // a timeout equal to the wait budget makes the test flaky under
      // load (observed: one full-suite run timed out here, the same
      // test green in 13 s in isolation). The race being proved is
      // integrity, not latency.
      futures.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    assert(ColdTier.catalog(spark, dir).map(_.segmentId).sorted.toList ==
      (0L to nWriters.toLong).toList,
      "a racing breaker deleted a live committer's lock and lost its append")
    assert(ColdTier.catalogVersion(spark, dir) == v0 + nWriters,
      "every committed seal must bump the version exactly once")
    assert(!lock.exists(), "the winning holder releases the lock")
    // and the stale-break is ownership-confirmed on release too: a lock
    // REPLACED under a holder (simulated break-and-recreate) survives
    // that holder's release untouched
    assert(lock.createNewFile())
    java.nio.file.Files.write(lock.toPath, "other-owner".getBytes("UTF-8"))
    assert(lock.setLastModified(System.currentTimeMillis() - 600000L))
    ColdTier.seal(mkVecs(30, 8, 90L, 99000L), dir, 99L)
    assert(!lock.exists(), "a stale foreign lock is broken, then released")
  }

  test("filterIn: the IN-list cold kernel equals the brute-force IN twin across waves, with per-value attr-stats admission") {
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier-in").toString
    val dim = 8
    // label-ALIGNED segments (segment i holds label i) so the attr-stats
    // sidecar admission can prune per IN value
    val rows = (0 until 800).map { i =>
      val rnd = new java.util.Random(3000L + i)
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat), i.toLong,
        (i % 5).toString)
    }
    ColdTier.sealMany(rows.toDF("id", "vec", "eventTime", "label")
      .withColumn("segmentId", pmod(col("id"), lit(5)).cast("long")), dir)
    ColdTier.sealAttrStats(spark, dir, "label")
    val qv1 = rows(42)._2
    val qv2 = rows(111)._2
    val qs = Seq(
      (1L, qv1, 100000L, 200000L, Seq("1", "3")),
      (2L, qv2, 100000L, 200000L, Seq("0", "2", "4")),
      (3L, qv1, 100000L, 200000L, Seq("nope")),           // matches nothing
      (4L, qv2, 100000L, 200000L, Seq("2", "2", "nope"))  // dup + miss
    ).toDF("qid", "qv", "qtime", "ttl", "qfin")
    val stats = scala.collection.mutable.Map.empty[String, Long]
    val got = ColdTier.search(spark, dir, qs, 10, Metric.L2,
        firstWaveFraction = 0.4, terminationFactor = 1.0,
        filterColumn = Some("label"), filterIn = true,
        searchStats = Some(stats))
      .collect().groupBy(_.getLong(0)).view.mapValues(
        _.sortBy(_.getInt(1)).map(_.getLong(2)).toList).toMap
    def truth(qv: Array[Float], vals: Set[String]) =
      rows.filter(r => vals(r._4))
        .map(r => (r._1, Distances.l2(qv, r._2)))
        .sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toList
    assert(got(1L) == truth(qv1, Set("1", "3")), s"q1: ${got.get(1L)}")
    assert(got(2L) == truth(qv2, Set("0", "2", "4")), s"q2: ${got.get(2L)}")
    assert(!got.contains(3L), "an unmatched IN set must return no rows")
    assert(got(4L) == truth(qv2, Set("2")),
      "duplicate and non-matching IN values must not change the answer")
    // per-value admission over the aligned tier: q1 admits 2 segments,
    // q2 admits 3, q3 none, q4 one — 6 probes total across both waves
    val planned = stats.getOrElse("wave1_probes", 0L) +
      stats.getOrElse("wave2_planned", 0L)
    assert(planned == 6L,
      s"IN admission must prune per value on the aligned tier: $planned != 6")
  }

  test("per-query IN in-walk probe: qfin value sets filter at walk acceptance, recall >= 0.9 on 2-of-100 labels, vacuous IN empty, v1 sidecars stay predicate-exact") {
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier-inwalk-qin").toString
    val dim = 16
    val nLabels = 100
    // the same deliberately NOT attr-aligned stripe layout as the
    // equality in-walk spec: every segment holds every label
    val rows = (0 until 8000).map { i =>
      val rnd = new java.util.Random(15000L + i)
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat), i.toLong,
        (i % nLabels).toLong)
    }
    ColdTier.sealMany(rows.toDF("id", "vec", "eventTime", "label")
      .withColumn("segmentId", pmod(col("id"), lit(4)).cast("long")), dir)
    ColdTier.sealIndexes(spark, dir, 0L until 4L, Metric.L2,
      m = 16, efConstruction = 128, attrColumns = Seq("label"))
    val k = 10
    val nQ = 20
    // per-QUERY value sets (2 of 100 labels each, different per query —
    // the shape the literal IN path cannot serve)
    def setOf(qi: Int): Seq[Long] =
      Seq((qi * 7 % nLabels).toLong, ((qi * 7 + 31) % nLabels).toLong)
    val qs = (0 until nQ).map { qi =>
      val (_, qv, _, _) = rows(qi * 311)
      (qi.toLong, qv, Long.MaxValue / 2, Long.MaxValue / 2,
        setOf(qi).toArray)
    }.toDF("qid", "qv", "qtime", "ttl", "qfin")
    val got = ColdTier.searchIndexedInWalkFilteredIn(spark, dir, qs, k,
      "label", Metric.L2, shortlist = 2 * k, efSearch = 64).collect()
    // the exact re-rank applies the true IN: every row satisfies it
    assert(got.nonEmpty)
    got.foreach { r =>
      val qi = r.getLong(0).toInt
      assert(setOf(qi).contains(r.getLong(2) % nLabels),
        s"query $qi returned a row outside its IN set")
    }
    val byQ = got.groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val recall = (0 until nQ).map { qi =>
      val (_, qv, _, _) = rows(qi * 311)
      val vals = setOf(qi).toSet
      val truth = rows.filter(r => vals(r._4))
        .map { case (id, v, _, _) => (id, Distances.l2(qv, v)) }
        .sortBy { case (id, d) => (d, id) }.take(k).map(_._1).toSet
      byQ.getOrElse(qi.toLong, Set.empty[Long])
        .count(truth.contains).toDouble / k
    }.sum / nQ
    assert(recall >= 0.9, s"per-query IN in-walk recall $recall")
    // vacuous IN: a null / empty / all-null qfin returns no rows
    val vac = Seq(
      (100L, rows(17)._2, Long.MaxValue / 2, Long.MaxValue / 2,
        Array.empty[java.lang.Long]),
      (101L, rows(18)._2, Long.MaxValue / 2, Long.MaxValue / 2,
        Array[java.lang.Long](null)))
      .toDF("qid", "qv", "qtime", "ttl", "qfin")
    assert(ColdTier.searchIndexedInWalkFilteredIn(spark, dir, vac, k,
      "label", Metric.L2, shortlist = 2 * k, efSearch = 64)
      .collect().isEmpty, "vacuous IN must return no rows")
    // RESEAL without hashes (v1 sidecars): the walk falls back
    // unfiltered per shard, but the exact re-rank keeps every returned
    // row inside its query's IN set — correctness never depends on the
    // sidecar generation
    ColdTier.sealIndexes(spark, dir, 0L until 4L, Metric.L2,
      m = 16, efConstruction = 128)
    val fb = ColdTier.searchIndexedInWalkFilteredIn(spark, dir, qs, k,
      "label", Metric.L2, shortlist = 2 * k, efSearch = 64).collect()
    fb.foreach { r =>
      val qi = r.getLong(0).toInt
      assert(setOf(qi).contains(r.getLong(2) % nLabels),
        s"v1 fallback: query $qi returned a row outside its IN set")
    }
  }

  test("reclusterByAttr: distinct-value bucketing — 100 int labels x 100 buckets seal as 100 single-label segments (quantile cuts would merge them)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier-attr-distinct").toString
    val rnd = new java.util.Random(59L)
    val nLabels = 100
    val all = (0 until 2000).map { i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat), i.toLong,
        (i % nLabels).toLong)
    }
    (0 until 2).foreach { sid =>
      ColdTier.seal(all.slice(sid * 1000, sid * 1000 + 1000)
        .toDF("id", "vec", "eventTime", "label"), dir, sid.toLong)
    }
    val out = ColdTier.reclusterByAttr(spark, dir, "label",
      buckets = nLabels, cellsPerBucket = 1, m = 8, efConstruction = 32)
    // the r13 residue this closes: quantile probes repeat on 100 uniform
    // labels and merged ~25 bucket pairs (75 segments); distinct-value
    // cuts must give one single-label segment per label
    assert(out.length == nLabels,
      s"${out.length} segments != $nLabels single-label buckets")
    val labelsPerSeg = spark.read
      .parquet(ColdTier.catalog(spark, dir).map(_.path): _*)
      .groupBy("segmentId")
      .agg(countDistinct(col("label")).as("nl"), count(lit(1)).as("n"))
      .collect()
    assert(labelsPerSeg.length == nLabels)
    labelsPerSeg.foreach { r =>
      assert(r.getLong(1) == 1L,
        s"segment ${r.getLong(0)} holds ${r.getLong(1)} labels")
      assert(r.getLong(2) == 2000L / nLabels)
    }
    // admission then collapses every filtered query to its ONE bucket
    val nQ = 5
    val fq = (0 until nQ).map { qi =>
      (qi.toLong, all(qi * 101)._2, Long.MaxValue / 2, Long.MaxValue / 2,
        (qi * 13 % nLabels).toLong)
    }.toDF("qid", "qv", "qtime", "ttl", "qfilter")
    val stats = scala.collection.mutable.Map.empty[String, Long]
    val got = ColdTier.search(spark, dir, fq, 10, Metric.L2,
        firstWaveFraction = 1.0, terminationFactor = 1.0,
        filterColumn = Some("label"), searchStats = Some(stats))
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) =>
        q -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }
    (0 until nQ).foreach { qi =>
      val want = all.filter(_._4 == qi * 13 % nLabels)
        .map { case (id, v, _, _) =>
          (id, Distances.l2(all(qi * 101)._2, v)) }
        .sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toSeq
      assert(got(qi.toLong) == want, s"query $qi filtered")
    }
    val planned = stats("wave1_probes") + stats("wave2_planned")
    assert(planned == nQ.toLong,
      s"single-label buckets must admit exactly one segment per " +
        s"query: planned $planned != $nQ")
  }

  test("attrs-marker sniff: a payload-carrying sidecar whose marker is missing still carries the in-walk payload through compaction") {
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier-attrs-sniff").toString
    val dim = 8
    val rows = (0 until 1200).map { i =>
      val rnd = new java.util.Random(17000L + i)
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat), i.toLong,
        (i % 100).toLong)
    }
    ColdTier.sealMany(rows.toDF("id", "vec", "eventTime", "label")
      .withColumn("segmentId", pmod(col("id"), lit(4)).cast("long")), dir)
    ColdTier.sealIndexes(spark, dir, 0L until 4L, Metric.L2,
      m = 8, efConstruction = 64, attrColumns = Seq("label"))
    // simulate a pre-marker generation (or the old crash window): the
    // sidecars carry the payload, the markers are gone
    (0 until 4).foreach { sid =>
      val f = new java.io.File(s"$dir/segment-$sid-attrs")
      assert(f.exists(), "marker should exist after sealIndexes")
      assert(f.delete())
    }
    val qs = Seq((0L, rows(17)._2, Long.MaxValue / 2, Long.MaxValue / 2))
      .toDF("qid", "qv", "qtime", "ttl")
    val filters = Seq(("label", Seq(17L): Seq[Any],
      org.apache.spark.sql.types.LongType))
    def onlyMatching(): Boolean =
      ColdTier.probeCandidates(spark, dir, qs, shortlist = 10,
          Metric.L2, efSearch = 32, inWalkLiterals = filters)
        .collect().forall(_.getLong(1) % 100 == 17)
    assert(onlyMatching(), "payload must filter with markers missing")
    // compaction must SNIFF the payload columns from the sidecar bytes
    // (the r13 advice) instead of silently stripping them
    ColdTier.compact(spark, dir, targetRows = 10000L)
    assert(ColdTier.catalog(spark, dir).length == 1, "compacted to one")
    assert(onlyMatching(),
      "compaction must carry the sniffed in-walk payload forward")
  }

  test("inWalk without sealed payload keeps the adaptive over-fetch net: results equal the oblivious literal path bit-for-bit, and the presence check reports the gap") {
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier-inwalk-nopayload").toString
    val dim = 16
    val rows = (0 until 4000).map { i =>
      val rnd = new java.util.Random(19000L + i)
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat), i.toLong,
        (i % 100).toLong)
    }
    ColdTier.sealMany(rows.toDF("id", "vec", "eventTime", "label")
      .withColumn("segmentId", pmod(col("id"), lit(4)).cast("long")), dir)
    // v1 sidecars: NO attr payload — an inWalk registration over this
    // tier is the r13-advice failure shape (effOverfetch forced to 1
    // with no payload anywhere would silently collapse recall)
    ColdTier.sealIndexes(spark, dir, 0L until 4L, Metric.L2,
      m = 16, efConstruction = 128)
    assert(!ColdTier.inWalkPayloadPresent(spark, dir, Seq("label"),
      ColdTier.catalog(spark, dir)),
      "presence check must report the missing payload")
    val k = 10
    val qs = (0 until 10).map { qi =>
      val (_, qv, _, _) = rows(qi * 311)
      (qi.toLong, qv, Long.MaxValue / 2, Long.MaxValue / 2)
    }.toDF("qid", "qv", "qtime", "ttl")
    val filters = Seq(("label", Seq(17L, 63L): Seq[Any],
      org.apache.spark.sql.types.LongType))
    def run(inWalk: Boolean) = ColdTier.searchIndexedLiteralFiltered(
      spark, dir, qs, k, filters, Metric.L2, shortlist = 2 * k,
      efSearch = 64, overfetch = 8, inWalk = inWalk)
      .collect().map(_.toSeq).toSet
    // with the payload absent the net must hold: the inWalk call keeps
    // the same over-fetched shortlist as the oblivious one, so the two
    // compositions are bit-identical (walks are unfiltered either way)
    assert(run(inWalk = true) == run(inWalk = false),
      "missing payload: inWalk must fall back to the over-fetched path")
    // and with the payload present the check passes (sanity)
    ColdTier.sealIndexes(spark, dir, 0L until 4L, Metric.L2,
      m = 16, efConstruction = 128, attrColumns = Seq("label"))
    assert(ColdTier.inWalkPayloadPresent(spark, dir, Seq("label"),
      ColdTier.catalog(spark, dir)))
  }

  test("duplicate-id corpus: the exact scan is layout-independent — striped and attr-aligned tiers return the same dedup'd top-k as a local keyed brute force") {
    import spark.implicits._
    // the r14 bench anomaly: source rows with duplicate keys (the
    // driver's lineitem carries duplicate (orderkey, linenumber) pairs)
    // made the "exact" scan return DIFFERENT top-k on the mixed vs the
    // attr-aligned layout — BoundedTopK let copies occupy several of a
    // partition's k slots while the global merge dedups, so an aligned
    // layout (all copies of an id in ONE segment) starved the merge.
    // Duplicate-heavy corpus: every 3rd row is a copy of another id.
    val dim = 8
    val base = (0 until 3000).map { i =>
      val rnd = new java.util.Random(21000L + i)
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat), i.toLong,
        (i % 20).toLong)
    }
    val dups = (0 until 1500).map { j =>
      val src = base(j * 2)
      (src._1, src._2, src._3, src._4) // exact copy, same id
    }
    val rows = base ++ dups
    val qs = (0 until 12).map { qi =>
      (qi.toLong, base(qi * 211)._2, Long.MaxValue / 2, Long.MaxValue / 2,
        (qi % 20).toLong)
    }.toDF("qid", "qv", "qtime", "ttl", "qfilter")
    def results(dir: String): Map[Long, Seq[Long]] =
      ColdTier.search(spark, dir, qs, 10, Metric.L2,
          firstWaveFraction = 1.0, terminationFactor = 1.0,
          filterColumn = Some("label"))
        .collect().groupBy(_.getLong(0))
        .map { case (q, rs) =>
          q -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }
    // striped layout: copies scatter across 4 id-hash segments
    val dirS = Files.createTempDirectory("coldtier-dup-striped").toString
    ColdTier.sealMany(rows.toDF("id", "vec", "eventTime", "label")
      .withColumn("segmentId",
        pmod(xxhash64(monotonically_increasing_id()), lit(4))), dirS)
    // aligned layout: ALL copies of an id land in its label's segment
    val dirA = Files.createTempDirectory("coldtier-dup-aligned").toString
    ColdTier.sealMany(rows.toDF("id", "vec", "eventTime", "label")
      .withColumn("segmentId", col("label")), dirA)
    ColdTier.sealAttrStats(spark, dirA, "label")
    val striped = results(dirS)
    val aligned = results(dirA)
    // keyed truth: top-10 DISTINCT ids by (best dist, id) per label
    (0 until 12).foreach { qi =>
      val lbl = (qi % 20).toLong
      val qv = base(qi * 211)._2
      val want = rows.filter(_._4 == lbl)
        .groupBy(_._1).map { case (id, xs) =>
          (id, xs.map(x => Distances.l2(qv, x._2)).min) }
        .toSeq.sortBy { case (id, d) => (d, id) }.take(10).map(_._1)
      assert(striped(qi.toLong) == want, s"striped query $qi")
      assert(aligned(qi.toLong) == want, s"aligned query $qi")
    }
  }

  test("sealDeletes redoes a batch whose parquet write crashed inside the log: the half-written dir is not a commit") {
    import spark.implicits._
    val dir = Files.createTempDirectory("coldtier-delcrash").toString
    ColdTier.seal(mkVecs(50, 4, 7L, 0L), dir, 1L)
    // what a driver crash mid-write left behind when the log was written
    // in place: the batch dir exists, holding only the job's _temporary
    Files.createDirectories(
      java.nio.file.Paths.get(dir, "deletes-log", "batch-7", "_temporary", "0"))
    val dead = Seq((3L, 100L), (11L, 100L))
    val redone = ColdTier.sealDeletes(dead.toDF("id", "ts"), dir, 7L)
    assert(redone, "a crashed write must be redone, not taken for a commit")
    val logged = ColdTier.tombstones(spark, dir).get
      .as[(Long, Long)].collect().toSet
    assert(dead.toSet.subsetOf(logged), s"tombstones: $logged")
    // the committed batch is now final: a replay is a no-op
    assert(!ColdTier.sealDeletes(Seq((5L, 100L)).toDF("id", "ts"), dir, 7L))
    val queries = Seq((1L, Array.fill(4)(0f), 1000L, 100000L))
      .toDF("qid", "qv", "qtime", "ttl")
    val ids = ColdTier.search(spark, dir, queries, 50, Metric.L2,
        firstWaveFraction = 1.0, terminationFactor = 1.0)
      .collect().map(_.getLong(2)).toSet
    assert(ids.size == 48 && !ids.contains(3L) && !ids.contains(11L),
      s"deleted ids must stay shadowed in cold search: $ids")
  }
}
