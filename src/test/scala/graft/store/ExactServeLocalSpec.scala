package graft.store

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.Metric
import graft.functions.Distances

/**
 * The two exact engines of an admission-collapsed literal plan: the
 * PROCESS-LOCAL kernel of [[ColdTier.serveLocal]] over
 * [[ColdTier.SegmentDataCache]]-resident segments (zero Spark jobs per
 * statement once warm; `engine == "exact"`) and the lazy DISTRIBUTED
 * scan of the direct API ([[ColdTier.searchIndexedLiteralFiltered]]),
 * which the SQL operator runs when `serveLocal` declines. The two must
 * be bit-identical on every literal shape — same conservative
 * admission, same resolved Catalyst predicate, same tombstone
 * semantics, same BoundedTopK kernel — and the scan must keep its
 * pushdown. `serveLocal` returning None is the decline.
 */
class ExactServeLocalSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder().master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false").getOrCreate()

  private val dim = 8
  private val k = 5

  /** One attr-ALIGNED tier shared by the suite: 4 single-label segments
   * (250 rows each, label = segmentId), a numeric score attr, attr
   * stats on label — the converged layout where admission collapses a
   * label literal to its one segment. */
  private lazy val fixture: (String,
      IndexedSeq[(Long, Array[Float], Long, Long, Double)]) = {
    import spark.implicits._
    spark.sparkContext.setLogLevel("ERROR")
    val dir = Files.createTempDirectory("exact-serve-local").toString
    val rnd = new java.util.Random(61L)
    val all = (0 until 1000).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat), i.toLong,
        (i % 4).toLong, i.toDouble)
    }
    (0L until 4L).foreach { l =>
      ColdTier.seal(
        all.filter(_._4 == l).toDF("id", "vec", "eventTime", "label", "score"),
        dir, l)
    }
    ColdTier.sealAttrStats(spark, dir, "label")
    (dir, all)
  }

  private def queriesDf(qv: Array[Float]) = {
    import spark.implicits._
    Seq((0L, qv, 100000L, 1000000L)).toDF("qid", "qv", "qtime", "ttl")
  }

  /** `serveLocal`'s answer for one query in the queriesDf window as
   * (qid, rn, id, dist) rows, or None when it declines; a served answer
   * must come from the exact engine. */
  private def memory(dir: String, qv: Array[Float],
      filters: Seq[(String, Seq[Any], org.apache.spark.sql.types.DataType)],
      ranges: Seq[ColdTier.RangeBound] = Nil, qid: Long = 0L)
      : Option[Seq[(Long, Int, Long, Double)]] =
    ColdTier.serveLocal(spark, dir, qv, 100000L, 1000000L, k, filters,
        ranges, shortlist = 8, efSearch = 32)
      .map { s =>
        assert(s.engine == "exact",
          "an admission-collapsed literal should serve from the exact engine")
        s.rows.toSeq.zipWithIndex.map { case ((id, d), i) =>
          (qid, i + 1, id, d) }
      }

  /** The direct API's rows sorted by (qid, rn). */
  private def scanRows(df: org.apache.spark.sql.DataFrame)
      : Seq[(Long, Int, Long, Double)] =
    df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq

  /** Runs the literal plan under both engines, asserts the decision
   * observables, returns (memoryRows, scanRows) sorted by (qid, rn). */
  private def bothEngines(
      filters: Seq[(String, Seq[Any], org.apache.spark.sql.types.DataType)],
      ranges: Seq[ColdTier.RangeBound] = Nil,
      qv: Array[Float]): (Seq[(Long, Int, Long, Double)],
      Seq[(Long, Int, Long, Double)]) = {
    val mem = memory(fixture._1, qv, filters, ranges).getOrElse(
      fail("default engine should be the warm-cache local kernel"))
    val scan = scanRows(ColdTier.searchIndexedLiteralFiltered(spark,
      fixture._1, queriesDf(qv), k, filters, Metric.L2, shortlist = 8,
      efSearch = 32, ranges = ranges))
    spark.conf.set(ColdTier.ExactServeLocalKey, "false")
    try assert(memory(fixture._1, qv, filters, ranges).isEmpty,
      "the kill switch should decline in-process serving")
    finally spark.conf.unset(ColdTier.ExactServeLocalKey)
    (mem, scan)
  }

  test("memory and scan engines are bit-identical on every literal shape") {
    val (dir, all) = fixture
    val qv = all(123)._2
    val lt = org.apache.spark.sql.types.LongType

    // EQUALITY: label = 2 — also checked against an independent truth
    val (mEq, sEq) = bothEngines(Seq(("label", Seq(2L), lt)), qv = qv)
    assert(mEq == sEq)
    val truthEq = all.filter(_._4 == 2L)
      .map { case (id, v, _, _, _) => (id, Distances.l2(qv, v)) }
      .sortBy { case (id, d) => (d, id) }.take(k).map(_._1).toList
    assert(mEq.map(_._3).toList == truthEq)

    // IN: label IN (1, 3) — two admitted segments, merged by one heap
    val (mIn, sIn) = bothEngines(Seq(("label", Seq(1L, 3L), lt)), qv = qv)
    assert(mIn == sIn)
    val truthIn = all.filter(r => r._4 == 1L || r._4 == 3L)
      .map { case (id, v, _, _, _) => (id, Distances.l2(qv, v)) }
      .sortBy { case (id, d) => (d, id) }.take(k).map(_._1).toList
    assert(mIn.map(_._3).toList == truthIn)

    // CONJUNCTION with a numeric RANGE on an un-statted attr (score):
    // admission collapses via the label, hydration applies both exactly
    val rb = Seq(
      ColdTier.RangeBound("score", ">=", 100.0,
        org.apache.spark.sql.types.DoubleType),
      ColdTier.RangeBound("score", "<", 700.0,
        org.apache.spark.sql.types.DoubleType))
    val (mCj, sCj) = bothEngines(Seq(("label", Seq(2L), lt)), rb, qv)
    assert(mCj == sCj)
    val truthCj = all
      .filter(r => r._4 == 2L && r._5 >= 100.0 && r._5 < 700.0)
      .map { case (id, v, _, _, _) => (id, Distances.l2(qv, v)) }
      .sortBy { case (id, d) => (d, id) }.take(k).map(_._1).toList
    assert(mCj.map(_._3).toList == truthCj)

    // a value no segment admits: empty result from the shared early
    // return, both engines
    val empty = ColdTier.searchIndexedLiteralFiltered(spark, dir,
      queriesDf(qv), k, Seq(("label", Seq(99L), lt)), Metric.L2,
      shortlist = 8, efSearch = 32)
    assert(empty.count() == 0)
  }

  test("tombstones kill rows identically in both engines") {
    import spark.implicits._
    val (dir, all) = fixture
    val qv = all(123)._2
    val lt = org.apache.spark.sql.types.LongType
    val (before, _) = bothEngines(Seq(("label", Seq(2L), lt)), qv = qv)
    val victim = before.head._3
    assert(ColdTier.sealDeletes(
      Seq((victim, victim)).toDF("id", "ts"), dir, batchId = 901L))
    val (mAfter, sAfter) = bothEngines(Seq(("label", Seq(2L), lt)), qv = qv)
    assert(mAfter == sAfter)
    assert(!mAfter.exists(_._3 == victim),
      s"tombstoned id $victim should be gone")
    assert(mAfter.map(_._3) != before.map(_._3))
  }

  test("non-plan-time or oversized query sets fall back to the scan engine") {
    import spark.implicits._
    val (dir, all) = fixture
    val qv = all(123)._2
    val lt = org.apache.spark.sql.types.LongType
    val label = Seq(("label", Seq(2L), lt))
    def run(qs: org.apache.spark.sql.DataFrame) = scanRows(
      ColdTier.searchIndexedLiteralFiltered(spark, dir, qs, k, label,
        Metric.L2, shortlist = 8, efSearch = 32))
    val mem = memory(dir, qv, label).get

    // a cached query set (an InMemoryRelation, not a LocalRelation)
    // through the direct API answers what the exact engine answers
    val cached = queriesDf(qv).cache()
    try {
      cached.count()
      assert(run(cached) == mem)
    } finally cached.unpersist()

    // a two-query batch: per qid, the exact engine's rows for that query
    val two = Seq((0L, qv, 100000L, 1000000L), (1L, qv, 100000L, 1000000L))
      .toDF("qid", "qv", "qtime", "ttl")
    val batch = run(two)
    assert(batch == mem ++ memory(dir, qv, label, qid = 1L).get,
      "a batch must answer each query as the exact engine does")
    // both queries share one qv: identical per-query answers, rn 1..k
    assert(batch.count(_._1 == 0L) == k && batch.count(_._1 == 1L) == k)
  }

  test("warm cache: one load per admitted segment, reused across statements") {
    val (dir, all) = fixture
    val qv = all(123)._2
    val lt = org.apache.spark.sql.types.LongType
    ColdTier.SegmentDataCache.invalidateAll()
    def run(lbl: Long) = assert(
      memory(dir, qv, Seq(("label", Seq(lbl), lt))).nonEmpty,
      "the exact engine should serve")
    run(2L)
    val afterFirst = ColdTier.SegmentDataCache.entryCount
    assert(afterFirst == 1, s"one admitted segment -> one entry, " +
      s"got $afterFirst")
    run(2L); run(2L)
    assert(ColdTier.SegmentDataCache.entryCount == afterFirst,
      "repeat statements must not reload the segment")
    run(1L)
    assert(ColdTier.SegmentDataCache.entryCount == afterFirst + 1)
    assert(ColdTier.SegmentDataCache.cachedBytes > 0)
  }

  test("admission past the cache byte budget falls back to the scan " +
      "engine bit-equally (r16 verdict #7: a statement must not pin " +
      "more decoded bytes than the engine may hold)") {
    val (dir, all) = fixture
    val qv = all(123)._2
    val lt = org.apache.spark.sql.types.LongType
    val label = Seq(("label", Seq(2L), lt))
    val mem = memory(dir, qv, label).get
    // 250 admitted rows estimate far above 2 KiB: the statement must
    // not enter the memory engine (positive budget, so the engine
    // itself stays enabled — this is the admitted-bytes precondition,
    // not the kill switch)
    spark.conf.set(ColdTier.SegmentCacheBytesKey, "2048")
    val scan = try {
      assert(memory(dir, qv, label).isEmpty,
        "an admission past the byte budget must decline the memory engine")
      scanRows(ColdTier.searchIndexedLiteralFiltered(spark, dir,
        queriesDf(qv), k, label, Metric.L2, shortlist = 8, efSearch = 32))
    } finally spark.conf.unset(ColdTier.SegmentCacheBytesKey)
    assert(mem == scan)
  }

  test("parallel batch kernel with a non-positive wait bound falls back " +
      "to the scan engine bit-equally (finite Await, r16 verdict #7)") {
    import spark.implicits._
    val (dir, all) = fixture
    val qv = all(123)._2
    val lt = org.apache.spark.sql.types.LongType
    val label = Seq(("label", Seq(2L), lt))
    val two = Seq((0L, qv, 100000L, 1000000L), (1L, all(500)._2, 100000L,
      1000000L)).toDF("qid", "qv", "qtime", "ttl")
    val scan = scanRows(ColdTier.searchIndexedLiteralFiltered(spark, dir,
      two, k, label, Metric.L2, shortlist = 8, efSearch = 32))
    val mem = memory(dir, qv, label).get ++
      memory(dir, all(500)._2, label, qid = 1L).get
    assert(mem == scan,
      "a two-query batch must answer each query as the exact engine does")
    assert(mem.count(_._1 == 0L) == k && mem.count(_._1 == 1L) == k)
    assert(mem.filter(_._1 == 0L).map(_._3) != mem.filter(_._1 == 1L).map(_._3))
  }

  test("scan fallback keeps the literal pushed to the parquet scan") {
    val (dir, all) = fixture
    val qv = all(123)._2
    val lt = org.apache.spark.sql.types.LongType
    val df = ColdTier.searchIndexedLiteralFiltered(spark, dir,
      queriesDf(qv), k, Seq(("label", Seq(2L), lt)), Metric.L2,
      shortlist = 8, efSearch = 32)
    df.collect()
    val s = df.queryExecution.executedPlan.toString
    assert(s.contains("PushedFilters: ["),
      "the scan engine must push the literal to the parquet scan")
  }

  test("single-wave fast path (fwf >= 1) is bit-identical to the two-wave " +
      "plan and keeps the searchStats contract") {
    import spark.implicits._
    val (dir, all) = fixture
    val qs = Seq(
      (0L, all(123)._2, 100000L, 1000000L),
      (1L, all(500)._2, 100000L, 1000000L))
      .toDF("qid", "qv", "qtime", "ttl")
    def run(fwf: Double) = ColdTier.search(spark, dir, qs, k, Metric.L2,
        firstWaveFraction = fwf, terminationFactor = 1.0)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    // both are lossless exact plans; fwf = 1.0 takes the r16 single-wave
    // path (no thresholds join, no wave-2 scan, no wave1Top persist)
    assert(run(1.0) == run(0.34))
    val stats = scala.collection.mutable.Map.empty[String, Long]
    ColdTier.search(spark, dir, qs, k, Metric.L2, firstWaveFraction = 1.0,
      terminationFactor = 1.0, searchStats = Some(stats)).collect()
    assert(stats("wave1_probes") == 8L, // 2 queries x 4 fresh segments
      s"got ${stats("wave1_probes")}")
    assert(stats("wave2_planned") == 0L && stats("wave2_scanned") == 0L)
  }

  test("catalog cache kill switch: catalog stays correct with the cache off") {
    val (dir, _) = fixture
    val on = ColdTier.catalog(spark, dir).map(_.segmentId).sorted
    spark.conf.set(ColdTier.CatalogCacheKey, "false")
    val off = try ColdTier.catalog(spark, dir).map(_.segmentId).sorted
      finally spark.conf.unset(ColdTier.CatalogCacheKey)
    assert(on.sameElements(off))
  }

  test("literal shape keys are injective: values, entries and types " +
      "cannot run into each other") {
    val lt = org.apache.spark.sql.types.LongType
    val st = org.apache.spark.sql.types.StringType
    def key(fs: (String, Seq[Any], org.apache.spark.sql.types.DataType)*) =
      ColdTier.literalShapeKey(fs, Nil)
    assert(key(("label", Seq(1L, 23L), lt)) != key(("label", Seq(12L, 3L), lt)))
    assert(key(("r", Seq("a\u0001b", "c"), st)) !=
      key(("r", Seq("a", "b\u0001c"), st)))
    assert(key(("r", Seq("a,b"), st)) != key(("r", Seq("a", "b"), st)))
    assert(key(("r", Seq(null), st)) != key(("r", Seq("null"), st)))
    assert(key(("label", Seq(1L), lt)) != key(("label", Seq("1"), st)))
    assert(key(("a", Seq(1L), lt), ("b", Seq(2L), lt)) !=
      key(("a", Seq(1L, 2L), lt)))
    val rb = ColdTier.RangeBound("score", ">=", 1.0,
      org.apache.spark.sql.types.DoubleType)
    assert(ColdTier.literalShapeKey(Seq(("label", Seq(1L), lt)), Seq(rb)) !=
      ColdTier.literalShapeKey(Seq(("label", Seq(1L), lt)), Nil))
  }

  test("warm masks are per literal: IN lists whose values concatenate " +
      "alike each return their own brute-force top-k on the memory path") {
    import spark.implicits._
    val dir = Files.createTempDirectory("exact-serve-shapekey").toString
    val rnd = new java.util.Random(71L)
    val regions = Seq("a", "b\u0001c", "a\u0001b", "c")
    val labels = Seq(1L, 23L, 12L, 3L)
    // segment 0 mixes every label and region; segment 1 holds none of
    // them, so every literal below admission-collapses onto segment 0
    // and the statements share its mask memo
    val rows = (0 until 400).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat), i.toLong,
        if (i < 300) labels(i % 4) else 99L,
        if (i < 300) regions(i % 4) else "zzz")
    }
    Seq(0 until 300, 300 until 400).zipWithIndex.foreach { case (r, seg) =>
      ColdTier.seal(rows.slice(r.head, r.last + 1)
        .toDF("id", "vec", "eventTime", "label", "region"), dir, seg.toLong)
    }
    ColdTier.sealAttrStats(spark, dir, "label")
    ColdTier.sealAttrStats(spark, dir, "region")
    val qv = rows(17)._2
    def check(column: String, values: Seq[Any],
        vt: org.apache.spark.sql.types.DataType,
        keep: ((Long, Array[Float], Long, Long, String)) => Boolean) = {
      val got = memory(dir, qv, Seq((column, values, vt))).get
        .map(_._3).toList
      val truth = rows.filter(keep)
        .map { case (id, v, _, _, _) => (id, Distances.l2(qv, v)) }
        .sortBy { case (id, d) => (d, id) }.take(k).map(_._1).toList
      assert(got == truth, s"$column IN $values")
    }
    val lt = org.apache.spark.sql.types.LongType
    val st = org.apache.spark.sql.types.StringType
    check("label", Seq(1L, 23L), lt, r => r._4 == 1L || r._4 == 23L)
    check("label", Seq(12L, 3L), lt, r => r._4 == 12L || r._4 == 3L)
    check("region", Seq("a\u0001b", "c"), st,
      r => r._5 == "a\u0001b" || r._5 == "c")
    check("region", Seq("a", "b\u0001c"), st,
      r => r._5 == "a" || r._5 == "b\u0001c")
  }

  test("a segment without a centroid is never admitted to the memory " +
      "engine: its statements fall back to the distributed plan") {
    import spark.implicits._
    val dir = Files.createTempDirectory("exact-serve-nocentroid").toString
    val rnd = new java.util.Random(73L)
    val rows = (0 until 300).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat), i.toLong,
        (i % 3).toLong)
    }
    (0L until 3L).foreach { l =>
      ColdTier.seal(rows.filter(_._4 == l).toDF("id", "vec", "eventTime",
        "label"), dir, l)
    }
    ColdTier.sealAttrStats(spark, dir, "label")
    val cat = ColdTier.catalog(spark, dir)
    ColdTier.swapCatalog(spark, dir,
      cat.map(s => if (s.segmentId == 1L) s.copy(centroid = null) else s),
      ColdTier.catalogVersion(spark, dir))
    val qv = rows(5)._2
    val lt = org.apache.spark.sql.types.LongType
    // checks the direct API against the truth, then returns the memory
    // engine's ids, or None when it declines
    def run(label: Long) = {
      val filters = Seq(("label", Seq(label), lt))
      val got = ColdTier.searchIndexedLiteralFiltered(spark, dir,
          queriesDf(qv), k, filters, Metric.L2,
          shortlist = 8, efSearch = 32)
        .collect().map(r => (r.getInt(1), r.getLong(2)))
        .sortBy(_._1).map(_._2).toList
      val truth = rows.filter(_._4 == label)
        .map { case (id, v, _, _) => (id, Distances.l2(qv, v)) }
        .sortBy { case (id, d) => (d, id) }.take(k).map(_._1).toList
      assert(got == truth)
      memory(dir, qv, filters).map(_.map(_._3).toList)
    }
    assert(run(1L).isEmpty,
      "a centroid-less segment must not enter the memory engine")
    val served = run(2L)
    assert(served.nonEmpty)
    assert(served.get == rows.filter(_._4 == 2L)
      .map { case (id, v, _, _) => (id, Distances.l2(qv, v)) }
      .sortBy { case (id, d) => (d, id) }.take(k).map(_._1).toList)
  }

  test("listingSigAndBytes counts every file of a nested delete log") {
    val root = Files.createTempDirectory("listing-sig")
    def put(rel: String, n: Int): Unit = {
      val f = root.resolve(rel)
      Files.createDirectories(f.getParent)
      Files.write(f, new Array[Byte](n))
    }
    put("top", 7)
    put("batch-1/part-0", 100)
    put("batch-2/nested/part-1", 300)
    val p = new org.apache.hadoop.fs.Path(root.toUri)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (sig, bytes) = ColdTier.listingSigAndBytes(fs, p)
    assert(bytes == 407L, s"bytes $bytes")
    assert(sig.contains("batch-2/nested/part-1:300:"), sig)
    // a file two levels down changes the signature too
    put("batch-2/nested/part-2", 5)
    val (sig2, bytes2) = ColdTier.listingSigAndBytes(fs, p)
    assert(sig2 != sig && bytes2 == 412L)
  }

  test("mask memo: 20 one-off IN shapes leave a warm = statement's mask memoized") {
    import spark.implicits._
    val dir = Files.createTempDirectory("exact-serve-maskmemo").toString
    val rnd = new java.util.Random(83L)
    // segment 0 mixes labels 0-9, segment 1 holds label 99: every
    // literal below collapses onto segment 0 and shares its mask memo
    val rows = (0 until 500).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat), i.toLong,
        if (i < 400) (i % 10).toLong else 99L)
    }
    Seq(0 until 400, 400 until 500).zipWithIndex.foreach { case (r, seg) =>
      ColdTier.seal(rows.slice(r.head, r.last + 1)
        .toDF("id", "vec", "eventTime", "label"), dir, seg.toLong)
    }
    ColdTier.sealAttrStats(spark, dir, "label")
    val qv = rows(17)._2
    val lt = org.apache.spark.sql.types.LongType
    def serve(labels: Seq[Long]) = {
      val s = ColdTier.serveLocal(spark, dir, qv, 100000L, 1000000L, k,
        Seq(("label", labels, lt)), Nil, shortlist = 8).get
      assert(s.engine == "exact" && s.segments == 1)
      val truth = rows.filter(r => labels.contains(r._4))
        .map(r => (r._1, Distances.l2(qv, r._2)))
        .sortBy { case (id, d) => (d, id) }.take(k).map(_._1)
      assert(s.rows.map(_._1).toSeq == truth, s"label IN $labels")
      s.rows.toSeq
    }
    val eq = Seq(3L)
    val first = serve(eq)
    val computed = ColdTier.maskComputations.get()
    assert(serve(eq) == first)
    assert(ColdTier.maskComputations.get() == computed, "the warm = statement recomputed its mask")
    val shapes = (for (a <- 0L to 9L; b <- (a + 1) to 9L) yield Seq(a, b)).take(20)
    shapes.foreach(serve)
    assert(ColdTier.maskComputations.get() == computed + 20,
      "each new IN shape computes its mask once")
    assert(serve(eq) == first)
    assert(ColdTier.maskComputations.get() == computed + 20,
      "the one-off IN shapes evicted the warm = statement's mask")
  }

  test("MaskMemo evicts one entry, never a reused one, and keeps masks as stored") {
    val memo = new ColdTier.MaskMemo(4)
    val hot = Array(true, false, true)
    assert(memo.put("hot", hot) eq hot)
    assert(memo.get("hot") eq hot)
    val cold = (0 until 40).map(i => s"cold-$i" -> Array.fill(3)(i % 2 == 0))
    cold.foreach { case (key, m) =>
      assert(memo.put(key, m) eq m)
      assert(memo.get("hot") eq hot, s"$key evicted the reused entry")
    }
    // the last three one-off entries fill the other slots, bit-equal
    cold.takeRight(3).foreach { case (key, m) =>
      assert(memo.get(key).sameElements(m))
    }
    assert(memo.get(cold.head._1) == null)
    // a racing second put keeps the first mask
    val again = Array(false, false, false)
    assert(memo.put("hot", again) eq hot)
  }
}
