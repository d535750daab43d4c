package graft.store

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.Metric
import graft.functions.Distances

/**
 * The r16 serving engine decision inside the exact-kernel fast path
 * ([[ColdTier.searchIndexedLiteralFiltered]]): an admission-collapsed
 * literal plan is served by the PROCESS-LOCAL kernel over
 * [[ColdTier.SegmentDataCache]]-resident segments (zero Spark jobs per
 * statement once warm) with the lazy DISTRIBUTED scan as fallback. The
 * two engines must be bit-identical on every literal shape — same
 * conservative admission, same resolved Catalyst predicate, same
 * tombstone semantics, same BoundedTopK kernel — and the fallback must
 * keep its scan pushdown. Which engine served is observable via
 * [[ColdTier.exactServedFrom]] ("memory" | "scan");
 * [[ColdTier.literalServedVia]] stays "exact" for both.
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

  /** Runs the literal plan under both engines, asserts the decision
   * observables, returns (memoryRows, scanRows) sorted by (qid, rn). */
  private def bothEngines(
      filters: Seq[(String, Seq[Any], org.apache.spark.sql.types.DataType)],
      ranges: Seq[ColdTier.RangeBound] = Nil,
      qv: Array[Float]): (Seq[(Long, Int, Long, Double)],
      Seq[(Long, Int, Long, Double)]) = {
    def run(): Seq[(Long, Int, Long, Double)] =
      ColdTier.searchIndexedLiteralFiltered(spark, fixture._1,
          queriesDf(qv), k, filters, Metric.L2, shortlist = 8,
          efSearch = 32, ranges = ranges)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2)).toSeq
    val mem = run()
    assert(ColdTier.literalServedVia.get == "exact")
    assert(ColdTier.exactServedFrom.get == "memory",
      "default engine should be the warm-cache local kernel")
    spark.conf.set(ColdTier.ExactServeLocalKey, "false")
    val scan = try run() finally
      spark.conf.unset(ColdTier.ExactServeLocalKey)
    assert(ColdTier.literalServedVia.get == "exact")
    assert(ColdTier.exactServedFrom.get == "scan",
      "kill switch should force the distributed scan engine")
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
    def run(qs: org.apache.spark.sql.DataFrame) =
      ColdTier.searchIndexedLiteralFiltered(spark, dir, qs, k,
        Seq(("label", Seq(2L), lt)), Metric.L2, shortlist = 8,
        efSearch = 32).collect()

    // a cached query set is an InMemoryRelation, not a LocalRelation —
    // the plan-time row bound cannot be established, so: scan engine
    val cached = queriesDf(qv).cache()
    try {
      cached.count()
      val viaCache = run(cached)
      assert(ColdTier.exactServedFrom.get == "scan")
      assert(viaCache.nonEmpty)
    } finally cached.unpersist()

    // a query batch past the configured bound stays distributed
    val two = Seq((0L, qv, 100000L, 1000000L), (1L, qv, 100000L, 1000000L))
      .toDF("qid", "qv", "qtime", "ttl")
    spark.conf.set(ColdTier.ExactServeLocalMaxQueriesKey, "1")
    try {
      run(two)
      assert(ColdTier.exactServedFrom.get == "scan")
    } finally spark.conf.unset(ColdTier.ExactServeLocalMaxQueriesKey)
    // and under the default bound the same batch serves from memory —
    // through the PARALLEL per-query kernel (r16: >1 plan-time queries
    // fan across ExecutionContext.global; slot-indexed assembly keeps
    // the output bit-identical to the sequential order) — bit-equal to
    // the distributed scan engine on the same batch
    val memBatch = run(two)
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(ColdTier.exactServedFrom.get == "memory")
    spark.conf.set(ColdTier.ExactServeLocalKey, "false")
    val scanBatch = try run(two)
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2)).toSeq
      finally spark.conf.unset(ColdTier.ExactServeLocalKey)
    assert(memBatch == scanBatch,
      "parallel batch kernel must be bit-identical to the scan engine")
    // both queries share one qv: identical per-query answers, rn 1..k
    assert(memBatch.count(_._1 == 0L) == k && memBatch.count(_._1 == 1L) == k)
  }

  test("warm cache: one load per admitted segment, reused across statements") {
    val (dir, all) = fixture
    val qv = all(123)._2
    val lt = org.apache.spark.sql.types.LongType
    ColdTier.SegmentDataCache.invalidateAll()
    def run(lbl: Long) =
      ColdTier.searchIndexedLiteralFiltered(spark, dir, queriesDf(qv), k,
        Seq(("label", Seq(lbl), lt)), Metric.L2, shortlist = 8,
        efSearch = 32).collect()
    run(2L)
    assert(ColdTier.exactServedFrom.get == "memory")
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
    def run() = ColdTier.searchIndexedLiteralFiltered(spark, dir,
        queriesDf(qv), k, Seq(("label", Seq(2L), lt)), Metric.L2,
        shortlist = 8, efSearch = 32)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    val mem = run()
    assert(ColdTier.exactServedFrom.get == "memory")
    // 250 admitted rows estimate far above 2 KiB: the statement must
    // not enter the memory engine (positive budget, so the engine
    // itself stays enabled — this is the admitted-bytes precondition,
    // not the kill switch)
    spark.conf.set(ColdTier.SegmentCacheBytesKey, "2048")
    val scan = try run()
      finally spark.conf.unset(ColdTier.SegmentCacheBytesKey)
    assert(ColdTier.exactServedFrom.get == "scan",
      "an admission past the byte budget must fall back to the scan engine")
    assert(mem == scan)
  }

  test("parallel batch kernel with a non-positive wait bound falls back " +
      "to the scan engine bit-equally (finite Await, r16 verdict #7)") {
    import spark.implicits._
    val (dir, all) = fixture
    val qv = all(123)._2
    val lt = org.apache.spark.sql.types.LongType
    val two = Seq((0L, qv, 100000L, 1000000L), (1L, all(500)._2, 100000L,
      1000000L)).toDF("qid", "qv", "qtime", "ttl")
    def run() = ColdTier.searchIndexedLiteralFiltered(spark, dir, two, k,
        Seq(("label", Seq(2L), lt)), Metric.L2, shortlist = 8,
        efSearch = 32)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    val mem = run()
    assert(ColdTier.exactServedFrom.get == "memory")
    spark.conf.set(ColdTier.ExactServeLocalTimeoutSecKey, "0")
    val scan = try run()
      finally spark.conf.unset(ColdTier.ExactServeLocalTimeoutSecKey)
    assert(ColdTier.exactServedFrom.get == "scan",
      "a disabled batch wait bound must fall back to the scan engine")
    assert(mem == scan)
    // the single-query inline path never waits, so it stays on memory
    spark.conf.set(ColdTier.ExactServeLocalTimeoutSecKey, "0")
    try {
      ColdTier.searchIndexedLiteralFiltered(spark, dir, queriesDf(qv), k,
        Seq(("label", Seq(2L), lt)), Metric.L2, shortlist = 8,
        efSearch = 32).collect()
      assert(ColdTier.exactServedFrom.get == "memory")
    } finally spark.conf.unset(ColdTier.ExactServeLocalTimeoutSecKey)
  }

  test("scan fallback keeps the literal pushed to the parquet scan") {
    val (dir, all) = fixture
    val qv = all(123)._2
    val lt = org.apache.spark.sql.types.LongType
    spark.conf.set(ColdTier.ExactServeLocalKey, "false")
    try {
      val df = ColdTier.searchIndexedLiteralFiltered(spark, dir,
        queriesDf(qv), k, Seq(("label", Seq(2L), lt)), Metric.L2,
        shortlist = 8, efSearch = 32)
      df.collect()
      val s = df.queryExecution.executedPlan.toString
      assert(s.contains("PushedFilters: ["),
        "the scan engine must push the literal to the parquet scan")
    } finally spark.conf.unset(ColdTier.ExactServeLocalKey)
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
      val got = ColdTier.searchIndexedLiteralFiltered(spark, dir,
          queriesDf(qv), k, Seq((column, values, vt)), Metric.L2,
          shortlist = 8, efSearch = 32)
        .collect().map(r => (r.getInt(1), r.getLong(2)))
        .sortBy(_._1).map(_._2).toList
      assert(ColdTier.exactServedFrom.get == "memory")
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
    def run(label: Long) = {
      val got = ColdTier.searchIndexedLiteralFiltered(spark, dir,
          queriesDf(qv), k, Seq(("label", Seq(label), lt)), Metric.L2,
          shortlist = 8, efSearch = 32)
        .collect().map(r => (r.getInt(1), r.getLong(2)))
        .sortBy(_._1).map(_._2).toList
      val truth = rows.filter(_._4 == label)
        .map { case (id, v, _, _) => (id, Distances.l2(qv, v)) }
        .sortBy { case (id, d) => (d, id) }.take(k).map(_._1).toList
      assert(got == truth)
    }
    run(1L)
    assert(ColdTier.exactServedFrom.get == "scan",
      "a centroid-less segment must not enter the memory engine")
    run(2L)
    assert(ColdTier.exactServedFrom.get == "memory")
  }

  test("a timed-out batch stops its tasks, so the next batch is not " +
      "queued behind it") {
    import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
    val abort = new AtomicBoolean(false)
    val started = new AtomicInteger()
    // every body runs until aborted: the batch cannot finish in time
    assert(!ColdTier.runAbortable(1000, 1L, abort) { _ =>
      started.incrementAndGet()
      while (!abort.get()) Thread.sleep(5)
    })
    assert(abort.get(), "the timeout must raise the abort flag")
    val t0 = System.nanoTime()
    assert(ColdTier.runAbortable(8, 30L, new AtomicBoolean(false))(_ => ()),
      "the next batch must complete")
    assert((System.nanoTime() - t0) / 1e9 < 5.0,
      "the next batch waited behind the timed-out one")
    assert(started.get() < 1000,
      s"queued tasks of the timed-out batch still ran: ${started.get()}")
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
}
