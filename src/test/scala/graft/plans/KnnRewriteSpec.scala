package graft.plans

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{GraftExtensions, Metric}
import graft.functions.Distances
import graft.store.ColdTier

class KnnRewriteSpec extends AnyFunSuite {
  // getOrCreate() in a shared test JVM returns whichever session an
  // earlier suite built — `.withExtensions` is silently ignored then, so
  // the rule is installed the runtime way (KnnIndex.install), the same
  // path a Verify/bench session uses. GraftFunctions.register supplies
  // the l2_distance SQL function for the same reason.
  private lazy val spark = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions).getOrCreate()
    KnnIndex.install(s)
    graft.GraftFunctions.register(s)
    s
  }

  private val dim = 8

  private def clustered(n: Int): Seq[(Long, Array[Float], Long)] = {
    (0 until n).map { i =>
      val c = i % 4
      val rnd = new java.util.Random(1000L + i)
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat * 0.3f)
      v(0) += 5f * c
      (i.toLong, v, 100L + i)
    }
  }

  /** corpus parquet + cell-sealed indexed tier over the same rows. */
  private def fixture(): (String, String, Seq[(Long, Array[Float], Long)]) = {
    import spark.implicits._
    val rows = clustered(800)
    val corpusPath = Files.createTempDirectory("knnrw-corpus").toString
    rows.toDF("id", "vec", "eventTime").write.mode("overwrite")
      .parquet(corpusPath)
    val coldDir = Files.createTempDirectory("knnrw-tier").toString
    val withSeg = rows.toDF("id", "vec", "eventTime")
      .withColumn("segmentId", (col("id") % 4).cast("long"))
    ColdTier.sealMany(withSeg, coldDir)
    ColdTier.sealIndexes(spark, coldDir, 0L until 4L, Metric.L2, m = 8,
      efConstruction = 64)
    (corpusPath, coldDir, rows)
  }

  private def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l.relation match {
        case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
          fs.location.rootPaths.map(_.toString)
        case _ => Seq.empty
      }
    }.flatten

  /** The engine the statement's kNN operator served with (after it ran). */
  private def engineOf(df: org.apache.spark.sql.DataFrame): Option[String] =
    KnnServeExec.engineOf(df.queryExecution.executedPlan)

  test("ORDER BY l2_distance LIMIT k over a registered corpus is served from the index, results match the probe and truth") {
    spark.sparkContext.setLogLevel("ERROR")
    val (corpusPath, coldDir, rows) = fixture()
    try {
      KnnIndex.register(corpusPath, coldDir, efSearch = 96,
        probeSegments = 4, shortlist = 64)
      val q = rows(42)._2
      val corpus = spark.read.parquet(corpusPath)
      val df = corpus
        .select(col("id"), Distances.l2(col("vec"), lit(q)).as("dist"))
        .orderBy("dist").limit(10)
      // the rewrite replaced the corpus scan with the tier's
      // the graph-only fast path reads NO parquet at query time (sidecars
      // are probed via broadcast index metadata) — the rewritten plan has
      // no file scan at all, corpus or otherwise
      val paths = scanPaths(df)
      assert(!paths.exists(_.contains(corpusPath)),
        s"corpus scan survived the rewrite: $paths")
      assert(paths.isEmpty,
        s"zero-corpus-IO serving path expected, found scans: $paths")
      val got = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.length == 10)
      assert(got.map(_._2).sliding(2).forall(w => w(0) <= w(1)),
        "ascending distance order preserved")
      // bit-parity with the probe the rewrite claims to serve from
      import spark.implicits._
      val qDf = Seq((0L, q, Long.MaxValue / 2, Long.MaxValue / 2))
        .toDF("qid", "qv", "qtime", "ttl")
      val probe = ColdTier.searchIndexedFast(spark, coldDir, qDf, 10,
          Metric.L2, efSearch = 96, probeSegments = 4, shortlist = 64)
        .orderBy("rn").collect().map(r => (r.getLong(2), r.getDouble(3)))
      assert(got.toSeq == probe.toSeq, "rewrite output != index probe output")
      // quality vs exact truth (same bar as every ANN surface)
      val truth = rows.map { case (id, v, _) => (id, Distances.l2(q, v)) }
        .sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toSet
      val recall = got.map(_._1).count(truth.contains).toDouble / truth.size
      assert(recall >= 0.9, s"rewrite recall: $recall")
    } finally KnnIndex.clear()
  }

  test("SQL surface: SELECT ... ORDER BY l2_distance(...) LIMIT k rewrites too") {
    val (corpusPath, coldDir, rows) = fixture()
    try {
      KnnIndex.register(corpusPath, coldDir, efSearch = 96, probeSegments = 4,
        shortlist = 64)
      val q = rows(7)._2
      spark.read.parquet(corpusPath).createOrReplaceTempView("knn_corpus")
      val arr = q.map(f => s"CAST($f AS FLOAT)").mkString("array(", ",", ")")
      val df = spark.sql(
        s"""SELECT id, l2_distance(vec, $arr) AS dist
           |FROM knn_corpus ORDER BY dist LIMIT 5""".stripMargin)
      assert(!scanPaths(df).exists(_.contains(corpusPath)),
        "SQL query must be served from the tier, not the corpus scan")
      val got = df.collect().map(_.getLong(0))
      assert(got.length == 5 && got.contains(7L),
        s"query at a stored point must find it: ${got.toList}")
    } finally KnnIndex.clear()
  }

  test("tie-broken ORDER BY dist, id LIMIT k rewrites; a non-id tie-break stays exact") {
    val (corpusPath, coldDir, rows) = fixture()
    try {
      KnnIndex.register(corpusPath, coldDir, efSearch = 96,
        probeSegments = 4, shortlist = 64)
      val q = rows(21)._2
      val corpus = spark.read.parquet(corpusPath)
      // the deterministic-pagination form: the probe's own (dist, id)
      // total order serves it, results must equal the single-key form
      val tied = corpus
        .select(col("id"), Distances.l2(col("vec"), lit(q)).as("dist"))
        .orderBy(col("dist"), col("id")).limit(10)
      assert(scanPaths(tied).isEmpty,
        s"tie-broken ORDER BY did not rewrite: ${scanPaths(tied)}")
      val single = corpus
        .select(col("id"), Distances.l2(col("vec"), lit(q)).as("dist"))
        .orderBy(col("dist")).limit(10)
      assert(tied.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
        single.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq,
        "tie-broken output != single-key output")
      // a second key that is not `id ASC` — same projection, so ONLY
      // the tie-break validation can reject it: exact plan
      val wrong = corpus
        .select(col("id"), Distances.l2(col("vec"), lit(q)).as("dist"))
        .orderBy(col("dist"), col("id").desc).limit(10)
      assert(scanPaths(wrong).exists(_.contains(corpusPath)),
        "a descending tie-break must stay on the exact corpus scan")
    } finally KnnIndex.clear()
  }

  test("window-rank idiom: row_number() OVER (ORDER BY dist) <= k rewrites; rank() stays exact") {
    val (corpusPath, coldDir, rows) = fixture()
    try {
      KnnIndex.register(corpusPath, coldDir, efSearch = 96,
        probeSegments = 4, shortlist = 64)
      val q = rows(13)._2
      val arr = q.map(f => s"CAST($f AS FLOAT)").mkString("array(", ",", ")")
      spark.read.parquet(corpusPath).createOrReplaceTempView("knnrw_win")
      // LimitPushDownThroughWindow reduces this to the matched Limit/Sort
      // shape with a duplicate `_w0` distance alias; the rewrite must
      // fire through it and match the LIMIT form's output exactly
      val df = spark.sql(
        s"""SELECT id, dist FROM (
           |  SELECT id, l2_distance(vec, $arr) AS dist,
           |         row_number() OVER (ORDER BY l2_distance(vec, $arr))
           |           AS rn
           |  FROM knnrw_win) WHERE rn <= 10""".stripMargin)
      val paths = scanPaths(df)
      assert(paths.isEmpty,
        s"window-rank rewrite did not fire (or left a scan): $paths")
      val got = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.length == 10)
      val limitForm = spark.sql(
        s"""SELECT id, l2_distance(vec, $arr) AS dist
           |FROM knnrw_win ORDER BY dist LIMIT 10""".stripMargin)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.sortBy(x => (x._2, x._1)).toSeq ==
        limitForm.sortBy(x => (x._2, x._1)).toSeq,
        "window-rank output != ORDER BY ... LIMIT output")
      // rank()'s tie semantics (> k rows on ties) are NOT reducible to
      // LIMIT k — the optimizer never produces the matched shape for it
      // and the query keeps its exact corpus scan
      val rankDf = spark.sql(
        s"""SELECT id, dist FROM (
           |  SELECT id, l2_distance(vec, $arr) AS dist,
           |         rank() OVER (ORDER BY l2_distance(vec, $arr)) AS rn
           |  FROM knnrw_win) WHERE rn <= 10""".stripMargin)
      assert(scanPaths(rankDf).exists(_.contains(corpusPath)),
        "rank() variant must stay on the exact corpus scan")
    } finally KnnIndex.clear()
  }

  test("cosine registration serves cosine ORDER BY; a metric mismatch stays on the exact plan") {
    import spark.implicits._
    val rows = clustered(600)
    val corpusPath = Files.createTempDirectory("knnrw-cos-corpus").toString
    rows.toDF("id", "vec", "eventTime").write.mode("overwrite")
      .parquet(corpusPath)
    val coldDir = Files.createTempDirectory("knnrw-cos-tier").toString
    ColdTier.sealMany(rows.toDF("id", "vec", "eventTime")
      .withColumn("segmentId", (col("id") % 4).cast("long")), coldDir)
    ColdTier.sealIndexes(spark, coldDir, 0L until 4L, Metric.Cosine, m = 8,
      efConstruction = 64)
    try {
      KnnIndex.register(corpusPath, coldDir, metric = Metric.Cosine,
        efSearch = 96, probeSegments = 4, shortlist = 64)
      val q = rows(11)._2
      val corpus = spark.read.parquet(corpusPath)
      // metric mismatch: an L2 ORDER BY over a cosine registration must
      // NOT be served from the cosine index — exact plan untouched
      val l2Df = corpus
        .select(col("id"), Distances.l2(col("vec"), lit(q)).as("dist"))
        .orderBy("dist").limit(10)
      assert(scanPaths(l2Df).exists(_.contains(corpusPath)),
        "L2 query over a cosine registration must stay on the exact scan")
      val cosDf = corpus
        .select(col("id"), Distances.cosine(col("vec"), lit(q)).as("dist"))
        .orderBy("dist").limit(10)
      assert(scanPaths(cosDf).isEmpty,
        "cosine query must be served from the cosine index")
      val got = cosDf.collect().map(_.getLong(0))
      val truth = rows.map { case (id, v, _) => (id, Distances.cosine(q, v)) }
        .sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toSet
      val recall = got.count(truth.contains).toDouble / truth.size
      assert(recall >= 0.9, s"cosine rewrite recall: $recall")
    } finally KnnIndex.clear()
  }

  /** corpus WITH a label column + cell-sealed indexed tier carrying the
   * label attribute; half the eventTimes are negative to pin the
   * full-Long freshness window of the rewrite's probe. */
  private def filteredFixture()
      : (String, String, Seq[(Long, Array[Float], Long, Int)]) = {
    import spark.implicits._
    val rows = clustered(800).map { case (id, v, _) =>
      (id, v, id - 400L, (id % 3).toInt)
    }
    val corpusPath = Files.createTempDirectory("knnrw-fcorpus").toString
    rows.toDF("id", "vec", "eventTime", "label").write.mode("overwrite")
      .parquet(corpusPath)
    val coldDir = Files.createTempDirectory("knnrw-ftier").toString
    ColdTier.sealMany(rows.toDF("id", "vec", "eventTime", "label")
      .withColumn("segmentId", (col("id") % 4).cast("long")), coldDir)
    ColdTier.sealIndexes(spark, coldDir, 0L until 4L, Metric.L2, m = 8,
      efConstruction = 64)
    (corpusPath, coldDir, rows)
  }

  test("WHERE label = x ORDER BY dist LIMIT k is served from the index, hydrating only the shortlist") {
    val (corpusPath, coldDir, rows) = filteredFixture()
    try {
      KnnIndex.register(corpusPath, coldDir, efSearch = 96,
        probeSegments = 4, shortlist = 64, filterColumns = Set("label"))
      val q = rows(42)._2
      val corpus = spark.read.parquet(corpusPath)
      val df = corpus.where(col("label") === 1)
        .select(col("id"), Distances.l2(col("vec"), lit(q)).as("dist"))
        .orderBy("dist").limit(10)
      val paths = scanPaths(df)
      assert(!paths.exists(_.contains(corpusPath)),
        s"corpus scan survived the filtered rewrite: $paths")
      // unlike the bare probe, the filtered probe hydrates the shortlist
      // against the TIER segments — candidate-bounded scans of the tier
      // are expected, corpus scans are not
      assert(paths.forall(_.contains(coldDir)),
        s"only tier hydration scans expected, found: $paths")
      val got = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.length == 10)
      assert(got.forall { case (id, _) => id % 3 == 1 },
        s"filter violated: ${got.toList}")
      assert(got.map(_._2).sliding(2).forall(w => w(0) <= w(1)))
      // negative eventTimes are in-window (full-Long probe window): the
      // label-1 truth includes ids below 400 whose ts is negative
      val truth = rows.filter(_._4 == 1)
        .map { case (id, v, _, _) => (id, Distances.l2(q, v)) }
        .sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toSet
      assert(truth.exists(_ < 400L), "fixture must cover negative ts")
      val recall = got.map(_._1).count(truth.contains).toDouble / truth.size
      assert(recall >= 0.9, s"filtered rewrite recall: $recall")

      // SQL surface of the same shape
      corpus.createOrReplaceTempView("knn_fcorpus")
      val arr = q.map(f => s"CAST($f AS FLOAT)").mkString("array(", ",", ")")
      val sqlDf = spark.sql(
        s"""SELECT id, l2_distance(vec, $arr) AS dist
           |FROM knn_fcorpus WHERE label = 1
           |ORDER BY dist LIMIT 10""".stripMargin)
      assert(!scanPaths(sqlDf).exists(_.contains(corpusPath)),
        "SQL filtered query must be served from the tier")
      assert(sqlDf.collect().map(_.getLong(0)).toSeq == got.map(_._1).toSeq,
        "SQL and DataFrame surfaces must agree")

      // a filter on an UNREGISTERED column stays on the exact plan
      val unreg = corpus.where(col("eventTime") === 100L)
        .select(col("id"), Distances.l2(col("vec"), lit(q)).as("dist"))
        .orderBy("dist").limit(10)
      assert(scanPaths(unreg).exists(_.contains(corpusPath)),
        "unregistered filter column must not rewrite")
      // a numeric bound on the registered column is a RANGE band now —
      // it rewrites too (the range-family spec covers its semantics)
      val range = corpus.where(col("label") > 0)
        .select(col("id"), Distances.l2(col("vec"), lit(q)).as("dist"))
        .orderBy("dist").limit(10)
      assert(!scanPaths(range).exists(_.contains(corpusPath)),
        "registered numeric bound must be served from the tier")
      // a NOT-EQUAL predicate has no probe shape — stays on the exact plan
      val neq = corpus.where(col("label") =!= 0)
        .select(col("id"), Distances.l2(col("vec"), lit(q)).as("dist"))
        .orderBy("dist").limit(10)
      assert(scanPaths(neq).exists(_.contains(corpusPath)),
        "not-equal filter must not rewrite")
    } finally KnnIndex.clear()
  }

  /** two-attribute corpus (int label + string region) + cell-sealed
   * indexed tier carrying both, with an attr-stats sidecar on label so
   * the IN-list probe exercises multi-value admission. */
  private def inFixture()
      : (String, String, Seq[(Long, Array[Float], Long, Int, String)]) = {
    import spark.implicits._
    val rows = clustered(800).map { case (id, v, _) =>
      (id, v, 100L + id, (id % 3).toInt, if (id % 2 == 0) "eu" else "us")
    }
    val corpusPath = Files.createTempDirectory("knnrw-incorpus").toString
    rows.toDF("id", "vec", "eventTime", "label", "region")
      .write.mode("overwrite").parquet(corpusPath)
    val coldDir = Files.createTempDirectory("knnrw-intier").toString
    ColdTier.sealMany(rows.toDF("id", "vec", "eventTime", "label", "region")
      .withColumn("segmentId", (col("id") % 4).cast("long")), coldDir)
    ColdTier.sealIndexes(spark, coldDir, 0L until 4L, Metric.L2, m = 8,
      efConstruction = 64)
    ColdTier.sealAttrStats(spark, coldDir, "label")
    (corpusPath, coldDir, rows)
  }

  test("WHERE label IN (...) and two-column conjunctions are served from " +
      "the index; an IN on an unregistered column stays exact") {
    val (corpusPath, coldDir, rows) = inFixture()
    try {
      KnnIndex.register(corpusPath, coldDir, efSearch = 96,
        probeSegments = 4, shortlist = 64,
        filterColumns = Set("label", "region"), filterOverfetch = 8)
      val q = rows(42)._2
      val corpus = spark.read.parquet(corpusPath)

      // IN-list (DataFrame isin surface)
      val dfIn = corpus.where(col("label").isin(0, 2))
        .select(col("id"), Distances.l2(col("vec"), lit(q)).as("dist"))
        .orderBy("dist").limit(10)
      val pIn = scanPaths(dfIn)
      assert(!pIn.exists(_.contains(corpusPath)),
        s"corpus scan survived the IN rewrite: $pIn")
      assert(pIn.forall(_.contains(coldDir)),
        s"only tier hydration scans expected, found: $pIn")
      val gotIn = dfIn.collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(gotIn.length == 10)
      assert(gotIn.forall { case (id, _) => id % 3 == 0 || id % 3 == 2 },
        s"IN filter violated: ${gotIn.toList}")
      assert(gotIn.map(_._2).sliding(2).forall(w => w(0) <= w(1)))
      val truthIn = rows.filter(r => r._4 == 0 || r._4 == 2)
        .map { case (id, v, _, _, _) => (id, Distances.l2(q, v)) }
        .sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toSet
      val recallIn =
        gotIn.map(_._1).count(truthIn.contains).toDouble / truthIn.size
      assert(recallIn >= 0.9, s"IN rewrite recall: $recallIn")

      // SQL IN surface agrees with the DataFrame surface
      corpus.createOrReplaceTempView("knn_incorpus")
      val arr = q.map(f => s"CAST($f AS FLOAT)").mkString("array(", ",", ")")
      val sqlDf = spark.sql(
        s"""SELECT id, l2_distance(vec, $arr) AS dist
           |FROM knn_incorpus WHERE label IN (0, 2)
           |ORDER BY dist LIMIT 10""".stripMargin)
      assert(!scanPaths(sqlDf).exists(_.contains(corpusPath)),
        "SQL IN query must be served from the tier")
      assert(sqlDf.collect().map(_.getLong(0)).toSeq ==
        gotIn.map(_._1).toSeq, "SQL and DataFrame IN surfaces must agree")

      // two-column conjunction (equality AND equality across columns,
      // int + string value families)
      val dfAnd = corpus.where(col("label") === 1 && col("region") === "eu")
        .select(col("id"), Distances.l2(col("vec"), lit(q)).as("dist"))
        .orderBy("dist").limit(10)
      val pAnd = scanPaths(dfAnd)
      assert(!pAnd.exists(_.contains(corpusPath)),
        s"corpus scan survived the conjunction rewrite: $pAnd")
      val gotAnd = dfAnd.collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(gotAnd.nonEmpty)
      assert(gotAnd.forall { case (id, _) => id % 3 == 1 && id % 2 == 0 },
        s"conjunction filter violated: ${gotAnd.toList}")
      val truthAnd = rows.filter(r => r._4 == 1 && r._5 == "eu")
        .map { case (id, v, _, _, _) => (id, Distances.l2(q, v)) }
        .sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toSet
      val recallAnd =
        gotAnd.map(_._1).count(truthAnd.contains).toDouble / truthAnd.size
      assert(recallAnd >= 0.9, s"conjunction rewrite recall: $recallAnd")

      // IN-list AND equality composed
      val dfBoth = corpus.where(
          col("label").isin(0, 1) && col("region") === "us")
        .select(col("id"), Distances.l2(col("vec"), lit(q)).as("dist"))
        .orderBy("dist").limit(10)
      assert(!scanPaths(dfBoth).exists(_.contains(corpusPath)),
        "IN + equality conjunction must rewrite")
      assert(dfBoth.collect().map(_.getLong(0)).forall(id =>
        (id % 3 == 0 || id % 3 == 1) && id % 2 == 1),
        "composed filter violated")

      // negative: an IN on an UNREGISTERED column stays on the exact plan
      val unreg = corpus.where(col("eventTime").isin(100L, 101L))
        .select(col("id"), Distances.l2(col("vec"), lit(q)).as("dist"))
        .orderBy("dist").limit(10)
      assert(scanPaths(unreg).exists(_.contains(corpusPath)),
        "IN on an unregistered column must not rewrite")
    } finally KnnIndex.clear()
  }

  test("inWalk registration serves IN/range/conjunction through the " +
      "acceptance-filtered walk; a payload-less tier stays correct by fallback") {
    import spark.implicits._
    val rows = clustered(800).map { case (id, v, _) =>
      (id, v, 100L + id, (id % 3).toInt, if (id % 2 == 0) "eu" else "us")
    }
    val corpusPath = Files.createTempDirectory("knnrw-iwcorpus").toString
    rows.toDF("id", "vec", "eventTime", "label", "region")
      .write.mode("overwrite").parquet(corpusPath)
    // tier WITH the in-walk payload on both filter columns
    val coldDir = Files.createTempDirectory("knnrw-iwtier").toString
    ColdTier.sealMany(rows.toDF("id", "vec", "eventTime", "label", "region")
      .withColumn("segmentId", (col("id") % 4).cast("long")), coldDir)
    ColdTier.sealIndexes(spark, coldDir, 0L until 4L, Metric.L2, m = 8,
      efConstruction = 64, attrColumns = Seq("label", "region"))
    val q = rows(42)._2
    try {
      KnnIndex.register(corpusPath, coldDir, efSearch = 96,
        probeSegments = 4, shortlist = 64,
        filterColumns = Set("label", "region"), inWalk = true)
      val corpus = spark.read.parquet(corpusPath)
      // IN-list: served (no corpus scan), exact predicate holds, recall
      // meets the standard bar with NO over-fetch anywhere in the plan
      val dfIn = corpus.where(col("label").isin(0, 2))
        .select(col("id"), Distances.l2(col("vec"), lit(q)).as("dist"))
        .orderBy("dist").limit(10)
      assert(!scanPaths(dfIn).exists(_.contains(corpusPath)),
        "corpus scan survived the in-walk IN rewrite")
      val gotIn = dfIn.collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(gotIn.length == 10)
      assert(gotIn.forall { case (id, _) => id % 3 == 0 || id % 3 == 2 })
      val truthIn = rows.filter(r => r._4 == 0 || r._4 == 2)
        .map { case (id, v, _, _, _) => (id, Distances.l2(q, v)) }
        .sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toSet
      assert(gotIn.map(_._1).count(truthIn.contains).toDouble /
        truthIn.size >= 0.9, "in-walk IN rewrite recall")
      // RANGE band: served through the sealed canonical values
      val dfRange = corpus.where(col("label") >= 1 && col("label") < 3)
        .select(col("id"), Distances.l2(col("vec"), lit(q)).as("dist"))
        .orderBy("dist").limit(10)
      assert(!scanPaths(dfRange).exists(_.contains(corpusPath)),
        "corpus scan survived the in-walk range rewrite")
      val gotR = dfRange.collect().map(_.getLong(0))
      assert(gotR.forall(id => id % 3 == 1 || id % 3 == 2))
      val truthR = rows.filter(r => r._4 >= 1 && r._4 < 3)
        .map { case (id, v, _, _, _) => (id, Distances.l2(q, v)) }
        .sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toSet
      assert(gotR.count(truthR.contains).toDouble / truthR.size >= 0.9,
        "in-walk range rewrite recall")
      // string-equality + IN conjunction: both conjuncts filter in-walk
      val dfBoth = corpus.where(
          col("label").isin(0, 1) && col("region") === "us")
        .select(col("id"), Distances.l2(col("vec"), lit(q)).as("dist"))
        .orderBy("dist").limit(10)
      assert(!scanPaths(dfBoth).exists(_.contains(corpusPath)),
        "in-walk conjunction must rewrite")
      assert(dfBoth.collect().map(_.getLong(0)).forall(id =>
        (id % 3 == 0 || id % 3 == 1) && id % 2 == 1))
    } finally KnnIndex.clear()
    // payload-LESS tier with inWalk = true: per-shard fallback to the
    // unfiltered walk — the exact re-rank keeps the predicate exact, so
    // the declaration can be wrong without a wrong answer
    val bareDir = Files.createTempDirectory("knnrw-iwbare").toString
    ColdTier.sealMany(rows.toDF("id", "vec", "eventTime", "label", "region")
      .withColumn("segmentId", (col("id") % 4).cast("long")), bareDir)
    ColdTier.sealIndexes(spark, bareDir, 0L until 4L, Metric.L2, m = 8,
      efConstruction = 64)
    try {
      KnnIndex.register(corpusPath, bareDir, efSearch = 96,
        probeSegments = 4, shortlist = 64,
        filterColumns = Set("label"), inWalk = true)
      val corpus = spark.read.parquet(corpusPath)
      val df = corpus.where(col("label").isin(0, 2))
        .select(col("id"), Distances.l2(col("vec"), lit(q)).as("dist"))
        .orderBy("dist").limit(10)
      assert(!scanPaths(df).exists(_.contains(corpusPath)),
        "fallback must still serve from the tier")
      val got = df.collect().map(_.getLong(0))
      assert(got.nonEmpty)
      assert(got.forall(id => id % 3 == 0 || id % 3 == 2),
        "fallback results must still satisfy the exact predicate")
    } finally KnnIndex.clear()
  }

  test("WHERE <numeric col> range bands (BETWEEN, strict bounds, composed " +
      "with equality) are served from the index; non-numeric or " +
      "unregistered ranges stay exact") {
    val (corpusPath, coldDir, rows) = inFixture()
    try {
      KnnIndex.register(corpusPath, coldDir, efSearch = 96,
        probeSegments = 4, shortlist = 64,
        filterColumns = Set("label", "region"), filterOverfetch = 8)
      val q = rows(42)._2
      val corpus = spark.read.parquet(corpusPath)

      // inclusive band (the BETWEEN decomposition: two conjuncts on the
      // same column fold into one band instead of bailing)
      val dfBand = corpus.where(col("label") >= 1 && col("label") <= 2)
        .select(col("id"), Distances.l2(col("vec"), lit(q)).as("dist"))
        .orderBy("dist").limit(10)
      val pBand = scanPaths(dfBand)
      assert(!pBand.exists(_.contains(corpusPath)),
        s"corpus scan survived the range rewrite: $pBand")
      assert(pBand.forall(_.contains(coldDir)),
        s"only tier hydration scans expected, found: $pBand")
      val gotBand = dfBand.collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(gotBand.length == 10)
      assert(gotBand.forall { case (id, _) => id % 3 == 1 || id % 3 == 2 },
        s"range filter violated: ${gotBand.toList}")
      assert(gotBand.map(_._2).sliding(2).forall(w => w(0) <= w(1)))
      val truthBand = rows.filter(r => r._4 >= 1 && r._4 <= 2)
        .map { case (id, v, _, _, _) => (id, Distances.l2(q, v)) }
        .sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toSet
      val recallBand =
        gotBand.map(_._1).count(truthBand.contains).toDouble / truthBand.size
      assert(recallBand >= 0.9, s"range rewrite recall: $recallBand")

      // SQL BETWEEN surface agrees with the DataFrame surface
      corpus.createOrReplaceTempView("knn_rangecorpus")
      val arr = q.map(f => s"CAST($f AS FLOAT)").mkString("array(", ",", ")")
      val sqlDf = spark.sql(
        s"""SELECT id, l2_distance(vec, $arr) AS dist
           |FROM knn_rangecorpus WHERE label BETWEEN 1 AND 2
           |ORDER BY dist LIMIT 10""".stripMargin)
      assert(!scanPaths(sqlDf).exists(_.contains(corpusPath)),
        "SQL BETWEEN query must be served from the tier")
      assert(sqlDf.collect().map(_.getLong(0)).toSeq ==
        gotBand.map(_._1).toSeq, "SQL and DataFrame range surfaces must agree")

      // strict bounds hydrate exactly (label > 0 AND label < 2 == 1)
      val dfStrict = corpus.where(col("label") > 0 && col("label") < 2)
        .select(col("id"), Distances.l2(col("vec"), lit(q)).as("dist"))
        .orderBy("dist").limit(10)
      assert(!scanPaths(dfStrict).exists(_.contains(corpusPath)),
        "strict-bound range must rewrite")
      assert(dfStrict.collect().map(_.getLong(0)).forall(_ % 3 == 1),
        "strict bounds violated")

      // range AND equality on another column compose
      val dfBoth = corpus.where(col("label") >= 1 && col("region") === "eu")
        .select(col("id"), Distances.l2(col("vec"), lit(q)).as("dist"))
        .orderBy("dist").limit(10)
      assert(!scanPaths(dfBoth).exists(_.contains(corpusPath)),
        "range + equality conjunction must rewrite")
      assert(dfBoth.collect().map(_.getLong(0)).forall(id =>
        id % 3 >= 1 && id % 2 == 0), "composed range filter violated")

      // negative: a range on an UNREGISTERED column stays exact
      val unreg = corpus.where(col("eventTime") < 500L)
        .select(col("id"), Distances.l2(col("vec"), lit(q)).as("dist"))
        .orderBy("dist").limit(10)
      assert(scanPaths(unreg).exists(_.contains(corpusPath)),
        "range on an unregistered column must not rewrite")

      // negative: a range on a NON-NUMERIC registered column stays exact
      val strRange = corpus.where(col("region") >= "eu")
        .select(col("id"), Distances.l2(col("vec"), lit(q)).as("dist"))
        .orderBy("dist").limit(10)
      assert(scanPaths(strRange).exists(_.contains(corpusPath)),
        "range on a string column must not rewrite")
    } finally KnnIndex.clear()
  }

  test("VERSION-pinned registration: the rewrite serves the snapshot — " +
      "post-snapshot seals and deletes are invisible, and an unpinned " +
      "registration over the same tier sees them") {
    import spark.implicits._
    val (corpusPath, coldDir, rows) = fixture()
    try {
      val v = ColdTier.snapshot(spark, coldDir)
      val q = rows(42)._2
      // post-snapshot mutations: a segment of near-duplicates RIGHT AT
      // the query point (they would dominate any live top-k) and a
      // delete of the query point's own id
      val near = (0 until 20).map(i =>
        (5000L + i, q.map(x => x + i * 1e-4f), 100L + i))
      ColdTier.seal(near.toDF("id", "vec", "eventTime"), coldDir, 99L)
      ColdTier.sealIndexes(spark, coldDir, Seq(99L), Metric.L2, m = 8,
        efConstruction = 64)
      ColdTier.sealDeletes(Seq((42L, 10000L)).toDF("id", "ts"), coldDir, 1L)

      KnnIndex.register(corpusPath, coldDir, efSearch = 96,
        probeSegments = 8, shortlist = 64, snapshot = Some(v))
      val corpus = spark.read.parquet(corpusPath)
      def knnDf = corpus
        .select(col("id"), Distances.l2(col("vec"), lit(q)).as("dist"))
        .orderBy("dist").limit(10)
      val df = knnDf
      assert(scanPaths(df).isEmpty,
        s"pinned rewrite must fire with zero scans: ${scanPaths(df)}")
      val got = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.length == 10)
      assert(!got.exists(_._1 >= 5000L),
        s"post-snapshot rows must be invisible to the pinned probe: ${got.toList}")
      assert(got.exists(_._1 == 42L),
        s"a post-snapshot delete must be invisible to the pinned probe: ${got.toList}")
      // bit-parity with the pinned probe the registration claims to
      // serve from (same contract-span freshness window as the rewrite)
      val qDf = Seq((0L, q, Long.MaxValue / 2, Long.MaxValue))
        .toDF("qid", "qv", "qtime", "ttl")
      val probe = ColdTier.searchIndexedFast(spark, coldDir, qDf, 10,
          Metric.L2, efSearch = 96, probeSegments = 8, shortlist = 64,
          snapshot = Some(v))
        .orderBy("rn").collect().map(r => (r.getLong(2), r.getDouble(3)))
      assert(got.toSeq == probe.toSeq,
        "pinned rewrite output != pinned index probe output")
      // ...and the bit-exact pinned kernel agrees (the same recall bar
      // as every other ANN surface)
      val kernel = ColdTier.search(spark, coldDir, qDf, 10, Metric.L2,
          firstWaveFraction = 1.0, terminationFactor = 1.0,
          snapshot = Some(v))
        .collect().map(_.getLong(2)).toSet
      val recall = got.map(_._1).count(kernel.contains).toDouble / kernel.size
      assert(recall >= 0.9, s"pinned probe recall vs pinned kernel: $recall")
      // an UNPINNED registration over the SAME tier serves the live
      // state: the new near-duplicates dominate and the delete applies
      KnnIndex.unregister(corpusPath)
      KnnIndex.register(corpusPath, coldDir, efSearch = 96,
        probeSegments = 8, shortlist = 64)
      val liveGot = knnDf.collect().map(_.getLong(0))
      assert(liveGot.exists(_ >= 5000L),
        s"live registration must see post-snapshot rows: ${liveGot.toList}")
      assert(!liveGot.contains(42L),
        s"live registration must apply the post-snapshot delete: ${liveGot.toList}")
    } finally KnnIndex.clear()
  }

  test("stale registration: a deleted tier degrades to the exact scan at plan time instead of failing the query") {
    val (corpusPath, coldDir, rows) = fixture()
    try {
      KnnIndex.register(corpusPath, coldDir, efSearch = 96,
        probeSegments = 4, shortlist = 64)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(coldDir))
      val q = rows(3)._2
      val df = spark.read.parquet(corpusPath)
        .select(col("id"), Distances.l2(col("vec"), lit(q)).as("dist"))
        .orderBy("dist").limit(10)
      // planning must neither throw nor serve from the dead index
      assert(scanPaths(df).exists(_.contains(corpusPath)),
        "stale registration must fall back to the exact corpus scan")
      val got = df.collect().map(_.getLong(0))
      assert(got.length == 10 && got.contains(3L),
        s"exact fallback must answer: ${got.toList}")
    } finally KnnIndex.clear()
  }

  /** Label-ALIGNED corpus + tier: one segment per label, HNSW sidecars
   * sealed WITH the label payload AND an attr-stats sidecar — the
   * converged layout where admission collapses a label literal to its
   * one segment and the exact-kernel serving decision must fire. */
  private def alignedFixture()
      : (String, String, Seq[(Long, Array[Float], Long, Int)]) = {
    import spark.implicits._
    val rows = clustered(800).map { case (id, v, _) =>
      (id, v, 100L + id, (id % 5).toInt)
    }
    val corpusPath = Files.createTempDirectory("knnrw-alcorpus").toString
    rows.toDF("id", "vec", "eventTime", "label").write.mode("overwrite")
      .parquet(corpusPath)
    val coldDir = Files.createTempDirectory("knnrw-altier").toString
    ColdTier.sealMany(rows.toDF("id", "vec", "eventTime", "label")
      .withColumn("segmentId", col("label").cast("long")), coldDir)
    ColdTier.sealIndexes(spark, coldDir, 0L until 5L, Metric.L2, m = 8,
      efConstruction = 64, attrColumns = Seq("label"))
    ColdTier.sealAttrStats(spark, coldDir, "label")
    (corpusPath, coldDir, rows)
  }

  test("attr-ALIGNED registered tier: WHERE label = x ORDER BY dist LIMIT k " +
      "is served by the EXACT kernel (not the graph probe), bit-equal to " +
      "the unindexed truth") {
    val (corpusPath, coldDir, rows) = alignedFixture()
    try {
      KnnIndex.register(corpusPath, coldDir, efSearch = 96,
        probeSegments = 5, shortlist = 64, filterColumns = Set("label"))
      val q = rows(42)._2
      val corpus = spark.read.parquet(corpusPath)
      corpus.createOrReplaceTempView("knn_alcorpus")
      val arr = q.map(f => s"CAST($f AS FLOAT)").mkString("array(", ",", ")")
      val df = spark.sql(
        s"""SELECT id, l2_distance(vec, $arr) AS dist
           |FROM knn_alcorpus WHERE label = 2
           |ORDER BY dist LIMIT 10""".stripMargin)
      val paths = scanPaths(df)
      assert(!paths.exists(_.contains(corpusPath)),
        s"corpus scan survived the aligned filtered rewrite: $paths")
      val got = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
      // the operator decides at execute time and reports in its metrics
      assert(engineOf(df) == Some("exact"),
        "the GRAPH PROBE served an attr-aligned tier — admission " +
          "collapses label=2 to one segment, the exact kernel must serve")
      // BIT-equality with the unindexed truth: the kernel is exact, so
      // ids AND order must match the full-scan filtered top-k exactly
      val truth = rows.filter(_._4 == 2)
        .map { case (id, v, _, _) => (id, Distances.l2(q, v)) }
        .sortBy { case (id, d) => (d, id) }.take(10)
      assert(got.map(_._1).toSeq == truth.map(_._1).toSeq,
        s"exact kernel must bit-match the truth: got ${got.map(_._1).toList} " +
          s"want ${truth.map(_._1).toList}")

      // control: the SAME literal through the in-process engine with the
      // fast path DISABLED routes to the graph probe — proving the
      // decision (not the layout) picked the kernel above
      val probed = ColdTier.serveLocal(spark, coldDir, q, Long.MaxValue / 2,
        Long.MaxValue / 2, 10, Seq(("label", Seq(2),
          org.apache.spark.sql.types.IntegerType)), Nil, Metric.L2,
        shortlist = 64, efSearch = 96, exactKernelSegments = 0)
      assert(probed.map(_.engine) == Some("probe"),
        "exactKernelSegments = 0 must disable the fast path")
    } finally KnnIndex.clear()
  }

  test("with in-process serving off, an aligned WHERE label = x statement " +
      "runs the direct API's pushed-down exact scan, bit-equal to the " +
      "exact engine") {
    val (corpusPath, coldDir, rows) = alignedFixture()
    // executed plans of the queries the statement runs (the distributed
    // route collects its own DataFrame inside the operator)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    try {
      KnnIndex.register(corpusPath, coldDir, efSearch = 96,
        probeSegments = 5, shortlist = 64, filterColumns = Set("label"))
      val q = rows(42)._2
      spark.read.parquet(corpusPath).createOrReplaceTempView("knn_alc_dist")
      val arr = q.map(f => s"CAST($f AS FLOAT)").mkString("array(", ",", ")")
      // (id, distance bits) rows and engine of one statement
      def served() = {
        val df = spark.sql(
          s"""SELECT id, l2_distance(vec, $arr) AS dist
             |FROM knn_alc_dist WHERE label = 2
             |ORDER BY dist LIMIT 10""".stripMargin)
        val got = df.collect().map(r =>
          (r.getLong(0), java.lang.Double.doubleToRawLongBits(r.getDouble(1))))
        (got.toSeq, engineOf(df))
      }
      val (exact, exactEngine) = served()
      assert(exactEngine == Some("exact"))
      assert(exact.length == 10)
      spark.listenerManager.register(listener)
      spark.conf.set(ColdTier.ExactServeLocalKey, "false")
      val (dist, distEngine) = try served()
        finally spark.conf.unset(ColdTier.ExactServeLocalKey)
      assert(distEngine == Some("distributed"),
        "with exactServeLocal=false the statement must run distributed")
      assert(dist == exact,
        "the distributed exact scan must answer bit-equal to the exact engine")
      def pushed = plans.toArray.map(_.toString).exists(p =>
        p.contains("PushedFilters: [") && p.contains("EqualTo(label,2)"))
      val deadline = System.nanoTime() + 10000000000L
      while (!pushed && System.nanoTime() < deadline) Thread.sleep(50)
      assert(pushed, "the distributed route must push label = 2 to the " +
        s"parquet scan; executed plans:\n${plans.toArray.mkString("\n")}")
    } finally {
      spark.listenerManager.unregister(listener)
      KnnIndex.clear()
    }
  }

  test("memory-served aligned statement is JOB-FREE: pre-sorted " +
      "LocalRelation, no Sort node, zero Spark jobs per spark.sql") {
    val (corpusPath, coldDir, rows) = alignedFixture()
    try {
      KnnIndex.register(corpusPath, coldDir, efSearch = 96,
        probeSegments = 5, shortlist = 64, filterColumns = Set("label"))
      val q = rows(42)._2
      spark.read.parquet(corpusPath).createOrReplaceTempView("knn_alc_jf")
      val arr = q.map(f => s"CAST($f AS FLOAT)").mkString("array(", ",", ")")
      def stmt() = spark.sql(
        s"""SELECT id, l2_distance(vec, $arr) AS dist
           |FROM knn_alc_jf WHERE label = 2
           |ORDER BY dist LIMIT 10""".stripMargin)
      // warm pass loads the segment into SegmentDataCache + caches
      val warm = stmt()
      warm.collect()
      // "exact" from the operator is the in-process memory kernel
      assert(engineOf(warm) == Some("exact"),
        "aligned statement should serve from the warm segment cache")
      // r16: the rewrite emits the kernel's rows as a PRE-SORTED
      // LocalRelation — no logical Sort, so the statement executes via
      // LocalTableScanExec.executeCollect with ZERO Spark jobs (the
      // per-statement single-task Sort job was the measured 23.7 q/s
      // serving ceiling: every statement's job serialized through the
      // DAGScheduler event loop)
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(l)
      try {
        val df = stmt()
        val got = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
        val s = df.queryExecution.executedPlan.toString
        assert(!s.contains("Sort"), s"memory-served statement kept a " +
          s"Sort node:\n$s")
        // the ORDER BY contract must hold without the Sort node
        val truth = rows.filter(_._4 == 2)
          .map { case (id, v, _, _) => (id, Distances.l2(q, v)) }
          .sortBy { case (id, d) => (d, id) }.take(10)
        assert(got.map(_._1).toSeq == truth.map(_._1).toSeq)
        Thread.sleep(1000) // listener bus drains asynchronously
        assert(jobs.get() == 0,
          s"memory-served statement ran ${jobs.get()} Spark job(s)")
      } finally spark.sparkContext.removeSparkListener(l)
    } finally KnnIndex.clear()
  }

  test("warm-path memoization invalidates on tier mutation: a freshly " +
      "sealed segment and a fresh delete are visible to the very next " +
      "statement") {
    import spark.implicits._
    val (corpusPath, coldDir, rows) = alignedFixture()
    try {
      KnnIndex.register(corpusPath, coldDir, efSearch = 96,
        probeSegments = 5, shortlist = 64, filterColumns = Set("label"))
      val q = rows(42)._2
      spark.read.parquet(corpusPath).createOrReplaceTempView("knn_alc_inv")
      val arr = q.map(f => s"CAST($f AS FLOAT)").mkString("array(", ",", ")")
      // (ids, engine) of one statement
      def served() = {
        val df = spark.sql(
          s"""SELECT id, l2_distance(vec, $arr) AS dist
             |FROM knn_alc_inv WHERE label = 2
             |ORDER BY dist LIMIT 10""".stripMargin)
        (df.collect().map(_.getLong(0)).toSeq, engineOf(df))
      }
      def stmt() = served()._1
      // warm: statements serve from the memoized skeleton (the in-process
      // memory kernel reports "exact")
      val (before, warmEngine) = served()
      assert(warmEngine == Some("exact"))
      stmt() // second statement rides the memo
      assert(!before.contains(999999L))

      // SEAL a new segment holding an exact match (dist 0) under the
      // served label: the catalog listing signature changes, so the
      // admission set, the segment data and its mask must all refresh —
      // the NEXT statement must rank the new id first
      ColdTier.seal(
        Seq((999999L, q, 500L, 2)).toDF("id", "vec", "eventTime", "label"),
        coldDir, 5L)
      val (afterSeal, sealEngine) = served()
      assert(sealEngine == Some("exact"),
        "the refreshed admission should still collapse onto the kernel")
      // rows(42) holds the SAME vector (dist 0), so the (dist, id) tie
      // breaks to id 42 first and the fresh exact match lands at rank 2
      assert(afterSeal.take(2) == Seq(42L, 999999L),
        s"freshly sealed exact match must be visible at rank 2, got $afterSeal")

      // DELETE the new id: the delete-log signature keys the mask memo,
      // so the NEXT statement must drop it with no other invalidation
      assert(ColdTier.sealDeletes(
        Seq((999999L, 1000L)).toDF("id", "ts"), coldDir, batchId = 77L))
      val (afterDel, delEngine) = served()
      assert(delEngine == Some("exact"))
      assert(!afterDel.contains(999999L),
        s"tombstoned id must vanish from the warm path, got $afterDel")
      assert(afterDel == before,
        "after sealing + deleting the synthetic row the statement " +
          "must answer exactly as before")
    } finally KnnIndex.clear()
  }

  test("no rewrite without registration, with the conf off, on DESC, or on wider projections") {
    val (corpusPath, coldDir, rows) = fixture()
    val q = rows(0)._2
    def plan(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = {
      val corpus = spark.read.parquet(corpusPath)
      f(corpus)
    }
    def base(c: org.apache.spark.sql.DataFrame) = c
      .select(col("id"), Distances.l2(col("vec"), lit(q)).as("dist"))
    try {
      // unregistered: untouched exact plan over the corpus
      assert(scanPaths(plan(c => base(c).orderBy("dist").limit(10)))
        .exists(_.contains(corpusPath)))
      KnnIndex.register(corpusPath, coldDir)
      // conf kill switch
      spark.conf.set("spark.graft.knn.rewrite", "false")
      assert(scanPaths(plan(c => base(c).orderBy("dist").limit(10)))
        .exists(_.contains(corpusPath)))
      spark.conf.set("spark.graft.knn.rewrite", "true")
      // DESC = farthest-first — not a kNN probe
      assert(scanPaths(plan(c => base(c).orderBy(col("dist").desc).limit(10)))
        .exists(_.contains(corpusPath)))
      // wider projection would need hydration: stays exact
      assert(scanPaths(plan(c => c.select(col("id"), col("vec"),
          Distances.l2(col("vec"), lit(q)).as("dist"))
        .orderBy("dist").limit(10))).exists(_.contains(corpusPath)))
      // sanity: the canonical shape DOES rewrite under the same session
      assert(!scanPaths(plan(c => base(c).orderBy("dist").limit(10)))
        .exists(_.contains(corpusPath)))
    } finally KnnIndex.clear()
  }

  /** A label-RECLUSTERED tier ([[ColdTier.reclusterByAttr]]: 10 label
   * buckets x 2 cells, HNSW sidecars, attr stats) carrying a delete log,
   * pinned by a snapshot that a later delete does not reach. Returns the
   * snapshot version and the ids deleted before / after it. */
  private def reclusteredFixture(): (String, String,
      Seq[(Long, Array[Float], Long, Int)], Long, Set[Long], Set[Long]) = {
    import spark.implicits._
    val rows = clustered(1200).map { case (id, v, _) =>
      (id, v, 100L + id, (id % 10).toInt)
    }
    val corpusPath = Files.createTempDirectory("knnrw-rccorpus").toString
    rows.toDF("id", "vec", "eventTime", "label").write.mode("overwrite")
      .parquet(corpusPath)
    val coldDir = Files.createTempDirectory("knnrw-rctier").toString
    ColdTier.sealMany(rows.toDF("id", "vec", "eventTime", "label")
      .withColumn("segmentId", (col("id") / 600).cast("long")), coldDir)
    ColdTier.reclusterByAttr(spark, coldDir, "label", buckets = 10,
      cellsPerBucket = 2, metric = Metric.L2, m = 8, efConstruction = 64)
    // tombstones among the query point's nearest rows: half before the
    // snapshot (the pinned registration applies them), half after it
    val q = rows(42)._2
    val near = rows.sortBy(r => (Distances.l2(q, r._2), r._1)).take(12)
      .map(_._1)
    val (pre, post) = near.partition(_ % 2 == 0)
    ColdTier.sealDeletes(pre.map(id => (id, 10000L)).toDF("id", "ts"),
      coldDir, 1L)
    val v = ColdTier.snapshot(spark, coldDir)
    ColdTier.sealDeletes(post.map(id => (id, 10000L)).toDF("id", "ts"),
      coldDir, 2L)
    (corpusPath, coldDir, rows, v, pre.toSet, post.toSet)
  }

  test("warm unfiltered and wide-IN statements over a reclustered, " +
      "snapshot-pinned tier run ZERO Spark jobs and bit-equal the " +
      "distributed probe; a zero cache budget or a missing sidecar falls " +
      "back to the distributed plan with the same answer") {
    import spark.implicits._
    val (corpusPath, coldDir, rows, v, preDeleted, _) = reclusteredFixture()
    try {
      KnnIndex.register(corpusPath, coldDir, efSearch = 48,
        probeSegments = 5, shortlist = 16, filterColumns = Set("label"),
        filterOverfetch = 4, snapshot = Some(v))
      spark.read.parquet(corpusPath).createOrReplaceTempView("knn_rc")
      val q = rows(42)._2
      val arr = q.map(f => s"CAST($f AS FLOAT)").mkString("array(", ",", ")")
      // the IN admits 3 labels x 2 cells = 6 segments — past the
      // 4-segment exact collapse, so the graph probe serves it
      val inLabels = Seq(1, 4, 7)
      val stmts = Seq(
        "unfiltered" -> s"""SELECT id, l2_distance(vec, $arr) AS dist
           |FROM knn_rc ORDER BY dist, id LIMIT 10""".stripMargin,
        "in" -> s"""SELECT id, l2_distance(vec, $arr) AS dist FROM knn_rc
           |WHERE label IN (${inLabels.mkString(", ")})
           |ORDER BY dist, id LIMIT 10""".stripMargin)
      // the direct DataFrame API with the registration's parameters and
      // the rewrite's contract-span window
      val qDf = Seq((0L, q, Long.MaxValue / 2, Long.MaxValue))
        .toDF("qid", "qv", "qtime", "ttl")
      def direct(shape: String): Seq[(Long, Double)] = (shape match {
        case "unfiltered" => ColdTier.searchIndexedFast(spark, coldDir, qDf,
          10, Metric.L2, efSearch = 48, probeSegments = 5, shortlist = 16,
          snapshot = Some(v))
        case _ => ColdTier.searchIndexedLiteralFiltered(spark, coldDir, qDf,
          10, Seq(("label", inLabels,
            org.apache.spark.sql.types.IntegerType)), Metric.L2,
          shortlist = 16, efSearch = 48, probeSegments = 5, overfetch = 4,
          snapshot = Some(v))
      }).orderBy("rn").collect().map(r => (r.getLong(2), r.getDouble(3)))
        .toSeq
      // (rows, Spark jobs, engine) of one statement
      def run(sql: String): (Seq[(Long, Double)], Int, Option[String]) = {
        val jobs = new java.util.concurrent.atomic.AtomicInteger()
        val l = new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            jobs.incrementAndGet()
        }
        spark.sparkContext.addSparkListener(l)
        try {
          val df = spark.sql(sql)
          val got = df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
          Thread.sleep(1000) // listener bus drains asynchronously
          (got, jobs.get(), engineOf(df))
        } finally spark.sparkContext.removeSparkListener(l)
      }
      val served = stmts.map { case (shape, sql) =>
        spark.sql(sql).collect() // warm: sidecars, segments, masks
        val (got, jobs, engine) = run(sql)
        if (shape == "in") assert(engine == Some("probe"),
          "a 6-segment IN must be served by the graph probe")
        assert(jobs == 0, s"warm $shape statement ran $jobs Spark job(s)")
        assert(got.length == 10)
        assert(got == direct(shape),
          s"in-process $shape answer != distributed probe answer")
        assert(!got.exists(r => preDeleted(r._1)),
          s"pre-snapshot tombstones must apply: $got")
        if (shape == "in")
          assert(got.forall(r => inLabels.contains((r._1 % 10).toInt)))
        shape -> got
      }.toMap

      // fallback: no cache budget — the distributed plan serves the
      // same answer
      spark.conf.set(ColdTier.SegmentCacheBytesKey, "0")
      try stmts.foreach { case (shape, sql) =>
        val (got, jobs, engine) = run(sql)
        assert(jobs > 0, s"$shape: a zero budget must keep the " +
          "distributed plan")
        assert(engine == Some("distributed"), s"$shape: engine $engine")
        assert(got == served(shape), s"$shape: fallback answer differs")
      } finally spark.conf.unset(ColdTier.SegmentCacheBytesKey)

      // fallback: an in-window segment without a sidecar (one the IN
      // admits, so both statements see it)
      val victim = ColdTier.admissibleIds(spark, coldDir, "label", Seq(1),
        org.apache.spark.sql.types.IntegerType).get.min
      val sidecar = new org.apache.hadoop.fs.Path(ColdTier.catalogAt(spark,
        coldDir, v).find(_.segmentId == victim).get.path + "-hnsw")
      sidecar.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(sidecar, true)
      stmts.foreach { case (shape, sql) =>
        val (got, jobs, engine) = run(sql)
        assert(jobs > 0, s"$shape: a segment without a sidecar must keep " +
          "the distributed plan")
        assert(engine == Some("distributed"), s"$shape: engine $engine")
        assert(got == direct(shape), s"$shape: fallback answer differs")
      }
    } finally KnnIndex.clear()
  }

  test("probeSegments < 1 is rejected at registration and at the probe " +
      "entry points") {
    import spark.implicits._
    val (corpusPath, coldDir, rows) = fixture()
    val queries = Seq((0L, rows(3)._2, 10000L, 100000L))
      .toDF("qid", "qv", "qtime", "ttl")
    try {
      for (bad <- Seq(0, -1)) {
        intercept[IllegalArgumentException](
          KnnIndex.register(corpusPath, coldDir, probeSegments = bad))
        assert(KnnIndex.lookup(Seq(corpusPath)).isEmpty,
          s"probeSegments = $bad must not register")
        intercept[IllegalArgumentException](
          ColdTier.probeCandidates(spark, coldDir, queries, 10,
            probeSegments = bad))
        intercept[IllegalArgumentException](
          ColdTier.searchIndexedFast(spark, coldDir, queries, 5,
            probeSegments = bad))
      }
      // the smallest valid cap probes one segment and still answers
      assert(ColdTier.probeCandidates(spark, coldDir, queries, 10,
        probeSegments = 1).count() > 0)
    } finally KnnIndex.unregister(corpusPath)
  }

  /** The SQL top-10 statement over `view` with the query as literal casts. */
  private def literalSql(view: String, q: Array[Float], where: String = "") = {
    val arr = q.map(f => s"CAST($f AS FLOAT)").mkString("array(", ",", ")")
    s"SELECT id, l2_distance(vec, $arr) AS dist FROM $view $where " +
      "ORDER BY dist, id LIMIT 10"
  }

  test("EXPLAIN and optimizedPlan run no kernel; the statement serves when it runs") {
    val (corpusPath, coldDir, rows) = alignedFixture()
    try {
      KnnIndex.register(corpusPath, coldDir, efSearch = 96,
        probeSegments = 5, shortlist = 64, filterColumns = Set("label"))
      spark.read.parquet(corpusPath).createOrReplaceTempView("knn_explain")
      val sql = literalSql("knn_explain", rows(42)._2, "WHERE label = 2")
      val df = spark.sql(sql)
      val calls = ColdTier.serveLocalCalls.get()
      assert(df.queryExecution.optimizedPlan.isInstanceOf[KnnScan],
        s"optimized plan is not one KnnScan leaf:\n${df.queryExecution.optimizedPlan}")
      val exec = df.queryExecution.executedPlan
      val explained = spark.sql(s"EXPLAIN $sql").collect().map(_.getString(0))
        .mkString("\n")
      assert(explained.contains("KnnServeExec"), explained)
      df.explain(true)
      assert(ColdTier.serveLocalCalls.get() == calls,
        "planning or EXPLAIN ran the serving kernel")
      val op = KnnServeExec.find(exec).get
      assert(op.metrics.values.forall(_.value <= 0),
        s"metrics moved before execution: ${op.metrics}")
      assert(KnnServeExec.engineOf(exec) == Some("none"))
      val got = df.collect().map(_.getLong(0)).toSeq
      assert(ColdTier.serveLocalCalls.get() == calls + 1)
      assert(engineOf(df) == Some("exact"))
      assert(op.metrics("segments").value == 1L,
        "label = 2 admits its one aligned segment")
      assert(op.metrics("rowsScored").value == rows.count(_._4 == 2))
      assert(got.length == 10)
      val truth = rows.filter(_._4 == 2)
        .map { case (id, v, _, _) => (id, Distances.l2(rows(42)._2, v)) }
        .sortBy { case (id, d) => (d, id) }.take(10).map(_._1)
      assert(got == truth)
    } finally KnnIndex.clear()
  }

  test("a parent ORDER BY dist, id over a served statement adds no SortExec") {
    val (corpusPath, coldDir, rows) = fixture()
    try {
      KnnIndex.register(corpusPath, coldDir, efSearch = 96,
        probeSegments = 4, shortlist = 64)
      spark.read.parquet(corpusPath).createOrReplaceTempView("knn_parent")
      val inner = literalSql("knn_parent", rows(9)._2)
      val df = spark.sql(s"SELECT id, dist FROM ($inner) t ORDER BY dist, id")
      val got = df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val sorts = df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.SortExec => s
      }
      assert(sorts.isEmpty, s"parent sort kept:\n${df.queryExecution.executedPlan}")
      assert(engineOf(df).isDefined, df.queryExecution.toString)
      assert(got == spark.sql(inner).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq)
      assert(got == got.sortBy { case (id, d) => (d, id) })
    } finally KnnIndex.clear()
  }

  test("stale registration at execute time: the operator runs the exact plan") {
    val (corpusPath, coldDir, rows) = fixture()
    try {
      KnnIndex.register(corpusPath, coldDir, efSearch = 96,
        probeSegments = 4, shortlist = 64)
      val q = rows(3)._2
      val df = spark.read.parquet(corpusPath)
        .select(col("id"), Distances.l2(col("vec"), lit(q)).as("dist"))
        .orderBy("dist").limit(10)
      assert(scanPaths(df).isEmpty, "the statement must match while the tier exists")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(coldDir))
      val got = df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(engineOf(df) == Some("scan"))
      assert(KnnServeExec.fallbackOf(df.queryExecution.executedPlan) ==
        Some("stale registration"))
      val truth = rows.map { case (id, v, _) => (id, Distances.l2(q, v)) }
        .sortBy { case (id, d) => (d, id) }.take(10)
      assert(got == truth, "the exact fallback must answer the exact top-k")
    } finally KnnIndex.clear()
  }

  test("a session without the extensions serves through KnnIndex.install") {
    val (corpusPath, coldDir, rows) = fixture()
    // a session built by a plain builder: no GraftExtensions
    val plain = {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      try SparkSession.builder().getOrCreate()
      finally {
        SparkSession.setDefaultSession(spark)
        SparkSession.setActiveSession(spark)
      }
    }
    assert(plain ne spark)
    assert(!plain.sessionState.analyzer.postHocResolutionRules
      .exists(_.isInstanceOf[KnnScanRule]), "the plain session has the extensions")
    KnnIndex.install(plain)
    KnnIndex.install(plain) // idempotent
    assert(plain.experimental.extraOptimizations.count(_.isInstanceOf[KnnScanRule]) == 1)
    assert(plain.experimental.extraStrategies.count(_ == KnnStrategy) == 1)
    try {
      KnnIndex.register(corpusPath, coldDir, efSearch = 96,
        probeSegments = 4, shortlist = 64)
      val q = rows(5)._2
      def stmt(s: SparkSession) = s.read.parquet(corpusPath)
        .select(col("id"), Distances.l2(col("vec"), lit(q)).as("dist"))
        .orderBy(col("dist"), col("id")).limit(10)
      val df = stmt(plain)
      // the late rule serves it: the analyzed plan keeps the corpus scan
      assert(!df.queryExecution.analyzed.exists(_.isInstanceOf[KnnScan]))
      assert(scanPaths(df).isEmpty)
      val got = df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(engineOf(df) == Some("probe"))
      assert(got == stmt(spark).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    } finally KnnIndex.clear()
  }

  test("non-kNN plans come out of analysis unchanged") {
    import spark.implicits._
    val (corpusPath, coldDir, rows) = fixture()
    val rule = KnnScanRule(spark)
    val corpus = spark.read.parquet(corpusPath)
    val q = rows(0)._2
    val other = Seq((1L, 2.0), (3L, 1.0)).toDF("id", "dist")
    val plans = Seq(
      corpus.orderBy("id").limit(5),
      corpus.select(col("id"), Distances.l2(col("vec"), lit(q)).as("dist"))
        .orderBy(col("dist").desc).limit(5),
      corpus.groupBy((col("id") % 4).as("g")).count().limit(3),
      other.orderBy("dist").limit(1),
      corpus.join(other, "id").limit(2))
    def unchanged(tag: String): Unit = plans.foreach { df =>
      val p = df.queryExecution.analyzed
      assert(!p.exists(_.isInstanceOf[KnnScan]), s"$tag: matched\n$p")
      assert(rule(p) eq p, s"$tag: the rule changed\n$p")
    }
    unchanged("no registration")
    try {
      KnnIndex.register(corpusPath, coldDir)
      unchanged("registered")
      val noLimit = corpus.select(col("id"), Distances.l2(col("vec"), lit(q))
        .as("dist")).orderBy("dist").queryExecution.analyzed
      assert(rule(noLimit) eq noLimit)
    } finally KnnIndex.clear()
  }

  test("a parameter-bound query vector is served by the same KnnScan") {
    val (corpusPath, coldDir, rows) = filteredFixture()
    try {
      KnnIndex.register(corpusPath, coldDir, efSearch = 96,
        probeSegments = 4, shortlist = 64, filterColumns = Set("label"))
      spark.read.parquet(corpusPath).createOrReplaceTempView("knn_param")
      val q = rows(42)._2
      val df = spark.sql(
        """SELECT id, l2_distance(vec, :q) AS dist FROM knn_param
          |WHERE label = :label ORDER BY dist, id LIMIT 10""".stripMargin,
        Map("q" -> q, "label" -> 1))
      val scan = df.queryExecution.optimizedPlan match {
        case s: KnnScan => s
        case p => fail(s"a bound query vector did not match:\n$p")
      }
      assert(scan.query.sameElements(q))
      assert(scan.filters.map(f => (f._1, f._2)) == Seq(("label", Seq(1))))
      val got = df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(engineOf(df).isDefined)
      val literal = spark.sql(literalSql("knn_param", q, "WHERE label = 1"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == literal, "bound and literal statements must agree")
    } finally KnnIndex.clear()
  }

  test("=, IN and unfiltered statements over a BIGINT label match at analysis") {
    import spark.implicits._
    val rows = clustered(400).map { case (id, v, t) => (id, v, t, id % 10) }
    val corpusPath = Files.createTempDirectory("knnrw-lcorpus").toString
    rows.map(r => (r._1, r._2, r._4)).toDF("id", "vec", "label")
      .write.mode("overwrite").parquet(corpusPath)
    val coldDir = Files.createTempDirectory("knnrw-ltier").toString
    ColdTier.sealMany(rows.toDF("id", "vec", "eventTime", "label")
      .withColumn("segmentId", (col("id") % 4).cast("long")), coldDir)
    ColdTier.sealIndexes(spark, coldDir, 0L until 4L, Metric.L2, m = 8,
      efConstruction = 64)
    // matching at analysis needs the extensions' resolution rule, which
    // `spark` lacks when an earlier suite built the shared session without
    // them: `create()` builds a session that has them, left inactive
    val (active, default) =
      (SparkSession.getActiveSession, SparkSession.getDefaultSession)
    val ext = SparkSession.builder().withExtensions(new GraftExtensions).create()
    active.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
    default.foreach(SparkSession.setDefaultSession)
    try {
      KnnIndex.register(corpusPath, coldDir, efSearch = 96,
        probeSegments = 4, shortlist = 64, filterColumns = Set("label"))
      ext.read.parquet(corpusPath).createOrReplaceTempView("knn_long")
      val q = rows(11)._2
      Seq("" -> ((_: Long) => true), "WHERE label = 3" -> ((l: Long) => l == 3L),
          "WHERE label IN (3, 1)" -> ((l: Long) => l == 3L || l == 1L)).foreach {
        case (where, keep) =>
          val df = ext.sql(literalSql("knn_long", q, where))
          assert(df.queryExecution.analyzed.isInstanceOf[KnnScan],
            s"'$where' was not matched at analysis:\n${df.queryExecution.analyzed}")
          val got = df.collect().map(_.getLong(0))
          assert(got.length == 10 && got.forall(id => keep(id % 10)), s"'$where': ${got.toList}")
      }
    } finally KnnIndex.clear()
  }
}
