package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.Metric

/** Measurement harness for the SQL exact-serving path (guide §1 /
 * §7.3): reproduces the bench's `1pct_sql_exact` shape at 1x scale —
 * an attr-aligned tier, a registered stand-in corpus, 512 independent
 * `spark.sql` statements across 16 client threads — and attributes the
 * per-statement driver time two ways:
 *
 *  1. single-thread phase timing (parse / analyze / optimize+rewrite /
 *     collect deltas over N sequential statements);
 *  2. a poor-man's sampling profiler over the concurrent run: every few
 *     ms each pool thread's stack is classified into a phase bucket
 *     (parser, analyzer, optimizer rules, the graft rewrite, the
 *     ColdTier admission/serve path, the kernel, codegen, blocked) and
 *     the histogram printed — the driver-contention shape the r16 twins
 *     measured as a 3x run-to-run band (68-229 q/s) lives here.
 *
 * Test scope on purpose: must not perturb the main binary's sha.
 *
 * Usage: Test/runMain graft.tools.ProfileSqlServe [nStatements] [threads]
 */
object ProfileSqlServe {
  def main(args: Array[String]): Unit = {
    val nStatements = args.headOption.map(_.toInt).getOrElse(512)
    val threads = args.drop(1).headOption.map(_.toInt).getOrElse(16)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.SparkEntry.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.memory", sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // --- aligned tier: 100 single-label segments from the 1x vectors
    val tier = java.nio.file.Files.createTempDirectory("profile-sql-tier")
      .toString
    val vecs = DerivedVectors.derivedVectors(spark, sfDir)
    spark.sparkContext.setJobDescription("profile: seal aligned tier")
    graft.store.ColdTier.sealMany(
      vecs.select(pmod(col("id"), lit(100)).cast("long").as("segmentId"),
        col("id"), col("vec"), col("eventTime"),
        pmod(col("id"), lit(100)).cast("long").as("label100")), tier)
    graft.store.ColdTier.sealAttrStats(spark, tier, "label100")

    // --- stand-in corpus + registration (the rewrite replaces its scan)
    val standin = java.nio.file.Files
      .createTempDirectory("profile-sql-corpus").toString
    vecs.limit(64)
      .withColumn("label100", pmod(col("id"), lit(100)).cast("long"))
      .write.mode("overwrite").parquet(standin)
    graft.GraftFunctions.register(spark)
    graft.plans.KnnIndex.install(spark)
    graft.plans.KnnIndex.register(standin, tier, idCol = "id",
      vecCol = "vec", metric = Metric.L2, efSearch = 96,
      probeSegments = 12, shortlist = 96,
      filterColumns = Set("label100"), filterOverfetch = 8)
    spark.read.parquet(standin).createOrReplaceTempView("profile_corpus")

    val selLbl = 37L
    val qPairs = vecs.where(col("id") % 997 === 0)
      .select(col("id"), col("vec")).limit(nStatements).collect()
      .map(r => r.getSeq[Float](1).toArray)
    println(s"queries: ${qPairs.length}, threads: $threads, tier: $tier")

    def sqlText(qv: Array[Float]): String = {
      val arrLit = qv.map(f => s"CAST($f AS FLOAT)")
        .mkString("array(", ",", ")")
      s"""SELECT id, l2_distance(vec, $arrLit) AS dist
         |FROM profile_corpus WHERE label100 = $selLbl
         |ORDER BY dist LIMIT 10""".stripMargin
    }

    // warm-up + serving-decision gates
    val warm = spark.sql(sqlText(qPairs.head))
    warm.collect()
    require(graft.plans.KnnServeExec.engineOf(warm.queryExecution.executedPlan)
      .contains("exact"), "expected the warm exact kernel to serve")

    // --- phase timing, single thread over 64 statements
    val phaseN = math.min(64, qPairs.length)
    var tParse, tAnalyze, tOptimize, tCollect = 0L
    (0 until phaseN).foreach { i =>
      val txt = sqlText(qPairs(i))
      var t0 = System.nanoTime()
      val parsed = spark.sessionState.sqlParser.parsePlan(txt)
      tParse += System.nanoTime() - t0
      t0 = System.nanoTime()
      val df = spark.sql(txt) // parses again; analysis is lazy in 4.x? force:
      df.queryExecution.analyzed
      tAnalyze += System.nanoTime() - t0
      t0 = System.nanoTime()
      df.queryExecution.optimizedPlan
      tOptimize += System.nanoTime() - t0
      t0 = System.nanoTime()
      df.collect()
      tCollect += System.nanoTime() - t0
      val _ = parsed
    }
    def ms(n: Long) = n / 1e6 / phaseN
    println(f"per-statement (1 thread, n=$phaseN): parse ${ms(tParse)}%.2f ms, " +
      f"+analyze(match) ${ms(tAnalyze)}%.2f ms, +optimize ${ms(tOptimize)}%.2f ms, " +
      f"+physical+collect(kernel) ${ms(tCollect)}%.2f ms")

    // --- concurrent run with the stack sampler
    val hist = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.LongAdder]()
    val exemplar = new java.util.concurrent.ConcurrentHashMap[String, String]()
    @volatile var sampling = true
    def classify(st: Array[StackTraceElement], state: Thread.State): String = {
      val frames = st.map(f => s"${f.getClassName}.${f.getMethodName}")
      def has(p: String) = frames.exists(_.contains(p))
      val blocked = state == Thread.State.BLOCKED
      val cat =
        if (st.isEmpty) "idle/empty"
        else if (has("BoundedTopK") || has("offerBounded")) "kernel"
        else if (has("localPredicateMask")) "coldtier.predicateMask"
        else if (has("SegmentDataCache")) "coldtier.segmentCache"
        else if (has("tombstone")) "coldtier.tombstones"
        else if (has("admissible") || has("loadAttrStats")) "coldtier.admission"
        else if (has("ColdTier") && has("catalog")) "coldtier.catalog"
        else if (has("serveLocal")) "coldtier.serveOther"
        else if (has("ColdTier")) "coldtier.other"
        else if (has("graft.plans")) "rewrite.other"
        else if (has("codegen")) "codegen"
        else if (has("catalyst.parser")) "parse"
        else if (has("QueryPlanningTracker") || has("Analyzer") ||
          has("catalyst.analysis")) "analyze"
        else if (has("RuleExecutor") || has("optimizer")) "optimize"
        else if (has("executeCollect") || has("collectFromPlan")) "collect"
        else if (has("SparkPlan") || has("QueryExecution")) "physicalPlan"
        else if (has("spark.sql")) "sql.other"
        else "other:" + frames.headOption.getOrElse("?")
      val key = (if (blocked) "BLOCKED|" else "") + cat
      exemplar.putIfAbsent(key, frames.take(12).mkString(" <- "))
      key
    }
    val poolNamePrefix = "profile-sql-pool"
    val tf = new java.util.concurrent.ThreadFactory {
      val n = new java.util.concurrent.atomic.AtomicInteger()
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"$poolNamePrefix-${n.incrementAndGet()}")
        t.setDaemon(true); t
      }
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads, tf)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val sampler = new Thread(() => {
      while (sampling) {
        val all = Thread.getAllStackTraces
        all.forEach { (t, st) =>
          if (t.getName.startsWith(poolNamePrefix)) {
            val key = classify(st, t.getState)
            hist.computeIfAbsent(key, _ => new java.util.concurrent.atomic.LongAdder).increment()
          }
        }
        Thread.sleep(3)
      }
    }, "stack-sampler")
    sampler.setDaemon(true)

    System.gc()
    def gcStats(): (Long, Long) = {
      import scala.jdk.CollectionConverters._
      val beans = java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans.asScala
      (beans.map(_.getCollectionCount).sum, beans.map(_.getCollectionTime).sum)
    }
    val (gc0, gct0) = gcStats()
    val t0 = System.nanoTime()
    sampler.start()
    val futs = qPairs.map { qv =>
      scala.concurrent.Future(spark.sql(sqlText(qv)).collect())
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futs.toSeq),
      scala.concurrent.duration.Duration.Inf)
    val sec = (System.nanoTime() - t0) / 1e9
    sampling = false
    pool.shutdown()
    val (gc1, gct1) = gcStats()
    println(f"concurrent: ${qPairs.length} statements x $threads threads in $sec%.2f s = ${qPairs.length / sec}%.1f q/s")
    println(s"gc during concurrent run: ${gc1 - gc0} collections, ${gct1 - gct0} ms")
    println("--- sample histogram (thread-time attribution) ---")
    val total = hist.values().stream().mapToLong(_.sum()).sum().max(1L)
    import scala.jdk.CollectionConverters._
    hist.asScala.toSeq.sortBy(-_._2.sum()).foreach { case (k, v) =>
      println(f"${v.sum() * 100.0 / total}%6.2f%% $k")
    }
    println("--- exemplar stacks (top 8 categories) ---")
    hist.asScala.toSeq.sortBy(-_._2.sum()).take(8).foreach { case (k, _) =>
      println(s"[$k]\n  ${exemplar.get(k)}")
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tier))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(standin))
    spark.stop()
  }
}
