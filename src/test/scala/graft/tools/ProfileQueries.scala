package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Measurement harness for the optimization rounds (guide §1: measure
 * first): for each named declared query, a warm rep is timed together
 * with its Spark JOB COUNT and summed task time, and the final plan's
 * `explain("formatted")` is dumped to plans/<tag>/<name>_<suffix>.txt.
 * Job count is the per-call scheduling overhead the optimization rounds
 * target (tiny sf => per-job dispatch dominates over data volume), so
 * before/after job counts are the primary plan-shape evidence next to
 * the explain files.
 *
 * Test scope on purpose: profiling code stays out of the main
 * binary.
 *
 * Usage: Test/runMain graft.tools.ProfileQueries <suffix> <name>...
 *   (suffix "before"/"after"; names default to the slow set)
 */
object ProfileQueries {
  def main(args: Array[String]): Unit = {
    val suffix = args.headOption.getOrElse("before")
    val defaults = Seq(
      "knn_tiered", "knn_tiered_filtered", "knn_tiered_in",
      "knn_tiered_inwalk", "knn_tiered_qin", "knn_tiered_range",
      "knn_coldtier", "knn_coldtier_filtered", "knn_coldtier_early_term",
      "knn_coldtier_filtered_early_term", "knn_coldtier_snapshot",
      "knn_coldtier_sq", "knn_coldtier_pq", "knn_coldtier_hnsw",
      "knn_coldtier_deletes", "knn_coldtier_range",
      "search_hybrid_rrf", "dedup_minhash")
    val names = if (args.length > 1) args.drop(1).toSeq else defaults
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.SparkEntry.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.memory", sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val jobs = new java.util.concurrent.atomic.AtomicLong()
    val taskMs = new java.util.concurrent.atomic.AtomicLong()
    val stages = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        taskMs.addAndGet(s.stageInfo.taskMetrics.executorRunTime)
      }
    })

    val outDir = java.nio.file.Paths.get("plans", "r16")
    java.nio.file.Files.createDirectories(outDir)
    val all = graft.SparkEntry.queries
    println(f"${"query"}%-36s ${"sec"}%8s ${"jobs"}%5s ${"stages"}%6s ${"taskSec"}%8s")
    names.foreach { name =>
      val fn = all(name)
      // warm rep (codegen + fixture build + sidecar caches), untimed
      fn(spark, sfDir).count()
      // explain of the warm plan
      val df = fn(spark, sfDir)
      java.nio.file.Files.write(outDir.resolve(s"${name}_$suffix.txt"),
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode).getBytes("UTF-8"))
      // timed rep with job/stage counters (a short settle instead of the
      // private listenerBus.waitUntilEmpty — counter drift of one event
      // does not matter at this granularity)
      Thread.sleep(300)
      val (j0, s0, t0) = (jobs.get(), stages.get(), taskMs.get())
      val t = System.nanoTime()
      fn(spark, sfDir).count()
      val sec = (System.nanoTime() - t) / 1e9
      Thread.sleep(300)
      println(f"$name%-36s $sec%8.3f ${jobs.get() - j0}%5d ${stages.get() - s0}%6d ${(taskMs.get() - t0) / 1000.0}%8.2f")
    }
    spark.stop()
  }
}
