package perfbench

import org.apache.spark.sql.SparkSession

/** What one workload run hands back: the tallies, the end-to-end metrics
 * and the per-layer metrics (run.py prints one set or the other). */
final case class Result(tally: Tally, e2e: Map[String, Double],
    layer: Map[String, Double])

final case class Ctx(spark: SparkSession, gen: Gen, seconds: Double,
    work: java.nio.file.Path, jobs: JobListener, sessionReadyS: Double,
    tag: String = "run") {
  val cores: Int = Main.Cores
  def dir(name: String): String = {
    val p = work.resolve(name)
    java.nio.file.Files.createDirectories(p)
    p.toAbsolutePath.toString
  }
}

/** Entry point of the benchmark JVM:
 * `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir> <result file>`.
 * Writes the result as JSON to the result file and exits 0, or 1 when
 * any correctness check failed. */
object Main {
  /** Spark task slots. Two, not one per core: on a shared 4-core host the
   * scheduler, client, JIT and GC threads need the other two, and with four
   * task slots the runs' spread across seeds was up to twice as wide. */
  val Cores = 2

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${Collectors.sinceJvmStart()}%7.2f s  $msg")

  /** Build step: run the stream and SQL workloads briefly so the JVM that
   * records the class-data-sharing archive loads the Spark classes the
   * real runs will (the batch workload adds few and would slow the build). */
  private def loadClasses(work: String): Unit = {
    val w = java.nio.file.Paths.get(work)
    val spark = session(w, "classes")
    val jobs = new JobListener
    spark.sparkContext.addSparkListener(jobs)
    val ctx = Ctx(spark, new Gen(0L), 1.0, w, jobs, 0.0)
    Seq[Ctx => Result](StreamWorkload.run, SqlWorkload.run).foreach { f =>
      try f(ctx) catch { case scala.util.control.NonFatal(e) => log(s"class loading run: $e") }
    }
    spark.stop()
  }

  private def session(work: java.nio.file.Path, name: String): SparkSession = {
    val spark = graft.SparkEntry.configure(SparkSession.builder()
        .master(s"local[$Cores]")
        .appName(s"perfbench-$name")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", Cores.toString)
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .config("spark.sql.streaming.checkpointLocation",
          work.resolve("checkpoints").toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Write one of a traced run's files: `<workload>-<seed>-<what>.json`. */
  def writeTrace(ctx: Ctx, what: String, body: String): Unit = {
    val dir = ctx.work.resolve("trace")
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.writeString(dir.resolve(s"${ctx.tag}-$what.json"), body)
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("classes")) return loadClasses(args(1))
    val Array(workload, seedS, secondsS, traceS, workS, outS) = args
    Trace.on = traceS == "1"
    val work = java.nio.file.Paths.get(workS)
    java.nio.file.Files.createDirectories(work)
    val spark = session(work, workload)
    val jobs = new JobListener
    spark.sparkContext.addSparkListener(jobs)
    val ctx = Ctx(spark, new Gen(seedS.toLong), secondsS.toDouble, work, jobs,
      Collectors.sinceJvmStart(), s"$workload-$seedS")
    log("session ready")
    val result = workload match {
      case "stream_ingest_query" => StreamWorkload.run(ctx)
      case "sql_knn_serve" => SqlWorkload.run(ctx)
      case "batch_curate" => BatchWorkload.run(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    val t = result.tally
    val layer = result.layer ++ Map(
      "failed_frac" -> t.failed.toDouble / math.max(1L, t.attempted))
    if (Trace.on) {
      Trace.writeJson(work.resolve("trace").resolve(s"$workload-$seedS-spans.json"))
      writeTrace(ctx, "jobs", Json.obj(jobs.ops.toSeq.sorted.map { op =>
        val t = jobs.total(_ == op)
        op -> Json.nums(Map("jobs" -> t.jobs.toDouble, "tasks" -> t.tasks.toDouble,
          "run_ms" -> t.runMs.toDouble, "cpu_ms" -> t.cpuNs / 1e6, "gc_ms" -> t.gcMs.toDouble,
          "shuffle_read_bytes" -> t.shuffleReadBytes.toDouble,
          "shuffle_write_bytes" -> t.shuffleWriteBytes.toDouble))
      }) + "\n")
    }
    t.violations.take(20).foreach(v => System.err.println(s"[perfbench] VIOLATION $v"))
    val json = Json.obj(Seq(
      "correct" -> Json.bool(t.violations.isEmpty),
      "attempted" -> t.attempted.toString,
      "failed" -> t.failed.toString,
      "violations" -> Json.arr(t.violations.take(20).map(Json.str)),
      "e2e" -> Json.nums(result.e2e),
      "layer" -> Json.nums(layer)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outS), json + "\n")
    log("result written")
    spark.stop()
    log("session stopped")
    System.exit(if (t.violations.isEmpty) 0 else 1)
  }
}

/** Just enough JSON writing for the result and the trace files. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def bool(b: Boolean): String = b.toString
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def nums(m: Map[String, Double]): String =
    obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) })
}
