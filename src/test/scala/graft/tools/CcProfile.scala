package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev probe: phase timing for dedup_clusters at a given sf, and the
 * components step's Spark jobs and time on the driver union-find path
 * next to the forced distributed (star contraction) path.
 * Run: sbt "Test/runMain graft.tools.CcProfile [sfDir]" */
object CcProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.SparkEntry.configure(SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def time[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val a = f
      println(f"[cc] $tag: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      a
    }
    val docs = graft.queries.Tables(spark, dir, "documents")
    val pairs = time("minhashPairs+write") {
      val p = graft.ops.Dedup.minhashPairs(docs,
        numHashes = graft.queries.AnnQueries.MinhashNumHashes,
        rowsPerBand = 4, shingleWidth = 3,
        threshold = graft.queries.AnnQueries.MinhashThreshold,
        maxBucketSize = graft.queries.AnnQueries.MaxBucketSize)
      graft.queries.OracleAux.write(p.select(col("i"), col("j")), dir,
        "dedup_cluster_pairs")
      graft.queries.OracleAux.read(spark, dir, "dedup_cluster_pairs")
    }
    println(s"[cc] pairs: ${pairs.count()}")
    // jobs started on this thread while "cc.counting" is set; a marker
    // job flushes the (asynchronous) listener bus before the count is read
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val markers = new java.util.concurrent.atomic.AtomicInteger()
    val sc = spark.sparkContext
    sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          if (p.getProperty("cc.marker") != null) markers.incrementAndGet()
          else if (p.getProperty("cc.counting") != null) jobs.incrementAndGet()
        }
    })
    def withProperty[A](key: String)(f: => A): A = {
      sc.setLocalProperty(key, "1")
      try f finally sc.setLocalProperty(key, null)
    }
    /** Components plus a collect of the result: (nodes, jobs, seconds). */
    def run(cc: => DataFrame): (Int, Int, Double) = {
      jobs.set(0)
      val t0 = System.nanoTime()
      val n = withProperty("cc.counting")(cc.collect().length)
      val s = (System.nanoTime() - t0) / 1e9
      val want = markers.get + 1
      withProperty("cc.marker")(sc.parallelize(Seq(1), 1).count())
      while (markers.get < want) Thread.sleep(5)
      (n, jobs.get, s)
    }
    // first rep of each path is cold (codegen, class loading)
    (1 to 3).foreach { rep =>
      val (n, dj, ds) = run(graft.ops.Dedup.connectedComponents(pairs))
      val (m, fj, fs) = run(graft.ops.Dedup.connectedComponents(pairs, 25, 0))
      require(n == m, s"driver path $n nodes, distributed path $m")
      println(f"[cc] rep $rep: $n nodes; driver $dj jobs $ds%.3f s; " +
        f"distributed $fj jobs $fs%.3f s")
    }
    spark.stop()
  }
}
