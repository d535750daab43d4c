package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.Metric
import graft.streaming.VectorStreamJob
import graft.streaming.VectorStreamJob.StreamEvent

/** Isolated streaming measurement (no prior workload in
 * the JVM): 20k inserts fed in 2000-row chunks with concurrent queries
 * through the keyed HNSW store, per-chunk batch times printed.
 * Run: SPARK_GRAFT_CPUS=32 sbt "Test/runMain graft.tools.StreamProbe" */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.SparkEntry.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val rnd = new java.util.Random(1L)
    val rows = Array.tabulate(20000) { i =>
      (i.toLong, Array.fill(128)(rnd.nextGaussian().toFloat), i.toLong)
    }
    val input = MemoryStream[StreamEvent]
    val latencies = scala.collection.mutable.ArrayBuffer.empty[Double]
    val sq = VectorStreamJob.run(input.toDS(),
      graft.partitioners.SimplePartitioner(cpus.toInt), k = 10, Metric.L2,
      maxTtl = Long.MaxValue / 4, useHnsw = true) { merged =>
      merged.groupBy("qid").agg(max("latency_ms").as("l")).collect()
        .foreach(r => latencies.synchronized { latencies += r.getDouble(1) })
    }
    var fed = 0L
    val t0 = System.nanoTime()
    rows.grouped(2000).foreach { chunk =>
      val inserts = chunk.map { case (id, v, ts) => StreamEvent("i", id, v, ts, 0L, 0) }
      fed += chunk.length
      val queries = (0 until 16).map { i =>
        val (_, v, _) = chunk(rnd.nextInt(chunk.length))
        StreamEvent("q", 1000000000L + fed + i, v, Long.MaxValue / 8, Long.MaxValue / 8, 10)
      }
      val b0 = System.nanoTime()
      input.addData(inserts.toIndexedSeq ++ queries: _*)
      sq.processAllAvailable()
      println(f"chunk@$fed%5d: ${(System.nanoTime() - b0) / 1e9}%.2f s")
    }
    sq.stop()
    val sec = (System.nanoTime() - t0) / 1e9
    val sorted = latencies.synchronized { latencies.sorted.toArray }
    def pct(p: Double) = if (sorted.isEmpty) -1.0
      else sorted(math.min(sorted.length - 1, (p * sorted.length).toInt))
    println(f"total ${sec}%.1f s, inserts/s ${rows.length / sec}%.0f, " +
      f"p50 ${pct(0.5)}%.0f ms, p99 ${pct(0.99)}%.0f ms, n=${sorted.length}")
    spark.stop()
  }
}
