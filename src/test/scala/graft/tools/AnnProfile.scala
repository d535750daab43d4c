package graft.tools
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import graft.Metric
import graft.ops.Ann
import graft.partitioners.KMeansPartitioner
object AnnProfile {
  def main(args: Array[String]): Unit = {
    val spark = graft.SparkEntry.configure(SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("GRAFT_SHUFFLE_PARTS", "32"))
      .config("spark.sql.adaptive.coalescePartitions.enabled",
        sys.env.getOrElse("GRAFT_COALESCE", "true"))
      .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val stages = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long, Long, Int)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
        stages += ((si.stageId, si.name.take(40), wall,
          si.taskMetrics.executorRunTime, si.numTasks))
      }
    })
    val dir = "/root/testdata/sf0.1"
    val vecs = DerivedVectors.derivedVectors(spark, dir).repartition(32).cache()
    vecs.count()
    val queries = vecs.where(col("id") % 571 === 0)
      .select(col("id").as("qid"), col("vec").as("qv"),
        lit(Long.MaxValue / 2).as("qtime"), lit(Long.MaxValue / 2).as("ttl")).cache()
    queries.count()
    val sample = vecs.limit(8192).select("vec").collect().map(_.getSeq[Float](0).toArray)
    val cells = KMeansPartitioner.fit(sample, 64, 1, 4, 42L, 8)
    val model = graft.partitioners.SaltedPartitioner.fromSample(cells, sample, 600000L, 4000L)
    stages.clear()
    val t0 = System.nanoTime()
    Ann.search(vecs, queries, model, 10, Metric.L2, useHnsw = true,
      hnswM = 16, efConstruction = 48, efSearch = 64).count()
    println(f"ann: ${(System.nanoTime()-t0)/1e9}%.1f s")
    stages.sortBy(-_._3).take(8).foreach { case (id, name, wall, cpu, nt) =>
      println(f"stage $id%4d $name%-40s wall=${wall/1000.0}%8.1fs cpuSum=${cpu/1000.0}%8.1fs tasks=$nt")
    }
    spark.stop()
  }
}
