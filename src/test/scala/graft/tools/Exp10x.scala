package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.Metric
import graft.ops.Ann

/** 10x-corpus (6M-vector) ANN sweep over per-partition graph size.
 * Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "Test/runMain graft.tools.Exp10x"
 *
 * Measured (local[32], 6M vectors, 195 queries, M=16 efC=48 efSearch=64):
 *   target=23437  parts= 295  ann=226.7s  vec/s=26467  recall@10=0.9224
 *   target= 5859  parts=1057  ann=145.3s  vec/s=41293  recall@10=0.9737
 *   target= 4000  parts=1532  ann=157.9s  vec/s=37992  recall@10=0.9904
 * Conclusion: hold per-partition HNSW graph size constant (~4k) across
 * corpus scales and let partition count grow — build cost and
 * recall-at-fixed-efSearch both degrade with graph size. */
object Exp10x {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = 32
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.driver.memory", "16g")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def time[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }

    val sample = DerivedVectors.derivedVectors(spark, sfDir).limit(8192)
      .select("vec").collect().map(_.getSeq[Float](0).toArray)
    val cells = graft.partitioners.KMeansPartitioner.fit(sample,
      k = cpus * 2, replicationFactor = 1, iterations = 4, seed = 42L,
      queryProbes = 8)

    val mult = 10
    val vecs10 = DerivedVectors.derivedVectorsN(spark, sfDir, mult).repartition(cpus * 4)
    val nVec10 = vecs10.count()
    val q10 = vecs10.where(col("id") % 28541 === 0)
      .select(col("id").as("qid"), col("vec").as("qv"),
        lit(Long.MaxValue / 2).as("qtime"), lit(Long.MaxValue / 2).as("ttl"))
      .cache()
    println(s"nVec10=$nVec10 nQ10=${q10.count()}")

    val (bfRows, bfSec) = time(
      Ann.bruteForce(vecs10, q10, 10, Metric.L2)
        .groupBy("qid").agg(collect_set(col("id")).as("ids")).collect())
    val truth = bfRows.map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    println(f"bf ground truth: $bfSec%.1f s")

    for (target <- Seq(nVec10 / (cpus * 8), nVec10 / (cpus * 32), 4000L)) {
      val t = math.max(4000L, target)
      val salt = graft.partitioners.SaltedPartitioner.fromSample(
        cells, sample, nVec10, targetPerPartition = t)
      System.gc()
      val (rows, sec) = time(
        Ann.search(vecs10, q10, salt, 10, Metric.L2, useHnsw = true,
            hnswM = 16, efConstruction = 48, efSearch = 64)
          .groupBy("qid").agg(collect_set(col("id")).as("ids")).collect())
      val rc = rows.map { r =>
        val tset = truth(r.getLong(0))
        r.getSeq[Long](1).count(tset.contains).toDouble / tset.size
      }
      println(f"target=$t%6d parts=${salt.numPartitions}%5d " +
        f"ann=$sec%.1f s vec/s=${(nVec10 + rows.length) / sec}%.0f " +
        f"recall=${rc.sum / rc.length}%.4f")
    }
    spark.stop()
  }
}
