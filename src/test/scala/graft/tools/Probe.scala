package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scratch dev driver (see the verify skill). Current shape: the
 * fan-out-vs-shortlist decomposition of the 1%-label recall residue
 * (COVERAGE "named next measurement") at 1× bench scale — recall of the
 * estimator-sized literal-filtered probe at FIXED shortlist across
 * probeSegments ∈ {6, 12, 32-of-32}: if recall climbs with fan-out at a
 * fixed shortlist, the residue is routing, not over-fetch. */
object Probe {
  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.SparkEntry.configure(SparkSession.builder()
      .master("local[16]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    import graft.store.ColdTier
    import graft.Metric
    import graft.partitioners.KMeansPartitioner

    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val vecs = DerivedVectors.derivedVectors(spark, sfDir)
      .repartition(16).cache()
    val n = vecs.count()
    val sample = vecs.limit(8192).select("vec").collect()
      .map(_.getSeq[Float](0).toArray)
    val nCells = 32
    val cells = KMeansPartitioner.fit(sample, k = nCells,
      replicationFactor = 1, iterations = 4, seed = 42L, queryProbes = 8)
    val bCells = spark.sparkContext.broadcast(cells)
    val tier = java.nio.file.Files.createTempDirectory("probe-1pct").toString
    ColdTier.sealMany(vecs.withColumn("segmentId",
        udf((v: Seq[Float]) => bCells.value.dataPartitions(v.toArray, 0L)(0))
          .apply(col("vec")).cast("long"))
      .withColumn("label100", pmod(col("id"), lit(100)).cast("long")),
      tier)
    ColdTier.sealIndexes(spark, tier,
      ColdTier.catalog(spark, tier).map(_.segmentId).toSeq, Metric.L2,
      m = 16, efConstruction = 48, maxGraphRows = 150000)
    ColdTier.sealAttrStats(spark, tier, "label100")
    val selLbl = 37L
    val qs = vecs.where(col("id") % 2861 === 0).limit(256)
      .select(col("id").as("qid"), col("vec").as("qv"),
        lit(Long.MaxValue / 2).as("qtime"), lit(Long.MaxValue / 2).as("ttl"))
      .cache()
    val nQ = qs.count()
    val truth = ColdTier.search(spark, tier,
        qs.withColumn("qfilter", lit(selLbl)), 10, Metric.L2,
        firstWaveFraction = 1.0, terminationFactor = 1.0,
        filterColumn = Some("label100"))
      .groupBy("qid").agg(collect_set(col("id")).as("ids")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val sel = ColdTier.estimateSelectivity(spark, tier, "label100",
      Seq(selLbl.toDouble), Double.NaN, Double.NaN)
    val factor = ColdTier.adaptiveOverfetch(8, sel)
    println(s"n=$n queries=$nQ cells=$nCells selectivityEst=$sel " +
      s"adaptiveFactor=$factor (shortlist 96 x $factor fixed below)")
    Seq(6, 12, nCells).foreach { probes =>
      val (rows, sec) = time(
        ColdTier.searchIndexedLiteralFiltered(spark, tier, qs, 10,
            filters = Seq(("label100", Seq(selLbl),
              org.apache.spark.sql.types.LongType)),
            metric = Metric.L2, shortlist = 96, efSearch = 96,
            probeSegments = probes, overfetch = 8)
          .groupBy("qid").agg(collect_set(col("id")).as("ids")).collect())
      val per = truth.toSeq.map { case (qid, t) =>
        if (t.isEmpty) 1.0
        else rows.collectFirst { case r if r.getLong(0) == qid =>
          r.getSeq[Long](1).count(t.contains).toDouble / t.size
        }.getOrElse(0.0)
      }
      val recall = if (per.nonEmpty) per.sum / per.length else 0.0
      println(f"probeSegments=$probes%2d recall=$recall%.4f sec=$sec%.1f " +
        f"q_per_sec=${nQ / sec}%.1f")
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tier))
    spark.stop()
  }
}
