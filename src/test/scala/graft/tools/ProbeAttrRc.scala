package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.Metric

/** Scratch reproduction of the r14 twin-1 anomaly: the aligned EXACT
 * kernel read recall 0.9758 vs the mixed-tier exact truth at 10x —
 * it should be 1.0 by construction (same row multiset, same kernel).
 * Repro at sf0.01 x10 (600k rows): seal cell-aligned with label100,
 * exact filtered truth, reclusterByAttr(100), exact again, and diff
 * BOTH the result sets and the underlying label-37 row id sets. */
object ProbeAttrRc {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.SparkEntry.configure(SparkSession.builder()
      .master("local[16]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    import graft.store.ColdTier

    val vecs10 = DerivedVectors.derivedVectorsN(spark, sfDir, 10)
      .repartition(32)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = vecs10.count()
    println(s"corpus: $n")
    val sample = vecs10.limit(8192).select("vec").collect()
      .map(_.getSeq[Float](0).toArray)
    val cells = graft.partitioners.KMeansPartitioner.fit(sample, k = 16,
      replicationFactor = 1, iterations = 4, seed = 42L, queryProbes = 8)
    val bCells = spark.sparkContext.broadcast(cells)
    val tier = java.nio.file.Files.createTempDirectory("probe-attrrc")
      .toString
    val withCell = vecs10.withColumn("cell",
      udf((v: Seq[Float]) => bCells.value.dataPartitions(v.toArray, 0L)(0))
        .apply(col("vec")))
    ColdTier.sealMany(
      withCell.select(col("cell").cast("long").as("segmentId"), col("id"),
        col("vec"), col("eventTime"),
        pmod(col("id"), lit(100)).cast("long").as("label100")), tier)
    ColdTier.sealAttrStats(spark, tier, "label100")

    val qs = vecs10.where(col("id") % 3001 === 0).limit(64)
      .select(col("id").as("qid"), col("vec").as("qv"),
        lit(Long.MaxValue / 2).as("qtime"), lit(Long.MaxValue / 2).as("ttl"),
        lit(37L).as("qfilter")).cache()
    println(s"queries: ${qs.count()}")

    def run(): Map[Long, Set[Long]] =
      ColdTier.search(spark, tier, qs, 10, Metric.L2,
          firstWaveFraction = 1.0, terminationFactor = 1.0,
          filterColumn = Some("label100"))
        .collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    def label37Ids(): (Long, Set[Long]) = {
      val paths = ColdTier.catalog(spark, tier).map(_.path).toIndexedSeq
      val df = spark.read.parquet(paths: _*)
      (df.count(),
        df.where(col("label100") === 37).select("id").as[Long]
          .collect().toSet)
    }

    val truthA = run()
    val (rowsA, idsA) = label37Ids()
    println(s"before: rows=$rowsA label37=${idsA.size}")

    val out = ColdTier.reclusterByAttr(spark, tier, "label100",
      buckets = 100, cellsPerBucket = 1, metric = Metric.L2,
      m = 16, efConstruction = 48, maxGraphRows = 150000)
    println(s"reclustered: ${out.length} segments, " +
      s"sum=${out.map(_.count).sum}")

    val (rowsB, idsB) = label37Ids()
    println(s"after: rows=$rowsB label37=${idsB.size} " +
      s"lostIds=${(idsA -- idsB).size} gainedIds=${(idsB -- idsA).size}")

    val truthB = run()
    var bad = 0
    truthA.foreach { case (qid, a) =>
      val b = truthB.getOrElse(qid, Set.empty[Long])
      if (a != b) {
        bad += 1
        if (bad <= 5) println(s"qid=$qid missing=${a -- b} extra=${b -- a}")
      }
    }
    println(s"queries with mismatched exact top-10: $bad / ${truthA.size}")

    // if mismatched: is it admission? re-run with the stats sidecar
    // removed (no pruning, full scan over the aligned tier)
    if (bad > 0) {
      val statsPath = new org.apache.hadoop.fs.Path(s"$tier/_attrstats-label100")
      val fs = statsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val listed = fs.listStatus(new org.apache.hadoop.fs.Path(tier))
        .map(_.getPath.getName).filter(_.contains("attrstats"))
      println(s"stats sidecars: ${listed.mkString(", ")}")
      listed.foreach(nm =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$tier/$nm"), true))
      val truthC = run()
      var badC = 0
      truthA.foreach { case (qid, a) =>
        if (a != truthC.getOrElse(qid, Set.empty[Long])) badC += 1
      }
      println(s"mismatches with NO stats pruning: $badC / ${truthA.size}")
    }
    spark.stop()
  }
}
