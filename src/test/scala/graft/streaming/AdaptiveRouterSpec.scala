package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Distances
import graft.partitioners.AdaptiveLshSfcPartitioner
import graft.streaming.VectorStreamJob.StreamEvent

/**
 * P5 adaptive range history under drift. What drift actually breaks,
 * and what each assertion demonstrates:
 *
 *  - load balance: out-of-range hashes clamp to the grid edge, so under
 *    stale boundaries ALL drifted inserts collapse into the edge
 *    partitions (the equi-depth property the VStream paper re-learns
 *    boundaries to preserve). A static model routes the drifted phase
 *    almost entirely into one partition per family; the adaptive model
 *    restores balance after its next re-fit.
 *  - recall across re-fits: once boundaries change, data inserted under
 *    OLD boundaries stays where the old mapping put it. A query routed
 *    only by the CURRENT version misses those partitions; the history
 *    fan-out (union over still-fresh versions) restores them. Clamping
 *    routes a query exactly like the data it drifted with, so recall
 *    under a never-refit static model does not decay — the decay appears
 *    the moment one re-fits without history, which is why the reference
 *    pairs re-learning with historical-range fan-out (
 *    LSHashSpaceFillingPartitioner.java:314-355).
 */
class AdaptiveRouterSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder().master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false").getOrCreate()

  private val Dim = 8
  // enough partitions that a query's fan-out (one partition per family
  // per version) is a small fraction of the space — otherwise accidental
  // partition collisions mask the recall cost of dropping the history
  private val NumParts = 32

  private def gauss(rnd: java.util.Random, shift: Float): Array[Float] =
    Array.fill(Dim)((rnd.nextGaussian() + shift).toFloat)

  /** recall@10: top-10 over the candidate set (inserts sharing a probed
   * partition) vs global exact top-10. */
  private def recallAt10(
      inserts: Seq[(Long, Array[Float])],
      dataPids: Map[Long, Set[Int]],
      queries: Seq[(Long, Array[Float])],
      queryPids: Map[Long, Set[Int]]): Double = {
    val recalls = queries.map { case (qid, qv) =>
      val probed = queryPids(qid)
      val cand = inserts.filter { case (id, _) => dataPids(id).exists(probed) }
      val got = cand.map { case (id, v) => (id, Distances.l2(qv, v)) }
        .sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toSet
      val truth = inserts.map { case (id, v) => (id, Distances.l2(qv, v)) }
        .sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toSet
      got.intersect(truth).size.toDouble / truth.size
    }
    recalls.sum / recalls.size
  }

  private def maxShare(pids: Seq[Array[Int]]): Double = {
    val counts = new Array[Int](NumParts)
    pids.foreach(_.foreach(counts(_) += 1))
    counts.max.toDouble / pids.size
  }

  test("re-fit restores balance; history fan-out preserves recall (batch semantics)") {
    val rnd = new java.util.Random(5L)
    val aData = (0 until 1500).map(i => (i.toLong, gauss(rnd, 0f), i.toLong))
    val bData = (0 until 1500).map(i => ((2000 + i).toLong, gauss(rnd, 8f), (2000 + i).toLong))

    val m0 = AdaptiveLshSfcPartitioner.init(
      aData.take(500).map(_._2).toArray, NumParts, Dim, numFamilies = 6,
      numHashes = 4, width = 4.0f, bits = 7, curveName = "hilbert",
      seed = 99L, fromTime = 0L)
    val m = m0.refit(bData.take(500).map(_._2).toArray, asOfTime = 2000L)

    // balance on the drifted phase: stale boundaries clamp everything to
    // the edge; re-learned boundaries spread it equi-depth
    val staleShare = maxShare(bData.map { case (id, v, ts) => m0.dataPartitions(v, id, ts) })
    val refitShare = maxShare(bData.map { case (id, v, ts) => m.dataPartitions(v, id, ts) })
    assert(staleShare >= 0.8, s"drifted inserts should collapse under stale heads: $staleShare")
    assert(refitShare <= 0.5, s"re-learned heads should restore balance: $refitShare")

    val all = (aData ++ bData).map { case (id, v, _) => (id, v) }
    val dataPids = (aData ++ bData).map { case (id, v, ts) =>
      id -> m.dataPartitions(v, id, ts).toSet
    }.toMap
    val qrnd = new java.util.Random(17L)
    val queries = (0 until 15).map(i => ((10000 + i).toLong, gauss(qrnd, 0f))) ++
      (0 until 15).map(i => ((10100 + i).toLong, gauss(qrnd, 8f)))

    // full history fan-out vs current-version-only (no history) routing
    val histPids = queries.map { case (qid, qv) =>
      qid -> m.queryPartitions(qv, 3500L, 10000L).toSet
    }.toMap
    val lastOnly = queries.map { case (qid, qv) =>
      qid -> m.versions.last.partitioner.queryPartitions(qv).toSet
    }.toMap
    val histRecall = recallAt10(all, dataPids, queries, histPids)
    val lastRecall = recallAt10(all, dataPids, queries, lastOnly)
    assert(histRecall >= 0.9, s"history fan-out recall: $histRecall")
    assert(lastRecall <= histRecall - 0.15,
      s"dropping the range history must measurably cost recall: " +
        s"last-only $lastRecall vs history $histRecall")
  }

  test("streaming router: re-fits mid-stream, balanced post-drift routing, recall >= 0.9") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val rnd = new java.util.Random(5L)
    // phase A: ts 0..1999 centered at 0; phase B: ts 2000..3999 at +8.
    // updateInterval 1000 -> re-fits at ~1000/2000/3000; the 3000 re-fit
    // learns from phase-B ring content, so inserts ts >= 3000 route
    // balanced while [2000,3000) lag under stale heads (reference
    // behavior: adaptation lags one update interval)
    val aEvents = (0 until 2000).map(i =>
      StreamEvent("i", i.toLong, gauss(rnd, 0f), i.toLong, 0L, 0))
    val bEvents = (0 until 2000).map(i =>
      StreamEvent("i", (2000 + i).toLong, gauss(rnd, 8f), (2000 + i).toLong, 0L, 0))
    val qrnd = new java.util.Random(17L)
    val queryEvents = ((0 until 15).map(i =>
      StreamEvent("q", (10000 + i).toLong, gauss(qrnd, 0f), 3999L, 1000000L, 10)) ++
      (0 until 15).map(i =>
        StreamEvent("q", (10100 + i).toLong, gauss(qrnd, 8f), 3999L, 1000000L, 10)))

    val init = AdaptiveLshSfcPartitioner.init(
      aEvents.take(500).map(_.vec).toArray, NumParts, Dim, numFamilies = 4,
      numHashes = 4, width = 4.0f, bits = 7, curveName = "hilbert",
      seed = 99L, fromTime = 0L)

    val input = MemoryStream[StreamEvent]
    val routed = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Int, Int)]
    val q = AdaptiveRouter.route(input.toDS(), init, updateInterval = 1000L,
        maxTtl = 1000000L, ringCap = 1024)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[VectorStreamJob.Routed], _: Long) =>
        batch.collect().foreach(r => routed.synchronized {
          routed += ((r.ev.kind, r.ev.id, r.pid, r.numPartitionsSent)) })
      }.start()
    // four micro-batches: state (model history + ring) must survive each
    input.addData(aEvents.take(1000): _*); q.processAllAvailable()
    input.addData(aEvents.drop(1000): _*); q.processAllAvailable()
    input.addData(bEvents.take(1000): _*); q.processAllAvailable()
    input.addData(bEvents.drop(1000) ++ queryEvents: _*); q.processAllAvailable()
    q.stop()

    val byId = routed.synchronized { routed.toVector }
    val dataPids = byId.filter(_._1 == "i").groupBy(_._2)
      .map { case (id, rs) => id -> rs.map(_._3).toSet }
    val queryPids = byId.filter(_._1 == "q").groupBy(_._2)
      .map { case (id, rs) => id -> rs.map(_._3).toSet }

    // post-drift inserts (ts >= 3000, routed by the B-learned version)
    // spread; the same inserts through the never-refit init model collapse
    val postDrift = bEvents.drop(1000)
    val streamedShare = {
      val counts = new Array[Int](NumParts)
      postDrift.foreach(e => dataPids(e.id).foreach(counts(_) += 1))
      counts.max.toDouble / postDrift.size
    }
    val staticShare = maxShare(postDrift.map(e =>
      init.dataPartitions(e.vec, e.id, e.eventTime)))
    assert(staticShare >= 0.8, s"static routing of drifted data: $staticShare")
    assert(streamedShare <= 0.5, s"streamed post-refit routing: $streamedShare")

    val all = (aEvents ++ bEvents).map(e => (e.id, e.vec))
    val queries = queryEvents.map(e => (e.id, e.vec))
    val recall = recallAt10(all, dataPids, queries, queryPids)
    assert(recall >= 0.9, s"streamed adaptive recall: $recall")

    // completeness contract: numPartitionsSent matches the fan-out size
    byId.filter(_._1 == "q").groupBy(_._2).foreach { case (qid, rs) =>
      assert(rs.map(_._3).toSet.size == rs.head._4, s"fan-out count for $qid")
    }
  }

  test("router restart with a smaller ringCap clamps restored ring state") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val rnd = new java.util.Random(3L)
    val init = AdaptiveLshSfcPartitioner.init(
      Array.fill(100)(gauss(rnd, 0f)), NumParts, Dim, numFamilies = 2,
      numHashes = 4, width = 4.0f, bits = 7, curveName = "hilbert",
      seed = 5L, fromTime = 0L)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ring").toString
    val input = MemoryStream[StreamEvent]
    val routed = scala.collection.mutable.ArrayBuffer.empty[Long]
    def start(cap: Int) = AdaptiveRouter.route(input.toDS(), init,
        updateInterval = 1000L, maxTtl = 1000000L, ringCap = cap)
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[VectorStreamJob.Routed], _: Long) =>
        b.collect().foreach(r => routed.synchronized { routed += r.ev.id })
      }.start()
    val q1 = start(cap = 64)
    input.addData((0 until 100).map(i =>
      StreamEvent("i", i.toLong, gauss(rnd, 0f), i.toLong, 0L, 0)): _*)
    q1.processAllAvailable(); q1.stop()
    // restart from the same checkpoint with HALF the ring capacity — the
    // restored positions must clamp, not crash the first insert
    val q2 = start(cap = 32)
    input.addData((0 until 50).map(i =>
      StreamEvent("i", (200 + i).toLong, gauss(rnd, 0f), (200 + i).toLong, 0L, 0)): _*)
    q2.processAllAvailable(); q2.stop()
    val ids = routed.synchronized { routed.toSet }
    assert((200 until 250).forall(i => ids.contains(i.toLong)),
      "post-restart inserts must be routed")
  }

  test("two-query pipeline (router -> file bridge -> store -> merge): end-to-end under drift") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val rnd = new java.util.Random(5L)
    val aEvents = (0 until 800).map(i =>
      StreamEvent("i", i.toLong, gauss(rnd, 0f), i.toLong, 0L, 0))
    val bEvents = (0 until 800).map(i =>
      StreamEvent("i", (1000 + i).toLong, gauss(rnd, 8f), (1000 + i).toLong, 0L, 0))
    val qrnd = new java.util.Random(23L)
    val queryEvents = (0 until 10).map(i =>
      StreamEvent("q", (10000 + i).toLong, gauss(qrnd, if (i % 2 == 0) 0f else 8f),
        1800L, 1000000L, 5))

    val init = AdaptiveLshSfcPartitioner.init(
      aEvents.take(300).map(_.vec).toArray, NumParts, Dim, numFamilies = 6,
      numHashes = 4, width = 4.0f, bits = 7, curveName = "hilbert",
      seed = 99L, fromTime = 0L)

    val tmp = java.nio.file.Files.createTempDirectory("graft-bridge")
    val input = MemoryStream[StreamEvent]
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long)]
    val (router, search) = AdaptiveRouter.runPipeline(input.toDS(), init,
      updateInterval = 500L, maxTtl = 1000000L, k = 5, graft.Metric.L2,
      bridgeDir = s"$tmp/bridge", checkpointRoot = s"$tmp/ckpt") { merged =>
      merged.collect().foreach(r => results.synchronized {
        results += ((r.getLong(0), r.getInt(1), r.getLong(2))) })
    }
    def drain(): Unit = { router.processAllAvailable(); search.processAllAvailable() }
    input.addData(aEvents: _*); drain()
    input.addData(bEvents ++ queryEvents: _*); drain()
    router.stop(); search.stop()

    val all = (aEvents ++ bEvents).map(e => (e.id, e.vec))
    val got = results.synchronized { results.toVector }.groupBy(_._1)
    // every query completed through the bridge and found candidates whose
    // top-5 matches brute force over the candidate partitions' recall bar
    assert(got.keySet == queryEvents.map(_.id).toSet,
      s"all queries must complete: ${got.keySet}")
    val recalls = queryEvents.map { q =>
      val truth = all.map { case (id, v) => (id, Distances.l2(q.vec, v)) }
        .sortBy { case (id, d) => (d, id) }.take(5).map(_._1).toSet
      val ids = got(q.id).map(_._3).toSet
      ids.intersect(truth).size.toDouble / truth.size
    }
    val recall = recalls.sum / recalls.size
    assert(recall >= 0.9, s"end-to-end pipeline recall: $recall")
  }

  test("DUMP through the bridged pipeline reaches every partition, decodes via stateDumps, and never merges as a query") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val rnd = new java.util.Random(11L)
    val inserts = (0 until 40).map(i =>
      StreamEvent("i", i.toLong, gauss(rnd, 0f), i.toLong, 0L, 0))
    val init = AdaptiveLshSfcPartitioner.init(
      inserts.map(_.vec).toArray, NumParts, Dim, numFamilies = 2,
      numHashes = 4, width = 4.0f, bits = 7, curveName = "hilbert",
      seed = 7L, fromTime = 0L)
    val tmp = java.nio.file.Files.createTempDirectory("graft-bridge-dump")
    val bridge = s"$tmp/bridge"
    val input = MemoryStream[StreamEvent]
    val merged = scala.collection.mutable.ArrayBuffer.empty[Long]
    val (router, search) = AdaptiveRouter.runPipeline(input.toDS(), init,
      updateInterval = 1000000L, maxTtl = 1000000L, k = 5, graft.Metric.L2,
      bridgeDir = bridge, checkpointRoot = s"$tmp/ckpt") { df =>
      df.collect().foreach(r => merged.synchronized { merged += r.getLong(0) })
    }
    // a second reader of the same bridge replays the keyed store and
    // decodes the dump partials the pipeline's merge must skip
    val dumps = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Long)]
    val routed = spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[VectorStreamJob.Routed].schema)
      .parquet(bridge).as[VectorStreamJob.Routed]
    val dumpQ = VectorStreamJob.partials(routed, graft.Metric.L2, 1000000L)
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt/dumps")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[VectorStreamJob.PartialResult], _: Long) =>
        VectorStreamJob.stateDumps(b.toDF()).collect().foreach(r =>
          dumps.synchronized {
            dumps += ((r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))) })
      }.start()
    def drain(): Unit = {
      router.processAllAvailable(); search.processAllAvailable()
      dumpQ.processAllAvailable()
    }
    try {
      input.addData(inserts: _*); drain()
      input.addData(StreamEvent("d", 7L, null, 100L, 0L, 0),
        StreamEvent("s", 9999L, null, 200L, 0L, 0),
        StreamEvent("q", 5000L, inserts(3).vec, 300L, 1000000L, 5)); drain()
    } finally { router.stop(); search.stop(); dumpQ.stop() }

    val dumpRoutes = spark.read.parquet(bridge).as[VectorStreamJob.Routed]
      .collect().filter(_.ev.kind == "s")
    assert(dumpRoutes.map(_.pid).sorted.toSeq == (0 until NumParts),
      s"the dump must reach every partition: ${dumpRoutes.map(_.pid).toList}")
    assert(dumpRoutes.forall(_.numPartitionsSent == -NumParts))
    val got = dumps.synchronized(dumps.toVector)
    assert(got.nonEmpty && got.forall(_._1 == 9999L))
    assert(got.map(_._3).distinct.sorted ==
      (0 until 40).filter(_ != 7).map(_.toLong),
      s"live set mismatch: ${got.map(_._3).distinct.sorted}")
    assert(got.forall(r => r._4 == r._3), "stored event times survive")
    assert(merged.synchronized(merged.toSet) == Set(5000L),
      s"only the query merges, never the dump: $merged")
  }
}
