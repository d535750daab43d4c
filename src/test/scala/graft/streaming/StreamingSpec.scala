package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.Metric
import graft.functions.Distances
import graft.partitioners.SimplePartitioner
import graft.streaming.VectorStreamJob._

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder().master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false").getOrCreate()

  private def vec(seed: Int, dim: Int = 8): Array[Float] = {
    val r = new java.util.Random(seed)
    Array.fill(dim)(r.nextGaussian().toFloat)
  }

  test("streaming insert/delete/query matches a replayed exact store") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[StreamEvent]
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Double)]
    val q = VectorStreamJob.run(input.toDS(), SimplePartitioner(4), k = 5, Metric.L2,
      maxTtl = 1000000L) { merged =>
      merged.collect().foreach(r =>
        results.synchronized { results += ((r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))) })
    }

    // batch 1: 50 inserts then a query at t=100
    val inserts = (0 until 50).map(i => StreamEvent("i", i.toLong, vec(i), i.toLong, 0L, 0))
    input.addData(inserts :+ StreamEvent("q", 1000L, vec(3), 100L, 1000000L, 5): _*)
    q.processAllAvailable()

    // oracle: exact top-5 over the 50 inserts
    val truth1 = (0 until 50).map(i => (i.toLong, Distances.l2(vec(3), vec(i))))
      .sortBy { case (id, d) => (d, id) }.take(5)
    val got1 = results.synchronized { results.filter(_._1 == 1000L).sortBy(_._2) }
    assert(got1.map(_._3) == truth1.map(_._1), s"got $got1 want $truth1")

    // batch 2: delete best hit (id 3), upsert id 7 onto the query point,
    // then re-query
    input.addData(
      StreamEvent("d", 3L, null, 200L, 0L, 0),
      StreamEvent("i", 7L, vec(3), 201L, 0L, 0),
      StreamEvent("q", 1001L, vec(3), 300L, 1000000L, 5))
    q.processAllAvailable()
    val got2 = results.synchronized { results.filter(_._1 == 1001L).sortBy(_._2) }
    assert(!got2.map(_._3).contains(3L), "deleted id must not appear")
    assert(got2.head._3 == 7L, s"upserted id 7 at dist 0 must rank first: $got2")

    // batch 3: freshness — query with small ttl sees only recent inserts
    input.addData(
      StreamEvent("i", 900L, vec(90), 10000L, 0L, 0),
      StreamEvent("q", 1002L, vec(90), 10005L, 10L, 5))
    q.processAllAvailable()
    val got3 = results.synchronized { results.filter(_._1 == 1002L) }
    assert(got3.map(_._3).toSet == Set(900L), s"ttl window must exclude old: $got3")
    q.stop()
  }

  test("HNSW hot-tier state: replay equivalence incl. deletes across batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[StreamEvent]
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long)]
    val q = VectorStreamJob.run(input.toDS(), SimplePartitioner(2), k = 5,
      Metric.L2, maxTtl = 1000000L, useHnsw = true) { merged =>
      merged.collect().foreach(r => results.synchronized {
        results += ((r.getLong(0), r.getInt(1), r.getLong(2))) })
    }
    val inserts = (0 until 50).map(i => StreamEvent("i", i.toLong, vec(i), i.toLong, 0L, 0))
    input.addData(inserts: _*)
    q.processAllAvailable() // state must survive the batch boundary
    input.addData(
      StreamEvent("d", 3L, null, 200L, 0L, 0),
      StreamEvent("q", 2000L, vec(3), 300L, 1000000L, 5))
    q.processAllAvailable()
    val got = results.synchronized { results.filter(_._1 == 2000L).sortBy(_._2).map(_._3) }
    val truth = (0 until 50).filter(_ != 3)
      .map(i => (i.toLong, Distances.l2(vec(3), vec(i))))
      .sortBy { case (id, d) => (d, id) }.take(5).map(_._1)
    assert(got == truth, s"got $got want $truth")
    q.stop()
  }

  test("LSH fan-out: completeness counting over partial partition probes") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.partitioners.LshPartitioner
    val model = LshPartitioner.seeded(8, 8, 3, 2, 4.0f, 38324L)
    val input = MemoryStream[StreamEvent]
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = VectorStreamJob.run(input.toDS(), model, k = 5, Metric.L2,
      maxTtl = 1000000L) { merged =>
      merged.collect().foreach(r => results.synchronized {
        results += ((r.getLong(0), r.getLong(2))) })
    }
    val vecs = (0 until 200).map(i => StreamEvent("i", i.toLong, vec(i), i.toLong, 0L, 0))
    input.addData(vecs :+ StreamEvent("q", 900L, vec(17), 500L, 1000000L, 5): _*)
    q.processAllAvailable()
    val got = results.synchronized { results.filter(_._1 == 900L).map(_._2) }
    // query must complete (numPartitionsSent partials merged) and find its
    // own vector (identical vector shares every probed partition)
    assert(got.nonEmpty, "query did not complete")
    assert(got.contains(17L))
    q.stop()
  }

  test("checkpoint recovery: killed query restores state; HNSW graph rebuilt from state") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[StreamEvent]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long)]
    def start() = VectorStreamJob.run(input.toDS(), SimplePartitioner(2), k = 5,
      Metric.L2, maxTtl = 1000000L, useHnsw = true, checkpointDir = Some(ckpt)) { merged =>
      merged.collect().foreach(r => results.synchronized {
        results += ((r.getLong(0), r.getInt(1), r.getLong(2))) })
    }
    val q1 = start()
    input.addData((0 until 50).map(i =>
      StreamEvent("i", i.toLong, vec(i), i.toLong, 0L, 0)): _*)
    q1.processAllAvailable()
    q1.stop()
    // kill: drop every cached graph (executor loss) — recovery must
    // rebuild the index from the checkpointed state, not lose the corpus
    VectorStreamJob.IndexCache.invalidateAll()
    val q2 = start()
    input.addData(
      StreamEvent("d", 3L, null, 200L, 0L, 0),
      StreamEvent("q", 3000L, vec(3), 300L, 1000000L, 5))
    q2.processAllAvailable()
    val got = results.synchronized { results.filter(_._1 == 3000L).sortBy(_._2).map(_._3) }
    val truth = (0 until 50).filter(_ != 3)
      .map(i => (i.toLong, Distances.l2(vec(3), vec(i))))
      .sortBy { case (id, d) => (d, id) }.take(5).map(_._1)
    assert(got == truth, s"post-recovery results must replay-match: got $got want $truth")
    q2.stop()
  }

  test("tombstones supersede late inserts and age out; state stays bounded under churn") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[StreamEvent]
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = VectorStreamJob.run(input.toDS(), SimplePartitioner(2), k = 10,
      Metric.L2, maxTtl = 250L) { merged =>
      merged.collect().foreach(r => results.synchronized {
        results += ((r.getLong(0), r.getLong(2))) })
    }
    // batch 1: insert ids 0..9 (ts 0..9), delete them all (ts 20..29)
    input.addData(((0 until 10).map(i =>
      StreamEvent("i", i.toLong, vec(i), i.toLong, 0L, 0)) ++
      (0 until 10).map(i =>
        StreamEvent("d", i.toLong, null, 20L + i, 0L, 0))): _*)
    q.processAllAvailable()
    // batch 2: a LATE insert of id 5 stamped before its delete (ts 15 < 25)
    // must be suppressed by the versioned tombstone, not resurrected
    input.addData(
      StreamEvent("i", 5L, vec(5), 15L, 0L, 0),
      StreamEvent("i", 50L, vec(50), 30L, 0L, 0),
      StreamEvent("q", 9000L, vec(5), 40L, 200L, 10))
    q.processAllAvailable()
    val got = results.synchronized { results.filter(_._1 == 9000L).map(_._2).toSet }
    assert(!got.contains(5L), s"tombstoned id 5 must stay dead: $got")
    assert(got.contains(50L))

    // churn: stable live set, advancing time — state (live + tombstones)
    // must stay bounded because both age out on the retention floor
    def memUsed(): Long =
      q.lastProgress.stateOperators.apply(0).memoryUsedBytes
    (0 until 6).foreach { b =>
      val base = 1000L + b * 100
      input.addData(((0 until 100).map(i =>
        StreamEvent("i", base + i, vec(i), base + i, 0L, 0)) ++
        (0 until 100).map(i =>
          StreamEvent("d", base - 100 + i, null, base + i, 0L, 0))): _*)
      q.processAllAvailable()
    }
    val early = memUsed()
    (0 until 6).foreach { b =>
      val base = 1600L + b * 100
      input.addData(((0 until 100).map(i =>
        StreamEvent("i", base + i, vec(i), base + i, 0L, 0)) ++
        (0 until 100).map(i =>
          StreamEvent("d", base - 100 + i, null, base + i, 0L, 0))): _*)
      q.processAllAvailable()
    }
    val late = memUsed()
    assert(late <= early * 2,
      s"state must not grow under churn (write-only tombstone leak): $early -> $late")
    q.stop()
  }

  test("delete-only stream tail: tombstones age on the delete clock (no unbounded growth)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[StreamEvent]
    val q = VectorStreamJob.run(input.toDS(), SimplePartitioner(2), k = 5,
      Metric.L2, maxTtl = 250L) { merged => merged.collect(); () }
    // seed a live set; the insert clock freezes here (maxTs ~ 1049)
    input.addData((0 until 50).map(i =>
      StreamEvent("i", i.toLong, vec(i), 1000L + i, 0L, 0)): _*)
    q.processAllAvailable()
    def memUsed(): Long =
      q.lastProgress.stateOperators.apply(0).memoryUsedBytes
    // pure delete tail: distinct ids, advancing delete event times — with
    // an insert-only retention clock every one of these tombstones would
    // be kept forever
    def deleteBatches(from: Int, n: Int): Unit = (0 until n).foreach { b =>
      val base = 2000L + (from + b) * 100
      input.addData((0 until 100).map(i =>
        StreamEvent("d", 100000L + base + i, null, base + i, 0L, 0)): _*)
      q.processAllAvailable()
    }
    deleteBatches(0, 4)
    val early = memUsed()
    deleteBatches(4, 16)
    val late = memUsed()
    assert(late <= early * 2,
      s"tombstones must age out on the delete clock: $early -> $late")
    q.stop()
  }

  test("dropLateQueries: stale queries are dropped only when opted in (reference fidelity)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    def runCase(drop: Boolean): Set[Long] = {
      val input = MemoryStream[StreamEvent]
      val results = scala.collection.mutable.ArrayBuffer.empty[Long]
      val q = VectorStreamJob.run(input.toDS(), SimplePartitioner(2), k = 5,
        Metric.L2, maxTtl = 1000000L, dropLateQueries = drop) { merged =>
        merged.collect().foreach(r => results.synchronized { results += r.getLong(0) })
      }
      input.addData((0 until 20).map(i =>
        StreamEvent("i", i.toLong, vec(i), i.toLong, 0L, 0)) :+
        StreamEvent("q", 500L, vec(1), 300L, 100000L, 5): _*)
      q.processAllAvailable()
      // batch 2: a query with event time BEFORE the last answered query
      input.addData(StreamEvent("q", 501L, vec(2), 100L, 100000L, 5))
      q.processAllAvailable()
      q.stop()
      results.synchronized { results.toSet }
    }
    assert(runCase(drop = false) == Set(500L, 501L), "default answers late queries")
    assert(runCase(drop = true) == Set(500L), "opt-in drops the stale query")
  }

  test("an insert at event time 0 is stored (missing tombstone != tombstone at ts 0)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[StreamEvent]
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = VectorStreamJob.run(input.toDS(), SimplePartitioner(2), k = 1,
      Metric.L2, maxTtl = 1000000L) { merged =>
      merged.collect().foreach(r => results.synchronized {
        results += ((r.getLong(0), r.getLong(2))) })
    }
    input.addData(
      StreamEvent("i", 42L, vec(42), 0L, 0L, 0),
      StreamEvent("q", 8000L, vec(42), 10L, 1000L, 1))
    q.processAllAvailable()
    val got = results.synchronized { results.filter(_._1 == 8000L).map(_._2) }
    assert(got == Seq(42L), s"the ts=0 insert must be searchable: $got")
    q.stop()
  }

  test("a late insert with an older event time never overwrites a newer version") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[StreamEvent]
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val q = VectorStreamJob.run(input.toDS(), SimplePartitioner(2), k = 1,
      Metric.L2, maxTtl = 1000000L) { merged =>
      merged.collect().foreach(r => results.synchronized {
        results += ((r.getLong(0), r.getLong(2), r.getDouble(3))) })
    }
    input.addData(StreamEvent("i", 5L, vec(1), 100L, 0L, 0))
    q.processAllAvailable()
    // batch 2: stale duplicate of id 5 at an older ts with different data
    input.addData(
      StreamEvent("i", 5L, vec(99), 50L, 0L, 0),
      StreamEvent("q", 7000L, vec(1), 200L, 100000L, 1))
    q.processAllAvailable()
    val got = results.synchronized { results.filter(_._1 == 7000L) }
    assert(got.map(_._2) == Seq(5L) && got.head._3 == 0.0,
      s"query at the NEWER vector must still find it at distance 0: $got")
    q.stop()
  }

  test("a late delete with an older event time never removes a newer version") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[StreamEvent]
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val q = VectorStreamJob.run(input.toDS(), SimplePartitioner(2), k = 1,
      Metric.L2, maxTtl = 1000000L) { merged =>
      merged.collect().foreach(r => results.synchronized {
        results += ((r.getLong(0), r.getLong(2), r.getDouble(3))) })
    }
    input.addData(StreamEvent("i", 5L, vec(1), 100L, 0L, 0))
    q.processAllAvailable()
    // batch 2: a LATE delete of id 5 stamped BEFORE the stored version —
    // Tomb semantics: it supersedes inserts at ts <= 50 only, so the
    // ts=100 version must survive
    input.addData(
      StreamEvent("d", 5L, null, 50L, 0L, 0),
      StreamEvent("q", 7100L, vec(1), 200L, 100000L, 1))
    q.processAllAvailable()
    val got1 = results.synchronized { results.filter(_._1 == 7100L) }
    assert(got1.map(_._2) == Seq(5L) && got1.head._3 == 0.0,
      s"late delete must not remove the newer version: $got1")
    // batch 3: the tombstone max was still recorded — an even older
    // duplicate insert stays superseded; a delete at a newer ts works
    input.addData(StreamEvent("i", 6L, vec(2), 120L, 0L, 0))
    q.processAllAvailable()
    input.addData(
      StreamEvent("d", 5L, null, 150L, 0L, 0),
      StreamEvent("q", 7101L, vec(1), 300L, 100000L, 1))
    q.processAllAvailable()
    val got2 = results.synchronized { results.filter(_._1 == 7101L) }
    assert(got2.map(_._2) == Seq(6L),
      s"a delete newer than the stored version must remove it: $got2")
    q.stop()
  }

  test("far-future sentinel query times do not advance the eviction clock") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[StreamEvent]
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = VectorStreamJob.run(input.toDS(), SimplePartitioner(2), k = 10,
      Metric.L2, maxTtl = 100L) { merged =>
      merged.collect().foreach(r => results.synchronized {
        results += ((r.getLong(0), r.getLong(2))) })
    }
    // a query stamped Long.MaxValue/8 (Bench's own sentinel) lands in the
    // same batch as the insert; with the clock advanced by queries, the
    // eviction floor would jump to ~MaxValue/8 and wipe the live set
    input.addData(
      StreamEvent("i", 1L, vec(1), 0L, 0L, 0),
      StreamEvent("q", 9000L, vec(1), Long.MaxValue / 8, Long.MaxValue / 8, 1))
    q.processAllAvailable()
    input.addData(
      StreamEvent("i", 2L, vec(2), 10L, 0L, 0),
      StreamEvent("q", 9001L, vec(1), 20L, 100L, 10))
    q.processAllAvailable()
    val got = results.synchronized { results.filter(_._1 == 9001L).map(_._2).toSet }
    assert(got == Set(1L, 2L),
      s"the sentinel-time query must not evict live inserts: $got")
    q.stop()
  }

  test("mergePartials stamps per-query latency; Recall.latency aggregates it") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[StreamEvent]
    val latencies = scala.collection.mutable.ArrayBuffer.empty[Double]
    val q = VectorStreamJob.run(input.toDS(), SimplePartitioner(2), k = 3,
      Metric.L2, maxTtl = 1000000L) { merged =>
      val stats = graft.ops.Recall.latency(merged).collect()(0)
      if (stats.getLong(3) > 0) latencies.synchronized { latencies += stats.getDouble(0) }
    }
    input.addData((0 until 10).map(i =>
      StreamEvent("i", i.toLong, vec(i), i.toLong, 0L, 0)) :+
      StreamEvent("q", 99L, vec(1), 100L, 100000L, 3): _*)
    q.processAllAvailable()
    q.stop()
    val got = latencies.synchronized { latencies.toVector }
    assert(got.nonEmpty && got.forall(l => l >= 0 && l < 600000),
      s"latency p50 must be a sane wall-clock ms value: $got")
  }

  test("cross-batch merge: a fan-out split across micro-batches still completes") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[PartialResult]
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Double)]
    val q = VectorStreamJob.mergePartialsStateful(input.toDS(), k = 3)
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[SearchResult], _: Long) =>
        b.collect().foreach(r => results.synchronized {
          results += ((r.qid, r.rn, r.id, r.dist)) })
      }.start()
    // batch 1: only partition 0 of a 2-way fan-out reports — the per-batch
    // merge would drop this query forever (np != sent in every batch)
    input.addData(PartialResult(7L, 0, 2, Array(1L, 2L), Array(0.1, 0.2),
      100L, System.currentTimeMillis()))
    q.processAllAvailable()
    assert(results.synchronized(results.isEmpty),
      "incomplete fan-out must not emit")
    // batch 2: partition 1 reports (with an id overlapping partition 0's
    // list — cross-partition dedup must hold across the batch boundary)
    input.addData(PartialResult(7L, 1, 2, Array(3L, 2L), Array(0.05, 0.2),
      100L, System.currentTimeMillis()))
    q.processAllAvailable()
    val got = results.synchronized(results.sortBy(_._2))
    assert(got.map(x => (x._1, x._2, x._3)) ==
      Seq((7L, 1, 3L), (7L, 2, 1L), (7L, 3, 2L)),
      s"merged top-k across batches: $got")
    assert(got.forall(x => x._4 >= 0.0), "latency must be stamped")
    q.stop()
  }

  test("crossBatchMerge pipeline: chained stateful operators answer like the per-batch path") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[StreamEvent]
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long)]
    val q = VectorStreamJob.run(input.toDS(), SimplePartitioner(4), k = 5,
      Metric.L2, maxTtl = 1000000L, crossBatchMerge = true) { merged =>
      merged.collect().foreach(r => results.synchronized {
        results += ((r.getLong(0), r.getInt(1), r.getLong(2))) })
    }
    val inserts = (0 until 50).map(i => StreamEvent("i", i.toLong, vec(i), i.toLong, 0L, 0))
    input.addData(inserts :+ StreamEvent("q", 1000L, vec(3), 100L, 1000000L, 5): _*)
    q.processAllAvailable()
    val truth = (0 until 50).map(i => (i.toLong, Distances.l2(vec(3), vec(i))))
      .sortBy { case (id, d) => (d, id) }.take(5).map(_._1)
    val got = results.synchronized { results.filter(_._1 == 1000L).sortBy(_._2).map(_._3) }
    assert(got == truth, s"got $got want $truth")
    q.stop()
  }

  test("DUMP element: state dump reconstructs the live set and never merges as a query") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[StreamEvent]
    val dumps = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Long)]
    val merged = scala.collection.mutable.ArrayBuffer.empty[Long]
    val routed = VectorStreamJob.route(input.toDS(), SimplePartitioner(4))
    val q = VectorStreamJob.partials(routed, Metric.L2, maxTtl = 1000000L)
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[PartialResult], _: Long) =>
        val df = b.toDF().cache()
        VectorStreamJob.stateDumps(df).collect().foreach(r => dumps.synchronized {
          dumps += ((r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))) })
        VectorStreamJob.mergePartials(df, 5).collect()
          .foreach(r => merged.synchronized { merged += r.getLong(0) })
        df.unpersist()
        ()
      }.start()
    val inserts = (0 until 40).map(i => StreamEvent("i", i.toLong, vec(i), i.toLong, 0L, 0))
    input.addData(inserts: _*)
    q.processAllAvailable()
    input.addData(
      StreamEvent("d", 7L, null, 100L, 0L, 0),
      StreamEvent("s", 9999L, null, 200L, 0L, 0))
    q.processAllAvailable()
    val got = dumps.synchronized(dumps.toVector)
    assert(got.nonEmpty, "dump must emit")
    assert(got.forall(_._1 == 9999L))
    // the dump reconstructs the live set exactly: 40 inserts minus the delete
    assert(got.map(_._3).sorted == (0 until 40).filter(_ != 7).map(_.toLong),
      s"live set mismatch: ${got.map(_._3).sorted}")
    // stored event times survive, and the dump never reaches the query merge
    assert(got.forall(r => r._4 == r._3))
    assert(merged.synchronized(merged.isEmpty),
      "a dump must never satisfy the query-merge completeness check")
    q.stop()
  }

  test("state eviction drops entries older than maxTtl") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[StreamEvent]
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = VectorStreamJob.run(input.toDS(), SimplePartitioner(2), k = 10, Metric.L2,
      maxTtl = 100L) { merged =>
      merged.collect().foreach(r => results.synchronized {
        results += ((r.getLong(0), r.getLong(2))) })
    }
    input.addData(StreamEvent("i", 1L, vec(1), 0L, 0L, 0))
    q.processAllAvailable()
    // advance time far beyond maxTtl; id 1 must be evicted from state
    input.addData(StreamEvent("i", 2L, vec(2), 10000L, 0L, 0))
    q.processAllAvailable()
    // a query with a huge ttl still cannot see id 1 (it left the store)
    input.addData(StreamEvent("q", 500L, vec(1), 10001L, 100000L, 10))
    q.processAllAvailable()
    val got = results.synchronized { results.filter(_._1 == 500L).map(_._2).toSet }
    assert(got == Set(2L), s"evicted id 1 must be gone: $got")
    q.stop()
  }

  test("tapped merge: a fan-out straddling a trigger completes WHILE flush+delete partials seal to cold in the same job") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val cold = java.nio.file.Files.createTempDirectory("graft-tapped").toString
    val input = MemoryStream[PartialResult]
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Double)]
    val lifecycle = new VectorStreamJob.Lifecycle(spark, cold, Metric.L2)
    val q = VectorStreamJob.mergePartialsStatefulTapped(input.toDS(), k = 3)
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[MergedRow], bid: Long) =>
        // run()'s composed trigger: one collect, then the driver-side
        // sink rows and lifecycle
        val rows = b.collect()
        rows.flatMap(r => Option(r.res)).foreach(r => results.synchronized {
          results += ((r.qid, r.rn, r.id, r.dist)) })
        lifecycle(rows.flatMap(r => Option(r.pass)).toSeq, bid)
      }.start()
    val now = System.currentTimeMillis()
    // trigger 1: partition 0 of a 2-way fan-out reports, AND partition 0
    // TTL-flushes two rows to cold — in the same micro-batch
    input.addData(
      PartialResult(7L, 0, 2, Array(1L, 2L), Array(0.1, 0.2), 100L, now),
      PartialResult(-1L, 0, FlushSent, Array(10L, 11L),
        Array(10.0, 11.0), 100L, now, Array(vec(10), vec(11))))
    q.processAllAvailable()
    assert(results.synchronized(results.isEmpty),
      "incomplete fan-out must not emit")
    val cat1 = graft.store.ColdTier.catalog(spark, cold)
    assert(cat1.map(_.count).sum == 2L,
      s"trigger-1 flush must seal before the query completes: ${cat1.toList}")
    // trigger 2: partition 1 completes the query (overlapping id 2 —
    // cross-trigger dedup), partition 1 flushes another row, and a
    // delete-log tombstone for an already-flushed id rides along
    input.addData(
      PartialResult(7L, 1, 2, Array(3L, 2L), Array(0.05, 0.2), 100L,
        System.currentTimeMillis()),
      PartialResult(-1L, 1, FlushSent, Array(12L), Array(12.0), 100L,
        System.currentTimeMillis(), Array(vec(12))),
      PartialResult(10L, 1, DeleteLogSent, Array(10L), Array(50.0), 50L,
        System.currentTimeMillis()))
    q.processAllAvailable()
    q.stop()
    val got = results.synchronized(results.sortBy(_._2))
    assert(got.map(x => (x._1, x._2, x._3)) ==
      Seq((7L, 1, 3L), (7L, 2, 1L), (7L, 3, 2L)),
      s"merged top-k across triggers: $got")
    // both triggers' flushes are sealed segments; the delete log shadows
    // the tombstoned id in the cold search
    val cat = graft.store.ColdTier.catalog(spark, cold)
    assert(cat.map(_.count).sum == 3L, s"cold rows: ${cat.toList}")
    val queries = Seq((1L, vec(10), 10000L, 100000L))
      .toDF("qid", "qv", "qtime", "ttl")
    val coldIds = graft.store.ColdTier.search(spark, cold, queries, 3,
        Metric.L2, firstWaveFraction = 1.0, terminationFactor = 1.0)
      .collect().map(_.getLong(2)).toSet
    assert(coldIds == Set(11L, 12L),
      s"tombstoned id 10 must be shadowed: $coldIds")
  }

  /** Spark jobs per streaming batch id, read from the listener bus.
   * [[settle]] runs a marker job and waits for it: the bus delivers
   * events in order, so by then every earlier job has been counted. */
  private final class BatchJobs extends org.apache.spark.scheduler.SparkListener {
    val perBatch = new java.util.concurrent.ConcurrentHashMap[Long, Integer]()
    @volatile private var markers = 0
    override def onJobStart(
        e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      Option(e.properties).foreach { p =>
        if (p.getProperty("graft.test.marker") != null) markers += 1
        else Option(p.getProperty("streaming.sql.batchId")).foreach(b =>
          perBatch.merge(b.toLong, 1, (x, y) => x + y))
      }
    def apply(batchId: Long): Int =
      Option(perBatch.get(batchId)).map(_.intValue).getOrElse(0)
    def settle(): Unit = {
      val want = markers + 1
      val sc = spark.sparkContext
      sc.setLocalProperty("graft.test.marker", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.test.marker", null)
      val deadline = System.currentTimeMillis() + 60000L
      while (markers < want && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(markers >= want, "listener bus did not deliver the marker job")
    }
  }

  test("composed trigger job budget: a trigger with inserts, deletes and a query runs 2 Spark jobs, a sealing trigger at most 4") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val cold = java.nio.file.Files.createTempDirectory("graft-jobs").toString
    val input = MemoryStream[StreamEvent]
    // batch id -> the merged rows its sink saw (collected driver-side)
    val answered = new java.util.concurrent.ConcurrentHashMap[Long, Seq[Long]]()
    val q = VectorStreamJob.run(input.toDS(), SimplePartitioner(2), k = 5,
      Metric.L2, maxTtl = 1000L, crossBatchMerge = true,
      coldDir = Some(cold)) { merged =>
      val bid = spark.sparkContext.getLocalProperty("streaming.sql.batchId")
      val ids = merged.collect().sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
      if (ids.nonEmpty) answered.put(bid.toLong, ids)
    }
    val jobs = new BatchJobs
    spark.sparkContext.addSparkListener(jobs)
    try {
      // trigger A: epoch 0, two deletes and a query — nothing evicts
      input.addData((0 until 20).map(i =>
        StreamEvent("i", i.toLong, vec(i), i.toLong, 0L, 0)) ++ Seq(
        StreamEvent("d", 3L, null, 20L, 0L, 0),
        StreamEvent("d", 4L, null, 21L, 0L, 0),
        StreamEvent("q", 9000L, vec(5), 22L, 1000L, 5)): _*)
      q.processAllAvailable()
      // triggers B and C: each epoch evicts the previous one (the first
      // seal creates the catalog, the second appends to it); deletes ride
      // along in both
      Seq(1, 2).foreach { e =>
        input.addData((0 until 20).map(i => StreamEvent("i", 100L * e + i,
            vec(100 * e + i), 5000L * e + i, 0L, 0)) :+
          StreamEvent("d", 100L * (e - 1) + 7, null, 5000L * e + 30, 0L, 0): _*)
        q.processAllAvailable()
      }
      jobs.settle()
    } finally {
      q.stop()
      spark.sparkContext.removeSparkListener(jobs)
    }
    import scala.jdk.CollectionConverters._
    val truth = (0 until 20).filterNot(i => i == 3 || i == 4)
      .map(i => (i.toLong, Distances.l2(vec(5), vec(i))))
      .sortBy { case (id, d) => (d, id) }.take(5).map(_._1)
    assert(answered.values.asScala.toSeq == Seq(truth),
      s"one trigger answers the query exactly: $answered")
    val queryBatch = answered.keySet.asScala.head
    assert(jobs(queryBatch) == 2,
      s"collect + delete-log write, nothing else: ${jobs.perBatch}")
    val sealed_ = graft.store.ColdTier.catalog(spark, cold).map(_.segmentId)
    assert(sealed_.length == 2, s"two sealing triggers: ${sealed_.toList}")
    sealed_.foreach(b => assert(jobs(b) <= 4,
      s"sealing trigger $b: collect + segment write + catalog append + " +
        s"delete log at most: ${jobs.perBatch}"))
  }

  test("a streaming-sealed segment carries the stats seal(DataFrame) computes over the same rows, and every row lies within its radius") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val cold = java.nio.file.Files.createTempDirectory("graft-stats").toString
    val input = MemoryStream[StreamEvent]
    // the per-batch merge topology: its trigger collects the partials once
    val q = VectorStreamJob.run(input.toDS(), SimplePartitioner(2), k = 5,
      Metric.L2, maxTtl = 1000L, coldDir = Some(cold)) { merged => merged.collect(); () }
    input.addData((0 until 60).map(i => StreamEvent("i", i.toLong,
      vec(i, dim = 16), 10L + i, 0L, 0, (i % 3).toString)): _*)
    q.processAllAvailable()
    // each partition's eviction clock advances on its own inserts
    input.addData((0 until 10).map(i => StreamEvent("i", 1000L + i,
      vec(1000 + i, dim = 16), 9000L + i, 0L, 0)): _*)
    q.processAllAvailable()
    q.stop()
    val seg = graft.store.ColdTier.catalog(spark, cold).toSeq match {
      case Seq(s) => s
      case other => fail(s"expected one sealed segment: ${other.toList}")
    }
    val rows = spark.read.parquet(seg.path)
      .select("id", "vec", "eventTime", "attr")
    val ref = graft.store.ColdTier.seal(rows,
      java.nio.file.Files.createTempDirectory("graft-stats-ref").toString,
      seg.segmentId)
    assert((seg.count, seg.minTs, seg.maxTs) == ((60L, 10L, 69L)))
    assert((seg.count, seg.minTs, seg.maxTs) == ((ref.count, ref.minTs, ref.maxTs)))
    assert(seg.centroid.length == 16 && ref.centroid.length == 16)
    seg.centroid.zip(ref.centroid).foreach { case (a, b) =>
      assert(math.abs(a - b) <= 1e-6, s"centroid $a vs $b") }
    assert(math.abs(seg.radius - ref.radius) <= 1e-6,
      s"radius ${seg.radius} vs ${ref.radius}")
    rows.select("vec").as[Array[Float]].collect().foreach { v =>
      assert(math.sqrt(Distances.l2(v, seg.centroid)) <= seg.radius) }
  }

  test("full operating mode in ONE job: crossBatchMerge + hot->cold flush + compaction, results bit-equal to exact truth") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val cold = java.nio.file.Files.createTempDirectory("graft-fullmode").toString
    val input = MemoryStream[StreamEvent]
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long)]
    val q = VectorStreamJob.run(input.toDS(), SimplePartitioner(2), k = 5,
      Metric.L2, maxTtl = 1000L, crossBatchMerge = true,
      coldDir = Some(cold), compactEvery = 4, compactTargetRows = 1000L,
      indexAtFlush = true) { merged =>
      merged.collect().foreach(r => results.synchronized {
        results += ((r.getLong(0), r.getInt(1), r.getLong(2))) })
    }
    // epoch 0: ids 0..19 at ts 0..19; delete id 5 while hot
    input.addData((0 until 20).map(i =>
      StreamEvent("i", i.toLong, vec(i), i.toLong, 0L, 0)): _*)
    q.processAllAvailable()
    input.addData(StreamEvent("d", 5L, null, 30L, 0L, 0))
    q.processAllAvailable()
    // epoch 1 at ts 5000.. -> eviction floor retires epoch 0 to cold
    input.addData((0 until 20).map(i =>
      StreamEvent("i", 100L + i, vec(100 + i), 5000L + i, 0L, 0)): _*)
    q.processAllAvailable()
    // epoch 2 retires epoch 1; a hot query rides along and must complete
    // through the STATEFUL merge in the same job that is flushing
    input.addData((0 until 20).map(i =>
      StreamEvent("i", 200L + i, vec(200 + i), 10000L + i, 0L, 0)) :+
      StreamEvent("q", 9000L, vec(205), 10050L, 1000L, 5): _*)
    q.processAllAvailable()
    // post-flush delete: only the logged tombstone can shadow id 7 in cold
    input.addData(StreamEvent("d", 7L, null, 10010L, 0L, 0))
    q.processAllAvailable()
    // land on bid % compactEvery == 0 -> compaction in the same job
    input.addData(StreamEvent("i", 300L, vec(300), 10020L, 0L, 0))
    q.processAllAvailable()
    q.stop()

    // the hot query completed via the cross-batch merge, bit-equal to
    // the exact top-5 over its maxTtl-clamped window (epoch 2, ts>=9050)
    val hotTruth = (0 until 20).map(i => (200L + i,
        Distances.l2(vec(205), vec(200 + i))))
      .sortBy { case (id, d) => (d, id) }.take(5).map(_._1).toList
    val hot = results.synchronized {
      results.filter(_._1 == 9000L).sortBy(_._2).map(_._3).toList }
    assert(hot == hotTruth, s"hot query: $hot != $hotTruth")

    // cold tier: epoch 0 minus hot-deleted 5, plus epoch 1; compacted;
    // post-flush delete of 7 applied physically by the compaction
    val cat = graft.store.ColdTier.catalog(spark, cold)
    assert(cat.length == 1, s"compaction should leave one segment: ${cat.toList}")
    assert(cat.head.count == 38L)
    // an old window answered bit-exactly from cold, through the sidecar
    // built at flush (survives compaction) — zero-corpus-IO serving path
    val queries = Seq((1L, vec(3), 2000L, 2000L)).toDF("qid", "qv", "qtime", "ttl")
    val coldTruth = (0 until 20).filterNot(i => i == 5 || i == 7)
      .map(i => (i.toLong, Distances.l2(vec(3), vec(i))))
      .sortBy { case (id, d) => (d, id) }.take(5).map(_._1).toList
    val gotCold = graft.store.ColdTier.search(spark, cold, queries, 5,
        Metric.L2, firstWaveFraction = 1.0, terminationFactor = 1.0)
      .collect().sortBy(_.getInt(1)).map(_.getLong(2)).toList
    assert(gotCold == coldTruth, s"cold search $gotCold != exact $coldTruth")
    assert(graft.store.ColdTier.indexSealed(spark, cold, cat.head.segmentId))
    val gotFast = graft.store.ColdTier.searchIndexedFast(spark, cold,
        queries, 5, Metric.L2, efSearch = 64)
      .collect().sortBy(_.getInt(1)).map(_.getLong(2)).toList
    assert(gotFast == coldTruth, s"fast path $gotFast != exact $coldTruth")
  }

  test("streaming filtered kNN: hot filtered queries are exact, attrs " +
      "flush to cold, and a filtered query over hot + cold bit-matches " +
      "the batch filtered twin") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val cold = java.nio.file.Files.createTempDirectory("graft-fltstream")
      .toString
    val input = MemoryStream[StreamEvent]
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Double)]
    val q = VectorStreamJob.run(input.toDS(), SimplePartitioner(2), k = 5,
      Metric.L2, maxTtl = 1000L, coldDir = Some(cold)) { merged =>
      merged.collect().foreach(r => results.synchronized {
        results += ((r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))) })
    }
    def attrOf(i: Int): String = (i % 3).toString
    // epoch 0: ids 0..29 with attrs; one FILTERED and one UNFILTERED
    // query in the same batch — the filtered one must see only attr "1"
    // rows, the unfiltered one everything (null attr = classic surface)
    input.addData((0 until 30).map(i =>
      StreamEvent("i", i.toLong, vec(i), i.toLong, 0L, 0, attrOf(i))) ++
      Seq(StreamEvent("q", 5000L, vec(7), 50L, 1000000L, 5, "1"),
        StreamEvent("q", 5001L, vec(7), 50L, 1000000L, 5)): _*)
    q.processAllAvailable()
    val fltTruth0 = (0 until 30).filter(_ % 3 == 1)
      .map(i => (i.toLong, Distances.l2(vec(7), vec(i))))
      .sortBy { case (id, d) => (d, id) }.take(5).map(_._1).toList
    val allTruth0 = (0 until 30)
      .map(i => (i.toLong, Distances.l2(vec(7), vec(i))))
      .sortBy { case (id, d) => (d, id) }.take(5).map(_._1).toList
    val gotFlt0 = results.synchronized {
      results.filter(_._1 == 5000L).sortBy(_._2).map(_._3).toList }
    val gotAll0 = results.synchronized {
      results.filter(_._1 == 5001L).sortBy(_._2).map(_._3).toList }
    assert(gotFlt0 == fltTruth0,
      s"hot filtered query: $gotFlt0 != $fltTruth0")
    assert(gotAll0 == allTruth0,
      s"unfiltered query alongside: $gotAll0 != $allTruth0")

    // epoch 1 at ts 5000..: the eviction floor retires epoch 0 to cold
    // WITH its attrs; a filtered hot query answers over epoch 1 only
    input.addData((0 until 30).map(i =>
      StreamEvent("i", 100L + i, vec(100 + i), 5000L + i, 0L, 0,
        attrOf(i))) :+
      StreamEvent("q", 5002L, vec(107), 5100L, 1000000L, 5, "1"): _*)
    q.processAllAvailable()
    q.stop()
    val fltTruthHot = (0 until 30).filter(_ % 3 == 1)
      .map(i => (100L + i, Distances.l2(vec(107), vec(100 + i))))
      .sortBy { case (id, d) => (d, id) }.take(5).map(_._1).toList
    val gotFltHot = results.synchronized {
      results.filter(_._1 == 5002L).sortBy(_._2).map(_._3).toList }
    assert(gotFltHot == fltTruthHot,
      s"epoch-1 hot filtered query: $gotFltHot != $fltTruthHot")

    // the flushed cold tier carries the attr column: a filtered COLD
    // search over the retired epoch matches the batch twin exactly
    val cat = graft.store.ColdTier.catalog(spark, cold)
    assert(cat.map(_.count).sum == 30L, s"epoch 0 must be cold: ${cat.toList}")
    val coldQ = Seq((9L, vec(107), 5100L, 1000000L, "1"))
      .toDF("qid", "qv", "qtime", "ttl", "qfilter")
    val gotCold = graft.store.ColdTier.search(spark, cold, coldQ, 5,
        Metric.L2, firstWaveFraction = 1.0, terminationFactor = 1.0,
        filterColumn = Some("attr"))
      .collect().sortBy(_.getInt(1))
      .map(r => (r.getLong(2), r.getDouble(3))).toList
    val coldTruth = (0 until 30).filter(_ % 3 == 1)
      .map(i => (i.toLong, Distances.l2(vec(107), vec(i))))
      .sortBy { case (id, d) => (d, id) }.take(5).toList
    assert(gotCold.map(_._1) == coldTruth.map(_._1),
      s"cold filtered search: $gotCold != $coldTruth")

    // the COMPOSED answer — hot partial + cold partial merged — equals
    // the batch filtered twin over ALL rows (the hierarchical filtered
    // search a deployment runs: each tier serves its own time range)
    val hotPart = results.synchronized {
      results.filter(_._1 == 5002L).sortBy(_._2)
        .map(r => (r._3, r._4)).toArray }
    val merged = VectorStreamJob.mergeSorted(
      hotPart.map(_._1), hotPart.map(_._2),
      gotCold.map(_._1).toArray, gotCold.map(_._2).toArray, 5)
    val fullTruth = ((0 until 30).filter(_ % 3 == 1).map(i =>
        (i.toLong, Distances.l2(vec(107), vec(i)))) ++
      (0 until 30).filter(_ % 3 == 1).map(i =>
        (100L + i, Distances.l2(vec(107), vec(100 + i)))))
      .sortBy { case (id, d) => (d, id) }.take(5).map(_._1).toList
    assert(merged._1.toList == fullTruth,
      s"hot+cold filtered merge: ${merged._1.toList} != $fullTruth")
  }

  test("streaming IN-list kNN: a hot query carrying a value SET is exact " +
      "(empty set matches nothing), and the flushed tier serves the same " +
      "IN through the cold filterIn kernel bit-exactly") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val cold = java.nio.file.Files.createTempDirectory("graft-instream")
      .toString
    val input = MemoryStream[StreamEvent]
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Double)]
    val q = VectorStreamJob.run(input.toDS(), SimplePartitioner(2), k = 5,
      Metric.L2, maxTtl = 1000L, coldDir = Some(cold)) { merged =>
      merged.collect().foreach(r => results.synchronized {
        results += ((r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))) })
    }
    def attrOf(i: Int): String = (i % 4).toString
    // ids 0..39 across 4 labels; one IN {"1","3"} query, one EMPTY-set
    // query (SQL's vacuous IN — no rows), one equality query alongside
    // (the channels must compose in one batch)
    input.addData((0 until 40).map(i =>
      StreamEvent("i", i.toLong, vec(i), i.toLong, 0L, 0, attrOf(i))) ++
      Seq(
        StreamEvent("q", 5000L, vec(7), 50L, 1000000L, 5,
          attrIn = Array("1", "3")),
        StreamEvent("q", 5001L, vec(7), 50L, 1000000L, 5,
          attrIn = Array.empty[String]),
        StreamEvent("q", 5002L, vec(7), 50L, 1000000L, 5, "2")): _*)
    q.processAllAvailable()
    def hotTruth(vals: Set[Int]) = (0 until 40).filter(i => vals(i % 4))
      .map(i => (i.toLong, Distances.l2(vec(7), vec(i))))
      .sortBy { case (id, d) => (d, id) }.take(5).map(_._1).toList
    val gotIn = results.synchronized {
      results.filter(_._1 == 5000L).sortBy(_._2).map(_._3).toList }
    val gotEmpty = results.synchronized {
      results.filter(_._1 == 5001L).map(_._3).toList }
    val gotEq = results.synchronized {
      results.filter(_._1 == 5002L).sortBy(_._2).map(_._3).toList }
    assert(gotIn == hotTruth(Set(1, 3)), s"hot IN query: $gotIn")
    assert(gotEmpty.isEmpty, s"empty IN set must match nothing: $gotEmpty")
    assert(gotEq == hotTruth(Set(2)), s"equality alongside IN: $gotEq")

    // epoch 1 retires epoch 0 (with its attrs) to cold; the SAME value
    // set then answers over the flushed tier through the cold filterIn
    // kernel, bit-matching the batch twin over the retired rows
    input.addData((0 until 40).map(i =>
      StreamEvent("i", 100L + i, vec(100 + i), 5000L + i, 0L, 0,
        attrOf(i))): _*)
    q.processAllAvailable()
    q.stop()
    val cat = graft.store.ColdTier.catalog(spark, cold)
    assert(cat.map(_.count).sum == 40L, s"epoch 0 must be cold: ${cat.toList}")
    val coldQ = Seq((9L, vec(107), 5100L, 1000000L, Seq("1", "3")))
      .toDF("qid", "qv", "qtime", "ttl", "qfin")
    val gotCold = graft.store.ColdTier.search(spark, cold, coldQ, 5,
        Metric.L2, firstWaveFraction = 1.0, terminationFactor = 1.0,
        filterColumn = Some("attr"), filterIn = true)
      .collect().sortBy(_.getInt(1)).map(_.getLong(2)).toList
    val coldTruth = (0 until 40).filter(i => i % 4 == 1 || i % 4 == 3)
      .map(i => (i.toLong, Distances.l2(vec(107), vec(i))))
      .sortBy { case (id, d) => (d, id) }.take(5).map(_._1).toList
    assert(gotCold == coldTruth, s"cold filterIn: $gotCold != $coldTruth")
  }

  test("flushBatch replay is idempotent and converges: a re-executed micro-batch neither duplicates rows nor loses the sidecar") {
    val cold = java.nio.file.Files.createTempDirectory("graft-replay").toString
    val pass = Seq(PartialResult(-1L, 0, FlushSent, Array(10L, 11L),
        Array(10.0, 11.0), 100L, 0L, Array(vec(10), vec(11))))
    // first execution seals; the foreachBatch REPLAY of the same batch id
    // (restart-from-checkpoint semantics) must see the committed catalog
    // row and no-op
    assert(VectorStreamJob.flushBatch(spark, pass, cold, 3L, Metric.L2))
    assert(!VectorStreamJob.flushBatch(spark, pass, cold, 3L, Metric.L2))
    val cat = graft.store.ColdTier.catalog(spark, cold)
    assert(cat.map(_.count).sum == 2L, s"replay duplicated rows: ${cat.toList}")
    // crash window: catalog row committed but the sidecar seal never ran
    // (indexAtFlush=false stands in for the crash) — the replay with
    // indexAtFlush=true must CONVERGE by finishing the sidecar
    val pass2 = Seq(PartialResult(-1L, 0, FlushSent, Array(20L, 21L),
        Array(20.0, 21.0), 200L, 0L, Array(vec(20), vec(21))))
    assert(VectorStreamJob.flushBatch(spark, pass2, cold, 4L, Metric.L2,
      indexAtFlush = false))
    assert(!graft.store.ColdTier.indexSealed(spark, cold, 4L))
    assert(!VectorStreamJob.flushBatch(spark, pass2, cold, 4L, Metric.L2,
      indexAtFlush = true))
    assert(graft.store.ColdTier.indexSealed(spark, cold, 4L),
      "replay must finish the missing sidecar (crash-repair convergence)")
  }

  test("composed mode survives a restart: checkpointed merge state recovers, flush replay stays idempotent, no duplicate cold rows") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[StreamEvent]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cmp-ckpt").toString
    val cold = java.nio.file.Files.createTempDirectory("graft-cmp-cold").toString
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long)]
    def start() = VectorStreamJob.run(input.toDS(), SimplePartitioner(2),
      k = 5, Metric.L2, maxTtl = 1000L, crossBatchMerge = true,
      coldDir = Some(cold), checkpointDir = Some(ckpt)) { merged =>
      merged.collect().foreach(r => results.synchronized {
        results += ((r.getLong(0), r.getInt(1), r.getLong(2))) })
    }
    val q1 = start()
    input.addData((0 until 20).map(i =>
      StreamEvent("i", i.toLong, vec(i), i.toLong, 0L, 0)): _*)
    q1.processAllAvailable()
    // epoch 1 at ts 5000.. -> eviction floor retires epoch 0 to cold
    input.addData((0 until 20).map(i =>
      StreamEvent("i", 100L + i, vec(100 + i), 5000L + i, 0L, 0)): _*)
    q1.processAllAvailable()
    q1.stop()
    // kill: executor-cache loss AND a restart from the checkpoint — the
    // restarted query may REPLAY the last micro-batch, so the flush must
    // be idempotent against the already-committed catalog row
    VectorStreamJob.IndexCache.invalidateAll()
    val q2 = start()
    // epoch 2 retires epoch 1; a fresh query over epoch 2 must complete
    // through the RECOVERED stateful merge in the same restarted job
    input.addData((0 until 20).map(i =>
      StreamEvent("i", 200L + i, vec(200 + i), 10000L + i, 0L, 0)) :+
      StreamEvent("q", 9100L, vec(207), 10050L, 1000L, 5): _*)
    q2.processAllAvailable()
    q2.stop()
    val hotTruth = (0 until 20).map(i => (200L + i,
        Distances.l2(vec(207), vec(200 + i))))
      .sortBy { case (id, d) => (d, id) }.take(5).map(_._1).toList
    val hot = results.synchronized {
      results.filter(_._1 == 9100L).sortBy(_._2).map(_._3).toList }
    assert(hot == hotTruth, s"post-restart hot query: $hot != $hotTruth")
    // epochs 0 and 1 flushed EXACTLY once each across the restart: 40
    // cold rows total — a replayed flush that dodged the idempotency
    // check would show as duplicates here
    val cat = graft.store.ColdTier.catalog(spark, cold)
    assert(cat.map(_.count).sum == 40L,
      s"cold rows must be exactly 40 (no replay duplicates): ${cat.toList}")
    // and an epoch-0 window answers bit-exactly from cold
    val queries = Seq((1L, vec(4), 2000L, 2000L)).toDF("qid", "qv", "qtime", "ttl")
    val coldTruth = (0 until 20)
      .map(i => (i.toLong, Distances.l2(vec(4), vec(i))))
      .sortBy { case (id, d) => (d, id) }.take(5).map(_._1).toList
    val gotCold = graft.store.ColdTier.search(spark, cold, queries, 5,
        Metric.L2, firstWaveFraction = 1.0, terminationFactor = 1.0)
      .collect().sortBy(_.getInt(1)).map(_.getLong(2)).toList
    assert(gotCold == coldTruth, s"cold search $gotCold != exact $coldTruth")
  }

  test("amortized flush (flushEveryBatches): evicted rows stage across triggers and restarts, seal every Nth batch, drain seals the tail — no lost or duplicated cold rows") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[StreamEvent]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-amf-ckpt").toString
    val cold = java.nio.file.Files.createTempDirectory("graft-amf-cold").toString
    def start() = VectorStreamJob.run(input.toDS(), SimplePartitioner(2),
      k = 5, Metric.L2, maxTtl = 1000L, crossBatchMerge = true,
      coldDir = Some(cold), checkpointDir = Some(ckpt),
      flushEveryBatches = 2) { _ => () }
    val q1 = start()
    input.addData((0 until 20).map(i =>
      StreamEvent("i", i.toLong, vec(i), i.toLong, 0L, 0)): _*)
    q1.processAllAvailable()
    // epoch 1 retires epoch 0 — its rows stage (or seal on an even bid)
    input.addData((0 until 20).map(i =>
      StreamEvent("i", 100L + i, vec(100 + i), 5000L + i, 0L, 0)): _*)
    q1.processAllAvailable()
    q1.stop()
    // shutdown flush BEFORE a restart (the operator's memtable-drain):
    // this seals rows of a batch the CHECKPOINT may not have committed —
    // the restarted stream replays that batch and re-stages the same
    // rows, and the consumed-staging marker must stop the next sealing
    // batch from sealing them AGAIN under a different segment id
    VectorStreamJob.drainStaged(spark, cold, Metric.L2)
    // kill-and-recover mid-staging: staged files are on the tier's
    // storage, so rows evicted in already-committed batches survive;
    // the replayed last batch re-stages idempotently (overwrite)
    val q2 = start()
    input.addData((0 until 20).map(i =>
      StreamEvent("i", 200L + i, vec(200 + i), 10000L + i, 0L, 0)): _*)
    q2.processAllAvailable()
    q2.stop()
    // shutdown drain seals whatever is still staged; a second drain is a
    // no-op (idempotent — nothing staged after the first)
    VectorStreamJob.drainStaged(spark, cold, Metric.L2)
    assert(!VectorStreamJob.drainStaged(spark, cold, Metric.L2),
      "second drain must find nothing staged")
    // epochs 0 and 1 reached cold EXACTLY once each across staging,
    // sealing, restart, and drain; epoch 2 is still hot
    val cat = graft.store.ColdTier.catalog(spark, cold)
    assert(cat.map(_.count).sum == 40L,
      s"cold rows must be exactly 40: ${cat.toList}")
    // amortization held: fewer segments than flush-bearing batches
    assert(cat.length <= 3, s"expected few amortized segments: ${cat.toList}")
    // and the content answers bit-exactly
    val queries = Seq((1L, vec(4), 2000L, 2000L)).toDF("qid", "qv", "qtime", "ttl")
    val coldTruth = (0 until 20)
      .map(i => (i.toLong, Distances.l2(vec(4), vec(i))))
      .sortBy { case (id, d) => (d, id) }.take(5).map(_._1).toList
    val gotCold = graft.store.ColdTier.search(spark, cold, queries, 5,
        Metric.L2, firstWaveFraction = 1.0, terminationFactor = 1.0)
      .collect().sortBy(_.getInt(1)).map(_.getLong(2)).toList
    assert(gotCold == coldTruth, s"cold search $gotCold != exact $coldTruth")
  }

  test("hot->cold lifecycle: TTL-evicted state flushes into cold segments, tiers serve disjoint windows, compaction wired") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val cold = java.nio.file.Files.createTempDirectory("graft-hotcold").toString
    val input = MemoryStream[StreamEvent]
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long)]
    val q = VectorStreamJob.run(input.toDS(), SimplePartitioner(2), k = 5,
      Metric.L2, maxTtl = 1000L, coldDir = Some(cold), compactEvery = 4,
      compactTargetRows = 1000L, indexAtFlush = true) { merged =>
      merged.collect().foreach(r => results.synchronized {
        results += ((r.getLong(0), r.getInt(1), r.getLong(2))) })
    }
    // epoch 0: ids 0..19 at ts 0..19
    input.addData((0 until 20).map(i =>
      StreamEvent("i", i.toLong, vec(i), i.toLong, 0L, 0)): _*)
    q.processAllAvailable()
    // deleted rows must NOT flush: kill id 5 while epoch 0 is still hot
    input.addData(StreamEvent("d", 5L, null, 30L, 0L, 0))
    q.processAllAvailable()
    // epoch 1 at ts 5000.. -> eviction floor 4019 retires epoch 0 to cold
    input.addData((0 until 20).map(i =>
      StreamEvent("i", 100L + i, vec(100 + i), 5000L + i, 0L, 0)): _*)
    q.processAllAvailable()
    // epoch 2 at ts 10000.. retires epoch 1; a hot query rides along
    input.addData((0 until 20).map(i =>
      StreamEvent("i", 200L + i, vec(200 + i), 10000L + i, 0L, 0)) :+
      StreamEvent("q", 9000L, vec(205), 10050L, 1000L, 5): _*)
    q.processAllAvailable()
    // a delete whose target (id 7) was ALREADY flushed to cold: only the
    // logged tombstone can shadow it there
    input.addData(StreamEvent("d", 7L, null, 10010L, 0L, 0))
    q.processAllAvailable()
    // one more batch lands on bid % compactEvery == 0 -> compaction
    input.addData(StreamEvent("i", 300L, vec(300), 10020L, 0L, 0))
    q.processAllAvailable()
    q.stop()

    // the hot query saw only its maxTtl-clamped fresh window (epoch 2)
    val hot = results.synchronized { results.filter(_._1 == 9000L).map(_._3) }
    assert(hot.nonEmpty && hot.forall(_ >= 200L), s"hot window leaked: $hot")

    // cold tier holds exactly the TTL-evicted rows: epoch 0 minus the
    // deleted id 5, plus epoch 1 — compacted into ONE segment (two flush
    // segments, 39 rows, target 1000)
    val cat = graft.store.ColdTier.catalog(spark, cold)
    assert(cat.length == 1, s"compaction should leave one segment: ${cat.toList}")
    // compaction applied the logged post-flush delete of id 7 physically
    assert(cat.head.count == 38L)
    val coldIds = spark.read.parquet(cat.map(_.path): _*)
      .select("id").collect().map(_.getLong(0)).toSet
    val want = ((0 until 20).map(_.toLong).toSet -- Set(5L, 7L)) ++
      (0 until 20).map(i => 100L + i)
    assert(coldIds == want, s"cold rows diverge: missing=${want -- coldIds} extra=${coldIds -- want}")

    // an old window is answered (bit-exact) by the cold tier: top-5 around
    // vec(3) over [0, 2000] = epoch 0 minus the hot delete (5) and the
    // post-flush tombstoned delete (7)
    val queries = Seq((1L, vec(3), 2000L, 2000L)).toDF("qid", "qv", "qtime", "ttl")
    val gotCold = graft.store.ColdTier.search(spark, cold, queries, 5,
        Metric.L2, firstWaveFraction = 1.0, terminationFactor = 1.0)
      .collect().sortBy(_.getInt(1)).map(_.getLong(2)).toList
    val truth = (0 until 20).filterNot(i => i == 5 || i == 7)
      .map(i => (i.toLong, Distances.l2(vec(3), vec(i))))
      .sortBy { case (id, d) => (d, id) }.take(5).map(_._1).toList
    assert(gotCold == truth, s"cold search $gotCold != exact $truth")

    // the sidecar built at flush survived compaction, and the serving
    // fast path answers the same historical window from the graph alone
    assert(graft.store.ColdTier.indexSealed(spark, cold, cat.head.segmentId),
      "compacted segment lost its flush-built HNSW sidecar")
    val gotFast = graft.store.ColdTier.searchIndexedFast(spark, cold,
        queries, 5, Metric.L2, efSearch = 64)
      .collect().sortBy(_.getInt(1)).map(_.getLong(2)).toList
    assert(gotFast == truth, s"fast path $gotFast != exact $truth")
  }

  test("lifecycle keeps flushing AFTER a compaction: merged-segment ids and the consolidated delete log never collide with micro-batch ids") {
    // regression: compact used to allocate merged ids as catalog-max+1 and
    // the consolidated delete log as batch-(nextId+1) — in the streaming
    // lifecycle both land exactly on upcoming micro-batch ids, so the next
    // flush (and the next delete batch) silently no-op on the idempotency
    // check and their rows/tombstones are lost. Ids now come from the
    // reserved >= CompactionIdBase namespace.
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val cold = java.nio.file.Files.createTempDirectory("graft-postcompact").toString
    val input = MemoryStream[StreamEvent]
    val q = VectorStreamJob.run(input.toDS(), SimplePartitioner(2), k = 5,
      Metric.L2, maxTtl = 1000L, coldDir = Some(cold), compactEvery = 2,
      compactTargetRows = 100000L) { _ => () }
    def epoch(base: Long, ts: Long, extra: Seq[StreamEvent] = Nil): Unit = {
      input.addData((0 until 10).map(i =>
        StreamEvent("i", base + i, vec((base + i).toInt), ts + i, 0L, 0)) ++ extra: _*)
      q.processAllAvailable()
    }
    epoch(0L, 0L)        // batch 0: epoch 0 hot
    // batch 1: epoch 1 evicts epoch 0 -> first flush; a delete of hot id 1
    // also seeds the delete log so compaction consolidates it
    epoch(100L, 5000L, Seq(StreamEvent("d", 1L, null, 6000L, 0L, 0)))
    epoch(200L, 10000L)  // batch 2: flush epoch 1, then compact (bid%2==0)
    epoch(300L, 15000L)  // batch 3: flush epoch 2 — the post-compaction flush
    // batch 4: flush epoch 3, delete COLD id 0, compact+consolidate again
    epoch(400L, 20000L, Seq(StreamEvent("d", 0L, null, 20050L, 0L, 0)))
    epoch(500L, 25000L)  // batch 5: flush epoch 4
    q.stop()

    val cat = graft.store.ColdTier.catalog(spark, cold)
    val coldIds = spark.read.parquet(cat.map(_.path): _*)
      .select("id").as[Long].collect().toSet
    // every TTL-evicted epoch is present — especially epoch 2 (ids 200..),
    // the flush immediately after the first compaction, and epoch 4, the
    // flush after the second
    Seq(0L, 100L, 200L, 300L, 400L).foreach { base =>
      val missing = (0 until 10).map(base + _).toSet -- coldIds
      // id 1 was deleted while hot (never flushed); id 0 was deleted in
      // cold — physically dropped if a compaction ran after its tombstone
      // sealed, else still present but shadowed at read (checked below)
      val mustBeGone: Set[Long] = if (base == 0L) Set(1L) else Set.empty
      val mayBeGone: Set[Long] = if (base == 0L) Set(0L, 1L) else Set.empty
      assert(mustBeGone.subsetOf(missing) && (missing -- mayBeGone).isEmpty,
        s"epoch at $base lost rows post-compaction: missing $missing")
    }
    // the post-compaction delete of cold id 0 must shadow it at read time
    // (its tombstone would have been dropped under the old colliding
    // delete-log naming)
    val queries = Seq((1L, vec(0), 2000L, 2000L)).toDF("qid", "qv", "qtime", "ttl")
    val got = graft.store.ColdTier.search(spark, cold, queries, 5,
        Metric.L2, firstWaveFraction = 1.0, terminationFactor = 1.0)
      .collect().map(_.getLong(2)).toSet
    assert(!got.contains(0L), s"tombstoned cold id 0 resurrected: $got")
    assert(got.nonEmpty)
    // merged segments live in the reserved namespace; flush segments keep
    // their micro-batch ids below it
    assert(cat.exists(_.segmentId >= graft.store.ColdTier.CompactionIdBase),
      s"expected a compacted segment in the reserved id range: ${cat.map(_.segmentId).toList}")
  }

  test("hot->cold lifecycle under a REPLICATED partitioner: duplicate flushes dedup at query time, results stay exact") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.partitioners.LshPartitioner
    // k1=3 LSH families route most ids to >1 partition -> an evicted id
    // flushes from each partition that held a replica
    val model = LshPartitioner.seeded(8, 8, 3, 2, 4.0f, 38324L)
    val cold = java.nio.file.Files.createTempDirectory("graft-hotcold-rf").toString
    val input = MemoryStream[StreamEvent]
    val q = VectorStreamJob.run(input.toDS(), model, k = 5, Metric.L2,
      maxTtl = 1000L, coldDir = Some(cold)) { _ => () }
    input.addData((0 until 40).map(i =>
      StreamEvent("i", i.toLong, vec(i), i.toLong, 0L, 0)): _*)
    q.processAllAvailable()
    input.addData((0 until 5).map(i =>
      StreamEvent("i", 100L + i, vec(100 + i), 5000L + i, 0L, 0)): _*)
    q.processAllAvailable()
    q.stop()

    val cat = graft.store.ColdTier.catalog(spark, cold)
    assert(cat.nonEmpty, "eviction must have flushed")
    val coldRows = spark.read.parquet(cat.map(_.path): _*)
      .select("id").as[Long].collect()
    // every epoch-0 id flushed at least once; replicas are expected
    assert(coldRows.toSet == (0 until 40).map(_.toLong).toSet,
      s"flushed id set diverges: ${coldRows.toSet.toList.sorted}")
    assert(coldRows.length >= 40, "replicated ids flush once per holder")
    // exact search over the cold window: replicas must collapse (one row
    // per id in the top-k, C3's cross-partition id dedup)
    val queries = Seq((1L, vec(3), 2000L, 2000L)).toDF("qid", "qv", "qtime", "ttl")
    val got = graft.store.ColdTier.search(spark, cold, queries, 5,
        Metric.L2, firstWaveFraction = 1.0, terminationFactor = 1.0)
      .collect().sortBy(_.getInt(1)).map(_.getLong(2)).toList
    val truth = (0 until 40)
      .map(i => (i.toLong, Distances.l2(vec(3), vec(i))))
      .sortBy { case (id, d) => (d, id) }.take(5).map(_._1).toList
    assert(got == truth, s"replicated cold search $got != exact $truth")
    assert(got.distinct == got, "no duplicate ids in the merged top-k")
  }

  test("auto-recluster: sustained ingest trips the routing-quality trigger once accreted segments dominate, search stays exact, then the trigger stays quiet") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val cold = java.nio.file.Files.createTempDirectory("graft-autorecl").toString
    val input = MemoryStream[StreamEvent]
    val q = VectorStreamJob.run(input.toDS(), SimplePartitioner(2), k = 5,
      Metric.L2, maxTtl = 1000L, coldDir = Some(cold), indexAtFlush = true,
      autoReclusterCells = 3, reclusterAccretedFraction = 0.5,
      reclusterMinSegments = 4) { _ => () }
    def epoch(e: Int): Unit = {
      input.addData((0 until 10).map(i =>
        StreamEvent("i", e * 100L + i, vec(e * 100 + i),
          e * 5000L + i, 0L, 0)): _*)
      q.processAllAvailable()
    }
    // each epoch's arrival TTL-retires the previous one -> one flush
    // segment per trigger; the 4th accreted seal crosses
    // reclusterMinSegments with accreted fraction 1.0 > 0.5 -> the
    // lifecycle re-clusters itself into <= 3 cell-aligned segments
    (0 to 4).foreach(epoch)
    val afterTrip = graft.store.ColdTier.catalog(spark, cold)
    assert(afterTrip.nonEmpty &&
      afterTrip.forall(_.segmentId >= graft.store.ColdTier.CompactionIdBase),
      s"expected a reclustered (reserved-id) catalog, got ids " +
        s"${afterTrip.map(_.segmentId).toList}")
    assert(afterTrip.length <= 3,
      s"recluster should leave <= numCells segments: ${afterTrip.length}")
    val alignedIds = afterTrip.map(_.segmentId).toSet

    // two more seals accrete on top of the aligned cells: fractions 1/(c+1)
    // and 2/(c+2) stay under 0.5, so the trigger must NOT re-fire (the
    // aligned segments survive verbatim)
    epoch(5); epoch(6)
    val after = graft.store.ColdTier.catalog(spark, cold)
    assert(alignedIds.subsetOf(after.map(_.segmentId).toSet),
      s"trigger re-fired while aligned cells still dominate: " +
        s"${after.map(_.segmentId).toList} vs aligned $alignedIds")
    assert(after.length > afterTrip.length, "post-recluster flushes accrete")

    q.stop()
    // search equivalence across the reclustered + re-accreted tier: the
    // flushed window (epochs 0..5; epoch 6 is still hot) answers bit-equal
    // to local exact truth
    val flushedIds = (0 to 5).flatMap(e => (0 until 10).map(e * 100 + _))
    val queries = Seq((1L, vec(3), 30000L, 30000L))
      .toDF("qid", "qv", "qtime", "ttl")
    val got = graft.store.ColdTier.search(spark, cold, queries, 5,
        Metric.L2, firstWaveFraction = 1.0, terminationFactor = 1.0)
      .collect().sortBy(_.getInt(1)).map(_.getLong(2)).toList
    val truth = flushedIds
      .map(i => (i.toLong, Distances.l2(vec(3), vec(i))))
      .sortBy { case (id, d) => (d, id) }.take(5).map(_._1).toList
    assert(got == truth, s"post-recluster cold search $got != exact $truth")
  }

  test("auto-recluster losing the catalog CAS to an out-of-band committer: the stream survives the skip, the concurrent segment survives the pass, the next trigger re-clusters fresh") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val cold = java.nio.file.Files
      .createTempDirectory("graft-autorecl-cas").toString
    // deterministic out-of-band committer: the seam fires INSIDE the
    // lifecycle's recluster pass, right after it read its base catalog
    // version — a seal committed there (standing in for any manual
    // compact/recluster/flush against the same tier dir; all ride the
    // same version fence) bumps the version, so the pass MUST lose its
    // CAS. An ownership-blind commit would instead swap the concurrent
    // segment out of the catalog — silent loss.
    val decoyIds = (900 until 905).map(_.toLong)
    @volatile var hookFired = false
    graft.store.ColdTier.onReclusterBaseRead = () => {
      graft.store.ColdTier.onReclusterBaseRead = null // once
      hookFired = true
      graft.store.ColdTier.seal(
        decoyIds.map(i => (i, vec(i.toInt), 20001L))
          .toDF("id", "vec", "eventTime"), cold, 7777L)
    }
    val input = MemoryStream[StreamEvent]
    val q = VectorStreamJob.run(input.toDS(), SimplePartitioner(2), k = 5,
      Metric.L2, maxTtl = 1000L, coldDir = Some(cold), indexAtFlush = true,
      autoReclusterCells = 3, reclusterAccretedFraction = 0.5,
      reclusterMinSegments = 4) { _ => () }
    try {
      def epoch(e: Int): Unit = {
        input.addData((0 until 10).map(i =>
          StreamEvent("i", e * 100L + i, vec(e * 100 + i),
            e * 5000L + i, 0L, 0)): _*)
        q.processAllAvailable()
      }
      // the 4th accreted seal trips the trigger; the seam makes that
      // first pass lose its CAS — the stream must NOT die
      (0 to 4).foreach(epoch)
      assert(hookFired, "the recluster pass never reached its CAS window")
      assert(q.exception.isEmpty,
        s"the lost CAS killed the stream: ${q.exception}")
      val afterSkip = graft.store.ColdTier.catalog(spark, cold)
      assert(afterSkip.map(_.segmentId).contains(7777L),
        "the out-of-band committer's segment was lost — the skipped " +
          "pass must commit NOTHING")
      assert(afterSkip.exists(_.segmentId < graft.store.ColdTier.CompactionIdBase),
        "the losing pass still swapped in a reclustered catalog")
      // next catalog growth re-trips the trigger against the FRESH
      // catalog (accreted fraction still ~1); this pass must succeed
      epoch(5)
      assert(q.exception.isEmpty, s"retry pass failed: ${q.exception}")
      val after = graft.store.ColdTier.catalog(spark, cold)
      assert(after.forall(_.segmentId >= graft.store.ColdTier.CompactionIdBase),
        s"expected a reclustered catalog after the retry, got ids " +
          s"${after.map(_.segmentId).toList}")
      // nothing lost end to end: the concurrent segment's rows folded
      // into the aligned layout
      val ids = spark.read.parquet(after.map(_.path): _*)
        .select("id").as[Long].collect().toSet
      assert(decoyIds.forall(ids.contains),
        s"out-of-band rows missing after convergence: ${ids.toList.sorted}")
    } finally {
      graft.store.ColdTier.onReclusterBaseRead = null
      q.stop()
    }
  }

  test("auto-recluster by attr: the lifecycle converges a label-mixed flushed tier to the attr-aligned layout — filtered cold probes collapse to one bucket, results exact") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val cold = java.nio.file.Files
      .createTempDirectory("graft-autorecl-attr").toString
    val input = MemoryStream[StreamEvent]
    val q = VectorStreamJob.run(input.toDS(), SimplePartitioner(2), k = 5,
      Metric.L2, maxTtl = 1000L, coldDir = Some(cold), indexAtFlush = true,
      autoReclusterCells = 2, reclusterAccretedFraction = 0.5,
      reclusterMinSegments = 4, autoReclusterAttr = Some("attr"),
      autoReclusterAttrBuckets = 3) { _ => () }
    def epoch(e: Int): Unit = {
      input.addData((0 until 10).map(i =>
        StreamEvent("i", e * 100L + i, vec(e * 100 + i),
          e * 5000L + i, 0L, 0, attr = s"t${i % 3}")): _*)
      q.processAllAvailable()
    }
    // each epoch's arrival TTL-retires the previous one -> one
    // label-MIXED flush segment per trigger (every segment holds t0-t2,
    // attr admission prunes nothing); the 4th accreted seal trips the
    // trigger and the lifecycle runs reclusterByAttr("attr") itself
    (0 to 4).foreach(epoch)
    q.stop()
    val cat = graft.store.ColdTier.catalog(spark, cold)
    assert(cat.nonEmpty &&
      cat.forall(_.segmentId >= graft.store.ColdTier.CompactionIdBase),
      s"expected an attr-reclustered (reserved-id) catalog, got " +
        s"${cat.map(_.segmentId).toList}")
    assert(cat.length <= 6,
      s"<= buckets x cells segments expected: ${cat.length}")

    // filtered cold search over the flushed window (epochs 0..3):
    // admission collapses each query to ONE bucket (<= 2 cells), and
    // the result is the per-attr exact truth — the aligned layout plus
    // its sidecar came from the lifecycle, not an operator step
    val flushed = (0 to 3).flatMap(e =>
      (0 until 10).map(i => (e * 100 + i, i % 3)))
    val nQ = 3
    val fq = (0 until nQ).map { qi =>
      (qi.toLong, vec(3 + qi), 30000L, 30000L, s"t$qi")
    }.toDF("qid", "qv", "qtime", "ttl", "qfilter")
    val stats = scala.collection.mutable.Map.empty[String, Long]
    val got = graft.store.ColdTier.search(spark, cold, fq, 5, Metric.L2,
        firstWaveFraction = 1.0, terminationFactor = 1.0,
        filterColumn = Some("attr"), searchStats = Some(stats))
      .collect().groupBy(_.getLong(0))
      .map { case (qk, rs) =>
        qk -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }
    (0 until nQ).foreach { qi =>
      val want = flushed.filter(_._2 == qi)
        .map { case (i, _) => (i.toLong, Distances.l2(vec(3 + qi), vec(i))) }
        .sortBy { case (id, d) => (d, id) }.take(5).map(_._1).toSeq
      assert(got(qi.toLong) == want, s"attr $qi filtered post-recluster")
    }
    val planned = stats("wave1_probes") + stats("wave2_planned")
    assert(planned <= 2L * nQ,
      s"attr admission must collapse to one bucket's <= 2 cells per " +
        s"query: planned $planned (catalog ${cat.length} segments)")
  }

  test("streaming RANGE kNN: a hot [attr, attrHi] band query is exact " +
      "(non-numeric attrs match nothing), and the flushed tier answers " +
      "the same band through the cold range kernel") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val cold = java.nio.file.Files.createTempDirectory("graft-rngstream")
      .toString
    val input = MemoryStream[StreamEvent]
    val results = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Int, Long, Double)]
    val q = VectorStreamJob.run(input.toDS(), SimplePartitioner(2), k = 5,
      Metric.L2, maxTtl = 1000L, coldDir = Some(cold)) { merged =>
      merged.collect().foreach(r => results.synchronized {
        results += ((r.getLong(0), r.getInt(1), r.getLong(2),
          r.getDouble(3))) })
    }
    // attrs 0..3 plus a NON-NUMERIC one — the band [0, 3] must admit
    // the numeric renderings and reject "x" (NaN matches nothing)
    def attrOf(i: Int): String = if (i % 5 == 4) "x" else (i % 5).toString
    def inBand(i: Int): Boolean = i % 5 != 4
    input.addData((0 until 30).map(i =>
      StreamEvent("i", i.toLong, vec(i), i.toLong, 0L, 0, attrOf(i))) :+
      StreamEvent("q", 7000L, vec(7), 50L, 1000000L, 5, "0", "3"): _*)
    q.processAllAvailable()
    val bandTruth0 = (0 until 30).filter(inBand)
      .map(i => (i.toLong, Distances.l2(vec(7), vec(i))))
      .sortBy { case (id, d) => (d, id) }.take(5).map(_._1).toList
    val gotBand0 = results.synchronized {
      results.filter(_._1 == 7000L).sortBy(_._2).map(_._3).toList }
    assert(gotBand0 == bandTruth0,
      s"hot range query: $gotBand0 != $bandTruth0")

    // advance: epoch 0 retires to cold WITH attrs; the same band over
    // the flushed segment through the cold RANGE kernel (string attr
    // column, try_cast semantics) matches the per-band batch truth
    input.addData((0 until 30).map(i =>
      StreamEvent("i", 100L + i, vec(100 + i), 5000L + i, 0L, 0,
        attrOf(i))): _*)
    q.processAllAvailable()
    q.stop()
    val cat = graft.store.ColdTier.catalog(spark, cold)
    assert(cat.map(_.count).sum == 30L,
      s"epoch 0 must be cold: ${cat.toList}")
    val coldQ = Seq((9L, vec(107), 5100L, 1000000L, "0", "3"))
      .toDF("qid", "qv", "qtime", "ttl", "qflo", "qfhi")
    val gotCold = graft.store.ColdTier.search(spark, cold, coldQ, 5,
        Metric.L2, firstWaveFraction = 1.0, terminationFactor = 1.0,
        filterColumn = Some("attr"), filterRange = true)
      .collect().sortBy(_.getInt(1)).map(_.getLong(2)).toList
    val coldTruth = (0 until 30).filter(inBand)
      .map(i => (i.toLong, Distances.l2(vec(107), vec(i))))
      .sortBy { case (id, d) => (d, id) }.take(5).map(_._1).toList
    assert(gotCold == coldTruth,
      s"cold range search over flushed attrs: $gotCold != $coldTruth")
  }

  test("attr-stats sidecar tracks streaming flushes: every later-flushed segment gains a stats row, and pruned filtered search over the grown tier stays exact") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val cold = java.nio.file.Files.createTempDirectory("graft-attrtrack")
      .toString
    val input = MemoryStream[StreamEvent]
    val q = VectorStreamJob.run(input.toDS(), SimplePartitioner(2), k = 5,
      Metric.L2, maxTtl = 1000L, coldDir = Some(cold)) { _ => () }
    def attrOf(i: Int): String = (i % 2).toString
    def epoch(e: Int): Unit = {
      input.addData((0 until 20).map(i =>
        StreamEvent("i", e * 100L + i, vec(e * 100 + i), e * 5000L + i,
          0L, 0, attrOf(i))): _*)
      q.processAllAvailable()
    }
    epoch(0); epoch(1) // batch 1 flushes epoch 0 -> first cold segment
    // the operator seals the sidecar ONCE, covering the tier as of now
    graft.store.ColdTier.sealAttrStats(spark, cold, "attr")
    // sustained ingest keeps flushing; without the flush-side refresh
    // these segments would be stats-less forever (no pruning)
    epoch(2); epoch(3)
    q.stop()
    val cat = graft.store.ColdTier.catalog(spark, cold)
    assert(cat.length >= 3, s"expected >= 3 flushed segments: ${cat.toList}")
    val statIds = spark.read.parquet(s"$cold/attr-stats/attr")
      .select("segmentId").collect().map(_.getLong(0)).toSet
    assert(statIds == cat.map(_.segmentId).toSet,
      s"sidecar rows $statIds diverge from catalog " +
        s"${cat.map(_.segmentId).toSet}")
    // filtered search (stats engaged) over the grown tier stays exact
    val flushed = (0 to 2).flatMap(e => (0 until 20).map(e * 100 + _))
    val queries = Seq((1L, vec(3), 20000L, 20000L, "1"))
      .toDF("qid", "qv", "qtime", "ttl", "qfilter")
    val got = graft.store.ColdTier.search(spark, cold, queries, 5,
        Metric.L2, firstWaveFraction = 1.0, terminationFactor = 1.0,
        filterColumn = Some("attr"))
      .collect().sortBy(_.getInt(1)).map(_.getLong(2)).toList
    val truth = flushed.filter(_ % 2 == 1)
      .map(i => (i.toLong, Distances.l2(vec(3), vec(i))))
      .sortBy { case (id, d) => (d, id) }.take(5).map(_._1).toList
    assert(got == truth, s"filtered search over grown tier: $got != $truth")
  }
}
