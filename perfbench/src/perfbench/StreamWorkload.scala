package perfbench

import graft.Metric
import graft.partitioners.{LshSfcPartitioner, PartitionerModel}
import graft.store.ColdTier
import graft.streaming.VectorStreamJob
import graft.streaming.VectorStreamJob.StreamEvent
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import scala.collection.mutable

/** Open-loop stream: one generator thread offers rows on a fixed schedule
 * into a MemoryStream feeding the composed `VectorStreamJob.run` (hot
 * HNSW, cross-batch merge, TTL eviction sealing cold segments, delete
 * log). The offered rate climbs a short ladder; query latency runs from
 * each query's due time to the sink seeing its merged top-k. */
object StreamWorkload {
  /** Routed partitions, one per Spark task slot: a trigger runs its
   * stateful stages in one wave. */
  val Parts = Main.Cores
  val K = 10
  /** Freshness window and eviction horizon, in events: about as many as
   * the warm-up and the nominal step offer, so eviction, staging and
   * sealing start with the overload step and run through its drain. */
  val TtlEvents = 1800L
  /** Staged evictions are sealed into a cold segment every this many
   * triggers; 1 seals every trigger that evicts, so the overload triggers
   * all do the same work. */
  val SealEvery = 1
  val RowsPerQuery = 10
  val DeleteFrac = 0.1
  /** Offered rows/s of each ladder step and its share of the timed seconds:
   * a nominal step well under the knee (a trigger costs ~1.5 s plus ~1 ms
   * a row), so its latency does not drift with a growing backlog, then a
   * short one well over it. */
  val Ladder: Seq[(Double, Double)] = Seq(100.0 -> 0.95, 1000.0 -> 0.05)
  /** The step whose query latencies are the end-to-end latency metrics. */
  val NominalStep = 0
  val WarmRate = 200.0
  val WarmSeconds = 1.5
  val SetupReps = 2
  /** Tail latency limit of the sustained-rate rule. */
  val TailLimitMs = 5000.0
  /** Backlog growth a step may show and still pass. */
  val BacklogSlackRows = 2000L
  val DrainLimitS = 30.0
  /** The generator hands rows over in 50 ms chunks; each chunk becomes one
   * MemoryStream block, i.e. one input partition, as a partitioned log would. */
  val TickNs = 50000000L

  final case class Query(qid: Long, ts: Long, dueNs: Long, step: Int, vec: Array[Float])

  /** The generated event sequence, remembered for the oracle. Event time
   * is the event's position in the sequence. */
  final class Feed(gen: Gen) {
    private val r = gen.rnd(101)
    var seq = 0L
    var rows = 0L
    val vecOf = mutable.LongMap.empty[Array[Float]]
    val insertTs = mutable.ArrayBuffer.empty[Long] // ascending; id == ts
    val delTs = mutable.LongMap.empty[Long]
    private val live = mutable.ArrayBuffer.empty[Long]
    val queries = mutable.ArrayBuffer.empty[Query]

    /** The events of one row slot: an insert or a delete, plus a query
     * after every RowsPerQuery-th row. */
    def next(dueNs: Long, step: Int): Seq[StreamEvent] = {
      val out = mutable.ArrayBuffer.empty[StreamEvent]
      if (live.nonEmpty && r.nextDouble() < DeleteFrac) {
        val j = r.nextInt(live.size)
        val id = live(j)
        live(j) = live.last; live.remove(live.size - 1)
        delTs(id) = seq
        out += StreamEvent("d", id, vecOf(id), seq, 0L, 0)
      } else {
        val v = gen.vec(seq)
        vecOf(seq) = v
        insertTs += seq
        live += seq
        out += StreamEvent("i", seq, v, seq, 0L, 0)
      }
      seq += 1; rows += 1
      if (rows % RowsPerQuery == 0) {
        val qid = Gen.QueryIdBase + queries.size
        val q = Query(qid, seq, dueNs, step, gen.query(queries.size.toLong))
        queries += q
        out += StreamEvent("q", qid, q.vec, seq, TtlEvents, K)
        seq += 1
      }
      out.toSeq
    }

    /** Ids a query at event time `ts` may return, with their vectors. */
    def admissible(ts: Long): (Array[Long], Array[Array[Float]]) = {
      val lo = ts - TtlEvents
      var a = 0
      var b = insertTs.length
      while (a < b) {
        val m = (a + b) >>> 1
        if (insertTs(m) < lo) a = m + 1 else b = m
      }
      val ids = mutable.ArrayBuffer.empty[Long]
      while (a < insertTs.length && insertTs(a) <= ts) {
        val id = insertTs(a)
        if (delTs.get(id).forall(_ > ts)) ids += id
        a += 1
      }
      (ids.toArray, ids.toArray.map(vecOf(_)))
    }
  }

  final case class StepRec(rate: Double, startNs: Long, endNs: Long,
      startEpochNs: Long, endEpochNs: Long)

  /** One running stream plus everything observed about it. */
  final class Running(ctx: Ctx, val model: PartitionerModel, tag: String) {
    val session: SparkSession = ctx.spark.newSession()
    session.conf.set("spark.sql.shuffle.partitions", Parts.toString)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = session.sqlContext
    import session.implicits._
    val input: MemoryStream[StreamEvent] = MemoryStream[StreamEvent]
    val coldDir: String = ctx.dir(s"stream-$tag/cold")
    val progress = new ProgressListener
    session.streams.addListener(progress)
    /** qid -> (seen nanoTime, answer ascending by rank). */
    val answers = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Array[(Long, Double)])]()
    /** (batchId, sink start epoch ns, sink end epoch ns). */
    val sinkRecs = mutable.ArrayBuffer.empty[(Long, Long, Long)]
    /** (epoch ns, events handed to the source so far). */
    val emitted = mutable.ArrayBuffer.empty[(Long, Long)]
    val feed = new Feed(ctx.gen)
    val lateness = new Stats.Lateness
    var handed = 0L

    val query: StreamingQuery = VectorStreamJob.run(input.toDS(), model, K,
      Metric.L2, maxTtl = TtlEvents, useHnsw = true,
      checkpointDir = Some(ctx.dir(s"stream-$tag/ckpt")),
      crossBatchMerge = true, coldDir = Some(coldDir),
      flushEveryBatches = SealEvery) { (df: DataFrame) =>
      val bid = Option(session.sparkContext.getLocalProperty("streaming.sql.batchId"))
        .map(_.toLong).getOrElse(-1L)
      val t0 = Trace.nowNs
      val rows = df.select("qid", "rn", "id", "dist").collect()
      val seen = System.nanoTime()
      val t1 = Trace.nowNs
      rows.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
        answers.put(qid, (seen, rs.sortBy(_.getInt(1))
          .map(x => (x.getLong(2), x.getDouble(3)))))
      }
      sinkRecs.synchronized(sinkRecs += ((bid, t0, t1)))
    }

    /** Offer `rate` rows/s for `seconds`, on schedule, from this thread. */
    def offer(rate: Double, seconds: Double, step: Int): StepRec = {
      val t0 = System.nanoTime()
      val e0 = Trace.nowNs
      val sch = Stats.Schedule(t0, rate)
      val n = (rate * seconds).toLong
      var i = 0L
      while (i < n) {
        val now = System.nanoTime()
        val due = math.min(n, sch.dueBy(now))
        if (due > i) {
          val buf = mutable.ArrayBuffer.empty[StreamEvent]
          val first = i
          while (i < due) { buf ++= feed.next(sch.dueNs(i), step); i += 1 }
          input.addData(buf.toSeq)
          val at = System.nanoTime()
          var j = first
          while (j < due) { lateness.record(sch.dueNs(j), at); j += 1 }
          handed += buf.size
          emitted.synchronized(emitted += ((Trace.nowNs, handed)))
        }
        if (i < n) {
          val wake = math.max(sch.dueNs(i), now + TickNs)
          val wait = wake - System.nanoTime()
          if (wait > 0) java.util.concurrent.locks.LockSupport.parkNanos(wait)
        }
      }
      StepRec(rate, t0, System.nanoTime(), e0, Trace.nowNs)
    }

    /** Wait until every row handed over so far is processed and every
     * query answered, or the limit. */
    def drain(limitS: Double): Unit = {
      val deadline = System.nanoTime() + (limitS * 1e9).toLong
      query.processAllAvailable()
      while (feed.queries.exists(q => !answers.containsKey(q.qid)) &&
          System.nanoTime() < deadline) Thread.sleep(20)
    }

    def stop(): Unit = {
      query.stop()
      session.streams.removeListener(progress)
    }
  }

  def fitModel(gen: Gen): PartitionerModel = {
    val sample = Array.tabulate(2048)(i => gen.vec(Gen.QueryIdBase / 2 + i))
    LshSfcPartitioner.fit(sample, numPartitions = Parts, dim = Gen.Dim,
      numFamilies = 2, numHashes = 8, width = 5f, bits = 7,
      curveName = "hilbert", seed = gen.seed)
  }

  /** Set-up: fit the partitioner, start the stream, run the warm-up step
   * until its queries are answered. Returns the running stream. */
  private def setUp(ctx: Ctx, tag: String): Running = {
    val model = Trace.span("partitioners.fit")(fitModel(ctx.gen))
    val run = new Running(ctx, model, tag)
    run.offer(WarmRate, WarmSeconds, -1)
    run.drain(DrainLimitS)
    // let the listener bus deliver the warm-up's last progress reports
    Thread.sleep(500)
    run
  }

  def run(ctx: Ctx): Result = {
    val tally = new Tally
    // set up several times and keep the last stream running; the median
    // set-up is the reported one
    val setups = mutable.ArrayBuffer.empty[Double]
    var running: Running = null
    (1 to SetupReps).foreach { i =>
      if (running != null) running.stop()
      val t0 = System.nanoTime()
      running = setUp(ctx, s"s$i")
      setups += (System.nanoTime() - t0) / 1e9
    }
    val run = running
    val warmQueries = run.feed.queries.size
    val nTriggersWarm = run.progress.all.size
    Main.log("set-up done")
    Trace.clear()
    ctx.jobs.reset()

    // each step is drained before the next starts, so no query of the
    // nominal step waits on a trigger that carries the overload's rows
    val stepsStart = Trace.nowNs
    val steps = Ladder.zipWithIndex.map { case ((rate, share), i) =>
      val s = run.offer(rate, ctx.seconds * share, i)
      run.drain(DrainLimitS)
      s
    }
    val windowEnd = Trace.nowNs
    Collectors.settle()
    val heapMb = Collectors.liveHeapMb()
    run.stop()
    Main.log("window done")

    val queries = run.feed.queries.drop(warmQueries).toSeq
    // answers, latencies, correctness
    var recallSum = 0.0
    var recallN = 0
    val latByStep = mutable.Map.empty[Int, mutable.ArrayBuffer[Double]]
    queries.foreach { q =>
      tally.attempt()
      Option(run.answers.get(q.qid)) match {
        case None => tally.fail()
        case Some((seen, ans)) =>
          latByStep.getOrElseUpdate(q.step, mutable.ArrayBuffer.empty) +=
            Stats.latencyMs(q.dueNs, seen)
          val (ids, vecs) = run.feed.admissible(q.ts)
          val idx = ids.zipWithIndex.toMap
          val truth = Oracle.topK(q.vec, K, ids, vecs, _ => true)
          Check.valid(ans.toSeq, K,
            id => idx.get(id).map(j => Oracle.l2(q.vec, vecs(j)))) match {
            case Some(why) => tally.violation(s"stream query ${q.qid}: $why")
            case None =>
              recallSum += Check.recall(ans.map(_._1).toSeq, truth.map(_._1).toSeq)
              recallN += 1
          }
      }
    }
    val recall = if (recallN == 0) 0.0 else recallSum / recallN
    if (recall < 0.5) tally.violation(f"stream recall@10 $recall%.3f below 0.5")

    // progress of the measured triggers
    val prog = run.progress.all.drop(nTriggersWarm)
    val absorbed = prog.map(p => (Collectors.triggerStartNs(p) +
      (Collectors.durationMs(p, "triggerExecution") * 1e6).toLong, p.numInputRows))
      .sortBy(_._1)
    val emitted = run.emitted.synchronized(run.emitted.toList)
    def backlogAt(t: Long): Long = {
      val in = emitted.takeWhile(_._1 <= t).lastOption.map(_._2).getOrElse(0L)
      val out = absorbed.takeWhile(_._1 <= t).map(_._2).sum +
        run.progress.all.take(nTriggersWarm).map(_.numInputRows).sum
      in - out
    }
    val stepStats = steps.zipWithIndex.map { case (s, i) =>
      val lat = latByStep.getOrElse(i, mutable.ArrayBuffer.empty[Double])
      val unanswered = queries.count(q => q.step == i && !run.answers.containsKey(q.qid))
      val tail =
        if (unanswered > 0 || lat.isEmpty) Double.PositiveInfinity
        else Stats.summarize(lat.toSeq).map(_.tail).getOrElse(lat.max)
      Stats.Step(s.rate, (s.endNs - s.startNs) / 1e9, backlogAt(s.startEpochNs),
        backlogAt(s.endEpochNs), tail)
    }
    val sustained = Stats.sustainedRate(stepStats, TailLimitMs, BacklogSlackRows)
    val nominal = latByStep.getOrElse(NominalStep, mutable.ArrayBuffer.empty[Double]).toSeq
    val summary = Stats.summarize(nominal)
    if (summary.isEmpty)
      tally.violation(s"only ${nominal.size} answered queries at the nominal step")
    val sm = summary.getOrElse(Stats.Summary(0, 0, 0, nominal.size))
    // ingest capacity: rows per second of trigger time over the overload
    // step's triggers that carried rows; a ratio of sums, so it does not
    // jump with how the step's rows happen to split into triggers
    val top = steps.last
    val saturated = prog.filter(p => Collectors.triggerStartNs(p) >= top.startEpochNs &&
      p.numInputRows > 0)
    val capacity = {
      val busyS = saturated.map(Collectors.durationMs(_, "triggerExecution")).sum / 1e3
      if (busyS <= 0) 0.0 else saturated.map(_.numInputRows).sum / busyS
    }

    val e2e = Map(
      "setup_s" -> (ctx.sessionReadyS + Stats.median(setups.toSeq)),
      "op_p50_ms" -> sm.p50,
      "op_tail_ms" -> sm.tail,
      "throughput_per_s" -> capacity,
      "recall_at_10" -> recall,
      "heap_live_mb" -> heapMb)

    // per-layer
    val sinks = run.sinkRecs.synchronized(run.sinkRecs.toList)
    val cat = try ColdTier.catalog(ctx.spark, run.coldDir)
      catch { case scala.util.control.NonFatal(_) => Array.empty[ColdTier.SegmentStats] }
    // a streaming flush seals its cold segment under the micro-batch id of
    // the trigger that sealed it, so the final catalog names the seal triggers
    val sealIds = cat.map(_.segmentId).toSet
    val trig = prog.filter(_.numInputRows > 0)
    def sealed_(p: StreamingQueryProgress): Boolean = sealIds.contains(p.batchId)
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val stateOps = prog.map(p => p.stateOperators.toSeq)
    val nTrig = math.max(1, prog.size)
    val windowS = (windowEnd - stepsStart) / 1e9
    val js = ctx.jobs.total(_ => true)
    val coldBytes = {
      val root = java.nio.file.Paths.get(run.coldDir)
      val st = java.nio.file.Files.walk(root)
      try st.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally st.close()
    }
    val routed = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    run.feed.insertTs.foreach { id =>
      run.model.dataPartitions(run.feed.vecOf(id), id).foreach(p => routed(p) += 1)
    }
    val layer = mutable.Map.empty[String, Double]
    layer ++= Map(
      "op_samples" -> sm.n.toDouble,
      "op_tail_pct" -> sm.tailPct,
      "sources.generator_late_ms" -> run.lateness.maxMs,
      "sources.backlog_rows" -> stepStats(NominalStep).backlogEnd.toDouble,
      "sources.sustained_rows_per_s" -> sustained,
      "streaming.seal_trigger_ms" -> med(
        trig.filter(sealed_).map(Collectors.durationMs(_, "triggerExecution"))),
      "streaming.nonseal_trigger_ms" -> med(
        trig.filterNot(sealed_).map(Collectors.durationMs(_, "triggerExecution"))),
      "streaming.sink_ms" -> med(sinks.map(s => (s._3 - s._2) / 1e6)),
      "streaming.state_rows" -> stateOps.map(_.map(_.numRowsTotal).sum.toDouble).maxOption.getOrElse(0.0),
      "streaming.state_mb" -> stateOps.map(_.map(_.memoryUsedBytes).sum / 1048576.0).maxOption.getOrElse(0.0),
      "store.segments_sealed" -> cat.length.toDouble,
      "store.cold_bytes_per_row" -> coldBytes.toDouble / math.max(1L, cat.map(_.count).sum),
      "partitioners.balance" -> Layers.balance(routed.values),
      "spark.jobs_per_trigger" -> js.jobs.toDouble / nTrig,
      "spark.tasks_per_trigger" -> js.tasks.toDouble / nTrig,
      "spark.shuffle_mb_per_trigger" ->
        (js.shuffleReadBytes + js.shuffleWriteBytes) / 1048576.0 / nTrig,
      "spark.cpu_util" -> Layers.cpuUtil(js.cpuNs, windowS, ctx.cores))
    layer ++= Layers.p50Max("streaming.state_commit_ms",
      stateOps.map(_.map(_.commitTimeMs).sum.toDouble))
    layer ++= Layers.p50Max("streaming.state_update_ms",
      stateOps.map(_.map(_.allUpdatesTimeMs).sum.toDouble))
    layer ++= Layers.p50Max("streaming.offset_commit_ms", prog.map(p =>
      Collectors.durationMs(p, "walCommit") + Collectors.durationMs(p, "commitOffsets")))
    layer ++= Layers.p50Max("streaming.query_planning_ms",
      prog.map(Collectors.durationMs(_, "queryPlanning")))
    layer ++= Layers.p50Max("streaming.add_batch_ms",
      prog.map(Collectors.durationMs(_, "addBatch")))
    layer ++= Layers.p50Max("streaming.trigger_ms",
      prog.map(Collectors.durationMs(_, "triggerExecution")))
    layer ++= Layers.p50Max("streaming.rows_per_trigger",
      prog.map(_.numInputRows.toDouble))
    if (Trace.on) {
      Main.writeTrace(ctx, "progress", prog.map(_.json).mkString("[\n", ",\n", "\n]\n"))
      layer ++= traceTriggers(prog, sinks, ctx.jobs.intervals, stepsStart, windowEnd)
      layer ++= Map("traced.op_p50_ms" -> sm.p50, "traced.throughput_per_s" -> capacity)
    }
    Main.log("stream steps: " + stepStats.map(s =>
      f"${s.rate}%.0f/s backlog ${s.backlogStart}->${s.backlogEnd} tail ${s.tailMs}%.0f ms")
      .mkString("; ") + f"; capacity $capacity%.0f rows/s; triggers ${prog.size}; " +
      f"window ${(windowEnd - stepsStart) / 1e9}%.1f s; sealed by triggers " +
      sealIds.toSeq.sorted.mkString(","))
    Result(tally, e2e, layer.toMap)
  }

  /** Spans of the measured triggers, laid out from Spark's own progress
   * durations in MicroBatchExecution's order, with the benchmark's sink
   * span and the Spark jobs nested inside; gaps between triggers are the
   * stream waiting on its source. */
  private def traceTriggers(prog: Seq[StreamingQueryProgress],
      sinks: Seq[(Long, Long, Long)], jobs: Seq[(String, Long, Long)],
      from: Long, to: Long): Map[String, Double] = {
    val sinkBy = sinks.map(s => s._1 -> s).toMap
    var cursorEnd = from
    val inner = mutable.ArrayBuffer.empty[Span]
    prog.sortBy(_.batchId).foreach { p =>
      val start = math.max(Collectors.triggerStartNs(p), cursorEnd)
      def ns(k: String) = (Collectors.durationMs(p, k) * 1e6).toLong
      val end = start + ns("triggerExecution")
      if (start < to) {
        if (start > cursorEnd) Trace.record("sources.wait", 0L, p.batchId, cursorEnd, start)
        val root = Trace.record("streaming.trigger", 0L, p.batchId, start, end)
        var c = start
        Seq("sources.latest_offset" -> "latestOffset",
          "streaming.wal_commit" -> "walCommit",
          "sources.get_batch" -> "getBatch",
          "streaming.query_planning" -> "queryPlanning",
          "streaming.add_batch" -> "addBatch",
          "streaming.offset_commit" -> "commitOffsets").foreach { case (name, key) =>
          val d = ns(key)
          val id = Trace.record(name, root, p.batchId, c, math.min(end, c + d))
          if (key == "addBatch") {
            val ab = Span(id, root, name, p.batchId, c, math.min(end, c + d))
            inner += ab
            sinkBy.get(p.batchId).foreach { case (_, s0, s1) =>
              val a = math.max(s0, ab.startNs)
              val b = math.min(s1, ab.endNs)
              if (b > a) {
                val sid = Trace.record("streaming.sink", id, p.batchId, a, b)
                inner += Span(sid, id, "streaming.sink", p.batchId, a, b)
                val lid = Trace.record("store.lifecycle", id, p.batchId, b, ab.endNs)
                inner += Span(lid, id, "store.lifecycle", p.batchId, b, ab.endNs)
              }
            }
          }
          c = math.min(end, c + d)
        }
        cursorEnd = end
      }
    }
    if (cursorEnd < to) Trace.record("sources.wait", 0L, -1L, cursorEnd, to)
    Layers.attachJobs(jobs, (op, _) => op == "", inner.toSeq)
    Layers.report(Trace.all, math.max(to, cursorEnd) / 1e9 - from / 1e9)
  }
}
