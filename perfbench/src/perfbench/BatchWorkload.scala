package perfbench

import graft.Metric
import graft.functions.{Distances, Text}
import graft.ops.{Ann, Dedup}
import graft.partitioners.{KMeansPartitioner, PartitionerModel, SaltedPartitioner}
import org.apache.spark.sql.DataFrame
import scala.collection.mutable

/** Batch training-data curation: rounds of four jobs, one after another
 * — MinHash dedup with connected components, an exact all-kNN join over a
 * corpus slice, then for each corpus shard exact brute-force kNN and an
 * IVF-HNSW build + search over salted k-means cells — until the timed
 * seconds are used. An item (document, vector, query) waits for its
 * call's whole result, so a round's latency samples are its call times
 * weighted by items; sharding the corpus jobs gives the item-heavy ANN
 * job several calls per round. Every round does the same work, so the
 * run reports the median over its rounds of each round's p50 and tail:
 * a round's tail is one call (its slowest job), and a median over rounds
 * is steadier than the slowest call of the run. */
object BatchWorkload {
  val Shards = 4
  val M = 10000
  val DocBases = 400
  val JoinN = 1500
  val JoinK = 5
  /** Queries per exact and per ANN call. */
  val Queries = 16
  val K = 10
  val SetupReps = 2
  val Jobs: Seq[String] = Seq("dedup", "knn_join", "exact_knn", "ann")

  final case class Call(round: Int, job: String, items: Long, startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  /** The inputs; the corpus is cached per shard. */
  final class Data(ctx: Ctx) {
    val spark = ctx.spark
    import spark.implicits._
    val vecs: Array[Array[Float]] = Array.tabulate(M)(i => ctx.gen.vec(i.toLong))
    /** (doc_id, text, base doc_id); a variant follows its base. */
    val docs: Array[(Long, String, Long)] = ctx.gen.docs(DocBases)
    val docDf: DataFrame = docs.map(d => (d._1, d._2)).toSeq.toDF("doc_id", "text")
      .repartition(ctx.cores).cache()
    private def vecDf(from: Int, until: Int): DataFrame =
      (from until until).map(i => (i.toLong, vecs(i), i.toLong))
        .toDF("id", "vec", "eventTime").repartition(ctx.cores).cache()
    /** [from, until) ids of shard k of the first n vectors. */
    def range(k: Int, n: Int): (Int, Int) = (k * n / Shards, (k + 1) * n / Shards)
    val slice: DataFrame = vecDf(0, JoinN)
    val corpusDfs: Array[DataFrame] = Array.tabulate(Shards) { k =>
      val (a, b) = range(k, M); vecDf(a, b) }
    (docDf +: slice +: corpusDfs).foreach(_.count())
    def queries(round: Int, k: Int): Array[Array[Float]] =
      Array.tabulate(Queries)(i => ctx.gen.query(round * 1000L + k * 100L + i))
    def queryDf(qs: Array[Array[Float]]): DataFrame =
      qs.indices.map(i => (i.toLong, qs(i), Long.MaxValue / 2, Long.MaxValue / 2))
        .toDF("qid", "qv", "qtime", "ttl")
    def unpersist(): Unit = (docDf +: slice +: corpusDfs).foreach(_.unpersist())
  }

  /** What one round produced, for the off-the-clock checks. */
  final class RoundOut(val round: Int) {
    var pairs: Array[(Long, Long, Double)] = Array.empty
    var components: Map[Long, Long] = Map.empty
    var join: Map[Long, Array[(Long, Double)]] = Map.empty
    val shards: Array[ShardOut] = Array.tabulate(Shards)(new ShardOut(round, _))
    val sub = mutable.Map.empty[String, Double]
  }

  /** What the corpus jobs produced on one shard. */
  final class ShardOut(val round: Int, val shard: Int) {
    var queries: Array[Array[Float]] = Array.empty
    var exact: Map[Long, Array[(Long, Double)]] = Map.empty
    var ann: Map[Long, Array[Long]] = Map.empty
    var fitS = 0.0
    var model: PartitionerModel = null
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def fitCells(vecs: Array[Array[Float]], cells: Int, n: Int, target: Long,
      seed: Long): PartitionerModel =
    SaltedPartitioner.fromSample(KMeansPartitioner.fit(vecs, k = cells,
      replicationFactor = 1, iterations = 4, seed = seed, queryProbes = 2),
      vecs, n, targetPerPartition = target)

  /** One call of job `j` (on shard `k` for the corpus jobs); returns the
   * items it processed. */
  private def runJob(ctx: Ctx, d: Data, j: String, ro: RoundOut, k: Int): Long = {
    val spark = ctx.spark
    import spark.implicits._
    val out = ro.shards(k)
    j match {
      case "dedup" =>
        val (sigs, s1) = timed(Trace.span("ops.dedup.signatures") {
          val s = Dedup.minhashSignatures(d.docDf).cache(); s.count(); s })
        val (pairs, s2) = timed(Trace.span("ops.dedup.pairs") {
          val p = Dedup.minhashPairsFromSigs(sigs).cache(); p.count(); p })
        val (comps, s3) = timed(Trace.span("ops.dedup.components") {
          Dedup.connectedComponents(pairs.select("i", "j")).as[(Long, Long)].collect() })
        ro.pairs = pairs.as[(Long, Long, Double)].collect()
        ro.components = comps.toMap
        ro.sub ++= Map("signatures_s" -> s1, "pairs_s" -> s2, "components_s" -> s3)
        pairs.unpersist(); sigs.unpersist()
        d.docs.length
      case "knn_join" =>
        val model = Trace.span("partitioners.fit") {
          fitCells(d.vecs.take(JoinN), 16, JoinN, 500L, ctx.gen.seed + ro.round)
        }
        ro.join = Ann.knnJoin(d.slice, JoinK, model, Metric.L2)
          .as[(Long, Int, Long, Double)].collect()
          .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._2).map(r => (r._3, r._4)) }
        JoinN
      case "exact_knn" =>
        out.queries = d.queries(out.round, k)
        out.exact = Ann.bruteForce(d.corpusDfs(k), d.queryDf(out.queries), K, Metric.L2)
          .as[(Long, Int, Long, Double)].collect()
          .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._2).map(r => (r._3, r._4)) }
        Queries
      case "ann" =>
        val (a, b) = d.range(k, M)
        val (model, fitS) = timed(Trace.span("partitioners.fit") {
          fitCells(d.vecs.slice(a, b), 2 * ctx.cores, b - a,
            (b - a) / (2L * ctx.cores), ctx.gen.seed + 7 * out.round)
        })
        out.fitS = fitS
        out.model = model
        out.ann = Ann.search(d.corpusDfs(k), d.queryDf(out.queries), model, K, Metric.L2,
            useHnsw = true, hnswM = 16, efConstruction = 48, efSearch = 64)
          .select("qid", "id").as[(Long, Long)].collect()
          .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2) }
        (b - a) + Queries
    }
  }

  /** One round: dedup, the join, then per shard the exact and the ANN
   * job, so each ANN call is scored against the exact call before it. */
  private def round(ctx: Ctx, d: Data, r: Int, calls: mutable.ArrayBuffer[Call]): RoundOut = {
    val ro = new RoundOut(r)
    def call(j: String, k: Int): Unit = {
      val t0 = System.nanoTime()
      val items = Collectors.tagged(ctx.spark, s"$j#$r.$k") {
        Trace.span(s"ops.$j", r.toLong)(runJob(ctx, d, j, ro, k))
      }
      calls += Call(r, j, items, t0, System.nanoTime())
    }
    call("dedup", 0)
    call("knn_join", 0)
    (0 until Shards).foreach { k => call("exact_knn", k); call("ann", k) }
    ro
  }

  /** Off-the-clock checks of one round's outputs; returns the ANN recall. */
  private def check(ctx: Ctx, d: Data, ro: RoundOut, tally: Tally): Double = {
    val rnd = ctx.gen.rnd(5000 + ro.round)
    val annRecalls = ro.shards.map { out =>
      val where = s"round ${ro.round} shard ${out.shard}"
      val (a, b) = d.range(out.shard, M)
      val ids = (a until b).map(_.toLong).toArray
      val vecs = ids.map(i => d.vecs(i.toInt))
      // exact kNN: bit-exact against the benchmark's oracle on a sample
      (0 until 4).foreach { _ =>
        val qi = rnd.nextInt(Queries)
        val truth = Oracle.topK(out.queries(qi), K, ids, vecs, _ => true)
        Check.exact(out.exact.getOrElse(qi.toLong, Array.empty).toSeq, truth.toSeq)
          .foreach(w => tally.violation(s"exact_knn $where query $qi: $w"))
      }
      // ANN recall against bruteForce's answers
      val recall = (0 until Queries).map { qi =>
        Check.recall(out.ann.getOrElse(qi.toLong, Array.empty).toSeq,
          out.exact.getOrElse(qi.toLong, Array.empty).map(_._1).toSeq)
      }.sum / Queries
      if (recall < 0.5) tally.violation(f"ann $where recall $recall%.3f below 0.5")
      recall
    }
    val where = s"round ${ro.round}"
    // kNN join: well-formed, self excluded, recall against the oracle
    val joinIds = Array.tabulate(JoinN)(_.toLong)
    val joinVecs = d.vecs.take(JoinN)
    val joinRecall = (0 until 16).map { _ =>
      val q = rnd.nextInt(JoinN).toLong
      val ans = ro.join.getOrElse(q, Array.empty).toSeq
      val truth = Oracle.topK(d.vecs(q.toInt), JoinK, joinIds, joinVecs, _ != q)
      Check.valid(ans, JoinK, id =>
        if (id == q || id < 0 || id >= JoinN) None
        else Some(Oracle.l2(d.vecs(q.toInt), d.vecs(id.toInt))))
        .foreach(w => tally.violation(s"knn_join $where id $q: $w"))
      Check.recall(ans.map(_._1), truth.map(_._1).toSeq)
    }.sum / 16
    if (joinRecall < 0.5) tally.violation(f"knn_join $where recall $joinRecall%.3f below 0.5")
    // dedup: sampled pairs are real near-duplicates and share a component;
    // planted variants are found
    val text = d.docs.map(x => x._1 -> x._2).toMap
    (0 until math.min(200, ro.pairs.length)).foreach { _ =>
      val (i, j, _) = ro.pairs(rnd.nextInt(ro.pairs.length))
      val jac = Oracle.jaccard(text(i), text(j))
      if (jac < 0.3) tally.violation(f"dedup $where pair ($i, $j) exact jaccard $jac%.3f")
      if (ro.components.get(i) != ro.components.get(j))
        tally.violation(s"dedup $where pair ($i, $j) split across components")
    }
    val found = ro.pairs.map(p => (p._1, p._2)).toSet
    val planted = d.docs.filter(x => x._1 != x._3).map(x => (x._3, x._1))
      .filter { case (b, v) => Oracle.jaccard(text(b), text(v)) >= 0.8 }
    val hit = planted.count(found.contains).toDouble / math.max(1, planted.length)
    if (hit < 0.9) tally.violation(f"dedup $where found $hit%.3f of planted near-duplicates")
    annRecalls.sum / annRecalls.length
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val tally = new Tally
    // set-up: generate and cache the inputs (several times; median), then
    // one untimed full round so JIT and codegen are warm (after a
    // quarter-size one the first timed round ran ~1.5x as long as later ones)
    var data: Data = null
    val setups = (1 to SetupReps).map { _ =>
      if (data != null) data.unpersist()
      val (dd, s) = timed(new Data(ctx))
      data = dd
      s
    }
    val d = data
    val (_, warmS) = timed(round(ctx, d, 0, mutable.ArrayBuffer.empty[Call]))
    Main.log("set-up done")
    Trace.clear()
    ctx.jobs.reset()

    // whole rounds only, so every job keeps its share of the samples; a
    // round starts while at least half of it fits before the deadline
    val calls = mutable.ArrayBuffer.empty[Call]
    val outs = mutable.ArrayBuffer.empty[RoundOut]
    val t0 = System.nanoTime()
    val deadline = t0 + (ctx.seconds * 1e9).toLong
    var r = 1
    var lastNs = 0L
    while (r == 1 || System.nanoTime() + lastNs / 2 < deadline) {
      val a = System.nanoTime()
      outs += round(ctx, d, r, calls)
      lastNs = System.nanoTime() - a
      r += 1
    }
    val windowS = (System.nanoTime() - t0) / 1e9
    val heapMb = Collectors.liveHeapMb()
    Collectors.settle()
    tally.attempt(calls.size)

    val annRecall = outs.map(o => check(ctx, d, o, tally)).sum / outs.size
    val perRound = calls.groupBy(_.round).toSeq.sortBy(_._1).flatMap { case (_, cs) =>
      Stats.summarize(cs.flatMap(c => Iterator.fill(c.items.toInt)(c.seconds * 1e3)).toSeq)
    }
    if (perRound.isEmpty) tally.violation("no batch round completed")
    val sm =
      if (perRound.isEmpty) Stats.Summary(0, 0, 0, 0)
      else Stats.Summary(Stats.median(perRound.map(_.p50)),
        Stats.median(perRound.map(_.tailPct)), Stats.median(perRound.map(_.tail)),
        perRound.map(_.n).sum)
    val e2e = Map(
      "setup_s" -> (ctx.sessionReadyS + Stats.median(setups) + warmS),
      "op_p50_ms" -> sm.p50,
      "op_tail_ms" -> sm.tail,
      "throughput_per_s" -> calls.map(_.items).sum / calls.map(_.seconds).sum,
      "recall_at_10" -> annRecall,
      "heap_live_mb" -> heapMb)

    val layer = mutable.Map.empty[String, Double]
    layer ++= Map("op_samples" -> sm.n.toDouble, "op_tail_pct" -> sm.tailPct,
      "spark.cpu_util" -> Layers.cpuUtil(ctx.jobs.total(_.contains("#")).cpuNs,
        windowS, ctx.cores))
    val unit = Map("dedup" -> "docs_per_s", "knn_join" -> "vectors_per_s",
      "exact_knn" -> "queries_per_s", "ann" -> "vectors_per_s")
    Jobs.foreach { j =>
      val cs = calls.filter(_.job == j).toSeq
      layer(s"ops.$j.s") = Stats.median(cs.map(_.seconds))
      layer(s"ops.$j.${unit(j)}") = cs.map(_.items).sum / cs.map(_.seconds).sum
      val js = ctx.jobs.total(_.startsWith(s"$j#"))
      val tm = js.taskMs.sorted
      layer(s"spark.$j.task_skew") =
        if (tm.isEmpty) 0.0 else tm.last / math.max(1.0, Stats.percentile(tm.toArray, 50))
      layer(s"spark.$j.cpu_util") = Layers.cpuUtil(js.cpuNs, cs.map(_.seconds).sum, ctx.cores)
      layer(s"spark.$j.shuffle_mb") =
        (js.shuffleReadBytes + js.shuffleWriteBytes) / 1048576.0 / cs.size
    }
    Seq("signatures_s", "pairs_s", "components_s").foreach { k =>
      layer(s"ops.dedup.$k") = Stats.median(outs.map(_.sub(k)).toSeq)
    }
    layer("ops.dedup.pairs") = outs.last.pairs.length.toDouble
    layer("partitioners.fit_s") = Stats.median(outs.flatMap(_.shards.map(_.fitS)).toSeq)
    // off the clock, and only for the per-layer report of a traced run:
    // candidate yield, routed join pair mass, balance, kernels
    if (Trace.on) Collectors.tagged(spark, "probe") {
      import spark.implicits._
      val sigs = Dedup.minhashSignatures(d.docDf).cache()
      val candidates = Dedup.minhashPairsFromSigs(sigs, threshold = 0.0).count()
      layer("ops.dedup.candidate_yield") =
        outs.head.pairs.length.toDouble / math.max(1L, candidates)
      sigs.unpersist()
      val jm = fitCells(d.vecs.take(JoinN), 16, JoinN, 500L, ctx.gen.seed + 1)
      val (dr, qr) = Ann.selfJoinRouting(d.slice, jm)
      val nd = dr.groupByKey(_.pid).count().collect().toMap
      val nq = qr.groupByKey(_.pid).count().collect().toMap
      layer("ops.knn_join.pairs") = nd.map { case (p, n) => n * nq.getOrElse(p, 0L) }.sum.toDouble
      val last = outs.last.shards.last
      val routed = mutable.Map.empty[Int, Long].withDefaultValue(0L)
      val (la, lb) = d.range(last.shard, M)
      (la until lb).foreach(i => last.model.dataPartitions(d.vecs(i), i.toLong)
        .foreach(p => routed(p) += 1))
      layer("partitioners.balance") = Layers.balance(routed.values)
      val (_, l2S) = timed(Trace.span("functions.l2") {
        var acc = 0.0
        var i = 0
        while (i < 200000) { acc += Distances.l2(d.vecs(i % M), d.vecs((i * 7 + 1) % M)); i += 1 }
        acc
      })
      layer("functions.l2_ns_per_pair") = l2S * 1e9 / 200000
      val hasher = Text.MinHasher(64, ctx.gen.seed)
      val (_, mhS) = timed(Trace.span("functions.minhash") {
        d.docs.foreach(x => hasher.signature(x._2, 3))
      })
      layer("functions.minhash_us_per_doc") = mhS * 1e6 / d.docs.length
      val within = Trace.all.filter(s => s.name.startsWith("ops.") || s.name == "partitioners.fit")
      Layers.attachJobs(ctx.jobs.intervals, (op, _) => op.contains("#"), within)
      layer ++= Layers.report(Trace.all.filterNot(_.name.startsWith("functions.")),
        calls.map(_.seconds).sum)
      layer("layers.functions.self_s") = l2S + mhS
      layer ++= Map("traced.op_p50_ms" -> sm.p50,
        "traced.throughput_per_s" -> e2e("throughput_per_s"))
    }
    Main.log(f"batch: ${outs.size} rounds in $windowS%.1f s; " +
      Jobs.map(j => f"$j ${layer(s"ops.$j.s")}%.2f s").mkString(", ") +
      f"; ann recall $annRecall%.3f; setup ${setups.map(x => f"$x%.1f").mkString(" ")} + warm $warmS%.1f")
    Result(tally, e2e, layer.toMap)
  }
}
