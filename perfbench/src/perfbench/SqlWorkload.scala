package perfbench

import graft.Metric
import graft.plans.KnnIndex
import graft.store.ColdTier
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Closed-loop SQL kNN serving: set-up seals the corpus into time
 * segments, re-clusters the tier by label (`ColdTier.reclusterByAttr`,
 * HNSW sidecars) and registers it; then four clients issue `spark.sql`
 * top-10 statements back to back: 70% `label = x`, 15% `label IN (...)`
 * with 2-3 labels, 15% unfiltered, labels Zipf-skewed. The statements
 * form one sequence the clients take from in turn, so every run
 * sends the same mix in the same order. */
object SqlWorkload {
  val N = 3000
  val Labels = 10
  val TimeSegments = 4
  val CellsPerBucket = 2
  val Clients = 4
  val K = 10
  /** Set-up repetitions; each seals and re-clusters a fresh tier. One:
   * the first pass is mostly one-time JIT and codegen, and a second pass
   * would double the run. */
  val SetupReps = 1
  val ZipfS = 1.1
  val Classes: Seq[String] = Seq("eq", "in", "unfiltered")
  /** One block of twenty statement slots, shuffled per block. The slow
   * classes make up 30% so that the tail rank (n - 10) of the 50-100
   * statements a run completes lands inside them, not on their edge. */
  val Block: Seq[String] = Seq.fill(14)("eq") ++ Seq.fill(3)("in") ++ Seq.fill(3)("unfiltered")

  final case class Stmt(id: Long, cls: String, labels: Seq[Int], q: Array[Float])
  final case class Done(s: Stmt, startNs: Long, endNs: Long,
      phases: Map[String, (Long, Long)], answer: Array[(Long, Double)])

  final class Corpus(gen: Gen) {
    val ids: Array[Long] = Array.tabulate(N)(_.toLong)
    val vecs: Array[Array[Float]] = ids.map(gen.vec)
    val labels: Array[Int] = ids.map(gen.label(_, Labels))
  }

  def sqlText(view: String, s: Stmt): String = {
    val arr = s.q.map(f => s"CAST($f AS FLOAT)").mkString("array(", ",", ")")
    val where = s.cls match {
      case "eq" => s"WHERE label = ${s.labels.head}"
      case "in" => s"WHERE label IN (${s.labels.mkString(", ")})"
      case _ => ""
    }
    s"SELECT id, l2_distance(vec, $arr) AS dist FROM $view $where ORDER BY dist, id LIMIT $K"
  }

  /** Seal, re-cluster and register one tier; returns the view name and
   * the (seal, recluster) seconds. */
  private def setUp(ctx: Ctx, c: Corpus, rep: Int): (String, Double, Double) = {
    val spark = ctx.spark
    import spark.implicits._
    val tier = ctx.dir(s"sql-tier-$rep")
    val rows = c.ids.indices.map(i =>
      (i.toLong * TimeSegments / N, c.ids(i), c.vecs(i), c.ids(i), c.labels(i).toLong))
    val t0 = System.nanoTime()
    Trace.span("store.seal") {
      ColdTier.sealMany(rows.toDF("segmentId", "id", "vec", "eventTime", "label")
        .repartition(ctx.cores), tier)
    }
    val t1 = System.nanoTime()
    Trace.span("store.recluster") {
      ColdTier.reclusterByAttr(spark, tier, "label", buckets = Labels,
        cellsPerBucket = CellsPerBucket, metric = Metric.L2, m = 16,
        efConstruction = 64, buildIndexes = true, seed = ctx.gen.seed)
    }
    val t2 = System.nanoTime()
    val standin = ctx.dir(s"sql-corpus-$rep")
    rows.take(64).map(r => (r._2, r._3, r._5)).toDF("id", "vec", "label")
      .write.mode("overwrite").parquet(standin)
    graft.GraftFunctions.register(spark)
    KnnIndex.install(spark)
    KnnIndex.register(standin, tier, idCol = "id", vecCol = "vec",
      metric = Metric.L2, efSearch = 96, probeSegments = 12, shortlist = 96,
      filterColumns = Set("label"), filterOverfetch = 8)
    val view = s"bench_corpus_$rep"
    spark.read.parquet(standin).createOrReplaceTempView(view)
    (view, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
  }

  /** Warm-up: one `=` statement per label, so every label's segments are
   * admitted once, then one statement of each other class. */
  private def warmUp(ctx: Ctx, view: String): Unit = {
    val spark = ctx.spark
    val warm = (0 until Labels).map(l => Stmt(-1 - l, "eq", Seq(l), ctx.gen.query(-1 - l))) ++
      Seq(Stmt(-100, "in", Seq(0, 1), ctx.gen.query(-100)),
        Stmt(-101, "unfiltered", Nil, ctx.gen.query(-101)))
    warm.foreach(s => spark.sql(sqlText(view, s)).collect())
  }

  /** Statement `k` of the run's sequence. Its class and labels are the
   * same for every seed (which labels an IN names decides how it is
   * served, and so its cost); its query vector comes from the seed. */
  private def stmtAt(k: Long, gen: Gen, zipf: Gen.Zipf): Stmt = {
    val shape = new Gen(0L)
    val block = scala.util.Random.javaRandomToRandom(shape.rnd(10000 + k / Block.size))
      .shuffle(Block)
    stmt(k, block((k % Block.size).toInt), shape.rnd(20000 + k), gen, zipf)
  }

  private def stmt(id: Long, cls: String, r: java.util.Random, gen: Gen,
      zipf: Gen.Zipf): Stmt = {
    val labels = cls match {
      case "eq" => Seq(zipf.draw(r))
      case "in" =>
        val want = 2 + r.nextInt(2)
        val s = mutable.LinkedHashSet.empty[Int]
        while (s.size < want) s += zipf.draw(r)
        s.toSeq
      case _ => Nil
    }
    Stmt(id, cls, labels, gen.query(1000000L + id))
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val tally = new Tally
    val tg = System.nanoTime()
    val corpus = new Corpus(ctx.gen)
    val genS = (System.nanoTime() - tg) / 1e9
    // set up several times (the median is reported), warm the last tier once
    val setups = (1 to SetupReps).map { rep =>
      val x = setUp(ctx, corpus, rep); Main.log(s"set-up $rep done"); x }
    val view = setups.last._1
    val tw = System.nanoTime()
    warmUp(ctx, view)
    val warmS = (System.nanoTime() - tw) / 1e9
    Trace.clear()
    ctx.jobs.reset()

    // closed loop: the clients send statements back to back until the deadline
    val done = new java.util.concurrent.ConcurrentLinkedQueue[Done]()
    /** Client-side time of every attempt, answered or not. */
    val attemptNs = new java.util.concurrent.atomic.AtomicLong()
    val t0 = System.nanoTime()
    val deadline = t0 + (ctx.seconds * 1e9).toLong
    val next = new java.util.concurrent.atomic.AtomicLong()
    val zipf = new Gen.Zipf(Labels, ZipfS)
    val clients = (0 until Clients).map { c =>
      new Thread(() => {
        while (System.nanoTime() < deadline) {
          val s = stmtAt(next.getAndIncrement(), ctx.gen, zipf)
          tally.attempt()
          val a = System.nanoTime()
          try {
            val op = s"stmt-${s.id}"
            val (df, rows) = Collectors.tagged(spark, op) {
              Trace.span("plans.statement", s.id) {
                val df = spark.sql(sqlText(view, s))
                (df, df.collect())
              }
            }
            val b = System.nanoTime()
            val phases = df.queryExecution.tracker.phases.map { case (k, v) =>
              k -> (v.startTimeMs, v.endTimeMs) }
            attemptNs.addAndGet(b - a)
            done.add(Done(s, a, b, phases,
              rows.map(x => (x.getLong(0), x.getDouble(1)))))
          } catch {
            case scala.util.control.NonFatal(e) =>
              attemptNs.addAndGet(System.nanoTime() - a)
              tally.fail()
              System.err.println(s"[perfbench] statement ${s.id} failed: $e")
          }
        }
      }, s"perfbench-sql-client-$c")
    }
    clients.foreach(_.start())
    clients.foreach(_.join())
    val windowS = (System.nanoTime() - t0) / 1e9
    Main.log("window done")
    val heapMb = Collectors.liveHeapMb()
    Collectors.settle()

    val all = {
      val b = mutable.ArrayBuffer.empty[Done]
      done.forEach(d => b += d)
      b.toSeq.sortBy(_.s.id)
    }
    // correctness, off the clock: = and IN bit-exact, unfiltered valid + recall
    val recalls = new Array[Double](all.size)
    val problems = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    java.util.stream.IntStream.range(0, all.size).parallel().forEach { i =>
      val d = all(i)
      val keep: Int => Boolean = d.s.cls match {
        case "unfiltered" => _ => true
        case _ => j => d.s.labels.contains(corpus.labels(j))
      }
      val truth = Oracle.topK(d.s.q, K, corpus.ids, corpus.vecs, keep)
      val bad = d.s.cls match {
        case "unfiltered" => Check.valid(d.answer.toSeq, K,
          id => Some(Oracle.l2(d.s.q, corpus.vecs(id.toInt))))
        case _ => Check.exact(d.answer.toSeq, truth.toSeq)
      }
      bad.foreach(w => problems.add(s"sql ${d.s.cls} statement ${d.s.id}: $w"))
      recalls(i) = Check.recall(d.answer.map(_._1).toSeq, truth.map(_._1).toSeq)
    }
    problems.forEach(p => tally.violation(p))
    Main.log("checks done")

    val lat = all.map(d => (d.endNs - d.startNs) / 1e6)
    val summary = Stats.summarize(lat)
    if (summary.isEmpty) tally.violation(s"only ${lat.size} statements completed")
    val sm = summary.getOrElse(Stats.Summary(0, 0, 0, lat.size))
    val med = (xs: Seq[Double]) => if (xs.isEmpty) 0.0 else Stats.median(xs)
    val e2e = Map(
      "setup_s" -> (ctx.sessionReadyS + genS +
        Stats.median(setups.map(s => s._2 + s._3)) + warmS),
      "op_p50_ms" -> sm.p50,
      "op_tail_ms" -> sm.tail,
      "throughput_per_s" -> all.size / windowS,
      "recall_at_10" -> (if (all.isEmpty) 0.0 else recalls.sum / recalls.length),
      "heap_live_mb" -> heapMb)

    def phaseMs(d: Done, k: String): Double =
      d.phases.get(k).map { case (a, b) => (b - a).toDouble }.getOrElse(0.0)
    val phaseKeys = Seq("parse" -> "parsing", "analyze" -> "analysis",
      "optimize" -> "optimization", "planning" -> "planning")
    val layer = mutable.Map.empty[String, Double]
    layer ++= Map(
      "op_samples" -> sm.n.toDouble,
      "op_tail_pct" -> sm.tailPct,
      "setup.seal_s" -> Stats.median(setups.map(_._2)),
      "setup.recluster_s" -> Stats.median(setups.map(_._3)),
      "setup.warm_s" -> warmS,
      "plans.execute_ms" -> med(all.map(d =>
        (d.endNs - d.startNs) / 1e6 - phaseKeys.map(k => phaseMs(d, k._2)).sum)),
      "spark.cpu_util" -> Layers.cpuUtil(ctx.jobs.total(_.startsWith("stmt-")).cpuNs,
        windowS, ctx.cores))
    phaseKeys.foreach { case (name, key) =>
      layer(s"plans.${name}_ms") = med(all.map(phaseMs(_, key)))
    }
    Classes.foreach { c =>
      val ds = all.filter(_.s.cls == c)
      val js = ds.map(d => ctx.jobs.total(_ == s"stmt-${d.s.id}"))
      layer(s"sql.$c.p50_ms") = med(ds.map(d => (d.endNs - d.startNs) / 1e6))
      layer(s"spark.jobs_per_stmt.$c") = js.map(_.jobs).sum.toDouble / math.max(1, ds.size)
      layer(s"spark.tasks_per_stmt.$c") = js.map(_.tasks).sum.toDouble / math.max(1, ds.size)
    }
    layer("sql.unfiltered.recall_at_10") = {
      val rs = all.indices.filter(i => all(i).s.cls == "unfiltered").map(recalls)
      if (rs.isEmpty) 0.0 else rs.sum / rs.size
    }
    if (Trace.on) {
      // lay Spark's own phase intervals under each statement span
      val stmtSpans = Trace.all.filter(_.name == "plans.statement")
      val byOp = all.map(d => d.s.id -> d).toMap
      val inner = mutable.ArrayBuffer.empty[Span]
      stmtSpans.foreach { sp =>
        byOp.get(sp.op).foreach { d =>
          val ivs = phaseKeys.flatMap { case (name, key) =>
            d.phases.get(key).map { case (a, b) =>
              (s"plans.$name", Trace.epochMsToNs(a), Trace.epochMsToNs(b)) }
          }
          ivs.foreach { case (n, a, b) =>
            val s0 = math.max(a, sp.startNs)
            val s1 = math.min(b, sp.endNs)
            if (s1 > s0) inner += Span(Trace.record(n, sp.id, sp.op, s0, s1),
              sp.id, n, sp.op, s0, s1)
          }
          val execStart = (inner.filter(_.parent == sp.id).map(_.endNs) :+ sp.startNs).max
          inner += Span(Trace.record("plans.execute", sp.id, sp.op, execStart, sp.endNs),
            sp.id, "plans.execute", sp.op, execStart, sp.endNs)
        }
      }
      Layers.attachJobs(ctx.jobs.intervals, (op, sp) => op == s"stmt-${sp.op}", inner.toSeq)
      layer ++= Layers.report(Trace.all, attemptNs.get / 1e9)
      layer ++= Map("traced.op_p50_ms" -> sm.p50,
        "traced.throughput_per_s" -> all.size / windowS)
    }
    Main.log(f"sql: ${all.size} statements in $windowS%.1f s, " +
      Classes.map(c => f"$c ${layer(s"sql.$c.p50_ms")}%.1f ms / " +
        f"${layer(s"spark.jobs_per_stmt.$c")}%.1f jobs").mkString(", ") +
      f", setup ${setups.map(s => f"${s._2}%.1f+${s._3}%.1f").mkString(" ")} + warm $warmS%.1f")
    Result(tally, e2e, layer.toMap)
  }
}
