package perfbench

/** Per-layer roll-ups shared by the workloads. */
object Layers {
  /** The repository's modules, used as layer names. */
  val Names: Seq[String] =
    Seq("sources", "partitioners", "streaming", "store", "plans", "ops",
      "functions", "spark")

  /** Add `spark.job` spans for the finished Spark jobs: each job goes under
   * the innermost span in `within` that `owns` it (by the job's
   * `perfbench.op` tag) and contains its midpoint, and jobs
   * that overlap under one parent are merged into one span, so concurrent
   * jobs count their wall time once. Jobs no span contains are left out
   * (they ran outside the measured calls). */
  def attachJobs(jobs: Seq[(String, Long, Long)], owns: (String, Span) => Boolean,
      within: Seq[Span]): Unit = {
    val sorted = within.sortBy(_.startNs)
    val byParent = jobs.flatMap { case (op, t0, t1) =>
      val s = Trace.epochMsToNs(t0)
      val e = Trace.epochMsToNs(t1)
      val mid = (s + e) / 2
      sorted.filter(sp => owns(op, sp) && sp.startNs <= mid && mid <= sp.endNs).lastOption
        .map(p => (p, math.max(s, p.startNs), math.min(e, p.endNs)))
    }.groupBy(_._1)
    byParent.foreach { case (p, ivs) =>
      var cur: Option[(Long, Long)] = None
      ivs.map(x => (x._2, x._3)).sortBy(_._1).foreach { case (a, b) =>
        cur match {
          case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
          case Some((ca, cb)) =>
            Trace.record("spark.job", p.id, p.op, ca, cb); cur = Some((a, b))
          case None => cur = Some((a, b))
        }
      }
      cur.foreach { case (ca, cb) => Trace.record("spark.job", p.id, p.op, ca, cb) }
    }
  }

  /** Self seconds per layer over `spans`, and their sum as a share of the
   * end-to-end seconds the workload measured for the same work. */
  def report(spans: Seq[Span], e2eSeconds: Double): Map[String, Double] = {
    val self = Trace.layerSelfSeconds(spans)
    Names.map(l => s"layers.$l.self_s" -> self.getOrElse(l, 0.0)).toMap +
      ("layers.reconcile_ratio" -> self.values.sum / math.max(1e-9, e2eSeconds))
  }

  /** p50 and max of a metric, as `<name>.p50` / `<name>.max`. */
  def p50Max(name: String, xs: Seq[Double]): Map[String, Double] =
    if (xs.isEmpty) Map(s"$name.p50" -> 0.0, s"$name.max" -> 0.0)
    else Map(s"$name.p50" -> Stats.median(xs), s"$name.max" -> xs.max)

  /** Executor CPU time as a share of wall time times cores. */
  def cpuUtil(cpuNs: Long, wallS: Double, cores: Int): Double =
    cpuNs / 1e9 / math.max(1e-9, wallS * cores)

  /** (max - avg) / avg of per-partition counts. */
  def balance(counts: Iterable[Long]): Double = {
    val avg = counts.sum.toDouble / math.max(1, counts.size)
    if (avg == 0) 0.0 else (counts.max - avg) / avg
  }
}
