package perfbench

/** Tests of the benchmark's own logic (no Spark):
 * `python3 perfbench/run.py --self-test`. Exits 1 if any check fails. */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch {
      case e: Throwable =>
        failures += 1
        println(s"FAIL $name: ${e.getMessage}")
    }

  private def eq[A](got: A, want: A, what: String = ""): Unit =
    if (got != want) throw new AssertionError(s"$what got $got, want $want")

  def main(args: Array[String]): Unit = {
    test("tail rule: highest percentile with at least 10 samples beyond it") {
      eq(Stats.tailRank(19), None, "n=19")
      eq(Stats.tailRank(20), Some(10), "n=20")
      eq(Stats.tailRank(1000), Some(990), "n=1000")
      val s = Stats.summarize((1 to 100).map(_.toDouble).reverse).get
      eq(s.p50, 50.0, "p50")
      eq(s.tail, 90.0, "tail")
      eq(s.tailPct, 90.0, "pct")
      eq(s.n, 100, "n")
      // exactly 10 samples lie strictly above the tail value
      val xs = (1 to 137).map(i => (i * 7919 % 137).toDouble)
      val t = Stats.summarize(xs).get.tail
      eq(xs.count(_ > t), 10, "beyond")
      eq(Stats.summarize(Seq.fill(19)(1.0)), None, "too few")
    }

    test("open loop: latency runs from the due time, lateness is recorded") {
      val ms = 1000000L
      val sch = Stats.Schedule(t0Ns = 0L, rate = 1000.0)
      eq(sch.dueNs(0), 0L, "due 0")
      eq(sch.dueNs(250), 250 * ms, "due 250")
      eq(sch.dueBy(-1), 0L, "before start")
      eq(sch.dueBy(0), 1L, "at start")
      eq(sch.dueBy(9 * ms + 1), 10L, "after 9 ms")
      // the generator stalls for 200 ms after event 99: events 100..299
      // are all handed over together at 300 ms
      val late = new Stats.Lateness
      (0 until 100).foreach(i => late.record(sch.dueNs(i), sch.dueNs(i)))
      (100 until 300).foreach(i => late.record(sch.dueNs(i), 300 * ms))
      eq(late.count, 300L, "count")
      eq(late.maxMs, 200.0, "max lateness")
      // answered at 310 ms: event 100 waited 210 ms, not the 10 ms since it was sent
      eq(Stats.latencyMs(sch.dueNs(100), 310 * ms), 210.0, "latency from due")
      eq(Stats.latencyMs(sch.dueNs(299), 310 * ms), 11.0, "latency of the last")
    }

    test("sustained rate: backlog growth and tail limit both gate a step") {
      import Stats.Step
      val ok = Seq(Step(300, 7, 0, 500, 900), Step(750, 2, 500, 1900, 1200),
        Step(3000, 3, 1900, 9000, 2500))
      eq(Stats.sustainedRate(ok, limitMs = 3000, slackRows = 2000), 750.0, "backlog")
      val slow = Seq(Step(300, 7, 0, 300, 900), Step(750, 2, 300, 400, 3500))
      eq(Stats.sustainedRate(slow, 3000, 2000), 300.0, "tail")
      // a failing step ends the walk even if a higher one passes
      val gap = Seq(Step(300, 7, 0, 300, 900), Step(750, 2, 300, 5000, 900),
        Step(1000, 2, 5000, 5000, 900))
      eq(Stats.sustainedRate(gap, 3000, 2000), 300.0, "monotone")
      eq(Stats.sustainedRate(Seq(Step(300, 7, 0, 9000, 900)), 3000, 2000), 0.0, "none")
      eq(Stats.sustainedRate(Seq(Step(300, 7, 0, 0, Double.PositiveInfinity)), 3000, 2000),
        0.0, "unanswered")
    }

    test("correctness checks accept the oracle's answer and reject perturbed ones") {
      val r = new java.util.Random(3)
      val ids = Array.tabulate(200)(_.toLong)
      val vecs = Array.fill(200)(Array.fill(8)(r.nextGaussian().toFloat))
      val q = Array.fill(8)(r.nextGaussian().toFloat)
      val truth = Oracle.topK(q, 10, ids, vecs, _ => true).toSeq
      eq(truth.length, 10, "k rows")
      eq(truth.map(_._2), truth.map(_._2).sorted, "ascending")
      eq(Check.exact(truth, truth), None, "exact self")
      val bumped = truth.updated(3, (truth(3)._1, Math.nextUp(truth(3)._2)))
      assert(Check.exact(bumped, truth).isDefined, "one ulp off must fail")
      val swapped = truth.updated(0, truth(1)).updated(1, truth(0))
      assert(Check.exact(swapped, truth).isDefined, "swapped ranks must fail")
      assert(Check.exact(truth.take(9), truth).isDefined, "short answer must fail")
      val dist = (id: Long) => if (id == 7L) None else Some(Oracle.l2(q, vecs(id.toInt)))
      eq(Check.valid(truth.filterNot(_._1 == 7L), 10, dist), None, "valid")
      val worst = truth.last
      assert(Check.valid(truth.init :+ ((7L, worst._2 + 1)), 10, dist).isDefined,
        "a deleted id must fail")
      assert(Check.valid(truth.reverse, 10, id => Some(Oracle.l2(q, vecs(id.toInt)))).isDefined,
        "unsorted must fail")
      val wrongDist = truth.updated(2, (truth(2)._1, truth(2)._2 * 0.9))
      assert(Check.valid(wrongDist, 10, id => Some(Oracle.l2(q, vecs(id.toInt)))).isDefined,
        "a misreported distance must fail")
      eq(Check.recall(truth.take(5).map(_._1), truth.map(_._1)), 0.5, "recall")
      // ties go to the smaller id
      val tie = Oracle.topK(Array(0f), 2, Array(9L, 4L, 6L),
        Array(Array(1f), Array(1f), Array(-1f)), _ => true)
      eq(tie.map(_._1).toSeq, Seq(4L, 6L), "tie order")
      val tally = new Tally
      tally.attempt(4)
      tally.violation("x")
      eq((tally.attempted, tally.failed, tally.violations.size), (4L, 1L, 1), "tally")
    }

    test("self time subtracts the union of children") {
      val ss = Seq(Span(1, 0, "plans.statement", 0, 0, 100),
        Span(2, 1, "plans.parse", 0, 10, 30), Span(3, 1, "spark.job", 0, 20, 50),
        Span(4, 1, "spark.job", 0, 90, 120))
      val self = Trace.selfTimes(ss)
      eq(self(1L), 100L - 40L - 10L, "parent")
      val layers = Trace.layerSelfSeconds(ss)
      eq(math.round(layers("plans") * 1e9), 70L, "plans layer")
    }

    test("dedup oracle: shingle Jaccard") {
      eq(Oracle.jaccard("abcd", "abcd"), 1.0, "same")
      eq(Oracle.jaccard("abcd", "abce"), 1.0 / 3.0, "one of three")
    }

    if (failures > 0) { println(s"$failures failed"); sys.exit(1) }
    println("all passed")
  }
}
