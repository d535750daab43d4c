package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkEntry

/** Connected components — the dedup cluster-selection step. Components
 * must be exact on chains (worst-case diameter), cliques (the common
 * near-dup shape), stars, and disjoint unions thereof, and the driver
 * union-find and the distributed star contraction (forced with a driver
 * bound of 0) must return the same map. */
class DedupCcSpec extends AnyFunSuite {
  private lazy val spark = SparkEntry.configure(SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false"))
    .getOrCreate()

  private def toMap(df: DataFrame): Map[Long, Long] = {
    val rows = df.collect()
    val out = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == rows.length, "one row per id")
    df.unpersist()
    out
  }

  /** Both paths over one pair frame: (driver, distributed). */
  private def bothPaths(pairs: DataFrame): (Map[Long, Long], Map[Long, Long]) =
    (toMap(Dedup.connectedComponents(pairs)),
      toMap(Dedup.connectedComponents(pairs, 25, 0)))

  /** The components of a pair list, checked equal on both paths. */
  private def cc(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    val (driver, distributed) = bothPaths(pairs.toDF("i", "j"))
    assert(driver == distributed)
    driver
  }

  /** Reference components: every endpoint of a non-self-loop edge mapped
   * to its component's minimum id, by graph search. */
  private def reference(edges: Seq[(Option[Long], Option[Long])]): Map[Long, Long] = {
    val kept = edges.collect { case (Some(a), Some(b)) if a != b => (a, b) }
    val adj = kept.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    val out = scala.collection.mutable.Map.empty[Long, Long]
    adj.keys.toSeq.sorted.foreach { s =>
      if (!out.contains(s)) {
        val stack = scala.collection.mutable.Stack(s)
        out(s) = s
        while (stack.nonEmpty) adj(stack.pop()).foreach { v =>
          if (!out.contains(v)) { out(v) = s; stack.push(v) }
        }
      }
    }
    out.toMap
  }

  test("clique + chain + isolated pair resolve to min-id components") {
    spark.sparkContext.setLogLevel("ERROR")
    val clique = for (a <- 10L to 13L; b <- (a + 1) to 13L) yield (a, b)
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val pair = Seq((100L, 101L))
    val got = cc(clique ++ chain ++ pair)
    assert((1L to 4L).forall(got(_) == 1L))
    assert((10L to 13L).forall(got(_) == 10L))
    assert(got(100L) == 100L && got(101L) == 100L)
    assert(got.size == 10)
  }

  test("long chain converges (diameter rounds, not one)") {
    val n = 18L
    val chain = (1L until n).map(i => (i, i + 1))
    val got = cc(chain)
    assert((1L to n).forall(got(_) == 1L))
  }

  test("edge order and direction don't matter") {
    val a = cc(Seq((5L, 9L), (9L, 7L)))
    val b = cc(Seq((7L, 9L), (9L, 5L)))
    assert(a == b && a(7L) == 5L)
  }

  test("driver union-find and distributed contraction agree on seeded random graphs") {
    import spark.implicits._
    (0 until 3).foreach { seed =>
      val r = new java.util.Random(7919L * seed + 1)
      val ids = r.longs(4000L, 0L, 1L << 40).toArray.distinct
      var next = 0
      def take(n: Int): Array[Long] = { val s = ids.slice(next, next + n); next += n; s }
      val edges = Seq.newBuilder[(Option[Long], Option[Long])]
      def edge(a: Long, b: Long): Unit = edges += ((Some(a), Some(b)))
      (0 until 6).foreach { _ =>
        val c = take(3 + r.nextInt(10))
        for (i <- c.indices; j <- (i + 1) until c.length) edge(c(i), c(j))
      }
      (0 until 4).foreach { _ =>
        val s = take(2 + r.nextInt(40))
        s.tail.foreach(edge(s.head, _))
      }
      // chains of several hundred nodes, ids in random order along the path
      (0 until 2).foreach { _ =>
        val s = take(200 + r.nextInt(200))
        s.indices.tail.foreach(k => edge(s(k - 1), s(k)))
      }
      val plain = edges.result()
      // duplicate and reversed copies of some edges
      val dup = plain.filter(_ => r.nextInt(5) == 0)
      val rev = plain.filter(_ => r.nextInt(5) == 0).map(_.swap)
      val loner = take(1).head // its only edge is a self-loop
      val loops = Seq((Some(loner), Some(loner))) ++
        plain.take(5).map { case (a, _) => (a, a) }
      val nulls = Seq[(Option[Long], Option[Long])]((Some(take(1).head), None),
        (None, Some(take(1).head)), (None, None), (plain.head._1, None))
      val all = new scala.util.Random(r).shuffle(
        plain ++ dup ++ rev ++ loops ++ nulls)
      val df = all.toDF("i", "j").repartition(3)
      val (driver, distributed) = bothPaths(df)
      val want = reference(all)
      assert(driver == want, s"seed $seed: driver path")
      assert(distributed == want, s"seed $seed: distributed path")
      assert(!driver.contains(loner), "a self-loop alone puts no row out")
    }
  }

  test("a 2,000-node chain converges through the distributed fallback") {
    import spark.implicits._
    val ids = new scala.util.Random(20).shuffle((1L to 2000L).toVector)
    val chain = ids.indices.tail.map(k => (ids(k - 1), ids(k)))
    val got = toMap(Dedup.connectedComponents(chain.toDF("i", "j"), 25, 0))
    assert(got.size == 2000 && got.values.forall(_ == 1L))
  }

  /** Components of a chain whose ids rise along the path, on the
   * distributed fallback with the default round limit, checked equal to
   * the driver path. */
  private def risingChain(n: Long): Unit = {
    import spark.implicits._
    val chain = (1L until n).map(i => (i, i + 1)).toDF("i", "j")
    val (driver, distributed) = bothPaths(chain)
    assert(driver == distributed)
    assert(distributed.size == n && distributed.values.forall(_ == 1L))
  }

  test("a rising 100-node chain converges on the fallback") {
    risingChain(100L)
  }

  test("a rising 2,000-node chain converges on the fallback") {
    risingChain(2000L)
  }

  test("the fallback fails its round limit instead of hanging") {
    import spark.implicits._
    // 1 - 5 - 2: nodes 1 and 2 are both local minima, so the first round
    // leaves the edge (1, 2) and a second round is needed
    val pairs = Seq((1L, 5L), (5L, 2L)).toDF("i", "j")
    val run = scala.concurrent.Future(scala.util.Try(
      Dedup.connectedComponents(pairs, 1, 0)))(
      scala.concurrent.ExecutionContext.global)
    val got = scala.concurrent.Await.result(run,
      scala.concurrent.duration.Duration(120, "s"))
    val e = intercept[IllegalArgumentException](got.get)
    assert(e.getMessage.contains("no convergence in 1 rounds"))
    assert(toMap(Dedup.connectedComponents(pairs, 2, 0)) ==
      Map(1L -> 1L, 2L -> 1L, 5L -> 1L))
  }

  test("both paths read an empty or all-self-loop pair list as no rows") {
    import spark.implicits._
    val (d0, s0) = bothPaths(Seq.empty[(Long, Long)].toDF("i", "j"))
    val (d1, s1) = bothPaths(Seq((3L, 3L)).toDF("i", "j"))
    assert(d0.isEmpty && s0.isEmpty && d1.isEmpty && s1.isEmpty)
  }

  /** Jobs started while a marked thread runs, read from the listener
   * bus; [[settle]] runs a marker job so every earlier event is counted. */
  private final class MarkedJobs extends org.apache.spark.scheduler.SparkListener {
    @volatile var counted = 0
    @volatile private var markers = 0
    override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      Option(e.properties).foreach { p =>
        if (p.getProperty("graft.test.marker") != null) markers += 1
        else if (p.getProperty("graft.test.count") != null) counted += 1
      }
    def count[A](f: => A): A = {
      val sc = spark.sparkContext
      sc.setLocalProperty("graft.test.count", "1")
      try f finally sc.setLocalProperty("graft.test.count", null)
    }
    def settle(): Unit = {
      val want = markers + 1
      val sc = spark.sparkContext
      sc.setLocalProperty("graft.test.marker", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.test.marker", null)
      val deadline = System.currentTimeMillis() + 60000L
      while (markers < want && System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(markers >= want, "listener bus did not deliver the marker job")
    }
  }

  test("job budget: components of 1,200 near-dup docs plus the caller's collect run at most 2 Spark jobs") {
    import spark.implicits._
    // 400 random-word documents, each followed by 2 variants with ~8% of
    // words replaced: the shape the batch curation benchmark dedups
    val r = new java.util.Random(29)
    val vocab = Array.fill(4000)(
      new String(Array.fill(3 + r.nextInt(7))(('a' + r.nextInt(26)).toChar)))
    val docs = (0 until 400).flatMap { _ =>
      val words = Array.fill(30 + r.nextInt(31))(vocab(r.nextInt(vocab.length)))
      words.mkString(" ") +: (0 until 2).map(_ =>
        words.map(w => if (r.nextDouble() < 0.08) vocab(r.nextInt(vocab.length)) else w)
          .mkString(" "))
    }.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val docDf = docs.toDF("doc_id", "text").repartition(4).cache()
    val pairs = Dedup.minhashPairs(docDf).cache()
    val edges = pairs.select(col("i"), col("j")).as[(Long, Long)].collect()
      .map { case (i, j) => (Option(i), Option(j)) }
    assert(edges.length >= 800, s"benchmark-sized edge list: ${edges.length} pairs")
    val jobs = new MarkedJobs
    spark.sparkContext.addSparkListener(jobs)
    val got = try {
      val out = jobs.count {
        Dedup.connectedComponents(pairs.select(col("i"), col("j")))
          .as[(Long, Long)].collect()
      }
      jobs.settle()
      out
    } finally {
      spark.sparkContext.removeSparkListener(jobs)
      pairs.unpersist(); docDf.unpersist()
    }
    assert(jobs.counted <= 2, s"components + collect ran ${jobs.counted} jobs")
    assert(got.toMap == reference(edges.toSeq))
  }

  test("bucketPairs: a bucket of exactly maxBucketSize ids emits all its pairs, one more emits none") {
    import spark.implicits._
    val cap = 40
    // bucket (0, 7) holds docs 1..cap, bucket (1, 9) holds docs 101..101+cap;
    // every doc has the same simhash, so every candidate passes the
    // Hamming filter and the output is exactly the enumerated pairs
    val full = (1L to cap.toLong).map(d => (d, 0L, 0, 7L))
    val over = (101L to 101L + cap).map(d => (d, 0L, 1, 9L))
    val banded = (full ++ over).toDF("doc_id", "sh", "band_idx", "band_key")
      .repartition(3)
    val got = Dedup.simhashPairsFromBands(banded, maxHamming = 3, maxBucketSize = cap)
      .select(col("i"), col("j")).as[(Long, Long)].collect().toSet
    val want = (for (i <- 1L to cap.toLong; j <- (i + 1) to cap.toLong) yield (i, j)).toSet
    assert(got == want)
  }
}
