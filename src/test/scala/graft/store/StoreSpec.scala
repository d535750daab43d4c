package graft.store

import org.scalatest.funsuite.AnyFunSuite
import graft.Metric
import graft.functions.Distances

class StoreSpec extends AnyFunSuite {
  private def randomVecs(n: Int, dim: Int, seed: Long): Array[Array[Float]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(n)(Array.fill(dim)(rnd.nextGaussian().toFloat))
  }

  private def bruteForce(vecs: Array[Array[Float]], q: Array[Float], k: Int,
      live: Int => Boolean = _ => true): Array[Long] =
    vecs.indices.filter(live)
      .map(i => (i.toLong, Distances.l2(q, vecs(i))))
      .sortBy { case (id, d) => (d, id) }.take(k).map(_._1).toArray

  test("ExactStore matches brute force, honors ttl window and deletes") {
    val vecs = randomVecs(500, 16, 1L)
    val s = new ExactStore(Metric.L2)
    vecs.zipWithIndex.foreach { case (v, i) => s.put(i.toLong, i.toLong, v) }
    val q = vecs(7)
    assert(s.search(q, 10).map(_._1).sameElements(bruteForce(vecs, q, 10)))
    // freshness: only ts in [100, 200]
    val got = s.search(q, 10, 100L, 200L).map(_._1)
    assert(got.forall(id => id >= 100 && id <= 200))
    // delete the best hit (itself)
    s.delete(7L)
    assert(!s.search(q, 10).map(_._1).contains(7L))
    // upsert: re-insert id 7 with a new vector far away
    s.put(7L, 999L, Array.fill(16)(100f))
    assert(!s.search(q, 10).map(_._1).contains(7L)) // new version is far
    assert(s.size == 500)
  }

  test("HnswStore recall@10 >= 0.9 vs brute force on 2000 gaussian vectors") {
    val vecs = randomVecs(2000, 32, 2L)
    val s = new HnswStore(Metric.L2, m = 16, efConstruction = 128, efSearch = 64)
    vecs.zipWithIndex.foreach { case (v, i) => s.put(i.toLong, 0L, v) }
    val rnd = new java.util.Random(3L)
    val recalls = (0 until 50).map { _ =>
      val q = vecs(rnd.nextInt(2000))
      val truth = bruteForce(vecs, q, 10).toSet
      val got = s.search(q, 10).map(_._1)
      got.count(truth.contains).toDouble / 10
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.9, s"mean recall $mean")
  }

  test("HnswStore: deletes, upserts and freshness filtering") {
    val vecs = randomVecs(300, 16, 4L)
    val s = new HnswStore(Metric.L2, efSearch = 64)
    vecs.zipWithIndex.foreach { case (v, i) => s.put(i.toLong, i.toLong, v) }
    val q = vecs(5)
    assert(s.search(q, 5).map(_._1).contains(5L))
    s.delete(5L)
    assert(!s.search(q, 5).map(_._1).contains(5L))
    assert(s.size == 299)
    // freshness window excludes old elements
    val fresh = s.search(q, 10, 250L, 400L).map(_._1)
    assert(fresh.nonEmpty && fresh.forall(id => id >= 250))
    // upsert: new version of id 10 at the query point wins
    s.put(10L, 300L, q.clone())
    val top = s.search(q, 3).map(_._1)
    assert(top.contains(10L))
    assert(s.size == 299) // id 5 deleted; id 10 upsert replaces, not adds
  }

  test("HnswStore widens ef under heavy staleness / narrow freshness windows") {
    val vecs = randomVecs(300, 8, 9L)
    val s = new HnswStore(Metric.L2, m = 8, efConstruction = 32, efSearch = 16)
    // 90% stale: every label re-put 10 times (only the last version live)
    (0 until 10).foreach { v =>
      vecs.zipWithIndex.foreach { case (x, i) =>
        s.put(i.toLong, v * 1000L + i, x)
      }
    }
    val q = vecs(5)
    val full = s.search(q, 10)
    assert(full.length == 10, s"stale graph must still fill k: ${full.length}")
    assert(full.map(_._1).sameElements(bruteForce(vecs, q, 10)))
    // narrow window: only the final versions of labels 0..4 are fresh
    val narrow = s.search(q, 10, 9000L, 9004L).map(_._1)
    assert(narrow.toSet == Set(0L, 1L, 2L, 3L, 4L),
      s"narrow window must find every fresh element: ${narrow.toList}")
  }

  test("HnswStore in-walk filtered search: 1% attribute recall, v2 roundtrip, fallback on family mismatch / missing column") {
    val vecs = randomVecs(3000, 16, 11L)
    // 1% attribute, deliberately uncorrelated with vector space; the
    // store compares opaque longs, so the test can use the label itself
    val labels = Array.tabulate(3000)(i => (i % 100).toLong)
    val s = new HnswStore(Metric.L2, m = 16, efConstruction = 128,
      efSearch = 64)
    vecs.zipWithIndex.foreach { case (v, i) => s.put(i.toLong, 0L, v) }
    s.setAttrHashes("label", numeric = true, labels)
    assert(s.attrColumns == Set("label"))
    val rnd = new java.util.Random(12L)
    val recalls = (0 until 30).map { _ =>
      val qi = rnd.nextInt(3000)
      val q = vecs(qi)
      val lbl = (qi % 100).toLong
      val truth = bruteForce(vecs, q, 10, i => i % 100 == qi % 100).toSet
      val got = s.searchFiltered(q, 10, Long.MinValue, Long.MaxValue,
        "label", qNumeric = true, lbl)
      assert(got.forall { case (id, _) => id % 100 == lbl },
        "in-walk acceptance admitted a non-matching node")
      got.count(t => truth.contains(t._1)).toDouble / 10
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.9, s"in-walk filtered recall $mean")
    // v2 serialization roundtrip carries the hashes
    val bos = new java.io.ByteArrayOutputStream()
    s.writeTo(new java.io.DataOutputStream(bos))
    val r = HnswStore.readFrom(new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray)), efSearch = 64)
    assert(r.attrColumns == Set("label"))
    val q = vecs(123)
    assert(r.searchFiltered(q, 10, Long.MinValue, Long.MaxValue,
        "label", qNumeric = true, 23L)
      .sameElements(s.searchFiltered(q, 10, Long.MinValue, Long.MaxValue,
        "label", qNumeric = true, 23L)))
    // family mismatch / unknown column: conservative unfiltered fallback
    assert(s.searchFiltered(q, 10, Long.MinValue, Long.MaxValue,
        "label", qNumeric = false, 23L).sameElements(s.search(q, 10)))
    assert(s.searchFiltered(q, 10, Long.MinValue, Long.MaxValue,
        "other", qNumeric = true, 23L).sameElements(s.search(q, 10)))
    // an attribute-less graph still writes byte-format v1
    val s1 = new HnswStore(Metric.L2, efSearch = 32)
    vecs.take(50).zipWithIndex.foreach { case (v, i) => s1.put(i.toLong, 0L, v) }
    val bos1 = new java.io.ByteArrayOutputStream()
    s1.writeTo(new java.io.DataOutputStream(bos1))
    assert(bos1.toByteArray()(4) == 1, "attribute-less sidecar must stay v1")
    val r1 = HnswStore.readFrom(new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bos1.toByteArray)))
    assert(r1.attrColumns.isEmpty)
  }

  test("HnswStore in-walk literal-conjunction search: IN any-of, AND across columns, per-conjunct fallback") {
    val vecs = randomVecs(3000, 16, 13L)
    val labels = Array.tabulate(3000)(i => (i % 100).toLong)
    val parity = Array.tabulate(3000)(i => (i % 2).toLong)
    val s = new HnswStore(Metric.L2, m = 16, efConstruction = 128,
      efSearch = 64)
    vecs.zipWithIndex.foreach { case (v, i) => s.put(i.toLong, 0L, v) }
    s.setAttrHashes("label", numeric = true, labels)
    s.setAttrHashes("parity", numeric = true, parity)
    // IN = any-of within one conjunct: 2 of 100 labels (hashes SORTED —
    // the acceptance predicate binary-searches)
    val inSet = Array(17L, 63L)
    val rnd = new java.util.Random(14L)
    val recalls = (0 until 30).map { _ =>
      val q = vecs(rnd.nextInt(3000))
      val truth = bruteForce(vecs, q, 10,
        i => i % 100 == 17 || i % 100 == 63).toSet
      val got = s.searchFilteredConj(q, 10, Long.MinValue, Long.MaxValue,
        Array(("label", true, inSet)))
      assert(got.forall { case (id, _) => id % 100 == 17 || id % 100 == 63 },
        "IN acceptance admitted a node outside the value set")
      got.count(t => truth.contains(t._1)).toDouble / 10
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.9, s"in-walk IN recall $mean")
    // AND across conjuncts: label IN (17, 63) AND parity = 1
    val q = vecs(123)
    val conj = s.searchFilteredConj(q, 10, Long.MinValue, Long.MaxValue,
      Array(("label", true, inSet), ("parity", true, Array(1L))))
    assert(conj.nonEmpty)
    assert(conj.forall { case (id, _) =>
      (id % 100 == 17 || id % 100 == 63) && id % 2 == 1
    }, "conjunction acceptance admitted a node failing a conjunct")
    // per-conjunct fallback: an unknown column's conjunct drops out —
    // the remaining conjunct still filters
    val partial = s.searchFilteredConj(q, 10, Long.MinValue, Long.MaxValue,
      Array(("label", true, inSet), ("other", true, Array(1L))))
    assert(partial.forall { case (id, _) =>
      id % 100 == 17 || id % 100 == 63
    }, "the evaluable conjunct must keep filtering when another drops")
    // all conjuncts unevaluable (unknown column / family mismatch):
    // the unfiltered walk, bit-for-bit
    assert(s.searchFilteredConj(q, 10, Long.MinValue, Long.MaxValue,
      Array(("other", true, Array(1L)), ("label", false, inSet)))
      .sameElements(s.search(q, 10)))
  }

  test("HnswStore in-walk range search: closed-hull acceptance over canonical values, v3 roundtrip, NaN nulls rejected, fallback without values") {
    val vecs = randomVecs(3000, 16, 15L)
    // canonical double score 0..99 striped across ids; id 0's score is
    // NaN (a sealed null) — it must fail every interval
    val score = Array.tabulate(3000)(i =>
      if (i == 0) Double.NaN else (i % 100).toDouble)
    val s = new HnswStore(Metric.L2, m = 16, efConstruction = 128,
      efSearch = 64)
    vecs.zipWithIndex.foreach { case (v, i) => s.put(i.toLong, 0L, v) }
    s.setAttrValues("score", score)
    assert(s.attrValueColumns == Set("score"))
    val noConj = Array.empty[(String, Boolean, Array[Long])]
    // narrow band [17, 18] — 2% selectivity; closed-hull inclusive
    val rnd = new java.util.Random(16L)
    val recalls = (0 until 30).map { _ =>
      val q = vecs(rnd.nextInt(3000))
      val truth = bruteForce(vecs, q, 10,
        i => i != 0 && (i % 100 == 17 || i % 100 == 18)).toSet
      val got = s.searchFilteredConj(q, 10, Long.MinValue, Long.MaxValue,
        noConj, Array(("score", 17.0, 18.0)))
      assert(got.forall { case (id, _) =>
        id != 0L && (id % 100 == 17 || id % 100 == 18)
      }, "range acceptance admitted a node outside the closed hull")
      got.count(t => truth.contains(t._1)).toDouble / 10
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.9, s"in-walk range recall $mean")
    // NaN (sealed null OR genuine NaN) fails every UPPER-BOUNDED
    // interval, but is admitted when the hull is upper-unbounded —
    // Spark orders NaN above every numeric, so `score > x` (no upper
    // bound) truly matches a NaN attribute and the acceptance must not
    // lose it (a sealed null riding along is dropped by the exact
    // re-rank — admit-only either way)
    val q = vecs(123)
    val bounded = s.searchFilteredConj(q, 3000, Long.MinValue,
      Long.MaxValue, noConj,
      Array(("score", Double.NegativeInfinity, 99.0)))
    assert(!bounded.exists(_._1 == 0L),
      "NaN must fail an upper-bounded interval")
    val unbounded = s.searchFilteredConj(q, 3000, Long.MinValue,
      Long.MaxValue, noConj,
      Array(("score", 0.0, Double.PositiveInfinity)))
    assert(unbounded.exists(_._1 == 0L),
      "NaN must be ADMITTED when the hull has no upper bound")
    // range AND hash conjunct compose
    s.setAttrHashes("parity",  numeric = true,
      Array.tabulate(3000)(i => (i % 2).toLong))
    val both = s.searchFilteredConj(q, 10, Long.MinValue, Long.MaxValue,
      Array(("parity", true, Array(1L))), Array(("score", 17.0, 18.0)))
    assert(both.forall { case (id, _) =>
      id % 2 == 1 && (id % 100 == 17 || id % 100 == 18)
    }, "hash + range conjunction must both apply")
    // v3 roundtrip carries the values
    val bos = new java.io.ByteArrayOutputStream()
    s.writeTo(new java.io.DataOutputStream(bos))
    assert(bos.toByteArray()(4) == 3, "value-carrying sidecar must be v3")
    val r = HnswStore.readFrom(new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray)), efSearch = 64)
    assert(r.attrValueColumns == Set("score"))
    assert(r.searchFilteredConj(q, 10, Long.MinValue, Long.MaxValue,
        noConj, Array(("score", 17.0, 18.0)))
      .sameElements(s.searchFilteredConj(q, 10, Long.MinValue,
        Long.MaxValue, noConj, Array(("score", 17.0, 18.0)))))
    // a column without sealed values drops its range conjunct —
    // unfiltered walk, bit-for-bit
    assert(s.searchFilteredConj(q, 10, Long.MinValue, Long.MaxValue,
      noConj, Array(("other", 17.0, 18.0)))
      .sameElements(s.search(q, 10)))
    // hash-only graphs stay byte-format v2
    val s2 = new HnswStore(Metric.L2, efSearch = 32)
    vecs.take(50).zipWithIndex.foreach { case (v, i) => s2.put(i.toLong, 0L, v) }
    s2.setAttrHashes("label", numeric = true,
      Array.tabulate(50)(_.toLong))
    val bos2 = new java.io.ByteArrayOutputStream()
    s2.writeTo(new java.io.DataOutputStream(bos2))
    assert(bos2.toByteArray()(4) == 2, "hash-only sidecar must stay v2")
  }

  test("HnswStore is deterministic for the same insert sequence") {
    val vecs = randomVecs(400, 16, 6L)
    def build() = {
      val s = new HnswStore(Metric.L2, seed = 99L)
      vecs.zipWithIndex.foreach { case (v, i) => s.put(i.toLong, 0L, v) }
      s
    }
    val a = build(); val b = build()
    val q = randomVecs(1, 16, 7L)(0)
    assert(a.search(q, 10).sameElements(b.search(q, 10)))
  }

  test("HnswStore: 8 threads x 200 queries over one shared graph give " +
      "exactly the single-thread answers") {
    val big = randomVecs(2000, 16, 8L)
    val small = randomVecs(300, 16, 9L)
    def build(vs: Array[Array[Float]], seed: Long) = {
      val s = new HnswStore(Metric.L2, m = 8, efConstruction = 64,
        efSearch = 32, seed = seed)
      vs.zipWithIndex.foreach { case (v, i) => s.put(i.toLong, i.toLong, v) }
      s.setAttrHashes("label", numeric = true,
        Array.tabulate(vs.length)(i => (i % 7).toLong))
      s
    }
    // two graphs of different sizes, searched alternately by every
    // thread: a borrowed scratch is reused across graphs
    val a = build(big, 10L)
    val b = build(small, 11L)
    val qs = randomVecs(200, 16, 12L)
    // mixed depths, windows and in-walk filters, so the beam and the
    // result buffers grow differently per query
    def answer(i: Int): Seq[(Long, Double)] = {
      val k = 5 + i % 40
      val store = if (i % 3 == 0) b else a
      if (i % 4 == 0)
        store.searchFilteredConj(qs(i), k, 0L, Long.MaxValue,
          Array(("label", true, Array((i % 7).toLong)))).toSeq
      else store.search(qs(i), k, (i % 5) * 100L, Long.MaxValue).toSeq
    }
    val expected = qs.indices.map(answer)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (0 until 8).map { t =>
        pool.submit(new java.util.concurrent.Callable[Seq[Int]] {
          // each thread runs all 200 queries, starting at its own offset
          def call(): Seq[Int] = qs.indices.map(j => (j + 25 * t) % qs.length)
            .filter(i => answer(i) != expected(i))
        })
      }
      val wrong = futures.flatMap(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(wrong.isEmpty, s"queries answered differently under " +
        s"concurrency: ${wrong.distinct.sorted.take(20)}")
    } finally pool.shutdownNow()
  }
}
