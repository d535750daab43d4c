package perfbench

/** Reference answers computed by the benchmark itself, off the clock,
 * with its own kernels (not the program's). */
object Oracle {
  /** Squared L2 with sequential double accumulation, the documented
   * contract of the program's exact kernels. */
  def l2(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) {
      val d = a(i).toDouble - b(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  /** Exact top-k of `q` over the rows `keep` admits, ascending (dist, id). */
  def topK(q: Array[Float], k: Int, ids: Array[Long], vecs: Array[Array[Float]],
      keep: Int => Boolean): Array[(Long, Double)] = {
    val heap = new java.util.PriorityQueue[(Long, Double)](k + 1,
      (x: (Long, Double), y: (Long, Double)) => {
        val c = java.lang.Double.compare(y._2, x._2)
        if (c != 0) c else java.lang.Long.compare(y._1, x._1)
      })
    var i = 0
    while (i < ids.length) {
      if (keep(i)) {
        heap.add((ids(i), l2(q, vecs(i))))
        if (heap.size > k) heap.poll()
      }
      i += 1
    }
    val out = new Array[(Long, Double)](heap.size)
    var j = out.length - 1
    while (!heap.isEmpty) { out(j) = heap.poll(); j -= 1 }
    out
  }

  def shingles(text: String, w: Int): Set[String] =
    if (text.length < w) Set.empty
    else (0 to text.length - w).map(i => text.substring(i, i + w)).toSet

  /** Exact Jaccard similarity of two texts' character w-shingle sets. */
  def jaccard(a: String, b: String, w: Int = 3): Double = {
    val sa = shingles(a, w)
    val sb = shingles(b, w)
    val inter = sa.count(sb.contains)
    val union = sa.size + sb.size - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }
}

/** Correctness rules. Each returns None when the answer passes and the
 * reason when it does not. */
object Check {
  /** Bit-exact: the same ids in the same order with identical distance bits. */
  def exact(answer: Seq[(Long, Double)], truth: Seq[(Long, Double)]): Option[String] =
    if (answer.length != truth.length)
      Some(s"returned ${answer.length} rows, expected ${truth.length}")
    else answer.zip(truth).zipWithIndex.collectFirst {
      case (((ai, ad), (ti, td)), r) if ai != ti ||
          java.lang.Double.doubleToLongBits(ad) != java.lang.Double.doubleToLongBits(td) =>
        s"rank ${r + 1}: got ($ai, $ad), expected ($ti, $td)"
    }

  /** An approximate answer must still be a well-formed one: at most k
   * rows, ascending (dist, id), no repeated id, every id admissible
   * (`distOf` knows it) and reported at its true distance. */
  def valid(answer: Seq[(Long, Double)], k: Int,
      distOf: Long => Option[Double], relTol: Double = 1e-4): Option[String] = {
    val ids = answer.map(_._1)
    if (answer.isEmpty) Some("empty answer")
    else if (answer.length > k) Some(s"${answer.length} rows for k=$k")
    else if (ids.distinct.length != ids.length) Some("repeated id")
    else if (answer.sliding(2).exists {
        case Seq((i1, d1), (i2, d2)) => d1 > d2 || (d1 == d2 && i1 > i2)
        case _ => false
      }) Some("not ascending by (dist, id)")
    else answer.collectFirst(Function.unlift { case (id, d) =>
      distOf(id) match {
        case None => Some(s"id $id is not admissible (deleted or outside the window)")
        case Some(t) if math.abs(t - d) > relTol * math.max(1.0, math.abs(t)) =>
          Some(s"id $id reported at $d, true distance $t")
        case _ => None
      }
    })
  }

  def recall(answer: Seq[Long], truth: Seq[Long]): Double =
    if (truth.isEmpty) 1.0 else answer.count(truth.toSet).toDouble / truth.length
}

/** Tally of one run: operations attempted, operations that failed or went
 * unanswered, and correctness violations (any violation fails the run). */
final class Tally {
  private var attemptedN = 0L
  private var failedN = 0L
  private val violationsB = scala.collection.mutable.ArrayBuffer.empty[String]
  def attempt(n: Long = 1): Unit = synchronized(attemptedN += n)
  def fail(n: Long = 1): Unit = synchronized(failedN += n)
  def violation(what: String): Unit = synchronized {
    failedN += 1
    violationsB += what
  }
  def attempted: Long = synchronized(attemptedN)
  def failed: Long = synchronized(failedN)
  def violations: Seq[String] = synchronized(violationsB.toList)
}
