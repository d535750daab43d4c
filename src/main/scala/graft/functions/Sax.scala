package graft.functions

/**
 * SAX (Symbolic Aggregate approXimation) encoding: z-normalize -> PAA ->
 * Gaussian-breakpoint alphabet -> pack symbols -> Gray-code the word.
 * Mirrors the reference's pipeline (reference: partitioner/sax/SAX.java:37-89,
 * which delegates znorm/paa/ts2Index to the public jmotif-sax library —
 * semantics below reproduce that library's published algorithms: Lin et al.,
 * "Experiencing SAX", DMKD 2007).
 *
 * @param paaSize number of PAA segments (symbols in the word)
 * @param width   bits per symbol; alphabet cardinality = 2^width
 * @param normalizationThreshold below this stdev the series is left
 *                               un-normalized (jmotif znorm convention)
 */
final case class Sax(paaSize: Int, width: Int, normalizationThreshold: Double)
    extends Serializable {
  private val cardinality = 1 << width
  private val cuts: Array[Double] = Sax.normalCuts(cardinality)

  def znorm(series: Array[Double]): Array[Double] = {
    val n = series.length
    var sum = 0.0
    var sumSq = 0.0
    var i = 0
    while (i < n) { sum += series(i); sumSq += series(i) * series(i); i += 1 }
    val mean = sum / n
    // clamp the variance term at 0: floating-point cancellation on large
    // constant series can push it slightly negative, and sqrt(negative) =
    // NaN would BYPASS the below-threshold guard (NaN < t is false) and
    // collapse the series to all-NaN; n == 1 (division by zero) likewise
    val varTerm =
      if (n < 2) 0.0 else math.max(0.0, (n * sumSq - sum * sum) / (n.toDouble * (n - 1)))
    val sd = math.sqrt(varTerm)
    if (sd < normalizationThreshold) series.clone()
    else series.map(v => (v - mean) / sd)
  }

  /** Piecewise Aggregate Approximation with fractional segment boundaries
   * (each of the len*paaSize virtual points contributes to one segment). */
  def paa(series: Array[Double]): Array[Double] = {
    val len = series.length
    if (len == paaSize) return series.clone()
    val out = new Array[Double](paaSize)
    var i = 0
    while (i < len * paaSize) {
      out(i / len) += series(i / paaSize)
      i += 1
    }
    i = 0
    while (i < paaSize) { out(i) /= len.toDouble; i += 1 }
    out
  }

  /** Symbol index = number of cuts <= value. */
  def ts2Index(values: Array[Double]): Array[Int] =
    values.map { v =>
      var c = 0
      while (c < cuts.length && cuts(c) <= v) c += 1
      c
    }

  def saxes(vector: Array[Float]): Array[Int] = {
    val ts = new Array[Double](vector.length)
    var i = 0
    while (i < vector.length) { ts(i) = vector(i).toDouble; i += 1 }
    ts2Index(paa(znorm(ts)))
  }

  /** Pack symbols MSB-first, then Gray-code the whole word
   * (reference SAX.encodeBig:52-66). */
  def encodeBig(vector: Array[Float]): BigInt = {
    var word = BigInt(0)
    saxes(vector).foreach { s => word = (word << width) + s }
    word ^ (word >> 1)
  }

  def encode(vector: Array[Float]): Int = {
    require(paaSize * width < 32, "The size of the SAX word is too large.")
    var word = 0
    saxes(vector).foreach { s => word = (word << width) + s }
    word ^ (word >> 1)
  }

  def maxWord: Int = {
    require(paaSize * width < 32, "The size of the SAX word is too large.")
    1 << (paaSize * width)
  }
}

object Sax {
  /** Equal-probability N(0,1) breakpoints, rounded to 2 decimals like the
   * classic published SAX alphabet tables: cuts(i) = qnorm((i+1)/a). */
  def normalCuts(cardinality: Int): Array[Double] = {
    require(cardinality >= 2, "alphabet cardinality must be >= 2")
    Array.tabulate(cardinality - 1) { i =>
      math.rint(inverseNormalCdf((i + 1).toDouble / cardinality) * 100.0) / 100.0
    }
  }

  /** Acklam's rational approximation to the inverse normal CDF
   * (public algorithm; |relative error| < 1.15e-9). */
  def inverseNormalCdf(p: Double): Double = {
    require(p > 0 && p < 1, s"p out of (0,1): $p")
    val a = Array(-3.969683028665376e+01, 2.209460984245205e+02, -2.759285104469687e+02,
      1.383577518672690e+02, -3.066479806614716e+01, 2.506628277459239e+00)
    val b = Array(-5.447609879822406e+01, 1.615858368580409e+02, -1.556989798598866e+02,
      6.680131188771972e+01, -1.328068155288572e+01)
    val c = Array(-7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e+00,
      -2.549732539343734e+00, 4.374664141464968e+00, 2.938163982698783e+00)
    val d = Array(7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e+00,
      3.754408661907416e+00)
    val pLow = 0.02425
    if (p < pLow) {
      val q = math.sqrt(-2 * math.log(p))
      (((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1)
    } else if (p <= 1 - pLow) {
      val q = p - 0.5
      val r = q * q
      (((((a(0) * r + a(1)) * r + a(2)) * r + a(3)) * r + a(4)) * r + a(5)) * q /
        (((((b(0) * r + b(1)) * r + b(2)) * r + b(3)) * r + b(4)) * r + 1)
    } else {
      val q = math.sqrt(-2 * math.log(1 - p))
      -(((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1)
    }
  }
}

/** Bounded top-λ frequency tracker for hot SAX words
 * (reference: partitioner/sax/HotTracer.java:9-108 — ring buffer of recent
 * words; a word is "hot" when among the λ most frequent in the window). */
final class HotTracer(windowSize: Int, lambda: Int) extends Serializable {
  private val window = new Array[Long](windowSize)
  private var size = 0
  private var head = 0
  private val counts = scala.collection.mutable.HashMap.empty[Long, Int]

  def offer(word: Long): Unit = {
    if (size == windowSize) {
      val old = window(head)
      val c = counts(old) - 1
      if (c == 0) counts.remove(old) else counts(old) = c
    } else size += 1
    window(head) = word
    head = (head + 1) % windowSize
    counts(word) = counts.getOrElse(word, 0) + 1
  }

  /** The λ most frequent words in the current window (ties by smaller word). */
  def hotWords: Set[Long] =
    counts.toSeq.sortBy { case (w, c) => (-c, w) }.take(lambda).map(_._1).toSet

  def isHot(word: Long): Boolean = hotWords.contains(word)
}
