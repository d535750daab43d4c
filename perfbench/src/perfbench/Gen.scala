package perfbench

import java.util.Random

/** Seeded input generator shared by all workloads. The vectors follow
 * the shape of the repository's bench corpus: 128 dimensions, a mixture
 * of 256 unit-variance Gaussian centres, each point its centre plus
 * N(0, 0.25^2) noise. The same seed always gives the same inputs; the
 * program under test only ever sees what this class hands it. */
final class Gen(val seed: Long) {
  import Gen._

  val centers: Array[Array[Float]] = Array.tabulate(Clusters) { c =>
    val r = new Random(mix(seed, c * 7919L + 1))
    Array.fill(Dim)(r.nextGaussian().toFloat)
  }

  def clusterOf(id: Long): Int = java.lang.Math.floorMod(mix(seed, id), Clusters)

  def vec(id: Long): Array[Float] = {
    val c = centers(clusterOf(id))
    val r = new Random(mix(seed ^ 0x5bd1e995L, id))
    c.map(x => x + r.nextGaussian().toFloat * 0.25f)
  }

  /** A query point: a fresh draw from the same mixture, never a corpus id. */
  def query(i: Long): Array[Float] = vec(QueryIdBase + i)

  /** Row attribute: `n` labels dealt round-robin, so every label holds the
   * same number of rows whatever the seed and a tier bucketed on label
   * quantiles gets the same buckets. */
  def label(id: Long, n: Int): Int = java.lang.Math.floorMod(id, n.toLong).toInt

  def rnd(stream: Long): Random = new Random(mix(seed, stream * 0x632be59bd9b4e019L))

  private lazy val vocab: Array[String] = {
    val r = rnd(17)
    Array.fill(4000) {
      val len = 3 + r.nextInt(7)
      new String(Array.fill(len)(('a' + r.nextInt(26)).toChar))
    }
  }

  /** Documents for near-duplicate detection: `nBase` random-word
   * documents, each followed by 2 variants that replace about 8% of its
   * words. The group shape is fixed so that connected components takes
   * the same number of rounds whatever the seed. Returns (doc_id, text,
   * base doc_id). */
  def docs(nBase: Int): Array[(Long, String, Long)] = {
    val r = rnd(29)
    val out = Array.newBuilder[(Long, String, Long)]
    var id = 0L
    (0 until nBase).foreach { _ =>
      val words = Array.fill(30 + r.nextInt(31))(vocab(r.nextInt(vocab.length)))
      val base = id
      out += ((base, words.mkString(" "), base)); id += 1
      (0 until 2).foreach { _ =>
        val w = words.clone()
        w.indices.foreach { i =>
          if (r.nextDouble() < 0.08) w(i) = vocab(r.nextInt(vocab.length))
        }
        out += ((id, w.mkString(" "), base)); id += 1
      }
    }
    out.result()
  }
}

object Gen {
  val Dim = 128
  val Clusters = 256
  val QueryIdBase: Long = 1L << 50

  /** splitmix64 finaliser over a combination of two words. */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Zipf(s) draws over 0 until n (0 is the most frequent). */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val t = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / t)
    }
    def draw(r: Random): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }
}
