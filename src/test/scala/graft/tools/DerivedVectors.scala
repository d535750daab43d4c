package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The profiling tools' vector corpus (FIXTURES.md: 128-dim vectors
 * derived deterministically from lineitem, so vector scale tracks sf). */
object DerivedVectors {

  /** lineitem -> (id, vec ARRAY<FLOAT>(128), eventTime) — deterministic
   * per id, computed executor-side in one pass. Mixture of 256 Gaussian
   * clusters (center + noise) so the corpus has SIFT-like locality for
   * the ANN path (pure-random vectors would cap any ANN's recall at the
   * probe fraction by construction). */
  def derivedVectors(spark: SparkSession, dir: String): DataFrame =
    derivedVectorsN(spark, dir, 1)

  /** `mult` deterministic variants per base id (same center → the cluster
   * mixture and density are preserved at every multiple); mult=1 is the
   * standard corpus. Used by the 10x recall point. */
  def derivedVectorsN(spark: SparkSession, dir: String, mult: Int): DataFrame = {
    import spark.implicits._
    val centers = Array.tabulate(256) { c =>
      val r = new java.util.Random(c * 7919L + 1)
      Array.fill(128)(r.nextGaussian().toFloat)
    }
    val off = 1L << 44
    spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_linenumber"))
      .as[(Long, Int)]
      .flatMap { case (ok, ln) =>
        val baseId = ok * 8 + ln
        val center = centers((baseId % 256).toInt)
        (0 until mult).iterator.map { r =>
          val id = baseId + r * off
          val rnd = new java.util.Random(id * 0x9E3779B97F4A7C15L)
          (id, center.map(x => x + rnd.nextGaussian().toFloat * 0.25f), id)
        }
      }
      .toDF("id", "vec", "eventTime")
  }
}
