package graft

import org.apache.spark.sql.DataFrame

/**
 * Bounded registry for persisted intermediates that must outlive the
 * lazily-consumed DataFrame an operator returns (ColdTier.search's
 * probes/wave-1 top-k, AnnQueries' routed datasets).
 *
 * An operator cannot unpersist its own intermediates before returning —
 * the caller consumes the result lazily — and handing out release
 * handles doesn't fit the `(SparkSession, dir) => DataFrame` query
 * surface. Instead each invocation registers its cached DataFrames under
 * a stable key and the registry unpersists everything but the `keep`
 * most recent registrations of that key. With keep = 2, two concurrent
 * invocations on the same key never release each other's still-in-use
 * blocks (the previous single-slot-per-key scheme did, silently forcing
 * mid-consumption recomputes), while repeated invocations (warmup +
 * reps) stay bounded at two generations of blocks.
 */
object CacheRegistry {
  private val entries =
    scala.collection.mutable.HashMap.empty[String, Vector[Seq[DataFrame]]]

  /** Register this invocation's persisted DataFrames; unpersist the
   * oldest registrations beyond `keep` (including this one). */
  def retain(key: String, dfs: Seq[DataFrame], keep: Int = 2): Unit = {
    val evicted = entries.synchronized {
      val all = entries.getOrElse(key, Vector.empty) :+ dfs
      val (old, recent) = all.splitAt(math.max(0, all.length - keep))
      entries(key) = recent
      old
    }
    evicted.foreach(_.foreach(_.unpersist()))
  }
}
