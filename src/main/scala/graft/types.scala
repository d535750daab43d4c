package graft

/**
 * Core data model of the engine, mirroring the reference's record types
 * (reference: flink-frontend data/vector/VectorData.java:4-56,
 * data/result/SearchResult.java:10-53) re-expressed as Spark-encodable
 * case classes.
 */

/** A vector insert or delete event.
 *
 * @param id        vector label (unique per live vector)
 * @param value     the float vector; null for value-less deletions
 * @param eventTime event time, ms epoch (deterministic in tests — never wall clock)
 * @param ttl       freshness window for queries (ms); Long.MaxValue = unbounded
 * @param isDeletion true if this event removes `id`
 */
final case class VectorData(
    id: Long,
    value: Array[Float],
    eventTime: Long,
    ttl: Long,
    isDeletion: Boolean)

object VectorData {
  def insert(id: Long, value: Array[Float], eventTime: Long = 0L): VectorData =
    VectorData(id, value, eventTime, Long.MaxValue, isDeletion = false)
  def delete(id: Long, eventTime: Long = 0L): VectorData =
    VectorData(id, null, eventTime, Long.MaxValue, isDeletion = true)
}

/** A kNN query over the vector corpus.
 *
 * Semantics (reference contract): return the k ids with smallest distance to
 * `value` among vectors with eventTime in [eventTime - ttl, eventTime] and not
 * deleted; ties broken by smaller id.
 */
final case class VectorQuery(
    queryId: Long,
    value: Array[Float],
    eventTime: Long,
    ttl: Long,
    k: Int)

/** A (partial or complete) top-k result: parallel arrays sorted by
 * (distance asc, id asc), consecutive duplicate ids dropped on merge.
 */
final case class SearchResult(
    queryId: Long,
    ids: Array[Long],
    distances: Array[Float],
    numPartitionsCombined: Int,
    numPartitionsToCombine: Int,
    queryEventTime: Long,
    searchCompleteTime: Long) {
  /** recall@k against a ground-truth id set (reference SearchResult.java:192-201). */
  def recall(truth: Set[Long], k: Int): Double =
    if (k == 0) 0.0 else ids.take(k).count(truth.contains).toDouble / k
}

/** Distance metric selector (reference: hnswlib SpaceType L2/IP; cosine
 * exists in the reference source but only L2/IP are plumbed through options). */
sealed trait Metric extends Serializable { def name: String }
object Metric {
  case object L2 extends Metric { val name = "L2" }      // squared L2, ascending = closer
  case object IP extends Metric { val name = "IP" }      // 1 - dot, ascending = closer
  case object Cosine extends Metric { val name = "COSINE" } // 1 - cos, ascending = closer
  def apply(s: String): Metric = s.toUpperCase match {
    case "L2" => L2
    case "IP" => IP
    case "COSINE" | "COS" => Cosine
    case other => throw new IllegalArgumentException(s"unknown metric: $other")
  }
}

/** Engine configuration (reference: util/Parameters.java — the subset that
 * is engine semantics rather than Flink-cluster plumbing). */
final case class Params(
    dim: Int = 128,
    metric: String = "L2",
    k: Int = 10,
    numPartitions: Int = 32,
    maxTtl: Long = 2400000L,
    // LSH (p-stable) — reference partitioner/lsh/L2Hash.java
    lshNumFamilies: Int = 8,
    lshNumHashes: Int = 10,
    lshBucketWidth: Float = 5f,
    lshSeed: Long = 38324L,
    // space-filling curve
    sfcBits: Int = 7,
    // HNSW — reference params.yaml:56-58
    hnswM: Int = 16,
    hnswEfConstruction: Int = 128,
    hnswEfSearch: Int = 16,
    maxElementsPerTable: Int = 250000)
