package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Streaming exact deduplication over a document stream — the streaming
 * counterpart of `Dedup.exact` / `text_dedup_exact`: each arriving
 * document is flagged `first = true` iff its content hash has never been
 * seen before (across all previous micro-batches and earlier in the
 * current one). A training-data ingest keeps `first` rows only.
 *
 * Spark shape: documents hash to a 128-bit md5 identity and route to
 * `hash % numShards` — state and lookups scale out with the shard count,
 * and a shard's state is two sorted parallel long arrays (16 bytes per
 * distinct document, NOT the text), merged once per batch (O(seen +
 * batch log batch)) with binary-search lookups. A shard's whole
 * `ShardSeen` is ONE state value, so every trigger re-encodes and
 * re-commits it in full — O(seen) bytes per touched shard per batch,
 * with the HDFS-backed and the RocksDB state store provider alike (a
 * provider stores values, it cannot diff inside one). Entries are 16
 * bytes, so that stays cheap up to millions of distinct documents per
 * shard; past that, raise `numShards`.
 *
 * Determinism: same-batch duplicates are resolved in ascending doc_id
 * order (the keeper is the smallest id in the batch, matching the batch
 * operator's min-id keeper), independent of partitioning or arrival
 * interleaving inside the batch.
 */
object StreamDedup {

  case class DocEvent(docId: Long, text: String)
  /** Per-shard state: 128-bit hashes as parallel arrays sorted by
   * (hi, lo). */
  case class ShardSeen(hi: Array[Long], lo: Array[Long])
  case class DedupVerdict(docId: Long, shard: Int, first: Boolean)

  /** 128-bit content identity (md5, big-endian halves). */
  def contentHash(text: String): (Long, Long) = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(text.getBytes("UTF-8"))
    val bb = java.nio.ByteBuffer.wrap(d)
    (bb.getLong(0), bb.getLong(8))
  }

  private def contains(s: ShardSeen, hi: Long, lo: Long): Boolean = {
    var a = 0
    var b = s.hi.length - 1
    while (a <= b) {
      val m = (a + b) >>> 1
      val c = java.lang.Long.compare(s.hi(m), hi) match {
        case 0 => java.lang.Long.compare(s.lo(m), lo)
        case x => x
      }
      if (c == 0) return true
      else if (c < 0) a = m + 1
      else b = m - 1
    }
    false
  }

  /** Merge sorted state with a sorted batch of new (hi, lo) pairs. */
  private[graft] def merge(s: ShardSeen, add: Array[(Long, Long)]): ShardSeen = {
    if (add.isEmpty) s
    else {
      val n = s.hi.length + add.length
      val hi = new Array[Long](n)
      val lo = new Array[Long](n)
      var i = 0; var j = 0; var o = 0
      while (i < s.hi.length || j < add.length) {
        val takeOld = j >= add.length || (i < s.hi.length &&
          (s.hi(i) < add(j)._1 || (s.hi(i) == add(j)._1 && s.lo(i) <= add(j)._2)))
        if (takeOld) { hi(o) = s.hi(i); lo(o) = s.lo(i); i += 1 }
        else { hi(o) = add(j)._1; lo(o) = add(j)._2; j += 1 }
        o += 1
      }
      ShardSeen(hi, lo)
    }
  }

  // ---------------------------------------------------------------------
  // Streaming NEAR-duplicate detection (simhash): the crawl-stream form of
  // Dedup.simhashPairs. Each document computes a 64-bit simhash and posts
  // one copy per 16-bit band; a band bucket's state holds the (simhash,
  // docId) pairs seen under that band key, so a new document compares
  // against ONLY its band collisions (pigeonhole: any pair within Hamming
  // distance 3 shares at least one of the 4 bands) and the verdict is the
  // exact Hamming test against the stored fingerprints — 16 bytes of
  // state per (doc, band). A bucket past `maxBucketSize` stops ACCRUING
  // (the band key is non-discriminative — the streaming analogue of the
  // batch super-bucket drop) but still answers comparisons against what
  // it holds.
  // ---------------------------------------------------------------------

  /** Per-bucket state: parallel (simhash, keeper id) arrays in arrival
   * order. */
  case class BucketSeen(sh: Array[Long], ids: Array[Long])
  /** Per-band partial verdict; dupOf = -1 when no stored fingerprint is
   * within `maxHamming`. */
  case class BandVerdict(docId: Long, sh: Long, dupOf: Long, hamming: Int)

  /** Flag near-duplicates on a document stream. Emits one combined row
   * per document per micro-batch into `sink`:
   * (docId, sh, near_dup, dup_of, hamming) where dup_of is the earliest
   * closest prior document ((hamming, id) minimal) or -1. Same-batch
   * pairs resolve in ascending docId order, matching [[run]]'s keeper
   * rule. */
  def runNear(docs: Dataset[DocEvent], maxHamming: Int = 3,
      maxBucketSize: Int = 500, checkpointDir: Option[String] = None)
      (sink: org.apache.spark.sql.DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val banded = docs.flatMap { doc =>
      val sh = graft.functions.Text.simhash(doc.text)
      (0 until 4).map { band =>
        // band_idx << 16 | band content = the bucket key (same banding as
        // Dedup.simhashBands; mask, not %, to stay sign-safe)
        val key = (band.toLong << 16) | ((sh >>> (band * 16)) & 0xFFFFL)
        (key, sh, doc.docId)
      }
    }
    val partials = banded.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Long, it: Iterator[(Long, Long, Long)],
            state: GroupState[BucketSeen]) => {
          val prev = state.getOption.getOrElse(BucketSeen(Array.empty, Array.empty))
          val batch = it.toArray.sortBy(_._3)
          val accSh = scala.collection.mutable.ArrayBuffer.empty[Long]
          val accId = scala.collection.mutable.ArrayBuffer.empty[Long]
          val out = batch.map { case (_, sh, docId) =>
            var bestHam = Int.MaxValue
            var bestId = -1L
            def consider(candSh: Long, candId: Long): Unit = {
              val h = java.lang.Long.bitCount(sh ^ candSh)
              if (h <= maxHamming &&
                  (h < bestHam || (h == bestHam && candId < bestId)))
                { bestHam = h; bestId = candId }
            }
            var i = 0
            while (i < prev.sh.length) { consider(prev.sh(i), prev.ids(i)); i += 1 }
            i = 0
            while (i < accSh.length) { consider(accSh(i), accId(i)); i += 1 }
            if (prev.sh.length + accSh.length < maxBucketSize) {
              accSh += sh; accId += docId
            }
            if (bestId >= 0) BandVerdict(docId, sh, bestId, bestHam)
            else BandVerdict(docId, sh, -1L, -1)
          }
          if (accSh.nonEmpty)
            state.update(BucketSeen(prev.sh ++ accSh, prev.ids ++ accId))
          out.iterator
        })
    // per-document combine across the 4 band verdicts — one batch-local
    // aggregation per micro-batch (min over (hamming, dupOf) structs;
    // nulls ignored), the same foreachBatch-merge shape as
    // VectorStreamJob.run
    val w = partials.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[BandVerdict], _: Long) =>
        sink(batch.toDF().groupBy("docId")
          .agg(first(col("sh")).as("sh"),
            min(when(col("dupOf") >= 0,
              struct(col("hamming"), col("dupOf")))).as("best"))
          .select(col("docId"), col("sh"),
            col("best").isNotNull.as("near_dup"),
            coalesce(col("best.dupOf"), lit(-1L)).as("dup_of"),
            coalesce(col("best.hamming"), lit(-1)).as("hamming")))
      }
    checkpointDir.foreach(d => w.option("checkpointLocation", d))
    w.start()
  }

  /** Flag every document with its global-first verdict. Append mode;
   * compose with `.filter(_.first)` for the deduped stream. */
  def run(docs: Dataset[DocEvent], numShards: Int = 64): Dataset[DedupVerdict] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.map { doc =>
      val (hi, lo) = contentHash(doc.text)
      (math.floorMod(hi, numShards).toInt, hi, lo, doc.docId)
    }
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (shard: Int, it: Iterator[(Int, Long, Long, Long)],
            state: GroupState[ShardSeen]) => {
          val prev = state.getOption.getOrElse(ShardSeen(Array.empty, Array.empty))
          val batch = it.toArray.sortBy(_._4) // ascending docId = keeper
          val fresh = scala.collection.mutable.HashSet.empty[(Long, Long)]
          val out = batch.map { case (_, hi, lo, docId) =>
            val first = !contains(prev, hi, lo) && fresh.add((hi, lo))
            DedupVerdict(docId, shard, first)
          }
          if (fresh.nonEmpty)
            state.update(merge(prev, fresh.toArray.sorted))
          out.iterator
        })
  }
}
