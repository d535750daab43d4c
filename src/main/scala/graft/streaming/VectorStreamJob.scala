package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.Metric
import graft.partitioners.PartitionerModel
import graft.store.{ColdTier, ExactStore, HnswStore}

/**
 * The reference's continuously-running search job under Structured
 * Streaming (reference §3.1: sources -> partition fan-out -> keyed
 * insert-&-search operator (C1) -> partial-result merge (C3) -> sink):
 *
 *  - one input stream of insert/delete/query events (event-time stamped);
 *  - fan-out via a broadcast PartitionerModel (replaces the reference's
 *    parallelism-1 partitioner + murmur-key trick — routing is a pure
 *    function, so it runs fully parallel); each routed row is stamped
 *    with its routing wall-clock so merged results can report latency
 *    (the reference's searchCompleteTime, SearchResult.java:126-133);
 *  - `flatMapGroupsWithState` keyed by partition id holds the partition's
 *    live vectors (hot tier), applies inserts/deletes in event-time order,
 *    answers queries against the store, and evicts entries older than
 *    maxObservedTime - maxTtl (reference V7 eviction);
 *  - partial top-k results carry numPartitionsSent (reference
 *    PartitionedQuery.java:17) and are merged on the driver per
 *    micro-batch (a query's fan-out all lands in one batch, so the
 *    per-batch merge is complete — the reference's incremental
 *    completeness counter becomes a distinct-pid count over the
 *    trigger's collected partials, [[mergePartialsLocal]]).
 *
 * State is the compact live set + versioned tombstones (flat,
 * encoder-friendly case classes) — never a serialized index. The HNSW
 * variant keeps its graph in an executor-local cache validated by the
 * state's sequence number: on the happy path each batch applies only its
 * own mutations to the cached graph; after a recovery or executor loss
 * the graph is rebuilt deterministically from the state's live set (the
 * reference's memtable-from-WAL recovery, RocksDBRecoveryTest.java:23).
 */
object VectorStreamJob {

  /** Unified stream element (insert / delete / query / state dump — the
   * reference's PartitionedElement.DataType {INSERT_OR_DELETE, QUERY,
   * DUMP}, data/PartitionedElement.java:19-26; DUMP is its experiment
   * plumbing for dumping backend state).
   *
   * `attr` is the streaming FILTERED-kNN channel (beyond-reference — the
   * reference has no filtered surface): on an insert it is the row's
   * attribute value, on a query it is the qfilter — only rows whose
   * stored attr EQUALS the query's attr are candidates (null = the
   * unfiltered classic surface; a null-attr row never matches a filtered
   * query, the null-rejecting equality every other filtered surface
   * applies). Values are caller-rendered STRINGS compared exactly; a
   * typed deployment renders both sides through one canonical function
   * (the cold tier's [[graft.store.ColdTier]] filterKey contract) so the
   * hot and cold tiers can never disagree on a row. */
  final case class StreamEvent(
      kind: String, // "i" | "d" | "q" | "s" (state dump)
      id: Long,
      vec: Array[Float],
      eventTime: Long,
      ttl: Long,
      k: Int,
      attr: String = null,
      // RANGE query channel (numeric bands, the cold tier's
      // `filterRange` semantics on the hot path): a QUERY with BOTH
      // attr and attrHi non-null asks for rows whose stored attr,
      // read as a double, falls in [attr, attrHi] (closed interval; a
      // non-numeric rendering or null bound matches nothing — SQL's
      // null-rejecting BETWEEN). Ignored on inserts/deletes/dumps.
      attrHi: String = null,
      // IN-LIST query channel (the cold tier's `filterIn` semantics on
      // the hot path, the streaming twin of `WHERE attr IN (...)`): a
      // QUERY with attrIn non-null asks for rows whose stored attr
      // EQUALS ANY of the set's values (exact string compare, like the
      // equality channel; a null-attr row matches nothing; an EMPTY set
      // matches nothing — SQL's vacuous IN). Takes precedence over the
      // equality/range channels when set. Ignored on inserts — a row
      // stores ONE attr value via `attr`.
      attrIn: Array[String] = null)

  final case class Routed(pid: Int, numPartitionsSent: Int, ev: StreamEvent,
      ingestMillis: Long)

  /** NOTE checkpoint compatibility: `attr` widened this state schema
   * (3 → 4 fields inside PartitionState.vecs) — a job restarted from a
   * checkpoint written before the attr channel existed fails Spark's
   * state-schema check and must restart from a fresh checkpoint (replay
   * the source; flush staging is overwrite-idempotent so a re-run
   * converges). Future additions to stored state should extend the
   * PARALLEL arrays on PartialResult instead, or accept the same
   * migration cost knowingly. [[run]] also dropped the second stateful
   * operator that `crossBatchMerge = true` used to chain, which needs a
   * fresh checkpoint the same way. */
  final case class StoredVec(id: Long, ts: Long, vec: Array[Float],
      attr: String = null)
  /** Versioned tombstone: a delete at `ts` supersedes any insert of the
   * same id with an event time <= ts that arrives in a later batch. */
  final case class Tomb(id: Long, ts: Long)
  final case class PartitionState(vecs: Array[StoredVec], tombstones: Array[Tomb],
      maxTs: Long, seq: Long, inserted: Long, lastQueryTs: Long = Long.MinValue,
      maxDelTs: Long = Long.MinValue)

  final case class PartialResult(
      queryId: Long, pid: Int, numPartitionsSent: Int,
      ids: Array[Long], dists: Array[Double], queryEventTime: Long,
      ingestMillis: Long,
      // only flush partials (numPartitionsSent == FlushSent) carry vectors
      // (+ per-row attrs, null elements when rows had none); query/dump
      // partials leave both null so the common case stays narrow
      vecs: Array[Array[Float]] = null,
      attrs: Array[String] = null)

  /** numPartitionsSent marker for hot->cold flush partials. Disjoint from
   * query fan-outs (always > 0) and DUMP markers (-fanout, bounded by the
   * partition count, so far above the reserved band near -2^31). */
  val FlushSent: Int = Int.MinValue
  /** Marker for delete-tombstone partials (cold-tier delete log). */
  val DeleteLogSent: Int = Int.MinValue + 1

  /** Fan events out to partitions (data -> dataPartitions, value-less
   * deletes -> all, queries -> queryPartitions with the sent-count). */
  def route(events: Dataset[StreamEvent], model: PartitionerModel): Dataset[Routed] = {
    val spark = events.sparkSession
    import spark.implicits._
    val b = spark.sparkContext.broadcast(model)
    events.flatMap { ev =>
      // wall clock, not nanoTime: the merge-side stamp may evaluate in a
      // different executor JVM, and nanoTime origins are per-JVM
      val now = System.currentTimeMillis()
      ev.kind match {
        case "q" =>
          val ps = b.value.queryPartitions(ev.vec)
          ps.map(pid => Routed(pid, ps.length, ev, now))
        case "d" =>
          // exactly ONE replica is marked (sent=1) as the delete-log
          // emitter, so a lifecycle job seals each tombstone once
          val ps = if (ev.vec == null) b.value.deleteAllPartitions
                   else b.value.dataPartitions(ev.vec, ev.id)
          ps.zipWithIndex.map { case (pid, i) =>
            Routed(pid, if (i == 0) 1 else 0, ev, now) }
        case "s" =>
          // DUMP fans out to every partition; the NEGATED fan-out count
          // marks its partials as state dumps (a dump row can then never
          // satisfy a query merge's np == sent completeness check)
          val ps = b.value.deleteAllPartitions
          ps.map(pid => Routed(pid, -ps.length, ev, now))
        case _ =>
          b.value.dataPartitions(ev.vec, ev.id).map(pid => Routed(pid, 0, ev, now))
      }
    }
  }

  /** Executor-local hot-tier index cache (one graph per partition id,
   * tagged with the state sequence it reflects). A claim with the wrong
   * sequence — first batch after recovery, executor loss, state moved to
   * another executor — misses and the graph is rebuilt from state.
   * `claim` REMOVES the entry (exclusive ownership): Spark may execute a
   * stateful operator more than once per batch (plan reuse, speculative
   * or recomputed tasks), and two executions must never mutate the same
   * graph instance — the loser of the claim race rebuilds from the
   * (unchanged, versioned) state snapshot, which is correct and merely
   * slower. */
  private[streaming] object IndexCache {
    /** Blunt upper bound on retained graphs across all queries in the
     * JVM; exceeding it clears everything (worst case: rebuilds from
     * state) rather than leak graphs of stopped queries forever. */
    private val MaxEntries = 1024
    private val stores =
      new java.util.concurrent.ConcurrentHashMap[(String, Int), (Long, HnswStore)]()
    def claim(ns: String, pid: Int, seq: Long): Option[HnswStore] =
      Option(stores.remove((ns, pid))).collect { case (s, st) if s == seq => st }
    def put(ns: String, pid: Int, seq: Long, store: HnswStore): Unit = {
      if (stores.size >= MaxEntries) stores.clear()
      stores.put((ns, pid), (seq, store))
    }
    /** Test hook: simulate executor loss (forces rebuild-from-state). */
    def invalidateAll(): Unit = stores.clear()
  }

  /** Shared per-batch bookkeeping for both store variants: restore the
   * live map + tombstones, replay the batch in event-time order against
   * `store`, and assemble the retained state. Returns partials. */
  /** A stored attr as a double for range queries: null or a
   * non-numeric rendering goes NaN (fails every compare — the hot
   * analog of the cold kernel's `try_cast("double")` → NaN). Parity
   * verified empirically: Spark's string→double cast accepts the same
   * renderings as Double.parseDouble ('2d', '0x1p3', 'Infinity',
   * whitespace), and the one shape where they differ mechanically
   * (empty string: null vs NumberFormatException) lands NaN on both
   * paths. */
  private def attrDouble(s: String): Double =
    if (s == null) Double.NaN
    else try java.lang.Double.parseDouble(s.trim)
    catch { case _: NumberFormatException => Double.NaN }

  private def replayBatch(
      pid: Int, events: Iterator[Routed], prev: PartitionState,
      store: graft.store.VectorStore, maxTtl: Long, metric: Metric,
      onInsert: () => Unit,
      dropLateQueries: Boolean,
      flushEvicted: Boolean = false): (Array[PartialResult], PartitionState, Array[StoredVec]) = {
    val live = new java.util.LinkedHashMap[Long, StoredVec]()
    prev.vecs.foreach(v => live.put(v.id, v))
    // boxed value type: get() on a missing key must return null — with a
    // scala.Long value type the null unboxes to 0L, which makes "no
    // tombstone" indistinguishable from "tombstone at ts 0" (and
    // `x == null` on a primitive is statically false), silently dropping
    // inserts at event time <= 0
    val dead = new java.util.HashMap[Long, java.lang.Long]()
    prev.tombstones.foreach(t => dead.put(t.id, t.ts))
    var maxTs = prev.maxTs
    var lastQueryTs = prev.lastQueryTs
    var maxDelTs = prev.maxDelTs
    val out = scala.collection.mutable.ArrayBuffer.empty[PartialResult]

    // event-time order within the batch (the reference relies on
    // arrival order; micro-batching requires an explicit sort)
    val evs = events.toArray.sortBy(r => (r.ev.eventTime, r.ev.id))
    evs.foreach { r =>
      val ev = r.ev
      // the eviction clock advances on INSERTS only: queries and deletes
      // can carry far-future sentinel times (e.g. a "latest" query at
      // qtime = Long.MaxValue/8), and letting one of them advance maxTs
      // would evict the entire live set through the maxTs - maxTtl floor
      // (the AdaptiveRouter refit clock has the same guard)
      if (ev.kind == "i" && ev.eventTime > maxTs) maxTs = ev.eventTime
      ev.kind match {
        case "i" =>
          // versioned supersession both ways: a tombstone at ts >= insert
          // time kills the (late) insert, and an already-stored NEWER
          // version of the id must not be overwritten by a late older one
          val tomb = dead.get(ev.id)
          val cur = live.get(ev.id)
          if ((tomb == null || tomb.longValue() < ev.eventTime) &&
              (cur == null || cur.ts <= ev.eventTime)) {
            live.put(ev.id, StoredVec(ev.id, ev.eventTime, ev.vec, ev.attr))
            dead.remove(ev.id)
            store.put(ev.id, ev.eventTime, ev.vec)
            onInsert()
          }
        case "d" =>
          // versioned supersession mirrors the insert path: a LATE delete
          // (event time older than the stored version) must not remove the
          // newer live insert — only the tombstone max is recorded, so
          // still-older inserts arriving later stay superseded
          val cur = live.get(ev.id)
          if (cur == null || cur.ts <= ev.eventTime) {
            live.remove(ev.id)
            store.delete(ev.id)
          }
          val old = dead.get(ev.id)
          dead.put(ev.id,
            if (old == null) ev.eventTime
            else math.max(old.longValue(), ev.eventTime))
          // tombstone retention clock advances on DELETE event times (the
          // live-set eviction clock stays insert-only): a delete-heavy
          // stream tail would otherwise freeze maxTs and grow the
          // tombstone map unboundedly
          if (ev.eventTime > maxDelTs) maxDelTs = ev.eventTime
          // lifecycle jobs forward every delete to the cold-tier delete
          // log (from the one routing replica marked sent=1): the target
          // row may already live in a cold segment, where only a logged
          // tombstone can shadow it
          if (flushEvicted && r.numPartitionsSent == 1)
            out += PartialResult(ev.id, pid, DeleteLogSent, Array(ev.id),
              Array(ev.eventTime.toDouble), ev.eventTime, r.ingestMillis)
        case "s" =>
          // DUMP (reference DataType.DUMP): emit this partition's live
          // state AS OF this point in the event-time replay — (id, ts)
          // pairs ride the partial's (ids, dists) arrays, marked by the
          // negative sent count stamped at routing
          val dumpIds = new Array[Long](live.size())
          val dumpTs = new Array[Double](live.size())
          var di = 0
          val dit0 = live.values().iterator()
          while (dit0.hasNext) {
            val v = dit0.next()
            dumpIds(di) = v.id; dumpTs(di) = v.ts.toDouble; di += 1
          }
          out += PartialResult(ev.id, pid, r.numPartitionsSent,
            dumpIds, dumpTs, ev.eventTime, r.ingestMillis)
        case "q" =>
          // reference fidelity (RocksDBKeyedProcessFunction.java:90-93):
          // optionally drop queries older than the last answered query.
          // Default is to answer them — the freshness ceiling already
          // hides newer inserts, so a late answer is still correct up to
          // deletes applied after its event time
          if (!(dropLateQueries && ev.eventTime < lastQueryTs)) {
            if (ev.eventTime > lastQueryTs) lastQueryTs = ev.eventTime
            // maxTtl is the global upper bound on freshness windows
            // (reference params maxTTL) — clamping makes eviction safe
            val ttl = math.min(ev.ttl, maxTtl)
            val res =
              if (ev.attr == null && ev.attrHi == null && ev.attrIn == null)
                store.search(ev.vec, ev.k, ev.eventTime - ttl, ev.eventTime)
              else {
                // FILTERED query: exact bounded-heap scan over the
                // partition's live set (authoritative for both store
                // variants) under the attr equality — or, when attrHi
                // is set, the numeric [attr, attrHi] band (the cold
                // tier's filterRange semantics: stored attrs read as
                // doubles, NaN-safe compares, null/non-numeric matches
                // nothing) — exact by
                // construction, like the cold tier's filtered kernel,
                // and identical tie-break order ((dist, id) ascending).
                // The hot tier is TTL-bounded, so the linear scan is a
                // bounded cost per query; a graph-accelerated filtered
                // walk trades that for recall and is deliberately not
                // this surface's contract.
                val distFn = graft.functions.Distances.forMetric(metric)
                val topk = new graft.functions.BoundedTopK(ev.k)
                // IN-list takes precedence, then the numeric band, then
                // the single equality — one membership/band/equality
                // branch per (row, query), same kernel for all three
                val inSet =
                  if (ev.attrIn == null) null
                  else {
                    val hs = new java.util.HashSet[String]()
                    ev.attrIn.foreach(v => if (v != null) hs.add(v))
                    hs
                  }
                val range = inSet == null && ev.attrHi != null
                val qlo = if (range) attrDouble(ev.attr) else Double.NaN
                val qhi = if (range) attrDouble(ev.attrHi) else Double.NaN
                val itv = live.values().iterator()
                while (itv.hasNext) {
                  val v = itv.next()
                  val matches =
                    if (inSet != null) v.attr != null && inSet.contains(v.attr)
                    else if (range) {
                      val ad = attrDouble(v.attr)
                      ad >= qlo && ad <= qhi
                    } else v.attr != null && v.attr == ev.attr
                  if (v.ts >= ev.eventTime - ttl && v.ts <= ev.eventTime &&
                      matches)
                    topk.offer(distFn(ev.vec, v.vec), v.id)
                }
                val (fids, fds) = topk.drainSorted()
                Array.tabulate(fids.length)(i => (fids(i), fds(i)))
              }
            out += PartialResult(ev.id, pid, r.numPartitionsSent,
              res.map(_._1), res.map(_._2), ev.eventTime, r.ingestMillis)
          }
      }
    }
    // TTL eviction (V7): no future query can reach entries older than
    // maxTs - maxTtl (queries' event times are >= maxTs going forward)
    val floor = maxTs - maxTtl
    // tombstones age on their own clock too: a tombstone only has to
    // outlive late inserts, which arrive within maxTtl of the newest
    // delete even when no insert advances maxTs
    val tombFloor = math.max(maxTs, maxDelTs) - maxTtl
    val kept = new scala.collection.mutable.ArrayBuffer[StoredVec]()
    val evicted = new scala.collection.mutable.ArrayBuffer[StoredVec]()
    val it = live.values().iterator()
    while (it.hasNext) {
      val v = it.next()
      if (v.ts >= floor) kept += v else evicted += v
    }
    // hot->cold flush (reference flush_job.cc:130-170 builds the SST from
    // the retired memtable): TTL-evicted rows — NOT deleted ones, those
    // were removed from `live` above — leave as one marked partial per
    // (partition, batch), to be sealed into cold segments by the sink.
    // A query's freshness window is clamped to maxTtl, so from the next
    // batch on no hot query can reach these rows: hot and cold tiers
    // serve disjoint time ranges by construction.
    if (flushEvicted && evicted.nonEmpty)
      out += PartialResult(-1L, pid, FlushSent, evicted.map(_.id).toArray,
        evicted.map(_.ts.toDouble).toArray, maxTs,
        System.currentTimeMillis(), evicted.map(_.vec).toArray,
        evicted.map(_.attr).toArray)
    val tombs = new scala.collection.mutable.ArrayBuffer[Tomb]()
    val dit = dead.entrySet().iterator()
    while (dit.hasNext) {
      val e = dit.next()
      if (e.getValue >= tombFloor) tombs += Tomb(e.getKey, e.getValue)
    }
    (out.toArray,
      PartitionState(kept.toArray, tombs.toArray, maxTs, prev.seq + 1, 0L,
        lastQueryTs, maxDelTs),
      evicted.toArray)
  }

  /** C1 with an HNSW hot tier (V1): the graph lives in [[IndexCache]] and
   * is mutated incrementally per batch — O(batch) index work and O(live)
   * state encode per batch, vs java-serializing the whole graph in and
   * out of state. Rebuilt (deterministically, (ts,id)-ordered) from the
   * state's live set on a cache miss. Tombstoned/evicted nodes stay in
   * the graph (invisible behind the freshness filter) until compaction
   * rebuilds it once live entries fall below half the graph size. */
  def partialsHnsw(routed: Dataset[Routed], metric: Metric, maxTtl: Long,
      m: Int = 16, efConstruction: Int = 64, efSearch: Int = 64,
      dropLateQueries: Boolean = false, flushEvicted: Boolean = false)
      : Dataset[PartialResult] = {
    val spark = routed.sparkSession
    import spark.implicits._
    // one cache namespace per operator instantiation: two streaming
    // queries (or a checkpoint restart) can never claim each other's
    // graphs — a fresh namespace just misses and rebuilds from state
    val cacheNs = java.util.UUID.randomUUID().toString
    routed.groupByKey(_.pid).flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.NoTimeout)(
      (pid: Int, events: Iterator[Routed], state: GroupState[PartitionState]) => {
        val prev = state.getOption
          .getOrElse(PartitionState(Array.empty, Array.empty, 0L, 0L, 0L))
        var inserted = prev.inserted
        var store = IndexCache.claim(cacheNs, pid, prev.seq).getOrElse {
          val s = new HnswStore(metric, m, efConstruction, efSearch,
            seed = 42L + pid)
          prev.vecs.sortBy(v => (v.ts, v.id)).foreach(v => s.put(v.id, v.ts, v.vec))
          inserted = prev.vecs.length.toLong
          s
        }
        val (out, next0, evicted) = replayBatch(pid, events, prev, store,
          maxTtl, metric, () => inserted += 1, dropLateQueries, flushEvicted)
        // evicted entries leave the graph too, so compaction sees them
        evicted.foreach(v => store.delete(v.id))
        // compaction: rebuild when most graph nodes are dead versions
        if (inserted > 64 && store.size * 2 < inserted) {
          val fresh = new HnswStore(metric, m, efConstruction, efSearch,
            seed = 42L + pid)
          store.liveEntries.toArray.sortBy(e => (e._2, e._1))
            .foreach { case (label, ts, vec) => fresh.put(label, ts, vec) }
          store = fresh
          inserted = store.size.toLong
        }
        val next = next0.copy(inserted = inserted)
        state.update(next)
        IndexCache.put(cacheNs, pid, next.seq, store)
        out.iterator
      })
  }

  /** The keyed insert-&-search operator (C1), exact variant: one store
   * per batch, restored from state then mutated incrementally in event
   * order (O(live + batch), not O(live x queries)). */
  def partials(routed: Dataset[Routed], metric: Metric, maxTtl: Long,
      dropLateQueries: Boolean = false, flushEvicted: Boolean = false)
      : Dataset[PartialResult] = {
    val spark = routed.sparkSession
    import spark.implicits._
    routed.groupByKey(_.pid).flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.NoTimeout)(
      (pid: Int, events: Iterator[Routed], state: GroupState[PartitionState]) => {
        val prev = state.getOption
          .getOrElse(PartitionState(Array.empty, Array.empty, 0L, 0L, 0L))
        val store = new ExactStore(metric, math.max(16, prev.vecs.length))
        prev.vecs.foreach(v => store.put(v.id, v.ts, v.vec))
        val (out, next, _) = replayBatch(pid, events, prev, store, maxTtl,
          metric, () => (), dropLateQueries, flushEvicted)
        state.update(next)
        out.iterator
      })
  }

  /** One merged result row: rank `rn` (1-based) of query `qid`. */
  final case class SearchResult(qid: Long, rn: Int, id: Long, dist: Double,
      latency_ms: Double)

  /** Two-pointer merge of (dist, id)-ascending lists with cross-list id
   * dedup, bounded at k — the same contract as TopKListAggregator.merge,
   * usable from plain driver/executor code. */
  private[streaming] def mergeSorted(aIds: Array[Long], aDs: Array[Double],
      bIds: Array[Long], bDs: Array[Double], k: Int)
      : (Array[Long], Array[Double]) = {
    val outI = new scala.collection.mutable.ArrayBuffer[Long](k)
    val outD = new scala.collection.mutable.ArrayBuffer[Double](k)
    val seen = new java.util.HashSet[Long]()
    var i = 0; var j = 0
    while (outI.length < k && (i < aIds.length || j < bIds.length)) {
      val takeA = j >= bIds.length || (i < aIds.length &&
        (aDs(i) < bDs(j) || (aDs(i) == bDs(j) && aIds(i) <= bIds(j))))
      val (id, d) = if (takeA) { val r = (aIds(i), aDs(i)); i += 1; r }
                    else { val r = (bIds(j), bDs(j)); j += 1; r }
      if (seen.add(id)) { outI += id; outD += d }
    }
    (outI.toArray, outD.toArray)
  }

  /** C3, the partial-result merge (the reference's
   * SearchResult.combine()), over one trigger's partials on the driver.
   * [[route]] puts a query's whole fan-out into the micro-batch its event
   * arrives in, so one trigger's partials hold every complete query. Query
   * partials (`numPartitionsSent > 0`) group by queryId; a query whose
   * distinct pids number its `numPartitionsSent` folds its lists with
   * [[mergeSorted]] (an EMPTY partial still counts). Dump, flush and
   * delete-log partials never merge; an incomplete fan-out (a partition
   * dropped the query under `dropLateQueries`) emits nothing. Each row's
   * `latency_ms` is the merge's wall-clock stamp (the reference's
   * searchCompleteTime) minus the query's earliest routing stamp. Rows
   * come out ordered by (qid, rn). */
  def mergePartialsLocal(parts: Seq[PartialResult], k: Int): Seq[SearchResult] = {
    val now = System.currentTimeMillis()
    parts.filter(_.numPartitionsSent > 0).groupBy(_.queryId).toSeq
      .sortBy(_._1).flatMap { case (qid, ps) =>
        if (ps.map(_.pid).distinct.size != ps.head.numPartitionsSent) Nil
        else {
          var ids = Array.empty[Long]
          var ds = Array.empty[Double]
          ps.foreach { p =>
            val m = mergeSorted(ids, ds, p.ids, p.dists, k)
            ids = m._1; ds = m._2
          }
          val latency = (now - ps.map(_.ingestMillis).min).toDouble
          ids.indices.map(r => SearchResult(qid, r + 1, ids(r), ds(r), latency))
        }
      }
  }

  /** Decode DUMP partials out of a partial batch: one row per live
   * (partition, id) with its stored event time — the Spark-side surface
   * of the reference's DataType.DUMP state dump. Send
   * `StreamEvent("s", dumpId, null, ts, 0, 0)` and read these from the
   * partial stream (they are excluded from the query merge). `run` and
   * `AdaptiveRouter.runPipeline` drop DUMP partials: their sinks see
   * only the merged query rows, so read a dump from a hand-built
   * `route` + `partials` query over the same events. */
  def stateDumps(batch: DataFrame): DataFrame =
    batch.where(col("numPartitionsSent") < 0 &&
        col("numPartitionsSent") > Int.MinValue + 16) // reserved marker band
      .select(col("queryId").as("dump_id"), col("pid"),
        explode(arrays_zip(col("ids").as("id"), col("dists").as("ts"))).as("e"))
      .select(col("dump_id"), col("pid"), col("e.id").as("id"),
        col("e.ts").cast("long").as("ts"))

  /** Decode the trigger's hot->cold flush partials: one row per
   * TTL-evicted (id, vec, eventTime, attr) — shaped for
   * [[ColdTier.sealLocal]]. `attr` carries each row's
   * streaming filter attribute into the cold segment (null when the job
   * ran unfiltered, or for partials from older jobs whose attrs array is
   * null), so a composed tier stays filterable after the flush:
   * `ColdTier.search(filterColumn = Some("attr"))` serves the cold half
   * of the same queries the hot tier filtered. */
  def evictedRows(parts: Seq[PartialResult]): Seq[ColdTier.SealRow] =
    parts.filter(_.numPartitionsSent == FlushSent).flatMap { p =>
      p.ids.indices.map(i => ColdTier.SealRow(p.ids(i), p.vecs(i),
        p.dists(i).toLong, if (p.attrs == null) null else p.attrs(i)))
    }

  /** Decode the trigger's delete-tombstone partials: (id, ts) per delete. */
  def deleteLogRows(parts: Seq[PartialResult]): Seq[(Long, Long)] =
    parts.filter(_.numPartitionsSent == DeleteLogSent)
      .map(p => (p.ids(0), p.dists(0).toLong))

  /** Seal one micro-batch's TTL-evicted rows as cold segment `batchId` —
   * the reference's flush job (db/flush_job.cc:130-170), which also builds
   * the vector index at flush time (flush_job.cc:944-949) = `indexAtFlush`.
   * `parts` are the trigger's partials as collected on the driver; only
   * the flush partials among them are read.
   * Idempotent under foreachBatch re-execution: batch replay from the
   * checkpoint is deterministic, so a batch whose segment the CATALOG
   * already references IS this flush, committed by a previous attempt.
   * The catalog row — not the segment dir — is the commit predicate:
   * seal writes the files first and appends the catalog row after, so a
   * crash between the two leaves an orphan dir that a dir-existence check
   * would mistake for a commit (the re-run would skip, the rows would
   * never enter the catalog, and gc would delete the orphan — the flush
   * permanently lost). seal's overwrite-mode write makes re-sealing over
   * such an orphan safe. Returns true if sealed. */
  def flushBatch(spark: SparkSession, parts: Seq[PartialResult],
      coldDir: String, batchId: Long, metric: Metric,
      indexAtFlush: Boolean = false, m: Int = 16,
      efConstruction: Int = 64): Boolean = {
    if (finishCommitted(spark, coldDir, batchId, metric, indexAtFlush, m,
        efConstruction)) return false
    val rows = evictedRows(parts)
    if (rows.isEmpty) return false
    ColdTier.sealLocal(spark, rows, coldDir, batchId)
    if (indexAtFlush)
      ColdTier.sealIndexes(spark, coldDir, Seq(batchId), metric, m,
        efConstruction)
    // keep any attr-stats sidecar covering the tier as it grows (one
    // FS listing when there is none)
    ColdTier.refreshAttrStatsFor(spark, coldDir, Set(batchId))
    true
  }

  /** The replay branch of [[flushBatch]] and [[sealStaged]]: true when
   * the catalog already commits segment `batchId`. A crash between the
   * catalog append and the sidecar seals leaves a scan-only or stats-less
   * segment, so this finishes them and re-execution converges. */
  private def finishCommitted(spark: SparkSession, coldDir: String,
      batchId: Long, metric: Metric, indexAtFlush: Boolean, m: Int,
      efConstruction: Int): Boolean = {
    val committed = ColdTier.catalogContains(spark, coldDir, batchId)
    if (committed) {
      if (indexAtFlush && !ColdTier.indexSealed(spark, coldDir, batchId))
        ColdTier.sealIndexes(spark, coldDir, Seq(batchId), metric, m,
          efConstruction)
      if (!ColdTier.attrStatsCover(spark, coldDir, batchId))
        ColdTier.refreshAttrStatsFor(spark, coldDir, Set(batchId))
    }
    committed
  }

  private def stagingPath(coldDir: String) = s"$coldDir/_flush-staging"

  /** Amortized-flush staging ([[run]]'s `flushEveryBatches > 1`): a
   * micro-batch's evicted rows land as `_flush-staging/stage-<bid>`
   * parquet instead of sealing a (catalog-swapping, possibly
   * index-building) segment per trigger. Overwrite mode — checkpoint
   * replay is deterministic, so a re-executed batch re-writes the same
   * staging dir and replay stays idempotent. Durability: staged files
   * live on the tier's storage, so rows evicted in batches the
   * checkpoint already committed (which never re-execute) survive a
   * crash and seal with the next sealing batch. A batch with no evicted
   * rows stages nothing (no empty segment is ever sealed). */
  def stageFlush(spark: SparkSession, parts: Seq[PartialResult],
      coldDir: String, batchId: Long): Unit = {
    import spark.implicits._
    val rows = evictedRows(parts)
    if (rows.nonEmpty)
      rows.toDS().write.mode("overwrite")
        .parquet(s"${stagingPath(coldDir)}/stage-$batchId")
  }

  private def stagingConsumedPath(coldDir: String) =
    s"$coldDir/_staging-consumed"

  /** Staged batch ids a previous seal/drain already consumed. Written
   * AFTER the seal's catalog append (before it, a crash would mark rows
   * consumed that were never sealed — a lost flush; after it, the only
   * residual crash window can produce a duplicate, never a loss — the
   * same trade [[graft.store.ColdTier]]'s compaction marker makes).
   * Exists for the drain-then-restart composition: [[drainStaged]]
   * seals staged rows of a batch the CHECKPOINT never committed, the
   * restarted stream replays that batch and re-stages the same rows
   * (overwrite — correct for replay), and without the marker the next
   * sealing batch would seal them AGAIN under a segment id
   * catalogContains cannot associate with the drain's. One 8-byte row
   * per consumed staged batch — growth is negligible. */
  private def consumedStagedIds(spark: SparkSession,
      coldDir: String): Set[Long] = {
    val p = new org.apache.hadoop.fs.Path(stagingConsumedPath(coldDir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Set.empty
    // catalog-bounded: one 8-byte id per consumed staged BATCH (flush
    // history, never corpus rows)
    else spark.read.parquet(p.toString)
      .select("stagedId").collect().map(_.getLong(0)).toSet
  }

  private def markStagedConsumed(spark: SparkSession, coldDir: String,
      ids: Seq[Long]): Unit = {
    import spark.implicits._
    if (ids.nonEmpty)
      ids.toDF("stagedId").coalesce(1).write.mode("append")
        .parquet(stagingConsumedPath(coldDir))
  }

  private def stagedDirs(spark: SparkSession, coldDir: String,
      upTo: Long): Seq[(Long, org.apache.hadoop.fs.Path)] = {
    val p = new org.apache.hadoop.fs.Path(stagingPath(coldDir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("stage-"))
        scala.util.Try(n.stripPrefix("stage-").toLong).toOption
          .filter(_ <= upTo).map(id => (id, st.getPath))
      else None
    }.sortBy(_._1)
  }

  /** Seal every staged flush batch with id <= `batchId` as the ONE cold
   * segment `batchId`. Same commit contract as [[flushBatch]]: the
   * catalog row is the commit predicate — staged inputs of an
   * already-committed sealing batch are exactly the rows that segment
   * holds (deterministic replay), so the replay path only cleans them up
   * and converges the sidecar. A crash between catalog append and
   * staging delete is likewise healed on replay. Returns true iff a
   * segment was sealed. */
  def sealStaged(spark: SparkSession, coldDir: String, batchId: Long,
      metric: Metric, indexAtFlush: Boolean = false, m: Int = 16,
      efConstruction: Int = 64): Boolean = {
    val all = stagedDirs(spark, coldDir, batchId)
    val fs = new org.apache.hadoop.fs.Path(coldDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (finishCommitted(spark, coldDir, batchId, metric, indexAtFlush, m,
        efConstruction)) {
      all.foreach { case (_, sp) => fs.delete(sp, true) }
      return false
    }
    // a replayed batch re-stages rows a drain already sealed
    // ([[consumedStagedIds]]) — clean those up instead of re-sealing
    val consumed = consumedStagedIds(spark, coldDir)
    val (dead, staged) = all.partition { case (id, _) => consumed(id) }
    dead.foreach { case (_, sp) => fs.delete(sp, true) }
    if (staged.isEmpty) return false
    val rows = spark.read.parquet(staged.map(_._2.toString): _*)
    ColdTier.seal(rows, coldDir, batchId)
    if (indexAtFlush)
      ColdTier.sealIndexes(spark, coldDir, Seq(batchId), metric, m,
        efConstruction)
    ColdTier.refreshAttrStatsFor(spark, coldDir, Set(batchId))
    markStagedConsumed(spark, coldDir, staged.map(_._1))
    staged.foreach { case (_, sp) => fs.delete(sp, true) }
    true
  }

  /** Shutdown drain for an amortized-flush job: seal whatever is still
   * staged (segment id = the max staged batch id — always past every
   * sealed segment's id, since sealing deletes its staged inputs). Call
   * after `StreamingQuery.stop()` when `flushEveryBatches > 1`; the
   * memtable-flush-on-shutdown of this topology. */
  def drainStaged(spark: SparkSession, coldDir: String, metric: Metric,
      indexAtFlush: Boolean = false, m: Int = 16,
      efConstruction: Int = 64): Boolean = {
    val staged = stagedDirs(spark, coldDir, Long.MaxValue)
    staged.lastOption.exists { case (maxId, _) =>
      sealStaged(spark, coldDir, maxId, metric, indexAtFlush, m,
        efConstruction)
    }
  }

  /** [[run]]'s hot->cold lifecycle for one trigger, over its partials
   * on the driver (query and dump partials are ignored), in order: the
   * flush ([[flushBatch]], or [[stageFlush]] + [[sealStaged]] every Nth
   * batch); the delete log, always per batch (a tombstone that waited N
   * triggers could resurrect already-cold rows); compaction; and the
   * auto-recluster check when the catalog may have grown. The parameters
   * are [[run]]'s. */
  final class Lifecycle(spark: SparkSession, coldDir: String, metric: Metric,
      indexAtFlush: Boolean = false, hnswM: Int = 16,
      hnswEfConstruction: Int = 64, flushEveryBatches: Int = 1,
      compactEvery: Int = 0, compactTargetRows: Long = 100000L,
      autoReclusterCells: Int = 0, reclusterAccretedFraction: Double = 0.5,
      reclusterMinSegments: Int = 8, autoReclusterAttr: Option[String] = None,
      autoReclusterAttrBuckets: Int = 8) {
    require(autoReclusterAttr.isEmpty || autoReclusterCells > 0,
      "autoReclusterAttr needs autoReclusterCells > 0 (the trigger " +
        "gate AND the cells-per-bucket count) — with the default 0 the " +
        "attr recluster would silently never run")

    // Segment ids known cell-aligned (outputs of the last auto
    // recluster). Driver-session state: a restarted job counts the whole
    // catalog as accreted and re-clusters once — converging, never wrong.
    private val cellAligned = scala.collection.mutable.Set.empty[Long]

    def apply(parts: Seq[PartialResult], batchId: Long): Unit = {
      val didSeal = flush(parts, batchId)
      ColdTier.sealDeletesLocal(spark, deleteLogRows(parts), coldDir, batchId)
      val compacted =
        compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0
      if (compacted)
        ColdTier.compact(spark, coldDir, targetRows = compactTargetRows,
          metric = metric, m = hnswM, efConstruction = hnswEfConstruction)
      maybeRecluster(didSeal || compacted)
    }

    /** Whether a cold segment may have been sealed (the catalog grew). */
    private def flush(parts: Seq[PartialResult], batchId: Long): Boolean =
      if (flushEveryBatches <= 1) {
        val evicts = parts.exists(_.numPartitionsSent == FlushSent)
        if (evicts)
          flushBatch(spark, parts, coldDir, batchId, metric, indexAtFlush,
            m = hnswM, efConstruction = hnswEfConstruction)
        evicts
      } else {
        stageFlush(spark, parts, coldDir, batchId)
        val seals = batchId > 0 && batchId % flushEveryBatches == 0
        if (seals)
          sealStaged(spark, coldDir, batchId, metric, indexAtFlush,
            m = hnswM, efConstruction = hnswEfConstruction)
        seals
      }

    private def maybeRecluster(catalogGrew: Boolean): Unit =
      if (autoReclusterCells > 0 && catalogGrew) {
        val segs = ColdTier.catalog(spark, coldDir)
        if (segs.length >= reclusterMinSegments) {
          val accreted = segs.count(s => !cellAligned.contains(s.segmentId))
          if (accreted.toDouble / segs.length > reclusterAccretedFraction) {
            try {
              val out = autoReclusterAttr match {
                case Some(c) => ColdTier.reclusterByAttr(spark, coldDir, c,
                  buckets = autoReclusterAttrBuckets,
                  cellsPerBucket = autoReclusterCells, metric = metric,
                  m = hnswM, efConstruction = hnswEfConstruction,
                  buildIndexes = indexAtFlush)
                case None => ColdTier.recluster(spark, coldDir,
                  autoReclusterCells, metric, m = hnswM,
                  efConstruction = hnswEfConstruction,
                  buildIndexes = indexAtFlush)
              }
              cellAligned.clear()
              cellAligned ++= out.iterator.map(_.segmentId)
            } catch {
              // an OUT-OF-BAND committer won the catalog CAS mid-pass:
              // nothing was lost or committed here (ColdTier's fence
              // contract), so this pass is skipped and the next catalog
              // growth re-trips it. This job's own seals cannot race it.
              case e: graft.store.ConcurrentCatalogWriteException =>
                org.slf4j.LoggerFactory
                  .getLogger("graft.streaming.VectorStreamJob")
                  .warn("auto-recluster lost the catalog CAS to a " +
                    "concurrent committer; retrying on the next " +
                    s"catalog growth: ${e.getMessage}")
            }
          }
        }
      }
  }

  /** Wire the full pipeline onto a streaming Dataset; results are appended
   * per micro-batch via foreachBatch into `sink`.
   *
   * Merge: every trigger's partials are collected once and merged on
   * the driver ([[mergePartialsLocal]]), so the query runs one stateful
   * operator and the sink gets a local [[SearchResult]] frame.
   * `crossBatchMerge` is accepted and ignored: [[route]] never splits a
   * fan-out across micro-batches, so there is nothing to carry between
   * triggers.
   *
   * With `coldDir` set, the job runs the full LSM lifecycle
   * ([[Lifecycle]]): TTL-evicted hot state flushes into cold segments per
   * micro-batch ([[flushBatch]], the reference's memtable-flush path,
   * optionally building the HNSW sidecar at flush like
   * flush_job.cc:944-949), and every `compactEvery` batches the accreted
   * small segments merge size-tiered ([[ColdTier.compact]] — which the
   * reference's vector tier disables and lists as future work,
   * vector_options.h:37,42). Hot queries are clamped to maxTtl so the
   * tiers serve disjoint time windows: older windows are answered by
   * `ColdTier.search` over `coldDir` (or `ColdTier.searchIndexedFast`
   * with probeSegments routing when sidecars were built at flush — the
   * zero-corpus-IO serving path; run `ColdTier.recluster` once the tier
   * stops churning to re-seal the time-accreted segments cell-aligned so
   * that routing has centroid signal). Replicated partitioners (rf > 1)
   * may flush an id from more than one partition; the cold top-k merge
   * dedups ids, so results are unaffected (storage carries the replicas,
   * as the hot tier did).
   *
   * Job budget: one collect materializes the trigger over two stages
   * (route, then the keyed operator) and the rest runs from
   * driver-resident rows. Without `coldDir`, or with it but without
   * `indexAtFlush`, that collect is the trigger's only job, deletes
   * included: the delete log is written on the driver
   * ([[ColdTier.sealDeletesLocal]]). A sealing trigger adds
   * the segment write and the catalog append. The sink's frame is local,
   * so its collect runs no job. Staged seals, compaction, recluster and
   * sidecars run their own jobs. Driver memory: one trigger's partials,
   * results, tombstones and evicted rows — at a steady rate about one
   * trigger's inserts (8000 128-d rows are about 4 MB), but an event-time
   * jump can evict the whole hot set in one trigger.
   *
   * Checkpoint compatibility: every mode holds one stateful operator. A
   * checkpoint written while a mode chained the stateful cross-batch
   * merge as a second operator (every `crossBatchMerge = true` job before
   * the merge moved to the driver) has a different operator layout, so
   * such a job must restart from a fresh checkpoint (replay the source;
   * flush and delete-log commits are idempotent per batch id, so a re-run
   * converges). */
  def run(events: Dataset[StreamEvent], model: PartitionerModel, k: Int,
      metric: Metric, maxTtl: Long, useHnsw: Boolean = false,
      checkpointDir: Option[String] = None,
      dropLateQueries: Boolean = false,
      // ignored (see Merge above); kept so existing callers compile
      crossBatchMerge: Boolean = false,
      coldDir: Option[String] = None,
      indexAtFlush: Boolean = false,
      compactEvery: Int = 0,
      compactTargetRows: Long = 100000L,
      // flush granularity: 1 = seal a cold segment per micro-batch (the
      // per-trigger semantics every earlier round ran); N > 1 = stage
      // evicted rows per batch ([[stageFlush]]) and seal the accumulated
      // staging as ONE segment every N batches ([[sealStaged]]) — the
      // production amortization (per-trigger sealing pays a catalog swap
      // + optional index build per 2000-row batch; measured ~4.7x off
      // plain-mode throughput). Staged rows are invisible to cold search
      // until sealed (bounded by N triggers; hot queries never need them
      // — eviction only retires rows older than every hot window); call
      // [[drainStaged]] after stop() to flush the tail.
      flushEveryBatches: Int = 1,
      // ONE graph-parameter pair for the whole job — hot tier, flush
      // sidecars, and compaction rebuilds all use it, so accreted and
      // compacted segments of the same tier never silently diverge in
      // build params
      hnswM: Int = 16,
      hnswEfConstruction: Int = 64,
      // AUTO-maintenance for routing quality: > 0 = the number of
      // k-means cells, and the lifecycle schedules
      // [[ColdTier.recluster]] itself once the ROUTING
      // SIGNAL has decayed — when the fraction of catalog segments
      // accreted since the last recluster (flush/compaction outputs,
      // whose time-ordered layout gives centroid routing nothing to
      // route on) exceeds `reclusterAccretedFraction` and the catalog
      // holds at least `reclusterMinSegments` segments. Keeps the
      // routed-probe cost per query corpus-independent without an
      // operator ever calling recluster by hand; search equivalence is
      // recluster's own atomic-swap contract. The known-cell-aligned
      // set is driver-session state: a restarted job treats the whole
      // catalog as accreted and re-clusters once — converging, never
      // wrong. 0 = off (manual recluster, the pre-existing behavior).
      autoReclusterCells: Int = 0,
      reclusterAccretedFraction: Double = 0.5,
      reclusterMinSegments: Int = 8,
      // ATTR-aligned flavor of the same trigger: when set, the
      // scheduled maintenance pass is
      // [[ColdTier.reclusterByAttr]] on this column
      // (`autoReclusterAttrBuckets` quantile buckets x
      // `autoReclusterCells` k-means cells per bucket) instead of the
      // vector-only recluster — the layout a filtered-search-heavy
      // deployment wants, converged to by the lifecycle itself: the
      // flushed `attr` column's admission sidecar is re-sealed by the
      // pass, so filtered cold queries prune to one bucket with no
      // operator step. Same trigger condition and equivalence contract.
      autoReclusterAttr: Option[String] = None,
      autoReclusterAttrBuckets: Int = 8)(sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = events.sparkSession
    val routed = route(events, model)
    val flush = coldDir.isDefined
    val p = if (useHnsw) partialsHnsw(routed, metric, maxTtl,
              m = hnswM, efConstruction = hnswEfConstruction,
              dropLateQueries = dropLateQueries, flushEvicted = flush)
            else partials(routed, metric, maxTtl, dropLateQueries, flush)
    val lifecycle = coldDir.map(new Lifecycle(spark, _, metric, indexAtFlush,
      hnswM, hnswEfConstruction, flushEveryBatches, compactEvery,
      compactTargetRows, autoReclusterCells, reclusterAccretedFraction,
      reclusterMinSegments, autoReclusterAttr, autoReclusterAttrBuckets))
    val w = p.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[PartialResult], bid: Long) =>
        // trigger-bounded: one trigger's partials
        val parts = batch.collect().toSeq
        val s = batch.sparkSession
        import s.implicits._
        sink(mergePartialsLocal(parts, k).toDF())
        lifecycle.foreach(_(parts, bid))
      }
    checkpointDir.foreach(d => w.option("checkpointLocation", d))
    w.start()
  }
}
