package graft.store

import graft.functions.Distances
import graft.Metric

/**
 * In-JVM HNSW index with timestamps and versioned deletes — the hot-tier
 * store (reference semantics: plugin/vectorbackend/memtable/
 * hnsw_memtablerep.{h,cc} V1 — incremental graph build at insert time;
 * hnswalg.h markDelete:221-227 — deletes filter at search; per-item
 * (label, version, ts) with freshness filter hnswlib.h:135-146).
 *
 * Implementation follows the published HNSW algorithm (Malkov & Yashunin,
 * TPAMI 2018): exponential level draw (mL = 1/ln(M)), greedy descent on
 * upper layers, beam search (efConstruction / efSearch) on the lower
 * layers, neighbor selection with the paper's diversity heuristic
 * (Alg. 4 — plain closest-M disconnects clustered data into cliques),
 * neighbor lists pruned to M (2M at layer 0).
 *
 * Deterministic: level draws are seeded from (seed, insertion order), so
 * the same insert sequence builds the same graph on every executor.
 *
 * Hot paths are allocation-free: primitive growable arrays for element
 * storage, epoch-stamped visited flags, and primitive binary heaps for
 * the beam (a boxed PriorityQueue here dominates build time).
 *
 * One writer: `put`/`delete` must not run concurrently with anything
 * else on the same instance. Searches of a graph that is no longer
 * written (a loaded sidecar) may run from any number of threads at once:
 * each thread searches with its own scratch.
 */
final class HnswStore(
    metric: Metric,
    m: Int = 16,
    efConstruction: Int = 128,
    efSearch: Int = 16,
    seed: Long = 42L) extends VectorStore {

  // Graph-internal distance kernel: the fast unrolled-float L2 for
  // navigation/ranking (see Distances.l2Fast — last-ulp parity with the
  // oracle kernel is immaterial here and it ~doubles build throughput).
  private val dist: (Array[Float], Array[Float]) => Double = metric match {
    case Metric.L2 => Distances.l2Fast
    case m => Distances.forMetric(m)
  }
  private val maxM0 = 2 * m
  private val mL = 1.0 / math.log(m.toDouble)

  // element storage (internal id = insertion order), primitive + growable
  private var cap = 1024
  private var labels = new Array[Long](cap)
  private var tss = new Array[Long](cap)
  private var vecs = new Array[Array[Float]](cap)
  private var n = 0
  // neighbors(layer)(node) = array of internal ids; layers grow rarely
  private var neighbors = new Array[Array[Array[Int]]](0)
  private var entryPoint = -1
  private var maxLevel = -1
  private val rnd = new java.util.Random(seed)
  // Boxed value type: get() on a missing key must return null, not a
  // 0-unboxed primitive (a [Long, Int] map silently turns "deleted" into
  // "internal id 0", resurrecting the first-inserted element).
  private val latest = new java.util.HashMap[java.lang.Long, java.lang.Integer]()

  // Optional per-node attribute hashes (sidecar format v2) — the in-walk
  // filtered-search payload: column -> (numericFamily, hash per internal
  // id). Hashes are computed by the SEALER (Spark xxhash64 over the
  // canonically-cast attribute; see ColdTier.attrHashColumn) so the store
  // only ever compares longs. Equal values always hash equal; a collision
  // only ADMITS a wrong candidate (removed by the caller's exact
  // re-rank), never drops a right one.
  private var attrHashes =
    scala.collection.immutable.Map.empty[String, (Boolean, Array[Long])]

  /** Attach the attribute-hash column for in-walk filtering. `hashes`
   * must align with internal-id (= insertion) order. */
  def setAttrHashes(column: String, numeric: Boolean,
      hashes: Array[Long]): Unit = {
    require(hashes.length == n,
      s"attr hashes for $column: ${hashes.length} values for $n nodes")
    attrHashes += column -> (numeric, hashes)
  }

  /** Columns this graph can filter in-walk. */
  def attrColumns: Set[String] = attrHashes.keySet

  // Optional per-node canonical attribute VALUES (sidecar format v3) —
  // the in-walk RANGE payload for numeric-family columns: the same
  // cast-to-double (+0.0) canonicalization the hash rule uses, null
  // stored as NaN (NaN fails every interval test — sound, because SQL
  // range predicates reject null too). Rounding is admit-only against a
  // CLOSED double hull: rounding-to-double is monotone, so a value
  // truly inside [lo, hi] can never round to outside the closed hull of
  // the rounded bounds; strict bounds are admitted closed and the
  // caller's exact re-rank drops the boundary.
  private var attrValues =
    scala.collection.immutable.Map.empty[String, Array[Double]]

  /** Attach canonical double values for in-walk range filtering.
   * `values` must align with internal-id (= insertion) order. */
  def setAttrValues(column: String, values: Array[Double]): Unit = {
    require(values.length == n,
      s"attr values for $column: ${values.length} values for $n nodes")
    attrValues += column -> values
  }

  /** Columns this graph can range-filter in-walk. */
  def attrValueColumns: Set[String] = attrValues.keySet

  override def size: Int = latest.size()

  private def grow(): Unit = {
    cap *= 2
    labels = java.util.Arrays.copyOf(labels, cap)
    tss = java.util.Arrays.copyOf(tss, cap)
    vecs = java.util.Arrays.copyOf(vecs, cap)
    var l = 0
    while (l < neighbors.length) {
      neighbors(l) = java.util.Arrays.copyOf(neighbors(l), cap)
      l += 1
    }
  }

  private def levelFor(): Int = (-math.log(rnd.nextDouble()) * mL).toInt

  // Beam-search scratch. `put` owns one per store (the single writer);
  // searches take the calling thread's ([[HnswStore.searchScratch]]), so
  // concurrent searches over one shared graph (a cached sidecar probed
  // by several statements at once) never share heaps or visited flags.
  private val buildScratch = new HnswStore.Scratch

  /** Beam search on one layer; fills `s.resD/resI/resN` ascending. */
  private def searchLayer(s: HnswStore.Scratch, q: Array[Float], entry: Int,
      ef: Int, layer: Int): Unit = {
    val ep = s.nextEpoch(n)
    val visited = s.visitedEpoch
    val candHeap = s.candHeap
    val foundHeap = s.foundHeap
    candHeap.clear(); foundHeap.clear()
    val d0 = dist(q, vecs(entry))
    candHeap.add(d0, entry)
    foundHeap.add(d0, entry)
    visited(entry) = ep
    val layerNbrs = neighbors(layer)
    while (candHeap.size > 0) {
      val cd = candHeap.topDist
      val cid = candHeap.topId
      if (foundHeap.size >= ef && cd > foundHeap.topDist) {
        candHeap.clear()
      } else {
        candHeap.poll()
        val nbrs = layerNbrs(cid)
        var i = 0
        while (i < nbrs.length) {
          val nb = nbrs(i)
          if (visited(nb) != ep) {
            visited(nb) = ep
            val d = dist(q, vecs(nb))
            if (foundHeap.size < ef || d < foundHeap.topDist) {
              candHeap.add(d, nb)
              foundHeap.add(d, nb)
              if (foundHeap.size > ef) foundHeap.poll()
            }
          }
          i += 1
        }
      }
    }
    // drain max-heap into ascending arrays
    val resN = foundHeap.size
    s.resN = resN
    if (s.resD.length < resN) {
      s.resD = new Array[Double](resN * 2)
      s.resI = new Array[Int](resN * 2)
    }
    val resD = s.resD
    val resI = s.resI
    var i = resN - 1
    while (i >= 0) {
      resD(i) = foundHeap.topDist; resI(i) = foundHeap.topId
      foundHeap.poll(); i -= 1
    }
  }

  /** Diversity-heuristic selection (Alg. 4) over ascending (d, id) arrays;
   * returns selected internal ids, backfilled with skipped (keepPruned). */
  private def selectNeighbors(cd: Array[Double], ci: Array[Int], cn: Int,
      max: Int): Array[Int] = {
    if (cn <= max) return java.util.Arrays.copyOf(ci, cn)
    val out = new Array[Int](max)
    val outD = new Array[Double](max)
    var selected = 0
    val skipped = new Array[Int](cn)
    var nSkipped = 0
    var i = 0
    while (i < cn && selected < max) {
      val cand = ci(i)
      val cd0 = cd(i)
      var good = true
      var j = 0
      while (good && j < selected) {
        if (dist(vecs(cand), vecs(out(j))) < cd0) good = false
        j += 1
      }
      if (good) { out(selected) = cand; outD(selected) = cd0; selected += 1 }
      else { skipped(nSkipped) = cand; nSkipped += 1 }
      i += 1
    }
    var s = 0
    while (selected < max && s < nSkipped) {
      out(selected) = skipped(s); selected += 1; s += 1
    }
    if (selected == max) out else java.util.Arrays.copyOf(out, selected)
  }

  private def greedyDescend(q: Array[Float], from: Int, fromLevel: Int,
      toLevel: Int): Int = {
    var ep = from
    var lc = fromLevel
    while (lc > toLevel) {
      var changed = true
      var best = dist(q, vecs(ep))
      while (changed) {
        changed = false
        val nbrs = neighbors(lc)(ep)
        var i = 0
        while (i < nbrs.length) {
          val d = dist(q, vecs(nbrs(i)))
          if (d < best) { best = d; ep = nbrs(i); changed = true }
          i += 1
        }
      }
      lc -= 1
    }
    ep
  }

  override def put(label: Long, ts: Long, vec: Array[Float]): Unit = {
    if (n == cap) grow()
    val id = n
    val level = levelFor()
    labels(id) = label; tss(id) = ts; vecs(id) = vec
    n += 1
    while (neighbors.length <= level) {
      neighbors = java.util.Arrays.copyOf(neighbors, neighbors.length + 1)
      neighbors(neighbors.length - 1) = new Array[Array[Int]](cap)
    }
    var l = 0
    while (l <= level) { neighbors(l)(id) = HnswStore.EmptyInts; l += 1 }
    latest.put(label, id)
    if (entryPoint == -1) { entryPoint = id; maxLevel = level; return }

    var ep = greedyDescend(vec, entryPoint, maxLevel, math.min(level, maxLevel))
    var lc = math.min(level, maxLevel)
    val sc = buildScratch
    while (lc >= 0) {
      searchLayer(sc, vec, ep, efConstruction, lc)
      val maxConn = if (lc == 0) maxM0 else m
      val selected = selectNeighbors(sc.resD, sc.resI, sc.resN, m)
      neighbors(lc)(id) = selected
      var i = 0
      while (i < selected.length) {
        val nb = selected(i)
        val cur = neighbors(lc)(nb)
        if (cur.length < maxConn) {
          val grown = java.util.Arrays.copyOf(cur, cur.length + 1)
          grown(cur.length) = id
          neighbors(lc)(nb) = grown
        } else {
          // prune with the same diversity heuristic over (cur + id)
          val cn = cur.length + 1
          val pd = new Array[Double](cn)
          val pi = new Array[Int](cn)
          var j = 0
          while (j < cur.length) { pd(j) = dist(vecs(nb), vecs(cur(j))); pi(j) = cur(j); j += 1 }
          pd(cur.length) = dist(vecs(nb), vecs(id)); pi(cur.length) = id
          // insertion sort by (d, id) — cn is small (<= 2M+1)
          j = 1
          while (j < cn) {
            val dj = pd(j); val ij = pi(j)
            var k = j - 1
            while (k >= 0 && (pd(k) > dj || (pd(k) == dj && pi(k) > ij))) {
              pd(k + 1) = pd(k); pi(k + 1) = pi(k); k -= 1
            }
            pd(k + 1) = dj; pi(k + 1) = ij
            j += 1
          }
          neighbors(lc)(nb) = selectNeighbors(pd, pi, cn, maxConn)
        }
        i += 1
      }
      if (sc.resN > 0) ep = sc.resI(0)
      lc -= 1
    }
    if (level > maxLevel) { maxLevel = level; entryPoint = id }
  }

  override def delete(label: Long): Unit = latest.remove(label)

  /** Live (label, ts, vec) triples — used for compaction rebuilds. */
  def liveEntries: Iterator[(Long, Long, Array[Float])] = {
    import scala.jdk.CollectionConverters._
    latest.entrySet().iterator().asScala
      .map(e => (e.getKey.longValue(), tss(e.getValue), vecs(e.getValue)))
      .toArray.sortBy(x => (x._2, x._1)).iterator
  }

  /** True iff internal id is the live version of its label and fresh. */
  @inline private def accept(id: Int, tsFloor: Long, tsCeil: Long): Boolean = {
    val t = tss(id)
    t >= tsFloor && t <= tsCeil && {
      val live = latest.get(labels(id))
      live != null && live.intValue() == id
    }
  }

  /** Serialize the built graph — the V9 index-persistence payoff: the
   * reference builds the HNSW once in the memtable and carries it into
   * the SST at flush (db/flush_job.cc:944-949, reader
   * table/hnsw_table_reader.cc) so cold files are probed, never
   * re-indexed. Format v1: params, element arrays, per-layer adjacency
   * (-1 = node absent from layer), live-version map. Format v2 = v1 +
   * a trailing attribute-hash block (written only when attr hashes were
   * attached — an attribute-less graph stays byte-identical v1).
   * Format v3 = v2 + a trailing canonical-value block (written only when
   * attr VALUES were attached — the in-walk range payload; hash-only
   * graphs stay byte-identical v2).
   * Readable by [[HnswStore.readFrom]] with any efSearch. */
  def writeTo(o: java.io.DataOutputStream): Unit = {
    val ver =
      if (attrValues.nonEmpty) 3
      else if (attrHashes.nonEmpty) 2
      else 1
    o.writeInt(HnswStore.Magic)
    o.writeByte(ver)
    o.writeByte(metric match {
      case Metric.L2 => 0; case Metric.IP => 1; case Metric.Cosine => 2 })
    o.writeInt(m); o.writeInt(efConstruction)
    o.writeInt(n); o.writeInt(maxLevel); o.writeInt(entryPoint)
    var i = 0
    while (i < n) { o.writeLong(labels(i)); o.writeLong(tss(i)); i += 1 }
    i = 0
    while (i < n) {
      val v = vecs(i)
      o.writeInt(v.length)
      var d = 0
      while (d < v.length) { o.writeFloat(v(d)); d += 1 }
      i += 1
    }
    o.writeInt(neighbors.length)
    var l = 0
    while (l < neighbors.length) {
      i = 0
      while (i < n) {
        val nb = neighbors(l)(i)
        if (nb == null) o.writeInt(-1)
        else {
          o.writeInt(nb.length)
          var j = 0
          while (j < nb.length) { o.writeInt(nb(j)); j += 1 }
        }
        i += 1
      }
      l += 1
    }
    o.writeInt(latest.size())
    val it = latest.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      o.writeLong(e.getKey.longValue()); o.writeInt(e.getValue.intValue())
    }
    if (ver >= 2) {
      o.writeInt(attrHashes.size)
      // sorted column order: deterministic bytes for identical input
      attrHashes.toSeq.sortBy(_._1).foreach { case (c, (num, hs)) =>
        o.writeUTF(c)
        o.writeBoolean(num)
        var j = 0
        while (j < n) { o.writeLong(hs(j)); j += 1 }
      }
    }
    if (ver >= 3) {
      o.writeInt(attrValues.size)
      attrValues.toSeq.sortBy(_._1).foreach { case (c, vs) =>
        o.writeUTF(c)
        var j = 0
        while (j < n) { o.writeDouble(vs(j)); j += 1 }
      }
    }
  }

  override def search(q: Array[Float], k: Int, tsFloor: Long,
      tsCeil: Long): Array[(Long, Double)] =
    searchImpl(q, k, tsFloor, tsCeil, null)

  /** ATTRIBUTE-filtered search — the in-walk filtered probe (ACORN-style:
   * traversal stays filter-OBLIVIOUS so graph connectivity is never cut;
   * only candidate ACCEPTANCE applies the predicate — the shape the hot
   * tier's freshness/version accept already uses, and the reference's
   * hnswlib.h:135-146 filter point). With a 1%-selective attribute the
   * geometric ef widening surfaces matching candidates directly instead
   * of forcing the caller into a 1/selectivity shortlist over-fetch.
   *
   * `qNumeric`/`qHash` describe the query literal as canonicalized by the
   * probe plan (same xxhash64-over-cast rule the sealer used). A graph
   * without hashes for `column` — or sealed under the other type family —
   * falls back to the unfiltered walk: a SUPERSET-leaning candidate set
   * the caller's exact re-rank filters, so correctness never depends on
   * the sidecar generation (only recall does). */
  def searchFiltered(q: Array[Float], k: Int, tsFloor: Long, tsCeil: Long,
      column: String, qNumeric: Boolean, qHash: Long,
      // matching-node count from [[countMatching]] over the SAME
      // (column, qHash) — callers probing many queries per graph pass it
      // so the density-sized first beam does not rescan the payload per
      // walk. -1 = count inside the walk.
      precount: Int = -1): Array[(Long, Double)] =
    attrHashes.get(column) match {
      case Some((num, hs)) if num == qNumeric =>
        searchImpl(q, k, tsFloor, tsCeil, id => hs(id) == qHash, precount)
      case _ => searchImpl(q, k, tsFloor, tsCeil, null)
    }

  /** Per-QUERY IN in-walk search: acceptance admits a candidate whose
   * sealed hash for `column` equals ANY of `qHashes` (SORTED ascending —
   * binary-searched per visited node). Same fallback contract as
   * [[searchFiltered]]: no payload for the column, or the other type
   * family, walks unfiltered (superset-leaning; the caller's exact
   * re-rank applies the true IN). */
  def searchFilteredIn(q: Array[Float], k: Int, tsFloor: Long,
      tsCeil: Long, column: String, qNumeric: Boolean,
      qHashes: Array[Long], precount: Int = -1): Array[(Long, Double)] =
    attrHashes.get(column) match {
      case Some((num, hs)) if num == qNumeric =>
        searchImpl(q, k, tsFloor, tsCeil,
          id => java.util.Arrays.binarySearch(qHashes, hs(id)) >= 0,
          precount)
      case _ => searchImpl(q, k, tsFloor, tsCeil, null)
    }

  /** Matching-node count for a per-query equality/IN predicate on
   * `column` — the density the first-beam sizing needs, evaluated once
   * over the payload arrays. Callers probing MANY queries against one
   * graph memoize this per distinct filter value and pass it back as
   * `precount` (the r13 advice: the per-query branch otherwise pays Q
   * redundant O(n) payload passes per shard). `qHashes` must be sorted
   * ascending. Returns -1 when the column has no matching-family
   * payload (unfiltered walk — no count applies). */
  def countMatching(column: String, qNumeric: Boolean,
      qHashes: Array[Long]): Int =
    attrHashes.get(column) match {
      case Some((num, hs)) if num == qNumeric =>
        var cnt = 0
        var i = 0
        while (i < n) {
          if (java.util.Arrays.binarySearch(qHashes, hs(i)) >= 0) cnt += 1
          i += 1
        }
        cnt
      case _ => -1
    }

  /** Plan-time LITERAL-conjunction in-walk search — the IN-list and
   * multi-column WHERE shapes where every filter value is known before
   * the walk starts. Each conjunct is `(column, numericFamily, SORTED
   * ascending literal hashes)`; acceptance admits a candidate only when,
   * for EVERY conjunct this graph carries matching-family hashes for,
   * the node's sealed hash equals one of the literal hashes (IN = any-of
   * within a conjunct, AND across conjuncts). Conjuncts the graph cannot
   * evaluate (no hashes for the column, or the other type family) drop
   * out of acceptance — a superset-leaning candidate set the caller's
   * exact re-rank restricts, so correctness never depends on the sidecar
   * generation (only recall does; all-dropped = the unfiltered walk). */
  /** Matching-node count for a plan-time literal conjunction — the same
   * predicate [[searchFilteredConj]] walks with, evaluated once over the
   * payload arrays. Callers probing MANY queries against one graph
   * compute this once and pass it back as `precount` so the per-walk
   * density sizing does not rescan the payload per query (a 150k-node
   * shard probed by 512 queries would otherwise pay 512 redundant O(n)
   * passes). Returns -1 when no conjunct is evaluable (unfiltered walk —
   * no count applies). */
  def countMatchingConj(conjuncts: Array[(String, Boolean, Array[Long])],
      ranges: Array[(String, Double, Double)]): Int = {
    val pred = conjPredicate(conjuncts, ranges)
    if (pred == null) -1
    else {
      var cnt = 0
      var i = 0
      while (i < n) { if (pred(i)) cnt += 1; i += 1 }
      cnt
    }
  }

  private def conjPredicate(
      conjuncts: Array[(String, Boolean, Array[Long])],
      ranges: Array[(String, Double, Double)]): Int => Boolean = {
    val active = conjuncts.flatMap { case (c, qNumeric, qhs) =>
      attrHashes.get(c) match {
        case Some((num, hs)) if num == qNumeric => Some((hs, qhs))
        case _ => None
      }
    }
    val activeR = ranges.flatMap { case (c, lo, hi) =>
      attrValues.get(c).map(vs => (vs, lo, hi))
    }
    if (active.isEmpty && activeR.isEmpty) null
    else id =>
      active.forall { case (hs, qhs) =>
        java.util.Arrays.binarySearch(qhs, hs(id)) >= 0
      } && activeR.forall { case (vs, lo, hi) =>
        val v = vs(id)
        // Spark orders NaN GREATER than every numeric, so a genuine NaN
        // attribute satisfies any lower bound and fails any finite upper
        // bound — admit it exactly when the hull is upper-unbounded.
        // Sealed NULLs share the NaN encoding and ride along, which is
        // admit-only-safe: the exact re-rank's SQL predicate drops them.
        (v >= lo && v <= hi) ||
          (v != v && hi == Double.PositiveInfinity)
      }
  }

  def searchFilteredConj(q: Array[Float], k: Int, tsFloor: Long,
      tsCeil: Long, conjuncts: Array[(String, Boolean, Array[Long])],
      // RANGE conjuncts as CLOSED double hulls `(column, lo, hi)` over
      // the canonical values (format v3): acceptance admits when
      // lo <= value <= hi. Bounds must arrive pre-closed (strict edges
      // widened to inclusive) — rounding-to-double is monotone, so a
      // truly-matching raw value can never land outside the closed hull
      // of the rounded bounds; the caller's exact re-rank restores
      // strictness. NaN values (sealed nulls) fail every interval.
      // Columns without sealed values drop out (superset-leaning).
      ranges: Array[(String, Double, Double)] = Array.empty,
      // matching-node count from [[countMatchingConj]] over the SAME
      // conjuncts — callers with many queries per graph pass it to skip
      // the per-walk payload rescan. -1 = count inside the walk.
      precount: Int = -1)
      : Array[(Long, Double)] =
    searchImpl(q, k, tsFloor, tsCeil, conjPredicate(conjuncts, ranges),
      precount)

  private def searchImpl(q: Array[Float], k: Int, tsFloor: Long,
      tsCeil: Long, pred: Int => Boolean,
      precount: Int = -1): Array[(Long, Double)] = {
    if (entryPoint == -1 || latest.isEmpty) return Array.empty
    val ep = greedyDescend(q, entryPoint, maxLevel, 0)
    // over-fetch so the accept-filter (deletes, versions, freshness, and
    // the optional attribute predicate) can drop candidates and still
    // leave k (the reference filters inside the C++ search); a fixed
    // factor cannot cover a high stale ratio, a narrow freshness window,
    // or a rare attribute value, so widen geometrically until k
    // survivors are found, the beam exhausts the reachable graph
    // (resN < ef), or ef covers every node
    var ef = math.max(efSearch, k * 4)
    if (pred != null) {
      // size the FIRST beam by the predicate's exact density: one O(n)
      // pass over the payload arrays (trivial next to any walk) counts
      // matching nodes. Zero matches answers EMPTY with no walk at all —
      // the common case on an attr-aligned layout, where the old path
      // widened all the way to ef = n before concluding nothing matched —
      // and a rare predicate jumps straight to the ef the geometric
      // widening would have re-walked its way up to. The widening loop
      // below stays as the backstop for what the count cannot see
      // (stale versions, freshness drops).
      var cnt = precount
      if (cnt < 0) {
        cnt = 0
        var i = 0
        while (i < n) { if (pred(i)) cnt += 1; i += 1 }
      }
      if (cnt == 0) return Array.empty
      ef = math.min(n,
        math.max(ef, math.ceil(k.toDouble * 2 * n / cnt).toInt))
    }
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Double)](k)
    val seenLabels = new java.util.HashSet[Long]()
    val sc = HnswStore.searchScratch.get()
    var done = false
    while (!done) {
      searchLayer(sc, q, ep, ef, 0)
      val resN = sc.resN
      val resD = sc.resD
      val resI = sc.resI
      out.clear(); seenLabels.clear()
      var i = 0
      while (i < resN && out.length < k) {
        val id = resI(i)
        if (accept(id, tsFloor, tsCeil) && (pred == null || pred(id)) &&
            seenLabels.add(labels(id))) {
          out += ((labels(id), resD(i)))
        }
        i += 1
      }
      done = out.length >= k || resN < ef || ef >= n
      if (!done) ef = math.min(n, ef * 4)
    }
    out.sortBy { case (l, d) => (d, l) }.toArray
  }
}

object HnswStore {
  private val EmptyInts = new Array[Int](0)

  // ---- primitive heaps (parallel dist/id arrays) -----------------------

  /** Binary heap over (dist, id); `sign` +1 = min-heap, -1 = max-heap.
   * Ties ordered by smaller id first in a min-heap (matching the
   * reference's (dist, id) ascending contract). */
  private[store] final class Heap(capacity0: Int, sign: Int) extends Serializable {
    var ds = new Array[Double](capacity0)
    var ids = new Array[Int](capacity0)
    var size = 0
    @inline private def lt(d1: Double, i1: Int, d2: Double, i2: Int): Boolean =
      if (d1 != d2) (if (sign > 0) d1 < d2 else d1 > d2)
      else (if (sign > 0) i1 < i2 else i1 > i2)
    def clear(): Unit = size = 0
    def add(d: Double, id: Int): Unit = {
      if (size == ds.length) {
        ds = java.util.Arrays.copyOf(ds, size * 2)
        ids = java.util.Arrays.copyOf(ids, size * 2)
      }
      var i = size
      size += 1
      while (i > 0) {
        val p = (i - 1) >> 1
        if (lt(d, id, ds(p), ids(p))) {
          ds(i) = ds(p); ids(i) = ids(p); i = p
        } else {
          ds(i) = d; ids(i) = id; return
        }
      }
      ds(0) = d; ids(0) = id
    }
    def topDist: Double = ds(0)
    def topId: Int = ids(0)
    def poll(): Unit = {
      size -= 1
      val d = ds(size); val id = ids(size)
      var i = 0
      while (true) {
        val l = 2 * i + 1
        if (l >= size) { ds(i) = d; ids(i) = id; return }
        var c = l
        val r = l + 1
        if (r < size && lt(ds(r), ids(r), ds(l), ids(l))) c = r
        if (lt(ds(c), ids(c), d, id)) {
          ds(i) = ds(c); ids(i) = ids(c); i = c
        } else { ds(i) = d; ids(i) = id; return }
      }
    }
  }

  /** Scratch for one beam search at a time: epoch-stamped visited flags,
   * the two beam heaps and the ascending result buffers. */
  private[store] final class Scratch extends Serializable {
    var visitedEpoch = new Array[Int](1024)
    var epoch = 0
    val candHeap = new Heap(256, +1)  // to expand, closest first
    val foundHeap = new Heap(256, -1) // best ef, worst on top
    var resD = new Array[Double](256)
    var resI = new Array[Int](256)
    var resN = 0

    /** A fresh visited stamp for a walk over `n` nodes. Stamps from
     * earlier walks (of any graph) are all smaller; on wrap-around the
     * flags are cleared once. */
    def nextEpoch(n: Int): Int = {
      if (visitedEpoch.length < n)
        visitedEpoch = java.util.Arrays.copyOf(visitedEpoch,
          math.max(n, visitedEpoch.length * 2))
      if (epoch == Int.MaxValue) {
        java.util.Arrays.fill(visitedEpoch, 0)
        epoch = 0
      }
      epoch += 1
      epoch
    }
  }

  /** Each thread's search scratch, shared by every store it searches —
   * one walk runs at a time per thread. */
  private val searchScratch: ThreadLocal[Scratch] =
    ThreadLocal.withInitial(() => new Scratch)
  private val Magic = 0x47484E57 // "GHNW"

  /** Deserialize a graph written by [[HnswStore.writeTo]]. `efSearch` is a
   * search-time knob, chosen by the reader, not baked into the bytes. */
  def readFrom(in: java.io.DataInputStream, efSearch: Int = 64): HnswStore = {
    require(in.readInt() == Magic, "not an HNSW sidecar (bad magic)")
    val ver = in.readByte()
    require(ver >= 1 && ver <= 3, s"unsupported HNSW sidecar version $ver")
    val metric = in.readByte() match {
      case 0 => Metric.L2; case 1 => Metric.IP; case 2 => Metric.Cosine
      case b => throw new IllegalArgumentException(s"bad metric byte $b")
    }
    val m = in.readInt()
    val efC = in.readInt()
    val s = new HnswStore(metric, m, efC, efSearch)
    val n = in.readInt()
    s.cap = math.max(s.cap, n)
    s.n = n
    s.maxLevel = in.readInt()
    s.entryPoint = in.readInt()
    s.labels = new Array[Long](s.cap)
    s.tss = new Array[Long](s.cap)
    s.vecs = new Array[Array[Float]](s.cap)
    var i = 0
    while (i < n) { s.labels(i) = in.readLong(); s.tss(i) = in.readLong(); i += 1 }
    i = 0
    while (i < n) {
      val dim = in.readInt()
      val v = new Array[Float](dim)
      var d = 0
      while (d < dim) { v(d) = in.readFloat(); d += 1 }
      s.vecs(i) = v
      i += 1
    }
    val nLayers = in.readInt()
    s.neighbors = new Array[Array[Array[Int]]](nLayers)
    var l = 0
    while (l < nLayers) {
      s.neighbors(l) = new Array[Array[Int]](s.cap)
      i = 0
      while (i < n) {
        val len = in.readInt()
        if (len >= 0) {
          val nb = new Array[Int](len)
          var j = 0
          while (j < len) { nb(j) = in.readInt(); j += 1 }
          s.neighbors(l)(i) = nb
        }
        i += 1
      }
      l += 1
    }
    val nLive = in.readInt()
    i = 0
    while (i < nLive) {
      val label = in.readLong(); val id = in.readInt()
      s.latest.put(label, id)
      i += 1
    }
    if (ver >= 2) {
      val nCols = in.readInt()
      var c = 0
      while (c < nCols) {
        val name = in.readUTF()
        val num = in.readBoolean()
        val hs = new Array[Long](n)
        i = 0
        while (i < n) { hs(i) = in.readLong(); i += 1 }
        s.setAttrHashes(name, num, hs)
        c += 1
      }
    }
    if (ver >= 3) {
      val nCols = in.readInt()
      var c = 0
      while (c < nCols) {
        val name = in.readUTF()
        val vs = new Array[Double](n)
        i = 0
        while (i < n) { vs(i) = in.readDouble(); i += 1 }
        s.setAttrValues(name, vs)
        c += 1
      }
    }
    s
  }
}
