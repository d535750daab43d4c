package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.functions.Text

/**
 * Scalable near-duplicate detection for document corpora — the
 * training-data-pipeline operators (beyond reference parity; built on the
 * same bucket-join machinery as the vector partitioners):
 *
 *  - MinHash + LSH banding: shingle -> minhash signature -> band keys ->
 *    per-bucket pair generation -> signature-estimated Jaccard filter.
 *    Candidate generation never compares all pairs: cost is sum of bucket
 *    sizes squared, which stays near-linear when duplicates are sparse.
 *  - SimHash: 64-bit token-weight fingerprint; 16-bit band exact-match
 *    buckets guarantee every pair within Hamming distance 3 shares a band
 *    (pigeonhole over 4 bands), then exact Hamming filter.
 *
 * Candidate pairs are produced by ONE shuffle of the banded table
 * (groupBy band -> in-bucket pair enumeration). A bucket larger than
 * `maxBucketSize` is non-discriminative (its band says "similar to
 * everything") and is dropped whole — the classic LSH skew guard; truly
 * near-duplicate pairs collide in several independent bands, so
 * discriminative bands still emit them. This cap is what keeps candidate
 * generation near-linear at corpus scale (no quadratic hot key, no
 * driver-side bucket statistics).
 *
 * All hashes are the deterministic, JVM-independent ones in
 * [[graft.functions.Text]], so signatures agree across executors.
 */
object Dedup {

  /** One pass over the corpus: (doc_id, sig ARRAY<LONG>, bands ARRAY<LONG>). */
  def minhashSignatures(
      docs: DataFrame, // (doc_id LONG, text STRING)
      numHashes: Int = 64,
      rowsPerBand: Int = 4,
      shingleWidth: Int = 3,
      seed: Long = 42L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val hasher = Text.MinHasher(numHashes, seed)
    val b = spark.sparkContext.broadcast(hasher)
    docs.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val sig = b.value.signature(text, shingleWidth)
        (id, sig, b.value.bandKeys(sig, rowsPerBand))
      }
      .toDF("doc_id", "sig", "bands")
  }

  /** Candidate (i < j) pairs sharing a band bucket of size <= maxBucketSize:
   * one shuffle on the band key, pairs enumerated inside each bucket. */
  private def bucketPairs(
      banded: Dataset[(Long, Int, Long)], // (doc_id, band_idx, band_key)
      maxBucketSize: Int): DataFrame = {
    val spark = banded.sparkSession
    import spark.implicits._
    banded.groupByKey { case (_, bi, bk) => (bi, bk) }
      .flatMapGroups { (_: (Int, Long), it: Iterator[(Long, Int, Long)]) =>
        // bounded buffering: stop reading a super-bucket at cap+1 instead
        // of materializing it — the hot bucket the cap exists to drop must
        // not first be held whole in one task's memory. The buffer grows
        // on demand: most buckets hold a few ids, not the cap
        var ids = new Array[Long](math.min(maxBucketSize, 15) + 1)
        var n = 0
        while (it.hasNext && n <= maxBucketSize) {
          if (n == ids.length)
            ids = java.util.Arrays.copyOf(ids, math.min(maxBucketSize + 1L, 2L * n).toInt)
          ids(n) = it.next()._1; n += 1
        }
        if (n > maxBucketSize) Iterator.empty
        else {
          java.util.Arrays.sort(ids, 0, n)
          for {
            i <- (0 until n).iterator
            j <- (i + 1) until n
          } yield (ids(i), ids(j))
        }
      }
      .toDF("i", "j")
      .dropDuplicates("i", "j")
  }

  /** MinHash-LSH candidate pairs (i < j) with estimated Jaccard >= threshold
   * from a precomputed signature table. Output: (i, j, est_jaccard). */
  def minhashPairsFromSigs(
      sigBands: DataFrame, // (doc_id, sig, bands) from [[minhashSignatures]]
      threshold: Double = 0.5,
      maxBucketSize: Int = 500): DataFrame = {
    val spark = sigBands.sparkSession
    import spark.implicits._
    val banded = sigBands
      .select(col("doc_id"), posexplode(col("bands")).as(Seq("band_idx", "band_key")))
      .as[(Long, Int, Long)]
    val pairs = bucketPairs(banded, maxBucketSize)
    // join on bare ids only — carrying the 64-slot signatures through the
    // candidate join multiplies shuffle volume ~100x; attach them to the
    // (much smaller) deduped pair set afterwards
    val sigOnly = sigBands.select(col("doc_id"), col("sig"))
    // estimated jaccard = equal-slot fraction, in pure column algebra
    // (zip_with + aggregate stay inside whole-stage codegen; the boxed
    // Seq[Long] UDF this replaces dominated the 1.5M-pair verify pass).
    // Integer count / size is exact in double — bit-equal to
    // Text.minhashSimilarity and to the oracle's SQL replay.
    val est = expr("aggregate(zip_with(sig_a, sig_b, " +
      "(x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)")
      .cast("double") / size(col("sig_a")).cast("double")
    pairs
      .join(sigOnly.select(col("doc_id").as("i"), col("sig").as("sig_a")), "i")
      .join(sigOnly.select(col("doc_id").as("j"), col("sig").as("sig_b")), "j")
      .select(col("i"), col("j"), est.as("est_jaccard"))
      .where(col("est_jaccard") >= threshold)
  }

  /** MinHash-LSH near-duplicate pairs, end to end. */
  def minhashPairs(
      docs: DataFrame,
      numHashes: Int = 64,
      rowsPerBand: Int = 4,
      shingleWidth: Int = 3,
      threshold: Double = 0.5,
      seed: Long = 42L,
      maxBucketSize: Int = 500): DataFrame =
    minhashPairsFromSigs(
      minhashSignatures(docs, numHashes, rowsPerBand, shingleWidth, seed),
      threshold, maxBucketSize)

  /** SimHash banding: (doc_id, sh, band_idx, band_key) — 4 x 16-bit bands. */
  def simhashBands(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val sh = Text.simhash(text)
        // mask, not %: remainder keeps the dividend's sign, so a negative
        // simhash would get different keys than a positive one for
        // identical 16-bit band content, breaking pigeonhole completeness
        (0 until 4).map(i => (id, sh, i, (sh >>> (i * 16)) & 0xFFFFL))
      }
      .toDF("doc_id", "sh", "band_idx", "band_key")
  }

  /** SimHash near-duplicate pairs (i < j) within the given Hamming radius
   * from a precomputed band table. Band width 16 over 4 bands: complete
   * for radius <= 3 (up to bands dropped by the super-bucket cap). */
  def simhashPairsFromBands(
      banded: DataFrame, // (doc_id, sh, band_idx, band_key)
      maxHamming: Int = 3,
      maxBucketSize: Int = 500): DataFrame = {
    val spark = banded.sparkSession
    import spark.implicits._
    val pairs = bucketPairs(
      banded.select(col("doc_id"), col("band_idx"), col("band_key"))
        .as[(Long, Int, Long)], maxBucketSize)
    val sh = banded.select(col("doc_id"), col("sh")).dropDuplicates("doc_id")
    // native bit_count(xor) == Long.bitCount(a ^ b) (the UDF this
    // replaces) — the exact-Hamming verdict stays in whole-stage codegen
    pairs
      .join(sh.select(col("doc_id").as("i"), col("sh").as("sh_a")), "i")
      .join(sh.select(col("doc_id").as("j"), col("sh").as("sh_b")), "j")
      .select(col("i"), col("j"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("int").as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** SimHash near-duplicate pairs, end to end. */
  def simhashPairs(
      docs: DataFrame,
      maxHamming: Int = 3,
      maxBucketSize: Int = 500): DataFrame =
    simhashPairsFromBands(simhashBands(docs), maxHamming, maxBucketSize)

  /** Random-hyperplane (sign) LSH bands for embedding-cosine near-dup:
   * (id, band, bkey) — `numBands` keys of `bitsPerBand` sign bits each,
   * from seeded Gaussian hyperplanes (Charikar's SimHash for vectors).
   * Two vectors at angle θ agree on one sign bit with prob 1 − θ/π, so
   * near-parallel pairs (cosine near-dups) collide in some band with
   * overwhelming probability while random pairs collide at ~2^-bits per
   * band — candidate generation stays near-linear in corpus size. */
  def embeddingBands(
      vecs: DataFrame, // (id LONG, vec ARRAY<FLOAT>)
      dim: Int,
      numBands: Int = 16,
      bitsPerBand: Int = 16,
      seed: Long = 42L): DataFrame = {
    require(bitsPerBand <= 62, "band key must fit a Long")
    val spark = vecs.sparkSession
    import spark.implicits._
    val planes = {
      val r = new java.util.Random(seed)
      Array.fill(numBands * bitsPerBand)(Array.fill(dim)(r.nextGaussian()))
    }
    val b = spark.sparkContext.broadcast(planes)
    vecs.select(col("id"), col("vec"))
      .as[(Long, Array[Float])]
      .flatMap { case (id, v) =>
        val ps = b.value
        (0 until numBands).map { band =>
          var key = 0L
          var bit = 0
          while (bit < bitsPerBand) {
            val p = ps(band * bitsPerBand + bit)
            var d = 0.0
            var i = 0
            val n = math.min(dim, v.length)
            while (i < n) { d += p(i) * v(i); i += 1 }
            if (d > 0) key |= (1L << bit)
            bit += 1
          }
          (id, band, key)
        }
      }
      .toDF("id", "band", "bkey")
  }

  /** Embedding-cosine near-duplicate pairs from materialized band + corpus
   * tables: one shuffle of the banded table enumerates in-bucket pairs
   * (super-buckets dropped whole, the LSH skew guard), then the exact
   * sequential-double cosine filter runs only on candidates. Semantics are
   * deliberately plain-SQL-replayable: identical to a band self-join with
   * a HAVING count <= maxBucketSize bucket filter. */
  def embeddingNearDupPairs(
      corpus: DataFrame, // (id LONG, vec ARRAY<FLOAT>)
      bands: DataFrame, // (id, band, bkey) from [[embeddingBands]]
      maxDist: Double,
      maxBucketSize: Int = 200): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val pairs = bucketPairs(
      bands.select(col("id"), col("band"), col("bkey"))
        .as[(Long, Int, Long)], maxBucketSize)
    pairs
      .join(corpus.select(col("id").as("i"), col("vec").as("va")), "i")
      .join(corpus.select(col("id").as("j"), col("vec").as("vb")), "j")
      .select(col("i"), col("j"),
        graft.functions.Distances.cosine(col("va"), col("vb")).as("dist"))
      .where(col("dist") <= maxDist)
  }

  /** Exact dedup at scale: keep the smallest id per identical content hash.
   * (SQL-oracled variant lives in TextQueries; this is the library form.) */
  def exact(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val h = docs.withColumn("_h", md5(col(textCol)))
    val keep = h.groupBy("_h").agg(min(col(idCol)).as(idCol)).select(col(idCol))
    docs.join(keep, idCol)
  }

  /** Edges up to which components run on the driver: 1 << 20 edges are
   * 16 MiB of ids in two primitive arrays. */
  private val DriverEdgeBound = 1 << 20

  /** Connected components over an undirected pair list (i, j) — the
   * cluster-selection step after near-dup pair generation (a pipeline
   * keeps one document per component). Self-loops and pairs with a null
   * endpoint are ignored. Returns (id, component), one row per endpoint
   * of a kept edge, with component = the smallest id in the connected
   * component, as a checkpointed frame.
   *
   * The edges are read once, capped at `DriverEdgeBound` + 1 rows. When
   * they fit the bound (near-dup graphs are sparse: about one edge per
   * paired document) a union-find over primitive arrays resolves them on
   * the driver, with no shuffle and no job beyond that read.
   * Above the bound the graph stays on the executors: [[starContraction]]. */
  def connectedComponents(pairs: DataFrame, // (i LONG, j LONG)
      maxIters: Int = 25): DataFrame =
    connectedComponents(pairs, maxIters, DriverEdgeBound)

  /** [[connectedComponents]] with the driver bound as a parameter, so a
   * test or profile can force the distributed path (bound 0). */
  private[graft] def connectedComponents(pairs: DataFrame, maxIters: Int,
      driverEdgeBound: Int): DataFrame = {
    val edges = pairs.select(col("i").as("a"), col("j").as("b"))
      .where(col("i") =!= col("j"))
    // bounded: at most driverEdgeBound + 1 edges reach the driver
    val head = edges.limit(driverEdgeBound + 1).collect()
    if (head.length > driverEdgeBound) starContraction(edges, maxIters)
    else {
      val a = new Array[Long](head.length)
      val b = new Array[Long](head.length)
      var e = 0
      while (e < head.length) { a(e) = head(e).getLong(0); b(e) = head(e).getLong(1); e += 1 }
      val (ids, comp) = unionFind(a, b)
      val spark = pairs.sparkSession
      import spark.implicits._
      // checkpointed like the distributed result: callers join on it and
      // read its size statistics, and a bare local relation would plan
      // as a codegen-free LocalTableScan. Lazily: the caller's first
      // action materializes it, so no job runs here
      ids.indices.map(k => (ids(k), comp(k))).toDF("id", "component")
        .localCheckpoint(eager = false)
    }
  }

  /** Union-find over an edge list: (sorted distinct endpoints, each one's
   * component minimum). Ids are compacted to their rank in the sorted
   * endpoint array; union links the larger root under the smaller, so
   * every root is its component's minimum rank, i.e. its minimum id. */
  private def unionFind(a: Array[Long], b: Array[Long]): (Array[Long], Array[Long]) = {
    val all = new Array[Long](a.length + b.length)
    System.arraycopy(a, 0, all, 0, a.length)
    System.arraycopy(b, 0, all, a.length, b.length)
    java.util.Arrays.sort(all)
    var m = 0
    var k = 0
    while (k < all.length) {
      if (m == 0 || all(k) != all(m - 1)) { all(m) = all(k); m += 1 }
      k += 1
    }
    val ids = java.util.Arrays.copyOf(all, m)
    val parent = Array.tabulate(m)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    var e = 0
    while (e < a.length) {
      val ra = find(java.util.Arrays.binarySearch(ids, a(e)))
      val rb = find(java.util.Arrays.binarySearch(ids, b(e)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      e += 1
    }
    (ids, Array.tabulate(m)(x => ids(find(x))))
  }

  /** The distributed fallback of [[connectedComponents]], over the
   * non-self-loop edges (a, b). Star contraction: each round every
   * current super-node points to the minimum of its closed neighborhood
   * (pointers strictly decrease, so no cycles and the component minimum
   * always survives as its own representative), pointer jumping then
   * follows those pointers to their roots, the edge set is rewritten
   * through the roots, self-loops drop, and the round repeats on the
   * CONTRACTED graph. Near-dup components are dense clusters, so the
   * first round collapses most of the edge mass (a clique contracts in
   * one round) — unlike plain label propagation, which re-joins the full
   * edge set for every round of the diameter. A path whose ids rise along
   * it is one pointer chain, so it too contracts in one round, after
   * log2(length) jumps. Edges and the id→component mapping stay
   * distributed. Throws if `maxIters` rounds don't converge rather than
   * return a wrong answer. */
  private def starContraction(edges0: DataFrame, // (a LONG, b LONG), a != b
      maxIters: Int): DataFrame = {
    // each round MUST truncate lineage (localCheckpoint, eager): an
    // iterative join/agg chain otherwise doubles the logical plan per
    // round and planning cost explodes long before the data does. On a
    // real cluster prefer reliable checkpointing (survives executor
    // loss); block-manager truncation is the single-node equivalent.
    // A checkpoint also keeps its source plan's size estimate, and a
    // join's estimate is the product of its sides', so estimates carried
    // across rounds grow without bound (a BigInt product per plan node);
    // re-rooting each checkpoint on its rows resets them every round.
    def checkpoint(df: DataFrame): DataFrame = {
      val cp = df.localCheckpoint()
      cp.sparkSession.createDataFrame(cp.rdd, cp.schema)
    }
    var edges = checkpoint(edges0)
    var mapping = checkpoint(edges.select(col("a").as("id"))
      .unionAll(edges.select(col("b").as("id"))).distinct()
      .select(col("id"), col("id").as("component")))
    var nEdges = edges.count()
    var it = 0
    while (nEdges > 0 && it < maxIters) {
      // super-node -> min of closed neighborhood (strictly decreasing
      // pointer unless already the local minimum)
      val sym = edges.unionAll(edges.select(col("b").as("a"), col("a").as("b")))
      val lbl1 = sym.groupBy("a").agg(min(col("b")).as("m"))
        .select(col("a").as("node"), least(col("a"), col("m")).as("lbl"))
      // pointer jumping to a fixed point (lbl := lbl ∘ lbl): pointers
      // stay within the component and strictly decrease, so they form a
      // forest whose roots point to themselves; each jump halves every
      // node's distance to its root, and when no pointer moves every node
      // points at a root. One jump per round would shed only two nodes
      // per round off a chain whose ids rise along the path (n/2 rounds).
      // Every lbl value is itself an edge endpoint, so the self-join is
      // total.
      var lbl = checkpoint(lbl1)
      var moved = true
      while (moved) {
        val hop = lbl.select(col("node").as("pnode"), col("lbl").as("plbl"))
        val next = checkpoint(lbl.join(hop, col("lbl") === col("pnode"))
          .select(col("node"), col("plbl").as("lbl"),
            (col("plbl") =!= col("lbl")).as("moved")))
        moved = !next.where(col("moved")).isEmpty
        lbl = next.select(col("node"), col("lbl"))
      }
      // compose into the id -> component mapping (components with no
      // remaining edges keep their representative)
      mapping = checkpoint(mapping
        .join(lbl.select(col("node").as("component"), col("lbl")),
          Seq("component"), "left")
        .select(col("id"), coalesce(col("lbl"), col("component")).as("component")))
      // contract: rewrite endpoints through the pointers, drop self-loops
      edges = checkpoint(edges
        .join(lbl.select(col("node").as("a"), col("lbl").as("la")), "a")
        .join(lbl.select(col("node").as("b"), col("lbl").as("lb")), "b")
        .select(col("la").as("a"), col("lb").as("b"))
        .where(col("a") =!= col("b"))
        .distinct())
      nEdges = edges.count()
      it += 1
    }
    require(nEdges == 0, s"connectedComponents: no convergence in $maxIters rounds")
    mapping
  }
}
