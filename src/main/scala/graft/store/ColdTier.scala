package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.Metric
import graft.functions.{Distances, TopKAggregator}

/** A catalog read-modify-write lost the version CAS (another writer —
 * a streaming flusher's seal, an out-of-band compact/recluster —
 * committed after this writer read the catalog), or the writer lock
 * stayed held past the wait budget. Nothing was committed and nothing
 * was lost: re-read the catalog ([[ColdTier.catalogVersioned]]) and
 * retry the pass. */
final class ConcurrentCatalogWriteException(msg: String)
  extends java.io.IOException(msg)

/**
 * Cold-tier segment storage: sealed vector segments as Parquet files with
 * a small stats catalog — the Spark re-expression of the reference's
 * HNSW-SST hierarchy (reference semantics, not mechanism):
 *
 *  - V3 freshness pruning: a segment whose [minTs, maxTs] window is
 *    disjoint from the query's [tsFloor, tsCeil] is never read (the
 *    reference's `lastest_key_time` SST skip, db/version_set.cc:2590-2597).
 *  - V5/V6 hot-first search with early termination: segments are ordered
 *    per query by centroid proximity ("temperature"); after a first wave
 *    establishes a kth-distance threshold, remaining segments are skipped
 *    when their triangle-inequality lower bound exceeds
 *    `threshold * terminationFactor` (factor 1.0 = provably lossless skip;
 *    < 1.0 = the reference's approximate early termination,
 *    version_set.cc:2640-2652). The lower-bound algebra
 *    (sqrt(l2²) − radius vs sqrt(kth)) only holds for L2, so pruning is
 *    L2-only: other metrics scan every fresh segment in one wave.
 *  - V7 eviction: `evict` drops whole segments older than the retention
 *    floor (watermark - maxTtl) via a tmp-write + atomic catalog rename.
 *
 * Everything is planned distributed: the catalog (one row per segment) is
 * broadcast, per-query probe lists are computed in a mapPartitions over
 * the query set, each wave is ONE multi-segment Parquet scan joined
 * against the broadcast probe set, and the merge is the same partial
 * top-k aggregation the exact kNN path uses (k rows per query per
 * partition reach the shuffle). The only driver materialization is the
 * catalog itself and the per-wave distinct segment-id list — both bounded
 * by segment count, never by query or vector count.
 *
 * Writer contract: catalog commits are fenced by a version CAS plus a
 * short writer lock (see the "catalog commit protocol" section inside) —
 * concurrent committers are SAFE but not concurrent: the later
 * read-modify-write fails loudly with [[ConcurrentCatalogWriteException]]
 * and must re-read and retry. Run maintenance (compact / recluster /
 * evict) from one job at a time per tier dir; the streaming flusher's
 * seal appends are serialized against it by the same fence.
 */
object ColdTier {

  private lazy val logger =
    org.slf4j.LoggerFactory.getLogger("graft.store.ColdTier")

  /** `temperature` is an EWMA of the segment's result-hit counts
   * (reference V6 access/hit/age statistics, plugin/vectorbackend/util/
   * metrics.h + db/version_set.cc:2508-2561), maintained off the query
   * path by [[recordHits]]; it orders equally-bounded segments
   * hottest-first in wave planning. */
  final case class SegmentStats(segmentId: Long, path: String, count: Long,
      minTs: Long, maxTs: Long, centroid: Array[Float], radius: Double,
      temperature: Double = 0.0)

  private def statsPath(dir: String) = s"$dir/_segments"

  /** Floor of the reserved segment-id namespace for [[compact]] outputs.
   * Streaming flushes use micro-batch ids (small, monotonically growing
   * longs); compaction ids live at >= 2^62 so the two allocators can
   * never mint the same id — see [[compact]] for the loss mode a shared
   * namespace causes. */
  val CompactionIdBase: Long = 1L << 62

  /** Public (not `private`): Spark codegen references the buffer class
   * from generated Java, which cannot touch private members — a private
   * buffer still computes correctly but every task falls back to
   * interpreted projection after a logged Janino CompileException. */
  final case class VecMeanBuf(sums: Array[Double], n: Long)

  /** One-buffer vector mean: a single aggregate over the whole array.
   * The per-element `avg(element_at(vec, i))` form builds a dim-wide
   * expression tree — fine at dim 64, pathological at dim 4096. The
   * buffer is sized by the first row it reduces (no separate dim probe
   * job); an empty buffer is the identity of `merge`. */
  private object VecMeanAggregator
    extends org.apache.spark.sql.expressions.Aggregator[
      Seq[Float], VecMeanBuf, Seq[Double]] {
    def zero: VecMeanBuf = VecMeanBuf(Array.emptyDoubleArray, 0L)
    def reduce(b: VecMeanBuf, a: Seq[Float]): VecMeanBuf = {
      val sums = if (b.n == 0) new Array[Double](a.length) else b.sums
      var i = 0
      while (i < sums.length) { sums(i) += a(i); i += 1 }
      VecMeanBuf(sums, b.n + 1)
    }
    def merge(x: VecMeanBuf, y: VecMeanBuf): VecMeanBuf =
      if (y.n == 0) x
      else if (x.n == 0) y
      else {
        var i = 0
        while (i < x.sums.length) { x.sums(i) += y.sums(i); i += 1 }
        VecMeanBuf(x.sums, x.n + y.n)
      }
    def finish(b: VecMeanBuf): Seq[Double] =
      if (b.n == 0) Seq.empty else b.sums.map(_ / b.n).toSeq
    def bufferEncoder: org.apache.spark.sql.Encoder[VecMeanBuf] =
      Encoders.product[VecMeanBuf]
    def outputEncoder: org.apache.spark.sql.Encoder[Seq[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** Seal a batch of vectors (id, vec, eventTime) into a new segment.
   * Rows carry their segmentId so a multi-segment scan can route them
   * back to the probes that requested the segment (constant-encoded by
   * Parquet, costs ~nothing on disk).
   *
   * On-disk format note: segments sealed by pre-temperature versions lack
   * the segmentId column and their catalogs lack `temperature` — re-seal
   * them before use (no compatibility shim is kept; nothing in this repo
   * persists cold tiers across versions). */
  def seal(vectors: DataFrame, dir: String, segmentId: Long): SegmentStats = {
    val spark = vectors.sparkSession
    import spark.implicits._
    heal(spark, dir)
    val stats = writeSegment(vectors, dir, segmentId)
    appendCatalog(spark, dir, Seq(stats).toDF())
    stats
  }

  /** One driver-resident row of a [[sealLocal]] input: the core columns
   * plus one string attribute (`attr`, null when the row has none). */
  final case class SealRow(id: Long, vec: Array[Float], eventTime: Long,
      attr: String)

  /** [[seal]] for rows already on the driver (the streaming flush holds
   * its evicted rows after the trigger's one collect): the same segment
   * layout and catalog append, but the rows are split into the
   * id-salted files here, so the write is one Spark job with no shuffle,
   * and the stats come from the rows in hand instead of read-back jobs —
   * count, min/max event time, the double-precision mean as centroid and
   * the exact L2 radius around it. */
  def sealLocal(spark: SparkSession, rows: Seq[SealRow], dir: String,
      segmentId: Long): SegmentStats = {
    import spark.implicits._
    require(rows.nonEmpty, s"sealLocal: segment $segmentId has no rows")
    heal(spark, dir)
    val nSealFiles = sealFilesPerSegment
    // the salt of writeSegment's `pmod(xxhash64(id), n)`, one file each
    val salted = rows.groupBy(r => java.lang.Math.floorMod(
        org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(r.id, 42L),
        nSealFiles.toLong))
      .toSeq.sortBy(_._1).map(_._2)
    val path = writeSegmentFiles(spark.createDataset(
      spark.sparkContext.parallelize(salted, salted.length)
        .flatMap(identity)).toDF(), dir, segmentId)
    val stats = localStats(rows, segmentId, path)
    appendCatalog(spark, dir, Seq(stats).toDF())
    stats
  }

  /** The catalog row [[writeSegment]] computes, from rows in hand. */
  private def localStats(rows: Seq[SealRow], segmentId: Long,
      path: String): SegmentStats = {
    val sums = new Array[Double](rows.head.vec.length)
    var minTs = Long.MaxValue
    var maxTs = Long.MinValue
    rows.foreach { r =>
      var i = 0
      while (i < sums.length) { sums(i) += r.vec(i); i += 1 }
      minTs = math.min(minTs, r.eventTime)
      maxTs = math.max(maxTs, r.eventTime)
    }
    val centroid = sums.map(s => (s / rows.length).toFloat)
    val r2 = rows.iterator.map(r => Distances.l2(r.vec, centroid)).max
    SegmentStats(segmentId, path, rows.length.toLong, minTs, maxTs,
      centroid, math.sqrt(r2))
  }

  /** Append catalog rows and bump the version, both under the writer
   * lock: row first, bump second, so a concurrent CAS writer either sees
   * the bumped version (fails loud, retries with the new row) or
   * committed before this append started (the row then lands in the NEW
   * live catalog dir — appends target whatever dir is live). */
  private def appendCatalog(spark: SparkSession, dir: String,
      rows: DataFrame): Unit = {
    val live = new Path(statsPath(dir))
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    withCatalogLock(fs, dir) {
      rows.write.mode("append").parquet(statsPath(dir))
      writeVersionAt(fs, live, readVersionAt(fs, live) + 1)
    }
  }

  private def attrStatsPath(dir: String, column: String) =
    s"$dir/attr-stats/$column"

  /** Commit an attr-stats frame CRASH-ATOMICALLY: write to a dotted tmp
   * dir, then swap (delete old, rename tmp into place) — the same
   * tmp+rename discipline every other catalog artifact uses. A crash
   * mid-write leaves only an orphaned `.tmp-*` dir (ignored by
   * [[attrStatsColumns]] and unreadable as a sidecar path, swept on the
   * next seal); a crash between delete and rename leaves NO sidecar,
   * which the read side degrades to no-pruning — a half-written stats
   * dir at the live path is impossible by construction. */
  private def commitAttrStats(spark: SparkSession, dir: String,
      column: String, stats: DataFrame): Unit = {
    val finalPath = new Path(attrStatsPath(dir, column))
    val fs = finalPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // sweep prior orphans for this column (a crashed earlier attempt)
    if (fs.exists(finalPath.getParent))
      fs.listStatus(finalPath.getParent)
        .filter(_.getPath.getName.startsWith(s".tmp-$column-"))
        .foreach(s => fs.delete(s.getPath, true))
    val tmp = new Path(finalPath.getParent,
      s".tmp-$column-${java.util.UUID.randomUUID().toString.take(8)}")
    stats.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    if (fs.exists(finalPath)) fs.delete(finalPath, true)
    if (!fs.rename(tmp, finalPath)) {
      fs.delete(tmp, true)
      throw new java.io.IOException(
        s"commitAttrStats: rename $tmp -> $finalPath failed")
    }
  }

  /** Per-segment min/max sidecar for an ATTRIBUTE column — the filtered
   * search's partition-pruning signal. One grouped aggregate over the
   * cataloged segments, committed via tmp+rename (re-run after
   * compaction / recluster to refresh; the read side treats a missing
   * stats row as "never prune", so stale or absent stats only cost
   * performance, never correctness). With a label-ALIGNED seal (one
   * segment per label — a recluster key choice), a filtered search then
   * plans probes only into the segments whose [min,max] admits the
   * query's qfilter — at a 100-TB tier this is the difference between
   * scanning every fresh segment and touching 1/|labels| of them, with
   * zero IO for the rest. */
  def sealAttrStats(spark: SparkSession, dir: String,
      column: String): Unit = {
    val segs = catalog(spark, dir)
    if (segs.isEmpty) return
    commitAttrStats(spark, dir, column, attrStatsRows(
      spark.read.parquet(segs.map(_.path).toIndexedSeq: _*), column))
  }

  /** Bucket count of the per-segment equi-width histograms sealed
   * beside [min,max] for NUMERIC attribute columns. */
  private[store] val HistBuckets = 32

  /** The (segmentId, amin, amax, hcounts) stats rows for `column` over
   * segment rows carrying their segmentId — the one aggregation both
   * [[sealAttrStats]] and the incremental refresh share. For NUMERIC
   * columns, `hcounts` is a dense [[HistBuckets]]-long equi-width
   * bucket-count array over the segment's own [amin, amax] (null
   * attrs are not counted; NaN bounds or a non-numeric column yield a
   * null histogram — min/max admission only). The histogram buys
   * GAP pruning beyond the interval test: a time-sliced segment whose
   * attribute range is wide but bimodal (values {0, 9}) is dropped for
   * a band [3, 5] the bare [min,max] would admit — at a 100-TB tier,
   * that is the admission signal for tiers whose layout does NOT align
   * with the filter column. Reader and writer share one bucket
   * formula (floor((v - amin) / ((amax - amin) / B)) clamped to
   * [0, B-1], all-in-one-bucket when amax <= amin), so a stored value
   * and the same literal always land in the same bucket. */
  private def attrStatsRows(df: DataFrame, column: String): DataFrame = {
    val numeric = df.schema(column).dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
    val mm = df.groupBy("segmentId")
      .agg(min(col(column)).as("amin"), max(col(column)).as("amax"))
    if (!numeric)
      return mm.withColumn("hcounts", lit(null).cast("array<bigint>"))
    val aminD = col("amin").cast("double")
    val amaxD = col("amax").cast("double")
    val vD = col("v").cast("double")
    val width = (amaxD - aminD) / HistBuckets
    val withB = df.select(col("segmentId"), col(column).as("v"))
      .where(col("v").isNotNull && !isnan(col("v").cast("double")))
      .join(broadcast(mm), "segmentId")
      // NaN bounds (a NaN value dominated min/max) poison the bucket
      // arithmetic: such segments keep a null histogram instead
      .where(!isnan(aminD) && !isnan(amaxD))
      .withColumn("bkt",
        when(amaxD <= aminD, lit(0))
          .otherwise(least(lit(HistBuckets - 1),
            floor((vD - aminD) / width).cast("int"))))
    val counts = withB.groupBy("segmentId", "bkt").count()
      .groupBy("segmentId")
      .agg(map_from_entries(
        collect_list(struct(col("bkt"), col("count")))).as("m"))
      .select(col("segmentId"),
        transform(sequence(lit(0), lit(HistBuckets - 1)),
          i => coalesce(try_element_at(col("m"), i), lit(0L)))
          .as("hcounts"))
    mm.join(counts, Seq("segmentId"), "left")
      .select(col("segmentId"), col("amin"), col("amax"), col("hcounts"))
  }

  /** Incrementally extend every EXISTING attr-stats sidecar with the
   * stats rows of newly sealed segments — the streaming lifecycle's
   * maintenance hook ([[graft.streaming.VectorStreamJob]] calls it
   * after `flushBatch`/`sealStaged` commit a segment): without it, a
   * tier whose operator sealed attr-stats once would silently stop
   * pruning every segment flushed AFTER the seal (correct — missing
   * rows never prune — but the pruning benefit decays to zero under
   * sustained ingest). Surviving segments' rows are kept verbatim
   * (immutable by construction); only the new segments are aggregated,
   * so the per-flush cost is one small scan of the new segment's
   * attribute column per sidecar, never a tier scan. No-op (one FS
   * listing) when the tier has no sidecar. Idempotent — re-aggregating
   * a segment yields the same [min,max] row, so crash-replay
   * convergence is free. */
  def refreshAttrStatsFor(spark: SparkSession, dir: String,
      newIds: Set[Long]): Unit =
    refreshAttrStats(spark, dir, Some(newIds))

  /** Whether every existing sidecar already carries a row for `id` —
   * the replay-path guard that keeps idempotent re-execution from
   * paying a sidecar commit per replayed trigger. Vacuously true with
   * no sidecars. */
  private[graft] def attrStatsCover(spark: SparkSession, dir: String,
      id: Long): Boolean =
    attrStatsColumns(spark, dir).forall(c =>
      loadAttrStats(spark, dir, c).exists(st =>
        if (st.numeric) st.num.contains(id) else st.str.contains(id)))

  /** Columns with a sealed attr-stats sidecar (dotted dirs are in-flight
   * tmp commits or orphans of a crashed one — never sidecars). */
  private def attrStatsColumns(spark: SparkSession,
      dir: String): Seq[String] = {
    val p = new Path(s"$dir/attr-stats")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).filter(_.isDirectory)
      .map(_.getPath.getName).filterNot(_.startsWith(".")).toSeq
  }

  /** Re-seal every attr-stats sidecar against the CURRENT catalog —
   * called by [[compact]]/[[recluster]] after their catalog swap so
   * pruning keeps working across the lifecycle (stats for consumed
   * segments are merely ignored, but the MERGED segments would have no
   * rows and never prune). With `rewrittenIds` the refresh is
   * INCREMENTAL: surviving segments' stats rows are immutable (segment
   * files never change in place), so only the newly written segments
   * are re-aggregated — a compaction that merged two flush segments
   * must not pay a whole-tier scan per sidecar column. A column that
   * can no longer be computed (e.g. dropped by a schema change —
   * surfacing as an AnalysisException) has its sidecar deleted rather
   * than left stale, with a logged warning; a TRANSIENT failure (IO,
   * task loss) instead retries the full [[sealAttrStats]] once and only
   * deletes — again logged — if that also fails, so one blip cannot
   * silently and permanently disable pruning for the column. */
  private def refreshAttrStats(spark: SparkSession, dir: String,
      rewrittenIds: Option[Set[Long]] = None): Unit =
    attrStatsColumns(spark, dir).foreach { c =>
      def dropSidecar(cause: Throwable, why: String): Unit = {
        logger.warn(s"refreshAttrStats($dir, $c): $why — deleting the " +
          s"sidecar; attr-range pruning on '$c' is disabled until " +
          s"sealAttrStats is re-run", cause)
        val sp = new Path(attrStatsPath(dir, c))
        sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(sp, true)
      }
      try {
        rewrittenIds match {
          case None => sealAttrStats(spark, dir, c)
          case Some(newIds) =>
            val cat = catalog(spark, dir)
            val newSegs = cat.filter(s => newIds(s.segmentId))
            val keepIds = (cat.map(_.segmentId).toSet -- newIds).toSeq
            val p = attrStatsPath(dir, c)
            val old = spark.read.parquet(p)
            // one row per surviving segment: catalog-bounded collect
            // (materialized driver-side so the commit below never
            // reads from the path it is replacing)
            val keptRows = old
              .where(col("segmentId").isin(keepIds: _*)).collect()
            val keptDf = spark.createDataFrame(
              spark.sparkContext.parallelize(keptRows.toIndexedSeq, 1),
              old.schema)
            val refreshed =
              if (newSegs.isEmpty) keptDf
              // allowMissingColumns: a pre-histogram sidecar's rows
              // survive a refresh with null hcounts (min/max-only
              // admission for them — conservative), and vice versa
              else try keptDf.unionByName(attrStatsRows(
                spark.read.parquet(newSegs.map(_.path).toIndexedSeq: _*),
                c), allowMissingColumns = true)
              catch {
                // only the NEW segments lack the column (e.g. an
                // attr-less streaming job flushing into a labeled
                // tier): keep the surviving rows — the new segments
                // simply never prune — instead of letting the outer
                // analysis-error handler delete the whole sidecar and
                // disable pruning for segments that still have it
                // (IllegalArgumentException is the missing-column
                // rendering of attrStatsRows' schema() access)
                case _: org.apache.spark.sql.AnalysisException => keptDf
                case _: IllegalArgumentException => keptDf
              }
            commitAttrStats(spark, dir, c, refreshed)
        }
      } catch {
        case ae: org.apache.spark.sql.AnalysisException =>
          dropSidecar(ae, "column no longer computable (analysis error)")
        case scala.util.control.NonFatal(e1) =>
          try sealAttrStats(spark, dir, c)
          catch {
            case scala.util.control.NonFatal(e2) =>
              e2.addSuppressed(e1)
              dropSidecar(e2, "refresh and full re-seal both failed")
          }
      }
    }

  /** Unsigned lexicographic compare of UTF-8 bytes — Spark's own string
   * ordering (UTF8String is byte-ordered = code-point-ordered). Java
   * String.compareTo orders by UTF-16 code UNIT, which inverts
   * supplementary characters vs BMP private-use ones — comparing in the
   * sealed min/max's own order keeps pruning lossless for any label. */
  private def utf8Compare(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = (a(i) & 0xff) - (b(i) & 0xff)
      if (x != 0) return x
      i += 1
    }
    a.length - b.length
  }

  /** Loaded attr stats, numeric or lexicographic. Pruning is strictly
   * CONSERVATIVE — it may only drop a segment when no row can match:
   * a segment with no stats row never prunes; NaN anywhere (in the
   * sealed bounds or the qfilter) never prunes (NaN breaks interval
   * reasoning — the scan kernel decides); an all-null attribute is an
   * empty interval (numeric: (+inf,-inf); string: null bounds) that
   * prunes for any non-null qfilter (a null-rejecting equality can
   * match nothing there); string bounds compare in UTF-8 byte order,
   * the order they were sealed in. */
  private final case class AttrStats(numeric: Boolean,
      num: Map[Long, (Double, Double)],
      str: Map[Long, (Array[Byte], Array[Byte])],
      // optional per-segment equi-width histograms (numeric sidecars
      // sealed since the histogram schema; null/missing = min/max only)
      hist: Map[Long, Array[Long]] = null) extends Serializable {

    /** GAP admission from the bucket counts: does any bucket that the
     * CLAMPED query interval [vlo, vhi] ⊆ [lo, hi] touches hold mass?
     * Absent/degenerate histograms admit (conservative); the bucket
     * formula mirrors [[attrStatsRows]] exactly so a stored value and
     * the same literal always land in the same bucket. */
    private def histAdmits(segId: Long, vlo: Double, vhi: Double,
        lo: Double, hi: Double): Boolean = {
      if (hist == null) return true
      val h = hist.getOrElse(segId, null)
      if (h == null) return true
      if (hi <= lo) return true // point segment: interval test decided
      val width = (hi - lo) / HistBuckets
      var i = math.min(HistBuckets - 1,
        math.floor((math.max(vlo, lo) - lo) / width).toInt)
      val iHi = math.min(HistBuckets - 1,
        math.floor((math.min(vhi, hi) - lo) / width).toInt)
      while (i <= iHi) {
        if (h(i) > 0L) return true
        i += 1
      }
      false
    }

    def mayMatch(segId: Long, qfd: Double, qfB: Array[Byte]): Boolean =
      if (numeric) num.get(segId) match {
        case Some((lo, hi)) =>
          if (qfd.isNaN || lo.isNaN || hi.isNaN) true
          else qfd >= lo && qfd <= hi && histAdmits(segId, qfd, qfd, lo, hi)
        case None => true
      } else str.get(segId) match {
        case Some((lo, hi)) =>
          if (qfB == null) true
          else if (lo == null) false
          else utf8Compare(qfB, lo) >= 0 && utf8Compare(qfB, hi) <= 0
        case None => true
      }

    /** RANGE admission (`attribute BETWEEN qlo AND qhi`, numeric only):
     * interval overlap against the sealed [min,max] — conservative
     * like [[mayMatch]] (no stats row / NaN anywhere never prunes; an
     * all-null attribute is the empty interval (+inf,-inf), which
     * overlaps no finite range, so it prunes — a null attribute can
     * never satisfy a range predicate). Closed-interval overlap also
     * soundly over-admits half-open query bounds, so callers with
     * strict (`<`/`>`) bounds may pass the closed hull. String-typed
     * sidecars never prune here (range mode is numeric-only). */
    def mayOverlap(segId: Long, qlo: Double, qhi: Double): Boolean =
      if (!numeric) true
      else num.get(segId) match {
        case Some((lo, hi)) =>
          if (qlo.isNaN || qhi.isNaN || lo.isNaN || hi.isNaN) true
          else qhi >= lo && qlo <= hi &&
            histAdmits(segId, qlo, qhi, lo, hi)
        case None => true
      }

    /** UPPER bound on the segment's rows matching values in
     * [qlo, qhi]: the bucket mass the clamped interval touches, or
     * `segTotal` when there is no usable signal (missing stats/hist,
     * NaN, string sidecar). Selectivity estimates built on this only
     * ever RAISE a static overfetch floor, so an overestimate is the
     * safe direction. */
    def massIn(segId: Long, qlo: Double, qhi: Double,
        segTotal: Long): Long =
      if (!numeric) segTotal
      else num.get(segId) match {
        case Some((lo, hi)) =>
          if (qlo.isNaN || qhi.isNaN || lo.isNaN || hi.isNaN) segTotal
          else if (qhi < lo || qlo > hi) 0L
          else {
            val h = if (hist == null) null else hist.getOrElse(segId, null)
            if (h == null || hi <= lo) segTotal
            else {
              val width = (hi - lo) / HistBuckets
              var i = math.min(HistBuckets - 1,
                math.floor((math.max(qlo, lo) - lo) / width).toInt)
              val iHi = math.min(HistBuckets - 1,
                math.floor((math.min(qhi, hi) - lo) / width).toInt)
              var m = 0L
              while (i <= iHi) { m += h(i); i += 1 }
              math.min(m, segTotal)
            }
          }
        case None => segTotal
      }
  }

  /** Driver-side stats cache keyed by (path, mtime): a serving workload
   * issues many filtered searches against the same tier and must not
   * pay a parquet read per call. Staleness is SAFE by construction —
   * a stats row per segmentId is immutable (segment files never change
   * in place), segments missing from a stale map simply don't prune,
   * and rows for dead ids are never consulted — so an mtime miss only
   * costs the one reload. Stale generations of a path evict on load. */
  private val attrStatsCache = scala.collection.concurrent.TrieMap
    .empty[(String, Long), AttrStats]

  /** Read the sidecar, or None when absent OR unreadable: seals are
   * tmp+rename crash-atomic ([[commitAttrStats]]), so the live path is
   * never half-written, but a read can still race the delete→rename
   * window of a concurrent refresh and see no dir — the advisory
   * contract ("stats only cost performance, never correctness") demands
   * that reads degrade to no-pruning rather than fail the search;
   * re-running sealAttrStats restores the sidecar. */
  private def loadAttrStats(spark: SparkSession, dir: String,
      column: String): Option[AttrStats] = try {
    val p = new Path(attrStatsPath(dir, column))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val ckey = (p.toString, fs.getFileStatus(p).getModificationTime)
    attrStatsCache.get(ckey).foreach(st => return Some(st))
    val df = spark.read.parquet(p.toString)
    val numeric = df.schema("amin").dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
    val loaded = if (numeric) {
      // one row per segment: catalog-bounded collect (hcounts is
      // absent on pre-histogram sidecars — min/max admission only)
      val hasH = df.columns.contains("hcounts")
      val rows = df.select(Seq(col("segmentId"),
          col("amin").cast("double"), col("amax").cast("double")) ++
          (if (hasH) Seq(col("hcounts")) else Nil): _*).collect()
      val m = rows
        .map(r => r.getLong(0) -> (if (r.isNullAt(1))
          (Double.PositiveInfinity, Double.NegativeInfinity)
        else (r.getDouble(1), r.getDouble(2)))).toMap
      val h = if (!hasH) null
        else rows.flatMap { r =>
          if (r.isNullAt(3)) None
          else Some(r.getLong(0) -> r.getSeq[Long](3).toArray)
        }.toMap
      AttrStats(numeric = true, m, null, h)
    } else {
      // one row per segment: catalog-bounded collect
      val m = df.select(col("segmentId"), col("amin").cast("string"),
          col("amax").cast("string")).collect()
        .map { r =>
          def b(i: Int): Array[Byte] =
            if (r.isNullAt(i)) null
            else r.getString(i)
              .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          r.getLong(0) -> ((b(1), b(2)))
        }.toMap
      AttrStats(numeric = false, null, m)
    }
    attrStatsCache.synchronized {
      attrStatsCache.filterInPlace { case ((cp, _), _) => cp != ckey._1 }
      attrStatsCache.put(ckey, loaded)
    }
    Some(loaded)
  } catch {
    case scala.util.control.NonFatal(_) => None
  }

  /** The ONE comparison rule for `attribute = qfilter`, shared by every
   * filtered surface (the scan kernel, the unindexed probe join, the
   * re-rank join, the streaming hot path) so no two of them can ever
   * disagree on the same inputs:
   *  - same type family (tightest common type exists): compare at that
   *    type — an int attribute vs a double qfilter compares as double,
   *    never as the strings "1" vs "1.0";
   *  - CROSS-family string-vs-numeric: compare as DOUBLE via
   *    `try_cast` — numeric-rendering strings ('1.0' = 1) match, a
   *    non-numeric string goes null and matches nothing. Implicit `===`
   *    coercion would be WRONG here twice over: under ANSI (Spark 4's
   *    default) it casts the string side to the numeric type and
   *    THROWS on '1.0'-style renderings, and under legacy it promotes
   *    to double — either way a per-surface choice, which is exactly
   *    how the kernel and the join formulation drifted apart;
   *  - anything else: compare as strings.
   * Null on either side matches nothing (null-rejecting equality). */
  private[store] def filterCastType(at: org.apache.spark.sql.types.DataType,
      qt: org.apache.spark.sql.types.DataType)
      : (org.apache.spark.sql.types.DataType, Boolean) = {
    import org.apache.spark.sql.types.{DoubleType, NumericType, StringType}
    org.apache.spark.sql.catalyst.analysis.TypeCoercion
      .findTightestCommonType(at, qt) match {
      case Some(t) => (t, false)
      case None => (at, qt) match {
        case (_: NumericType, StringType) | (StringType, _: NumericType) =>
          (DoubleType, true)
        case _ => (StringType, false)
      }
    }
  }

  /** One side of the [[filterCastType]] comparison, as a column. */
  private[store] def filterKey(c: org.apache.spark.sql.Column,
      at: org.apache.spark.sql.types.DataType,
      qt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.Column = {
    val (t, tryCast) = filterCastType(at, qt)
    if (tryCast) c.try_cast(t) else c.cast(t)
  }

  /** Canonical attribute-hash column for IN-WALK filtering: the numeric
   * family casts to double (`+ 0.0` normalizes -0.0 to +0.0, matching
   * SQL equality across the zero signs), every other family renders as
   * string; xxhash64 over the cast. The SAME expression hashes stored
   * attributes at seal time ([[sealIndexes]]) and query literals at
   * probe time ([[probeCandidates]]), so equal values always hash equal
   * under matching families — a hash collision (incl. null's
   * seed-valued hash) only ever ADMITS a candidate, which the exact
   * re-rank's true equality then drops; it can never LOSE a match.
   * Cross-family pairs (e.g. string attribute vs numeric literal, which
   * [[filterEquality]] serves via double coercion) disable in-walk
   * filtering instead — [[HnswStore.searchFiltered]] falls back to the
   * unfiltered walk, exactly like attr-stats pruning disables itself. */
  /** The ONE canonical rendering: numeric family → double with -0.0
   * normalized, everything else → string. The hash payload, the v3 value
   * payload, and [[closedHull]]'s bound folding must all agree on this
   * rule bit-for-bit — it lives here and nowhere else. */
  private[store] def attrCanonColumn(c: org.apache.spark.sql.Column,
      dt: org.apache.spark.sql.types.DataType)
      : (org.apache.spark.sql.Column, Boolean) = {
    val numeric =
      dt.isInstanceOf[org.apache.spark.sql.types.NumericType]
    (if (numeric) c.cast("double") + lit(0.0) else c.cast("string"), numeric)
  }

  private[store] def attrHashColumn(c: org.apache.spark.sql.Column,
      dt: org.apache.spark.sql.types.DataType)
      : (org.apache.spark.sql.Column, Boolean) = {
    val (canon, numeric) = attrCanonColumn(c, dt)
    (xxhash64(canon), numeric)
  }

  /** Driver-side hash of a PLAN-TIME literal under the shared canonical
   * rule: builds the [[attrHashColumn]] expression tree directly in
   * Catalyst (the DSL form is an unresolved column node in Spark 4 —
   * not evaluable without an analyzer pass) and evaluates it once — so
   * IN-list / conjunction values known at plan time hash bit-identically
   * to sealed attributes without a Spark job. Parity with the sealer's
   * column form is spec-gated (ColdTierSpec literal-hash parity). Same
   * admit-only collision contract as the column form. */
  private[graft] def literalAttrHash(v: Any,
      vt: org.apache.spark.sql.types.DataType,
      // session timezone for timezone-dependent renderings (timestamp →
      // string casts need it to EVALUATE, and the sealer rendered under
      // the session's zone — parity requires the same one). None is fine
      // for every tz-independent family (numerics, strings, dates).
      timeZoneId: Option[String] = None): (Long, Boolean) = {
    import org.apache.spark.sql.catalyst.expressions.{Add, Cast, XxHash64, Literal => CatLiteral}
    val numeric = vt.isInstanceOf[org.apache.spark.sql.types.NumericType]
    val typed = Cast(CatLiteral(v), vt, timeZoneId)
    val canon =
      if (numeric)
        Add(Cast(typed, org.apache.spark.sql.types.DoubleType,
          timeZoneId), CatLiteral(0.0))
      else Cast(typed, org.apache.spark.sql.types.StringType, timeZoneId)
    (new XxHash64(Seq(canon)).eval(null).asInstanceOf[Long], numeric)
  }

  /** Timezone-DEPENDENT types render session-relatively (timestamp →
   * string goes through spark.sql.session.timeZone), so hashes sealed by
   * one session only match probes from a same-timezone session — a
   * silent every-match-rejected failure mode, worse than no filter. Such
   * columns are excluded from in-walk filtering entirely (the probe
   * falls back exactly like cross-family pairs do; the exact re-rank's
   * SQL comparison is probe-session-consistent and keeps correctness). */
  private def tzDependent(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt.isInstanceOf[org.apache.spark.sql.types.TimestampType]

  /** The exact plan-time literal predicate — any-of within an equality
   * conjunct, AND across conjuncts and range bounds — over `df`'s sealed
   * attributes. ONE copy shared by the probe's unindexed-scan fallback
   * and the exact re-rank so the two surfaces can never drift. */
  private def literalPredicate(df: DataFrame,
      filters: Seq[(String, Seq[Any], org.apache.spark.sql.types.DataType)],
      ranges: Seq[RangeBound]): org.apache.spark.sql.Column =
    (filters.map { case (f, vs, vt) =>
      vs.map(v => filterEquality(df(f), lit(v).cast(vt),
          df.schema(f).dataType, vt))
        .reduceLeft(_ || _)
    } ++ ranges.map(rb => rb.predicate(df(rb.column))))
      .foldLeft(lit(true))(_ && _)

  /** The full equality predicate for join-formulated filtered surfaces. */
  private[store] def filterEquality(attr: org.apache.spark.sql.Column,
      qf: org.apache.spark.sql.Column,
      at: org.apache.spark.sql.types.DataType,
      qt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.Column =
    filterKey(attr, at, qt) === filterKey(qf, at, qt)

  /** The shared pruning preamble of [[search]] and [[probeCandidates]]:
   * stats (only when the qfilter's type FAMILY matches the sealed
   * attribute's — numeric-vs-numeric compares as double exactly like
   * the kernel coercion, string-vs-string in UTF-8 order; a cross-family
   * pair is served by broader SQL coercion on the match side, which an
   * interval test cannot soundly imply, so pruning disables itself) and
   * the (qfd, qfs) projection columns for the planning tuple. */
  private def attrPruning(spark: SparkSession, dir: String,
      filterColumn: Option[String],
      queries: DataFrame): (Option[AttrStats],
      org.apache.spark.sql.Column, org.apache.spark.sql.Column) = {
    val stats = filterColumn.flatMap { f =>
      // tz-dependent qfilter types never consult stats: qfs renders
      // under the probe session's timezone while the sealed stats
      // rendered under the seal session's, so a timezone mismatch
      // could wrongly PRUNE segments — such queries route
      // conservatively (row-level filterEquality still applies the
      // predicate exactly)
      if (tzDependent(queries.schema("qfilter").dataType)) None
      else loadAttrStats(spark, dir, f).filter { st =>
        val qfNumeric = queries.schema("qfilter").dataType
          .isInstanceOf[org.apache.spark.sql.types.NumericType]
        st.numeric == qfNumeric
      }
    }
    val qfd =
      if (stats.exists(_.numeric))
        coalesce(col("qfilter").cast("double"), lit(Double.NaN))
      else lit(Double.NaN)
    val qfs =
      if (stats.exists(s => !s.numeric)) col("qfilter").cast("string")
      else lit(null).cast("string")
    (stats, qfd.as("qfd"), qfs.as("qfs"))
  }

  /** Driver-side MULTI-VALUE segment admission (IN-list semantics) from
   * the [[sealAttrStats]] sidecar: the segment ids whose [min,max]
   * admits AT LEAST ONE of the literal values — per value exactly the
   * conservative [[AttrStats.mayMatch]] the per-query path applies
   * (missing stats row / NaN / cross-family never prune). None = no
   * sidecar or cross-family values = never prune. Used by plan-time
   * rewrites whose filter values are literals (one admission set per
   * PLAN, not per query). */
  private[graft] def admissibleIds(spark: SparkSession, dir: String,
      column: String, values: Seq[Any],
      vt: org.apache.spark.sql.types.DataType,
      cat0: Array[SegmentStats] = null): Option[Set[Long]] = {
    import org.apache.spark.sql.types.{NumericType, StringType}
    loadAttrStats(spark, dir, column).flatMap { st =>
      val vNumeric = vt.isInstanceOf[NumericType]
      val vString = vt == StringType
      if (st.numeric != vNumeric || !(vNumeric || vString)) None
      else Some((if (cat0 != null) cat0 else catalog(spark, dir))
        .map(_.segmentId).filter { sid =>
        values.exists { v =>
          if (st.numeric) st.mayMatch(sid, v match {
            case n: java.lang.Number => n.doubleValue()
            case _ => Double.NaN // unknown rendering: never prune
          }, null)
          else st.mayMatch(sid, Double.NaN, v match {
            case s: String =>
              s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            case _ => null // unknown rendering: never prune
          })
        }
      }.toSet)
    }
  }

  /** One plan-time literal RANGE conjunct on a sealed attribute column
   * (the SQL rewrite's `score >= a` / `score < b` / BETWEEN shapes):
   * `op` is one of ">=", ">", "<=", "<" with the attribute on the LEFT.
   * Hydration re-applies the conjunct exactly (Spark Column comparison,
   * same coercion as the exact plan the rewrite replaced); segment
   * admission uses only the conservative closed hull. */
  final case class RangeBound(column: String, op: String, value: Any,
      vt: org.apache.spark.sql.types.DataType) {
    require(Set(">=", ">", "<=", "<")(op), s"RangeBound op $op")
    def isLower: Boolean = op == ">=" || op == ">"
    /** The bound as a double for the closed-hull admission (NaN =
     * non-numeric rendering: never prunes). */
    def asDouble: Double = value match {
      case n: java.lang.Number => n.doubleValue()
      case _ => Double.NaN
    }
    /** The exact hydration predicate over the sealed attribute. */
    def predicate(attr: org.apache.spark.sql.Column)
        : org.apache.spark.sql.Column = {
      val l = lit(value).cast(vt)
      op match {
        case ">=" => attr >= l
        case ">" => attr > l
        case "<=" => attr <= l
        case "<" => attr < l
      }
    }
  }

  /** Segment ids whose attr-stats [min,max] may OVERLAP the closed hull
   * of the given range bounds on `column` — the interval analog of
   * [[admissibleIds]]. Strict bounds are admitted as closed (superset —
   * sound; hydration restores exactness). None = no sidecar or a
   * non-numeric sidecar (range admission is numeric-only) = never
   * prune. */
  /** Conservative CLOSED hull of a column's range bounds: missing sides
   * are infinite; a NaN bound (non-numeric rendering) poisons its side
   * to NaN, which both mayOverlap and estimateSelectivity treat as
   * never-prune / unknown — the one copy of the admission-critical fold
   * shared by segment admission and selectivity estimation. */
  private[graft] def closedHull(bounds: Seq[RangeBound]): (Double, Double) = {
    val lows = bounds.filter(_.isLower).map(_.asDouble)
    val highs = bounds.filterNot(_.isLower).map(_.asDouble)
    val lo = if (lows.isEmpty) Double.NegativeInfinity
      else if (lows.exists(_.isNaN)) Double.NaN else lows.max
    val hi = if (highs.isEmpty) Double.PositiveInfinity
      else if (highs.exists(_.isNaN)) Double.NaN else highs.min
    (lo, hi)
  }

  private[graft] def admissibleIdsRange(spark: SparkSession, dir: String,
      column: String, bounds: Seq[RangeBound],
      cat0: Array[SegmentStats] = null): Option[Set[Long]] =
    loadAttrStats(spark, dir, column).filter(_.numeric).map { st =>
      val (lo, hi) = closedHull(bounds)
      (if (cat0 != null) cat0 else catalog(spark, dir)).map(_.segmentId)
        .filter(st.mayOverlap(_, lo, hi)).toSet
    }

  /** Estimated fraction of the tier's rows matching ONE column's
   * literal predicate — either the value set `eqValues` (point-bucket
   * mass per value, clamped per segment) or, when `eqValues` is empty,
   * the band [qlo, qhi] — from the attr-stats histograms over the
   * catalog's row counts. UPPER-bound semantics throughout
   * ([[AttrStats.massIn]]): segments without a usable signal count as
   * fully matching, so the estimate can only understate how much a
   * filter-oblivious shortlist must over-fetch — which is safe, because
   * callers keep the registered static overfetch as a FLOOR. None when
   * the column has no sidecar. */
  private[graft] def estimateSelectivity(spark: SparkSession, dir: String,
      column: String, eqValues: Seq[Double], qlo: Double, qhi: Double,
      cat0: Array[SegmentStats] = null): Option[Double] =
    loadAttrStats(spark, dir, column).filter(_.numeric).map { st =>
      // callers on the serving path pass the catalog they already read
      // (catalog() is an uncached FS listing + parquet collect)
      val cat = if (cat0 != null) cat0 else catalog(spark, dir)
      val total = math.max(1L, cat.map(_.count).sum)
      val mass = cat.map { s =>
        if (eqValues.nonEmpty)
          math.min(s.count,
            eqValues.map(v => st.massIn(s.segmentId, v, v, s.count)).sum)
        else st.massIn(s.segmentId, qlo, qhi, s.count)
      }.sum
      mass.toDouble / total
    }

  /** Ceiling on the histogram-driven overfetch raise — a 1-in-10⁴
   * label would otherwise ask for a 10⁴× shortlist. */
  private[graft] val MaxAdaptiveOverfetch = 64

  /** The over-fetch factor a filter-oblivious shortlist needs so that
   * ~`shortlist` candidates SURVIVE the literal predicate:
   * max(static floor, min(cap, ceil(1 / estimated selectivity))).
   * The cap bounds only the HISTOGRAM-DRIVEN raise — a registered
   * static factor above [[MaxAdaptiveOverfetch]] always stands (the
   * operator's explicit ask is a floor, never reduced by an estimate).
   * With no estimate (no sidecar), the static value stands — the
   * pre-histogram behavior. */
  private[graft] def adaptiveOverfetch(static: Int,
      selectivity: Option[Double]): Int = {
    val floor = math.max(1, static)
    selectivity match {
      case Some(s) =>
        val need = math.ceil(1.0 / math.max(s, 1e-9))
        math.max(floor.toDouble,
          math.min(MaxAdaptiveOverfetch.toDouble, need)).toInt
      case None => floor
    }
  }

  private def deleteLogPath(dir: String) = s"$dir/deletes-log"

  /** Append a batch of delete tombstones `(id, ts)` to the tier's delete
   * log — the LSM answer to "the target row was already flushed when its
   * delete arrived" (reference: RocksDB tombstones ride the same
   * memtable->SST flush path and shadow older SST entries at read time).
   * Every search path anti-joins scanned rows against the log with
   * versioned semantics (a tombstone at ts kills rows with eventTime <=
   * ts — the same supersession rule as the hot tier's tombstone map), and
   * [[compact]] applies covered tombstones physically when it rewrites a
   * group. One subdirectory per `batchId`, so a re-executed micro-batch
   * re-seals idempotently (returns false if the batch is already logged
   * or carries no deletes). Logged deletes are assumed sparse relative to
   * the corpus (they broadcast); a delete-heavy tier shrinks the log via
   * compaction, which consolidates it to one max-ts entry per id. */
  def sealDeletes(deletes: DataFrame, dir: String, batchId: Long): Boolean =
    sealDeletesNamed(deletes, dir, s"batch-$batchId")

  /** Named variant so [[compact]]'s consolidated log lives under a
   * reserved name (`batch-compact-<id>`) that can never collide with a
   * streaming micro-batch's `batch-<batchId>` — a collision would make
   * that batch's sealDeletes a silent no-op and resurrect its deletes. */
  private def sealDeletesNamed(deletes: DataFrame, dir: String,
      name: String): Boolean = {
    val spark = deletes.sparkSession
    val out = new Path(s"${deleteLogPath(dir)}/$name")
    val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the batch dir only ever appears by the rename below, so its
    // existence is the commit predicate; a dir still holding a
    // `_temporary` is a parquet write that crashed in place (an older
    // writer wrote straight into the log) and is redone
    if (fs.exists(out)) {
      if (!fs.exists(new Path(out, "_temporary"))) return false
      fs.delete(out, true)
    }
    val d = deletes.select(col("id").cast("long").as("del_id"),
      col("ts").cast("long").as("del_ts"))
    if (d.isEmpty) return false
    // staged outside the log (a reader globbing `batch-*` never sees a
    // half-written batch), then renamed into place — the tmp+rename
    // discipline of [[commitAttrStats]] and [[snapshot]]; a crash leaves
    // only the staging dir, swept by the batch's next attempt
    val stage = new Path(s"$dir/_deletes-staging/$name")
    fs.delete(stage, true)
    d.coalesce(1).write.parquet(stage.toString)
    fs.mkdirs(out.getParent)
    if (!fs.rename(stage, out))
      throw new java.io.IOException(s"sealDeletes: rename $stage -> $out failed")
    true
  }

  /** The delete log as (del_id, del_ts), or None when the tier has none. */
  def tombstones(spark: SparkSession, dir: String): Option[DataFrame] = {
    val p = new Path(deleteLogPath(dir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p) || fs.listStatus(p).isEmpty) None
    else Some(spark.read.parquet(s"${deleteLogPath(dir)}/batch-*"))
  }

  /** Broadcast budget for the delete log on the search path. A sparse log
   * broadcasts (one hash probe per scanned row, no shuffle); past this
   * many on-disk bytes — e.g. the reference's deleteRatio 0.1 against a
   * 100-TB corpus, where the consolidated log is ~10% of distinct ids —
   * the anti-join falls back to a shuffled hash join instead of shipping
   * an executor-OOM-sized table to every task. Byte-gated (one recursive
   * fs listing, no Spark job on the query path), same currency as
   * Spark's own autoBroadcastJoinThreshold. */
  val TombstoneBroadcastMaxBytesKey = "graft.coldtier.tombstoneBroadcastMaxBytes"
  val TombstoneBroadcastMaxBytesDefault: Long = 64L << 20

  /** Kill switch for driver-LOCAL serving — the exact-kernel engine
   * ([[serveExactFromMemory]]) and the SQL rewrite's in-process graph
   * route ([[serveLocal]]): `false` keeps every admission-collapsed
   * literal plan on the lazy distributed scan and every rewritten
   * statement on the distributed probe. Results are bit-identical
   * either way — the switch only moves where the (already bounded) work
   * runs, never what it computes. */
  val ExactServeLocalKey = "graft.coldtier.exactServeLocal"
  /** Query-count bound for the local exact kernel: a plan whose query
   * set is not plan-time enumerable, or carries more rows than this,
   * stays on the distributed kernel — the local path's memory cost is
   * |queries| x k result rows on top of the cached segments, and an
   * unbounded/distributed query batch must never collapse onto one
   * process here. */
  val ExactServeLocalMaxQueriesKey = "graft.coldtier.exactServeLocalMaxQueries"
  val ExactServeLocalMaxQueriesDefault = 4096
  /** LRU byte budget for [[SegmentDataCache]] (process-local decoded
   * segment columns backing the local exact kernel). <= 0 disables the
   * local engine entirely. The budget also bounds a single statement's
   * ADMISSION: a literal plan whose admitted segments decode past it
   * falls back to the distributed scan engine instead of pinning more
   * decoded bytes than the heap can hold ([[serveExactFromMemory]]). */
  val SegmentCacheBytesKey = "graft.coldtier.segmentCacheBytes"
  val SegmentCacheBytesDefault: Long = 1L << 30

  /** Finite wait bound for the warm-cache PARALLEL batch kernel
   * ([[serveExactFromMemory]]): a kernel thread dying fatally (OOM)
   * must not hang the serving statement forever — past this many
   * seconds the batch falls back to the distributed scan engine,
   * bit-identically. <= 0 disables the parallel batch path outright
   * (multi-query plans keep the scan engine; single statements still
   * run inline). */
  val ExactServeLocalTimeoutSecKey = "graft.coldtier.exactServeLocalTimeoutSec"
  val ExactServeLocalTimeoutSecDefault: Long = 300L

  /** Files per sealed segment — the SST "block" unit. One file per
   * segment (r15) minimized per-statement scan startup but serialized
   * every per-segment kernel to ONE task: Spark assigns splits by file
   * byte ranges under maxPartitionBytes, so a ~31 MB single-file segment
   * is one split, and an admission-collapsed wave (one probed segment)
   * ran its whole 60k-row x 512-query kernel on one core — measured
   * r16 twin A: aligned-exact 50.2 q/s (warm rep 10.2 s, the arithmetic
   * of one core) vs 193-234 q/s on the accidental 128-sliver layout.
   * The bounded middle ground: hash-salt each segment's rows by id into
   * this many files (deterministic, layout-only — every kernel is
   * order-independent under the keyed dedup contract), so a probed
   * segment scans with bounded parallelism while segment count stays
   * metadata-cheap at 100-TB scale (8 x ~4-16 MB files per segment vs
   * r14's 128 x ~250 KB slivers). Per-STATEMENT scan startup stays
   * irrelevant on the serving path: admission-collapsed statements are
   * answered by the warm in-memory kernel ([[serveExactFromMemory]]),
   * not a scan. */
  val SealFilesPerSegmentProp = "graft.coldtier.sealFilesPerSegment"
  private def sealFilesPerSegment: Int =
    Integer.getInteger(SealFilesPerSegmentProp, 8).intValue()

  private def deleteLogBytes(spark: SparkSession, dir: String): Long = {
    val p = new Path(deleteLogPath(dir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L else fs.getContentSummary(p).getLength
  }

  /** Anti-join (id, eventTime)-bearing rows against the delete log:
   * a row dies iff a tombstone for its id has del_ts >= eventTime.
   * No log -> the input plan is returned untouched (zero cost). */
  private def applyTombstones(spark: SparkSession, dir: String,
      rows: DataFrame): DataFrame =
    antiJoinTombstones(spark, rows, tombstones(spark, dir),
      deleteLogBytes(spark, dir))

  /** The (tombstone rows, on-disk log bytes) pair for a live or a
   * snapshot-PINNED read — every tombstone-applying serving path needs
   * the two together (the bytes gate the broadcast). */
  private def tombstonesFor(spark: SparkSession, dir: String,
      snapshot: Option[Long]): (Option[DataFrame], Long) = snapshot match {
    case Some(v) => tombstonesAt(spark, dir, v)
    case None => (tombstones(spark, dir), deleteLogBytes(spark, dir))
  }

  /** [[applyTombstones]] against the live log or a pinned snapshot's. */
  private def applyTombstonesFor(spark: SparkSession, dir: String,
      snapshot: Option[Long], rows: DataFrame): DataFrame = {
    val (tomb, bytes) = tombstonesFor(spark, dir, snapshot)
    antiJoinTombstones(spark, rows, tomb, bytes)
  }

  private def antiJoinTombstones(spark: SparkSession, rows: DataFrame,
      tomb: Option[DataFrame], logBytes: Long): DataFrame =
    tomb match {
      case None => rows
      case Some(d) =>
        val cond = rows("id") === d("del_id") &&
          rows("eventTime") <= d("del_ts")
        val budget = spark.conf.getOption(TombstoneBroadcastMaxBytesKey)
          .map(_.toLong).getOrElse(TombstoneBroadcastMaxBytesDefault)
        if (logBytes <= budget)
          rows.join(broadcast(d), cond, "left_anti")
        else rows.join(d.hint("shuffle_hash"), cond, "left_anti")
    }

  /** The file+stats half of [[seal]] — writes `segment-<id>` and computes
   * its catalog row WITHOUT touching the live catalog, so [[compact]] can
   * stage new segments and commit them in one atomic swap. */
  /** Seal MANY segments in one pass: `vectors` carries its own
   * `segmentId` column and the whole batch lands with ONE partitioned
   * shuffle write + two grouped aggregate scans + one catalog append —
   * versus 5 Spark jobs per segment through [[seal]] in a loop (the
   * 64-cell 6M-vector tier build spent ~5 of its ~6 minutes re-scanning
   * the corpus once per cell; a flush/compaction sealing N segments
   * must not cost N corpus scans at any scale).
   *
   * Layout-compatible with [[seal]]: data files keep the `segmentId`
   * column (the partition column is a duplicate that lives only in the
   * staging path names) and land under `dir/segment-<id>` via one fs
   * rename per segment. */
  def sealMany(vectors: DataFrame, dir: String): Array[SegmentStats] = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val stats = sealManyStaged(vectors, dir)
    appendCatalog(spark, dir, stats.toSeq.toDF())
    stats
  }

  /** [[sealMany]] without the catalog commit: segment files land on disk
   * but stay unreferenced (a crash strands orphans that [[gc]] reclaims)
   * until the caller commits them — by appending the returned stats, or
   * atomically via a catalog swap ([[recluster]]). */
  private def sealManyStaged(vectors: DataFrame,
      dir: String): Array[SegmentStats] = {
    val spark = vectors.sparkSession
    import spark.implicits._
    heal(spark, dir)
    val hconf = spark.sparkContext.hadoopConfiguration
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(hconf)
    fs.mkdirs(dirPath)
    // sweep staging left by a crashed prior sealMany: nothing references
    // it (segments only count once renamed + cataloged), so the crashed
    // attempt's caller re-runs and the orphan bytes must not accumulate
    fs.listStatus(dirPath)
      .filter(_.getPath.getName.startsWith(".staging-"))
      .foreach(st => fs.delete(st.getPath, true))
    val staging = new Path(dir, s".staging-${java.util.UUID.randomUUID()}")
    // BOUNDED files per segment (the LSM contract — a segment is an SST
    // of a few blocks, [[SealFilesPerSegmentProp]]): without the salted
    // repartition, every upstream task writes its own sliver into every
    // part dir (a 128-partition source seals 128 ~16 KB files per
    // segment — metadata-heavy, and a per-statement scan pays 128 task
    // launches); with r15's repartition(segmentId) alone each segment
    // became ONE file = ONE read split, serializing every per-segment
    // kernel to one core (files under maxPartitionBytes never split,
    // whatever their row-group layout — twin-measured 4x slower on the
    // admission-collapsed wave). The id-hash salt keeps the write
    // parallel AND bounds both file count and scan granularity;
    // maxRecordsPerFile still bounds the pathological huge-block case.
    val nSealFiles = sealFilesPerSegment
    vectors.select(col("segmentId") +: (coreColumns.tail ++
        attributeColumns(vectors)).map(col): _*)
      .repartition(col("segmentId"),
        pmod(xxhash64(col("id")), lit(nSealFiles.toLong)))
      .withColumn("part", col("segmentId"))
      .write.option("maxRecordsPerFile", 4000000)
      .partitionBy("part").parquet(staging.toString)
    val staged = fs.listStatus(staging)
      .filter(_.getPath.getName.startsWith("part="))
    val ids = staged.map(_.getPath.getName.stripPrefix("part=").toLong).sorted
    ids.foreach { sid =>
      val dest = new Path(dir, s"segment-$sid")
      fs.delete(dest, true)
      require(fs.rename(new Path(staging, s"part=$sid"), dest),
        s"rename of sealed segment $sid failed")
    }
    fs.delete(staging, true)
    val written = spark.read.parquet(
      ids.map(sid => s"$dir/segment-$sid").toIndexedSeq: _*)
    val meanUdaf = udaf(VecMeanAggregator,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Float]]())
    val base = written.groupBy("segmentId").agg(
        count(lit(1)).as("cnt"), min(col("eventTime")).as("minTs"),
        max(col("eventTime")).as("maxTs"), meanUdaf(col("vec")).as("centroid"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getSeq[Double](4).map(_.toFloat).toArray)).toMap
    val bCent = spark.sparkContext.broadcast(base.map {
      case (sid, (_, _, _, c)) => sid -> c
    })
    val radii = written.select(col("segmentId"), col("vec"))
      .as[(Long, Array[Float])]
      .map { case (sid, v) => (sid, Distances.l2(v, bCent.value(sid))) }
      .toDF("segmentId", "d2")
      .groupBy("segmentId").agg(max(col("d2")).as("r2"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val stats = ids.map { sid =>
      val (cnt, mn, mx, cent) = base(sid)
      SegmentStats(sid, s"$dir/segment-$sid", cnt, mn, mx, cent,
        math.sqrt(radii(sid)))
    }
    stats
  }

  /** Vector-aware recompaction: re-seal the ENTIRE live tier along
   * vector-space structure — one segment per k-means cell — so
   * [[probeCandidates]]' `probeSegments` routing has real centroid
   * signal to route on. The streaming lifecycle accretes segments in
   * TIME order (flush = one micro-batch's evictions), which is the
   * layout freshness pruning wants but the worst case for centroid
   * routing (every segment's centroid ≈ the global mean); this is the
   * bridge: run it once the tier stops churning (or periodically, like
   * the size-tiered [[compact]]) and the routed/fast-path serving cost
   * per query becomes independent of corpus size.
   *
   * Same lifecycle contract as [[compact]]: tombstones apply physically
   * to the rewritten rows, new segment files + sidecars land first
   * (orphans until committed — [[gc]] reclaims on crash), ONE atomic
   * catalog swap is the commit point, victims are gc'ed after, ids come
   * from the reserved compaction namespace, the delete log is
   * consolidated but kept. Temperature is redistributed
   * proportional to row count (hit mass is additive but the old
   * segment-to-hit mapping does not survive re-bucketing).
   *
   * The k-means fit reads an id-ordered `sampleCap` sample (driver-side,
   * model-bounded — same contract as every fit in the repo); assignment
   * and sealing are one distributed pass through [[sealManyStaged]]. */
  /** Test seam: invoked by the recluster family right after it reads its
   * base catalog version (the open of the CAS window) — lets a spec land
   * an out-of-band commit deterministically inside the window instead of
   * racing wall-clock. Null (no-op) in production. */
  @volatile private[graft] var onReclusterBaseRead: () => Unit = null
  private def reclusterBaseReadSeam(): Unit = {
    val hook = onReclusterBaseRead
    if (hook != null) hook()
  }

  def recluster(spark: SparkSession, dir: String, numCells: Int,
      metric: Metric = Metric.L2, m: Int = 16, efConstruction: Int = 128,
      maxGraphRows: Int = 50000, buildIndexes: Boolean = true,
      sampleCap: Int = 8192, seed: Long = 42L): Array[SegmentStats] = {
    require(numCells > 0, s"numCells $numCells must be positive")
    val (segs, baseVersion) = catalogVersioned(spark, dir)
    reclusterBaseReadSeam()
    if (segs.isEmpty) return segs
    val hasLog = tombstones(spark, dir).isDefined
    val raw = spark.read.parquet(segs.map(_.path).toIndexedSeq: _*)
    val live = applyTombstones(spark, dir, raw)
      .select((coreColumns.tail ++ attributeColumns(raw)).map(col): _*)
    val sample = live.orderBy("id").limit(sampleCap)
      .select("vec").collect().map(_.getSeq[Float](0).toArray)
    if (sample.isEmpty) { // every row tombstoned: the tier empties
      markConsumed(spark, dir, segs.map(_.segmentId).toSeq)
      swapCatalog(spark, dir, Array.empty, baseVersion)
      gc(spark, dir)
      return Array.empty
    }
    val cells = graft.partitioners.KMeansPartitioner.fit(sample,
      k = math.min(numCells, sample.length), replicationFactor = 1,
      iterations = 4, seed = seed, queryProbes = 1)
    val bCells = spark.sparkContext.broadcast(cells)
    val cellOf = udf((v: Seq[Float]) =>
      bCells.value.dataPartitions(v.toArray, 0L)(0))
    commitRecluster(spark, dir, segs, baseVersion, hasLog, buildIndexes,
      metric, m, efConstruction, maxGraphRows) { base =>
      live.withColumn("segmentId", cellOf(col("vec")).cast("long") + base)
    }
  }

  /** ATTRIBUTE-aligned recompaction: re-seal the ENTIRE live tier so
   * each segment holds ONE contiguous range of `column` (one of
   * `buckets` quantile buckets), k-means sub-clustered into
   * `cellsPerBucket` cells within the bucket —
   * `segmentId = base + bucket * cellsPerBucket + cell`. The layout a
   * filtered-search-heavy workload wants, produced by the tier itself
   * instead of demanded at seal time: a streaming lifecycle accretes
   * TIME-sliced, label-mixed segments (every segment's [min,max] spans
   * every label — admission prunes nothing); after this pass, attr-range
   * admission ([[sealAttrStats]], re-sealed here on `column`) drops all
   * non-matching buckets at plan time (equality or band → ~1 bucket) and
   * centroid routing picks nearest cells WITHIN the survivors —
   * multiplicative pruning, so filtered-serving cost scales with
   * bucket size, not tier size.
   *
   * Bucketing: numeric columns cut at `approxQuantile` boundaries
   * (equi-mass, skew-tolerant — duplicate cut points collapse);
   * non-numeric columns cut at quantile ranks of the distinct-value
   * set, capped at [[MaxAttrDistinct]] driver-side values (beyond that
   * a lexicographic layout has no admission value a histogram would
   * not serve better — the call refuses rather than degrades). Nulls
   * land in bucket 0 (they match no filter but must survive for
   * unfiltered queries); numeric NaN sorts last.
   *
   * `timeSlices > 1` additionally splits every (bucket, cell) into
   * that many `eventTime` quantile slices
   * (`segmentId = base + (bucket*cells + cell)*timeSlices + slice`),
   * keeping each segment's [minTs, maxTs] window TIGHT — the attr
   * layout then composes with V3 freshness pruning instead of trading
   * it away (a windowed filtered query prunes by attr admission ×
   * cell routing × time window, multiplicatively), at the cost of
   * `timeSlices`× more segments.
   *
   * Same lifecycle contract as [[recluster]] (tombstones applied
   * physically, staged seal, ONE atomic catalog swap, gc, consolidated
   * delete log), and the k-means fit is strided across the id range,
   * not an id-ordered prefix. */
  def reclusterByAttr(spark: SparkSession, dir: String, column: String,
      buckets: Int, cellsPerBucket: Int = 1, metric: Metric = Metric.L2,
      m: Int = 16, efConstruction: Int = 128, maxGraphRows: Int = 50000,
      buildIndexes: Boolean = true, sampleCap: Int = 8192,
      seed: Long = 42L, timeSlices: Int = 1): Array[SegmentStats] = {
    require(buckets > 0, s"buckets $buckets must be positive")
    require(cellsPerBucket > 0,
      s"cellsPerBucket $cellsPerBucket must be positive")
    require(timeSlices > 0, s"timeSlices $timeSlices must be positive")
    val (segs, baseVersion) = catalogVersioned(spark, dir)
    reclusterBaseReadSeam()
    if (segs.isEmpty) return segs
    val hasLog = tombstones(spark, dir).isDefined
    val raw = spark.read.parquet(segs.map(_.path).toIndexedSeq: _*)
    require(raw.columns.contains(column),
      s"reclusterByAttr: tier has no column '$column'")
    // the pass reads `live` several times (bucket quantiles, fit
    // sample, optional time quantiles, the re-seal itself) — persist it
    // so the tombstone anti-join and the tier scan run once
    val live = applyTombstones(spark, dir, raw)
      .select((coreColumns.tail ++ attributeColumns(raw)).map(col): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // k-means fit sample, strided across the id range via a hash-mod
    // filter sized from the catalog's row counts (no extra count pass).
    // An empty STRIDE does NOT mean an empty tier (catalog counts are
    // pre-tombstone, so a heavily-tombstoned tier can miss every
    // surviving hash) — only the deterministic fallback read deciding
    // emptiness may trigger the tier-empties path.
    val total = math.max(1L, segs.map(_.count).sum)
    val mod = math.max(1L, total / math.max(1, 2 * sampleCap))
    val strided = live
      .where(pmod(xxhash64(col("id")), lit(mod)) === 0)
      .limit(sampleCap)
      .select("vec").collect().map(_.getSeq[Float](0).toArray)
    val sample = if (strided.nonEmpty) strided
      else live.orderBy("id").limit(sampleCap)
        .select("vec").collect().map(_.getSeq[Float](0).toArray)
    if (sample.isEmpty) { // every row tombstoned: the tier empties
      live.unpersist()
      markConsumed(spark, dir, segs.map(_.segmentId).toSeq)
      swapCatalog(spark, dir, Array.empty, baseVersion)
      gc(spark, dir)
      return Array.empty
    }
    val numeric = live.schema(column).dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
    // interior cut points: bucket(v) = #cuts <= v, so equal values can
    // never straddle a boundary (quantiles repeat under heavy hitters —
    // distinct() collapses them; fewer cuts = fewer, fuller buckets)
    val bucketOf: org.apache.spark.sql.Column = if (numeric) {
      val vD = col(column).cast("double")
      // distinct-value cuts when the column's cardinality fits the ask:
      // quantile probes REPEAT under heavy hitters (100 uniform int
      // labels over 99 probes collapsed to ~75 cuts in the r13 10x
      // artifact — ~25 two-label buckets, diluting every filtered walk
      // over them ~50%), while cutting at the exact distinct values
      // seals one single-value bucket per label — the admission-then-
      // walk layout the pass exists to converge to. One bounded scan
      // (limit buckets+1) decides which path applies.
      val distinctVals = live
        .where(col(column).isNotNull && !isnan(vD))
        .select(vD.as("v")).distinct().orderBy("v").limit(buckets + 1)
        .collect().map(_.getDouble(0))
      val cuts =
        if (distinctVals.length <= buckets) distinctVals.drop(1)
        else {
          val probes = (1 until buckets).map(_.toDouble / buckets).toArray
          live.where(col(column).isNotNull)
            .select(vD.as("v"))
            .stat.approxQuantile("v", probes, 0.001)
            .distinct.sorted
        }
      // bucket(v) = #cuts <= v: distinct-value cuts put each value in
      // its own bucket; quantile cuts keep equal values together
      cuts.zipWithIndex.foldLeft(lit(0)) { case (acc, (c, _)) =>
        acc + when(vD.isNotNull && !isnan(vD) && vD >= lit(c), 1)
          .otherwise(0)
      } + when(isnan(vD), lit(cuts.length)).otherwise(0) // NaN sorts last
    } else {
      val distinct = live.where(col(column).isNotNull)
        .select(col(column).cast("string")).distinct()
        .orderBy(col(column)).limit(MaxAttrDistinct + 1)
        .collect().map(_.getString(0))
      require(distinct.length <= MaxAttrDistinct,
        s"reclusterByAttr: '$column' exceeds $MaxAttrDistinct distinct " +
          s"values — a lexicographic layout has no admission value at " +
          s"that cardinality; recluster on a numeric column instead")
      val nCuts = math.min(buckets - 1, math.max(0, distinct.length - 1))
      val cuts = (1 to nCuts)
        .map(i => distinct(i * distinct.length / (nCuts + 1))).distinct
      cuts.foldLeft(lit(0)) { case (acc, c) =>
        acc + when(col(column).isNotNull &&
          col(column).cast("string") >= lit(c), 1).otherwise(0)
      }
    }
    val cells = graft.partitioners.KMeansPartitioner.fit(sample,
      k = math.min(cellsPerBucket, sample.length), replicationFactor = 1,
      iterations = 4, seed = seed, queryProbes = 1)
    val bCells = spark.sparkContext.broadcast(cells)
    val cellOf = udf((v: Seq[Float]) =>
      bCells.value.dataPartitions(v.toArray, 0L)(0))
    // optional eventTime quantile slicing within each (bucket, cell):
    // cuts computed once over the whole tier (a global time axis keeps
    // slice windows aligned across buckets), slice(v) = #cuts < v
    val sliceOf: org.apache.spark.sql.Column =
      if (timeSlices <= 1) lit(0L)
      else {
        val probes = (1 until timeSlices)
          .map(_.toDouble / timeSlices).toArray
        val cuts = live.select(col("eventTime").cast("double").as("t"))
          .stat.approxQuantile("t", probes, 0.001)
          .distinct.sorted
        cuts.foldLeft(lit(0)) { case (acc, c) =>
          acc + when(col("eventTime").cast("double") > lit(c), 1)
            .otherwise(0)
        }.cast("long")
      }
    val out = try commitRecluster(spark, dir, segs, baseVersion, hasLog,
      buildIndexes, metric, m, efConstruction, maxGraphRows) { base =>
      live.withColumn("segmentId",
        (bucketOf.cast("long") * cellsPerBucket +
          cellOf(col("vec")).cast("long")) * timeSlices + sliceOf + base)
    } finally live.unpersist()
    // guarantee the admission sidecar the layout exists FOR. The commit
    // tail's refreshAttrStats already re-sealed it when it existed
    // (every pass after the first), so only seal on first convergence;
    // and the recluster is already committed at this point, so a
    // transient stats failure degrades (no pruning until a re-seal) —
    // it must not fail the pass, least of all a streaming lifecycle's.
    if (!attrStatsColumns(spark, dir).contains(column))
      try sealAttrStats(spark, dir, column)
      catch {
        case scala.util.control.NonFatal(e) =>
          logger.warn(s"reclusterByAttr($dir, $column): recluster " +
            s"committed but the attr-stats seal failed — admission " +
            s"pruning disabled until sealAttrStats is re-run", e)
      }
    out
  }

  /** Distinct-value cap for [[reclusterByAttr]] on non-numeric columns:
   * the cut-point set is collected driver-side. */
  private[store] val MaxAttrDistinct = 65536

  /** The shared commit tail of the recluster family: stage-seal the
   * reassigned rows (`assign` receives the reserved id base), build
   * sidecar indexes, redistribute temperature by row count, ONE atomic
   * catalog swap, gc the victims, refresh attr-stats sidecars, and
   * consolidate the delete log. */
  private def commitRecluster(spark: SparkSession, dir: String,
      segs: Array[SegmentStats], baseVersion: Long, hasLog: Boolean,
      buildIndexes: Boolean, metric: Metric, m: Int, efConstruction: Int,
      maxGraphRows: Int)
      (assign: Long => DataFrame): Array[SegmentStats] = {
    val base = math.max(CompactionIdBase - 1, segs.map(_.segmentId).max) + 1
    val reassigned = assign(base)
    val staged = sealManyStaged(reassigned, dir)
    if (buildIndexes) {
      // carry the victims' in-walk payload forward: union of their
      // attrs markers, restricted to columns the reassigned schema
      // still carries (a registration-promised payload must survive
      // maintenance — sealing without it would silently cost recall on
      // every filtered probe, with the over-fetch safety net already
      // dropped by inWalk callers)
      val fsm = new Path(dir).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val carried = segs.flatMap(s => sidecarAttrColumns(fsm, s.path))
        .distinct.filter(reassigned.columns.contains).toSeq
      sealIndexes(spark, dir, staged.map(_.segmentId).toSeq, metric, m,
        efConstruction, maxGraphRows, attrColumns = carried)
    }
    val totalTemp = segs.map(_.temperature).sum
    val totalRows = math.max(1L, staged.map(_.count).sum)
    val out = staged.map(s =>
      s.copy(temperature = totalTemp * s.count / totalRows))
    markConsumed(spark, dir, segs.map(_.segmentId).toSeq)
    swapCatalog(spark, dir, out, baseVersion)
    gc(spark, dir)
    refreshAttrStats(spark, dir)
    if (hasLog) {
      val fs = new Path(dir).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val logDir = new Path(deleteLogPath(dir))
      val name = s"batch-compact-${base + staged.length}"
      val old = fs.listStatus(logDir).map(_.getPath)
        .filterNot(_.getName == name)
      val consolidated = tombstones(spark, dir).get
        .groupBy("del_id").agg(max("del_ts").as("del_ts"))
        .select(col("del_id").as("id"), col("del_ts").as("ts"))
      sealDeletesNamed(consolidated, dir, name)
      old.foreach(p => fs.delete(p, true))
    }
    out.sortBy(_.segmentId)
  }

  /** The four columns every segment carries. Any OTHER column on the
   * input survives the seal verbatim ([[attributeColumns]]) — typed
   * attribute payload (labels, source tags) for filtered search
   * ([[search]]'s `filterColumn`); every scan/index/codes path projects
   * the core four, so attributes cost nothing until a filter asks for
   * them (Parquet column pruning). */
  private val coreColumns = Seq("segmentId", "id", "vec", "eventTime")

  /** Attribute (non-core) columns present on a seal input. */
  private def attributeColumns(df: DataFrame): Seq[String] =
    df.columns.filterNot(coreColumns.contains).toSeq

  /** The file half shared by [[writeSegment]] and [[sealLocal]]: project
   * the segment layout (segmentId first, then the core and attribute
   * columns) and write `segment-<id>`, one file per partition of
   * `salted`. */
  private def writeSegmentFiles(salted: DataFrame, dir: String,
      segmentId: Long): String = {
    val path = s"$dir/segment-$segmentId"
    salted.select(lit(segmentId).as("segmentId") +:
        (coreColumns.tail ++ attributeColumns(salted)).map(col): _*)
      .write.option("maxRecordsPerFile", 4000000)
      .mode("overwrite").parquet(path)
    path
  }

  private def writeSegment(vectors: DataFrame, dir: String,
      segmentId: Long): SegmentStats = {
    val spark = vectors.sparkSession
    // BOUNDED files per segment (see sealManyStaged) — flush batches and
    // compaction outputs alike: the id-hash salt caps the file count at
    // [[SealFilesPerSegmentProp]] while keeping the write parallel and
    // the sealed segment scannable by that many tasks; huge compaction
    // outputs additionally split at maxRecordsPerFile
    val nSealFiles = sealFilesPerSegment
    val path = writeSegmentFiles(vectors.repartition(nSealFiles,
      pmod(xxhash64(col("id")), lit(nSealFiles.toLong))), dir, segmentId)
    val written = spark.read.parquet(path)
    val meanUdaf = udaf(VecMeanAggregator,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Float]]())
    val agg = written.select(
      count(lit(1)), min(col("eventTime")), max(col("eventTime")),
      meanUdaf(col("vec")))
      .first()
    val centroid = agg.getSeq[Double](3).map(_.toFloat).toArray
    val bc = spark.sparkContext.broadcast(centroid)
    val radius = written.select(
      max(Distances.l2(col("vec"), typedLit(bc.value))))
      .first().getDouble(0)
    SegmentStats(segmentId, path, agg.getLong(0), agg.getLong(1),
      agg.getLong(2), centroid, math.sqrt(radius))
  }

  /** V6 statistics maintenance (caller-invoked after consuming results —
   * the analog of the reference's background stats thread): per-segment
   * hit counts fold into the temperature EWMA,
   * `temp' = decay * temp + (1 - decay) * hits`. */
  def recordHits(spark: SparkSession, dir: String, hits: Map[Long, Long],
      decay: Double = 0.7): Array[SegmentStats] = {
    import spark.implicits._
    val (cat, baseVersion) = catalogVersioned(spark, dir)
    val updated = cat.map { s =>
      s.copy(temperature =
        decay * s.temperature + (1 - decay) * hits.getOrElse(s.segmentId, 0L))
    }
    swapCatalog(spark, dir, updated, baseVersion)
    updated
  }

  // ------------------------------------------- catalog commit protocol
  //
  // The catalog is multi-writer-SAFE, not multi-writer-concurrent: every
  // committer either appends under the writer lock (seal) or does a
  // compare-and-swap keyed on the catalog VERSION (compact / recluster /
  // evict / recordHits). A maintenance job whose base version moved —
  // because a streaming flusher sealed a segment, or another maintenance
  // job committed first — fails LOUDLY with
  // [[ConcurrentCatalogWriteException]] and must re-read and retry;
  // without the check, the later swap would last-writer-win and silently
  // drop the other writer's segments from the catalog. (The reference
  // never faces this: RocksDB's manifest write is single-writer by an
  // in-process mutex, db/version_set.cc LogAndApply — a cross-JOB
  // protocol needs the version fence instead.)

  /** Name of the monotone version marker INSIDE the live catalog dir
   * (underscore prefix: invisible to Spark's parquet reader, rides the
   * same atomic rename as the rows it versions). */
  private val VersionMarker = "_graft_version"

  private def readVersionAt(fs: org.apache.hadoop.fs.FileSystem,
      catalogDir: Path): Long = {
    val p = new Path(catalogDir, VersionMarker)
    if (!fs.exists(p)) 0L
    else {
      val in = fs.open(p)
      try new String(org.apache.commons.io.IOUtils.toByteArray(in),
        "UTF-8").trim.toLong
      finally in.close()
    }
  }

  private def writeVersionAt(fs: org.apache.hadoop.fs.FileSystem,
      catalogDir: Path, v: Long): Unit = {
    val tmp = new Path(catalogDir, s".$VersionMarker.tmp")
    val out = fs.create(tmp, true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    val dst = new Path(catalogDir, VersionMarker)
    if (fs.exists(dst) && !fs.delete(dst, false))
      throw new java.io.IOException(s"catalog version: failed to delete $dst")
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(
        s"catalog version: failed to rename $tmp over $dst")
  }

  /** The live catalog's commit version (0 for a fresh or pre-versioning
   * tier). Bumped by every committed mutation — seal append or swap. */
  def catalogVersion(spark: SparkSession, dir: String): Long = {
    val live = new Path(statsPath(dir))
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    readVersionAt(fs, live)
  }

  /** The live catalog AND the version that committed it. Mutators doing
   * read-modify-write MUST read through this and pass the version to
   * [[swapCatalog]]: the version is read BEFORE the rows, so a commit
   * landing between the two reads can only make the final CAS fail loud
   * (the retry re-reads everything) — never lose the concurrent
   * writer's rows. */
  def catalogVersioned(spark: SparkSession,
      dir: String): (Array[SegmentStats], Long) = {
    heal(spark, dir)
    val fs = new Path(statsPath(dir))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = readVersionAt(fs, new Path(statsPath(dir)))
    (catalog(spark, dir), v)
  }

  private def lockPath(dir: String) = new Path(dir, "_catalog.lock")

  /** Read a lock file's owner token, or None when it vanished mid-read
   * (the holder released, or a breaker got there first). */
  private def readLockToken(fs: org.apache.hadoop.fs.FileSystem,
      lock: Path): Option[String] = try {
    val in = fs.open(lock)
    try {
      // read to EOF: a single read() may legally return a PREFIX of the
      // token (HDFS stream contract) — a short read here would make an
      // acquirer fail its own read-back and a releaser skip its own
      // delete, orphaning the lock for the full staleMs window
      val buf = new Array[Byte](64)
      var n = 0
      var r = in.read(buf, 0, buf.length)
      while (r > 0) { n += r; r = in.read(buf, n, buf.length - n) }
      Some(new String(buf, 0, n, "UTF-8"))
    } finally in.close()
  } catch { case _: java.io.IOException => None }

  /** Serialize catalog commits behind an OWNED lock FILE. The tier
   * filesystem is REQUIRED to provide atomic `create(overwrite=false)`
   * (HDFS-class semantics — the 100-TB deployment target); on the local
   * FS that create is check-then-create, so two simultaneous creators
   * can both "win" — the owner-token verification below demotes that to
   * a single winner (last token written survives the read-back), and
   * the version CAS stays the read-modify-write backstop.
   *
   * Ownership protocol: every acquire writes a unique token into the
   * lock and re-reads it — only the writer whose token SURVIVED holds
   * the lock. A lock whose mtime is older than `staleMs` is presumed
   * crashed; breaking it re-reads token+mtime immediately before the
   * delete and only deletes the exact incarnation observed stale — two
   * racing breakers cannot each delete-then-create (the loser sees the
   * winner's FRESH token and goes back to waiting, never deleting a
   * live lock). Release likewise deletes only while the file still
   * carries this holder's token. Held only for the short commit
   * critical section, never across a mutation's Spark jobs; a live
   * holder past `waitMs` fails the caller loudly rather than queueing
   * forever. */
  private def withCatalogLock[A](fs: org.apache.hadoop.fs.FileSystem,
      dir: String,
      // the commit critical section INCLUDES the catalog append's (tiny)
      // Spark job, so the wait budget must absorb job-queueing delay on
      // a busy cluster (and cold-JVM codegen in a fresh session): 30 s
      // tripped spuriously with four concurrent committers in a cold
      // parallel-suite JVM. Tunable for tests/operators.
      waitMs: Long = java.lang.Long.getLong(
        "graft.coldtier.lockWaitMs", 120000L),
      staleMs: Long = 300000L)
      (body: => A): A = {
    val lock = lockPath(dir)
    val token = java.util.UUID.randomUUID().toString
    val deadline = System.currentTimeMillis() + waitMs
    var acquired = false
    while (!acquired) {
      try {
        val out = fs.create(lock, false)
        try {
          try out.write(token.getBytes("UTF-8")) finally out.close()
        } catch {
          case e: java.io.IOException =>
            // the create succeeded but the token write/close failed: an
            // ownerless fresh lock would stall every committer for the
            // full staleMs window — remove our debris before surfacing
            try fs.delete(lock, false)
            catch { case _: java.io.IOException => () }
            throw e
        }
        // read-back: on a non-atomic create both racers reach here, but
        // at most one token survives — the other observes a foreign
        // token and keeps waiting instead of double-holding
        acquired = readLockToken(fs, lock).contains(token)
        if (!acquired) Thread.sleep(50)
      } catch {
        case _: java.io.IOException =>
          val observed = try {
            val st = fs.getFileStatus(lock)
            if (System.currentTimeMillis() - st.getModificationTime > staleMs)
              readLockToken(fs, lock).map((_, st.getModificationTime))
            else None
          } catch { case _: java.io.FileNotFoundException => None }
          observed match {
            case Some((staleToken, staleMtime)) =>
              // ownership-confirmed break: delete only the incarnation
              // observed stale — if the lock changed under us (another
              // breaker already broke and re-created it), leave it alone
              val still = try {
                val st = fs.getFileStatus(lock)
                st.getModificationTime == staleMtime &&
                  readLockToken(fs, lock).contains(staleToken)
              } catch { case _: java.io.FileNotFoundException => false }
              if (still) fs.delete(lock, false)
            case None =>
              if (System.currentTimeMillis() > deadline)
                throw new ConcurrentCatalogWriteException(
                  s"catalog writer lock $lock held past $waitMs ms — another " +
                    "committer is active on this tier; retry when it finishes")
              else Thread.sleep(50)
          }
      }
    }
    try body finally {
      // release only our own incarnation: a breaker that (wrongly, e.g.
      // under clock skew) broke this lock and re-created it must not
      // have ITS lock deleted by us on the way out
      if (readLockToken(fs, lock).contains(token)) fs.delete(lock, false)
    }
  }

  /** Replace the live catalog — the single commit point of every
   * compaction-family mutation. Writes the new rows plus the bumped
   * [[VersionMarker]] to a unique `.tmp-*` dir, then under the writer
   * lock: verifies the live version still equals `expectedVersion` (the
   * CAS — throws [[ConcurrentCatalogWriteException]] and deletes its tmp
   * if another writer committed since the caller's
   * [[catalogVersioned]] read), removes the live path, renames the tmp
   * over it. HDFS-like filesystems signal rename/delete failure by
   * RETURNING FALSE rather than throwing — swallowing that leaves no
   * live catalog (only tmp, which [[heal]] would silently resurrect on
   * the next read, dropping this update). Surface it instead. The
   * delete→rename window is the crash window [[heal]] covers. */
  private[store] def swapCatalog(spark: SparkSession, dir: String,
      stats: Array[SegmentStats], expectedVersion: Long): Unit = {
    import spark.implicits._
    val live = new Path(statsPath(dir))
    val tmp = new Path(statsPath(dir) +
      s".tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    stats.toSeq.toDF().write.mode("overwrite").parquet(tmp.toString)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    withCatalogLock(fs, dir) {
      val cur = readVersionAt(fs, live)
      if (cur != expectedVersion) {
        fs.delete(tmp, true)
        throw new ConcurrentCatalogWriteException(
          s"catalog at $dir moved from version $expectedVersion to $cur " +
            "under this writer (a concurrent seal/compact/recluster " +
            "committed first) — re-read the catalog and retry the pass")
      }
      writeVersionAt(fs, tmp, cur + 1)
      if (fs.exists(live) && !fs.delete(live, true))
        throw new java.io.IOException(s"catalog swap: failed to delete $live")
      if (!fs.rename(tmp, live))
        throw new java.io.IOException(
          s"catalog swap: failed to rename $tmp over $live")
    }
  }

  /** Attribute merged results back to segments: one join of result ids
   * against the segment id columns (a stats pass, not a query path). */
  def hitCounts(spark: SparkSession, dir: String, results: DataFrame): Map[Long, Long] = {
    import spark.implicits._
    val segs = catalog(spark, dir)
    if (segs.isEmpty) Map.empty
    else spark.read.parquet(segs.map(_.path).toIndexedSeq: _*)
      .select(col("segmentId"), col("id"))
      .join(results.select(col("id")).distinct(), "id")
      .groupBy("segmentId").count()
      .as[(Long, Long)].collect().toMap
  }

  /** EWMA of observed kth-result distances (reference adaptive threshold,
   * db/version_set.cc:2689-2698): feeds [[search]]'s approximate mode as
   * the skip threshold for queries whose first wave was under-filled. */
  def learnThreshold(results: DataFrame, k: Int, prev: Option[Double],
      alpha: Double = 0.2): Option[Double] = {
    val row = results.where(col("rn") === k)
      .agg(avg(sqrt(col("dist")))).first()
    if (row.isNullAt(0)) prev
    else {
      val obs = row.getDouble(0)
      Some(prev.fold(obs)(p => (1 - alpha) * p + alpha * obs))
    }
  }

  /** Crash recovery: if a crash in a catalog swap happened after the live
   * catalog was removed but before the tmp dir was renamed over it, a
   * `.tmp-*` dir holds the complete surviving catalog. Healing RENAMES
   * the highest-versioned one back into place (not just reads it) so a
   * subsequent append-mode seal() cannot recreate a live catalog that
   * shadows the recovered rows. Other tmp dirs (a CAS loser's leftovers,
   * an uncommitted crash before the live delete) are swept by [[gc]]
   * once stale, never here — a young tmp may belong to a live writer. */
  private def heal(spark: SparkSession, dir: String): Unit = {
    val live = new Path(statsPath(dir))
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(live)) return
    val parent = live.getParent
    if (parent == null || !fs.exists(parent)) return
    val tmps = fs.listStatus(parent).map(_.getPath)
      .filter(_.getName.startsWith(s"${live.getName}.tmp"))
    if (tmps.isEmpty) return
    val best = tmps.maxBy(p =>
      try readVersionAt(fs, p) catch { case _: Exception => -1L })
    // a false rename here is fine only if a concurrent heal already
    // renamed a tmp dir into place — otherwise surface it
    if (!fs.rename(best, live) && !fs.exists(live))
      throw new java.io.IOException(
        s"catalog heal: failed to rename $best back to $live")
  }

  /** Driver-side catalog cache keyed by (path, file-listing signature):
   * a serving workload plans MANY searches against the same tier, and
   * an uncached catalog costs a full parquet-read Spark job per call
   * (measured: the dominant per-statement cost of the SQL-rewrite
   * serving path — each spark.sql statement re-read the catalog). The
   * catalog is CORRECTNESS-critical (a stale read would silently skip
   * freshly sealed segments), so unlike the advisory attrStatsCache the
   * key is a FULL listing signature — (name, length, mtime) of every
   * file under _segments, sorted — not a single mtime: any append
   * (seal/flush), swap (evict/compact/recluster — tmp+rename replaces
   * the dir) or heal changes it, and the signature costs one listStatus
   * metadata op instead of a cluster job. Stale generations of a path
   * evict on load.
   *
   * INVARIANT the signature rests on: catalog part files are never
   * rewritten IN PLACE under an existing name. Every writer appends new
   * UUID-named parquet parts (append mode) or replaces the whole
   * `_segments` dir via tmp+rename (whose children are again fresh
   * UUID-named parts) — so a content change always changes a file NAME
   * or the listing's membership, and coarse-mtime filesystems or
   * same-name-overwrite object stores cannot produce an identical
   * signature for different content. If a deployment cannot uphold
   * unique part names (or lists with weaker consistency than
   * read-after-write, e.g. some object stores), disable the cache with
   * `spark.conf.set("graft.coldtier.catalogCache", "false")` — every
   * serving call then re-reads the catalog parquet. */
  private val catalogCache = scala.collection.concurrent.TrieMap
    .empty[(String, String), Array[SegmentStats]]

  /** Kill switch for [[catalogCache]] (default on) — see the invariant
   * note on the cache. */
  val CatalogCacheKey = "graft.coldtier.catalogCache"

  def catalog(spark: SparkSession, dir: String): Array[SegmentStats] = {
    heal(spark, dir)
    cachedCatalog(spark, statsPath(dir))
  }

  /** The catalog parquet at `path` (a live `_segments` dir or a
   * snapshot's pinned copy), through [[catalogCache]]. */
  private def cachedCatalog(spark: SparkSession,
      path: String): Array[SegmentStats] = {
    import spark.implicits._
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cacheOn = spark.conf.getOption(CatalogCacheKey).forall(_.toBoolean)
    val sig = if (!cacheOn) null else try fs.listStatus(p)
      .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .sorted.mkString("|")
    catch { case scala.util.control.NonFatal(_) => null }
    val key = (p.toString, sig)
    if (sig != null) catalogCache.get(key) match {
      case Some(c) => return c
      case None => ()
    }
    val loaded = spark.read.parquet(path).as[SegmentStats].collect()
    if (sig != null) catalogCache.synchronized {
      catalogCache.filterInPlace { case ((cp, _), _) => cp != key._1 }
      catalogCache.put(key, loaded)
    }
    loaded
  }

  /** Whether the live catalog references `segmentId` — the crash-safe
   * "was this flush committed" predicate. [[seal]] writes the segment
   * files FIRST and appends the catalog row after, so a bare
   * segment-dir-exists check mistakes the crash window between the two
   * for a committed flush; only the catalog row is the commit point
   * (readers plan scans from the catalog alone, and [[gc]] deletes
   * uncataloged orphan dirs). */
  private def consumedPath(dir: String) = s"$dir/_consumed"

  /** Record flush-namespace segment ids a compaction/recluster is about
   * to remove from the catalog. Written BEFORE the catalog swap: a crash
   * in between leaves ids that are both consumed-marked and still
   * cataloged — [[catalogContains]] is true either way, so the marker
   * can only ever prevent a duplicate, never cause a lost flush. Without
   * it, a micro-batch re-executed from the checkpoint AFTER a
   * compaction consumed its flush segment sees no catalog row and seals
   * its evicted rows AGAIN — results stay correct (the top-k merge
   * dedups ids) but the duplicate rows accrete in storage on every
   * crash-retry loop. */
  private def markConsumed(spark: SparkSession, dir: String,
      ids: Seq[Long]): Unit = {
    import spark.implicits._
    val flushIds = ids.filter(_ < CompactionIdBase)
    if (flushIds.nonEmpty)
      flushIds.toDF("segmentId").coalesce(1)
        .write.mode("append").parquet(consumedPath(dir))
  }

  private def consumedContains(spark: SparkSession, dir: String,
      segmentId: Long): Boolean = {
    val p = new Path(consumedPath(dir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && spark.read.parquet(consumedPath(dir))
      .where(col("segmentId") === segmentId).limit(1).count() > 0
  }

  /** The flush commit predicate: the segment is in the live catalog, OR
   * a compaction/recluster already consumed it (the id would otherwise
   * look never-flushed after the merge removed its catalog row).
   *
   * A catalog row is only ever appended after its `segment-<id>` files
   * were written, and a cataloged segment's dir is only deleted after
   * the segment left the catalog (evict) or was marked consumed
   * (compact / recluster, then [[gc]]). So a missing segment dir with no
   * consumed marker answers false from two metadata calls — the fresh
   * batch id of every streaming flush — without reading the catalog. */
  def catalogContains(spark: SparkSession, dir: String,
      segmentId: Long): Boolean = {
    heal(spark, dir)
    val p = new Path(statsPath(dir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs.exists(new Path(dir, s"segment-$segmentId")) && fs.exists(p) &&
      catalog(spark, dir).exists(_.segmentId == segmentId)) ||
      consumedContains(spark, dir, segmentId)
  }

  // ------------------------------------------------------------- snapshots

  private def snapRoot(dir: String) = s"$dir/_snap"
  private def snapPath(dir: String, v: Long) = s"${snapRoot(dir)}/v$v"

  /** Pin the tier's CURRENT logical state as immutable snapshot version
   * `v` (time travel over system state — the lakehouse counterpart of the
   * reference base engine's pinned `Version`/SuperVersion reads,
   * db/version_set.h: readers hold a version while flush/compaction
   * advance the live one; here the pin is durable and named).
   *
   * A snapshot copies two small things and no data bytes:
   *  - the live segment catalog (`_segments` rows — paths + stats);
   *  - the delete log as consolidated tombstone ROWS (one max-ts entry
   *    per id). Rows, not batch-dir names: [[compact]] rewrites and
   *    deletes log batch dirs, so names would dangle.
   *
   * Segment data files are shared with the live tier; [[gc]] keeps any
   * file referenced by a live OR snapshot catalog, so compaction/evict
   * after a snapshot cannot pull bytes out from under it ([[dropSnapshot]]
   * + gc reclaims them). Written to a `.tmp-v` staging dir and renamed —
   * a crashed snapshot leaves only staging, never a half-readable
   * version. Single-writer per tier dir, like every other mutator here. */
  def snapshot(spark: SparkSession, dir: String): Long = {
    import spark.implicits._
    val v = snapshots(spark, dir).lastOption.map(_ + 1L).getOrElse(0L)
    val tmp = new Path(s"${snapRoot(dir)}/.tmp-v$v")
    val live = new Path(snapPath(dir, v))
    val fs = tmp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(tmp)) fs.delete(tmp, true)
    catalog(spark, dir).toSeq.toDF().coalesce(1)
      .write.parquet(s"$tmp/_segments")
    tombstones(spark, dir).foreach { d =>
      d.groupBy("del_id").agg(max("del_ts").as("del_ts"))
        .coalesce(1).write.parquet(s"$tmp/deletes")
    }
    if (!fs.rename(tmp, live))
      throw new java.io.IOException(s"snapshot: failed to rename $tmp to $live")
    v
  }

  /** Live snapshot versions, ascending. */
  def snapshots(spark: SparkSession, dir: String): Seq[Long] = {
    val p = new Path(snapRoot(dir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).map(_.getPath.getName).collect {
      case n if n.startsWith("v") => n.stripPrefix("v").toLong
    }.sorted.toSeq
  }

  /** Unpin a snapshot; the next [[gc]] reclaims files only it referenced. */
  def dropSnapshot(spark: SparkSession, dir: String, v: Long): Boolean = {
    val p = new Path(snapPath(dir, v))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.delete(p, true)
  }

  /** The segment catalog as pinned by snapshot `v` (cached like the
   * live catalog: a pinned copy is written once, by tmp+rename). */
  def catalogAt(spark: SparkSession, dir: String, v: Long): Array[SegmentStats] =
    cachedCatalog(spark, s"${snapPath(dir, v)}/_segments")

  private def tombstonesAt(spark: SparkSession, dir: String,
      v: Long): (Option[DataFrame], Long) = {
    val p = new Path(s"${snapPath(dir, v)}/deletes")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) (None, 0L)
    else (Some(spark.read.parquet(p.toString)),
      fs.getContentSummary(p).getLength)
  }

  /** V7: drop segments entirely older than the retention floor. Returns
   * surviving stats (files of dropped segments are left for out-of-band
   * deletion — metadata-first eviction like the reference's version edit).
   * The new catalog is written to `.tmp` first, then renamed over the live
   * path (rename is atomic on HDFS-like filesystems); [[catalog]] falls
   * back to `.tmp` if a crash lands between delete and rename. */
  def evict(spark: SparkSession, dir: String, retentionFloor: Long): Array[SegmentStats] = {
    import spark.implicits._
    val (cat, baseVersion) = catalogVersioned(spark, dir)
    val (keep, dropped) = cat.partition(_.maxTs >= retentionFloor)
    // an evicted flush id must stay "committed" for the flush predicate:
    // a micro-batch re-executed after its segment aged out would
    // otherwise re-seal already-expired rows into the live tier
    markConsumed(spark, dir, dropped.map(_.segmentId).toSeq)
    swapCatalog(spark, dir, keep, baseVersion)
    keep
  }

  /** The file-level half of V7 eviction: delete segment files — and their
   * `-codes` / `-hnsw` companions — no longer referenced by the live
   * catalog ([[evict]] drops catalog entries; without gc the bytes linger
   * forever, a real leak once segments rotate at scale). Idempotent and
   * safe any time after a catalog swap: the catalog is the source of
   * truth, readers plan scans only from it, and [[heal]] never
   * resurrects data files. Returns the deleted paths. */
  def gc(spark: SparkSession, dir: String): Seq[String] = {
    // files referenced by ANY pinned snapshot are as live as the catalog's:
    // a snapshot taken before a compaction still plans scans over the
    // pre-merge segment files
    val live = (catalog(spark, dir) ++
      snapshots(spark, dir).flatMap(v => catalogAt(spark, dir, v)))
      .map(s => new Path(s.path).getName).toSet
    val base = new Path(dir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return Seq.empty
    val victims = fs.listStatus(base).map(_.getPath).filter { p =>
      val n = p.getName
      n.startsWith("segment-") &&
        !live.contains(n.stripSuffix("-codes").stripSuffix("-hnsw")
          .stripSuffix("-attrs"))
    }
    victims.foreach(p => fs.delete(p, true))
    // stale uncommitted catalog tmp dirs (a CAS loser's crash leftovers).
    // Age-gated WELL past the writer-lock stale+wait budget: swapCatalog
    // writes its tmp BEFORE taking the lock, so a live committer can sit
    // behind other holders for up to waitMs (operator-tunable via
    // graft.coldtier.lockWaitMs) after a slow tmp write — a sweep gate
    // near that budget would delete the tmp mid-commit and fail the
    // rename spuriously. The gate therefore DERIVES from the configured
    // budget (staleMs 5 min + waitMs + a 2x margin), floored at one hour
    // so genuine crash debris still has a bounded leak window under the
    // default config.
    val liveStats = new Path(statsPath(dir))
    if (fs.exists(liveStats)) {
      val now = System.currentTimeMillis()
      val waitMs = java.lang.Long.getLong("graft.coldtier.lockWaitMs", 120000L)
      val sweepAgeMs = math.max(3600000L, 2L * (300000L + waitMs))
      fs.listStatus(base)
        .filter(st => st.getPath.getName.startsWith(s"${liveStats.getName}.tmp")
          && now - st.getModificationTime > sweepAgeMs)
        .foreach(st => fs.delete(st.getPath, true))
    }
    victims.map(_.toString).toSeq
  }

  /** Size-tiered compaction — LSM compaction semantics re-expressed over
   * Parquet segments (reference base engine: db/compaction/
   * compaction_picker.h:40-58 picks small files to merge into larger
   * levels, db/db_impl/db_impl_compaction_flush.cc drives it). Notably
   * the reference's VECTOR tier disables auto-compaction and lists it as
   * future work (plugin/vectorbackend/options/vector_options.h:37,42;
   * todo.md:18) — so its sealed HNSW-SSTs accrete forever; this closes
   * that lifecycle. Query cost here scales with segment count (probe
   * planning, per-wave multi-segment scans), so a tier accreting small
   * streaming flushes degrades without compaction.
   *
   * Planning: catalog sorted by (minTs, segmentId); ADJACENT segments
   * greedily accumulate into a group while the group stays under
   * `targetRows`. Only adjacency-in-time merges keep each merged
   * [minTs, maxTs] window tight, preserving V3 freshness pruning power.
   * Single-member groups are left untouched (zero rewrite IO — the
   * size-tiered property); multi-member groups are rewritten as one new
   * segment whose id continues past the catalog's max.
   *
   * Row semantics: a merged segment holds exactly the union of its
   * members' rows, minus rows with eventTime < `retentionFloor`
   * (row-level eviction inside surviving segments — [[evict]] can only
   * drop whole segments). With the default floor nothing is dropped and
   * search results are identical pre/post compaction. No version
   * collapsing: cold-tier deletes/versions resolve at query time (V4
   * anti-join), so the row multiset is the contract.
   *
   * Sidecars: a merged segment gets an HNSW sidecar iff EVERY member had
   * one (an indexed tier never silently downgrades to scan), and SQ8
   * codes iff every member had codes and `sqModel` is supplied (codes
   * cannot be derived without the tier's quantizer).
   *
   * Crash safety: new segment files + sidecars are written first
   * (unreferenced by the live catalog — a crash strands orphans that
   * [[gc]] reclaims), the catalog swap is the single atomic commit
   * point, and victim files are gc'ed last. A merged segment's
   * temperature is the sum of its members' (hit mass is additive).
   * Returns the post-compaction catalog. */
  def compact(spark: SparkSession, dir: String, targetRows: Long,
      retentionFloor: Long = Long.MinValue, metric: Metric = Metric.L2,
      m: Int = 16, efConstruction: Int = 128,
      sqModel: Option[graft.ops.Sq.SqModel] = None): Array[SegmentStats] = {
    require(targetRows > 0, s"targetRows $targetRows must be positive")
    val (cat, baseVersion) = catalogVersioned(spark, dir)
    val segs = cat.sortBy(s => (s.minTs, s.segmentId))
    if (segs.length <= 1) return segs
    val groups = scala.collection.mutable.ArrayBuffer.empty[Vector[SegmentStats]]
    var cur = Vector.empty[SegmentStats]
    var curRows = 0L
    segs.foreach { s =>
      if (cur.nonEmpty && curRows + s.count > targetRows) {
        groups += cur; cur = Vector.empty; curRows = 0L
      }
      cur :+= s; curRows += s.count
    }
    if (cur.nonEmpty) groups += cur
    if (!groups.exists(_.length >= 2)) return segs.sortBy(_.segmentId)

    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasLog = tombstones(spark, dir).isDefined
    // merged-segment ids come from the reserved compaction namespace
    // (>= CompactionIdBase), never from catalog-max+1: in the streaming
    // lifecycle the catalog max IS the latest micro-batch id, so a
    // catalog-max+1 allocation lands exactly on the NEXT micro-batch's
    // flush id — that batch's flush then looks already-committed and its
    // TTL-evicted rows (already gone from hot state) are lost silently
    var nextId = math.max(CompactionIdBase - 1, segs.map(_.segmentId).max) + 1
    val out = groups.flatMap { g =>
      if (g.length == 1) Some(g.head)
      else {
        val rows0 = applyTombstones(spark, dir,
          spark.read.parquet(g.map(_.path): _*))
        val rows = if (retentionFloor == Long.MinValue) rows0
          else rows0.where(col("eventTime") >= retentionFloor)
        // a floor (or the delete log) can expire a whole group — the
        // merged segment then ceases to exist (same outcome as evict,
        // row-grained)
        if ((retentionFloor != Long.MinValue || hasLog) && rows.isEmpty) None
        else {
          nextId += 1
          val stats = writeSegment(rows, dir, nextId)
            .copy(temperature = g.map(_.temperature).sum)
          if (g.forall(s => indexSealed(fs, s.path)))
            // union of the victims' attrs markers: the merged graph keeps
            // every in-walk payload column any input carried (and a
            // payload-less input gains it — the column is in the schema)
            sealIndexes(spark, dir, Seq(nextId), metric, m, efConstruction,
              attrColumns = g.flatMap(s => sidecarAttrColumns(fs, s.path))
                .distinct.filter(rows.columns.contains).toSeq)
          if (g.forall(s => fs.exists(new Path(s"${s.path}-codes"))))
            sqModel.foreach(mod => sealCodes(spark, dir, nextId, mod))
          Some(stats)
        }
      }
    }.toArray
    markConsumed(spark, dir,
      segs.map(_.segmentId).toSeq.diff(out.map(_.segmentId).toSeq))
    swapCatalog(spark, dir, out, baseVersion)
    gc(spark, dir)
    refreshAttrStats(spark, dir, Some(
      out.map(_.segmentId).toSet -- segs.map(_.segmentId).toSet))
    // consolidate the delete log: one max-ts tombstone per id is
    // covering-equivalent to any multiset of entries for that id. The
    // consolidated batch is written FIRST, then the old batch dirs are
    // removed — a crash in between leaves duplicates, which the max-ts
    // semantics make harmless. Tombstones are kept (not dropped) even
    // when every rewritten group applied them: single-member groups were
    // not rewritten and future flushes may still carry covered rows.
    if (hasLog) {
      val logDir = new Path(deleteLogPath(dir))
      // reserved name: `batch-compact-<id>` can never collide with a
      // streaming batch's `batch-<batchId>` dir (a collision would no-op
      // that batch's sealDeletes and resurrect its deletes). nextId is
      // strictly increasing across compact runs that rewrite (each run
      // allocates past the previous run's merged ids), so successive
      // consolidations never collide with each other either; the new dir
      // is excluded from the victim sweep defensively regardless.
      val name = s"batch-compact-$nextId"
      val old = fs.listStatus(logDir).map(_.getPath)
        .filterNot(_.getName == name)
      val consolidated = tombstones(spark, dir).get
        .groupBy("del_id").agg(max("del_ts").as("del_ts"))
        .select(col("del_id").as("id"), col("del_ts").as("ts"))
      sealDeletesNamed(consolidated, dir, name)
      old.foreach(p => fs.delete(p, true))
    }
    out.sortBy(_.segmentId)
  }

  /** Seal the SQ8 code companion of an existing segment: same rows,
   * `codes` instead of `vec` — 1 byte/dim of scan IO instead of 4 (stored
   * as Parquet INT array; dictionary+RLE encoding brings it near the raw
   * byte cost). Sealed separately so raw-only tiers stay valid and the
   * codes can be (re)built for any quantizer generation. */
  def sealCodes(spark: SparkSession, dir: String, segmentId: Long,
      model: graft.ops.Sq.SqModel): Unit = {
    import spark.implicits._
    val bm = spark.sparkContext.broadcast(model)
    spark.read.parquet(s"$dir/segment-$segmentId")
      .select(col("segmentId"), col("id"), col("vec"), col("eventTime"))
      .as[(Long, Long, Array[Float], Long)]
      .map { case (sid, id, v, ts) => (sid, id, bm.value.encode(v), ts) }
      .toDF("segmentId", "id", "codes", "eventTime")
      .write.mode("overwrite").parquet(s"$dir/segment-$segmentId-codes")
  }

  /** PQ code companions beside a sealed segment (`segment-N-pqcodes`):
   * the 32×-compressed variant of [[sealCodes]] (subDim-grouped centroid
   * ids instead of per-dimension SQ8 grids) — what a 100-TB tier's scan
   * wave wants, since the cold tier is IO-bound and the compression
   * factor is the speedup. Encoded distributed, same layout contract as
   * the SQ companion. */
  def sealPqCodes(spark: SparkSession, dir: String, segmentId: Long,
      model: graft.ops.Pq.PqModel): Unit = {
    import spark.implicits._
    val bm = spark.sparkContext.broadcast(model)
    spark.read.parquet(s"$dir/segment-$segmentId")
      .select(col("segmentId"), col("id"), col("vec"), col("eventTime"))
      .as[(Long, Long, Array[Float], Long)]
      .map { case (sid, id, v, ts) => (sid, id, bm.value.encode(v), ts) }
      .toDF("segmentId", "id", "codes", "eventTime")
      .write.mode("overwrite").parquet(s"$dir/segment-$segmentId-pqcodes")
  }

  /** Hadoop Configuration is not Serializable; standard write/readFields
   * wrapper so tasks can reach the driver's filesystem config. */
  private final class SerConf(
      @transient var conf: org.apache.hadoop.conf.Configuration)
    extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject(); conf.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      conf = new org.apache.hadoop.conf.Configuration(false)
      conf.readFields(in)
    }
  }

  private def indexPath(segmentPath: String) = s"$segmentPath-hnsw"

  /** Companion marker recording which attribute columns a segment's
   * sidecar graphs were sealed with (one name per line). Maintenance
   * passes that REBUILD sidecars (compact, the recluster family) read
   * the victims' markers and re-seal with the union — without it, any
   * compaction would silently strip the in-walk filter payload from a
   * tier whose registration promised it (and an inWalk registration has
   * already dropped the over-fetch safety net, so the loss would cost
   * recall with no error anywhere). Swept by [[gc]] alongside the other
   * segment companions. */
  private def attrsPath(segmentPath: String) = s"$segmentPath-attrs"

  /** Driver-side cache of SNIFFED sidecar column sets keyed by (shard
   * file, length, mtime): the marker-less fallback below deserializes a
   * full shard graph (vectors included), and a v1-era tier without
   * markers would otherwise pay that decode per segment on EVERY
   * payload-presence check ([[inWalkPayloadPresent]] runs per query
   * plan). Sidecar files are immutable once committed, so (len, mtime)
   * staleness only ever costs one extra decode. */
  private val sniffedAttrColumns = scala.collection.concurrent.TrieMap
    .empty[(String, Long, Long), Seq[String]]

  /** The attr columns `segmentPath`'s sidecar was sealed with (empty =
   * explicit empty marker, or no marker on an unindexed segment =
   * payload-less v1 graphs). */
  private def sidecarAttrColumns(fs: org.apache.hadoop.fs.FileSystem,
      segmentPath: String): Seq[String] = {
    val p = new Path(attrsPath(segmentPath))
    if (fs.exists(p)) {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().filter(_.nonEmpty).toList
      finally in.close()
    } else if (!indexSealed(fs, segmentPath)) Nil
    else {
      // marker absent but a COMMITTED sidecar exists: a generation
      // sealed before the marker mechanism, or a crash in the old
      // marker-last window (payload-less seals now write an explicit
      // EMPTY marker, so only true legacy generations reach here).
      // Sniff the payload columns from the sidecar bytes themselves
      // (one shard decode — shards of a seal carry identical column
      // sets), so maintenance never strips a payload just because its
      // marker is missing (the r13 advice). The decode is a full graph
      // deserialize, so the result is memoized per (file, len, mtime)
      // — without the cache every query plan over a legacy tier paid
      // it per segment (the r14 advice). Unreadable bytes degrade to
      // Nil — the pre-sniff behavior.
      shardFiles(fs, segmentPath).headOption.toSeq.flatMap { f =>
        try {
          val fp = new Path(f)
          val st = fs.getFileStatus(fp)
          sniffedAttrColumns.getOrElseUpdate(
            (f, st.getLen, st.getModificationTime), {
              val in = new java.io.DataInputStream(
                new java.io.BufferedInputStream(fs.open(fp)))
              try HnswStore.readFrom(in, efSearch = 16)
                .attrColumns.toSeq.sorted
              finally in.close()
            })
        } catch { case scala.util.control.NonFatal(_) => Nil }
      }
    }
  }

  private def writeAttrsMarker(fs: org.apache.hadoop.fs.FileSystem,
      segmentPath: String, attrColumns: Seq[String]): Unit = {
    val p = new Path(attrsPath(segmentPath))
    // an EMPTY column set writes an explicit zero-line marker (not a
    // delete): a payload-less seal is then distinguishable from a
    // legacy pre-marker generation, so the byte-sniff fallback above
    // only ever runs for true legacy sidecars instead of on every
    // v1-sealed segment of every query plan (the r14 advice)
    val os = fs.create(p, true)
    try if (attrColumns.nonEmpty)
      os.write(attrColumns.sorted.mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
  }

  /** Do ALL committed sidecars in `cat` carry the in-walk payload for
   * every column in `columns`? Catalog-bounded FS metadata reads (the
   * attrs markers; marker-less legacy sidecars sniff their bytes once).
   * Unindexed segments don't count — their exact-scan fallback applies
   * the predicate itself. */
  private[store] def inWalkPayloadPresent(spark: SparkSession, dir: String,
      columns: Seq[String], cat: Array[SegmentStats]): Boolean =
    columns.isEmpty || {
      val fs = new Path(dir).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      cat.filter(s => indexSealed(fs, s.path)).forall { s =>
        val carried = sidecarAttrColumns(fs, s.path)
        columns.forall(carried.contains)
      }
    }

  /** Marker committing a SHARDED sidecar directory: written only after
   * every shard task finished. A single-file sidecar commits by its own
   * atomic create; a directory without the marker is a crashed partial
   * seal and reads as "no index" (scan fallback / re-seal converges). */
  private val ShardSealedMarker = "_SEALED"

  /** Default per-graph row bound for [[sealIndexes]]. Graph build is the
   * serial, superlinear part of sealing (single-threaded insert loop,
   * full vector copy on the task heap), so an UNBOUNDED per-segment graph
   * makes compaction's index rebuild degrade with segment growth — the
   * r8 bench measured 47 s for one ~110k-row merged graph vs 11 s for the
   * same rows as two 60k builds. Bounding shard size holds build
   * wall-time, task memory, and recall constant as segments grow — the
   * same constant-graph-size principle the hot path established. */
  val DefaultMaxGraphRows = 50000

  /** Is `segmentPath`'s sidecar present AND committed? */
  private def indexSealed(fs: org.apache.hadoop.fs.FileSystem,
      segmentPath: String): Boolean = {
    val p = new Path(indexPath(segmentPath))
    if (!fs.exists(p)) false
    else if (fs.getFileStatus(p).isFile) true
    else fs.exists(new Path(p, ShardSealedMarker))
  }

  /** Public form for lifecycle callers (flush idempotency). */
  def indexSealed(spark: SparkSession, dir: String, segmentId: Long): Boolean = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    indexSealed(fs, s"$dir/segment-$segmentId")
  }

  /** All graph files of a committed sidecar (1 for the single-file
   * layout, the shard files for a directory). */
  private def shardFiles(fs: org.apache.hadoop.fs.FileSystem,
      segmentPath: String): Seq[String] =
    sidecarShards(fs, segmentPath).map(_._1)

  /** [[shardFiles]] with each file's length, from the same listing. */
  private def sidecarShards(fs: org.apache.hadoop.fs.FileSystem,
      segmentPath: String): Seq[(String, Long)] = {
    val p = new Path(indexPath(segmentPath))
    val st = fs.getFileStatus(p)
    if (st.isFile) Seq((p.toString, st.getLen))
    else fs.listStatus(p).filter(_.getPath.getName.startsWith("shard-"))
      .sortBy(_.getPath.getName)
      .map(c => (c.getPath.toString, c.getLen)).toSeq
  }

  /** Seal HNSW index sidecars for existing segments — the V9 payoff: the
   * reference builds the graph once in the memtable and carries it into
   * the SST at flush (db/flush_job.cc:944-949), so cold files are PROBED
   * (~efSearch·log n distance evals), never scanned. One distributed job:
   * segment rows shuffle once on (segmentId, shard), each group builds
   * its graph executor-side (deterministic insert order → deterministic
   * graph) and streams the bytes straight to the sidecar file.
   *
   * Graphs are BUILD-BOUNDED, not segment-sized: a segment over
   * `maxGraphRows` seals as ceil(n/maxGraphRows) hash-of-id shards under
   * `segment-<id>-hnsw/shard-*` (committed by [[ShardSealedMarker]]),
   * built in parallel tasks; at or under the bound it stays the
   * single-file layout. Shard assignment is a deterministic id hash, so
   * the probe side's per-shard shortlists (union = the candidate set)
   * are replayable — and since every shard contributes a shortlist,
   * sharding only ever ADDS candidates vs the monolithic graph. This is
   * what lets compaction merge segments without inheriting an unbounded
   * serial graph build: at 100-TB scale a compacted segment can hold
   * tens of millions of rows, and a single-task build of that graph
   * would dominate the compaction (and overflow its task heap). */
  def sealIndexes(spark: SparkSession, dir: String, segmentIds: Seq[Long],
      metric: Metric = Metric.L2, m: Int = 16,
      efConstruction: Int = 128,
      maxGraphRows: Int = DefaultMaxGraphRows,
      // attribute columns to carry as per-node hashes in the sidecar
      // (format v2) — the in-walk filtered-probe payload. One xxhash64
      // long per (node, column): +8 bytes/node/column of sidecar, no
      // graph-shape change. NUMERIC-family columns additionally carry
      // their canonical double values (format v3, +8 more bytes/node) —
      // the in-walk RANGE payload (nulls seal as NaN, which fails every
      // interval). Empty = byte-identical v1 sidecars.
      attrColumns: Seq[String] = Nil): Unit = {
    require(maxGraphRows > 0, s"maxGraphRows $maxGraphRows must be positive")
    import spark.implicits._
    val paths = segmentIds.map(sid => s"$dir/segment-$sid")
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(hconf)
    // wipe prior generations first (incl. crashed partial shard dirs,
    // layout flips, and stale single-file .tmp staging) so ghost shards
    // never outlive this seal
    paths.foreach { p =>
      fs.delete(new Path(indexPath(p)), true)
      // attempt-unique staging (".tmp-<uuid>") — sweep every generation
      val parent = new Path(indexPath(p)).getParent
      val base = new Path(indexPath(p)).getName
      if (fs.exists(parent))
        fs.listStatus(parent)
          .filter(_.getPath.getName.startsWith(base + ".tmp"))
          .foreach(st => fs.delete(st.getPath, false))
    }
    val raw = spark.read.parquet(paths: _*)
    attrColumns.foreach(c => require(raw.columns.contains(c),
      s"sealIndexes: attr column $c absent from segment schema " +
        s"(${raw.columns.mkString(", ")})"))
    // (column, numericFamily, hash expr, value expr) resolved ONCE per
    // column from the segment schema — hash and value both derive from
    // the same attrCanonColumn rendering, so the two payloads can never
    // disagree. Non-numeric columns contribute NaN value placeholders so
    // the arrays stay position-aligned with attrMeta.
    val attrInfo = attrColumns.map { c =>
      val (canon, numeric) = attrCanonColumn(col(c), raw.schema(c).dataType)
      (c, numeric, xxhash64(canon),
        if (numeric) coalesce(canon, lit(Double.NaN)) else lit(Double.NaN))
    }
    val attrMeta: Seq[(String, Boolean)] = attrInfo.map(a => (a._1, a._2))
    val hashCols = attrInfo.map(_._3)
    val valueCols = attrInfo.map(_._4)
    // record the payload columns BEFORE building: a crash between the
    // shard-sealed marker and a late attrs-marker write would leave a
    // committed payload-carrying sidecar whose marker is missing, and
    // maintenance would then silently strip the in-walk filter (the r13
    // advice). Writing first means a crash leaves at worst a marker
    // without a committed sidecar — maintenance then carries the
    // DECLARED columns forward, which is the seal's intent anyway.
    segmentIds.foreach(sid =>
      writeAttrsMarker(fs, s"$dir/segment-$sid", attrColumns))
    val rows = raw.select(col("segmentId"), col("id"), col("vec"),
      col("eventTime"),
      (if (hashCols.isEmpty) typedLit(Array.empty[Long])
       else array(hashCols: _*)).as("attrHashes"),
      (if (valueCols.isEmpty) typedLit(Array.empty[Double])
       else array(valueCols: _*)).as("attrVals"))
    // shard counts from one segmentId-only pass (columnar: reads a
    // single column, no vectors)
    val shardCounts: Map[Long, Int] = rows.groupBy("segmentId").count()
      .as[(Long, Long)].collect()
      .map { case (sid, c) =>
        (sid, math.max(1L, (c + maxGraphRows - 1) / maxGraphRows).toInt)
      }.toMap
    val bShards = spark.sparkContext.broadcast(shardCounts)
    val sc = new SerConf(hconf)
    rows.as[(Long, Long, Array[Float], Long, Array[Long], Array[Double])]
      .groupByKey { r =>
        val n = bShards.value(r._1)
        // byteswap64: deterministic across JVMs (unlike hashCode contract
        // drift), mixes strided id spaces that a plain modulo would skew
        (r._1, if (n == 1) 0
               else math.floorMod(scala.util.hashing.byteswap64(r._2), n.toLong).toInt)
      }
      .mapGroups { (key: (Long, Int), it) =>
        val (sid, shard) = key
        val single = bShards.value(sid) == 1
        val target =
          if (single) new Path(indexPath(s"$dir/segment-$sid"))
          else new Path(indexPath(s"$dir/segment-$sid"), f"shard-$shard%05d")
        // a SINGLE-FILE sidecar's existence IS its commit predicate
        // (indexSealed), so it must never be observable half-written: a
        // crash mid-create would otherwise read as committed while the
        // pre-written attrs marker already declares the payload, and
        // inWalkPayloadPresent would drop the over-fetch net for a
        // segment whose sidecar is garbage. Stage to an ATTEMPT-UNIQUE
        // .tmp-<uuid> + atomic rename (the commitAttrStats recipe): a
        // shared ".tmp" name would let a zombie/speculative attempt
        // re-create the staging file while another attempt renames it,
        // committing a truncated/interleaved sidecar whose existence
        // reads as sealed. Shard files inside a directory stay direct
        // writes — the _SEALED marker is their commit point.
        val writeTarget =
          if (single) new Path(target.getParent, target.getName + ".tmp-" +
            java.util.UUID.randomUUID().toString.take(8))
          else target
        val store = new HnswStore(metric, m, efConstruction)
        val sorted = it.toArray.sortBy(r => (r._4, r._2))
        sorted.foreach { case (_, id, v, ts, _, _) => store.put(id, ts, v) }
        attrMeta.zipWithIndex.foreach { case ((c, num), j) =>
          store.setAttrHashes(c, num, sorted.map(_._5(j)))
          if (num) store.setAttrValues(c, sorted.map(_._6(j)))
        }
        val tfs = target.getFileSystem(sc.conf)
        val os = new java.io.DataOutputStream(
          new java.io.BufferedOutputStream(tfs.create(writeTarget, true)))
        try store.writeTo(os) finally os.close()
        if (single) {
          // a re-attempted task may find the destination from its own
          // earlier attempt — rename-over requires a clean target
          tfs.delete(target, false)
          if (!tfs.rename(writeTarget, target))
            throw new java.io.IOException(
              s"sealIndexes: rename $writeTarget -> $target failed")
        }
        sid
      }.collect() // one row per (segment, shard): catalog-bounded
    // commit the sharded layouts — marker AFTER all shard tasks returned
    // (the attrs marker was already written before the build, closing
    // the crash window between the two)
    shardCounts.foreach { case (sid, n) =>
      if (n > 1)
        fs.create(new Path(indexPath(s"$dir/segment-$sid"), ShardSealedMarker),
          true).close()
    }
  }

  /** Executor-local sidecar cache keyed by (path, length, mtime, efSearch):
   * a re-sealed segment (new bytes) loads fresh; entries for replaced
   * generations are evicted so long-lived executors don't accumulate dead
   * graphs. Same-path eviction alone can't cover segments REMOVED by
   * gc/compaction (their paths are never requested again), so every cache
   * miss first sweeps entries whose backing file is gone —
   * graphs hold full vector copies, and a long-lived executor under
   * segment rotation would otherwise accrete them without bound. */
  private object SidecarCache {
    /** Soft entry cap. Eviction is LRU one-at-a-time — NEVER a full
     * clear: a tier whose live graph count equals the cap (e.g. 64
     * cell-segments probed every batch) would otherwise wipe the whole
     * cache on each round and reload gigabytes per query batch
     * (measured: the 6M-vector 64-segment tier spent ~20 s/batch
     * re-deserializing graphs a working LRU keeps resident). */
    private val MaxEntries =
      Integer.getInteger("graft.coldtier.sidecarCacheEntries", 128).intValue()
    private val tick = new java.util.concurrent.atomic.AtomicLong()
    private val cache = scala.collection.concurrent.TrieMap
      .empty[(String, Long, Long, Int), (HnswStore, java.util.concurrent.atomic.AtomicLong)]
    def get(path: String, conf: org.apache.hadoop.conf.Configuration,
        efSearch: Int): HnswStore = {
      val p = new Path(path)
      val fs = p.getFileSystem(conf)
      val st = fs.getFileStatus(p)
      val key = (path, st.getLen, st.getModificationTime, efSearch)
      cache.get(key) match {
        case Some((store, used)) => used.set(tick.incrementAndGet()); store
        case None =>
          // drop stale generations of this path, then sweep entries whose
          // backing file is gone (gc/compaction removed the segment — its
          // path is never requested again, so same-path eviction can't
          // reach it, and each dead graph pins a full vector copy), then
          // LRU-evict until under the cap. The dead-file sweep runs on
          // EVERY miss, not just under cap pressure: misses are rare
          // (one per new segment generation) and an exists() is a
          // metadata op, while a pressure-only sweep lets up to cap-1
          // dead graphs pin executor memory indefinitely.
          cache.filterInPlace { case ((cp, _, _, _), _) => cp != path }
          cache.filterInPlace { case ((cp, _, _, _), _) =>
            val cpp = new Path(cp)
            try cpp.getFileSystem(conf).exists(cpp) catch { case _: Exception => false }
          }
          if (cache.size >= MaxEntries) {
            while (cache.size >= MaxEntries && cache.nonEmpty) {
              val lru = cache.minBy { case (_, (_, used)) => used.get() }._1
              cache.remove(lru)
            }
          }
          val (store, used) = cache.getOrElseUpdate(key, {
            val in = new java.io.DataInputStream(
              new java.io.BufferedInputStream(fs.open(p)))
            try (HnswStore.readFrom(in, efSearch),
              new java.util.concurrent.atomic.AtomicLong(tick.incrementAndGet()))
            finally in.close()
          })
          used.set(tick.incrementAndGet())
          store
      }
    }
    /** Test hook: current entry count in this JVM. */
    private[store] def entryCount: Int = cache.size
    /** Bench/test hook: drop everything (see sidecarCacheInvalidate). */
    private[store] def invalidateAll(): Unit = cache.clear()
    /** Test hook: backing paths of all cached graphs in this JVM. */
    private[store] def cachedPaths: Set[String] =
      cache.keySet.map(_._1).toSet
  }

  /** One segment's rows decoded ONCE into process-local columnar arrays
   * for the in-memory exact kernel ([[serveExactFromMemory]]): primitive
   * id/eventTime/vector columns for the scan loop, plus every non-vector
   * column as UnsafeRows (`metaRows`, field order = `metaSchema`) so a
   * plan-time literal predicate evaluates with exact Catalyst semantics
   * against the sealed attributes. */
  private[store] final class SegmentData(
      val ids: Array[Long],
      val times: Array[Long],
      val vecs: Array[Array[Float]],
      val metaSchema: org.apache.spark.sql.types.StructType,
      val metaRows: Array[org.apache.spark.sql.catalyst.InternalRow],
      val bytes: Long) {
    /** Query-independent survival masks memoized per (literal shape,
     * tombstone-log signature) — r16 measured the per-statement Catalyst
     * predicate pass over the resident rows as a top-5 serving cost
     * (~6% of thread time across 512 statements re-deriving the SAME
     * mask). The mask indexes THIS instance's row order, so hanging it
     * off the instance makes staleness impossible by construction: a
     * re-decoded generation starts empty, an immutable segment path can
     * never serve rows the mask was not computed against, and a
     * delete-log append changes the signature half of the key. Bounded:
     * a serving workload has a handful of literal shapes; the clear()
     * guard caps pathological churn (metadata, never results). */
    private[store] val maskMemo =
      scala.collection.concurrent.TrieMap.empty[String, Array[Boolean]]
  }

  /** Warm segment store for admission-collapsed serving — the
   * [[SidecarCache]] pattern applied to segment DATA. A serving workload
   * answers many statements against the same few admitted segments, and
   * dispatching a distributed scan job per statement costs orders of
   * magnitude more than the kernel's actual work (measured r15: 8.7-20
   * q/s through spark.sql where the same kernel over resident arrays is
   * millisecond work — the storage-engine analog is a memtable Get
   * answered without a cluster in the loop). Entries key on the segment
   * PATH alone: segments are immutable once cataloged (seal is
   * tmp+rename; compact/recluster write NEW ids and swap the catalog;
   * nothing rewrites a segment dir in place — the same invariant
   * [[catalogCache]] rests on), so a path can never serve stale rows.
   * Eviction exists only for the byte budget (LRU one-at-a-time, never
   * a full clear) plus a dead-path sweep on miss: a gc'ed segment's
   * path is never requested again, so same-path replacement cannot
   * reach it. */
  private[store] object SegmentDataCache {
    private val tick = new java.util.concurrent.atomic.AtomicLong()
    private val cache = scala.collection.concurrent.TrieMap
      .empty[String, (SegmentData, java.util.concurrent.atomic.AtomicLong)]

    def get(spark: SparkSession, path: String,
        budgetBytes: Long): SegmentData =
      cache.get(path) match {
        case Some((d, used)) => used.set(tick.incrementAndGet()); d
        case None =>
          val conf = spark.sparkContext.hadoopConfiguration
          cache.filterInPlace { case (cp, _) =>
            val cpp = new Path(cp)
            try cpp.getFileSystem(conf).exists(cpp)
            catch { case _: Exception => false }
          }
          val (d, used) = cache.getOrElseUpdate(path,
            (load(spark, path),
              new java.util.concurrent.atomic.AtomicLong()))
          used.set(tick.incrementAndGet())
          // evict to budget AFTER admitting the new entry; the entry
          // being served is never the victim
          var total = cache.values.iterator.map(_._1.bytes).sum
          while (total > budgetBytes && cache.size > 1) {
            val lru = cache.filter(_._1 != path)
              .minBy { case (_, (_, u)) => u.get() }._1
            cache.remove(lru).foreach { case (dd, _) => total -= dd.bytes }
          }
          d
      }

    /** ONE distributed read per segment generation (executeCollect of
     * the bare scan — no per-row round trip through external Rows),
     * then driver-side column extraction. */
    private def load(spark: SparkSession, path: String): SegmentData = {
      val df = spark.read.parquet(path)
      val schema = df.schema
      val rows = df.queryExecution.executedPlan.executeCollect()
      val idOrd = schema.fieldIndex("id")
      val vecOrd = schema.fieldIndex("vec")
      val tsOrd = schema.fieldIndex("eventTime")
      val metaFields = schema.fields.zipWithIndex.filter(_._1.name != "vec")
      val metaSchema =
        org.apache.spark.sql.types.StructType(metaFields.map(_._1))
      val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
        .create(metaFields.toIndexedSeq.map { case (f, i) =>
          org.apache.spark.sql.catalyst.expressions.BoundReference(
            i, f.dataType, f.nullable) })
      val n = rows.length
      val ids = new Array[Long](n)
      val times = new Array[Long](n)
      val vecs = new Array[Array[Float]](n)
      val metaRows =
        new Array[org.apache.spark.sql.catalyst.InternalRow](n)
      var bytes = 0L
      var i = 0
      while (i < n) {
        val r = rows(i)
        ids(i) = r.getLong(idOrd)
        times(i) = r.getLong(tsOrd)
        vecs(i) =
          if (r.isNullAt(vecOrd)) null else r.getArray(vecOrd).toFloatArray()
        val m = proj(r).copy()
        metaRows(i) = m
        bytes += 64L + (if (vecs(i) == null) 0L else 4L * vecs(i).length) +
          m.getSizeInBytes
        i += 1
      }
      new SegmentData(ids, times, vecs, metaSchema, metaRows, bytes)
    }

    private[store] def entryCount: Int = cache.size
    private[store] def cachedBytes: Long =
      cache.values.iterator.map(_._1.bytes).sum
    /** Exact decoded size of an already-resident path (None = not
     * resident) — the admitted-bytes precondition prefers the real
     * number over the catalog estimate when it has one. */
    private[store] def residentBytes(path: String): Option[Long] =
      cache.get(path).map(_._1.bytes)
    private[store] def invalidateAll(): Unit = cache.clear()
  }

  private def segmentCacheBudget(spark: SparkSession): Long =
    spark.conf.getOption(SegmentCacheBytesKey)
      .map(_.toLong).getOrElse(SegmentCacheBytesDefault)

  /** Heap bytes assumed per on-disk byte of data not yet resident — a
   * segment's parquet files about to be decoded into [[SegmentData]], or
   * a sidecar graph file. Float vectors barely compress in parquet, so
   * decoding mostly adds object headers and the per-row attribute copy;
   * measured ~1.3-2.6x on sealed test and bench tiers. */
  private val DecodeFactor = 4L

  /** On-disk bytes of each cataloged segment directory, by path:
   * segments are immutable once cataloged, so one listing per
   * generation (bounded: cleared past 4096 paths). */
  private val segmentDiskBytes =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  /** The admission estimate for a segment that is not resident: its
   * on-disk bytes times [[DecodeFactor]]. */
  private def decodedBytesEstimate(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Long = {
    val onDisk = segmentDiskBytes.getOrElse(path, {
      if (segmentDiskBytes.size > 4096) segmentDiskBytes.clear()
      val b = fs.getContentSummary(new Path(path)).getLength
      segmentDiskBytes.put(path, b)
      b
    })
    DecodeFactor * onDisk
  }

  /** Process-local (del_id -> max del_ts) map of a BOUNDED delete log,
   * cached by full listing signature exactly like [[catalogCache]] (the
   * log is append-only batch files — any append changes the listing).
   * Only consulted when the on-disk log fits the tombstone broadcast
   * budget, i.e. the same bytes the distributed anti-join would happily
   * broadcast to every task. A row dies iff eventTime <= map(id): max
   * del_ts per id is exactly [[antiJoinTombstones]]'s EXISTS(del_ts >=
   * eventTime) semantics. */
  private val tombstoneMapCache = scala.collection.concurrent.TrieMap
    .empty[(String, String), scala.collection.mutable.LongMap[Long]]

  /** (name, length, mtime) signature of every entry under `p`, at any
   * depth, sorted — the cache key for append-only directory trees. Null
   * on any listing error = never cache. */
  private def listingSignature(fs: org.apache.hadoop.fs.FileSystem,
      p: Path): String = listingSigAndBytes(fs, p)._1

  private def tombstoneMap(spark: SparkSession, logPath: String,
      tomb: DataFrame): scala.collection.mutable.LongMap[Long] = {
    val p = new Path(logPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sig = listingSignature(fs, p)
    val key = (p.toString, sig)
    if (sig != null) tombstoneMapCache.get(key) match {
      case Some(m) => return m
      case None => ()
    }
    val m = scala.collection.mutable.LongMap.empty[Long]
    tomb.groupBy(col("del_id")).agg(max(col("del_ts")).as("del_ts"))
      .collect().foreach(r => m.update(r.getLong(0), r.getLong(1)))
    if (sig != null) tombstoneMapCache.synchronized {
      tombstoneMapCache.filterInPlace { case ((cp, _), _) => cp != key._1 }
      tombstoneMapCache.put(key, m)
    }
    m
  }

  /** [[listingSignature]] plus the summed file bytes from the SAME
   * listing — the warm serving path needs both (the signature keys the
   * tombstone-map cache, the bytes gate the broadcast budget) and must
   * not pay a second recursive getContentSummary per statement. The walk
   * descends every directory level, so a nested delete log counts all of
   * its files in both halves. (null, -1) on any listing error = caller
   * falls back to the per-statement reads. */
  private[store] def listingSigAndBytes(fs: org.apache.hadoop.fs.FileSystem,
      p: Path): (String, Long) =
    try {
      if (!fs.exists(p)) ("", 0L)
      else {
        var bytes = 0L
        val parts = scala.collection.mutable.ArrayBuffer.empty[String]
        def walk(d: Path, prefix: String): Unit =
          fs.listStatus(d).foreach { st =>
            val name = prefix + st.getPath.getName
            parts += s"$name:${st.getLen}:${st.getModificationTime}"
            if (st.isDirectory) walk(st.getPath, s"$name/")
            else bytes += st.getLen
          }
        walk(p, "")
        (parts.sorted.mkString("|"), bytes)
      }
    } catch { case scala.util.control.NonFatal(_) => (null, -1L) }

  /** The budget-gated tombstone map for the warm serving path, at ONE
   * FS listing per statement: the listing yields both the cache key
   * (signature) and the log bytes, so an unchanged log costs no parquet
   * read, no DataFrame construction and no getContentSummary — the r16
   * path rebuilt the `tombstones()` DataFrame per spark.sql statement.
   * Returns None when the on-disk log exceeds the broadcast budget
   * (caller falls back to the distributed scan engine, exactly as
   * before); Some((null, sig)) when there is no log; Some((map, sig))
   * otherwise. A null sig (listing error) degrades to the original
   * per-statement reads — never cached. */
  private def tombstoneMapBounded(spark: SparkSession, dir: String,
      snapshot: Option[Long], tombBudget: Long)
      : Option[(scala.collection.mutable.LongMap[Long], String)] = {
    val logPath = snapshot.map(v => s"${snapPath(dir, v)}/deletes")
      .getOrElse(deleteLogPath(dir))
    val p = new Path(logPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (sig, bytes) = listingSigAndBytes(fs, p)
    if (sig == "") return Some((null, sig)) // no log: nothing to apply
    if (sig != null) {
      if (bytes > tombBudget) return None
      tombstoneMapCache.get((p.toString, sig)) match {
        case Some(m) => return Some((m, sig))
        case None => ()
      }
    }
    // cold or unlistable: the original reads decide (and populate the
    // signature-keyed cache for the next statement)
    val (tombDf, tombBytes) = tombstonesFor(spark, dir, snapshot)
    if (tombBytes > tombBudget) return None
    val m = tombDf match {
      case None => null
      case Some(df) => tombstoneMap(spark, logPath, df)
    }
    Some((m, sig))
  }

  /** Observability: sidecar-graph cache entries resident in this JVM
   * (on a cluster, per-executor; local mode = the one JVM). */
  def sidecarCachePaths: Set[String] = SidecarCache.cachedPaths

  /** Drop every cached sidecar graph in this JVM. NOT for serving use —
   * the LRU exists precisely so graphs stay resident — but a benchmark
   * that wants to attribute cold-load IO vs warm probe cost needs a
   * deterministic cold start (the r9 artifact moved 6x between rounds
   * purely on ambient cache state). */
  def sidecarCacheInvalidate(): Unit = SidecarCache.invalidateAll()

  /** Probe-path cold search (V9): per-query shortlist from each fresh
   * segment's HNSW sidecar — loaded lazily executor-side, probed instead
   * of scanned — then ONE exact re-rank over the shortlisted (query, id)
   * pairs against the raw segments. Fresh segments without a sidecar fall
   * back to the exact scan shape for their rows, so a tier mid-way through
   * index sealing still answers. The shortlist is deterministic (the seal
   * builds a deterministic graph), which is what lets the driver's oracle
   * replay the re-rank over a materialized candidate aux — the established
   * approximate-op recipe. Approximate by construction (graph recall);
   * exact re-rank restores metric truth over the candidate set.
   *
   * Scale shape: the probe shuffles only (segmentId, query) rows — never
   * vector rows; per-group work is |queries probing that segment| ·
   * O(ef·log n); the re-rank reads raw vectors only for candidate ids via
   * broadcast joins. Driver work stays catalog-bounded. */
  def searchIndexed(spark: SparkSession, dir: String, queries: DataFrame,
      k: Int, metric: Metric = Metric.L2, shortlist: Int = 50,
      efSearch: Int = 64, probeSegments: Int = Int.MaxValue,
      routeEf: Int = 0): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist < k $k")
    rerankExact(spark, dir,
      probeCandidates(spark, dir, queries, shortlist, metric, efSearch,
        probeSegments, routeEf),
      queries, k, metric)
  }

  /** Graph router over segment centroids — the IVF_HNSW coarse-quantizer
   * shape (the Faiss "IVF…_HNSW…" index family): when the catalog holds
   * enough segments that the per-query linear nearest-centroid sort
   * dominates routing (a 100-TB tier at ~1 GB cells is ~10⁵ segments),
   * each query walks a tiny HNSW over the centroids instead —
   * O(ef·log S) per query vs O(S). Built driver-side from the catalog
   * (one vector per segment — catalog-bounded by construction),
   * serialized once, decoded lazily per executor after broadcast.
   *
   * Graph routing makes the ROUTING step approximate too (standard
   * IVF_HNSW semantics): probed cells are the walk's nearest centroids,
   * not provably the true nearest. Freshness is never weakened: the walk
   * over-fetches 4×, the per-query window filter applies after it, and a
   * query whose in-window survivors fall short of the cap falls back to
   * the exact linear route — so a narrow window changes cost, not
   * semantics. */
  final class CentroidRouter private[store] (bytes: Array[Byte],
      val efRoute: Int) extends Serializable {
    @transient private lazy val graph: HnswStore = {
      val in = new java.io.DataInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try HnswStore.readFrom(in, efSearch = efRoute) finally in.close()
    }
    /** The `cap` nearest in-window segment positions by graph walk, or
     * None when the window filter leaves too few (caller falls back to
     * the exact linear route). The decoded graph is ONE instance per
     * executor shared by every routing task; HnswStore searches are
     * thread-safe on a graph nobody writes, so no lock is needed. */
    def route(qv: Array[Float], cap: Int, inWin: Int => Boolean,
        nInWin: Int): Option[Set[Int]] = {
      val found = graph.search(qv, cap * 4, Long.MinValue, Long.MaxValue)
      val hits = found.iterator.map(_._1.toInt).filter(inWin).take(cap).toSet
      if (hits.size >= math.min(cap, nInWin)) Some(hits) else None
    }
  }

  object CentroidRouter {
    /** Deterministic build over centroids in position order (label =
     * array index; seeded HNSW build). Routing metric is L2 over
     * centroids, matching the linear route's sort key. */
    def apply(centroids: Array[Array[Float]], m: Int = 16,
        efConstruction: Int = 100, efRoute: Int = 64): CentroidRouter = {
      val g = new HnswStore(Metric.L2, m, efConstruction, efSearch = efRoute)
      centroids.zipWithIndex.foreach { case (c, i) => g.put(i.toLong, 0L, c) }
      val bos = new java.io.ByteArrayOutputStream()
      val o = new java.io.DataOutputStream(bos)
      g.writeTo(o); o.close()
      new CentroidRouter(bos.toByteArray, efRoute)
    }
  }

  /** Exact linear route: the `cap` smallest (centroid-L2, position) pairs
   * among the in-window segment positions, by bounded insertion into a
   * cap-sized sorted pair of primitive arrays — O(S·dim) distance work
   * and O(cap) memory, no full sort, no tuple boxing (the sortBy it
   * replaces allocated and sorted all S). Selection order (dist, then
   * position) is identical to the sortBy, so routed aux replays are
   * unchanged. */
  private[graft] def linearRoute(qv: Array[Float], inWin: IndexedSeq[Int],
      centroidOf: Int => Array[Float], cap: Int): Set[Int] = {
    val ds = new Array[Double](cap)
    val is = new Array[Int](cap)
    var n = 0
    val it = inWin.iterator
    while (it.hasNext) {
      val si = it.next()
      val d = Distances.l2(qv, centroidOf(si))
      if (n < cap || d < ds(n - 1) || (d == ds(n - 1) && si < is(n - 1))) {
        var j = math.min(n, cap - 1)
        while (j > 0 && (ds(j - 1) > d || (ds(j - 1) == d && is(j - 1) > si))) {
          ds(j) = ds(j - 1); is(j) = is(j - 1); j -= 1
        }
        ds(j) = d; is(j) = si
        if (n < cap) n += 1
      }
    }
    (0 until n).map(is).toSet
  }

  /** Per-JVM router cache: serving calls re-route against the same sealed
   * layout; key = the exact indexed-segment set + knob, so any catalog
   * change (compact/gc/flush) naturally misses to a fresh build. Bounded
   * (a long-lived process re-sealing a tier would otherwise accumulate
   * one dead router — S centroid vectors each — per catalog generation;
   * the SidecarCache needed the same hygiene): on overflow the stalest
   * generations of the SAME dir go first, then global LRU. */
  private val RouterCacheMax =
    Integer.getInteger("graft.coldtier.routerCacheEntries", 8).intValue()
  private val routerTick = new java.util.concurrent.atomic.AtomicLong()
  private val routerCache = scala.collection.concurrent.TrieMap
    .empty[String, (CentroidRouter, java.util.concurrent.atomic.AtomicLong)]
  private def routerFor(dir: String, indexed: Array[SegmentStats],
      efRoute: Int): CentroidRouter = {
    val key = s"$dir|$efRoute|${indexed.map(_.segmentId).mkString(",")}"
    routerCache.get(key) match {
      case Some((r, used)) =>
        used.set(routerTick.incrementAndGet()); r
      case None =>
        // synchronized: the miss path is a driver-side check-then-act on
        // the shared map (nonEmpty→minBy races to empty.minBy under
        // concurrent misses, and two misses would each build the
        // expensive graph). Contention is negligible — one lock per
        // router BUILD, not per route.
        routerCache.synchronized {
          routerCache.filterInPlace { case (k, _) =>
            k == key || !k.startsWith(s"$dir|$efRoute|")
          }
          while (routerCache.size >= RouterCacheMax && routerCache.nonEmpty)
            routerCache.remove(
              routerCache.minBy { case (_, (_, u)) => u.get() }._1)
          routerCache.getOrElseUpdate(key,
            (CentroidRouter(indexed.map(_.centroid), efRoute = efRoute),
              new java.util.concurrent.atomic.AtomicLong(
                routerTick.incrementAndGet())))._1
        }
    }
  }

  /** The probe half of [[searchIndexed]]: distinct (qid, id) shortlist
   * candidates across fresh segments (sidecar probe, or exact scan
   * fallback for unindexed segments). Public so gated entries can
   * materialize the candidate set as an oracle aux.
   *
   * @param probeSegments per-query cap on how many INDEXED segments are
   *        probed — the nearest by centroid distance (ties by segment
   *        order), the IVF coarse-quantizer step at segment granularity.
   *        When segments are sealed along vector-space structure (e.g.
   *        one per k-means cell), probes/query stay CONSTANT as the
   *        corpus grows — the property that lets the sidecar path beat a
   *        linear scan at any scale. Default probes every fresh segment
   *        (exhaustive — the lossless-replay entries rely on it);
   *        unindexed segments are always scanned exactly.
   * @param routeEf when > 0, route through a [[CentroidRouter]] graph
   *        walk at this ef instead of the linear centroid sort (the
   *        IVF_HNSW quantizer — routing cost O(ef·log S) per query
   *        instead of O(S); routing becomes approximate, window
   *        semantics unchanged). Only meaningful with a probeSegments
   *        cap. */
  /** [[search]]'s per-query wave-planning kernel, at MODULE level for
   * the same static-lambda reason as [[routeToShards]]. */
  private def planWaves(qid: Long, qv: Array[Float], qtime: Long,
      ttl: Long, qfd: Double, qfB: Array[Byte],
      cat: Array[SegmentStats], st: Option[AttrStats],
      firstWaveFraction: Double, prune: Boolean)
      : Iterator[(Long, Long, Int, Double)] =
    planWavesAdmitted(qid, qv, cat, s =>
      s.maxTs >= qtime - ttl && s.minTs <= qtime &&
        st.forall(_.mayMatch(s.segmentId, qfd, qfB)),
      firstWaveFraction, prune)

  /** RANGE-filtered wave planning: freshness + [[AttrStats.mayOverlap]]
   * interval admission instead of the equality [[AttrStats.mayMatch]]. */
  private def planWavesRange(qid: Long, qv: Array[Float], qtime: Long,
      ttl: Long, qlo: Double, qhi: Double,
      cat: Array[SegmentStats], st: Option[AttrStats],
      firstWaveFraction: Double, prune: Boolean)
      : Iterator[(Long, Long, Int, Double)] =
    planWavesAdmitted(qid, qv, cat, s =>
      s.maxTs >= qtime - ttl && s.minTs <= qtime &&
        st.forall(_.mayOverlap(s.segmentId, qlo, qhi)),
      firstWaveFraction, prune)

  /** Shared hottest-first wave assignment over the admitted segments
   * (runs on executors inside the planning mapPartitions; the admit
   * closure is built and consumed there, never serialized). */
  private def planWavesAdmitted(qid: Long, qv: Array[Float],
      cat: Array[SegmentStats], admit: SegmentStats => Boolean,
      firstWaveFraction: Double, prune: Boolean)
      : Iterator[(Long, Long, Int, Double)] = {
    val fresh = cat.filter(admit)
    // hottest-first: lower bound, then temperature (V6) for the
    // frequent lb=0 ties when the query sits inside several radii
    val lbs = fresh.map { s =>
      val lb = math.max(0.0,
        math.sqrt(Distances.l2(qv, s.centroid)) - s.radius)
      (s.segmentId, lb, s.temperature)
    }.sortBy { case (sid, lb, temp) => (lb, -temp, sid) }
      .map { case (sid, lb, _) => (sid, lb) }
    val w1 = math.max(1, math.ceil(lbs.length * firstWaveFraction).toInt)
    lbs.iterator.zipWithIndex.map { case ((sid, lb), i) =>
      (qid, sid, if (prune && i >= w1) 2 else 1, lb)
    }
  }

  /** [[probeCandidates]]' per-query routing kernel, at MODULE level so
   * the flatMap lambdas calling it stay static (a nested def lifts to
   * an instance method on the module, and the calling lambda would then
   * capture — and fail to serialize — the non-serializable ColdTier$). */
  private def routeToShards(qid: Long, qv: Array[Float], qtime: Long,
      ttl: Long, qfd: Double, qfB: Array[Byte],
      metas: Array[(Array[Float], Long, Long, Long)],
      st: Option[AttrStats], idx: Array[(Int, Int, String)], cap: Int,
      router: Option[CentroidRouter])
      : Seq[(Int, Long, Array[Float], Long, Long)] = {
    val inWin = metas.indices.filter { si =>
      metas(si)._3 >= qtime - ttl && metas(si)._2 <= qtime &&
        st.forall(_.mayMatch(metas(si)._4, qfd, qfB))
    }
    chooseShards(qid, qv, qtime, ttl, inWin, metas, idx, cap, router)
  }

  /** MULTI-VALUE routing (the per-query IN shape): a segment is
   * admissible when ANY of the query's filter values may match —
   * per-value exactly the conservative [[AttrStats.mayMatch]] the
   * equality path applies. An empty value array admits nothing (SQL's
   * vacuous IN — callers normally filter such queries out earlier). */
  private def routeToShardsMulti(qid: Long, qv: Array[Float], qtime: Long,
      ttl: Long, qfds: Array[Double], qfBs: Array[Array[Byte]],
      metas: Array[(Array[Float], Long, Long, Long)],
      st: Option[AttrStats], idx: Array[(Int, Int, String)], cap: Int,
      router: Option[CentroidRouter])
      : Seq[(Int, Long, Array[Float], Long, Long)] = {
    val inWin = metas.indices.filter { si =>
      metas(si)._3 >= qtime - ttl && metas(si)._2 <= qtime &&
        st.forall(s => qfds.indices.exists(j =>
          s.mayMatch(metas(si)._4, qfds(j), qfBs(j))))
    }
    chooseShards(qid, qv, qtime, ttl, inWin, metas, idx, cap, router)
  }

  /** Shared tail of the routing variants: pick the `cap` nearest
   * in-window segments (linear or graph-routed) and fan out to their
   * shards. */
  private def chooseShards(qid: Long, qv: Array[Float], qtime: Long,
      ttl: Long, inWin: IndexedSeq[Int],
      metas: Array[(Array[Float], Long, Long, Long)],
      idx: Array[(Int, Int, String)], cap: Int,
      router: Option[CentroidRouter])
      : Seq[(Int, Long, Array[Float], Long, Long)] = {
    def linear: Set[Int] = linearRoute(qv, inWin, metas(_)._1, cap)
    val chosen: Int => Boolean =
      if (cap >= inWin.size) inWin.toSet
      else router match {
        case Some(r) =>
          val inWinSet = inWin.toSet
          r.route(qv, cap, inWinSet, inWin.size).getOrElse(linear)
        case None => linear
      }
    idx.collect {
      case (i, si, _) if chosen(si) => (i, qid, qv, qtime, ttl)
    }.toSeq
  }

  /** The query set's overall freshness window for segment-level
   * planning: Some((min(qtime - ttl), max(qtime))), None when the query
   * set is empty or all-null — callers plan zero segments. When qtime
   * and ttl are LITERAL plan constants (every declared query and every
   * serving shape builds them with lit(...)), the window reads off the
   * optimized plan with ZERO Spark jobs — at the per-call data volumes
   * of a probe/re-rank the 2-stage agg job this replaces was a
   * measurable slice of the whole call (r16, guide §1.2: count the
   * jobs, then remove them; 5 call sites x 1 job each). Non-literal
   * query sets keep the distributed agg bit-identically (same
   * expression, same null-row contract). A literal window over an
   * EMPTY query set plans segments the downstream query-broadcast plan
   * then never probes — the same empty result through a slightly
   * larger plan, accepted (the window exists to bound IO for real
   * query sets). subtractExact mirrors the agg expression's ANSI
   * overflow check: on driver-side overflow the helper falls back to
   * the agg, which raises the identical ANSI error the caller would
   * always have seen. */
  private[store] def freshnessWindow(q: DataFrame): Option[(Long, Long)] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.Project
    import org.apache.spark.sql.types.LongType
    val lits =
      try {
        val plan = q.queryExecution.optimizedPlan
        def litOf(name: String): Option[Long] =
          plan.output.find(_.name == name).flatMap { attr =>
            plan.collect { case p: Project => p.projectList }.flatten
              .collectFirst {
                case a: Alias if a.exprId == attr.exprId => a.child }
              .collect { case Literal(v: Long, LongType) => v }
          }
        for (qt <- litOf("qtime"); tl <- litOf("ttl"))
          yield (math.subtractExact(qt, tl), qt)
      } catch { case _: ArithmeticException => None }
    lits.orElse {
      val w = q.agg(min(col("qtime") - col("ttl")), max(col("qtime"))).first()
      if (w.isNullAt(0)) None else Some((w.getLong(0), w.getLong(1)))
    }
  }

  def probeCandidates(spark: SparkSession, dir: String, queries: DataFrame,
      shortlist: Int, metric: Metric = Metric.L2,
      efSearch: Int = 64, probeSegments: Int = Int.MaxValue,
      routeEf: Int = 0, filterColumn: Option[String] = None,
      // IN-WALK filtering (requires filterColumn): each sidecar walk
      // applies the query's attribute hash at candidate ACCEPTANCE
      // ([[HnswStore.searchFiltered]] — traversal stays unfiltered), so
      // a rare label surfaces matching candidates directly instead of
      // relying on a 1/selectivity shortlist over-fetch. Graphs sealed
      // without the column's hashes fall back per shard to the
      // unfiltered walk — correctness never depends on the sidecar
      // generation (the exact re-rank applies the true equality).
      inWalkFilter: Boolean = false,
      // per-query IN in-walk filtering (requires filterColumn): queries
      // carry a `qfin` ARRAY column (the hot filterIn channel's probe
      // twin); the routed tuple carries the query's SORTED distinct
      // canonical hashes — one per non-null IN value, the same
      // xxhash64-over-cast rule the sealer used — and each walk admits
      // a candidate whose sealed hash equals ANY of them
      // ([[HnswStore.searchFilteredIn]]; acceptance only, traversal
      // unfiltered). Null elements drop (SQL's null-rejecting IN);
      // null/empty qfin probes nothing (vacuous IN). Segment admission
      // is per-value any-of ([[routeToShardsMulti]]). Shards without
      // matching-family hashes fall back to the unfiltered walk —
      // correctness never depends on the sidecar generation (the exact
      // re-rank applies the true IN). Mutually exclusive with the other
      // in-walk shapes.
      inWalkFilterIn: Boolean = false,
      // plan-time LITERAL in-walk filtering — the IN-list / multi-column
      // conjunction shapes where every filter value is known before the
      // walk starts: each (column, values, valueType) conjunct is hashed
      // driver-side ([[literalAttrHash]], the shared canonical rule) and
      // applied at candidate ACCEPTANCE inside every sidecar walk
      // ([[HnswStore.searchFilteredConj]] — any-of within a conjunct,
      // AND across conjuncts; shards without matching-family hashes drop
      // the conjunct, falling back toward the unfiltered walk). The
      // unindexed-segment exact scan applies the SAME predicate exactly
      // (it reads the raw attribute), so mixed layouts stay
      // filter-aware. Mutually exclusive with per-query `filterColumn`
      // filtering.
      inWalkLiterals: Seq[(String, Seq[Any],
        org.apache.spark.sql.types.DataType)] = Nil,
      // plan-time literal RANGE conjuncts applied IN-WALK: each column's
      // bounds fold to their conservative CLOSED double hull
      // ([[closedHull]] — strict edges admitted closed, NaN sides drop
      // the conjunct) and acceptance tests the sidecar's canonical
      // values (format v3; shards without them drop the conjunct). The
      // unindexed-segment exact scan re-applies each bound EXACTLY.
      // Composes with `inWalkLiterals` (AND).
      inWalkRanges: Seq[RangeBound] = Nil,
      // plan-time literal admission (the [[admissibleIds]] set of an
      // IN-list / multi-column rewrite): routing and the unindexed scan
      // both drop segments outside it — lossless by the sidecar's
      // conservative contract. None = no restriction.
      admissible: Option[Set[Long]] = None,
      // time travel: probe the catalog and tombstones as pinned by
      // [[ColdTier.snapshot]] version `v` — post-snapshot seals,
      // deletes and compactions are invisible ([[gc]] keeps pinned
      // segment files and their sidecars alive)
      snapshot: Option[Long] = None): DataFrame = {
    import spark.implicits._
    require((inWalkLiterals.isEmpty && inWalkRanges.isEmpty) ||
        filterColumn.isEmpty,
      "probeCandidates: literal in-walk filtering and per-query " +
        "filterColumn filtering are mutually exclusive")
    require(inWalkLiterals.forall(_._2.nonEmpty),
      "probeCandidates: each inWalkLiterals conjunct needs >= 1 value " +
        "(an empty IN list matches no rows — answer it without a probe)")
    require(!inWalkFilterIn || filterColumn.isDefined,
      "probeCandidates: inWalkFilterIn requires filterColumn (the " +
        "attribute the qfin value set applies to)")
    require(!(inWalkFilterIn && (inWalkFilter ||
        inWalkLiterals.nonEmpty || inWalkRanges.nonEmpty)),
      "probeCandidates: inWalkFilterIn is mutually exclusive with the " +
        "other in-walk shapes")
    val q = queries.select(Seq("qid", "qv", "qtime", "ttl").map(col) ++
      (if (inWalkFilterIn) Seq(col("qfin"))
       else filterColumn.map(_ => col("qfilter")).toSeq): _*)
    val w = freshnessWindow(q)
    val segs = snapshot.map(v => catalogAt(spark, dir, v))
      .getOrElse(catalog(spark, dir))
    val fresh = w match {
      case None => Array.empty[SegmentStats]
      case Some((lo, hi)) =>
        segs.filter(s => s.maxTs >= lo && s.minTs <= hi
          && admissible.forall(_.contains(s.segmentId)))
    }
    val empty = spark.emptyDataset[(Long, Long)].toDF("qid", "id")
    if (fresh.isEmpty) return empty
    val hconf = spark.sparkContext.hadoopConfiguration
    val dfs = new Path(dir).getFileSystem(hconf)
    val (indexed, unindexed) = fresh.partition(s => indexSealed(dfs, s.path))
    val sc = new SerConf(hconf)
    // attr-range pruning, same contract as [[search]]: only for
    // filtered probes, only when the [[sealAttrStats]] sidecar exists.
    // Routing then fans out ONLY to admissible segments — on a
    // label-aligned tier this both skips IO and makes a capped probe's
    // shortlist label-dense (the cap picks nearest centroids among
    // segments that can actually match). An UNFILTERED probe plans the
    // bare (qid, qv, qtime, ttl) tuple — no stats load, no qfd/qfs
    // columns — so the serving path's plan is byte-identical to the
    // pre-pruning shape (the r10→r9 A/B the fast-path attribution
    // demanded).
    val (attrStats, qfdCol, qfsCol) =
      if (inWalkFilterIn)
        // the IN shape plans admission per VALUE from its own stats load
        // (family-matched against the qfin ELEMENT type) inside its
        // branch — the equality preamble would look for a qfilter column
        // the IN queries do not carry
        (None, lit(Double.NaN).as("qfd"), lit(null).cast("string").as("qfs"))
      else attrPruning(spark, dir, filterColumn, q)
    val bAttr = attrStats.map(spark.sparkContext.broadcast(_))
    val probed =
      if (indexed.isEmpty) empty
      else {
        // one routing row per (shard, in-window query): segment-level
        // freshness applies at routing, so out-of-window probes never
        // ship; each shard of a sharded sidecar probes in its own task
        // and contributes its own shortlist (union = candidate set).
        // With a probeSegments cap, each query keeps only its
        // nearest-centroid segments before fanning out to their shards.
        val bSegMeta = spark.sparkContext.broadcast(
          indexed.map(s => (s.centroid, s.minTs, s.maxTs, s.segmentId)))
        val bIdx = spark.sparkContext.broadcast(
          indexed.zipWithIndex.flatMap { case (s, si) =>
            shardFiles(dfs, s.path).map(p => (si, p))
          }.zipWithIndex.map { case ((si, p), i) => (i, si, p) })
        val cap = probeSegments
        val bRouter =
          if (routeEf > 0 && cap < indexed.length)
            Some(spark.sparkContext.broadcast(
              routerFor(dir, indexed, routeEf)))
          else None
        if (inWalkLiterals.nonEmpty || inWalkRanges.nonEmpty) {
          // literal in-walk branch: one hash-conjunct array + one
          // closed-hull range array for the whole plan (values are
          // plan-time constants), broadcast beside the shard index; each
          // walk filters at acceptance exactly like the per-query
          // branch, but with zero per-tuple filter payload — the routed
          // tuple stays the bare unfiltered shape.
          val (conj, rangeConj) =
            inWalkConjuncts(spark, inWalkLiterals, inWalkRanges)
          val bConj = spark.sparkContext.broadcast(conj)
          val bRange = spark.sparkContext.broadcast(rangeConj)
          q.select(col("qid"), col("qv"), col("qtime"), col("ttl"))
            .as[(Long, Array[Float], Long, Long)]
            .flatMap { case (qid, qv, qtime, ttl) =>
              routeToShards(qid, qv, qtime, ttl, Double.NaN, null,
                bSegMeta.value, None, bIdx.value, cap,
                bRouter.map(_.value))
            }
            .groupByKey(_._1)
            .flatMapGroups { (i, it) =>
              val path = bIdx.value(i)._3
              val store = SidecarCache.get(path, sc.conf, efSearch)
              // one payload pass per (shard, plan): the conjuncts are
              // plan constants, so the density count is too — without
              // this, every query would rescan the payload arrays
              val cnt = store.countMatchingConj(bConj.value, bRange.value)
              if (cnt == 0) Iterator.empty
              else it.flatMap { case (_, qid, qv, qtime, ttl) =>
                store.searchFilteredConj(qv, shortlist, qtime - ttl,
                    qtime, bConj.value, bRange.value, precount = cnt)
                  .map { case (id, _) => (qid, id) }
              }
            }.toDF("qid", "id")
        } else if (inWalkFilter && filterColumn.isDefined &&
            !tzDependent(q.schema("qfilter").dataType)) {
          // in-walk branch: the routed tuple carries the query literal's
          // canonical attribute hash (plan-time family + the shared
          // attrHashColumn rule), and each shard walk filters at
          // acceptance. Null literals are null-rejecting equality — no
          // probe rows (the exact answer for them is empty).
          val fcol = filterColumn.get
          val qt = q.schema("qfilter").dataType
          val qNumeric =
            qt.isInstanceOf[org.apache.spark.sql.types.NumericType]
          val qHashCol = attrHashColumn(col("qfilter"), qt)._1
          q.where(col("qfilter").isNotNull)
            .select(col("qid"), col("qv"), col("qtime"), col("ttl"),
              qfdCol, qfsCol, qHashCol.as("qh"))
            .as[(Long, Array[Float], Long, Long, Double, String, Long)]
            .flatMap { case (qid, qv, qtime, ttl, qfd, qfs, qh) =>
              val qfB = if (qfs == null) null
                else qfs.getBytes(java.nio.charset.StandardCharsets.UTF_8)
              routeToShards(qid, qv, qtime, ttl, qfd, qfB,
                bSegMeta.value, bAttr.map(_.value), bIdx.value, cap,
                bRouter.map(_.value))
                .map { case (i, _, _, _, _) => (i, qid, qv, qtime, ttl, qh) }
            }
            .groupByKey(_._1)
            .flatMapGroups { (i, it) =>
              val path = bIdx.value(i)._3
              val store = SidecarCache.get(path, sc.conf, efSearch)
              // memoize the predicate-density count per distinct filter
              // hash: queries repeat filter values, and the count is an
              // O(n) payload pass that Q same-label queries would
              // otherwise each re-pay per shard (the r13 advice)
              val counts = new java.util.HashMap[Long, Integer]()
              it.flatMap { case (_, qid, qv, qtime, ttl, qh) =>
                var cnt = counts.get(qh)
                if (cnt == null) {
                  cnt = Integer.valueOf(
                    store.countMatching(fcol, qNumeric, Array(qh)))
                  counts.put(qh, cnt)
                }
                store.searchFiltered(qv, shortlist, qtime - ttl, qtime,
                    fcol, qNumeric, qh, precount = cnt.intValue())
                  .map { case (id, _) => (qid, id) }
              }
            }.toDF("qid", "id")
        } else if (inWalkFilterIn) {
          // per-query IN in-walk branch: each routed tuple carries the
          // query's SORTED distinct canonical hash array; segment
          // admission is per-value any-of against the attr-stats
          // sidecar; each walk admits candidates matching ANY value at
          // acceptance. tz-dependent element types cannot hash
          // probe-consistently — such queries route unfiltered
          // (superset-leaning; the exact re-rank applies the true IN).
          val fcol = filterColumn.get
          val elemT = q.schema("qfin").dataType
            .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
          val qNumeric =
            elemT.isInstanceOf[org.apache.spark.sql.types.NumericType]
          val hashable = !tzDependent(elemT)
          // tz-dependent element types also skip STATS admission (not
          // just hashing): qfss renders under the probe session's
          // timezone while the sealed stats rendered under the seal
          // session's, so a mismatch could wrongly PRUNE segments —
          // route conservatively instead (the r14 advice; mirrors the
          // hashable guard)
          val statsIn = if (!hashable) None else filterColumn.flatMap(f =>
            loadAttrStats(spark, dir, f).filter(_.numeric == qNumeric))
          val bStatsIn = statsIn.map(spark.sparkContext.broadcast(_))
          val vals = array_distinct(array_compact(col("qfin")))
          val qhsCol =
            if (hashable)
              array_sort(transform(vals, v => attrHashColumn(v, elemT)._1))
            else typedLit(Array.empty[Long])
          // per-value admission renderings (both built unconditionally —
          // transform preserves length, so they stay position-aligned
          // with vals; the non-matching family side is just unused)
          val qfdsCol = transform(vals,
            v => coalesce(v.try_cast("double"), lit(Double.NaN)))
          val qfssCol = transform(vals, v => v.cast("string"))
          q.where(col("qfin").isNotNull && size(vals) > 0)
            .select(col("qid"), col("qv"), col("qtime"), col("ttl"),
              qhsCol.as("qhs"), qfdsCol.as("qfds"), qfssCol.as("qfss"))
            .as[(Long, Array[Float], Long, Long, Array[Long],
              Array[Double], Array[String])]
            .flatMap { case (qid, qv, qtime, ttl, qhs, qfds, qfss) =>
              val qfBs = qfss.map(s => if (s == null) null
                else s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
              routeToShardsMulti(qid, qv, qtime, ttl, qfds, qfBs,
                bSegMeta.value, bStatsIn.map(_.value), bIdx.value, cap,
                bRouter.map(_.value))
                .map { case (i, _, _, _, _) =>
                  (i, qid, qv, qtime, ttl, qhs) }
            }
            .groupByKey(_._1)
            .flatMapGroups { (i, it) =>
              val path = bIdx.value(i)._3
              val store = SidecarCache.get(path, sc.conf, efSearch)
              // same per-(shard, filter-value-set) density memoization
              // as the equality branch
              val counts =
                scala.collection.mutable.HashMap.empty[Seq[Long], Int]
              it.flatMap { case (_, qid, qv, qtime, ttl, qhs) =>
                if (!hashable)
                  store.search(qv, shortlist, qtime - ttl, qtime)
                    .map { case (id, _) => (qid, id) }
                else {
                  val cnt = counts.getOrElseUpdate(qhs.toSeq,
                    store.countMatching(fcol, qNumeric, qhs))
                  store.searchFilteredIn(qv, shortlist, qtime - ttl,
                      qtime, fcol, qNumeric, qhs, precount = cnt)
                    .map { case (id, _) => (qid, id) }
                }
              }
            }.toDF("qid", "id")
        } else {
        val routed =
          if (filterColumn.isEmpty)
            q.select(col("qid"), col("qv"), col("qtime"), col("ttl"))
              .as[(Long, Array[Float], Long, Long)]
              .flatMap { case (qid, qv, qtime, ttl) =>
                routeToShards(qid, qv, qtime, ttl, Double.NaN, null,
                  bSegMeta.value, None, bIdx.value, cap,
                  bRouter.map(_.value))
              }
          else q.select(col("qid"), col("qv"), col("qtime"), col("ttl"),
              qfdCol, qfsCol)
            .as[(Long, Array[Float], Long, Long, Double, String)]
            .flatMap { case (qid, qv, qtime, ttl, qfd, qfs) =>
              val qfB = if (qfs == null) null
                else qfs.getBytes(java.nio.charset.StandardCharsets.UTF_8)
              routeToShards(qid, qv, qtime, ttl, qfd, qfB,
                bSegMeta.value, bAttr.map(_.value), bIdx.value, cap,
                bRouter.map(_.value))
            }
        routed
          .groupByKey(_._1)
          .flatMapGroups { (i, it) =>
            val path = bIdx.value(i)._3
            val store = SidecarCache.get(path, sc.conf, efSearch)
            it.flatMap { case (_, qid, qv, qtime, ttl) =>
              store.search(qv, shortlist, qtime - ttl, qtime)
                .map { case (id, _) => (qid, id) }
            }
          }.toDF("qid", "id")
        }
      }
    val scanned =
      if (unindexed.isEmpty) empty
      else {
        val data = applyTombstonesFor(spark, dir, snapshot,
          spark.read.parquet(unindexed.map(_.path).toIndexedSeq: _*))
        val probeQ = q.select(Seq(col("qid"), col("qv"),
          (col("qtime") - col("ttl")).as("floor_ts"),
          col("qtime").as("ceil_ts")) ++
          (if (inWalkFilterIn) Seq(col("qfin"))
           else filterColumn.map(_ => col("qfilter")).toSeq): _*)
        val shortUdaf = udaf(new TopKAggregator(shortlist),
          Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble))
        // literal in-walk plans apply their predicate EXACTLY here (the
        // raw attribute is in the scan) — the unindexed shortlist is
        // filtered-exact, never diluted by non-matching near neighbors
        val litPred = literalPredicate(data, inWalkLiterals, inWalkRanges)
        // the per-query filter, applied exactly: equality against
        // qfilter, or any-of against the qfin array (null-rejecting —
        // SQL IN semantics; the same filterEquality coercion per value)
        val qPred = filterColumn.map { f =>
          if (inWalkFilterIn) {
            val elemT = q.schema("qfin").dataType
              .asInstanceOf[org.apache.spark.sql.types.ArrayType]
              .elementType
            exists(col("qfin"), v => filterEquality(data(f), v,
              data.schema(f).dataType, elemT))
          } else filterEquality(data(f), col("qfilter"),
            data.schema(f).dataType, q.schema("qfilter").dataType)
        }.getOrElse(lit(true))
        data.join(broadcast(probeQ),
            col("eventTime") >= col("floor_ts") &&
            col("eventTime") <= col("ceil_ts") && qPred && litPred)
          .select(col("qid"), col("id"),
            Distances.forMetric(metric, col("qv"), col("vec")).as("dist"))
          .groupBy("qid")
          .agg(shortUdaf(col("id"), col("dist")).as("topk"))
          .select(col("qid"), explode(col("topk.ids")).as("id"))
      }
    probed.unionAll(scanned).distinct()
  }

  /** The walk-side form of a plan-time literal conjunction: hash
   * conjuncts `(column, numericFamily, sorted literal hashes)` and
   * closed-hull range conjuncts `(column, lo, hi)` for
   * [[HnswStore.searchFilteredConj]]. Tz-dependent conjuncts drop out
   * (superset-leaning — the re-rank applies them exactly): their hashes
   * are seal-session renderings a probe session cannot reliably
   * reproduce. So do NaN-sided hulls. */
  private def inWalkConjuncts(spark: SparkSession,
      literals: Seq[(String, Seq[Any], org.apache.spark.sql.types.DataType)],
      ranges: Seq[RangeBound])
      : (Array[(String, Boolean, Array[Long])],
         Array[(String, Double, Double)]) = {
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    val conj = literals.filterNot(f => tzDependent(f._3))
      .map { case (f, vs, vt) =>
        val hashed = vs.map(v => literalAttrHash(v, vt, tz))
        (f, hashed.head._2, hashed.map(_._1).distinct.sorted.toArray)
      }.toArray
    val rangeConj = ranges.groupBy(_.column).toSeq
      .map { case (f, bs) => val (lo, hi) = closedHull(bs); (f, lo, hi) }
      .filterNot { case (_, lo, hi) => lo.isNaN || hi.isNaN }
      .sortBy(_._1).toArray
    (conj, rangeConj)
  }

  /** The serving fast path: route + probe sidecars exactly like
   * [[probeCandidates]], but keep the graph's own distances and merge
   * top-k per query directly — ZERO corpus IO after the probe (the
   * reference never re-reads an SST for distances its index search
   * already computed; [[searchIndexed]]'s exact re-rank exists for the
   * bit-exact oracle gates and re-scans candidate vectors from parquet,
   * which at corpus scale costs a tier-wide scan per query batch).
   * Distances use the graph kernel (l2Fast — not last-ulp equal to the
   * oracle kernel); freshness applies inside the graph search (per-entry
   * ts window). Tombstones are applied conservatively BY ID (a
   * deleted-then-reinserted id is suppressed here — use
   * [[searchIndexed]] where versioned exactness matters). Unindexed
   * fresh segments fall back to the exact scan, so results stay
   * complete across mixed layouts. */
  def searchIndexedFast(spark: SparkSession, dir: String, queries: DataFrame,
      k: Int, metric: Metric = Metric.L2, efSearch: Int = 64,
      probeSegments: Int = Int.MaxValue, shortlist: Int = 50,
      routeEf: Int = 0,
      // time travel: serve from the catalog/tombstones pinned by
      // [[ColdTier.snapshot]] version `v` (the SQL rewrite's
      // VERSION-pinned registration rides this)
      snapshot: Option[Long] = None): DataFrame = {
    // probe DEPTH (shortlist, not k) controls the graph's beam — ef is
    // max(efSearch, 4*requested) inside the store, so asking each graph
    // for only k neighbors quarters the beam and costs real recall
    // (measured 0.755 vs 0.928 at k=10/shortlist=64 on the 6M tier)
    val probeK = math.max(k, shortlist)
    import spark.implicits._
    val q = queries.select(col("qid"), col("qv"), col("qtime"), col("ttl"))
    val w = freshnessWindow(q)
    val segs = snapshot.map(v => catalogAt(spark, dir, v))
      .getOrElse(catalog(spark, dir))
    val fresh = w match {
      case None => Array.empty[SegmentStats]
      case Some((lo, hi)) =>
        segs.filter(s => s.maxTs >= lo && s.minTs <= hi)
    }
    val empty = spark.emptyDataset[(Long, Long, Double)]
      .toDF("qid", "id", "dist")
    val hconf = spark.sparkContext.hadoopConfiguration
    val dfs = new Path(dir).getFileSystem(hconf)
    val (indexed, unindexed) = fresh.partition(s => indexSealed(dfs, s.path))
    val sc = new SerConf(hconf)
    val probed =
      if (indexed.isEmpty) empty
      else {
        val bSegMeta = spark.sparkContext.broadcast(
          indexed.map(s => (s.centroid, s.minTs, s.maxTs)))
        val bIdx = spark.sparkContext.broadcast(
          indexed.zipWithIndex.flatMap { case (s, si) =>
            shardFiles(dfs, s.path).map(p => (si, p))
          }.zipWithIndex.map { case ((si, p), i) => (i, si, p) })
        val cap = probeSegments
        val bRouter =
          if (routeEf > 0 && cap < indexed.length)
            Some(spark.sparkContext.broadcast(
              routerFor(dir, indexed, routeEf)))
          else None
        q.as[(Long, Array[Float], Long, Long)]
          .flatMap { case (qid, qv, qtime, ttl) =>
            val metas = bSegMeta.value
            val inWin = metas.indices.filter { si =>
              metas(si)._3 >= qtime - ttl && metas(si)._2 <= qtime
            }
            def linear: Set[Int] = linearRoute(qv, inWin, metas(_)._1, cap)
            val chosen: Int => Boolean =
              if (cap >= inWin.size) inWin.toSet
              else bRouter match {
                case Some(r) =>
                  val inWinSet = inWin.toSet
                  r.value.route(qv, cap, inWinSet, inWin.size)
                    .getOrElse(linear)
                case None => linear
              }
            bIdx.value.collect {
              case (i, si, _) if chosen(si) => (i, qid, qv, qtime, ttl)
            }
          }
          .groupByKey(_._1)
          .flatMapGroups { (i, it) =>
            val path = bIdx.value(i)._3
            val store = SidecarCache.get(path, sc.conf, efSearch)
            it.flatMap { case (_, qid, qv, qtime, ttl) =>
              store.search(qv, probeK, qtime - ttl, qtime)
                .map { case (id, d) => (qid, id, d) }
            }
          }.toDF("qid", "id", "dist")
      }
    val scanned =
      if (unindexed.isEmpty) empty
      else {
        val data = applyTombstonesFor(spark, dir, snapshot,
          spark.read.parquet(unindexed.map(_.path).toIndexedSeq: _*))
        val probeQ = q.select(col("qid"), col("qv"),
          (col("qtime") - col("ttl")).as("floor_ts"),
          col("qtime").as("ceil_ts"))
        data.join(broadcast(probeQ),
            col("eventTime") >= col("floor_ts") &&
            col("eventTime") <= col("ceil_ts"))
          .select(col("qid"), col("id"),
            Distances.forMetric(metric, col("qv"), col("vec")).as("dist"))
      }
    val cands = probed.unionAll(scanned)
    // same byte-gated broadcast budget as applyTombstones: a consolidated
    // log at deleteRatio 0.1 of a 100-TB corpus is far past any broadcast;
    // the candidate side is small (queries x segments x shortlist), so the
    // fallback shuffled-hash anti-join stays cheap
    val (tombOpt, tombBytes) = tombstonesFor(spark, dir, snapshot)
    val live = tombOpt match {
      case Some(tombs) =>
        val ids = tombs.select(col("del_id").as("id")).distinct()
        val budget = spark.conf.getOption(TombstoneBroadcastMaxBytesKey)
          .map(_.toLong).getOrElse(TombstoneBroadcastMaxBytesDefault)
        if (tombBytes <= budget)
          cands.join(broadcast(ids), Seq("id"), "left_anti")
        else cands.join(ids.hint("shuffle_hash"), Seq("id"), "left_anti")
      case None => cands
    }
    val topkUdaf = udaf(new TopKAggregator(k),
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble))
    live.groupBy("qid").agg(topkUdaf(col("id"), col("dist")).as("topk"))
      .select(col("qid"), posexplode(arrays_zip(col("topk.ids").as("id"),
        col("topk.dists").as("dist"))))
      .select(col("qid"), (col("pos") + 1).as("rn"),
        col("col.id").as("id"), col("col.dist").as("dist"))
  }

  /** Attribute-filtered sidecar search (the filtered-ANN surface on the
   * indexed path, what the filtered SQL rewrite serves from): the graph
   * shortlist is filter-OBLIVIOUS, so it is over-fetched by
   * `overfetch`, then ONLY the shortlisted ids are hydrated — the
   * attribute rides the candidate-bounded re-rank join — and re-ranked
   * under `attribute === qfilter`. Candidate-bounded IO (never a tier
   * scan); recall under selective labels is bounded by
   * shortlist × overfetch vs the label's local density — size them to
   * the label distribution. Queries must carry a `qfilter` column.
   * With a [[sealAttrStats]] sidecar the routing step additionally
   * drops non-admissible segments (and a capped probe then picks its
   * nearest centroids among segments that can actually match — on a
   * label-aligned tier the shortlist becomes label-dense, recovering
   * the recall a filter-oblivious walk loses on selective labels). */
  def searchIndexedFiltered(spark: SparkSession, dir: String,
      queries: DataFrame, k: Int, filterColumn: String,
      metric: Metric = Metric.L2, shortlist: Int = 50,
      efSearch: Int = 64, probeSegments: Int = Int.MaxValue,
      overfetch: Int = 4, routeEf: Int = 0,
      snapshot: Option[Long] = None): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist < k $k")
    rerankExact(spark, dir,
      probeCandidates(spark, dir, queries,
        shortlist * math.max(1, overfetch), metric, efSearch,
        probeSegments, routeEf, filterColumn = Some(filterColumn),
        snapshot = snapshot),
      queries, k, metric, filterColumn = Some(filterColumn),
      snapshot = snapshot)
  }

  /** IN-WALK attribute-filtered sidecar search — the principled fix for
   * rare-label serving that [[searchIndexedFiltered]]'s over-fetch only
   * approximates: the filter applies at candidate ACCEPTANCE inside each
   * graph walk (traversal stays unfiltered, the ACORN shape — and the
   * same accept-point the hot tier and the reference's hnswlib.h:135-146
   * already filter at), so a 1%-selective label surfaces ~shortlist
   * MATCHING candidates per probed segment directly. Requires sidecars
   * sealed with `attrColumns = Seq(filterColumn)` ([[sealIndexes]]);
   * shards sealed without the hashes fall back to the unfiltered walk
   * (recall degrades toward the over-fetch path, correctness doesn't —
   * the exact re-rank applies the true equality either way). No
   * over-fetch knob: the walk's geometric ef widening replaces it. */
  def searchIndexedInWalkFiltered(spark: SparkSession, dir: String,
      queries: DataFrame, k: Int, filterColumn: String,
      metric: Metric = Metric.L2, shortlist: Int = 50,
      efSearch: Int = 64, probeSegments: Int = Int.MaxValue,
      routeEf: Int = 0, snapshot: Option[Long] = None): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist < k $k")
    rerankExact(spark, dir,
      probeCandidates(spark, dir, queries, shortlist, metric, efSearch,
        probeSegments, routeEf, filterColumn = Some(filterColumn),
        inWalkFilter = true, snapshot = snapshot),
      queries, k, metric, filterColumn = Some(filterColumn),
      snapshot = snapshot)
  }

  /** Per-query IN in-walk sidecar search — the `qfin` shape of
   * [[searchIndexedInWalkFiltered]], closing the filter matrix's last
   * cell (literal IN/range and per-query equality walk in-walk already;
   * per-query IN previously rode only the exact scan kernel's filterIn).
   * Queries carry a `qfin` ARRAY column; the routed tuple carries the
   * query's sorted canonical hash set, every walk admits candidates
   * matching ANY value at acceptance ([[HnswStore.searchFilteredIn]] —
   * traversal unfiltered, the ACORN shape; the reference's per-item
   * filter point is hnswlib.h:135-146), and the exact re-rank applies
   * the true null-rejecting IN. Same fallback contract as the equality
   * sibling: payload-less shards walk unfiltered, correctness never
   * depends on the sidecar generation. */
  def searchIndexedInWalkFilteredIn(spark: SparkSession, dir: String,
      queries: DataFrame, k: Int, filterColumn: String,
      metric: Metric = Metric.L2, shortlist: Int = 50,
      efSearch: Int = 64, probeSegments: Int = Int.MaxValue,
      routeEf: Int = 0, snapshot: Option[Long] = None): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist < k $k")
    rerankExact(spark, dir,
      probeCandidates(spark, dir, queries, shortlist, metric, efSearch,
        probeSegments, routeEf, filterColumn = Some(filterColumn),
        inWalkFilterIn = true, snapshot = snapshot),
      queries, k, metric, filterColumn = Some(filterColumn),
      filterIn = true, snapshot = snapshot)
  }

  /** Serving-path instrumentation for [[searchIndexedLiteralFiltered]]:
   * which kernel answered the LAST literal-filtered call on THIS thread
   * — "exact" (the admission-collapsed exact scan kernel, recall 1.0 by
   * construction) or "probe" (the graph probe). Set at PLAN time (the
   * decision is plan-time work, running on whichever thread forces the
   * plan — for the SQL rewrite, the thread that reads
   * queryExecution.optimizedPlan). Thread-local so parallel suites
   * cannot pollute each other's observation. Consumed by gates/specs
   * that must THROW when the wrong kernel serves
   * (knn_sql_rewrite_aligned_exact, KnnRewriteSpec). */
  val literalServedVia = new ThreadLocal[String]

  /** Which ENGINE the exact serving decision used for the LAST call on
   * THIS thread: "memory" (the process-local kernel over
   * [[SegmentDataCache]]-resident segments — zero Spark jobs per
   * statement after the per-segment warm load) or "scan" (the lazy
   * distributed scan plan). Observability sibling of
   * [[literalServedVia]], which stays "exact" for both: the kernel, the
   * predicate semantics and the result contract are identical — only
   * the execution locality differs. */
  val exactServedFrom = new ThreadLocal[String]

  /** The query rows of a PLAN-TIME-enumerable query set: Some(rows) iff
   * the optimized plan is a LocalRelation of at most `maxQ` rows
   * carrying exactly the kernel's (qid LONG, qv ARRAY<FLOAT>, qtime
   * LONG, ttl LONG) columns; None otherwise — cached / scanned /
   * distributed query sets keep the distributed kernel. */
  private def planTimeQueries(queries: DataFrame,
      maxQ: Int): Option[Array[(Long, Array[Float], Long, Long)]] = {
    import org.apache.spark.sql.types._
    queries.queryExecution.optimizedPlan match {
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
          if lr.data.length <= maxQ =>
        val out = lr.output
        def ord(name: String, ok: DataType => Boolean): Option[Int] = {
          val i = out.indexWhere(_.name == name)
          if (i >= 0 && ok(out(i).dataType)) Some(i) else None
        }
        val isFloatArray: DataType => Boolean = {
          case ArrayType(FloatType, _) => true
          case _ => false
        }
        for {
          qi <- ord("qid", _ == LongType)
          vi <- ord("qv", isFloatArray)
          ti <- ord("qtime", _ == LongType)
          li <- ord("ttl", _ == LongType)
        } yield lr.data.map { r =>
          (r.getLong(qi), r.getArray(vi).toFloatArray(), r.getLong(ti),
            r.getLong(li))
        }.toArray
      case _ => None
    }
  }

  /** Query-independent survival mask over one cached segment: the
   * resolved plan-time literal predicate AND tombstone survival. The
   * predicate is the SAME [[literalPredicate]] Column the distributed
   * `where` runs, resolved through a Filter over the segment's meta
   * schema and evaluated by Catalyst itself — null rejection, casts and
   * timezone handling cannot drift between the two engines. A segment
   * missing a referenced filter column contributes no rows, exactly as
   * under the distributed unified-schema read where the absent column
   * is null on every row and the conjunct null-rejects. */
  /** Analyzed (condition, input attributes) of a literal predicate per
   * (literal shape, segment meta schema, session time zone): the segments
   * of one tier share their schema, so a new literal shape is analyzed
   * once per statement, not once per admitted segment (an analysis pass
   * costs milliseconds; the mask pass over resident rows microseconds). */
  private val resolvedPredicates = scala.collection.concurrent.TrieMap
    .empty[(String, org.apache.spark.sql.types.StructType, String),
      (org.apache.spark.sql.catalyst.expressions.Expression,
        Seq[org.apache.spark.sql.catalyst.expressions.Attribute])]

  private def localPredicateMask(spark: SparkSession, sd: SegmentData,
      filters: Seq[(String, Seq[Any], org.apache.spark.sql.types.DataType)],
      ranges: Seq[RangeBound],
      tomb: scala.collection.mutable.LongMap[Long]): Array[Boolean] = {
    val n = sd.metaRows.length
    val mask = new Array[Boolean](n)
    val needed = (filters.map(_._1) ++ ranges.map(_.column)).distinct
    if (!needed.forall(c => sd.metaSchema.fieldNames.contains(c)))
      return mask // all-false
    val key = (literalShapeKey(filters, ranges), sd.metaSchema,
      spark.sessionState.conf.sessionLocalTimeZone)
    val (cond, childOut) = resolvedPredicates.getOrElse(key, {
      val probe = spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        sd.metaSchema)
      val analyzed = probe.where(literalPredicate(probe, filters, ranges))
        .queryExecution.analyzed
      val resolved = analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          (f.condition, f.child.output)
      }.getOrElse(throw new IllegalStateException(
        "localPredicateMask: literal predicate did not analyze to a Filter"))
      if (resolvedPredicates.size > 256) resolvedPredicates.clear()
      resolvedPredicates.put(key, resolved)
      resolved
    })
    val pred = org.apache.spark.sql.catalyst.expressions.Predicate
      .create(cond, childOut)
    pred.initialize(0)
    var i = 0
    while (i < n) {
      if (pred.eval(sd.metaRows(i)))
        mask(i) = tomb == null || !tomb.get(sd.ids(i)).exists(sd.times(i) <= _)
      i += 1
    }
    mask
  }

  private val KeySep = "\u0000"

  /** Canonical rendering of a plan-time literal shape — the
   * content-derived memo key fragment for the query-independent
   * per-segment masks (never a result key: it names the predicate, not
   * what it returned). Injective: every column name, type and value is
   * length-prefixed (null renders as a bare `n`, which no length prefix
   * starts with), entries are separated by `\u0000` and their count
   * leads, so no value's characters can shift a boundary (`IN ('a', 'b')`
   * never meets `IN ('a<sep>b')`), and types ride along so `1L` and `"1"`
   * cannot collide either. */
  private[store] def literalShapeKey(
      filters: Seq[(String, Seq[Any], org.apache.spark.sql.types.DataType)],
      ranges: Seq[RangeBound]): String = {
    def lp(x: Any): String = x match {
      case null => "n"
      case b: Array[Byte] => lp(b.mkString("[", ",", "]"))
      case v => val t = v.toString; s"${t.length}:$t"
    }
    val f = filters.map { case (c, vs, dt) =>
      s"${lp(c)}${lp(dt.catalogString)}=${vs.map(lp).mkString(",")}" }
    val r = ranges.map(b =>
      s"${lp(b.column)}${b.op}${lp(b.value)}${lp(b.vt.catalogString)}")
    val entries = f ++ r
    s"${entries.length}$KeySep${entries.mkString(KeySep)}"
  }

  /** Dedicated bounded pool for the warm-cache batch kernel. r16 fanned
   * batch kernels across `ExecutionContext.global` — the same default
   * pool concurrent statement planning lands on — and the r16 verdict
   * named that contention as a co-conspirator in the SQL serving
   * point's 3x run-to-run band. CPU-bound kernel work now runs on its
   * own fixed pool (cores - 2: leaves planning headroom), daemon
   * threads so it can never pin the JVM. */
  private lazy val exactKernelEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(
        math.max(2, Runtime.getRuntime.availableProcessors() - 2),
        new java.util.concurrent.ThreadFactory {
          private val n = new java.util.concurrent.atomic.AtomicInteger()
          def newThread(r: Runnable): Thread = {
            val t = new Thread(r, s"graft-exact-kernel-${n.incrementAndGet()}")
            t.setDaemon(true); t
          }
        }))

  /** The decoded-data + survival-mask skeleton of an admission-collapsed
   * literal plan — everything about the statement that does NOT depend
   * on the query vector, assembled from caches so a warm statement's
   * marginal cost is the kernel itself:
   *  - segment data via [[SegmentDataCache]] (immutable-path keyed);
   *  - tombstone map via [[tombstoneMapBounded]] (one FS listing,
   *    signature-keyed map reuse);
   *  - masks via each [[SegmentData]]'s own memo, keyed by (literal
   *    shape, tombstone signature) — see the field scaladoc for why
   *    staleness is impossible by construction.
   * None on any precondition miss (engine off, budget off, oversized
   * delete log, or — r16 verdict #7 — an admission whose decoded bytes
   * would exceed the cache budget: the statement must not pin more than
   * the engine is allowed to hold, so it falls back to the distributed
   * scan engine instead of risking the driver heap). */
  private def exactServeSkeleton(spark: SparkSession, dir: String,
      filters: Seq[(String, Seq[Any], org.apache.spark.sql.types.DataType)],
      ranges: Seq[RangeBound], snapshot: Option[Long],
      segs: Array[SegmentStats],
      // bytes the statement holds besides these segments (the in-process
      // graph route's routed sidecars), charged against the same budget
      extraBytes: Long = 0L)
      : Option[(Array[SegmentData], Array[Array[Boolean]])] = {
    if (!spark.conf.getOption(ExactServeLocalKey).forall(_.toBoolean))
      return None
    val budget = segmentCacheBudget(spark)
    if (budget <= 0) return None
    val tombBudget = spark.conf.getOption(TombstoneBroadcastMaxBytesKey)
      .map(_.toLong).getOrElse(TombstoneBroadcastMaxBytesDefault)
    val (tomb, tombSig) =
      tombstoneMapBounded(spark, dir, snapshot, tombBudget) match {
        case Some(x) => x
        case None => return None
      }
    // ADMITTED-BYTES precondition (r16 verdict #7): the statement holds
    // strong references to every admitted segment's decoded arrays for
    // its duration, so the admission itself must fit the cache budget —
    // exact bytes for already-resident entries, the on-disk estimate
    // ([[decodedBytesEstimate]]) for cold ones. A segment without a
    // centroid has no trustworthy catalog row: never admitted.
    if (segs.exists(_.centroid == null)) return None
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val est = extraBytes + segs.iterator.map { s =>
      SegmentDataCache.residentBytes(s.path)
        .getOrElse(decodedBytesEstimate(fs, s.path))
    }.sum
    if (est > budget) return None
    val datas = segs.map(s => SegmentDataCache.get(spark, s.path, budget))
    // predicate + tombstone masks are query-independent AND
    // statement-independent for an unchanged (literal shape, delete
    // log): one Catalyst evaluation pass per (segment generation,
    // shape), memoized on the SegmentData instance. r16 re-derived the
    // mask per statement — measured ~6% of serving thread time.
    val shapeKey =
      if (tombSig == null) null
      else literalShapeKey(filters, ranges) + KeySep + tombSig
    val masks = datas.map { sd =>
      if (shapeKey == null)
        localPredicateMask(spark, sd, filters, ranges, tomb)
      else sd.maskMemo.getOrElse(shapeKey, {
        if (sd.maskMemo.size > 16) sd.maskMemo.clear()
        val m = localPredicateMask(spark, sd, filters, ranges, tomb)
        sd.maskMemo.putIfAbsent(shapeKey, m)
        m
      })
    }
    Some((datas, masks))
  }

  /** The bounded-heap kernel over a resident skeleton: one result slot
   * per query, rows (qid, rn 1..k, id, dist) in ascending (dist, id)
   * within a slot — [[graft.functions.BoundedTopK]] through
   * [[graft.ops.Ann.offerBounded]], bit-identical distances, merge and
   * keyed-dedup contract to the distributed engine. A single query runs
   * inline on its client thread; a batch fans per-query kernels
   * (independent heaps, shared read-only masks/data) across the
   * dedicated [[exactKernelEc]] pool with slot-indexed assembly
   * (order-deterministic). The batch Await is FINITE
   * ([[ExactServeLocalTimeoutSecKey]]) — a fatally dying kernel thread
   * (OOM) degrades to the scan engine instead of hanging the statement
   * forever (r16 verdict #7); None = timed out / parallel path
   * disabled, caller falls back. */
  private def runExactKernel(spark: SparkSession,
      datas: Array[SegmentData], masks: Array[Array[Boolean]],
      qRows: Array[(Long, Array[Float], Long, Long)], k: Int,
      metric: Metric,
      // restrict the scan to rows whose id is in a candidate set (the
      // graph route's exact re-rank); null = every masked row
      keep: Long => Boolean = null)
      : Option[Array[Array[(Long, Int, Long, Double)]]] = {
    val distFn = Distances.forMetric(metric)
    val l2Abandon = metric == Metric.L2
    val results = new Array[Array[(Long, Int, Long, Double)]](qRows.length)
    val abort = new java.util.concurrent.atomic.AtomicBoolean(false)
    def runOne(qi: Int): Unit = {
      val (qid, qv, qtime, ttl) = qRows(qi)
      val h = new graft.functions.BoundedTopK(k)
      var si = 0
      while (si < datas.length) {
        if (abort.get()) return
        val sd = datas(si); val mask = masks(si)
        val n = sd.ids.length
        var i = 0
        while (i < n) {
          if (mask(i) && (keep == null || keep(sd.ids(i)))) {
            val ts = sd.times(i)
            if (ts >= qtime - ttl && ts <= qtime)
              graft.ops.Ann.offerBounded(h, qv, sd.vecs(i), sd.ids(i),
                l2Abandon, distFn)
          }
          i += 1
          if ((i & 4095) == 0 && abort.get()) return
        }
        si += 1
      }
      val (ids, ds) = h.drainSorted()
      results(qi) = Array.tabulate(ids.length)(j => (qid, j + 1, ids(j), ds(j)))
    }
    if (qRows.length <= 1) {
      if (qRows.length == 1) runOne(0)
      Some(results)
    } else {
      val timeoutSec = spark.conf.getOption(ExactServeLocalTimeoutSecKey)
        .map(_.toLong).getOrElse(ExactServeLocalTimeoutSecDefault)
      if (timeoutSec <= 0) return None
      if (runAbortable(qRows.length, timeoutSec, abort)(runOne)) Some(results)
      else {
        logger.warn(s"exact batch kernel missed its ${timeoutSec}s " +
          "bound; falling back to the distributed scan engine")
        None
      }
    }
  }

  /** Runs `body(i)` for every i in [0, n) on [[exactKernelEc]], waiting
   * at most `timeoutSec`. On timeout it raises `abort` and returns false:
   * tasks still queued skip their body, and running bodies poll `abort`
   * in their loops, so a batch nobody waits for any more frees the pool
   * instead of queueing the next statement's batch behind it. */
  private[store] def runAbortable(n: Int, timeoutSec: Long,
      abort: java.util.concurrent.atomic.AtomicBoolean)
      (body: Int => Unit): Boolean = {
    import scala.concurrent.{Await, Future}
    implicit val ec: scala.concurrent.ExecutionContext = exactKernelEc
    try {
      Await.result(
        Future.sequence((0 until n).map(i =>
          Future(if (!abort.get()) body(i)))),
        scala.concurrent.duration.Duration(timeoutSec,
          java.util.concurrent.TimeUnit.SECONDS))
      true
    } catch {
      case _: java.util.concurrent.TimeoutException =>
        abort.set(true)
        false
    }
  }

  /** The admission-collapsed literal plan served WITHOUT a per-statement
   * Spark job: the admitted segments (already bounded by
   * exactKernelSegments / exactKernelMaxRows) are decoded once into
   * [[SegmentDataCache]], and every statement runs the same bounded-heap
   * dedup-by-id kernel ([[graft.functions.BoundedTopK]] through
   * [[graft.ops.Ann.offerBounded]] — bit-identical distances, merge and
   * keyed-dedup contract) over the resident arrays. Returns None — the
   * caller falls back to the lazy distributed scan — when any
   * precondition fails:
   *  - the engine is disabled ([[ExactServeLocalKey]]) or the cache
   *    budget is <= 0;
   *  - the query set is not plan-time enumerable or exceeds
   *    [[ExactServeLocalMaxQueriesKey]] (memory here is bounded by
   *    |queries| x k result rows — an unbounded query batch must not
   *    collapse onto one process);
   *  - the delete log exceeds the tombstone broadcast budget (the local
   *    map would cost what the distributed anti-join refuses to ship).
   * Correctness-equivalent to the scan engine by construction: same
   * conservative admission set, same resolved predicate expression,
   * same EXISTS(del_ts >= eventTime) tombstone semantics, same kernel
   * code — gated bit-exact by knn_sql_rewrite_aligned_exact and
   * ExactServeLocalSpec. */
  private def serveExactFromMemory(spark: SparkSession, dir: String,
      queries: DataFrame, k: Int,
      filters: Seq[(String, Seq[Any], org.apache.spark.sql.types.DataType)],
      ranges: Seq[RangeBound], metric: Metric, snapshot: Option[Long],
      segs: Array[SegmentStats]): Option[DataFrame] = {
    import spark.implicits._
    val maxQ = spark.conf.getOption(ExactServeLocalMaxQueriesKey)
      .map(_.toInt).getOrElse(ExactServeLocalMaxQueriesDefault)
    val qRows = planTimeQueries(queries, maxQ) match {
      case Some(r) => r
      case None => return None
    }
    for {
      (datas, masks) <- exactServeSkeleton(spark, dir, filters, ranges,
        snapshot, segs)
      results <- runExactKernel(spark, datas, masks, qRows, k, metric)
    } yield results.iterator.flatMap(_.iterator).toSeq
      .toDF("qid", "rn", "id", "dist")
  }

  /** The per-column admission sets of a literal plan, intersected — ONE
   * copy shared by [[searchIndexedLiteralFiltered]] and the plan-time
   * direct path [[serveExactLiteralLocal]] so the two serving surfaces
   * can never disagree on what a literal admits. */
  private def literalAdmission(spark: SparkSession, dir: String,
      filters: Seq[(String, Seq[Any], org.apache.spark.sql.types.DataType)],
      ranges: Seq[RangeBound],
      cat: Array[SegmentStats]): Option[Set[Long]] =
    (filters
      .flatMap { case (f, vs, vt) =>
        admissibleIds(spark, dir, f, vs, vt, cat0 = cat) } ++
      ranges.groupBy(_.column).flatMap { case (f, bs) =>
        admissibleIdsRange(spark, dir, f, bs, cat0 = cat)
      })
      .reduceOption(_ intersect _)

  /** The admitted segments of an admission-COLLAPSED literal plan —
   * Some(segs, catalog order) exactly when the exact-kernel serving
   * decision fires (collapse to <= maxSegs segments, strictly fewer
   * than the catalog, <= maxRows total rows); None keeps the graph
   * probe path. The one copy of the eligibility predicate. */
  private def exactCollapse(cat: Array[SegmentStats],
      admissible: Option[Set[Long]], maxSegs: Int,
      maxRows: Long): Option[Array[SegmentStats]] =
    if (maxSegs <= 0) None
    else admissible.filter { a =>
      a.size <= maxSegs && a.size < cat.length &&
        cat.filter(s => a(s.segmentId)).map(_.count).sum <= maxRows
    }.map(a => cat.filter(s => a(s.segmentId)))

  /** PLAN-TIME in-process serving for the SQL rewrite
   * ([[graft.plans.KnnProbeRewrite]]): the registered probe for ONE
   * plan-time query, run on the calling thread over process-resident
   * data. Returns the top-k (id, dist) rows ascending (dist, id); the
   * rewrite splices them as one bare LocalRelation, so a warm statement
   * runs zero Spark jobs (r16 ProfileSqlServe measured the DataFrame
   * route's per-statement construction at ~37 ms single-thread, and the
   * distributed probe adds 7-13 jobs). The engine decision is the
   * distributed route's, unchanged:
   *  - an admission-COLLAPSED literal plan ([[exactCollapse]]) runs the
   *    warm memory kernel over [[SegmentDataCache]]-resident segments,
   *    as [[searchIndexedLiteralFiltered]]'s exact branch does;
   *  - every other shape runs the graph probe of [[searchIndexedFast]]
   *    (unfiltered) or [[searchIndexedLiteralFiltered]] (literal) over
   *    [[SidecarCache]] graphs — same freshness filter, admission set,
   *    linear route to `probeSegments`, probe depth, over-fetch and
   *    in-walk acceptance, and the same (dist, id) dedup-by-id merge.
   *    The unfiltered shape keeps the graph distances and drops
   *    tombstoned ids; the literal shape re-ranks exactly through
   *    [[exactServeSkeleton]] + [[runExactKernel]] restricted to the
   *    candidate ids — the predicate, versioned tombstones and distance
   *    kernel of [[rerankExact]] (a non-admitted segment's copy of a
   *    candidate id fails the predicate there, so skipping it is
   *    lossless).
   * None = the caller keeps the distributed plan, which re-derives the
   * same decision and answers identically. The graph route needs the
   * local engine on ([[ExactServeLocalKey]]), every in-window segment to
   * carry a centroid and a committed sidecar, the routed sidecars plus
   * any decoded segments to fit [[SegmentCacheBytesKey]], and the delete
   * log to fit the tombstone broadcast budget. Sets [[literalServedVia]]
   * (and, on the memory kernel, [[exactServedFrom]]) only when it serves
   * a literal plan. Bit-equality with the distributed route is gated by
   * KnnRewriteSpec and the knn_sql_rewrite* oracle entries. */
  private[graft] def serveLocal(spark: SparkSession, dir: String,
      qv: Array[Float], qtime: Long, ttl: Long, k: Int,
      filters: Seq[(String, Seq[Any], org.apache.spark.sql.types.DataType)],
      ranges: Seq[RangeBound], metric: Metric = Metric.L2,
      snapshot: Option[Long] = None, efSearch: Int = 64,
      probeSegments: Int = Int.MaxValue, shortlist: Int = 50,
      overfetch: Int = 4, inWalk: Boolean = false,
      exactKernelSegments: Int = 4, exactKernelMaxRows: Long = 1L << 20)
      : Option[Array[(Long, Double)]] = {
    val literal = filters.nonEmpty || ranges.nonEmpty
    if (k <= 0 || (literal && shortlist < k)) return None
    val cat = snapshot.map(v => catalogAt(spark, dir, v))
      .getOrElse(catalog(spark, dir))
    val admissible =
      if (literal) literalAdmission(spark, dir, filters, ranges, cat)
      else None
    val query = Array((0L, qv, qtime, ttl))
    def rows(results: Array[Array[(Long, Int, Long, Double)]]) =
      results(0).map { case (_, _, id, d) => (id, d) }
    if (literal) exactCollapse(cat, admissible, exactKernelSegments,
        exactKernelMaxRows) match {
      case Some(segs) =>
        if (segs.isEmpty) {
          // the distributed route's shared empty early-return
          literalServedVia.set("exact")
          return Some(Array.empty)
        }
        return for {
          (datas, masks) <- exactServeSkeleton(spark, dir, filters, ranges,
            snapshot, segs)
          results <- runExactKernel(spark, datas, masks, query, k, metric)
        } yield {
          literalServedVia.set("exact")
          exactServedFrom.set("memory")
          rows(results)
        }
      case None => ()
    }

    // ---- the graph route
    if (!spark.conf.getOption(ExactServeLocalKey).forall(_.toBoolean))
      return None
    val budget = segmentCacheBudget(spark)
    if (budget <= 0) return None
    val floor = qtime - ttl
    val fresh = cat.filter(s => s.maxTs >= floor && s.minTs <= qtime &&
      admissible.forall(_.contains(s.segmentId)))
    if (fresh.isEmpty) {
      if (literal) literalServedVia.set("probe")
      return Some(Array.empty)
    }
    if (fresh.exists(_.centroid == null)) return None
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fresh.forall(s => indexSealed(fs, s.path))) return None
    val chosen =
      if (probeSegments >= fresh.length) fresh.indices.toSet
      else linearRoute(qv, fresh.indices, fresh(_).centroid, probeSegments)
    val shards = fresh.indices.filter(chosen)
      .flatMap(si => sidecarShards(fs, fresh(si).path))
    val graphBytes = DecodeFactor * shards.map(_._2).sum
    val (conj, rangeConj) =
      if (literal && inWalk) inWalkConjuncts(spark, filters, ranges)
      else (null, null)
    // every routed graph's (id, dist) hits at probe depth `depth`
    def probe(depth: Int): Iterator[(Long, Double)] =
      shards.iterator.flatMap { case (path, _) =>
        val store = SidecarCache.get(path,
          spark.sparkContext.hadoopConfiguration, efSearch)
        if (conj == null) store.search(qv, depth, floor, qtime).iterator
        else {
          val cnt = store.countMatchingConj(conj, rangeConj)
          if (cnt == 0) Iterator.empty
          else store.searchFilteredConj(qv, depth, floor, qtime, conj,
            rangeConj, precount = cnt).iterator
        }
      }
    if (!literal) {
      if (graphBytes > budget) return None
      val tombBudget = spark.conf.getOption(TombstoneBroadcastMaxBytesKey)
        .map(_.toLong).getOrElse(TombstoneBroadcastMaxBytesDefault)
      val tomb = tombstoneMapBounded(spark, dir, snapshot, tombBudget) match {
        case Some((m, _)) => m
        case None => return None
      }
      val h = new graft.functions.BoundedTopK(k)
      probe(math.max(k, shortlist)).foreach { case (id, d) =>
        if (tomb == null || !tomb.contains(id)) h.offer(d, id)
      }
      val (ids, ds) = h.drainSorted()
      Some(Array.tabulate(ids.length)(j => (ids(j), ds(j))))
    } else {
      val depth = shortlist *
        literalOverfetch(spark, dir, filters, ranges, overfetch, inWalk, cat)
      for {
        (datas, masks) <- exactServeSkeleton(spark, dir, filters, ranges,
          snapshot, fresh, extraBytes = graphBytes)
        cands = {
          val c = scala.collection.mutable.LongMap.empty[Unit]
          probe(depth).foreach { case (id, _) => c.update(id, ()) }
          c
        }
        results <- runExactKernel(spark, datas, masks, query, k, metric,
          keep = cands.contains)
      } yield {
        literalServedVia.set("probe")
        rows(results)
      }
    }
  }

  /** The shortlist over-fetch factor of a literal-filtered graph probe
   * — one copy shared by [[searchIndexedLiteralFiltered]] and
   * [[serveLocal]], so both probe to the same depth. */
  private def literalOverfetch(spark: SparkSession, dir: String,
      filters: Seq[(String, Seq[Any], org.apache.spark.sql.types.DataType)],
      ranges: Seq[RangeBound], overfetch: Int, inWalk: Boolean,
      cat: Array[SegmentStats]): Int = {
    // histogram-driven shortlist sizing: the graph walk is
    // filter-oblivious, so ~shortlist SURVIVING candidates require a
    // 1/selectivity over-fetch — estimated per column from the
    // attr-stats histograms (independence across columns), with the
    // registered static factor as the floor and MaxAdaptiveOverfetch
    // as the cap. A 1% label no longer needs the operator to have
    // guessed filterOverfetch = 100 at registration time.
    // lazy: the in-walk branch never sizes an over-fetch, so it must not
    // pay the per-plan attr-stats loads the estimate costs
    lazy val selectivity = (filters.map { case (f, vs, _) =>
      estimateSelectivity(spark, dir, f,
        vs.map {
          case n: java.lang.Number => n.doubleValue()
          case _ => Double.NaN
        }, Double.NaN, Double.NaN, cat0 = cat)
    } ++ ranges.groupBy(_.column).map { case (f, bs) =>
      val (lo, hi) = closedHull(bs)
      estimateSelectivity(spark, dir, f, Nil, lo, hi, cat0 = cat)
    }).flatten.reduceOption(_ * _)
    // a tz-dependent equality/IN conjunct or a non-numeric range bound
    // cannot filter in-walk — keep the full adaptive over-fetch then
    val walkable = filters.forall(f => !tzDependent(f._3)) &&
      ranges.forall(b => !b.asDouble.isNaN)
    // the in-walk promise is only as good as the sealed payload: with a
    // wrong registration or stripped sidecars, dropping the over-fetch
    // would collapse recall silently with no safety net and no
    // diagnostic (the r13 advice). Check the attrs markers of the
    // committed sidecars (catalog-bounded metadata reads); if any lacks
    // a walkable column, keep the adaptive over-fetch as the net and
    // warn — the walk still filters wherever the payload exists.
    val payloadOk = !inWalk || !walkable || {
      val needed = (filters.filterNot(f => tzDependent(f._3)).map(_._1) ++
        ranges.map(_.column)).distinct
      val ok = inWalkPayloadPresent(spark, dir, needed, cat)
      if (!ok) logger.warn(s"searchIndexedLiteralFiltered($dir): inWalk " +
        s"requested but the sidecar payload for ${needed.mkString(", ")} " +
        "is missing on at least one indexed segment — keeping the " +
        "adaptive over-fetch as the recall safety net")
      ok
    }
    if (inWalk && walkable && payloadOk) 1
    else adaptiveOverfetch(overfetch, selectivity)
  }

  /** LITERAL-filtered sidecar search for plan-time rewrites — the
   * IN-list and multi-column-conjunction shapes (`WHERE label IN (...)
   * AND region = 'x' ORDER BY dist LIMIT k`) where every filter value
   * is known at plan time. Same composition as
   * [[searchIndexedFiltered]] (over-fetched filter-oblivious graph
   * shortlist → candidate-bounded hydration under the predicate), but:
   *  - segment admission is MULTI-VALUE ([[admissibleIds]]): with a
   *    [[sealAttrStats]] sidecar, a segment survives when its [min,max]
   *    admits at least one IN value, and per-column sets INTERSECT
   *    (conjunction) — one admission set per plan, zero per-query cost;
   *  - hydration applies the full literal predicate (any-of per column,
   *    AND across columns) through [[filterEquality]].
   * `filters`: one entry per column — (column, values, value type). */
  def searchIndexedLiteralFiltered(spark: SparkSession, dir: String,
      queries: DataFrame, k: Int,
      filters: Seq[(String, Seq[Any], org.apache.spark.sql.types.DataType)],
      metric: Metric = Metric.L2, shortlist: Int = 50,
      efSearch: Int = 64, probeSegments: Int = Int.MaxValue,
      overfetch: Int = 4, routeEf: Int = 0,
      // plan-time literal RANGE conjuncts (`score >= a AND score < b`,
      // BETWEEN): admission via the closed hull per column
      // ([[admissibleIdsRange]]), hydration re-applies each conjunct
      // exactly. Conjoins with `filters` (AND).
      ranges: Seq[RangeBound] = Nil,
      // serve the literal conjuncts IN-WALK (the ACORN acceptance
      // filter): equality/IN conjuncts test sealed hashes
      // ([[probeCandidates]] inWalkLiterals), numeric range conjuncts
      // test sealed canonical values against their closed hull
      // ([[probeCandidates]] inWalkRanges; format v3). Requires sidecars
      // sealed with the filter columns for full effect (shards without
      // the payload fall back per shard — correctness never depends on
      // it, the exact re-rank applies the true predicate either way).
      // Fully walk-evaluable plans drop the over-fetch entirely; a plan
      // with a NON-numeric range literal (hull unevaluable in-walk)
      // keeps the full adaptive over-fetch — the walk only ever helps.
      inWalk: Boolean = false,
      // time travel: admission, probe and hydration all plan over the
      // snapshot-pinned catalog/tombstones (attr-stats sidecars are
      // per-segment and segments are immutable, so live stats rows stay
      // valid for pinned segments; a pinned segment missing from the
      // refreshed stats simply never prunes — conservative)
      snapshot: Option[Long] = None,
      // EXACT-KERNEL serving decision (r14 verdict #3): when plan-time
      // admission collapses the literal plan to at most this many
      // segments — strictly fewer than the catalog, so the attr-stats
      // sidecar genuinely pruned (an attr-ALIGNED tier) — the call is
      // served LOSSLESSLY by a predicate-filtered scan of just those
      // segments through the bounded-heap bf kernel instead of any
      // graph probe: admission already bounds the scan to
      // ~|admitted|/|catalog| of the tier, and on the converged layout
      // the exact kernel dominates the probe on BOTH axes (r14 10x:
      // recall 1.0 at ~200 q/s vs 0.9468 at ~32 q/s static / 0.67 at
      // ~40 q/s in-walk-96). A row guard keeps the path off degenerate
      // layouts (one huge admitted segment). <= 0 disables the fast
      // path. Which kernel served is observable via
      // [[literalServedVia]].
      exactKernelSegments: Int = 4,
      // row bound for the exact-kernel decision: the admitted segments'
      // total row count must stay under it (default 2^20 — at 128-dim
      // that is the work of a few graph probes per query)
      exactKernelMaxRows: Long = 1L << 20): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist < k $k")
    require(filters.nonEmpty || ranges.nonEmpty,
      "searchIndexedLiteralFiltered: no filters given")
    require(filters.forall(_._2.nonEmpty),
      "searchIndexedLiteralFiltered: each filter needs >= 1 value")
    require(filters.map(_._1).distinct.length == filters.length,
      "searchIndexedLiteralFiltered: one entry per column")
    // one catalog read for both admission math and selectivity
    val cat = snapshot.map(v => catalogAt(spark, dir, v))
      .getOrElse(catalog(spark, dir))
    val admissible = literalAdmission(spark, dir, filters, ranges, cat)
    // the exact-kernel fast path (param scaladoc above): admission
    // strictly narrowed the catalog to a tiny segment set with a
    // bounded row count. Any literal shape is servable — the executor
    // below applies the FULL conjunction (equality, IN, ranges incl.
    // strict bounds, tz-dependent columns) through literalPredicate,
    // and admission from the collapsing column stays conservative for
    // the others — so eligibility is purely the admission collapse.
    val exactEligible =
      exactCollapse(cat, admissible, exactKernelSegments,
        exactKernelMaxRows).isDefined
    if (exactEligible) {
      literalServedVia.set("exact")
      import spark.implicits._
      val admitted = admissible.get
      val segs = cat.filter(s => admitted(s.segmentId))
      if (segs.isEmpty)
        return spark.emptyDataset[(Long, Int, Long, Double)]
          .toDF("qid", "rn", "id", "dist")
      // FIRST choice: the process-local kernel over warm cached
      // segments — zero Spark jobs per statement once the admitted
      // segments are resident (r15 measured the per-statement scan-job
      // dispatch, not the plan, as the serving bottleneck: 8.7-20 q/s
      // where the kernel's own work is milliseconds). Falls through on
      // any precondition miss (disabled, non-plan-time query set,
      // oversized delete log) — see [[serveExactFromMemory]].
      serveExactFromMemory(spark, dir, queries, k, filters, ranges,
          metric, snapshot, segs) match {
        case Some(df) => exactServedFrom.set("memory"); return df
        case None => exactServedFrom.set("scan")
      }
      // FALLBACK: the LEAN lazy distributed plan, not the wave
      // machinery: the literal is a PLAN constant shared by every
      // query, so the predicate-filtered scan of the admitted segments
      // IS each query's full candidate set — push the literal to the
      // parquet scan (PushedFilters + row-group pruning on an aligned
      // tier) and run the bounded-heap bf kernel over the survivors.
      // Zero plan-time Spark jobs (search()'s wave planning runs ~5
      // eager driver actions per call — measured 3.5 q/s through 512
      // concurrent spark.sql statements), row-level freshness inside
      // the kernel, dedup-by-id heap (fd22412), the same (dist, id)
      // merge contract. Exact by construction: admission is
      // conservative (mayMatch superset), tombstones anti-join before
      // the kernel. QUERY-BROADCAST contract (shared with every
      // serving path in this object, see probeCandidates): bruteForce
      // collects the query set to the driver and broadcasts it — the
      // query side must be batch-bounded, the corpus side streams.
      val paths = segs.map(_.path)
      val raw = applyTombstonesFor(spark, dir, snapshot,
        spark.read.parquet(paths.toIndexedSeq: _*))
      return graft.ops.Ann.bruteForce(
        raw.where(literalPredicate(raw, filters, ranges))
          .select(col("id"), col("vec"), col("eventTime")),
        queries, k, metric)
    }
    literalServedVia.set("probe")
    val effOverfetch = literalOverfetch(spark, dir, filters, ranges,
      overfetch, inWalk, cat)
    rerankExact(spark, dir,
      probeCandidates(spark, dir, queries,
        shortlist * effOverfetch, metric, efSearch,
        probeSegments, routeEf, admissible = admissible,
        inWalkLiterals = if (inWalk) filters else Nil,
        inWalkRanges = if (inWalk) ranges else Nil,
        snapshot = snapshot),
      queries, k, metric, literalFilters = filters, literalRanges = ranges,
      snapshot = snapshot)
  }

  /** Exact re-rank of a (qid, id) candidate set against the raw segments:
   * vector IO only for candidate ids, per-query freshness re-applied,
   * oracle-kernel distances — shared by [[searchIndexed]] and the gated
   * replay entries.
   *
   * @param filterColumn attribute-filtered re-rank (the filtered-ANN
   *        hydration step): queries must carry a `qfilter` column and
   *        only candidate rows whose sealed `filterColumn` attribute
   *        equals the query's qfilter survive the re-rank. Hydration
   *        stays candidate-bounded — the attribute is read only for
   *        shortlisted ids, riding the same broadcast candidate join.
   * @param literalFilters plan-time literal predicate (the SQL rewrite's
   *        IN-list / multi-column WHERE shapes): each `(column, values,
   *        valueType)` keeps a row only when the sealed attribute equals
   *        AT LEAST ONE of the values (any-of), and entries conjoin
   *        (AND across columns). Equality goes through [[filterEquality]]
   *        — the same comparison rule as every other filtered surface.
   *        Orthogonal to `filterColumn` (per-QUERY filter values). */
  def rerankExact(spark: SparkSession, dir: String, candidates: DataFrame,
      queries: DataFrame, k: Int, metric: Metric = Metric.L2,
      filterColumn: Option[String] = None,
      // per-query IN re-rank (requires filterColumn): queries carry a
      // `qfin` ARRAY column and a candidate row survives when the sealed
      // attribute equals ANY element (null-rejecting, SQL IN semantics —
      // the same filterEquality coercion per value). The qfin shape of
      // the qfilter equality above.
      filterIn: Boolean = false,
      literalFilters: Seq[(String, Seq[Any],
        org.apache.spark.sql.types.DataType)] = Nil,
      // plan-time literal RANGE conjuncts — each re-applied exactly as
      // a Spark Column comparison (the same coercion the exact plan the
      // rewrite replaced would apply); conjoins with everything else
      literalRanges: Seq[RangeBound] = Nil,
      // callers that already planned the segment set (the compressed
      // scans) pass it here — skips a second catalog FS listing +
      // parquet read per call. Restricting it below the full catalog is
      // on the caller: a window- or admission-filtered set is lossless
      // (out-of-window versions can't score; a non-admitted segment's
      // version of a candidate id fails the filter at hydration).
      cat0: Array[SegmentStats] = null,
      // time travel: hydrate against the catalog/tombstones pinned by
      // snapshot version `v` (ignored when cat0 is supplied — the
      // caller already planned the pinned set)
      snapshot: Option[Long] = None): DataFrame = {
    import spark.implicits._
    require(!filterIn || filterColumn.isDefined,
      "rerankExact: filterIn requires filterColumn")
    val q = queries.select(Seq("qid", "qv", "qtime", "ttl").map(col) ++
      (if (filterIn) Seq(col("qfin"))
       else filterColumn.map(_ => col("qfilter")).toSeq): _*)
    val w = freshnessWindow(q)
    val segs = if (cat0 != null) cat0
      else snapshot.map(v => catalogAt(spark, dir, v))
        .getOrElse(catalog(spark, dir))
    val fresh = w match {
      case None => Array.empty[SegmentStats]
      case Some((lo, hi)) =>
        segs.filter(s => s.maxTs >= lo && s.minTs <= hi)
    }
    if (fresh.isEmpty)
      return spark.emptyDataset[(Long, Int, Long, Double)]
        .toDF("qid", "rn", "id", "dist")
    // tombstones apply here too: a sidecar graph may shortlist a deleted
    // id (graphs are immutable after seal) — it dies at the re-rank
    val raw = applyTombstonesFor(spark, dir, snapshot,
      spark.read.parquet(fresh.map(_.path).toIndexedSeq: _*))
      .select((Seq("id", "vec", "eventTime") ++ filterColumn ++
        literalFilters.map(_._1) ++ literalRanges.map(_.column))
        .distinct.map(col): _*)
    val literalPred = literalPredicate(raw, literalFilters, literalRanges)
    val probeQ = q.select(Seq(col("qid"), col("qv"),
      (col("qtime") - col("ttl")).as("floor_ts"),
      col("qtime").as("ceil_ts")) ++
      (if (filterIn) Seq(col("qfin"))
       else filterColumn.map(_ => col("qfilter")).toSeq): _*)
    val topkUdaf = udaf(new TopKAggregator(k),
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble))
    val qPred = filterColumn.map { f =>
      if (filterIn) {
        val elemT = q.schema("qfin").dataType
          .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
        exists(col("qfin"), v => filterEquality(col(f), v,
          raw.schema(f).dataType, elemT))
      } else filterEquality(col(f), col("qfilter"),
        raw.schema(f).dataType, q.schema("qfilter").dataType)
    }.getOrElse(lit(true))
    raw.join(broadcast(candidates.select("qid", "id").distinct()), "id")
      .join(broadcast(probeQ), "qid")
      .where(col("eventTime") >= col("floor_ts") &&
        col("eventTime") <= col("ceil_ts") && qPred && literalPred)
      .select(col("qid"), col("id"),
        Distances.forMetric(metric, col("qv"), col("vec")).as("dist"))
      .groupBy("qid").agg(topkUdaf(col("id"), col("dist")).as("topk"))
      .select(col("qid"), posexplode(arrays_zip(col("topk.ids").as("id"),
        col("topk.dists").as("dist"))))
      .select(col("qid"), (col("pos") + 1).as("rn"),
        col("col.id").as("id"), col("col.dist").as("dist"))
  }

  /** Compressed-domain cold search: the scan wave reads the SQ8 code
   * segments of every fresh segment (the cold tier is IO-bound — the
   * compression factor is the speedup), selects a per-query `shortlist`
   * on dequantized-L2, then re-ranks ONLY the shortlisted (query, id)
   * pairs against the raw segments — the IVFADC+R composition applied to
   * sealed cold data. Row-level freshness applies in the scan join
   * (plus Parquet row-group stats); segment-level freshness uses the
   * catalog against the query set's overall window. Dequantization is
   * once per scanned row (not per pair), so the whole scan stays in the
   * broadcast-join + partial top-k shape of the exact path — queries are
   * never collected to the driver. Approximate by construction (the
   * quantized metric picks the shortlist); the exact re-rank restores
   * recall. L2 only.
   */
  def searchCompressed(spark: SparkSession, dir: String, queries: DataFrame,
      k: Int, model: graft.ops.Sq.SqModel, shortlist: Int = 50,
      // ATTRIBUTE-filtered compressed scan: the code scan stays
      // filter-oblivious (code companions carry no attributes), so the
      // shortlist is over-fetched by `overfetch` and the equality is
      // applied at the exact re-rank (candidate-bounded hydration, the
      // same composition as the filtered indexed path). Queries must
      // carry a `qfilter` column; with a sealAttrStats sidecar,
      // segments admitting NONE of the query set's filter values are
      // dropped before any code IO (union admission — lossless).
      filterColumn: Option[String] = None, overfetch: Int = 4)
      : DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist < k $k")
    import spark.implicits._
    val segs = catalog(spark, dir)
    val q = queries.select(Seq("qid", "qv", "qtime", "ttl").map(col) ++
      filterColumn.map(_ => col("qfilter")): _*)
    // segment-level freshness vs the query set's overall window (driver
    // work bounded by catalog size + one 2-value aggregate)
    val w = freshnessWindow(q)
    val fresh0 = w match {
      case None => Array.empty[SegmentStats]
      case Some((lo, hi)) =>
        segs.filter(s => s.maxTs >= lo && s.minTs <= hi)
    }
    val fresh = unionAdmissible(spark, dir, filterColumn, q, fresh0)
    if (fresh.isEmpty)
      return spark.emptyDataset[(Long, Int, Long, Double)]
        .toDF("qid", "rn", "id", "dist")
    // fail fast with segment names if any fresh segment lacks its code
    // companion (sealed raw-only, or sealed under an older quantizer) —
    // otherwise the multi-path parquet read dies mid-scan with an opaque
    // path error
    val hconf = spark.sparkContext.hadoopConfiguration
    val missingCodes = fresh.filterNot { s =>
      val p = new org.apache.hadoop.fs.Path(s"${s.path}-codes")
      p.getFileSystem(hconf).exists(p)
    }
    require(missingCodes.isEmpty,
      s"searchCompressed: fresh segment(s) without SQ8 code companions: " +
        missingCodes.map(_.path).mkString(", ") +
        " — run ColdTier.sealCodes(segmentId, model) for each, or use " +
        "ColdTier.search for the raw-vector scan")
    val bm = spark.sparkContext.broadcast(model)
    val dequant = udf((codes: Seq[Int]) => {
      val m = bm.value
      Array.tabulate(m.dim)(d => m.recon(d, codes(d)))
    })
    // tombstones pre-shortlist, so deleted rows never consume slots
    val codeScan = applyTombstones(spark, dir, spark.read
      .parquet(fresh.map(s => s"${s.path}-codes").toIndexedSeq: _*))
      .select(col("id"), dequant(col("codes")).as("vec"), col("eventTime"))
    val probeQ = q.select(col("qid"), col("qv"),
      (col("qtime") - col("ttl")).as("floor_ts"), col("qtime").as("ceil_ts"))
    val approx = codeScan.join(broadcast(probeQ),
        col("eventTime") >= col("floor_ts") && col("eventTime") <= col("ceil_ts"))
      .select(col("qid"), col("id"),
        Distances.l2(col("qv"), col("vec")).as("dist"))
    val effShort =
      if (filterColumn.isEmpty) shortlist
      else shortlist * math.max(1, overfetch)
    val shortUdaf = udaf(new TopKAggregator(effShort),
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble))
    val short = approx.groupBy("qid")
      .agg(shortUdaf(col("id"), col("dist")).as("topk"))
      .select(col("qid"), explode(col("topk.ids")).as("id"))
    if (filterColumn.isDefined)
      // filtered hydration through the shared re-rank (the equality
      // goes through filterEquality — identical to every other
      // filtered surface); the unfiltered path below stays byte-equal
      // to the pre-filter formulation. The admission-filtered segment
      // set is passed through — lossless (see rerankExact's cat0 doc)
      // and skips a duplicate catalog read
      return rerankExact(spark, dir, short, q, k, Metric.L2,
        filterColumn = filterColumn, cat0 = fresh)
    // exact re-rank: raw-vector IO only for shortlisted ids, per-query
    // freshness re-applied (an id can appear in several segments under
    // different timestamps — only in-window versions may score)
    val raw = spark.read.parquet(fresh.map(_.path).toIndexedSeq: _*)
      .select(col("id"), col("vec"), col("eventTime"))
    val topkUdaf = udaf(new TopKAggregator(k),
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble))
    raw.join(broadcast(short), "id")
      .join(broadcast(probeQ), "qid")
      .where(col("eventTime") >= col("floor_ts") &&
        col("eventTime") <= col("ceil_ts"))
      .select(col("qid"), col("id"),
        Distances.l2(col("qv"), col("vec")).as("dist"))
      .groupBy("qid").agg(topkUdaf(col("id"), col("dist")).as("topk"))
      .select(col("qid"), posexplode(arrays_zip(col("topk.ids").as("id"),
        col("topk.dists").as("dist"))))
      .select(col("qid"), (col("pos") + 1).as("rn"),
        col("col.id").as("id"), col("col.dist").as("dist"))
  }

  /** IVFADC+R over the sealed tier — the PQ (32×) sibling of
   * [[searchCompressed]]: the scan wave reads only the PQ code companions
   * of every fresh segment, scores them through per-partition ADC
   * lookup tables + bounded (dist, id) max-heaps (the [[graft.ops.Pq]]
   * kernel, never a join-row per pair), applies per-query freshness
   * inside the kernel and tombstones pre-shortlist, then exactly
   * re-ranks ONLY the shortlisted ids against the raw segments via
   * [[rerankExact]]. With every segment in-window this is bit-equal to
   * `Pq.searchReranked` over the same codes — an independent execution
   * path against the same oracle. L2 only (ADC tables are L2). */
  def searchCompressedPq(spark: SparkSession, dir: String,
      queries: DataFrame, k: Int, model: graft.ops.Pq.PqModel,
      shortlist: Int = 50,
      // same filtered composition as [[searchCompressed]]: over-fetched
      // filter-oblivious ADC shortlist, union-admission segment
      // pruning, equality at the exact re-rank
      filterColumn: Option[String] = None, overfetch: Int = 4)
      : DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist < k $k")
    import spark.implicits._
    val segs = catalog(spark, dir)
    val q = queries.select(Seq("qid", "qv", "qtime", "ttl").map(col) ++
      filterColumn.map(_ => col("qfilter")): _*)
    val w = freshnessWindow(q)
    val fresh0 = w match {
      case None => Array.empty[SegmentStats]
      case Some((lo, hi)) =>
        segs.filter(s => s.maxTs >= lo && s.minTs <= hi)
    }
    val fresh = unionAdmissible(spark, dir, filterColumn, q, fresh0)
    if (fresh.isEmpty)
      return spark.emptyDataset[(Long, Int, Long, Double)]
        .toDF("qid", "rn", "id", "dist")
    val hconf = spark.sparkContext.hadoopConfiguration
    val missingCodes = fresh.filterNot { s =>
      val p = new org.apache.hadoop.fs.Path(s"${s.path}-pqcodes")
      p.getFileSystem(hconf).exists(p)
    }
    require(missingCodes.isEmpty,
      s"searchCompressedPq: fresh segment(s) without PQ code companions: " +
        missingCodes.map(_.path).mkString(", ") +
        " — run ColdTier.sealPqCodes(segmentId, model) for each")
    // query-broadcast contract: qid-keyed query block resident per task
    val qArr = q.select(col("qid"), col("qv"), col("qtime"), col("ttl"))
      .as[(Long, Array[Float], Long, Long)].collect()
    val bq = spark.sparkContext.broadcast(qArr)
    val bm = spark.sparkContext.broadcast(model)
    val sl =
      if (filterColumn.isEmpty) shortlist
      else shortlist * math.max(1, overfetch)
    // tombstones pre-shortlist, so deleted rows never consume slots;
    // per-partition ADC partials merge to the GLOBAL top-`shortlist`
    // exactly as Pq.search does — the shortlist set must be identical to
    // the flat-code pipeline's for the bit-equality claim to hold
    val partials = applyTombstones(spark, dir, spark.read
        .parquet(fresh.map(s => s"${s.path}-pqcodes").toIndexedSeq: _*))
      .select(col("id"), col("codes"), col("eventTime"))
      .as[(Long, Array[Int], Long)]
      .mapPartitions { it =>
        val m = bm.value
        val qs = bq.value
        if (!it.hasNext || qs.isEmpty) Iterator.empty
        else {
          val tables = qs.map(qr => m.adcTable(qr._2))
          val heaps = Array.fill(qs.length)(
            new graft.functions.BoundedTopK(sl))
          while (it.hasNext) {
            val (id, cs, ts) = it.next()
            var qi = 0
            while (qi < qs.length) {
              val qr = qs(qi)
              if (ts >= qr._3 - qr._4 && ts <= qr._3)
                heaps(qi).offer(m.adcDistance(tables(qi), cs), id)
              qi += 1
            }
          }
          Iterator.range(0, qs.length).flatMap { qi =>
            val (ids, ds) = heaps(qi).drainSorted()
            if (ids.isEmpty) Iterator.empty
            else Iterator.single(graft.ops.Ann.PartialList(qs(qi)._1, ids, ds))
          }
        }
      }
    val short = graft.ops.Ann.mergePartialLists(partials.toDF(), sl)
      .select(col("qid"), col("id"))
    rerankExact(spark, dir, short, q, k, Metric.L2,
      filterColumn = filterColumn, cat0 = fresh)
  }

  /** Segments of `fresh0` admitting AT LEAST ONE of the query set's
   * filter values ([[admissibleIds]] union semantics over the distinct
   * `qfilter` values — queries are broadcast-small by contract, so the
   * distinct collect is query-bounded). No filter, no sidecar, or a
   * type-mismatched sidecar keeps every segment. Lossless: a dropped
   * segment provably matches NO query's filter. */
  private[store] def unionAdmissible(spark: SparkSession, dir: String,
      filterColumn: Option[String], q: DataFrame,
      fresh0: Array[SegmentStats]): Array[SegmentStats] =
    filterColumn match {
      // sidecar existence first: without one the distinct+collect job
      // over the query set would be paid and then discarded
      case Some(f) if fresh0.nonEmpty &&
          loadAttrStats(spark, dir, f).isDefined =>
        val vt = q.schema("qfilter").dataType
        val vals = q.select(col("qfilter")).distinct()
          .collect().map(_.get(0)).toSeq
        admissibleIds(spark, dir, f, vals, vt, cat0 = fresh0) match {
          case Some(ids) => fresh0.filter(s => ids(s.segmentId))
          case None => fresh0
        }
      case _ => fresh0
    }

  /** Search the cold tier: per-query segment pruning (freshness window +
   * distance lower bound), hot-first two-wave scan, single top-k merge.
   *
   * @param queries (qid, qv, qtime, ttl) — stays distributed throughout
   * @param firstWaveFraction fraction of candidate segments searched
   *        unconditionally, hottest (nearest centroid) first — the
   *        reference's termination_lower_bound
   * @param terminationFactor multiplier on the wave-1 kth distance used to
   *        skip remaining segments; 1.0 = lossless (triangle inequality),
   *        lower = more aggressive (reference termination_factor 0.8,
   *        vector_options.h:79-96). Only applied for L2 (see class doc);
   *        a query whose wave 1 returned fewer than k rows never sets a
   *        per-query threshold (an under-filled wave underestimates the
   *        kth distance).
   * @param ewmaThreshold learned kth-distance EWMA ([[learnThreshold]]).
   *        In approximate mode (factor < 1.0) it is the fallback skip
   *        threshold for queries with no per-query threshold — the
   *        reference's adaptive termination (version_set.cc:2689-2698).
   *        Ignored in lossless mode, which stays provably exact.
   * @param filterColumn attribute-filtered search (the Milvus/Qdrant
   *        "filtered ANN" surface, cold-tier flavor): name of a segment
   *        attribute column (sealed alongside the core four — see
   *        [[coreColumns]]); queries must then carry a `qfilter` column
   *        and only rows with `attribute === qfilter` are candidates.
   *        The qfilter value rides the broadcast probe tuple into the
   *        bounded-heap scan kernel — one equality branch per (row,
   *        query) next to the freshness bounds, no join, no extra
   *        shuffle — and the attribute column (dictionary-encoded
   *        ints/strings) is the only additional IO. Wave pruning stays
   *        LOSSLESS under a
   *        filter: segment lower bounds computed on the full segment
   *        also bound its filtered subset, and a wave-1 top-k with fewer
   *        than k filtered hits sets no threshold (scans everything).
   *        When a [[sealAttrStats]] sidecar exists for the column, probe
   *        planning additionally DROPS segments whose attribute
   *        [min,max] cannot admit the query's qfilter — with a
   *        label-aligned seal ([[recluster]] keeps attributes) this is
   *        real partition pruning: zero IO for non-matching segments,
   *        still lossless (a pruned segment provably holds no
   *        equality-matching row).
   */
  def search(spark: SparkSession, dir: String, queries: DataFrame, k: Int,
      metric: Metric = Metric.L2,
      firstWaveFraction: Double = 0.3,
      terminationFactor: Double = 1.0,
      ewmaThreshold: Option[Double] = None,
      snapshot: Option[Long] = None,
      filterColumn: Option[String] = None,
      // RANGE-filtered search (`attribute BETWEEN qlo AND qhi`, numeric
      // only — the price-band / score-band / recency-band production
      // shape): queries carry `qflo`/`qfhi` columns instead of
      // `qfilter`, both cast to double, and only rows with
      // qflo <= attribute <= qhi are candidates (closed interval, SQL
      // BETWEEN; a null/NaN bound matches nothing, like SQL's
      // null-rejecting BETWEEN). The bounds ride the broadcast probe
      // tuple into the same bounded-heap kernel — two compares per
      // (row, query) instead of one equality — and when a sealAttrStats
      // sidecar exists, probe planning drops segments whose [min,max]
      // cannot OVERLAP the query's interval (lossless; conservative
      // exactly like the equality admission).
      filterRange: Boolean = false,
      // IN-LIST-filtered search (`attribute IN (...)`, per-QUERY value
      // sets — the hot streaming attrIn channel's cold twin): queries
      // carry a `qfin` ARRAY column instead of `qfilter`. Served by the
      // SAME equality kernel — each query decomposes into one equality
      // probe row per distinct IN value (a matching row's attribute
      // equals exactly one value, so merging the per-value exact top-ks
      // by qid is exact), segment admission applies per value (the
      // attr-stats sidecar prunes segments no value admits), and the
      // per-(query, segment) probe set is deduplicated so no segment
      // row is scanned twice for one query. A null/empty qfin matches
      // nothing (SQL's vacuous IN). Wave pruning stays LOSSLESS: the
      // per-query threshold is the kth distance of the merged-so-far
      // top-k, a true upper bound for every value's remaining segments.
      filterIn: Boolean = false,
      // when set, filled with probe-plan instrumentation (catalog-bounded
      // counts, two extra tiny actions): wave1_probes, wave2_planned,
      // wave2_scanned — the early-termination evidence (segments skipped
      // = planned - scanned)
      searchStats: Option[scala.collection.mutable.Map[String, Long]] = None)
      : DataFrame = {
    import spark.implicits._
    // filterRange only changes HOW filterColumn is compared (band vs
    // equality); without a column to compare against, the planning would
    // silently take the unfiltered path and drop the band — loud > wrong
    require(!filterRange || filterColumn.isDefined,
      "filterRange = true requires filterColumn (the attribute the " +
        "[qflo, qfhi] band applies to)")
    require(!filterIn || filterColumn.isDefined,
      "filterIn = true requires filterColumn (the attribute the qfin " +
        "value set applies to)")
    require(!(filterIn && filterRange),
      "filterIn and filterRange are mutually exclusive query shapes")
    // `snapshot` = time travel: plan over the pinned catalog and the
    // pinned tombstone rows instead of the live ones — mutations sealed
    // after [[ColdTier.snapshot]] (flushes, deletes, compactions) are
    // invisible to this read
    val segs = snapshot.map(v => catalogAt(spark, dir, v))
      .getOrElse(catalog(spark, dir))
    val bSegs = spark.sparkContext.broadcast(segs)
    val prune = metric == Metric.L2

    // filterIn decomposes HERE: one equality row per (query, distinct IN
    // value) — everything downstream is the plain equality path, working
    // per value; the probe dedup below and the by-qid merges make the
    // recomposition exact (see the filterIn param note)
    val q =
      if (filterIn)
        queries.select(col("qid"), col("qv"), col("qtime"), col("ttl"),
          explode(array_distinct(col("qfin"))).as("qfilter"))
      else queries.select(Seq("qid", "qv", "qtime", "ttl").map(col) ++
        (if (filterRange) Seq(col("qflo"), col("qfhi"))
         else filterColumn.toSeq.map(_ => col("qfilter"))): _*)

    // attribute-range pruning (only for filtered searches, only when the
    // [[sealAttrStats]] sidecar exists): segments whose [min,max] cannot
    // admit the query's qfilter (equality) or overlap its [qflo,qfhi]
    // interval (range) are dropped at PLAN time — zero IO, the
    // partition-pruning payoff of a label-aligned seal. Lossless: a
    // pruned segment provably holds no matching row.
    val (attrStats, qfdCol, qfsCol) =
      if (filterRange)
        (filterColumn.flatMap(f =>
          loadAttrStats(spark, dir, f).filter(_.numeric)),
          lit(Double.NaN).as("qfd"), lit(null).cast("string").as("qfs"))
      else attrPruning(spark, dir, filterColumn, q)
    val bAttr = attrStats.map(spark.sparkContext.broadcast(_))

    // distributed probe planning over the broadcast catalog: one row per
    // (query, fresh + attr-admissible segment), hottest-first wave
    // assignment. qfd/qfs carry the qfilter for the bounds check; an
    // unfiltered search plans the bare 4-tuple (no stats load, no extra
    // columns — identical to the pre-pruning plan shape).
    val fwf = firstWaveFraction
    val planned =
      if (filterColumn.isEmpty)
        q.select(col("qid"), col("qv"), col("qtime"), col("ttl"))
          .as[(Long, Array[Float], Long, Long)]
          .mapPartitions { it =>
            val cat = bSegs.value
            it.flatMap { case (qid, qv, qtime, ttl) =>
              planWaves(qid, qv, qtime, ttl, Double.NaN, null, cat, None,
                fwf, prune)
            }
          }
      else if (filterRange)
        q.select(col("qid"), col("qv"), col("qtime"), col("ttl"),
            coalesce(col("qflo").try_cast("double"), lit(Double.NaN))
              .as("qlo"),
            coalesce(col("qfhi").try_cast("double"), lit(Double.NaN))
              .as("qhi"))
          .as[(Long, Array[Float], Long, Long, Double, Double)]
          .mapPartitions { it =>
            val cat = bSegs.value
            val st = bAttr.map(_.value)
            it.flatMap { case (qid, qv, qtime, ttl, qlo, qhi) =>
              planWavesRange(qid, qv, qtime, ttl, qlo, qhi, cat, st, fwf,
                prune)
            }
          }
      else q.select(col("qid"), col("qv"), col("qtime"), col("ttl"),
          qfdCol, qfsCol)
        .as[(Long, Array[Float], Long, Long, Double, String)]
        .mapPartitions { it =>
          val cat = bSegs.value
          val st = bAttr.map(_.value)
          it.flatMap { case (qid, qv, qtime, ttl, qfd, qfs) =>
            val qfB = if (qfs == null) null
              else qfs.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            planWaves(qid, qv, qtime, ttl, qfd, qfB, cat, st, fwf, prune)
          }
        }
    val plannedDf = planned.toDF("qid", "segmentId", "wave", "lower_bound")
    // filterIn plans per (query, value): the same segment can be admitted
    // by several values (and land in different waves when admission sets
    // differ) — collapse to one probe per (query, segment) in the
    // EARLIEST wave so no segment row is scanned twice for one query
    // (lower_bound depends only on (qv, segment), so min is a no-op)
    val probes = (if (filterIn)
        plannedDf.groupBy(col("qid"), col("segmentId"))
          .agg(min(col("wave")).as("wave"),
            min(col("lower_bound")).as("lower_bound"))
      else plannedDf)
      .persist()
    // SINGLE-WAVE fast path (r16, guide §2.4 — remove dead plan
    // machinery): fwf >= 1 or a non-L2 metric assigns EVERY admitted
    // probe to wave 1 ([[planWavesAdmitted]]: `if (prune && i >= w1) 2
    // else 1`), so the thresholds join, the wave-2 scan and the
    // wave1Top persist below are provably dead — wave 2 is empty by
    // construction. The two-wave tail spent a whole extra job
    // materializing wave1Top into the block-manager cache just so the
    // empty wave-2 planning could join against it, then re-aggregated
    // the cached top-k in the final plan; one direct aggregation pass
    // is bit-identical (TopKAggregator is deterministic and idempotent
    // on its own output: topk(topk(S)) = topk(S)). Every lossless
    // serving caller runs here: the tiered hot halves, the 10x
    // qin/filtered-truth points, the cold lifecycle scans, cosine/IP.
    val singleWave = firstWaveFraction >= 1.0 || !prune

    // one Parquet scan over every segment this wave touches, joined to the
    // broadcast probe set (per-query freshness bounds applied in the join)
    def scanWave(waveProbes: DataFrame): DataFrame = {
      val segIds = waveProbes.select("segmentId").distinct()
        .as[Long].collect().toSet // catalog-bounded, never query-bounded
      if (segIds.isEmpty) {
        spark.emptyDataset[(Long, Long, Double)].toDF("qid", "id", "dist")
      } else {
        val paths = segs.filter(s => segIds(s.segmentId)).map(_.path)
        val raw = spark.read.parquet(paths.toIndexedSeq: _*)
        val data = snapshot match {
          case Some(v) =>
            val (tomb, bytes) = tombstonesAt(spark, dir, v)
            antiJoinTombstones(spark, raw, tomb, bytes)
          case None => applyTombstones(spark, dir, raw)
        }
        // the bruteForce scan kernel, segment-aware: the probe set
        // rides the SAME query-broadcast contract the broadcast-hash
        // join shipped before (collected per (query, probed segment),
        // grouped by segment, broadcast once); the corpus side streams
        // through per-partition bounded (dist, id) max-heaps and only
        // ≤ k rows per (query, segment, partition) ever materialize.
        // The join formulation this replaces materialized one row per
        // (corpus row × probing query) and pushed each through the
        // top-k UDAF — measured 19x the kernel's cost at the 10x point
        // (360 s vs the 19 s bf scan over the same pair mass).
        // Distances use the scalar sequential-double kernels, bit-equal
        // to the codegen expressions (both are oracle-gated), with L2's
        // monotone early abandon exactly as in Ann.bruteForce.
        //
        // The attribute filter rides the SAME kernel: the qfilter value
        // travels in the broadcast probe tuple and the equality is one
        // branch per (row, query) next to the freshness bounds — the
        // join formulation this replaces materialized every joined row
        // before filtering, paying the 19x the unfiltered path escaped.
        // Both sides are first cast through [[filterKey]] — the ONE
        // comparison rule every filtered surface shares (tightest
        // common type within a family; try_cast-to-double for
        // cross-family string-vs-numeric, where implicit coercion
        // would either throw under ANSI or silently pick per-surface
        // semantics) — then to string for the in-kernel comparison;
        // null attr or null qfilter matches nothing, exactly like
        // SQL's null-rejecting equality. The attribute column is read
        // from the scan only when a filter is requested.
        val filtered = filterColumn.isDefined
        val rangeMode = filterRange
        val filterTypes =
          if (rangeMode) None
          else filterColumn.map { f =>
            (data.schema(f).dataType, q.schema("qfilter").dataType)
          }
        val probeArr = waveProbes.join(q, "qid")
          .select(col("segmentId"), col("qid"), col("qv"),
            (col("qtime") - col("ttl")).as("floor_ts"),
            col("qtime").as("ceil_ts"),
            filterTypes.map { case (at, qt) =>
              filterKey(col("qfilter"), at, qt).cast("string")
            }.getOrElse(lit(null).cast("string")).as("qf"),
            (if (rangeMode)
              coalesce(col("qflo").try_cast("double"), lit(Double.NaN))
            else lit(Double.NaN)).as("qlo"),
            (if (rangeMode)
              coalesce(col("qfhi").try_cast("double"), lit(Double.NaN))
            else lit(Double.NaN)).as("qhi"))
          .as[(Long, Long, Array[Float], Long, Long, String, Double, Double)]
          .collect() // qid-keyed probe rows: the query-broadcast contract
        val bySeg: Map[Long,
            Array[(Long, Array[Float], Long, Long, String, Double, Double)]] =
          probeArr.groupBy(_._1).map { case (sid, a) =>
            (sid, a.map(p => (p._2, p._3, p._4, p._5, p._6, p._7, p._8)))
          }
        val bProbes = spark.sparkContext.broadcast(bySeg)
        val distFn = Distances.forMetric(metric)
        val l2Abandon = metric == Metric.L2
        val kk = k
        data.select(col("segmentId"), col("id"), col("vec"),
            col("eventTime"),
            filterTypes.map { case (at, qt) =>
              filterKey(col(filterColumn.get), at, qt).cast("string")
            }.getOrElse(lit(null).cast("string")).as("attr"),
            // try_cast: a non-numeric string attr goes null -> NaN ->
            // matches nothing (ANSI cast would THROW on it)
            (if (rangeMode)
              coalesce(col(filterColumn.get).try_cast("double"),
                lit(Double.NaN))
            else lit(Double.NaN)).as("attrd"))
          .as[(Long, Long, Array[Float], Long, String, Double)]
          .mapPartitions { rows =>
            val perSeg = bProbes.value
            // a partition is usually one segment's rows, but Spark
            // packs small files together — heaps are per (segment in
            // this partition, probing query), resolved through a
            // last-segment fast path since rows arrive file-contiguous
            val heapsBySeg = scala.collection.mutable.LongMap
              .empty[Array[graft.functions.BoundedTopK]]
            var curSid = Long.MinValue
            var curQs: Array[(Long, Array[Float], Long, Long, String,
              Double, Double)] = null
            var curHeaps: Array[graft.functions.BoundedTopK] = null
            rows.foreach { case (sid, id, v, ts, attr, ad) =>
              if (sid != curSid) {
                curSid = sid
                curQs = perSeg.getOrElse(sid, null)
                curHeaps =
                  if (curQs == null) null
                  else heapsBySeg.getOrElseUpdate(sid,
                    Array.fill(curQs.length)(
                      new graft.functions.BoundedTopK(kk)))
              }
              if (curQs != null) {
                var qi = 0
                while (qi < curQs.length) {
                  val qrow = curQs(qi)
                  // range mode: NaN-safe double compares (a null/NaN
                  // attribute or bound fails both inequalities — SQL's
                  // null-rejecting BETWEEN for free)
                  if (ts >= qrow._3 && ts <= qrow._4 &&
                      (!filtered ||
                        (if (rangeMode) ad >= qrow._6 && ad <= qrow._7
                         else attr != null && qrow._5 != null &&
                           attr == qrow._5))) {
                    val h = curHeaps(qi)
                    if (l2Abandon) {
                      val bd = h.bound
                      val d = Distances.l2Bounded(qrow._2, v, bd)
                      if (d <= bd) h.offer(d, id)
                    } else h.offer(distFn(qrow._2, v), id)
                  }
                  qi += 1
                }
              }
            }
            heapsBySeg.iterator.flatMap { case (sid, heaps) =>
              val qs = perSeg(sid)
              Iterator.range(0, heaps.length).flatMap { qi =>
                val (ids, ds) = heaps(qi).drainSorted()
                Iterator.range(0, ids.length)
                  .map(j => (qs(qi)._1, ids(j), ds(j)))
              }
            }
          }.toDF("qid", "id", "dist")
      }
    }

    val topkUdaf = udaf(new TopKAggregator(k),
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble))

    if (singleWave) {
      // stats keep their exact two-wave values: every probe is wave 1,
      // wave 2 plans and scans nothing (the counts the early-term
      // attribution entries assert on are unchanged)
      searchStats.foreach { m =>
        m("wave1_probes") = probes.count()
        m("wave2_planned") = 0L
        m("wave2_scanned") = 0L
      }
      val scanned = scanWave(probes) // both eager collects happen here
      probes.unpersist(false) // nothing lazy references the probe set
      return scanned
        .groupBy("qid").agg(topkUdaf(col("id"), col("dist")).as("topk"))
        .select(col("qid"), posexplode(arrays_zip(col("topk.ids").as("id"),
          col("topk.dists").as("dist"))))
        .select(col("qid"), (col("pos") + 1).as("rn"),
          col("col.id").as("id"), col("col.dist").as("dist"))
    }

    // wave 1: unconditional hot-first scan, partial top-k per partition
    val wave1Top = scanWave(probes.where(col("wave") === 1))
      .groupBy("qid").agg(topkUdaf(col("id"), col("dist")).as("topk"))
      .persist()

    // per-query skip threshold — only when wave 1 actually found k results
    val thresholds = wave1Top.where(size(col("topk.ids")) >= k)
      .select(col("qid"),
        (sqrt(element_at(col("topk.dists"), k)) * terminationFactor).as("thr"))

    // wave 2: segments whose lower bound beats the threshold; a query
    // with no per-query threshold (under-filled or unseen in wave 1)
    // scans everything in lossless mode, or falls back to the learned
    // EWMA threshold in approximate mode
    val fallback = ewmaThreshold.filter(_ => terminationFactor < 1.0)
      .map(e => lit(e * terminationFactor))
      .getOrElse(lit(null).cast("double"))
    val wave2Kept = probes.where(col("wave") === 2)
      .join(thresholds, Seq("qid"), "left")
      .withColumn("eff", coalesce(col("thr"), fallback))
      .where(col("eff").isNull || col("lower_bound") <= col("eff"))
      .select("qid", "segmentId", "wave", "lower_bound")
    searchStats.foreach { m =>
      m("wave1_probes") = probes.where(col("wave") === 1).count()
      m("wave2_planned") = probes.where(col("wave") === 2).count()
      m("wave2_scanned") = wave2Kept.count()
    }
    val wave2 = scanWave(wave2Kept)

    // probes/wave1Top must stay cached while the returned (lazy) result
    // is consumed; the registry unpersists older generations instead
    graft.CacheRegistry.retain(s"coldtier:$dir", Seq(probes, wave1Top))

    val wave1Flat = wave1Top.select(col("qid"),
        explode(arrays_zip(col("topk.ids").as("id"),
          col("topk.dists").as("dist"))).as("e"))
      .select(col("qid"), col("e.id").as("id"), col("e.dist").as("dist"))

    wave1Flat.unionAll(wave2)
      .groupBy("qid").agg(topkUdaf(col("id"), col("dist")).as("topk"))
      .select(col("qid"), posexplode(arrays_zip(col("topk.ids").as("id"),
        col("topk.dists").as("dist"))))
      .select(col("qid"), (col("pos") + 1).as("rn"),
        col("col.id").as("id"), col("col.dist").as("dist"))
  }
}
