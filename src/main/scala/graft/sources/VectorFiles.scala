package graft.sources

import java.io.{DataOutputStream, FileOutputStream, RandomAccessFile}
import java.nio.{ByteBuffer, ByteOrder}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/**
 * SIFT-format vector file sources (reference: data/source/format/
 * FloatVectorBinaryInputFormat.java:25-345 — record layout
 * `[dim:int32 LE][dim x payload]` read at 283-341; IvecIterator.java /
 * FvecIterator.java for ground truth).
 *
 * Scale design: records are fixed-size once dim is known, so a file is
 * split into record-aligned byte ranges planned on the driver and read in
 * parallel by executors — no single-reader bottleneck (the reference reads
 * at source-parallelism 1). Ids are assigned by global record index
 * (deterministic, split-independent), mirroring the reference's
 * sequential id assignment.
 */
object VectorFiles {

  sealed trait ElementType { def bytes: Int }
  case object F32 extends ElementType { val bytes = 4 } // fvecs
  case object U8 extends ElementType { val bytes = 1 }  // bvecs
  case object I32 extends ElementType { val bytes = 4 } // ivecs

  final case class Split(path: String, startRecord: Long, numRecords: Long,
      dim: Int, elem: String)

  private[sources] def dimOf(path: String): Int = {
    val raf = new RandomAccessFile(path, "r")
    try {
      val b = new Array[Byte](4)
      raf.readFully(b)
      ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).getInt
    } finally raf.close()
  }

  private def planSplits(path: String, elem: ElementType,
      targetRecordsPerSplit: Long): (Int, Seq[Split]) = {
    val dim = dimOf(path)
    val recordSize = 4L + dim.toLong * elem.bytes
    val fileLen = new java.io.File(path).length()
    require(fileLen % recordSize == 0,
      s"$path length $fileLen not a multiple of record size $recordSize (dim=$dim)")
    val total = fileLen / recordSize
    val elemName = elem match { case F32 => "f32"; case U8 => "u8"; case I32 => "i32" }
    val splits = (0L until total by targetRecordsPerSplit).map { start =>
      Split(path, start, math.min(targetRecordsPerSplit, total - start), dim, elemName)
    }
    (dim, splits)
  }

  private[sources] def readSplit(s: Split): Iterator[(Long, Array[Float])] = {
    val elem = s.elem match { case "f32" => F32; case "u8" => U8; case "i32" => I32 }
    val recordSize = 4L + s.dim.toLong * elem.bytes
    val raf = new RandomAccessFile(s.path, "r")
    // partial consumption (limit/take), task failure, or a read error must
    // not leak the handle — the drained-iterator close below only covers
    // the happy path (close is idempotent, double close is fine)
    Option(org.apache.spark.TaskContext.get()).foreach(
      _.addTaskCompletionListener[Unit] { _ =>
        try raf.close() catch { case _: java.io.IOException => () }
      })
    raf.seek(s.startRecord * recordSize)
    val buf = new Array[Byte](recordSize.toInt)
    new Iterator[(Long, Array[Float])] {
      private var i = 0L
      override def hasNext: Boolean = {
        val more = i < s.numRecords
        if (!more) raf.close()
        more
      }
      override def next(): (Long, Array[Float]) = {
        try raf.readFully(buf)
        catch { case e: Throwable => raf.close(); throw e }
        val bb = ByteBuffer.wrap(buf).order(ByteOrder.LITTLE_ENDIAN)
        val d = bb.getInt
        require(d == s.dim, s"dim changed mid-file: $d != ${s.dim}")
        val out = new Array[Float](d)
        var j = 0
        elem match {
          case F32 => while (j < d) { out(j) = bb.getFloat; j += 1 }
          case U8 => while (j < d) { out(j) = (bb.get() & 0xff).toFloat; j += 1 }
          case I32 => while (j < d) { out(j) = bb.getInt.toFloat; j += 1 }
        }
        val id = s.startRecord + i
        i += 1
        (id, out)
      }
    }
  }

  /** Read a SIFT-format file -> (id LONG, vec ARRAY<FLOAT>). */
  def read(spark: SparkSession, path: String, elem: ElementType,
      recordsPerSplit: Long = 262144): DataFrame = {
    import spark.implicits._
    val (_, splits) = planSplits(path, elem, recordsPerSplit)
    spark.sparkContext.parallelize(splits, math.max(1, splits.size))
      .flatMap(readSplit)
      .toDF("id", "vec")
  }

  /** Ground-truth ivecs -> (qid LONG, ids ARRAY<LONG>) (reference
   * GroundTruthResultIterator.java). */
  def readIvecs(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val (_, splits) = planSplits(path, I32, 262144)
    spark.sparkContext.parallelize(splits, math.max(1, splits.size))
      .flatMap(readSplit)
      .map { case (qid, vec) => (qid, vec.map(_.toLong)) }
      .toDF("qid", "ids")
  }

  /** Test/fixture writer (little-endian, same layout). */
  def write(path: String, vectors: Iterator[Array[Float]], elem: ElementType): Unit = {
    val out = new DataOutputStream(new java.io.BufferedOutputStream(new FileOutputStream(path)))
    try vectors.foreach { v =>
      val bb = ByteBuffer.allocate(4 + v.length * elem.bytes).order(ByteOrder.LITTLE_ENDIAN)
      bb.putInt(v.length)
      elem match {
        case F32 => v.foreach(bb.putFloat)
        case U8 => v.foreach(x => bb.put(x.toInt.toByte))
        case I32 => v.foreach(x => bb.putInt(x.toInt))
      }
      out.write(bb.array())
    } finally out.close()
  }

  /** Deterministic synthetic delete injection (reference S2:
   * FloatVectorBinaryInputFormat.java:228-247 — with probability
   * deleteRatio emit a deletion of a previously inserted id instead of the
   * next vector; delete buffer = last 1000 ids). Requires dense sequential
   * ids (true for file sources). Output adds (eventTime, ttl, isDeletion).
   *
   * The victim is drawn from the trailing window and then stepped past any
   * id that was ITSELF converted to a deletion (the reference buffers only
   * actually-inserted ids) — a deletion always targets a real insert.
   * Decision and victim are pure functions of (seed, id): distributed and
   * reproducible.
   */
  def withDeletes(vectors: DataFrame, deleteRatio: Double, seed: Long,
      bufferSize: Int = 1000): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    // splitmix64 finalizer, local so the map closure captures only
    // primitives (not this object); self-contained and reproducible
    def mix(sd: Long, x: Long): Long = {
      var z = x + 0x9E3779B97F4A7C15L * (sd + 1)
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def unit(h: Long): Double = (h >>> 11).toDouble / (1L << 53).toDouble
    def isDel(id: Long): Boolean = id > 0 && unit(mix(seed, id)) < deleteRatio
    vectors.select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("vec"))
      .as[(Long, Array[Float])]
      .map { case (id, vec) =>
        if (!isDel(id)) (id, vec, id, Long.MaxValue, false)
        else {
          val window = math.min(id, bufferSize.toLong)
          val start = java.lang.Math.floorMod(mix(seed + 1, id), window)
          var t = 0L
          var victim = -1L
          while (t < window && victim < 0) {
            val cand = id - 1 - ((start + t) % window)
            if (!isDel(cand)) victim = cand
            t += 1
          }
          // whole window converted (pathological ratio): emit the insert
          if (victim < 0) (id, vec, id, Long.MaxValue, false)
          else (victim, null: Array[Float], id, Long.MaxValue, true)
        }
      }
      .toDF("id", "vec", "eventTime", "ttl", "isDeletion")
  }
}
