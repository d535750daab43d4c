package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Follow-up to ProbeAttrRc: for the two offending (qid, ids) pairs,
 * print the exact double distances (bits) under both kernels — if the
 * missing and extra ids TIE exactly, the mismatch is tie handling in
 * the scan's bounded heap; if they differ, the kernel mis-ranks. */
object ProbeTie {
  def main(args: Array[String]): Unit = {
    val sfDir = "/root/testdata/sf0.1"
    val spark = graft.SparkEntry.configure(SparkSession.builder()
      .master("local[16]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val cases = Seq(
      (52776558927201L, Seq(123145303299937L, 70368744963937L)),
      (123145303086110L, Seq(140737488794837L, 140737489338837L,
        17592186196437L, 87960930391637L)))
    val wanted = (cases.map(_._1) ++ cases.flatMap(_._2)).toSet
    val rows = DerivedVectors.derivedVectorsN(spark, sfDir, 10)
      .where(col("id").isin(wanted.toSeq: _*))
      .as[(Long, Array[Float], Long)].collect()
      .map(t => t._1 -> t._2).toMap
    println(s"fetched ${rows.size} of ${wanted.size}")
    cases.foreach { case (qid, ids) =>
      val qv = rows(qid)
      println(s"qid=$qid")
      ids.foreach { id =>
        val d = graft.functions.Distances.l2(qv, rows(id))
        val df = graft.functions.Distances.l2Fast(qv, rows(id))
        println(f"  id=$id%20d l2=$d%.17g bits=${java.lang.Double.doubleToLongBits(d)}%016x l2Fast=$df%.17g bitsF=${java.lang.Double.doubleToLongBits(df)}%016x")
      }
    }
    spark.stop()
  }
}
