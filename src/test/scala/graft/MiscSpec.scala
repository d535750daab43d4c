package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.StagedRate

class StagedRateSpec extends AnyFunSuite {
  test("staged thresholds select rates; sign semantics from the reference") {
    val r = StagedRate(Seq(100L, 1000L), Seq(10.0, 0.0, -2.0))
    assert(r.rateAt(0) == 10.0)
    assert(r.rateAt(100) == 0.0)     // unlimited stage
    assert(r.rateAt(5000) == -2.0)   // one record per 2s
    assert(r.recordsPerSecond(-2.0) == 0.5)
    assert(r.rowsForWindow(0, 2000) == 20)
    assert(r.rowsForWindow(100, 1000) == Long.MaxValue)
    assert(r.rowsForWindow(5000, 10000) == 5)
    intercept[IllegalArgumentException](StagedRate(Seq(1L), Seq(1.0)))
  }

  test("bound query rate switches on insert progress; file channel round-trips") {
    import graft.sources.{BoundRate, RateChannel}
    val b = BoundRate(StagedRate.constant(5.0), StagedRate.constant(50.0),
      callbackCount = 1000L)
    assert(b.scheduleFor(0).rateAt(0) == 5.0)
    assert(b.scheduleFor(999).rateAt(0) == 5.0)
    assert(b.scheduleFor(1000).rateAt(0) == 50.0)
    val f = java.nio.file.Files.createTempDirectory("rate").resolve("r").toString
    assert(RateChannel.poll(f).isEmpty) // before the first push
    RateChannel.push(f, 42.5)
    assert(RateChannel.poll(f).contains(42.5))
    RateChannel.push(f, 7.0) // atomic replace
    assert(RateChannel.poll(f).contains(7.0))
  }
}

/** Grep-gate: every `.collect()` in an entry path must be visibly bounded.
  *
  * The 100-TB contract for driver-side materialization is: query
  * broadcast (the query set is sampled, never the corpus), catalog/stats
  * reads (one row per segment), aggregates, or `limit(...)`-capped fit
  * samples. An unbounded corpus collect (the round-8 `knn_coldtier_routed`
  * setup bug) must not reappear: this scans all non-harness main sources
  * and fails on any `.collect()` whose surrounding statement shows none
  * of those bounds.
  */
class BoundedCollectSpec extends AnyFunSuite {
  test("no unbounded .collect() in any entry path") {
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val harness = Set("Verify.scala")
    val allow = Seq(
      "limit(",        // driver-capped sample
      ".agg(",         // aggregate result
      ".groupBy(",     // grouped aggregate (keys are catalog/query-bounded)
      "first()",       // single row
      "qid",           // query-broadcast contract: collects the QUERY set
      "SegmentStats",  // catalog read: one row per segment
      "statsPath",     // catalog read
      "_segments",     // snapshot-pinned catalog read
      "catalog-bounded", // annotated: result size = O(segments), not O(rows)
      "trigger-bounded"  // annotated: one streaming trigger's output
    )
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        !harness.contains(p.getFileName.toString)).toSeq
    val offenders = files.flatMap { p =>
      val lines = java.nio.file.Files.readAllLines(p).asScala.toIndexedSeq
      lines.zipWithIndex.collect {
        case (l, i) if l.contains(".collect()") &&
          !(math.max(0, i - 8) to i)
            .exists(j => allow.exists(lines(j).contains)) =>
          s"$p:${i + 1}: ${l.trim}"
      }
    }
    assert(offenders.isEmpty,
      s"unbounded .collect() sites:\n${offenders.mkString("\n")}")
  }
}

class SqlSurfaceSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").getOrCreate()

  test("registered SQL functions evaluate and appear in spark.sql") {
    spark.sparkContext.setLogLevel("ERROR")
    GraftFunctions.register(spark)
    val row = spark.sql(
      """SELECT l2_distance(array(1.0F, 2.0F), array(1.0F, 4.0F)) AS l2,
        |       dot_product(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS dp,
        |       cosine_distance(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS cd,
        |       ip_distance(array(1.0F, 1.0F), array(2.0F, 3.0F)) AS ip
        |""".stripMargin).collect()(0)
    assert(row.getDouble(0) == 4.0)
    assert(row.getDouble(1) == 11.0)
    assert(math.abs(row.getDouble(2)) < 1e-12)
    assert(row.getDouble(3) == -4.0)
    // aggregate registered
    import spark.implicits._
    val t = Seq((1L, 0.5), (2L, 0.1), (3L, 0.9)).toDF("id", "d")
    t.createOrReplaceTempView("t")
    val res = spark.sql("SELECT topk_merge(id, d) AS r FROM t").collect()(0)
    assert(res.getStruct(0).getSeq[Long](0) == Seq(2L, 1L, 3L))
  }

  test("GraftExtensions injects functions at session build") {
    val s2 = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions).getOrCreate()
    // same underlying context; function available in new session state
    val v = s2.sql("SELECT l2_distance(array(0.0F), array(3.0F)) AS d")
      .collect()(0).getDouble(0)
    assert(v == 9.0)
  }
}
