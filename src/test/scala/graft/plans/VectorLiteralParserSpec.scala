package graft.plans

import scala.util.Try
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{AnalysisException, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.parser.NamedParameterContext
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.trees.TreeNode
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, FloatType}
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftExtensions

class VectorLiteralParserSpec extends AnyFunSuite {
  // `create()` builds fresh sessions on the shared context whatever an
  // earlier suite left behind: `spark` carries the extensions (and so the
  // folding parser), `plain` is the same engine without them. Neither
  // becomes the thread's active session for later suites; when this suite
  // runs first, the default session it leaves carries the extensions, as
  // later suites' `getOrCreate()` expect.
  private lazy val (spark, plain) = {
    SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions).getOrCreate()
    val before = SparkSession.getActiveSession
    val s = SparkSession.builder().withExtensions(new GraftExtensions).create()
    val p = SparkSession.builder().create()
    before match {
      case Some(b) => SparkSession.setActiveSession(b)
      case None => SparkSession.clearActiveSession()
    }
    graft.GraftFunctions.register(p)
    for (x <- Seq(s, p)) {
      x.range(12).selectExpr("id", "id % 3 AS label",
        "array(CAST(id AS FLOAT), CAST(id * 0.5 AS FLOAT), CAST(1 AS FLOAT)) AS vec")
        .createOrReplaceTempView("vt")
    }
    (s, p)
  }

  private def parser: VectorLiteralParser =
    spark.sessionState.sqlParser.asInstanceOf[VectorLiteralParser]

  private def arr(xs: Seq[String]): String =
    xs.map(x => s"CAST($x AS FLOAT)").mkString("array(", ", ", ")")

  /** Every tree node of a parsed plan, expressions and nested plans
   * included, in a fixed order. */
  private def nodes(p: TreeNode[_]): Seq[TreeNode[_]] = {
    val b = Seq.newBuilder[TreeNode[_]]
    def arg(a: Any): Unit = a match {
      case t: TreeNode[_] => visit(t)
      case s: Iterable[_] => s.foreach(arg)
      case Some(x) => arg(x)
      case t: Product if t.getClass.getName.startsWith("scala.Tuple") =>
        t.productIterator.foreach(arg)
      case _ =>
    }
    def visit(n: TreeNode[_]): Unit = { b += n; n.productIterator.foreach(arg) }
    visit(p)
    b.result()
  }

  private def folded(p: LogicalPlan): Seq[Literal] = nodes(p).collect {
    case l @ Literal(_, ArrayType(FloatType, _)) => l
  }

  /** Plan text with expression ids blanked: two parses of one text differ
   * only there. */
  private def shape(p: LogicalPlan): String = p.treeString.replaceAll("#\\d+", "#")

  private def spans(p: LogicalPlan): Seq[(String, Option[Int], Option[Int], Option[Int],
      Option[Int], Option[String])] =
    nodes(p).filterNot(_.getClass.getName.endsWith("$")).map { n =>
      val o = n.origin
      (n.nodeName, o.line, o.startPosition, o.startIndex, o.stopIndex, o.sqlText)
    }

  private def assertSameParse(text: String): Unit = {
    val (got, want) = SQLConf.withExistingConf(spark.sessionState.conf) {
      (Try(parser.parsePlan(text)), Try(parser.delegate.parsePlan(text)))
    }
    (got.toEither, want.toEither) match {
      case (Right(g), Right(w)) =>
        assert(folded(g).isEmpty, text)
        assert(shape(g) == shape(w), text)
        assert(spans(g) == spans(w), text)
      case (Left(g), Left(w)) => assert(g.getMessage == w.getMessage, text)
      case other => fail(s"$text: $other")
    }
  }

  private def floats(r: Row, i: Int): Seq[Int] =
    r.getSeq[Float](i).map(java.lang.Float.floatToRawIntBits)

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.map {
        case f: Float => java.lang.Float.floatToRawIntBits(f)
        case x => x
      }
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case x => x
    })

  /** Element tokens of every lexical class a `CAST(<tok> AS FLOAT)` can
   * hold, seeded. */
  private def tokens(rnd: java.util.Random): Seq[String] = {
    def digits(n: Int): String = (0 until n).map(_ => ('0' + rnd.nextInt(10)).toChar).mkString
    def sign(s: String): String = rnd.nextInt(4) match {
      case _ if s.startsWith("-") => s
      case 0 => "-" + s
      case 1 => "- " + s
      case _ => s
    }
    val fixed = Seq("0", "-0", "-0.0", "- 0.0", "-0e0", ".5", "5.", "-.5", "1E0", "1e-46",
      "1.4e-45", "7e-46", "1.17549435E-38", "3.4028235e38", "3.4028236e38", "1e39",
      "-1e39", "1e400", "2147483647", "2147483648", "-2147483648", "9223372036854775807",
      "9223372036854775808", "-9223372036854775809", "1" + "0" * 38, "1" + "0" * 40,
      "0." + "3" * 40, "16777217", "0.1", "1F", "1D", "1BD", "1L", "1S", "1Y", "1.5f",
      "2.5E+3", "2.5e-3")
    val random = Seq.fill(60)(rnd.nextInt(9) match {
      case 0 => rnd.nextInt().toString
      case 1 => rnd.nextLong().toString
      case 2 => digits(20 + rnd.nextInt(20))
      case 3 => s"${digits(1 + rnd.nextInt(6))}.${digits(rnd.nextInt(12))}"
      case 4 => s".${digits(1 + rnd.nextInt(45))}"
      case 5 => s"${digits(1 + rnd.nextInt(3))}.${digits(rnd.nextInt(4))}" +
        s"${if (rnd.nextBoolean()) "e" else "E"}${if (rnd.nextBoolean()) "-" else ""}${rnd.nextInt(50)}"
      case 6 => s"${digits(1 + rnd.nextInt(3))}e${30 + rnd.nextInt(20)}"
      case 7 => s"1.${digits(3)}e-${38 + rnd.nextInt(10)}"
      case _ => s"${digits(1 + rnd.nextInt(30))}.${digits(1 + rnd.nextInt(30))}"
    })
    (fixed ++ random).map(sign)
  }

  test("folded elements are bit-equal to the delegate's CAST(<tok> AS FLOAT), " +
      "under ANSI on/off and legacy exponent literals on/off") {
    val rnd = new java.util.Random(20261020L)
    val toks = tokens(rnd)
    var foldedRuns = 0
    for (ansi <- Seq("true", "false"); legacy <- Seq("false", "true")) {
      spark.conf.set("spark.sql.ansi.enabled", ansi)
      spark.conf.set("spark.sql.legacy.exponentLiteralAsDecimal.enabled", legacy)
      try SQLConf.withExistingConf(spark.sessionState.conf) {
        // one single-element run per token, and runs of 6 tokens
        val groups = toks.map(Seq(_)) ++ scala.util.Random.javaRandomToRandom(rnd)
          .shuffle(toks).grouped(6).toSeq
        for (g <- groups) {
          val text = s"SELECT ${arr(g)} AS v"
          val want = g.map(t => Try(parser.delegate.parseExpression(s"CAST($t AS FLOAT)")
            .eval().asInstanceOf[Float]))
          val suffixed = g.exists(_.exists(c => c.isLetter && c != 'e' && c != 'E'))
          folded(Try(parser.parsePlan(text)).getOrElse(LocalRelation())) match {
            case Seq(lit) =>
              foldedRuns += 1
              assert(!suffixed, text)
              val got = lit.value.asInstanceOf[ArrayData].toFloatArray()
              assert(got.map(java.lang.Float.floatToRawIntBits).toSeq ==
                want.map(w => java.lang.Float.floatToRawIntBits(w.get)), s"$text ansi=$ansi legacy=$legacy")
              assert(lit.dataType == ArrayType(FloatType, containsNull = false))
            case Seq() =>
              assert(suffixed || want.exists(_.isFailure), s"$text did not fold")
              assertSameParse(text)
            case more => fail(s"$text: $more")
          }
        }
      } finally {
        spark.conf.unset("spark.sql.ansi.enabled")
        spark.conf.unset("spark.sql.legacy.exponentLiteralAsDecimal.enabled")
      }
    }
    assert(foldedRuns >= 3 * toks.size)
  }

  test("statements that could observe the spelling, or lex with doubt, take the delegate's full parse") {
    val v = arr(Seq("1", "2.5"))
    spark.conf.set("x", "y")
    try Seq(
      s"CREATE TEMPORARY VIEW fv AS SELECT $v AS v",
      s"CREATE TABLE ft (v ARRAY<FLOAT> DEFAULT $v) USING parquet",
      s"EXPLAIN SELECT $v AS v",
      s"SELECT $v AS v, '$${x}' AS s",
      s"SELECT $v FROM vt",
      s"SELECT id, l2_distance(vec, $v) FROM vt",
      s"WITH c AS (SELECT $v AS v) INSERT INTO ft SELECT v FROM c",
      s"FROM vt INSERT INTO ft SELECT $v",
      s"SELECT $v.x AS v",
      s"SELECT 'it\\'s' AS s, $v AS v",
      s"SELECT /* /* nested */ */ $v AS v",
      s"SELECT '$v' AS s",
      s"SELECT 1 AS `$v`",
      s"SELECT 1 AS a -- $v",
      s"SELECT 1 AS a -- continued \\\n, $v AS v",
      s"SELECT 1 AS __GFV0, $v AS v",
      s"SELECT db.$v AS v",
      s"SELECT $v AS v FROM",
      s"SELECT ${arr(Seq("1e400"))} AS v",
      s"SELECT ${arr(Seq("1F", "2"))} AS v"
    ).foreach(assertSameParse)
    finally spark.conf.unset("x")

    // a session where `array` is a user function
    val shadow = spark.newSession()
    shadow.udf.register("array", (a: Float, b: Float) => a + b)
    val p = shadow.sessionState.sqlParser.asInstanceOf[VectorLiteralParser]
    val text = s"SELECT $v AS v"
    assert(shape(p.parsePlan(text)) == shape(p.delegate.parsePlan(text)))
    assert(folded(p.parsePlan(text)).isEmpty)
    assert(shadow.sql(text).collect().head.getFloat(0) == 3.5f)
  }

  test("a folded statement answers, names and types its output like the delegate; " +
      "every origin quotes the original text") {
    val v = arr(Seq("1", "-0.5", "2e0"))
    val texts = Seq(
      s"SELECT id, l2_distance(vec, $v) AS d FROM vt ORDER BY d, id LIMIT 5",
      // the window-rank idiom: the same run twice
      s"SELECT id, d FROM (SELECT id, l2_distance(vec, $v) AS d, row_number() OVER " +
        s"(ORDER BY l2_distance(vec, $v), id) AS rn FROM vt) WHERE rn <= 4",
      s"SELECT '$v' AS s, $v AS v, /* $v */ 1 AS one",
      s"WITH c AS (SELECT $v AS v)\nSELECT v, size(v) AS n FROM c",
      s"SELECT id FROM vt WHERE l2_distance(vec,\n  array(CAST(1 AS FLOAT),\n CAST(2 AS FLOAT),\n" +
        " CAST(3 AS FLOAT))) < 50 ORDER BY id")
    for (text <- texts) {
      val plan = parser.parsePlan(text)
      val runs = folded(plan)
      assert(runs.nonEmpty, text)
      assert(!nodes(plan).exists {
        case f: UnresolvedFunction => f.nameParts == Seq("array")
        case _ => false
      }, text)
      for (n <- nodes(plan) if !n.getClass.getName.endsWith("$"))
        assert(n.origin.sqlText.contains(text), s"${n.nodeName} in $text")
      for (l <- runs) {
        val (s, e) = (l.origin.startIndex.get, l.origin.stopIndex.get)
        assert(text.substring(s, e + 1).startsWith("array(") && text.charAt(e) == ')', text)
      }
      val (got, want) = (spark.sql(text), plain.sql(text))
      assert(got.schema == want.schema, text)
      assert(rows(got) == rows(want), text)
    }
    assert(folded(parser.parsePlan(texts(1))).size == 2)
  }

  test("a bound :label parameter next to a folded vector") {
    val text = s"SELECT id, l2_distance(vec, ${arr(Seq("0.5", "1", "-1"))}) AS d " +
      "FROM vt WHERE label = :label ORDER BY d, id LIMIT 3"
    val ctx = NamedParameterContext(Map("label" -> Literal(2)))
    val (got, want) = SQLConf.withExistingConf(spark.sessionState.conf) {
      (parser.parsePlanWithParameters(text, ctx), parser.delegate.parsePlanWithParameters(text, ctx))
    }
    assert(folded(got).size == 1)
    val (g, w) = (nodes(got).map(_.origin), nodes(want).map(_.origin))
    assert(g.flatMap(_.positionMapper).map(_.originalText).toSet == Set(text))
    assert(g.flatMap(_.sqlText).toSet == w.flatMap(_.sqlText).toSet)
    assert(g.head.sqlText == w.head.sqlText && g.head.stopIndex == w.head.stopIndex)
    assert(rows(spark.sql(text, Map("label" -> 2))) == rows(plain.sql(text, Map("label" -> 2))))
  }

  test("an ANSI 1/0 and an unknown column after a run raise the delegate's message and context") {
    val v = arr(Seq("1", "2.5", "-3"))
    def raised(s: SparkSession, text: String): (String, String, Seq[(String, Int, Int)]) = {
      val e = intercept[Exception](s.sql(text).collect())
      val t = e.asInstanceOf[SparkThrowable]
      val msg = e match {
        case a: AnalysisException => a.getSimpleMessage
        case other => other.getMessage
      }
      (t.getCondition, msg,
        t.getQueryContext.toSeq.map(c => (c.fragment, c.startIndex, c.stopIndex)))
    }
    spark.conf.set("spark.sql.ansi.enabled", "true")
    plain.conf.set("spark.sql.ansi.enabled", "true")
    try for (text <- Seq(s"SELECT id, $v AS v, 1/0 AS x FROM vt",
        s"SELECT id, l2_distance(vec, $v) AS d,\n  nope FROM vt")) {
      assert(folded(parser.parsePlan(text)).nonEmpty)
      val (got, want) = (raised(spark, text), raised(plain, text))
      assert(got == want, text)
      assert(got._3.nonEmpty, text)
    } finally {
      spark.conf.unset("spark.sql.ansi.enabled")
      plain.conf.unset("spark.sql.ansi.enabled")
    }
  }

  test("8 threads x 200 distinct vectors through one session answer like the delegate; " +
      "the wrapper holds no mutable state") {
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (0 until 8).map { t =>
      new Thread(() => {
        val rnd = new java.util.Random(500L + t)
        for (i <- 0 until 200) {
          val q = Seq.fill(16)((rnd.nextGaussian() * 10).toFloat.toString)
          val text = s"SELECT ${arr(q)} AS v, aggregate(${arr(q)}, 0D, (a, x) -> a + x) AS s"
          try {
            val (got, want) = (rows(spark.sql(text)), rows(plain.sql(text)))
            if (got != want) errors.add(s"$t/$i: $got != $want")
          } catch { case e: Throwable => errors.add(s"$t/$i: $e") }
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errors.isEmpty, errors.toArray.take(3).mkString("\n"))
    assert(folded(parser.parsePlan(s"SELECT ${arr(Seq("1"))} AS v")).size == 1)
    for (c <- Seq(classOf[VectorLiteralParser], VectorLiteralParser.getClass);
         f <- c.getDeclaredFields)
      assert(java.lang.reflect.Modifier.isFinal(f.getModifiers), s"${c.getName}.${f.getName}")
  }
}
