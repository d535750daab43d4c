package graft.plans

import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias, UnresolvedAttribute}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, CreateArray, Expression,
  GenericInternalRow, Literal, SupportQueryContext}
import org.apache.spark.sql.catalyst.parser.{ParameterContext, ParserInterface, PositionMapper}
import org.apache.spark.sql.catalyst.plans.logical.{Command, LogicalPlan, ParsedStatement}
import org.apache.spark.sql.catalyst.trees.{CurrentOrigin, Origin, TreeNode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, StructType}

/**
 * Session parser wrapper that folds literal query vectors before Spark
 * parses them. A client that cannot bind an array parameter spells a
 * 128-d query vector as `array(CAST(0.12 AS FLOAT), CAST(-3.4 AS FLOAT),
 * ...)`; parsing that text and analysing the 128-cast `CreateArray` cost
 * more than serving the statement from a warm tier.
 *
 * For a query statement, every `array(` run whose elements are all
 * `CAST(<numeric literal> AS FLOAT)` is swapped, in the text the
 * delegate parses, for a marker identifier padded with spaces to the
 * run's exact length (line breaks kept), so every offset, line and
 * column of the rest of the text stays valid. After parsing, each
 * marker becomes one `ArrayType(FloatType)` [[Literal]] whose elements
 * come from evaluating the same `Cast(<Literal as AstBuilder builds it
 * from the token>, FloatType)` Spark would have built, typed as Spark's
 * `CreateArray` of those casts, so values, element type and nullability
 * are identical.
 * Every node of the (small) folded tree gets its origin rebuilt against
 * the original text, so parse-time, analysis and ANSI errors quote the
 * text the user sent; the literal spans the run.
 *
 * Anything that could observe the spelling, or any doubt about the
 * lexing, takes the delegate's full parse of the original text instead:
 * statements that do not start with SELECT / WITH / FROM / VALUES /
 * TABLE, plans holding a command or a parsed DDL/DML statement
 * (`CREATE VIEW` and `DEFAULT` store source text), text with `${`, a
 * marker under an [[UnresolvedAlias]] (the generated column name comes
 * from the expression), a marker in any other role than a single-part
 * column reference, a session where `array` is not the builtin, string
 * literals holding a backslash, nested or unterminated comments, and a
 * text that already contains the marker prefix. A run whose literal
 * cannot be built (a parse-time range error, an ANSI cast error) stays in
 * the text, where the delegate reports it as usual.
 *
 * Only `parsePlan` and `parsePlanWithParameters` fold (`SparkSession.sql`
 * calls the latter); every other method delegates unchanged. The wrapper
 * holds no mutable state. [[graft.GraftExtensions]] installs it with
 * `injectParser`, so it only reaches sessions built with the extensions.
 */
final class VectorLiteralParser(session: SparkSession, val delegate: ParserInterface)
    extends ParserInterface {
  import VectorLiteralParser._

  override def parsePlan(sqlText: String): LogicalPlan =
    folded(sqlText, delegate.parsePlan).getOrElse(delegate.parsePlan(sqlText))

  override def parsePlanWithParameters(sqlText: String,
      paramContext: ParameterContext): LogicalPlan =
    folded(sqlText, delegate.parsePlanWithParameters(_, paramContext))
      .getOrElse(delegate.parsePlanWithParameters(sqlText, paramContext))

  private def folded(text: String, parse: String => LogicalPlan): Option[LogicalPlan] = {
    val runs = scan(text)
    if (runs.isEmpty || !arrayIsBuiltin) None
    else fold(text, runs, parse)
  }

  private def arrayIsBuiltin: Boolean =
    try session.sessionState.functionRegistry
      .lookupFunction(FunctionIdentifier("array"))
      .exists(_.getClassName == classOf[CreateArray].getName)
    catch { case NonFatal(_) => false }

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
}

object VectorLiteralParser {
  /** Marker identifiers are `__gfv<i>`, `i` counting the folded runs
   * from 0; a text containing the prefix (any case) is never folded. */
  private val MarkerPrefix = "__gfv"
  private val QueryStarts = Set("select", "with", "from", "values", "table")

  /** One `array(CAST(<num> AS FLOAT), ...)` run: text span [start, end)
   * and each element's literal token as `ctx.getText` spells it
   * (optional `-`, no whitespace). */
  private final case class Run(start: Int, end: Int, tokens: Array[String])

  /** `TreeNode.otherCopyArgs` (protected): a node's second constructor
   * parameter list, e.g. an `Alias`'s exprId. */
  private val OtherCopyArgs = classOf[TreeNode[_]].getMethod("otherCopyArgs")

  /** `SupportQueryContext.queryContext` (protected var): the error
   * context an expression captures from its origin at construction. */
  private val QueryContextGet = classOf[SupportQueryContext].getMethod("queryContext")
  private val QueryContextSet =
    classOf[SupportQueryContext].getMethod("queryContext_$eq", classOf[Option[_]])

  private final class Doubt extends RuntimeException(null, null, false, false)

  private def isWs(c: Char): Boolean = c == ' ' || c == '\t' || c == '\n' || c == '\r'
  private def isLineBreak(c: Char): Boolean = c == '\n' || c == '\r'
  private def isWord(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') || c == '_'
  private def isDigit(c: Char): Boolean = c >= '0' && c <= '9'
  /** Characters that may directly precede a folded `array(`. */
  private def opensExpr(c: Char): Boolean = isWs(c) || "(,=<>+-*/%|&![^~".indexOf(c) >= 0

  /** The foldable runs of a query statement's text, outside string
   * literals, quoted identifiers and comments; empty when the text is not
   * a query, holds `${` or the marker prefix, or lexes with any doubt. */
  private def scan(text: String): Vector[Run] = {
    val n = text.length
    if (text.contains("${") || containsIgnoreCase(text, MarkerPrefix)) return Vector.empty
    val runs = Vector.newBuilder[Run]
    // runs found so far: a run's marker is at most `MarkerPrefix + count`
    // long, and it must not straddle a line
    var count = 0
    var sawWord = false
    var i = 0
    while (i < n) {
      val c = text.charAt(i)
      if (c == '\'' || c == '"' || c == '`') {
        var j = i + 1
        while (j < n && text.charAt(j) != c) {
          if (c != '`' && text.charAt(j) == '\\') return Vector.empty
          j += 1
        }
        if (j >= n) return Vector.empty
        i = j + 1
      } else if (c == '-' && i + 1 < n && text.charAt(i + 1) == '-') {
        while (i < n && !isLineBreak(text.charAt(i))) i += 1
        // Spark continues a `--` comment past a line ending in `\`
        if (text.charAt(i - 1) == '\\') return Vector.empty
      } else if (c == '/' && i + 1 < n && text.charAt(i + 1) == '*') {
        val close = text.indexOf("*/", i + 2)
        val nested = text.indexOf("/*", i + 2)
        if (close < 0 || (nested >= 0 && nested < close)) return Vector.empty
        i = close + 2
      } else if (isWord(c)) {
        var j = i
        while (j < n && isWord(text.charAt(j))) j += 1
        if (!sawWord) {
          if (!QueryStarts(text.substring(i, j).toLowerCase(java.util.Locale.ROOT)))
            return Vector.empty
          sawWord = true
        }
        val run =
          if (j - i == 5 && asciiAt(text, i, "array") &&
              (i == 0 || opensExpr(text.charAt(i - 1))) && !afterDot(text, i)) runAt(text, i)
          else None
        run match {
          case Some(r) if !text.substring(r.start, r.start + (MarkerPrefix + count).length)
              .exists(isLineBreak) =>
            runs += r; count += 1; i = r.end
          case _ => i = j
        }
      } else i += 1
    }
    runs.result()
  }

  /** Whether `text` holds `s` in any case; `s` starts with a caseless
   * character (the marker prefix's `_`). */
  private def containsIgnoreCase(text: String, s: String): Boolean = {
    var i = text.indexOf(s.charAt(0))
    while (i >= 0 && !text.regionMatches(true, i, s, 0, s.length))
      i = text.indexOf(s.charAt(0), i + 1)
    i >= 0
  }

  /** Whether `text` spells the lower-case ASCII word `w` at `i`, in any
   * ASCII case. Spark's lexer also takes letters that upper-case to ASCII
   * (`ſ` for `S`); text spelled with them is not folded. */
  private def asciiAt(text: String, i: Int, w: String): Boolean = {
    if (i + w.length > text.length) return false
    var k = 0
    while (k < w.length && (text.charAt(i + k) | 0x20) == w.charAt(k)) k += 1
    k == w.length
  }

  private def afterDot(text: String, i: Int): Boolean = {
    var k = i - 1
    while (k >= 0 && isWs(text.charAt(k))) k -= 1
    k >= 0 && (text.charAt(k) == '.' || text.charAt(k) == ':')
  }

  /** Match `array ( CAST ( [-] <num> AS FLOAT ) [, ...] )` at `start`. */
  private def runAt(text: String, start: Int): Option[Run] = {
    val n = text.length
    var p = start + 5
    def ws(): Unit = while (p < n && isWs(text.charAt(p))) p += 1
    def char(c: Char): Boolean =
      if (p < n && text.charAt(p) == c) { p += 1; true } else false
    def keyword(k: String): Boolean =
      if (asciiAt(text, p, k) &&
          (p + k.length >= n || !isWord(text.charAt(p + k.length)))) {
        p += k.length; true
      } else false
    def digits(): Int = { val s = p; while (p < n && isDigit(text.charAt(p))) p += 1; p - s }
    /** `[-] <num>`: INTEGER_VALUE, DECIMAL_VALUE or EXPONENT_VALUE, no
     * suffix, ended by whitespace. */
    def number(): Option[String] = {
      val neg = char('-')
      if (neg) ws()
      val s = p
      val intDigits = digits()
      val frac = if (char('.')) digits() else -1
      if (intDigits == 0 && frac <= 0) return None
      if (p < n && (text.charAt(p) == 'e' || text.charAt(p) == 'E')) {
        p += 1
        if (!char('+')) char('-')
        if (digits() == 0) return None
      }
      if (p >= n || !isWs(text.charAt(p))) None
      else Some(if (neg) "-" + text.substring(s, p) else text.substring(s, p))
    }
    ws()
    if (!char('(')) return None
    val tokens = Array.newBuilder[String]
    var more = true
    while (more) {
      ws()
      if (!keyword("cast")) return None
      ws()
      if (!char('(')) return None
      ws()
      val tok = number()
      if (tok.isEmpty) return None
      ws()
      if (!keyword("as")) return None
      ws()
      if (!keyword("float")) return None
      ws()
      if (!char(')')) return None
      tokens += tok.get
      ws()
      more = char(',')
    }
    if (!char(')')) None else Some(Run(start, p, tokens.result()))
  }

  /** The literal `AstBuilder` builds for a `number` token (integer:
   * int, long or decimal by range; decimal: decimal; exponent: double
   * after a range check, or decimal under the legacy flag). */
  private def numberLiteral(tok: String, legacyExponent: Boolean): Literal = {
    val isExponent = tok.exists(c => c == 'e' || c == 'E')
    val isDecimal = tok.contains('.')
    if (isExponent && !legacyExponent) {
      val v = BigDecimal(tok)
      if (v < BigDecimal(-Double.MaxValue) || v > BigDecimal(Double.MaxValue)) throw new Doubt
      Literal(tok.toDouble)
    } else if (isExponent || isDecimal) Literal(BigDecimal(tok).underlying())
    else {
      val v = BigDecimal(tok)
      if (v.isValidInt) Literal(v.intValue)
      else if (v.isValidLong) Literal(v.longValue)
      else Literal(v.underlying())
    }
  }

  /** The run's value as Spark computes it: each element is the
   * `Cast(<literal>, FloatType)` Spark builds, evaluated on the literal's
   * value, in an array typed as that `CreateArray` of casts is; None when
   * any element cannot be built. A cast's function depends only on its
   * input type (and the session conf), so one `Cast` per literal type
   * serves every element of that type. */
  private def arrayLiteral(run: Run, legacyExponent: Boolean): Option[(Any, DataType)] =
    try {
      val casts = scala.collection.mutable.HashMap.empty[DataType, Cast]
      val row = new GenericInternalRow(1)
      val values = run.tokens.map { t =>
        val lit = numberLiteral(t, legacyExponent)
        val cast = casts.getOrElseUpdate(lit.dataType,
          Cast(BoundReference(0, lit.dataType, nullable = false), FloatType))
        row.update(0, lit.value)
        cast.eval(row)
      }
      Some((new GenericArrayData(values),
        ArrayType(FloatType, containsNull = casts.values.exists(_.nullable))))
    } catch { case NonFatal(_) => None }

  private def fold(text: String, found: Vector[Run],
      parse: String => LogicalPlan): Option[LogicalPlan] = {
    val legacyExponent = SQLConf.get.exponentLiteralAsDecimalEnabled
    val runs = found.flatMap(r => arrayLiteral(r, legacyExponent).map(r -> _))
    if (runs.isEmpty) return None
    val padded = new java.lang.StringBuilder(text)
    val segments = runs.indices.map { i =>
      val (r, _) = runs(i)
      val marker = MarkerPrefix + i
      var p = r.start
      while (p < r.end) {
        val k = p - r.start
        val c = text.charAt(p)
        padded.setCharAt(p,
          if (k < marker.length) marker.charAt(k) else if (isLineBreak(c)) c else ' ')
        p += 1
      }
      padded.substring(r.start, r.end)
    }
    val paddedText = padded.toString
    try {
      val plan = parse(paddedText)
      if (plan.exists {
        case _: Command | _: ParsedStatement => true
        case _ => false
      }) None
      else {
        val rw = new Rewrite(text, paddedText, runs, segments)
        val out = rw.plan(plan)
        if (rw.complete) Some(out) else None
      }
    } catch { case NonFatal(_) => None }
  }

  /** One fold's rewrite of the delegate's tree: markers become literals,
   * and every node whose origin quotes the padded text is rebuilt with
   * an origin that quotes the original. */
  private final class Rewrite(original: String, paddedText: String,
      runs: IndexedSeq[(Run, (Any, DataType))], segments: IndexedSeq[String]) {
    private val seen = new Array[Boolean](runs.length)
    private val restored = scala.collection.mutable.HashMap(paddedText -> original)
    private val mappers =
      new java.util.IdentityHashMap[PositionMapper, PositionMapper]()

    def complete: Boolean = seen.forall(identity)

    def plan(p: LogicalPlan): LogicalPlan =
      node(p, underAlias = false, inExpr = false).asInstanceOf[LogicalPlan]

    /** A text the delegate parsed (padded, or padded with parameters
     * substituted) with each run's marker segment swapped back. */
    private def restore(t: String): String = restored.getOrElseUpdate(t, {
      val sb = new java.lang.StringBuilder(t)
      segments.indices.foreach { i =>
        val at = t.indexOf(segments(i))
        if (at < 0 || t.indexOf(segments(i), at + 1) >= 0) throw new Doubt
        sb.replace(at, at + segments(i).length, original.substring(runs(i)._1.start, runs(i)._1.end))
      }
      sb.toString
    })

    private def origin(o: Origin): Origin =
      if (o.sqlText.isEmpty && o.positionMapper.isEmpty) o
      else o.copy(sqlText = o.sqlText.map(restore),
        positionMapper = o.positionMapper.map { pm =>
          var m = mappers.get(pm)
          if (m == null) {
            m = PositionMapper(restore(pm.originalText), restore(pm.substitutedText),
              pm.substitutions)
            mappers.put(pm, m)
          }
          m
        })

    /** @param inExpr `n` is an argument of an expression, not of a plan
     *        node: only there may a marker become a literal, since a
     *        plan-level marker sits where the parser keeps a named
     *        expression (a select item) as is but would have wrapped a
     *        function call. */
    private def node(n: TreeNode[_], underAlias: Boolean, inExpr: Boolean): TreeNode[_] =
      n match {
        case a @ UnresolvedAttribute(Seq(name)) if name.startsWith(MarkerPrefix) =>
          val i = markerIndex(name)
          val o = a.origin
          val (r, (value, dataType)) = runs(i)
          if (underAlias || !inExpr || !o.startIndex.exists(s =>
              o.sqlText.exists(_.startsWith(segments(i), s)))) throw new Doubt
          seen(i) = true
          val spanning = origin(o).copy(stopIndex = o.startIndex.map(_ + r.end - r.start - 1))
          CurrentOrigin.withOrigin(spanning)(Literal(value, dataType))
        case _ =>
          val alias = underAlias || n.isInstanceOf[UnresolvedAlias]
          val expr = n.isInstanceOf[Expression]
          var changed = false
          val args = n.productIterator.map { a =>
            val b = arg(a, alias, expr)
            if (!(b.asInstanceOf[AnyRef] eq a.asInstanceOf[AnyRef])) changed = true
            b.asInstanceOf[AnyRef]
          }.toArray
          val o = origin(n.origin)
          if (!changed && (o eq n.origin)) n else rebuild(n, args, o)
      }

    private def markerIndex(name: String): Int = {
      val i = try name.substring(MarkerPrefix.length).toInt
        catch { case _: NumberFormatException => throw new Doubt }
      if (i < 0 || i >= runs.length || name != MarkerPrefix + i) throw new Doubt
      i
    }

    private def arg(a: Any, underAlias: Boolean, inExpr: Boolean): Any = a match {
      case t: TreeNode[_] => node(t, underAlias, inExpr)
      case s: String => if (containsIgnoreCase(s, MarkerPrefix)) throw new Doubt else s
      case Some(x) =>
        val y = arg(x, underAlias, inExpr)
        if (y.asInstanceOf[AnyRef] eq x.asInstanceOf[AnyRef]) a else Some(y)
      case t: Product if t.getClass.getName.startsWith("scala.Tuple") =>
        // e.g. UnresolvedWith's (name, definition, maxDepth) triples
        val xs = t.productIterator.toSeq
        val ys = xs.map(arg(_, underAlias, inExpr))
        if (same(ys, xs)) a
        else t.getClass.getConstructors.head.newInstance(ys.map(_.asInstanceOf[AnyRef]): _*)
      case s: Seq[_] =>
        val t = s.map(arg(_, underAlias, inExpr))
        if (same(t, s)) s else t
      case m: Map[_, _] =>
        val t = m.toSeq.map(arg(_, underAlias, inExpr))
        if (same(t, m.toSeq)) m else t.asInstanceOf[Seq[(Any, Any)]].toMap
      case other => other
    }

    private def same(a: Iterable[_], b: Iterable[_]): Boolean =
      a.iterator.zip(b.iterator).forall { case (u, v) =>
        u.asInstanceOf[AnyRef] eq v.asInstanceOf[AnyRef] }

    /** `TreeNode.makeCopy`'s constructor call, under origin `o` instead
     * of the node's own. Shared singletons (no public constructor) stay. */
    private def rebuild(n: TreeNode[_], args: Array[AnyRef], o: Origin): TreeNode[_] = {
      val all = args ++ OtherCopyArgs.invoke(n).asInstanceOf[Seq[AnyRef]]
      val ctors = n.getClass.getConstructors.filter(_.getParameterCount == all.length)
      val ctor = ctors.find(c => c.getParameterTypes.zip(all).forall { case (t, v) =>
        v == null || t.isPrimitive || t.isInstance(v) })
      ctor match {
        case None if all.isEmpty => n
        case None => throw new Doubt
        case Some(c) =>
          val res = CurrentOrigin.withOrigin(o)(c.newInstance(all: _*))
          (n, res) match {
            case (from: LogicalPlan, to: LogicalPlan) => to.copyTagsFrom(from)
            case (from: Expression, to: SupportQueryContext) =>
              // its query context is a tag too: keep the one built from `o`
              val own = QueryContextGet.invoke(to)
              to.copyTagsFrom(from)
              QueryContextSet.invoke(to, own)
            case (from: Expression, to: Expression) => to.copyTagsFrom(from)
            case _ =>
          }
          res.asInstanceOf[TreeNode[_]]
      }
    }
  }
}
