package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationFactory, CollationSupport, GenericArrayData}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Escapes every non-ASCII character of a string as a `\uXXXX` sequence —
  * exactly what Python's `json.dumps(..., ensure_ascii=True)` does to a
  * JSON document after rendering (reference
  * src/clashdb/hash_utils.py:29-65 hashes those ASCII bytes).
  *
  * Spark's `to_json` leaves non-ASCII characters raw UTF-8, so a match
  * payload containing a non-ASCII game-mode name would hash differently
  * from the reference. Applying this to the rendered JSON closes that
  * last byte-compat hole: JSON structural characters are all ASCII, so
  * escaping the whole document only touches characters inside string
  * literals — precisely the set Python escapes.
  *
  * Faithfulness details:
  *  - hex digits lowercase (`é`), matching CPython's
  *    `json.encoder.py_encode_basestring_ascii`;
  *  - JVM strings are UTF-16, so astral code points are already surrogate
  *    PAIRS and each half escapes to its own `\uXXXX` — byte-identical to
  *    Python, which also emits surrogate-pair escapes for non-BMP chars;
  *  - ASCII input passes through untouched (verified: all existing match
  *    hashes unchanged).
  *
  * Total function, codegen'd (single pass, one builder), null → null. */
case class AsciiEscape(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ascii_escape requires string, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    AsciiEscape.escapeJava(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.AsciiEscape.escapeJava($c)")

  override protected def withNewChildInternal(newChild: Expression): AsciiEscape =
    copy(child = newChild)
}

object AsciiEscape {
  private val hex = "0123456789abcdef".toCharArray

  /** Static helper the generated code calls. Fast path: pure-ASCII input
    * (the overwhelmingly common case for battle payloads) returns the
    * input UTF8String untouched — zero allocation. */
  def escapeJava(s: UTF8String): UTF8String = {
    // a UTF-8 string is pure ASCII iff every encoded byte < 0x80 — scan
    // the raw bytes so the fast path never decodes to java.lang.String
    // (toString-before-check allocated a full String per row)
    val nb = s.numBytes
    var bi = 0
    var ascii = true
    while (ascii && bi < nb) { if ((s.getByte(bi) & 0x80) != 0) ascii = false; bi += 1 }
    if (ascii) return s
    val str = s.toString
    val n = str.length
    val sb = new java.lang.StringBuilder(n + 16)
    var i = 0
    while (i < n) {
      val c = str.charAt(i)
      if (c < 0x80) sb.append(c)
      else {
        sb.append("\\u")
        sb.append(hex((c >>> 12) & 0xF)); sb.append(hex((c >>> 8) & 0xF))
        sb.append(hex((c >>> 4) & 0xF)); sb.append(hex(c & 0xF))
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  def apply(col: Column): Column =
    ColumnBridge.column(AsciiEscape(ColumnBridge.expression(col)))
}

/** One side of a match-hash payload: the participants as
  * `array<struct<crowns: int, tag: string>>`, where tag =
  * `upper(coalesce(tag, ""))` and crowns = `coalesce(crowns, 0)`, sorted
  * by (tag, crowns) — byte-wise on the tag, as `array_sort` orders
  * strings. A null side is an empty array, a null participant is
  * ("", 0). Input structs need `tag: string` and `crowns: int` (matched
  * by name). The upper-casing is Spark's own `upper`
  * (`CollationSupport.Upper` under the session's ICU case-mapping flag),
  * so the bytes equal the higher-order form
  * `transform(array_sort(transform(side, …)), …)` this replaces (pinned
  * in MatchSideSpec; the reference vectors stay in HashingSpec), without
  * the interpreted lambdas. */
case class MatchSide(child: Expression) extends UnaryExpression {

  override def prettyName: String = "match_side"

  override def dataType: DataType = MatchSide.resultType

  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    MatchSide.ordinals(child.dataType) match {
      case Some(_) => TypeCheckResult.TypeCheckSuccess
      case None => TypeCheckResult.TypeCheckFailure(
        "match_side requires array<struct<tag: string, crowns: int>>, got " +
          child.dataType.simpleString)
    }

  // (tag, crowns, field count) of the participant struct
  @transient private lazy val ords: Array[Int] = MatchSide.ordinals(child.dataType).get
  @transient private lazy val useICU: Boolean =
    SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override def eval(input: InternalRow): Any =
    MatchSide.sideJava(child.eval(input).asInstanceOf[ArrayData],
      ords(0), ords(1), ords(2), useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} = graft.expressions.MatchSide.sideJava(
        ${c.isNull} ? null : ${c.value}, ${ords(0)}, ${ords(1)}, ${ords(2)}, $useICU);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): MatchSide =
    copy(child = newChild)
}

object MatchSide {
  val resultType: ArrayType = ArrayType(StructType(Seq(
    StructField("crowns", IntegerType, nullable = false),
    StructField("tag", StringType, nullable = false))), containsNull = false)

  private val Empty = UTF8String.fromString("")

  private[expressions] def ordinals(t: DataType): Option[Array[Int]] = t match {
    case ArrayType(s: StructType, _) =>
      val tag = s.fields.indexWhere(f => f.name == "tag" && f.dataType == StringType)
      val crowns = s.fields.indexWhere(f => f.name == "crowns" && f.dataType == IntegerType)
      if (tag < 0 || crowns < 0) None else Some(Array(tag, crowns, s.fields.length))
    case _ => None
  }

  /** Static helper the generated code calls. */
  def sideJava(side: ArrayData, tagOrd: Int, crownsOrd: Int, nFields: Int,
      useICU: Boolean): ArrayData = {
    val n = if (side == null) 0 else side.numElements()
    val tags = new Array[UTF8String](n)
    val crowns = new Array[Int](n)
    var i = 0
    while (i < n) {
      tags(i) = Empty
      if (!side.isNullAt(i)) {
        val p = side.getStruct(i, nFields)
        if (!p.isNullAt(tagOrd))
          tags(i) = CollationSupport.Upper.exec(p.getUTF8String(tagOrd),
            CollationFactory.UTF8_BINARY_COLLATION_ID, useICU).clone()
        if (!p.isNullAt(crownsOrd)) crowns(i) = p.getInt(crownsOrd)
      }
      i += 1
    }
    val order = Array.tabulate(n)(i => Int.box(i))
    java.util.Arrays.sort(order, (a: Integer, b: Integer) => {
      val c = tags(a).binaryCompare(tags(b))
      if (c != 0) c else Integer.compare(crowns(a), crowns(b))
    })
    new GenericArrayData(order.map(k => new GenericInternalRow(Array[Any](crowns(k), tags(k)))))
  }

  def apply(side: Column): Column =
    ColumnBridge.column(MatchSide(ColumnBridge.expression(side)))
}

/** Distinct n-token shingles over a token array, in first-occurrence
  * order — the native form of the HOF
  * `array_distinct(transform(sequence(1, max(size-n+1, 1)), i =>
  * array_join(slice(toks, i, n), " ")))` (byte-identical output,
  * asserted in TextFunctionsSpec).
  *
  * Exists for the same reason as [[graft.expressions.MinHashSig]]:
  * higher-order functions never enter whole-stage codegen, and the
  * interpreted form dispatches a lambda + allocates a slice array and a
  * join buffer per window. Shingling runs over every document of the
  * corpus in every dedup/contamination path, so it is the single
  * hottest expression in the engine; one generated call that walks the
  * token array once with a shared StringBuilder cut the q37 cache-fill
  * pass by ~2× at sf0.1 on top of the token-projection fix.
  *
  * Semantics matched to the HOF form exactly:
  *  - null array → null, empty array → empty array;
  *  - fewer than n tokens → ONE shingle: all tokens joined;
  *  - null tokens are skipped by the join, delimiter included only
  *    between emitted elements (array_join semantics);
  *  - dedupe keeps first occurrence (array_distinct semantics). */
case class TokenShingles(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if n > 0 => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"token_shingles requires array<string> and n > 0, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    TokenShingles.shinglesJava(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.TokenShingles.shinglesJava($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): TokenShingles =
    copy(child = newChild)
}

object TokenShingles {

  def shinglesJava(arr: org.apache.spark.sql.catalyst.util.ArrayData,
      n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val size = arr.numElements()
    if (size == 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    val count = math.max(size - (n - 1), 1)
    // LinkedHashSet = array_distinct's keep-first-occurrence order
    val seen = new java.util.LinkedHashSet[UTF8String](count * 2)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < count) {
      sb.setLength(0)
      var j = i
      val end = math.min(i + n, size)
      var first = true
      while (j < end) {
        // array_join skips null elements and their delimiters
        if (!arr.isNullAt(j)) {
          if (!first) sb.append(' ')
          sb.append(arr.getUTF8String(j).toString)
          first = false
        }
        j += 1
      }
      seen.add(UTF8String.fromString(sb.toString))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      seen.toArray(new Array[AnyRef](seen.size())))
  }

  def apply(col: Column, n: Int): Column =
    ColumnBridge.column(TokenShingles(ColumnBridge.expression(col), n))
}
