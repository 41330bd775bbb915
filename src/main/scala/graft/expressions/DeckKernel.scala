package graft.expressions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The card metadata the deck kernel reads: hash lookups built once on
  * the driver, so a row probes a table instead of scanning literal maps.
  * It rides inside the expression as a plain field; `toString` names only
  * its size, so plans that carry it stay small. */
final class DeckMeta(nameById: Map[Long, String], elixirByName: Map[String, Int],
    baitNames: Set[String], bridgeNames: Set[String], tankNames: Set[String])
    extends Serializable {

  private def utf8Set(s: Set[String]): java.util.HashSet[UTF8String] = {
    val out = new java.util.HashSet[UTF8String]()
    s.foreach(n => if (n != null) out.add(UTF8String.fromString(n)))
    out
  }

  private val names = new java.util.HashMap[java.lang.Long, UTF8String]()
  nameById.foreach { case (id, n) => if (n != null) names.put(id, UTF8String.fromString(n)) }
  private val elixirs = new java.util.HashMap[UTF8String, java.lang.Integer]()
  elixirByName.foreach { case (n, e) =>
    if (n != null) elixirs.put(UTF8String.fromString(n), Int.box(e)) }
  private val bait = utf8Set(baitNames)
  private val bridge = utf8Set(bridgeNames)
  private val tank = utf8Set(tankNames)

  /** The metadata name of `id`, or null when the id has none. */
  def nameOf(id: Long): UTF8String = names.get(id)
  /** The elixir cost of `name`, or null when it has no metadata. */
  def elixirOf(name: UTF8String): java.lang.Integer = elixirs.get(name)
  def isBait(name: UTF8String): Boolean = bait.contains(name)
  def isBridge(name: UTF8String): Boolean = bridge.contains(name)
  def isTank(name: UTF8String): Boolean = tank.contains(name)

  override def toString: String = s"card_metadata(${names.size} cards)"
}

object DeckMeta {
  /** Metadata that only backfills names (no classifier features). */
  def names(nameById: Map[Long, String]): DeckMeta =
    new DeckMeta(nameById, Map.empty, Set.empty, Set.empty, Set.empty)
}

/** One participant's deck in one pass: 8-card extraction and validation,
  * the canonical deck hash and the archetype cascade (reference
  * scripts/etl_snapshot_topn.py:77-108,140-143 and
  * src/analysist/deck_type.py:38-152).
  *
  * Input is the participant's `cards` array (struct fields `id: long`,
  * `name: string`, `evolutionLevel: int`, matched by name); output is
  * `struct<obs, deck_hash, deck_type>`, or null when the deck is rejected:
  *  - `obs`: the first 8 cards as `struct<card_id, card_name,
  *    card_variant, slot>`. The name is trimmed of spaces (U+0020 only,
  *    as Spark's `trim`), and an empty name is backfilled from the
  *    metadata by id, else "". `evolutionLevel` 1 → "evo", 2 → "hero",
  *    anything else (null included) → "normal". The deck is rejected
  *    unless the array has at least 8 cards, none of the first 8 (or its
  *    id) is null, and their 8 (card_id, card_variant) pairs are distinct;
  *  - `deck_hash`: sha1 hex of the canonical signature
  *    `id:variant|id:variant|…`, pairs sorted as strings (the Python
  *    reference sorts the string form of the id) — equal to
  *    [[graft.functions.Hashing.deckHash]];
  *  - `deck_type`: the classifier cascade over the non-empty names, see
  *    [[DeckKernel.classifyJava]].
  *
  * Why native: Spark's `transform`/`filter`/`aggregate`/`exists` never
  * enter whole-stage codegen, so the column formulation of this chain ran
  * interpreted, twice per match, with the metadata probed by a linear scan
  * of literal maps. DeckKernelSpec pins this expression field by field to
  * that formulation. */
case class DeckKernel(child: Expression, meta: DeckMeta) extends UnaryExpression {

  override def prettyName: String = "deck_kernel"

  override def dataType: DataType = DeckKernel.resultType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    DeckKernel.cardOrdinals(child.dataType) match {
      case Some(_) => TypeCheckResult.TypeCheckSuccess
      case None => TypeCheckResult.TypeCheckFailure(
        "deck_kernel requires array<struct<id: bigint, name: string, " +
          s"evolutionLevel: int>>, got ${child.dataType.simpleString}")
    }

  // (id, name, evolutionLevel, field count) of the card struct
  @transient private lazy val ords: Array[Int] = DeckKernel.cardOrdinals(child.dataType).get

  override def nullSafeEval(input: Any): Any =
    DeckKernel.kernelJava(input.asInstanceOf[ArrayData], meta, ords(0), ords(1), ords(2), ords(3))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val metaRef = ctx.addReferenceObj("deckMeta", meta, classOf[DeckMeta].getName)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} = ${c.isNull} ? null :
        graft.expressions.DeckKernel.kernelJava(${c.value}, $metaRef,
          ${ords(0)}, ${ords(1)}, ${ords(2)}, ${ords(3)});
      boolean ${ev.isNull} = ${ev.value} == null;""")
  }

  override protected def withNewChildInternal(newChild: Expression): DeckKernel =
    copy(child = newChild)
}

/** The classifier cascade over an `array<string>` of card names — the
  * [[DeckKernel]] cascade for callers that hold names, not cards. A null
  * or empty array is "Hybrid". */
case class DeckType(child: Expression, meta: DeckMeta) extends UnaryExpression {

  override def prettyName: String = "deck_type"

  override def dataType: DataType = StringType

  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"deck_type requires array<string>, got ${other.simpleString}")
  }

  override def eval(input: InternalRow): Any =
    DeckKernel.classifyNamesJava(child.eval(input).asInstanceOf[ArrayData], meta)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val metaRef = ctx.addReferenceObj("deckMeta", meta, classOf[DeckMeta].getName)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      UTF8String ${ev.value} = graft.expressions.DeckKernel.classifyNamesJava(
        ${c.isNull} ? null : ${c.value}, $metaRef);""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): DeckType =
    copy(child = newChild)
}

object DeckKernel {
  val obsType: ArrayType = ArrayType(StructType(Seq(
    StructField("card_id", LongType, nullable = false),
    StructField("card_name", StringType, nullable = false),
    StructField("card_variant", StringType, nullable = false),
    StructField("slot", IntegerType, nullable = false))), containsNull = false)

  val resultType: StructType = StructType(Seq(
    StructField("obs", obsType, nullable = false),
    StructField("deck_hash", StringType, nullable = false),
    StructField("deck_type", StringType, nullable = false)))

  private def utf8(s: String) = UTF8String.fromString(s)
  private val Empty = utf8("")
  private val Evo = utf8("evo")
  private val Hero = utf8("hero")
  private val Normal = utf8("normal")
  private val XBow = utf8("X-Bow")
  private val Mortar = utf8("Mortar")
  private val Siege = utf8("Siege")
  private val Bait = utf8("Bait")
  private val Cycle = utf8("Cycle")
  private val BridgeSpam = utf8("Bridge Spam")
  private val Beatdown = utf8("Beatdown")
  private val Hybrid = utf8("Hybrid")

  /** Ordinals of `id`, `name`, `evolutionLevel` and the field count of
    * the card struct, when `t` is a cards array of the expected shape. */
  private[expressions] def cardOrdinals(t: DataType): Option[Array[Int]] = t match {
    case ArrayType(s: StructType, _) =>
      def ord(name: String, dt: DataType): Option[Int] =
        s.fields.indexWhere(f => f.name == name && f.dataType == dt) match {
          case -1 => None
          case i => Some(i)
        }
      for (id <- ord("id", LongType); name <- ord("name", StringType);
           evo <- ord("evolutionLevel", IntegerType))
        yield Array(id, name, evo, s.fields.length)
    case _ => None
  }

  /** Static helper the generated code calls: one deck, or null when it
    * is rejected. */
  def kernelJava(cards: ArrayData, meta: DeckMeta, idOrd: Int, nameOrd: Int,
      evoOrd: Int, nFields: Int): InternalRow = {
    if (cards.numElements() < 8) return null
    val ids = new Array[Long](8)
    val names = new Array[UTF8String](8)
    val variants = new Array[UTF8String](8)
    var i = 0
    while (i < 8) {
      if (cards.isNullAt(i)) return null
      val c = cards.getStruct(i, nFields)
      if (c.isNullAt(idOrd)) return null
      val id = c.getLong(idOrd)
      val variant =
        if (c.isNullAt(evoOrd)) Normal
        else c.getInt(evoOrd) match { case 1 => Evo; case 2 => Hero; case _ => Normal }
      var j = 0
      while (j < i) {
        if (ids(j) == id && (variants(j) eq variant)) return null
        j += 1
      }
      val apiName = if (c.isNullAt(nameOrd)) Empty else c.getUTF8String(nameOrd).trim()
      names(i) =
        if (apiName.numBytes > 0) apiName.clone()
        else { val m = meta.nameOf(id); if (m == null) Empty else m }
      ids(i) = id
      variants(i) = variant
      i += 1
    }
    val obs = new Array[Any](8)
    // the classifier reads the non-empty names only
    val known = new Array[UTF8String](8)
    var nKnown = 0
    i = 0
    while (i < 8) {
      obs(i) = new GenericInternalRow(Array[Any](ids(i), names(i), variants(i), i + 1))
      if (names(i).numBytes > 0) { known(nKnown) = names(i); nKnown += 1 }
      i += 1
    }
    new GenericInternalRow(Array[Any](new GenericArrayData(obs),
      signatureHash(ids, variants, 8), classifyJava(known, nKnown, meta)))
  }

  /** sha1 hex of `id:variant|…` over the pairs sorted by (id as string,
    * variant), byte-wise — the canonical deck signature. */
  def signatureHash(ids: Array[Long], variants: Array[UTF8String], n: Int): UTF8String = {
    val keys = Array.tabulate(n)(i => utf8(java.lang.Long.toString(ids(i))))
    val order = Array.tabulate(n)(i => Int.box(i))
    java.util.Arrays.sort(order, (a: Integer, b: Integer) => {
      val c = keys(a).binaryCompare(keys(b))
      if (c != 0) c else variants(a).binaryCompare(variants(b))
    })
    val sb = new java.lang.StringBuilder(n * 14)
    var i = 0
    while (i < n) {
      val k = order(i)
      if (i > 0) sb.append('|')
      sb.append(keys(k).toString).append(':').append(variants(k).toString)
      i += 1
    }
    val digest = sha1.get().digest(sb.toString.getBytes(StandardCharsets.UTF_8))
    val hex = new Array[Byte](digest.length * 2)
    i = 0
    while (i < digest.length) {
      hex(2 * i) = HexDigits((digest(i) >> 4) & 0xF)
      hex(2 * i + 1) = HexDigits(digest(i) & 0xF)
      i += 1
    }
    UTF8String.fromBytes(hex)
  }

  private val HexDigits = "0123456789abcdef".getBytes(StandardCharsets.US_ASCII)
  private val sha1 = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("SHA-1"))

  /** The deck hash of an observation array given as its `card_id` and
    * `card_variant` columns (null in → null out, via [[hashOf]]). */
  def obsHashJava(ids: ArrayData, variants: ArrayData): UTF8String = {
    val n = ids.numElements()
    signatureHash(Array.tabulate(n)(ids.getLong),
      Array.tabulate(n)(variants.getUTF8String), n)
  }

  /** The archetype cascade (deck_type.py:89-152), first match wins:
    * Siege (X-Bow or Mortar) → Bait (≥ 3 bait pieces) → Cycle (the four
    * cheapest known elixirs sum ≤ 9) → Bridge Spam (≥ 2 pieces) →
    * Beatdown (a big tank and average elixir ≥ 3.5) → Hybrid; no names →
    * Hybrid. Reference quirks kept: the average divides the known elixirs
    * by a fixed 8, and a deck with no known elixir takes 3.0 / 12.0.
    * Null names count as no card. */
  def classifyJava(names: Array[UTF8String], n: Int, meta: DeckMeta): UTF8String = {
    if (n == 0) return Hybrid
    val elixirs = new Array[Double](n)
    var nElixirs = 0
    var siege = false
    var bait, bridge, tank = 0
    var i = 0
    while (i < n) {
      val name = names(i)
      if (name != null) {
        val e = meta.elixirOf(name)
        if (e != null) { elixirs(nElixirs) = e.doubleValue; nElixirs += 1 }
        if (name == XBow || name == Mortar) siege = true
        if (meta.isBait(name)) bait += 1
        if (meta.isBridge(name)) bridge += 1
        if (meta.isTank(name)) tank += 1
      }
      i += 1
    }
    var sum = 0.0
    i = 0
    while (i < nElixirs) { sum += elixirs(i); i += 1 }
    val avgElixir = if (nElixirs == 0) 3.0 else sum / 8.0
    java.util.Arrays.sort(elixirs, 0, nElixirs)
    var fourCycle = if (nElixirs == 0) 12.0 else 0.0
    i = 0
    while (i < math.min(4, nElixirs)) { fourCycle += elixirs(i); i += 1 }
    if (siege) Siege
    else if (bait >= 3) Bait
    else if (fourCycle <= 9.0) Cycle
    else if (bridge >= 2) BridgeSpam
    else if (tank >= 1 && avgElixir >= 3.5) Beatdown
    else Hybrid
  }

  /** [[classifyJava]] over an `array<string>` (null → Hybrid). */
  def classifyNamesJava(names: ArrayData, meta: DeckMeta): UTF8String =
    if (names == null) Hybrid
    else {
      val n = names.numElements()
      classifyJava(Array.tabulate(n)(i =>
        if (names.isNullAt(i)) null else names.getUTF8String(i)), n, meta)
    }

  def apply(cards: Column, meta: DeckMeta): Column =
    ColumnBridge.column(DeckKernel(ColumnBridge.expression(cards), meta))

  /** The deck type of an `array<string>` of card names. */
  def typeOf(names: Column, meta: DeckMeta): Column =
    ColumnBridge.column(DeckType(ColumnBridge.expression(names), meta))

  /** The deck hash of an observation array (`card_id: bigint`,
    * `card_variant: string` fields), the one [[DeckKernel]] computes. */
  def hashOf(obs: Column): Column =
    ColumnBridge.column(StaticInvoke(classOf[DeckKernel], StringType, "obsHashJava",
      Seq(ColumnBridge.expression(obs.getField("card_id")),
        ColumnBridge.expression(obs.getField("card_variant")))))
}
