package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import graft.expressions.DeckMeta

/** Card-metadata dimension: `{id, name, maxLevel, elixir, is_big_tank,
  * is_bait_piece, is_bridge_spam_piece}` records (shape per reference
  * src/data/card_metadata.json, loaded at src/analysist/deck_type.py:12-16
  * and src/clashdb/card_metadata.py:11-17).
  *
  * The dimension is tiny (~121 rows) so the engine consumes it two ways:
  *  - as a broadcast DataFrame for equi-joins (SURVEY J2/J3);
  *  - as [[Meta.deck]], hash lookups built once on the driver and carried
  *    as a field of the native deck kernel
  *    ([[graft.expressions.DeckKernel]]: name backfill and the classifier
  *    cascade) — zero joins, zero shuffles, one hash probe per card.
  */
object CardMetadata {
  val schema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("maxLevel", IntegerType),
    StructField("elixir", IntegerType),
    StructField("is_big_tank", BooleanType),
    StructField("is_bait_piece", BooleanType),
    StructField("is_bridge_spam_piece", BooleanType)
  ))

  /** One metadata record (typed view of a metadata row). */
  final case class Card(
      id: Long,
      name: String,
      maxLevel: Option[Int],
      elixir: Option[Int],
      isBigTank: Boolean,
      isBaitPiece: Boolean,
      isBridgeSpamPiece: Boolean)

  def readJson(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schema).option("multiLine", value = true).json(path)

  def collect(df: DataFrame): Seq[Card] = {
    df.collect().toIndexedSeq.map { r =>
      def optInt(field: String): Option[Int] = {
        val i = r.fieldIndex(field)
        if (r.isNullAt(i)) None else Some(r.getInt(i))
      }
      def bool(field: String): Boolean = {
        val i = r.fieldIndex(field)
        !r.isNullAt(i) && r.getBoolean(i)
      }
      Card(r.getAs[Long]("id"), r.getAs[String]("name"), optInt("maxLevel"),
        optInt("elixir"), bool("is_big_tank"), bool("is_bait_piece"),
        bool("is_bridge_spam_piece"))
    }
  }

  /** Lookup maps over the metadata records. */
  final case class Meta(cards: Seq[Card]) {
    val nameById: Map[Long, String]    = cards.map(c => c.id -> c.name).toMap
    val elixirByName: Map[String, Int] =
      cards.flatMap(c => c.elixir.map(e => c.name -> e)).toMap
    val baitNames: Set[String]   = cards.filter(_.isBaitPiece).map(_.name).toSet
    val bridgeNames: Set[String] = cards.filter(_.isBridgeSpamPiece).map(_.name).toSet
    val tankNames: Set[String]   = cards.filter(_.isBigTank).map(_.name).toSet
    /** The maps above as the deck kernel's lookup tables, built once. */
    lazy val deck: DeckMeta =
      new DeckMeta(nameById, elixirByName, baitNames, bridgeNames, tankNames)
  }

  def load(spark: SparkSession, path: String): Meta =
    Meta(collect(readJson(spark, path)))
}
