package graft

import scala.util.Random

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.expressions.MatchSide

/** [[MatchSide]] ≡ the higher-order form of one match-hash side payload
  * it replaced: `transform(array_sort(transform(coalesce(side, []),
  * (upper(coalesce(tag, "")), coalesce(crowns, 0)))), (crowns, tag))`,
  * compared as the rendered JSON the hashes read. HashingSpec keeps the
  * reference byte vectors. */
class MatchSideSpec extends SparkSpecBase {

  private def refSide(side: Column): Column = {
    val sorted = array_sort(transform(coalesce(side, array()), p =>
      struct(upper(coalesce(p.getField("tag"), lit(""))).as("tag"),
        coalesce(p.getField("crowns").cast("int"), lit(0)).as("crowns"))))
    transform(sorted, p =>
      struct(p.getField("crowns").as("crowns"), p.getField("tag").as("tag")))
  }

  private val participant = StructType(Seq(
    StructField("tag", StringType), StructField("crowns", IntegerType),
    StructField("cards", ArrayType(StringType))))

  test("native side payload ≡ the higher-order form on seeded random sides") {
    val rnd = new Random(5)
    val tags = Seq("#abc", "#ABC", "#éÄ12", "straße", "#ı", "#i", "", " #x ", "#ǅ", "#🗡",
      "#Zz", "#zZ", "#0")
    def side(): Seq[Row] =
      if (rnd.nextInt(15) == 0) null
      else Seq.fill(rnd.nextInt(4)) {
        if (rnd.nextInt(20) == 0) null
        else Row(if (rnd.nextInt(10) == 0) null else tags(rnd.nextInt(tags.size)),
          if (rnd.nextInt(8) == 0) null else Int.box(rnd.nextInt(4)), Seq("c"))
      }
    val rows = Seq.fill(500)(Row(side()))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
      StructType(Seq(StructField("side", ArrayType(participant)))))
    val out = df.select(to_json(MatchSide(col("side"))).as("n"),
      to_json(refSide(col("side"))).as("r")).collect()
    out.count(r => r.getString(0) != r.getString(1)) shouldBe 0
    out.map(_.getString(0)).distinct.length should be > 100
  }
}
