package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing for training-data pipelines: media travel as
  * opaque `binary` columns next to typed metadata; decode / feature-extract
  * runs per partition so decoder state (a codec, a model handle) is
  * initialized once per task, not per row — the Scala analog of
  * `mapInPandas` batch processing.
  *
  * The actual media decode is STUBBED: no image/audio codecs exist in this
  * environment, so [[Decoder.deterministic]] derives features from the raw
  * bytes alone. The Spark-side contract — binary column in, typed feature
  * struct out, partition-batched execution, explicit output schema — is the
  * real, tested surface; swap the decoder for a JNI/codec-backed one in
  * production without touching the plan shape.
  */
object MultimodalOps {

  /** Extracted per-blob features. `width`/`height` are the stub's
    * deterministic stand-ins for decoded media dimensions. */
  val featureSchema: StructType = StructType(Seq(
    StructField("n_bytes", LongType, nullable = false),
    StructField("header_byte", IntegerType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false)
  ))

  trait Decoder extends Serializable {
    def decode(bytes: Array[Byte]): Row
  }

  object Decoder {
    /** Pure-function-of-bytes stand-in for a media decoder. Every field is
      * reproducible in any engine (arithmetic on byte counts), keeping the
      * whole pipeline oracle-checkable. */
    val deterministic: Decoder = new Decoder {
      def decode(bytes: Array[Byte]): Row = {
        val n = bytes.length.toLong
        val header = if (bytes.isEmpty) 0 else java.lang.Byte.toUnsignedInt(bytes(0))
        Row(n, header, (64 + n % 64).toInt, (64 + (n / 64) % 64).toInt)
      }
    }
  }

  /** id + binary column → id + feature struct columns. Decoder is invoked
    * per row inside one partition iterator — batch-shaped like mapInPandas,
    * schema declared up front so Catalyst plans downstream ops normally. */
  def extractFeatures(df: DataFrame, idCol: String, binCol: String,
      decoder: Decoder = Decoder.deterministic): DataFrame = {
    val idField = df.schema(idCol)
    val outSchema = StructType(idField +: featureSchema.fields.toSeq)
    val enc = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val idIdx = df.schema.fieldIndex(idCol)
    val binIdx = df.schema.fieldIndex(binCol)
    df.mapPartitions { rows =>
      // per-partition decoder setup would go here (open codec once)
      rows.map { r =>
        val bytes = if (r.isNullAt(binIdx)) Array.empty[Byte]
          else r.getAs[Array[Byte]](binIdx)
        val f = decoder.decode(bytes)
        Row.fromSeq(r.get(idIdx) +: f.toSeq)
      }
    }(enc)
  }

  /** Wrap a text/media column as (binary payload, typed metadata) — the
    * storage shape for multimodal datasets: payload stays opaque, metadata
    * is queryable/prunable without touching the blob. */
  def asBlobTable(df: DataFrame, idCol: String, payloadCol: String,
      mediaType: String): DataFrame =
    df.select(col(idCol),
      col(payloadCol).cast("binary").as("payload"),
      struct(lit(mediaType).as("media_type"),
        length(col(payloadCol).cast("binary")).as("n_bytes")).as("meta"))

  /** Fixed-stride FRAME SAMPLING over a blob column — the video/audio
    * dataloader move (take every `stride`-th fixed-size frame) expressed
    * as pure byte-range plumbing: one row per sampled frame with its
    * [byte_from, byte_to) slice and the slice's md5. The frame DECODE
    * stays behind the [[Decoder]] seam; this plans WHICH bytes each task
    * reads, which is the part that must be deterministic and cheap at
    * 100 TB (the explode is linear in sampled frames — corpus bytes /
    * (frameBytes·stride) rows — and fuses into the scan; no shuffle).
    * Trailing partial frames are not sampled (nothing complete to
    * decode); blobs shorter than one frame produce no rows. */
  def sampleFrames(df: DataFrame, id: org.apache.spark.sql.Column,
      bin: org.apache.spark.sql.Column, frameBytes: Int,
      stride: Int): DataFrame = {
    require(frameBytes > 0, "frameBytes must be positive")
    require(stride > 0, "stride must be positive")
    df.select(id.as("id"), bin.cast("binary").as("__b"))
      .select(col("id"), col("__b"),
        // `div`, not `/`: Spark's `/` is double division
        expr(s"CAST(length(__b) AS BIGINT) div $frameBytes").as("__nf"))
      .filter(col("__nf") > 0)
      .select(col("id"), col("__b"),
        explode(sequence(lit(0L), col("__nf") - 1, lit(stride.toLong)))
          .as("frame_idx"))
      .select(col("id"), col("frame_idx"),
        (col("frame_idx") * frameBytes).as("byte_from"),
        (col("frame_idx") * frameBytes + frameBytes).as("byte_to"),
        md5(expr(s"substring(__b, CAST(frame_idx * $frameBytes + 1 AS INT)," +
          s" $frameBytes)")).as("frame_md5"))
  }
}
