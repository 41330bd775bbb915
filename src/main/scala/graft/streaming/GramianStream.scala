package graft.streaming

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, IntegerType, LongType, StructField, StructType}

import graft.operators.Pca

/** STREAMING PCA MOMENT MAINTENANCE — the co-moment state behind a
  * whitening/decorrelation model ([[Pca]]) kept CURRENT under an
  * embedding firehose, the way [[ModelStream]] maintains the DSIR
  * n-gram model: each micro-batch's quantized moment rows
  * ([[Pca.momentRows]] — a d×d long Gramian + d sums + a count,
  * ≤ d²+d+1 cells however large the batch) fold additively into the
  * standing state table. The terms are exact integer sums over
  * disjoint row sets, so per-batch partials merge EXACTLY: after any
  * prefix of batches the artifact equals one [[Pca.momentRows]] pass
  * over those batches' union, and [[Pca.fitFromArtifact]] serves a
  * fresh model at any point between batches without ever rescanning
  * the corpus — the fit every embedding pipeline wants "as of now",
  * priced at a d²-bounded eigensolve instead of a corpus pass.
  *
  * Scale shape: per batch, one batch-sized scan collapsed to ≤ d²+d+1
  * cells BEFORE the shuffle, then a merge against a same-bounded
  * standing table. Exactly-once is [[graft.operators.Upsert.mergeParquet]]'s
  * applied-batch marker: a replayed micro-batch (crash recovery
  * re-runs the last uncommitted batch) is skipped outright instead of
  * double-counting the additive fold. Parameters ride IN the artifact
  * (`p_scale`, `p_dim`) and mismatches fail fast — folding moments
  * quantized at different scales, or embeddings of different widths,
  * silently corrupts every downstream eigensolve. The dim expectation
  * is resolved ONCE per session from the standing table (the
  * per-batch-FS-cost lesson), then carried forward in-session.
  */
object GramianStream {

  /** Landing schema fallback for an empty landing dir (stream opened
    * before the first file lands — footer probing needs a file). */
  val defaultLandingSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** The flushed state-table schema. */
  private val stateSchema: StructType = StructType(Seq(
    StructField("i", IntegerType), StructField("j", IntegerType),
    StructField("q", LongType), StructField("p_scale", DoubleType),
    StructField("p_dim", IntegerType)))

  /** The SESSION-scoped moment fold — [[runGramianStream]]'s loop body. A
    * [[StateFold]] (see there for the group-commit protocol and
    * durability contract) whose state is the standing dim and cells held
    * driver-side (≤ d²+d+1 rows — bounded by the embedding width, never
    * the corpus); each batch contributes ONE momentRows job, collected
    * and summed in memory, width markers checked off the same collect.
    *
    * The parameter fail-fast refuses standing state without `p_scale`/
    * `p_dim`, or quantized at another scale; the standing dim is
    * resolved once here and carried forward in-session. */
  private[graft] def gramianFold(spark: SparkSession, targetPath: String,
      scale: Double, vec: Column, flushEvery: Int = Int.MaxValue,
      durable: Boolean = false): StateFold =
    StateFold(spark, targetPath, "gramian", stateSchema, flushEvery,
        durable) { state =>
      val dim = state.flatMap { t =>
        require(t.columns.contains("p_scale") && t.columns.contains("p_dim"),
          s"state at $targetPath carries no p_scale/p_dim — not a " +
            "GramianStream artifact; start a fresh targetPath")
        val params = t.select(col("p_scale"), col("p_dim"))
          .distinct().collect()
        // a ZERO-ROW table is primed marker evidence — no parameter
        // evidence, treated as absent
        require(params.length <= 1,
          s"state at $targetPath carries ${params.length} distinct " +
            "parameter rows — damaged artifact")
        params.headOption.map { p =>
          require(p.getDouble(0) == scale,
            s"state at $targetPath was quantized at scale ${p.getDouble(0)} " +
              s"but the stream was asked for $scale — folding across " +
              "scales mis-weights every term; match the build-time scale " +
              "or start a fresh targetPath")
          p.getInt(1)
        }
      }
      (dim, state.map(_.select(col("i"), col("j"), col("q")).collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap)
        .getOrElse(Map.empty[(Int, Int), Long]))
    } ({ case ((expectDim, moments), batch, batchId) =>
      // ONE job: the batch's cells, ≤ d²+d+1 data rows plus one (-2, d)
      // width marker per non-empty partition — the documented bounded
      // collect
      val cells = Pca.momentRows(batch, vec, scale)
        .select(col("i"), col("j"), col("q")).collect()
      if (cells.isEmpty) None
      else {
        // the batch's dim comes from the width markers: a batch whose
        // FILES carry different widths yields several distinct markers
        // (each partition alone is internally consistent, so max(i)+1
        // would just report the widest and silently fold the rest) —
        // fail fast instead. Markers are a PER-BATCH check and never
        // persist: their counts differ between a streamed fold and the
        // one-pass batch computation the state is contracted to equal.
        val dims = cells.filter(_.getInt(0) == -2).map(_.getInt(1)).distinct
        require(dims.length == 1,
          s"batch $batchId carries embeddings of mixed widths " +
            s"(${dims.sorted.mkString(",")}) — folding mixed widths " +
            "corrupts the Gramian; fix the landing data")
        val batchDim = dims.head
        expectDim.foreach(d => require(d == batchDim,
          s"batch $batchId carries dim-$batchDim embeddings but the " +
            s"standing state at $targetPath is dim-$d — folding " +
            "mixed widths corrupts the Gramian; fix the landing data " +
            "or start a fresh targetPath"))
        Some((Some(batchDim), cells.filter(_.getInt(0) >= -1)
          .foldLeft(moments) { (m, r) =>
            val k = (r.getInt(0), r.getInt(1))
            m.updated(k, m.getOrElse(k, 0L) + r.getLong(2))
          }))
      }
    }, { case (dim, moments) =>
      // an empty-only session against a PRIMED table (durable cadence)
      // flushes zero rows — markers only: there is no dim evidence yet,
      // and demanding one here would crash exactly the session the
      // priming exists to keep healthy
      if (moments.isEmpty) Nil
      else {
        val d = dim.getOrElse(
          throw new IllegalStateException("flush with no dim evidence"))
        moments.toSeq.sortBy(_._1).map { case ((i, j), v) =>
          Row(i, j, v, scale, d) }
      }
    })

  /** Run a bounded embedding stream to completion, folding each
    * micro-batch's moment cells into the state at `targetPath`
    * (created on the first batch; readable by [[Pca.fitFromArtifact]]
    * at any point between batches). `vecCol` names the landing column
    * holding the embedding array.
    *
    * Cross-session contract = [[ModelStream]]'s: a DURABLE
    * `checkpointDir` continues batch ids across invocations (committed
    * landing files are never re-folded); the scratch default is the
    * single-generation bounded replay, refused against standing state
    * whose applied-batch markers a restarted id sequence would collide
    * with. */
  def runGramianStream(spark: SparkSession, landingDir: String,
      targetPath: String, scale: Double = 1e6, vecCol: String = "embedding",
      maxFilesPerTrigger: Option[Int] = None,
      schemaFallback: Option[StructType] = None,
      checkpointDir: Option[String] = None): Unit = {
    StateFold.runFold(targetPath, "gramian", checkpointDir,
      StateFold.landing(spark, landingDir, StateFold.landingSchema(spark,
        landingDir, schemaFallback, defaultLandingSchema), maxFilesPerTrigger))(
      gramianFold(spark, targetPath, scale, col(vecCol), _, _))
    ()
  }
}
