package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `array<float>` embedding columns, as codegen'd
  * higher-order-function expressions (no UDFs, no linear-algebra deps).
  * Accumulation order is the array's element order (a sequential fold), so
  * results are bit-deterministic across engines and runs.
  */
object VectorFunctions {

  private def d(c: Column): Column = c.cast("array<double>")

  /** Σ aᵢ·bᵢ — native codegen'd loop ([[graft.expressions.VecDot]]).
    * Same sequential-fold double arithmetic as the HOF formulation (the
    * specs assert bit equality), ~20× faster on dim-64 embeddings. */
  def dot(a: Column, b: Column): Column =
    graft.expressions.VectorExpressions.vecDot(a, b)

  /** Σ aᵢ·bᵢ via higher-order functions — kept as the reference
    * implementation the native expression is cross-checked against. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(d(a), d(b), (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** L2 norm. */
  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; null-safe 0 when either norm is 0. */
  def cosine(a: Column, b: Column): Column =
    cosineFromNorms(a, b, l2Norm(a), l2Norm(b))

  /** [[cosine]] from PRECOMPUTED norms — the scored-join form the
    * blocked pair/probe paths use (one sqrt per vector, not per pair).
    * The zero-denominator guard and the IEEE tree live HERE once; the
    * oracles interpolate the same tree, so a guard tweak in one place
    * cannot silently drift from the others. */
  def cosineFromNorms(a: Column, b: Column, na: Column, nb: Column): Column = {
    val denom = na * nb
    when(denom === 0.0, 0.0).otherwise(dot(a, b) / denom)
  }

  /** Squared Euclidean distance. */
  def l2Sq(a: Column, b: Column): Column =
    aggregate(zip_with(d(a), d(b), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)

  /** Normalize to unit length (zero vector stays zero). */
  def normalize(a: Column): Column = {
    val n = l2Norm(a)
    when(n === 0.0, d(a)).otherwise(transform(d(a), x => x / n))
  }

  /** Sign-random-projection LSH bucket: `planes` deterministic pseudo-random
    * hyperplanes (seeded, generated driver-side), each contributing one sign
    * bit; returns the bucket id as a long. nBits planes ⇒ 2^nBits buckets.
    * At 100 TB this turns brute-force O(N·Q) scoring into a bucket-join:
    * shuffle both sides on bucket id, score only within buckets. */
  def srpBucket(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val plane = array(p.map(lit): _*)
      when(dot(vec, plane) >= 0.0, math.pow(2.0, i).toLong).otherwise(0L)
    }.reduce(_ + _)

  /** [[srpBucket]] with the plane matrix as ONE table literal — the
    * past-the-codegen-cliff form for production plane counts (the
    * unrolled form's generated source grows with nBits × dim; see
    * [[graft.operators.Similarity.assignCells]]). The sign bits
    * sum as longs (associative), the per-plane dot is the native
    * [[dot]] inside the lambda, so the bucket id is BIT-IDENTICAL to
    * the unrolled form at any plane count (spec-pinned). */
  def srpBucketTable(vec: Column, planes: Seq[Seq[Double]]): Column = {
    require(planes.size <= 62, "srpBucketTable: at most 62 sign bits fit a long")
    val t = typedlit(planes)
    val pows = typedlit(planes.indices.map(i => 1L << i))
    aggregate(
      transform(t, (p, i) =>
        when(dot(vec, p) >= 0.0, element_at(pows, i + 1)).otherwise(lit(0L))),
      lit(0L), (acc, b) => acc + b)
  }

  /** Deterministic pseudo-random hyperplanes (xorshift-free: splitmix-ish
    * integer mix of (seed, plane, dim) → uniform in [-1, 1]). */
  def randomPlanes(nPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] =
    (0 until nPlanes).map { p =>
      (0 until dim).map { j =>
        var z = seed + p.toLong * 0x9E3779B97F4A7C15L + j.toLong * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z = z ^ (z >>> 31)
        (z.toDouble / Long.MaxValue.toDouble)
      }
    }
}
