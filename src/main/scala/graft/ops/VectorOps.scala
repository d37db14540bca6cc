package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector (embedding) column builders over `ArrayType(FloatType)` columns.
  *
  * All arithmetic is promoted to double inside linear HOF folds (SURVEY.md
  * H11): the fold order is left-to-right, matching the reference oracle's
  * list kernels, so results are bit-stable cross-engine; rankings and
  * thresholds should still go through [[cosine6]] (round to 6dp) so ulp
  * noise cannot flip them (H10).
  *
  * These lower to Catalyst `ArrayTransform`/`ArrayAggregate`/`ZipWith`
  * expressions — no UDF, no serialization wall; they stay inside whole-stage
  * codegen'd projections. For 100 TB-scale similarity search prefer the
  * bucketed paths in [[Ann]] over all-pairs scans.
  */
object VectorOps {

  private val D = "double"

  /** dot(a, b) as a left-fold in double precision. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast(D) * y.cast(D)),
      lit(0.0),
      (acc, x) => acc + x)

  /** L2 norm in double precision. */
  def norm2(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast(D) * x.cast(D)), lit(0.0), (acc, x) => acc + x))

  /** Cosine similarity (unrounded — for internal math).
    *
    * Zero-norm (or empty) vectors yield NaN, matching the native
    * single-pass expression's 0/0 arithmetic. The branch matters under
    * Spark 4's default ANSI mode, where a bare `/` THROWS Divide-by-zero —
    * one degenerate embedding must not kill a 100 TB job; NaN simply fails
    * every `sim >= t` threshold downstream. CaseWhen evaluates the divide
    * only when the denominator is nonzero, so no error can fire.
    */
  def cosine(a: Column, b: Column): Column = {
    val den = norm2(a) * norm2(b)
    when(den === 0.0, lit(Double.NaN)).otherwise(dot(a, b) / den)
  }

  /** Cosine similarity rounded to 6dp — the rank/threshold-safe form. */
  def cosine6(a: Column, b: Column): Column = round(cosine(a, b), 6)

  /** Native single-pass cosine (graft.functions.CosineSimilarity): bit-
    * identical to [[cosine]] (same per-accumulator fold order) but one
    * fused codegen'd loop instead of three HOF passes. Requires a session
    * built by graft.engine.Graft (the extension registers the function). */
  def cosineNative(a: Column, b: Column): Column =
    call_function("cosine_sim", a, b)

  /** [[cosineNative]] rounded to 6dp. */
  def cosine6Native(a: Column, b: Column): Column = round(cosineNative(a, b), 6)

  // ---- int8 quantization: the memory-bandwidth lever for vector scans ----
  //
  // A 100 TB corpus of 768-dim float32 embeddings is ~300 TB of vector
  // bytes; brute-force and IVF probes are bandwidth-bound, not FLOP-bound.
  // Symmetric per-vector int8 codes cut the scanned bytes 4× — and because
  // the per-vector scale multiplies BOTH the dot product and the norm, it
  // cancels out of cosine entirely, so ranking over the codes needs no
  // dequantization at all. Use for candidate generation / coarse ranking;
  // re-rank survivors with the float vectors (VectorOpsSpec pins recall).

  /** Symmetric int8 codes: round(x * 127 / max|x|), clamped to ±127.
    * All-zero vectors quantize to all-zero codes (scale guard — no ANSI
    * divide-by-zero, H13). Stored as array<tinyint>: 4× fewer bytes than
    * float32 at rest and in flight. */
  def quantizeInt8(vec: Column): Column = {
    val amax = array_max(transform(vec, x => abs(x.cast(D))))
    val s = when(amax === 0.0, lit(1.0)).otherwise(amax / 127.0)
    transform(vec, x =>
      greatest(lit(-127.0), least(lit(127.0), round(x.cast(D) / s, 0)))
        .cast("tinyint"))
  }

  /** Cosine over int8 codes — the per-vector scales cancel, so this is
    * plain integer dot/norms in a double fold. Approximation error vs the
    * float cosine is bounded by the quantization step (≤ ~1/127 per
    * coordinate; VectorOpsSpec measures < 0.02 absolute on the fixtures). */
  def cosineInt8(qa: Column, qb: Column): Column = {
    val den = norm2(qa) * norm2(qb)
    when(den === 0.0, lit(Double.NaN)).otherwise(dot(qa, qb) / den)
  }

  /** Native single-pass [[cosineInt8]] (graft.functions.CosineSimilarity's
    * int8 arm): bit-identical to the HOF form — same per-accumulator fold
    * order, tinyint→double element promotion, NaN on zero norms (0/0; a
    * nonzero/0 cannot occur) — in ONE fused codegen loop. The coarse rank
    * of every quantized search path scores candidate×code pairs with
    * this; the three-pass HOF was its measured hot spot (round-10 ANN
    * fixed-cost breakdown, SURVEY §6:
    * coarse-cut rank work 1.06 s → 0.24 s, whole fused IVF probe
    * 2.3 s → 1.36 s). Requires a Graft session (the extension registers
    * `cosine_sim`). */
  def cosineInt8Native(qa: Column, qb: Column): Column =
    call_function("cosine_sim", qa, qb)
}
