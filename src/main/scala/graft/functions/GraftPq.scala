package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.Decimal

/** Flat per-row kernels for the PQ encode / ADC search path
  * (graft.plans.PqEncodeExpr / PqDistTableExpr).
  *
  * The expression-composed forms (16 `least()` trees of 32 structs,
  * each holding a `graft_dot` loop) inline to >64 KB of generated Java
  * per method, so janino rejects the stage and Spark silently falls
  * back to INTERPRETED evaluation — per-row virtual dispatch on the
  * one scan that touches every corpus vector. These kernels compute
  * the identical values in one JIT-compiled loop nest per row and keep
  * the stage inside whole-stage codegen (the composed forms stay in
  * Similarity as the bit-parity references).
  *
  * Bit-compatibility contract (pinned by SimilaritySpec): every dot
  * folds left-to-right in double precision exactly like
  * [[graft.plans.DotProductF64]]; the argmin keeps the LOWEST code on
  * score ties (the `least()`-over-(s, c)-structs order); each
  * subspace's reconstruction term rounds through
  * `BigDecimal.valueOf(d).setScale(6, HALF_UP)` — the same
  * shortest-string double→6dp-decimal path Spark's `round(_, 6)` +
  * `cast(decimal)` takes — and the terms sum EXACTLY as scaled longs
  * (decimal addition is exact, so order is irrelevant).
  */
object GraftPq {

  private def dotSlice(vec: ArrayData, off: Int, dsub: Int,
                       c: Array[Double]): Double = {
    val n = vec.numElements()
    var d = 0.0
    var i = 0
    while (i < dsub && off + i < n) {
      d += vec.getFloat(off + i).toDouble * c(i)
      i += 1
    }
    d
  }

  private def selfDot(vec: ArrayData, off: Int, dsub: Int): Double = {
    val n = vec.numElements()
    var d = 0.0
    var i = 0
    while (i < dsub && off + i < n) {
      val x = vec.getFloat(off + i).toDouble
      d += x * x
      i += 1
    }
    d
  }

  /** `round(d, 6)` then decimal-cast, as one unscaled long (scale 6).
    * `longValueExact` throws on a value outside long range at scale 6
    * (≈9.2e12) — impossible for unit-scale embeddings, and a loud
    * failure beats a silent divergence from the expression form.
    */
  private def round6Unscaled(d: Double): Long =
    java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()

  /** PQ-encode one vector: struct(codes array<int>, recon_err
    * decimal(28,6)). `cc(mi)(j)` is the precomputed ‖c‖² self-dot of
    * codebook entry j in subspace mi (same Scala fold as the literal
    * the expression form embeds).
    */
  def encode(vec: ArrayData, cb: Array[Array[Array[Double]]],
             cc: Array[Array[Double]]): InternalRow = {
    val m = cb.length
    val dsub = if (m > 0 && cb(0).length > 0) cb(0)(0).length else 0
    val codes = new Array[Int](m)
    var totalUnscaled = 0L
    var mi = 0
    while (mi < m) {
      val off = mi * dsub
      val cbm = cb(mi)
      val ccm = cc(mi)
      var best = Double.PositiveInfinity
      var bestJ = 0
      var j = 0
      while (j < cbm.length) {
        val s = ccm(j) - 2.0 * dotSlice(vec, off, dsub, cbm(j))
        if (s < best) { best = s; bestJ = j } // strict < keeps the lowest code on ties
        j += 1
      }
      codes(mi) = bestJ
      totalUnscaled += round6Unscaled(best + selfDot(vec, off, dsub))
      mi += 1
    }
    new GenericInternalRow(Array[Any](
      new GenericArrayData(codes), Decimal(totalUnscaled, 28, 6)))
  }

  /** ADC distance of one code row against one query's distance table:
    * Σ_m dt[m·ksub + codes[m]].d2 as decimal(28,6). The decimals are
    * 6dp-exact, so summing their unscaled longs IS decimal addition —
    * bit-equal to the unnest-join-groupBy-sum formulation it replaces
    * (which shuffled Q×N partial-sum rows; this shape shuffles nothing
    * before the top-k cut).
    */
  def adcSum(codes: ArrayData, dt: ArrayData): Decimal = {
    val m = codes.numElements()
    if (m == 0) return Decimal(0L, 28, 6)
    val ksub = dt.numElements() / m
    var total = 0L
    var mi = 0
    while (mi < m) {
      val row = dt.getStruct(mi * ksub + codes.getInt(mi), 3)
      total += row.getDecimal(2, 18, 6).toUnscaledLong
      mi += 1
    }
    Decimal(total, 28, 6)
  }

  /** The per-query ADC distance table: array of (m, code, d2) rows,
    * d2 = round(‖q_m − c_j‖², 6) as decimal(18,6) — the broadcast
    * side every ADC search ([[graft.operators.Similarity.knn]]) scores
    * the code table against.
    */
  def distTable(vec: ArrayData, cb: Array[Array[Array[Double]]],
                cc: Array[Array[Double]]): ArrayData = {
    val m = cb.length
    val dsub = if (m > 0 && cb(0).length > 0) cb(0)(0).length else 0
    val ksub = if (m > 0) cb(0).length else 0
    val out = new Array[Any](m * ksub)
    var idx = 0
    var mi = 0
    while (mi < m) {
      val off = mi * dsub
      val self = selfDot(vec, off, dsub)
      val cbm = cb(mi)
      val ccm = cc(mi)
      var j = 0
      while (j < cbm.length) {
        val s = ccm(j) - 2.0 * dotSlice(vec, off, dsub, cbm(j))
        out(idx) = new GenericInternalRow(Array[Any](
          mi, j, Decimal(round6Unscaled(s + self), 18, 6)))
        idx += 1
        j += 1
      }
      mi += 1
    }
    new GenericArrayData(out)
  }
}
