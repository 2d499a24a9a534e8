package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.operators.SimilarityOps

/** The higher-order-function (CodegenFallback) formulations of the
  * similarity primitives, kept as independent references for the native
  * expressions ([[graft.functions.DotProduct]], [[graft.functions.CosineSim]],
  * [[graft.functions.HyperplaneSig]]) that replaced them in
  * [[SimilarityOps]]: the natives must be bit-identical to these. Test
  * oracles, never a production path.
  */
object SimilarityReference {

  /** Strict left fold of the element-wise products. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** Composed three-pass cosine: dot / (‖a‖·‖b‖), 0 for a zero norm. */
  def cosineComposed(a: Column, b: Column): Column = {
    val ad = a.cast("array<double>")
    val bd = b.cast("array<double>")
    def norm(v: Column): Column = sqrt(SimilarityOps.dot(v, v))
    val den = norm(ad) * norm(bd)
    when(den > 0, SimilarityOps.dot(ad, bd) / den).otherwise(lit(0.0))
  }

  /** Deterministic pseudo-random hyperplane component in [-1, 1):
    * derived from xxhash64(plane, j).
    */
  private def planeComponent(plane: Column, j: Column): Column =
    (xxhash64(plane, j).cast("double") / lit(Long.MaxValue.toDouble))

  /** Sign-bit signature against `nPlanes` hyperplanes, one interpreted
    * lambda chain per plane, packed into a long.
    */
  def hyperplaneSignatureHof(v: Column, nPlanes: Int): Column = {
    val vd = v.cast("array<double>")
    val bits = (0 until nPlanes).map { p =>
      val proj = aggregate(
        zip_with(vd, sequence(lit(0), size(vd) - 1),
          (x, j) => x * planeComponent(lit(p), j)),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, shiftleft(lit(1L), p)).otherwise(0L)
    }
    bits.reduce(_.bitwiseOR(_))
  }
}
