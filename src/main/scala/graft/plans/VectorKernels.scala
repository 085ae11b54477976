package graft.plans

import org.apache.spark.sql.catalyst.util.ArrayData

/** Native kernels for the embedding-similarity hot path. The HOF
  * formulation (`aggregate(zip_with(a, b, _*_), 0.0, _+_)` etc.) is
  * semantically right — a SEQUENTIAL left fold any engine replays
  * bit-identically — but higher-order functions never enter
  * whole-stage codegen: every candidate pair pays interpreted lambda
  * dispatch and boxed Doubles. These expressions run the SAME folds
  * (same IEEE operations, same order, same null propagation — each
  * accumulator's addition sequence is exactly its fold's) as tight
  * primitive loops inside codegen; Round13Spec pins bit-equality
  * against the HOF chain including the edge cases (empty arrays →
  * NaN, unequal lengths → null, null element → null).
  */
object VectorKernels {
  /** Cosine similarity — bit-identical to
    * `aggregate(zip_with(a,b,_*_),0,+) / (sqrt(aggregate(a,0,+x²)) *
    * sqrt(aggregate(b,0,+x²)))`. Boxed null when lengths differ or an
    * element is null (the zip_with padding / null-product path). */
  def cosineBoxed(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0d
    var na = 0.0d
    var nb = 0.0d
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  /** Squared L2 distance — bit-identical to
    * `aggregate(zip_with(a,b,(x,y)->(x-y)*(x-y)), 0.0, _+_)`. */
  def l2sqBoxed(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0d
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = a.getDouble(i) - b.getDouble(i)
      acc += d * d
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }
}
