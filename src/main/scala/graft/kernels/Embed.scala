package graft.kernels

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** Embedding-analysis kernels of the codegen'd expressions that the PCA
  * rounds of [[graft.ops.Embeddings]] run. Both evaluate the exact double
  * trees the DuckDB oracles restate — sequential index-order
  * accumulation, 9-dp BigDecimal HALF_UP lane rounding.
  */
object Embed {

  /** ⟨x−μ, v⟩ with a sequential index-order fold. A NULL lane fails fast
    * ([[Sketches.denseLane]]). Static entry point for generated code
    * ([[graft.expressions.CenteredDot]]).
    */
  def centeredDot(arr: ArrayData, mu: Array[Double], v: Array[Double]): Double =
    centeredDot(arr, mu, v, "centered_dot")

  private def centeredDot(arr: ArrayData, mu: Array[Double], v: Array[Double], fn: String): Double = {
    val n = mu.length
    require(arr.numElements() == n,
      s"centered_dot: expected dim $n, got ${arr.numElements()}")
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += (Sketches.denseLane(arr, i, fn).toDouble - mu(i)) * v(i)
      i += 1
    }
    acc
  }

  /** Per-lane PCA contributions round9((x_i−μ_i)·⟨x−μ, v⟩); the dot has
    * checked every lane. Static entry point for generated code
    * ([[graft.expressions.PcaLaneTerms]]).
    */
  def pcaLaneTerms(arr: ArrayData, mu: Array[Double], v: Array[Double]): ArrayData = {
    val d = centeredDot(arr, mu, v, "pca_lane_terms")
    val n = mu.length
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) = Quantize.roundHalfUp((arr.getFloat(i).toDouble - mu(i)) * d, 9)
      i += 1
    }
    new GenericArrayData(out)
  }
}
