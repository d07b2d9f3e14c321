package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** The float→double dot fold of every engine path: each element widened to
  * double, multiplied, accumulated left to right from 0.0 — the
  * operation sequence of the `zip_with`+`aggregate` composition and of
  * the DuckDB oracle's `list_aggregate(..., 'sum')`. The codegen'd dot
  * expressions ([[DotProductFloat]], [[DotFloatDouble]]) and the IVF-PQ
  * serving kernel ([[graft.operators.Similarity]]) all call it, so their
  * doubles agree bit for bit by construction. */
object DotFold {

  /** Σ x_i·y_i over the common prefix of two Catalyst float arrays. */
  def floatFloat(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  /** Σ x_i·y_i over the common prefix of a float and a double array. */
  def floatDouble(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getFloat(i).toDouble * y.getDouble(i)
      i += 1
    }
    s
  }

  /** Σ x_i·y_i over `n` floats of `x` from `xi` and `n` floats of `y`
    * from `yi` (slices of flat JVM arrays). */
  def floatFloat(x: Array[Float], xi: Int, y: Array[Float], yi: Int,
      n: Int): Double = {
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x(xi + i).toDouble * y(yi + i).toDouble
      i += 1
    }
    s
  }

  /** Σ x_i·y_i over `n` floats of `x` from `xi` and `n` doubles of `y`
    * from `yi`. */
  def floatDouble(x: Array[Float], xi: Int, y: Array[Double], yi: Int,
      n: Int): Double = {
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x(xi + i).toDouble * y(yi + i)
      i += 1
    }
    s
  }
}
