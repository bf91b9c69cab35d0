package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

import Kernel._

/** Native codegen'd vector math over `array<float>` / `array<double>`.
  *
  * Spark's higher-order functions (`zip_with` + `aggregate`) evaluate the
  * lambda per element through the interpreter — they are NOT whole-stage
  * codegen'd, which makes them the bottleneck of dense similarity search
  * (measured: the HOF dot product dominates brute-force cosine top-k).
  * These kernels compile to one static call per row inside WSCG — the
  * preference order from the design brief: native Expression > UDF.
  *
  * Both inputs must be equal-length arrays with non-null elements
  * (embedding columns). Element type may be float or double per side;
  * accumulation is always double, elementwise in array order — bit-exact
  * with the HOF formulation and the DuckDB oracle. The static methods
  * take each side's element type as a flag and return null on a length
  * mismatch.
  */
object VectorExpressions {

  private def decl(name: String, method: String) = new KernelDecl(name,
    Seq(VectorIn, VectorIn), DoubleType, this, method, nullableResult = true,
    args = (types, _) => types.map {
      case ArrayType(FloatType, _) => true
      case _ => false
    })

  private[graft] val DotProduct = decl("graft_dot", "dot")
  private[graft] val CosineSimilarity = decl("graft_cosine", "cosine")
  private[graft] val SquaredDistance = decl("graft_sqdist", "sqDist")

  @inline private def at(a: ArrayData, i: Int, float: Boolean): Double =
    if (float) a.getFloat(i).toDouble else a.getDouble(i)

  /** Codegen'd dot product Column: elementwise dot product; null if lengths differ. */
  def dot(a: Column, b: Column): Column = DotProduct(a, b)

  def dot(a: ArrayData, b: ArrayData, fa: Boolean, fb: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var dot = 0.0
    var i = 0
    while (i < n) { dot += at(a, i, fa) * at(b, i, fb); i += 1 }
    dot
  }

  /** Codegen'd fused cosine similarity Column: dot, both norms, and the
    * divide in ONE pass. Null on length mismatch or zero norm. */
  def cosine(a: Column, b: Column): Column = CosineSimilarity(a, b)

  def cosine(a: ArrayData, b: ArrayData, fa: Boolean, fb: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = at(a, i, fa); val y = at(b, i, fb)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Codegen'd fused squared L2 distance Column: Σ(aᵢ−bᵢ)² in ONE fused
    * pass; null if lengths differ. Arithmetic is exactly `(a-b)*(a-b)`
    * accumulated left-to-right — bit-identical to DuckDB's
    * `list_dot_product(diff, diff)` over an elementwise diff, which is
    * what the PQ oracle replays. */
  def sqDist(a: Column, b: Column): Column = SquaredDistance(a, b)

  def sqDist(a: ArrayData, b: ArrayData, fa: Boolean, fb: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = at(a, i, fa) - at(b, i, fb)
      s += d * d
      i += 1
    }
    s
  }
}
