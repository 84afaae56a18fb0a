package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._

/** Nearest-centroid kernel over a BROADCAST-style reference matrix —
  * `struct(cell int, cos double)` of the best centroid for an
  * `array<float>` vector, one expression regardless of k.
  *
  * Why not `array_max(array(struct(dot(v, lit(c_i))/n_i, -i), ...))`
  * (the per-centroid-literal formulation `assignCells` used before
  * round 10): that materializes k array literals + k structs PER ROW
  * and sorts them through generic comparators — fine at coarse k=16
  * (the benched IVF query path), catastrophic at training-scale k.
  * Measured on the k-means|| init at k=256 (candidate sets ~2k): a
  * single Lloyd/weights pass ran 230 s of CPU per task; this kernel
  * reduces the same pass to a flat k×d primitive loop with zero
  * per-centroid allocation.
  *
  * Numeric semantics are IDENTICAL to the old formulation by
  * construction: scores come from [[CentroidScorer]] (the dot and norm
  * rules are documented there); comparison is
  * `java.lang.Double.compare` (Spark's total order: NaN greatest,
  * -0.0 < 0.0) with strict-greater update, so ties keep the SMALLEST
  * centroid index — exactly `array_max`'s lexicographic
  * (s, -i) maximum. `SimilaritySpec` pins kernel == legacy
  * formulation across random vectors, ties, zero and NaN edges.
  *
  * `cos` is the best [[CentroidScorer]] score (the trainer divides it
  * by the row norm for true cosine).
  */
case class CentroidBest(child: Expression,
    centroids: Array[Array[Float]]) extends UnaryExpression {

  require(centroids.nonEmpty, "centroids must not be empty")

  @transient private lazy val score = new CentroidScorer(centroids)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float>, got ${other.simpleString}")
    }

  override def dataType: DataType = StructType(Seq(
    StructField("cell", IntegerType, nullable = false),
    StructField("cos", DoubleType, nullable = false)))

  override def prettyName: String = "centroid_best"

  def compute(vec: ArrayData): InternalRow = {
    var bestI = 0
    var bestS = score(vec, 0)
    var i = 1
    while (i < centroids.length) {
      val s = score(vec, i)
      if (java.lang.Double.compare(s, bestS) > 0) { bestI = i; bestS = s }
      i += 1
    }
    new GenericInternalRow(Array[Any](bestI, bestS))
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val kernel = ctx.addReferenceObj("kernel", this,
      classOf[CentroidBest].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $kernel.compute($c);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): CentroidBest = copy(child = newChild)
}

object CentroidBest {
  def apply(vec: Column, centroids: Seq[Array[Float]]): Column =
    bridge.toColumn(CentroidBest(bridge.toExpression(vec),
      centroids.toArray))
}

/** The centroid score both [[CentroidBest]] and [[CentroidTopN]] rank
  * by — the bit-determinism decision the DuckDB oracle relies on, kept
  * in one place: `apply(vec, i)` is the dot of `vec` with centroid `i`,
  * accumulated left-to-right in double exactly like [[VecDot]]
  * (float32 converts exactly), divided by that centroid's
  * `sqrt(Σ c²)`-as-double norm (a zero norm becomes 1.0). It is NOT
  * divided by |vec| — callers divide by the row norm when they need
  * true cosine; ranking per row is unaffected. */
final class CentroidScorer(centroids: Array[Array[Float]]) {

  private val norms: Array[Double] = centroids.map { c =>
    val n = math.sqrt(c.foldLeft(0.0)((a, x) => a + x.toDouble * x))
    if (n == 0.0) 1.0 else n
  }

  def apply(vec: ArrayData, i: Int): Double = {
    val c = centroids(i)
    val n = math.min(vec.numElements(), c.length)
    var s = 0.0
    var j = 0
    while (j < n) {
      s += vec.getFloat(j).toDouble * c(j).toDouble
      j += 1
    }
    s / norms(i)
  }
}
