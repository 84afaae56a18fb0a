package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._

/** The `n` nearest centroid cells for an `array<float>` vector, best
  * first — [[CentroidBest]]'s multi-probe companion, one expression
  * regardless of k. Ordering is (score desc, cell asc), identical to
  * the `sort_array(array(struct(s, -i)), desc).slice(1, n)`
  * per-centroid-literal formulation `Similarity.probeCells` used
  * before round 10 (which shares the allocation pathology
  * [[CentroidBest]]'s Scaladoc documents — k structs + k array
  * literals per row through a generic comparator sort). Selection is
  * an O(k·n) insertion into a fixed n-slot buffer: iterating cells in
  * ascending index with strict `Double.compare` displacement keeps
  * equal-score cells in ascending-index order — the same total order
  * `sort_array` descending produces on (s, -i) structs.
  * `SimilaritySpec` pins kernel == legacy on random vectors including
  * duplicate (tied) centroids.
  */
case class CentroidTopN(child: Expression,
    centroids: Array[Array[Float]], n: Int) extends UnaryExpression {

  require(centroids.nonEmpty, "centroids must not be empty")
  require(n >= 1 && n <= centroids.length,
    s"n must be in [1, ${centroids.length}], got $n")

  @transient private lazy val score = new CentroidScorer(centroids)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float>, got ${other.simpleString}")
    }

  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)

  override def prettyName: String = "centroid_top_n"

  def compute(vec: ArrayData): ArrayData = {
    val keptS = new Array[Double](n)
    val keptI = new Array[Int](n)
    var size = 0
    var i = 0
    while (i < centroids.length) {
      val s = score(vec, i)
      // find insertion point: strictly-better scores displace; equal
      // scores keep the earlier (smaller) index ahead
      if (size < n || java.lang.Double.compare(s, keptS(size - 1)) > 0) {
        var pos = if (size < n) size else n - 1
        while (pos > 0 && java.lang.Double.compare(s, keptS(pos - 1)) > 0) {
          keptS(pos) = keptS(pos - 1); keptI(pos) = keptI(pos - 1)
          pos -= 1
        }
        keptS(pos) = s; keptI(pos) = i
        if (size < n) size += 1
      }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(keptI, size)
      .asInstanceOf[Array[Int]].map(x => x: Any))
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val kernel = ctx.addReferenceObj("kernel", this,
      classOf[CentroidTopN].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $kernel.compute($c);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): CentroidTopN = copy(child = newChild)
}

object CentroidTopN {
  def apply(vec: Column, centroids: Seq[Array[Float]], n: Int): Column =
    bridge.toColumn(CentroidTopN(bridge.toExpression(vec),
      centroids.toArray, n))
}
