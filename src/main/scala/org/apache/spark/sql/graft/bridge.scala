package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression and LogicalPlan ⇄ DataFrame bridge for this
  * library's custom Catalyst tier. Spark 4 made the converters
  * `private[sql]` (`classic.ExpressionUtils`, `classic.Dataset.ofRows`,
  * `Dataset.queryExecution`'s plan types), so the bridge lives under
  * the sql package — the established pattern for third-party
  * expression/operator libraries. It also reaches the one
  * `private[spark]` call the checkpoint release needs. */
object bridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `e` with -0.0/0.0 and every NaN folded to one value each — the
    * form the optimizer gives aggregate, join and window keys. */
  def normalizedKey(e: Expression): Expression =
    NormalizeFloatingNumbers.normalize(e)

  /** Wrap a custom logical node as a DataFrame (for operators that are
    * whole plan nodes, e.g. [[graft.plans.TopKPerGroupLogical]]). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Frees a persisted RDD's blocks. Unlike `RDD.unpersist` it logs no
    * warning that a locally checkpointed RDD cannot be recomputed: that
    * holds for every checkpoint released once nothing reads it. */
  def unpersistQuietly(rdd: RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  /** The analyzed logical plan of a DataFrame — the child to hang a
    * custom logical node under (analyzed, so its `output` attributes
    * are resolved and can be referenced by the node's expressions). */
  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed
}
