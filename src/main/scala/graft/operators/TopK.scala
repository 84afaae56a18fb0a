package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, SortOrder}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge

/** Top-k rows per group through the native plan node
  * ([[graft.plans.TopKPerGroupLogical]] → [[graft.plans.TopKPerGroupExec]]
  * partial/final, planned by [[graft.plans.TopKStrategy]]): a bounded
  * heap per group before AND after a Catalyst-planned hash exchange.
  *
  * The naive `row_number().over(partitionBy(g).orderBy(s))` + `rank<=k`
  * shuffles and SORTS every input row; here the exchange carries at
  * most `partitions × groups × k` rows. For ANN scoring (N vectors × Q
  * queries, k neighbours) that is the difference between shuffling Q·N
  * scored pairs and shuffling Q·k·P — at 100 TB the only viable shape.
  *
  * Determinism: selection order is (score DESC, id ASC) — a total
  * order once ids are unique per group, so local-prune-then-global-
  * rank is EXACTLY the global top-k (pinned against the window form
  * by `NativeTopKSpec` and by the ANN rows' oracles).
  */
object TopK {

  /** Top-k rows per group of `(group, id, score)`, ranked
    * `(score desc, id asc)`. Output columns: group, id, score, rank.
    * No casts: the exec keys and orders arbitrary expressions
    * (UnsafeProjection + RowOrdering), so string groups / integer
    * scores pass through with their input types intact. The trailing
    * `row_number` window only ranks the ≤ groups×k survivors — a
    * negligible sort over the answer, not the corpus. */
  def perGroup(df: DataFrame, groupCol: String, idCol: String,
      scoreCol: String, k: Int): DataFrame = {
    val typed = df.select(col(groupCol), col(idCol), col(scoreCol))
    val child = bridge.analyzed(typed)
    def attr(n: String) = child.output.find(_.name == n).get
    val node = graft.plans.TopKPerGroupLogical(
      Seq(attr(groupCol)),
      Seq(SortOrder(attr(scoreCol), Descending),
        SortOrder(attr(idCol), Ascending)),
      k, child)
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(scoreCol).desc, col(idCol))
    bridge.ofRows(df.sparkSession, node)
      .withColumn("rank", row_number().over(w))
  }
}
