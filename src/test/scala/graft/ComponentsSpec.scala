package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Pins [[Dedup.connectedComponents]]: transitive closure over near-dup
  * pairs (the cluster-resolution step after pairing), min-id canonical
  * selection, multi-component separation, and the non-convergence
  * guard. A 6-node chain forces the worst case for min-label
  * propagation — the min travels one hop per round — so it also proves
  * the iteration actually iterates.
  */
class ComponentsSpec extends SparkSpec {

  test("chain + triangle + isolated pair resolve to min-id canonicals") {
    import spark.implicits._
    // component 1: chain 10-11-12-13 (diameter 3, worst case for
    // label propagation); component 2: triangle 20-21-22 with a
    // redundant edge; component 3: lone pair 30-31
    val pairs = Seq(
      (11L, 10L), (11L, 12L), (12L, 13L),
      (20L, 21L), (21L, 22L), (20L, 22L),
      (30L, 31L)
    ).toDF("id_a", "id_b")
    val out = Dedup.connectedComponents(pairs, col("id_a"), col("id_b"))
      .as[(Long, Long)].collect().toMap
    assert(out === Map(
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L,
      30L -> 30L, 31L -> 30L))
  }

  test("survivors keeps the unpaired ids plus each component's min id") {
    import spark.implicits._
    // chain 10-11-12-13, triangle 20-21-22, lone pair 30-31, and three
    // ids in no pair at all
    val pairs = Seq(
      (11L, 10L), (11L, 12L), (12L, 13L),
      (20L, 21L), (21L, 22L), (20L, 22L),
      (30L, 31L)
    ).toDF("id_a", "id_b")
    val ids = Seq(10L, 11L, 12L, 13L, 20L, 21L, 22L, 30L, 31L, 1L, 40L, 50L)
      .toDF("doc_id")
    val out = Dedup.survivors(ids, pairs)
    assert(out.columns.toSeq === Seq("doc_id"))
    assert(out.as[Long].collect().sorted.toSeq ===
      Seq(1L, 10L, 20L, 30L, 40L, 50L))
  }

  test("non-convergence within maxIters throws instead of returning a " +
      "partial clustering") {
    import spark.implicits._
    // a 5-hop chain cannot close in 2 propagation rounds, and
    // maxIters=2 leaves the star-contraction fallback zero budget
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("id_a", "id_b")
    val ex = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(chain, col("id_a"), col("id_b"),
        maxIters = 2)
    }
    assert(ex.getMessage.contains("did not converge"))
    // with room to iterate the same chain closes onto id 1
    val ok = Dedup.connectedComponents(chain, col("id_a"), col("id_b"))
      .as[(Long, Long)].collect().toMap
    assert(ok.values.toSet === Set(1L))
    assert(ok.keySet === Set(1L, 2L, 3L, 4L, 5L, 6L))
  }

  test("10k-node path graph converges via the large-star/small-star " +
      "fallback (diameter ≫ propagation budget)") {
    import spark.implicits._
    // A pure chain is the adversarial dup topology: pairwise near-dup
    // boilerplate that never closes transitively. Diameter 9999 —
    // label propagation alone would need 9999 rounds; the contraction
    // fallback must close it geometrically within the default budget.
    val n = 10000L
    val chain = spark.range(1L, n)
      .select(col("id").as("id_a"), (col("id") + 1L).as("id_b"))
    val out = Dedup.connectedComponents(chain, col("id_a"), col("id_b"))
      .as[(Long, Long)].collect()
    assert(out.length === n)
    assert(out.map(_._2).distinct === Array(1L))
    assert(out.map(_._1).sorted === (1L to n).toArray)
  }
}
