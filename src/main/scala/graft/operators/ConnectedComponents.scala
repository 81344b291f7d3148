package graft.operators

import graft.Ckpt.StableCheckpoint
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components — the step AFTER pairwise near-dup detection in
  * a dedup pipeline: pairs → clusters → one representative per cluster
  * (d11 over the d6 pair graph, d37 over the setsim pair set).
  *
  * One algorithm, alternating large-star/small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond"): it converges in
  * O(log² n) rounds on ANY graph shape, including the deep, id-shuffled
  * chains a near-dup corpus can contain. Min-label propagation with a
  * label-of-label step is no substitute: that step halves the distance
  * to the minimum only where ids increase along the chain, so a
  * 101-node path with shuffled ids needs ~39 rounds and a 2,003-node one
  * over a thousand (EdgeSpec pins both shapes). All per-round work is
  * distributed (join + groupBy on the edge list); the driver only steers
  * the loop and tests for the fixpoint. `localCheckpoint` truncates the
  * lineage each round — without it the plan doubles per iteration.
  */
object ConnectedComponents {

  /** large-star: every node u links its LARGER neighbors to
    * m = min(Γ(u) ∪ u); small-star (on larger→smaller oriented edges)
    * collapses each node's smaller neighborhood onto its minimum. At the
    * fixpoint the edges form stars rooted at component minima. Every
    * round is two groupBy-join passes over the edge list (no state
    * besides the edges themselves, so memory is edge-bounded) and one
    * aggregate that tests for stars.
    *
    * @param nodes single column `node` — every vertex (singletons kept)
    * @param edges columns `src`, `dst` — undirected
    * @return columns `node`, `cluster` (= min node id reachable)
    */
  def largeSmallStar(nodes: DataFrame, edges: DataFrame,
      maxIter: Int = 25): DataFrame = {
    // canonical edge set, oriented larger → smaller, self-loops dropped
    var e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      .distinct().stableCheckpoint()
    var it = 0
    var done = isStars(e)
    while (!done && it < maxIter) {
      // LARGE-STAR over the symmetric neighborhood: m = min(Γ(a) ∪ a);
      // emit (v, m) for every neighbor v > a
      val symm = e.select(col("u").as("a"), col("v").as("b"))
        .unionByName(e.select(col("v").as("a"), col("u").as("b")))
      val minsL = symm.groupBy(col("a")).agg(min(col("b")).as("mb"))
        .select(col("a"), least(col("mb"), col("a")).as("m"))
      val large = symm.join(minsL, "a")
        .filter(col("b") > col("a"))
        .select(col("b").as("u"), col("m").as("v"))
        .distinct().stableCheckpoint()
      // SMALL-STAR on the (u > v)-oriented output: collapse each node's
      // smaller neighborhood (and itself) onto its minimum neighbor
      val minsS = large.groupBy(col("u")).agg(min(col("v")).as("m"))
      e = large.join(minsS, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(minsS.select(col("u"), col("m").as("v")))
        .distinct().stableCheckpoint()
      done = isStars(e)
      it += 1
    }
    require(done, s"connected components did not converge in $maxIter iterations")
    val lab = e.groupBy(col("u")).agg(min(col("v")).as("cluster"))
      .select(col("u").as("node"), col("cluster"))
    nodes.select(col("node")).distinct()
      .join(lab, Seq("node"), "left")
      .select(col("node"), coalesce(col("cluster"), col("node")).as("cluster"))
  }

  /** The fixpoint test, one job: the (u > v)-oriented edge set is a
    * union of stars — every u has exactly one v, and no v is itself a u
    * — so each center is its component's minimum. Stars are a fixpoint
    * of both steps, so the loop stops without a confirming round. */
  private def isStars(e: DataFrame): Boolean =
    e.select(col("u").as("x"), lit(1L).as("out"), lit(0L).as("in"))
      .unionByName(e.select(col("v").as("x"), lit(0L).as("out"), lit(1L).as("in")))
      .groupBy(col("x")).agg(sum(col("out")).as("out"), sum(col("in")).as("in"))
      .filter(col("out") > 1 || (col("out") === 1 && col("in") > 0))
      .isEmpty
}
