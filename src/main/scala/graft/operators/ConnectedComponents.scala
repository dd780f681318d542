package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Staging.Stageable

/** Connected components over an undirected edge list — the step a
  * dedup pipeline needs between near-dup PAIRS (q13b/q13c emit them)
  * and a keep-one decision: docs A~B and B~C must collapse into ONE
  * cluster even when A~C was never scored.
  *
  * Minimum-label propagation: every vertex starts labeled with
  * itself; each round a vertex takes the min label among itself and
  * its neighbors; fixpoint = every vertex carries the minimum vertex
  * id of its component. Each round is one join + one min-aggregation
  * (both shuffle on vertex id, so AQE coalesces them onto one
  * exchange), and the round count is the graph diameter — near-dup
  * graphs are unions of small cliques/chains, so a handful of rounds
  * at any corpus scale. The driver-side loop is iteration CONTROL
  * only (a count per round); all data stays distributed. The edge
  * closure, the seed labels and every round's labels go through
  * [[graft.Staging.stage]], so each round reads the previous round's
  * materialized labels (lineage stays one round deep) and every staged
  * frame is released once the call's result no longer references it.
  */
object ConnectedComponents {

  /** `edges`: two LONG columns (src, dst), undirected, self-loops and
    * duplicates tolerated. Returns (id, component) for every vertex
    * appearing in `edges`, component = min vertex id reachable. A
    * vertex whose only edges are self-loops has nothing reachable but
    * itself, so it comes back as a singleton component (id, id).
    */
  def components(edges: DataFrame, maxIter: Int = 25): DataFrame =
    componentsWithRounds(edges, maxIter)._1

  /** [[components]] plus the number of propagation rounds it took to
    * converge (the last round is the fixpoint check that observes no
    * change, so `rounds` = diameter-bound + 1). Exposed for
    * [[graft.ScaleProbe]], which pins the rounds-stay-constant
    * claim of the disjoint-shard corpus model: replicating shards
    * multiplies components, not diameters.
    */
  def componentsWithRounds(
      edges: DataFrame, maxIter: Int = 25): (DataFrame, Int) = {
    val spark = edges.sparkSession
    import spark.implicits._
    val Seq(srcCol, dstCol) = edges.columns.toSeq.take(2).map(col)
    val raw = edges.select(srcCol.cast("long").as("src"),
      dstCol.cast("long").as("dst"))
    // propagation runs over the self-loop-free symmetric closure (a
    // self edge carries no information), but the LABEL set must cover
    // every endpoint in the input, or self-loop-only vertices vanish
    val sym = raw.unionByName(raw.select($"dst".as("src"), $"src".as("dst")))
      .filter($"src" =!= $"dst").distinct().staged

    var labels = raw.select($"src".as("id"))
      .unionByName(raw.select($"dst".as("id"))).distinct()
      .select($"id", $"id".as("component")).staged
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // neighbor labels flow along edges; keep own label in the race
      val next = sym
        .join(labels, $"src" === $"id")
        .select($"dst".as("id"), $"component")
        .unionByName(labels)
        .groupBy($"id").agg(min($"component").as("component"))
        .staged
      val changed = next.as("n")
        .join(labels.as("o"), $"n.id" === $"o.id")
        .filter($"n.component" =!= $"o.component")
        .count()
      labels = next
      converged = changed == 0
      iter += 1
    }
    require(converged,
      s"connected components did not converge within $maxIter rounds " +
        "(graph diameter exceeds the bound — raise maxIter)")
    (labels, iter)
  }
}
