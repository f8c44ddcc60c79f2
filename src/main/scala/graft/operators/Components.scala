package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list — the step that turns
  * near-duplicate PAIRS into duplicate CLUSTERS so dedup can keep one
  * canonical document per cluster (min id), drop the rest.
  *
  * Min-label propagation: every node starts labeled with its own id; each
  * round every node takes the min of its label and its neighbors' labels;
  * fixpoint = components. All data-plane work is joins + aggregations
  * (shuffles keyed by node id — AQE-coalesced, skew-splittable); the
  * driver only orchestrates rounds and checks the converged count.
  *
  * Scale: label-propagation rounds = component diameter — right for the
  * shallow clusters near-dup graphs produce (a dup of a dup is still
  * textually close). A web-scale dup graph can hide long chains, so the
  * [[StarContraction]] variant (alternating large-star/small-star,
  * Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC'14) is selectable: O(log n) rounds regardless of diameter.
  * Each round `localCheckpoint`s — without cutting lineage the plan
  * doubles per round and Catalyst analysis dominates by round ~10.
  */
object Components {

  /** Algorithm selector for [[connectedComponents]]. */
  sealed trait CcAlgorithm
  /** Diameter-bounded min-label propagation (default: near-dup graphs). */
  case object LabelPropagation extends CcAlgorithm
  /** Alternating large-star/small-star contraction — O(log n) rounds on
    * ANY graph shape; the escape hatch for long chains. */
  case object StarContraction extends CcAlgorithm

  /** `nodes`: one `id` column; `edges`: `src`,`dst` (any orientation,
    * self-loops ignored). Returns (id, comp) with comp = min node id
    * reachable — deterministic, identical for both algorithms. */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
                          maxRounds: Int = 25,
                          algorithm: CcAlgorithm = LabelPropagation): DataFrame =
    algorithm match {
      case LabelPropagation => connectedComponentsLabel(nodes, edges, maxRounds)
      case StarContraction  => connectedComponentsStar(nodes, edges, maxRounds)
    }

  private def connectedComponentsLabel(nodes: DataFrame, edges: DataFrame,
                                       maxRounds: Int): DataFrame = {
    // Materialize the edge list ONCE: `sym` is re-read every round (join +
    // convergence count), and an expensive upstream edge derivation (e.g.
    // the ngram-Jaccard all-pairs) would otherwise re-execute per round.
    // Symmetrize with ONE explode pass — a union of two selects would
    // execute that upstream derivation twice before the checkpoint.
    val sym = edges
      .select(explode(array(
        struct(col("src").as("s"), col("dst").as("d")),
        struct(col("dst").as("s"), col("src").as("d")))).as("e"))
      .select(col("e.s").as("src"), col("e.d").as("dst"))
      .filter(col("src") =!= col("dst"))
      .localCheckpoint()
    var labels = nodes.select(col("id"), col("id").as("comp")).localCheckpoint()
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      // min(self ∪ neighbors) in ONE aggregation: the self label rides the
      // union (every node has exactly one self row, so the groupBy covers
      // isolated nodes and `prev` = the self label) — r16, guide §2.4:
      // this replaces the old groupBy(neighbor-min) + second labels join
      // per round with a single keyed exchange.
      val neighbor = sym.join(labels, sym("dst") === labels("id"))
        .select(sym("src").as("id"), col("comp"), lit(false).as("self"))
      val updatedPlan = neighbor
        .union(labels.select(col("id"), col("comp"), lit(true).as("self")))
        .groupBy("id")
        .agg(min(col("comp")).as("comp"),
          min(when(col("self"), col("comp"))).as("prev"))
        // an edge endpoint missing from `nodes` has no self row: drop it,
        // or its null `prev` would read as unchanged and leak its id
        .filter(col("prev").isNotNull)
        // Carry a changed FLAG through the checkpoint so convergence is the
        // materializing job's own sum (CheckpointOps fusion) — NOT a second
        // count job per round.
        .select(col("id"), col("comp"),
          (col("comp") =!= col("prev")).cast("int").as("chg"))
      val (updated, changed) = graft.ops.CheckpointOps.localCheckpointAggregate(
        updatedPlan, 0L)((n, r) => n + r.getInt(2), _ + _)
      labels = updated.select("id", "comp")
      converged = changed == 0
      round += 1
    }
    require(converged, s"label propagation did not converge in $maxRounds rounds " +
      "(long-chain graph — pass algorithm = StarContraction)")
    labels
  }

  /** Large-star/small-star contraction. Per round, each node u computes
    * m = min(N(u) ∪ {u}); large-star rewires every neighbor LARGER than u
    * to m, small-star rewires every neighbor smaller (plus u itself) to m.
    * Both steps are one symmetrize-explode + one min-aggregate + one join,
    * all keyed shuffles (AQE-coalesced); the edge set provably converges
    * in O(log n) rounds to stars rooted at each component's min id.
    * Fixpoint check is exact set equality (count + anti-join), not a
    * hash checksum — this gates dedup correctness. */
  private def connectedComponentsStar(nodes: DataFrame, edges: DataFrame,
                                      maxRounds: Int): DataFrame = {
    // Canonical undirected edges (u > v), self-loops dropped, ONE pass
    // over the (possibly expensive) upstream edge derivation.
    var (e, cnt) = graft.ops.CheckpointOps.localCheckpointAggregate(edges
      .filter(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      .distinct(), 0L)((n, _) => n + 1, _ + _)
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      // Neighborhood views: both directions of each canonical edge.
      def sym(d: DataFrame) = d.select(explode(array(
          struct(col("u").as("s"), col("v").as("d")),
          struct(col("v").as("s"), col("u").as("d")))).as("e"))
        .select(col("e.s").as("s"), col("e.d").as("d"))
      // Both star steps need every neighbor row TOGETHER with its node's
      // neighborhood min — a window min over the s partition, not a
      // groupBy+self-join (r16, guide §2.4: the window reuses the ONE
      // exchange on s; the agg+join form paid an extra exchange + join
      // stage per step, ~2 more AQE stage jobs per round). min() over an
      // unordered bounded partition is deterministic; values identical.
      val wS = org.apache.spark.sql.expressions.Window.partitionBy("s")
      // Large-star: neighbors larger than s attach to m = min(N(s) ∪ {s}).
      // NOT distinct'd/checkpointed: duplicate (u,m) rows are harmless —
      // the small-star min absorbs them and `small.distinct()`
      // canonicalizes — and at bench scale the extra per-round jobs
      // (a distinct shuffle + a materialization barrier) cost more than
      // recomputing this narrow subtree into both small-star consumers.
      val large = sym(e)
        .withColumn("m", least(col("s"), min(col("d")).over(wS)))
        .filter(col("d") > col("s"))
        .select(col("d").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
      // Small-star: neighbors smaller than s (and s itself) attach to m.
      // The self row rides the SAME window pass: row_number picks one row
      // per s partition to emit (s, m) — no second aggregate.
      val symL = sym(large)
        .withColumn("m", least(col("s"), min(col("d")).over(wS)))
        .withColumn("rn", row_number().over(wS.orderBy("d")))
      val smallNbrs = symL
        .filter(col("d") < col("s"))
        .select(col("d").as("u"), col("m").as("v"))
      val smallSelf = symL
        .filter(col("rn") === 1)
        .select(col("s").as("u"), col("m").as("v"))
      // Exact fixpoint: same cardinality and no new edge → same set. The
      // cardinality comes out of the materializing checkpoint job itself
      // (CheckpointOps fusion), so only rounds whose counts match pay the
      // anti-join probe.
      val (small, newCnt) = graft.ops.CheckpointOps.localCheckpointAggregate(
        smallNbrs.union(smallSelf)
          .filter(col("u") =!= col("v"))
          .distinct(), 0L)((n, _) => n + 1, _ + _)
      converged = newCnt == cnt &&
        small.join(e, Seq("u", "v"), "left_anti").isEmpty
      e = small
      cnt = newCnt
      round += 1
    }
    require(converged, s"star contraction did not converge in $maxRounds rounds")
    // At fixpoint every non-root node carries exactly (id, componentMin).
    val starMap = e.groupBy(col("u").as("id")).agg(min(col("v")).as("root"))
    nodes.select(col("id"))
      .join(starMap, Seq("id"), "left")
      .select(col("id"), coalesce(col("root"), col("id")).as("comp"))
  }
}
