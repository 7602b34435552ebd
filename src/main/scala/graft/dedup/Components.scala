package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** CONNECTED COMPONENTS over a near-dup pair list — the step that turns
  * pairwise similarity edges into DEDUP GROUPS (each document labeled with
  * its group's canonical representative, the minimum id). Every near-dup
  * family in the engine emits pairs (Jaccard, MinHash-LSH, SimHash, dHash,
  * embedding-cosine); a training-data pipeline then needs "keep one per
  * group", and near-dup similarity is not transitive — A~B and B~C without
  * A~C — so groups are the components of the pair graph, not the pairs
  * themselves. (≙ the reference's used-set merge loop,
  * raptor/merge_tree_builder.py:247-304, which walks candidate pairs and
  * unions them into merge groups one at a time on the driver.)
  *
  * Algorithm: iterative MIN-LABEL PROPAGATION with POINTER JUMPING
  * ("hash-to-min"). Each round, every node takes the min of its own label
  * and its neighbors' labels (one keyed agg + one keyed join), then chases
  * the result one hop through the label table (`rep <- rep(rep)`, one more
  * keyed join) — the pointer jump makes label distance-to-minimum roughly
  * DOUBLE per round, so convergence is O(log diameter) rounds, not
  * O(diameter): a 256-node path settles in ~8 rounds where plain
  * propagation needs 256 (ComponentsSpec pins this with a tight iteration
  * budget). Labels only ever decrease, so the fixpoint test is "no label
  * decreased this round".
  *
  * Scale shape: no driver-side graph — edges stay distributed (persisted
  * once, both directions), each round is three keyed shuffles over
  * |V| + |E| rows, and each round's result is eagerly `localCheckpoint`ed
  * to cut the growing lineage (an unbroken 20-round plan chain re-executes
  * everything; the round-2 lesson). Near-dup graphs have tiny components
  * (dup clusters are near-cliques), so real corpora converge in 2-3
  * rounds; the pointer jump is the insurance against adversarial chains.
  * For graphs with superhub components, the large-star/small-star
  * alternation (Kiveris et al., "Connected Components in MapReduce") caps
  * per-round degree — same join primitives, swap-in if needed.
  */
object Components {

  /** (id, rep) for every node: `rep` = the minimum id in the node's
    * component. `nodes` has one `id` column; `edges` has (`a`, `b`) with
    * both endpoints present in `nodes` (undirected; orientation and
    * duplicate edges are both fine). Deterministic for any input order. */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
                          maxIters: Int = 30): DataFrame =
    ccWithIters(nodes, edges, maxIters)._1

  /** The RDD behind a `localCheckpoint`ed frame (its `LogicalRDD` leaf):
    * the handle a loop unpersists once the next round is materialized. */
  private[graft] def ckptRdd(df: DataFrame) =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }

  /** [[connectedComponents]] plus the number of rounds taken — the spec's
    * handle on the pointer-jump convergence rate.
    *
    * Each round MUST truncate lineage, not just cache: the round's plan
    * references the previous labels twice and itself twice, so the
    * LOGICAL plan tree quadruples per round — a persist-only loop OOMs
    * on plan strings alone by round ~10 (measured). `localCheckpoint
    * (eager)` truncates, but `Dataset.unpersist` cannot free a checkpoint
    * RDD — so each round's checkpointed RDD is captured from its
    * `LogicalRDD` leaf and released explicitly once the next round is
    * materialized. The caller keeps exactly one checkpoint (the result);
    * repeated calls accumulate nothing else (ComponentsSpec pins this).
    * At cluster scale swap the per-round localCheckpoint for a reliable
    * checkpoint every N rounds — same loop, executor-loss-safe. */
  private[graft] def ccWithIters(nodes: DataFrame, edges: DataFrame,
                                 maxIters: Int): (DataFrame, Int) = {
    // bidirectional edges in ONE pass over the caller's (possibly
    // expensive) edge plan — a union of two selects would execute it once
    // per branch (ReuseExchange shares only the shuffles, not post-shuffle
    // join/filter work above them)
    val e = edges
      .select(explode(array(
        struct(col("a").as("u"), col("b").as("v")),
        struct(col("b").as("u"), col("a").as("v")))).as("uv"))
      .select(col("uv.u").as("u"), col("uv.v").as("v"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var lbl = nodes.select(col("id"), col("id").as("rep"))
      .localCheckpoint(true)
    var lblRdd = ckptRdd(lbl)
    var it = 0
    var done = false
    while (!done && it < maxIters) {
      // min label among neighbors (nodes with no in-edges keep their own)
      val nbr = e.join(lbl.select(col("id").as("u"), col("rep")), "u")
        .groupBy(col("v").as("id")).agg(min(col("rep")).as("nrep"))
      // checkpointed: the pointer-jump self-join below reads `stepped` on
      // BOTH sides — without the cut it would re-execute the round's
      // join + aggregate twice (and the logical plan would still double)
      val stepped = lbl.join(nbr, Seq("id"), "left_outer")
        .select(col("id"),
          least(col("rep"), coalesce(col("nrep"), col("rep"))).as("rep"))
        .localCheckpoint(true)
      val steppedRdd = ckptRdd(stepped)
      // pointer jump: rep <- rep(rep) (labels are node ids, so the lookup
      // table is the label table itself)
      val jumped = stepped
        .join(stepped.select(col("id").as("rep"), col("rep").as("rep2")),
          Seq("rep"), "left_outer")
        .select(col("id"), coalesce(col("rep2"), col("rep")).as("rep"))
      val next = jumped.localCheckpoint(true)
      steppedRdd.foreach(_.unpersist(blocking = false))
      // labels are monotone non-increasing: fixpoint == nothing decreased
      done = next.select(col("id"), col("rep").as("nr"))
        .join(lbl, Seq("id"))
        .filter(col("nr") < col("rep"))
        .isEmpty
      // the previous round's checkpoint is now unreachable — free it
      // deterministically (ContextCleaner would get to it eventually)
      lblRdd.foreach(_.unpersist(blocking = false))
      lbl = next
      lblRdd = ckptRdd(next)
      it += 1
    }
    e.unpersist(blocking = false)
    (lbl, it)
  }
}
