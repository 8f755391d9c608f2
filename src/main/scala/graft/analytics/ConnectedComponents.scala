package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components by iterative min-label propagation (SURVEY.md
  * §2.12: the engine computes the reference's precomputed `nodepairs.csv`
  * denominator instead of requiring it as input, Application.scala:26-32).
  *
  * Each round a vertex adopts the minimum label among itself and its
  * neighbors; converges in O(diameter) rounds. Same superstep shape as
  * GraphX's Pregel-based connectedComponents, expressed over DataFrames so
  * Catalyst/AQE plan the joins; `localCheckpoint` truncates iterative
  * lineage (swap for `checkpoint` on a cluster).
  */
object ConnectedComponents {

  /** @param edges (src,dst) directed; treated as undirected.
    * @return (id, comp) where comp = min node id of the component. */
  def components(edges: DataFrame): DataFrame =
    // pinned like the other supersteps: partitions sized once from the
    // graph (the dedup-survivor pair graphs are tiny — paying 32-task
    // rounds there was most of d_dedup_survivors' cost), AQE off so state
    // partitioning survives the checkpoints
    Superstep.pinned(edges.sparkSession,
      org.apache.spark.sql.GraftColumnBridge.memoCount(edges)) {
      import CheckpointRegistry.{Flagged, ckpt, free}
      import graft.graph.CitationGraph.bidirectional
      // dst-partitioned ONCE before the checkpoint: every propagation
      // round joins bidir on its dst against the id-partitioned label
      // frame — an un-partitioned checkpoint was reshuffled by dst EVERY
      // round (guide §2.4 "two operations keyed the same way can share
      // one exchange"); the checkpoint preserves the partitioning, so
      // rounds now shuffle only the label/message side.
      val bidir = ckpt(bidirectional(edges).repartition(col("dst"))).df
      val lbl0 = ckpt(bidir.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("comp")))
      // The changed flag is computed INTO the checkpointed row and
      // counted by the materializing job; a separate filter + count
      // would re-plan an aggregate and exchange every round. Chaining
      // two propagation steps per
      // checkpoint made g_components 2.2x slower (1.09 s -> 2.38 s warm
      // at sf0.1): each step reads its input twice (state join and
      // neighbor-min build), so the inner step's whole subtree re-ran.
      val done = Superstep.untilFixpoint(lbl0, Flagged("chg")) { state =>
        val lbl = state.select(col("id"), col("comp"))
        val nbrMin = bidir.join(lbl, bidir("dst") === lbl("id"))
          .groupBy(bidir("src").as("nid")).agg(min(col("comp")).as("nbComp"))
        lbl.join(nbrMin, col("id") === col("nid"), "left")
          .select(col("id"),
            least(col("comp"), coalesce(col("nbComp"), col("comp"))).as("comp"),
            (coalesce(col("nbComp"), col("comp")) < col("comp")).as("chg"))
      }
      free(bidir)
      done.df.select(col("id"), col("comp"))
    }

  /** GraphX alternate (Pregel-based under the hood) — cross-validated
    * against the DataFrame propagation in CitationParitySpec. */
  def componentsGraphX(edges: DataFrame): DataFrame = {
    import graft.graph.CitationGraph.bidirectional
    val spark = edges.sparkSession
    import spark.implicits._
    val tuples = bidirectional(edges).rdd.map(r => (r.getLong(0), r.getLong(1)))
    org.apache.spark.graphx.Graph.fromEdgeTuples(tuples, defaultValue = 1)
      .connectedComponents()
      .vertices
      .toDF("id", "comp")
  }

  /** Component sizes + the connected-pair count per component
    * (denominator of the hop-plot percentages: sum of C(size,2)). */
  def componentSizes(edges: DataFrame): DataFrame =
    components(edges)
      .groupBy(col("comp")).agg(count(lit(1)).as("size"))
      .select(col("comp"), col("size"),
        (col("size") * (col("size") - 1) / 2).cast("long").as("n_pairs"))
      .orderBy(col("comp"))
}
