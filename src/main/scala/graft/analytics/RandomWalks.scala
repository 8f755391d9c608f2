package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.registry.Q

/** Random-walk corpus generation (DeepWalk, Perozzi et al. KDD 2014 /
  * node2vec's p=q=1 case) — the graph → sequence bridge of a training
  * -data pipeline: walks become "sentences" for skip-gram embedding
  * training. One walk per seed vertex, WalkLen steps, next hop chosen
  * uniformly among out-neighbors.
  *
  * The randomness is derived from the data (the Mis discipline): the
  * next hop from u at step k of walk w is the out-neighbor d minimizing
  * md5(w|k|u|d) — a per-(walk, step) uniform draw that is DETERMINISTIC,
  * layout-independent, and replayable by the unrolled DuckDB twin
  * bit-for-bit (md5 hex min + the '|'-suffix idiom recovers the argmin;
  * md5 is injective on the distinct key strings in practice, and ids
  * contain no '|'). Walks stop early at sinks (no out-edges).
  *
  * Scale shape: the walk heads are one row per seed — a BROADCAST against
  * the edge table every step, so each superstep is one broadcast hash
  * join + a seed-keyed min-aggregation (map-side combinable); the edge
  * table is scanned from cache, never shuffled. The loop state is the
  * walk so far, (wid, step, node) rows, checkpointed per step
  * (seed-count x steps rows — pennies): each step appends the next
  * node of every live walk, so the final round IS the result and no
  * step re-executes the join prefix. At 1000 executors the same plan
  * holds: walks scale by adding seeds (rows in the broadcast), steps
  * stay a fixed-depth loop.
  */
object RandomWalks {

  val WalkLen = 8

  /** Seed rule: walk from every vertex with an out-edge and id < 32. */
  val SeedMax = 32L

  def walks(spark: SparkSession, edgesRaw: DataFrame,
      walkLen: Int = WalkLen, seedMax: Long = SeedMax): DataFrame = {
    val e = edgesRaw.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    e.count()

    val walk0 = e.select(col("src").as("wid"), col("src").as("node"))
      .filter(col("wid") < seedMax).distinct()
      .select(col("wid"), lit(0L).as("step"), col("node"))
    val walk = Superstep.iterate(walk0, walkLen) { (walk, k) =>
      val at = walk.filter(col("step") === (k - 1).toLong)
      walk.union(broadcast(at).join(e, col("node") === col("src"))
        .groupBy(col("wid"))
        .agg(min(concat(
          md5(concat_ws("|", col("wid"), lit(k.toLong), col("node"),
            col("dst"))),
          lit("|"), col("dst"))).as("m"))
        .select(col("wid"), lit(k.toLong).as("step"),
          expr("CAST(split_part(m, '|', 2) AS BIGINT)").as("node")))
    }
    e.unpersist(false)
    walk
  }

  // ---- registry entry ---------------------------------------------------

  private def oracleSql(walkLen: Int, seedMax: Long): String = {
    import graft.graph.CitationGraph.edgesSql
    val head =
      s"""WITH $edgesSql,
         |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges
         |  WHERE src <> dst),
         |s0 AS MATERIALIZED (SELECT DISTINCT src AS wid, src AS cur
         |  FROM e WHERE src < $seedMax)""".stripMargin
    val levels = (1 to walkLen).map { k =>
      s"""s$k AS MATERIALIZED (
         |  SELECT w.wid, CAST(split_part(min(
         |      md5(CAST(w.wid AS VARCHAR) || '|' || '$k' || '|' ||
         |          CAST(w.cur AS VARCHAR) || '|' || CAST(e.dst AS VARCHAR))
         |      || '|' || CAST(e.dst AS VARCHAR)), '|', 2) AS BIGINT) AS cur
         |  FROM s${k - 1} w JOIN e ON e.src = w.cur
         |  GROUP BY w.wid)""".stripMargin
    }
    val union = (0 to walkLen).map(k =>
      s"SELECT wid, CAST($k AS BIGINT) AS step, cur AS node FROM s$k")
      .mkString("\n  UNION ALL ")
    (head +: levels).mkString(",\n") +
      s"\nSELECT wid, step, node FROM (\n  $union)\nORDER BY wid, step"
  }

  val walksQ: Q = Q(
    "g_walks",
    Some(oracleSql(WalkLen, SeedMax)),
    (s, d) =>
      walks(s, graft.graph.CitationGraph.edges(s, d))
        .orderBy(col("wid"), col("step")))

  /** Skip-gram pair generation (the DeepWalk step that actually FEEDS
    * embedding training): each walk becomes (center, context) pairs
    * within window 2. Shape: ONE wid-keyed collect folds a walk to its
    * step array, then pair expansion is a per-row higher-order
    * transform×filter — O(len²) per walk with len fixed at 9, map-only
    * after the fold; no self-join touches the walk corpus (at 100 TB
    * of walks, a step-level self-join would shuffle the corpus twice —
    * the fold ships each walk once). Early-stopped walks (sinks) pair
    * only their PRESENT steps, identically on both engines. */
  private def skipgramOracle(walkLen: Int, seedMax: Long): String = {
    val base = oracleSql(walkLen, seedMax)
    // reuse the unrolled walk construction, swap the SELECT tail.
    // Plain concatenation, NOT an interpolated stripMargin: the
    // embedded body's '||' continuation lines would lose a pipe to a
    // second margin strip (the Warc oracle's lesson).
    val body = base.substring(0, base.lastIndexOf("\nSELECT wid, step, node"))
    val union = (0 to walkLen).map(k =>
      s"  SELECT wid, CAST($k AS BIGINT) AS step, cur AS node FROM s$k")
      .mkString("\n  UNION ALL\n")
    body + ",\nw AS (\n  SELECT wid, step, node FROM (\n" + union + "))\n" +
      "SELECT a.wid, a.step AS center_step, b.step AS context_step,\n" +
      "  a.node AS center, b.node AS context\n" +
      "FROM w a JOIN w b ON a.wid = b.wid AND a.step <> b.step\n" +
      "  AND abs(a.step - b.step) <= 2\n" +
      "ORDER BY a.wid, center_step, context_step"
  }

  val skipgramsQ: Q = Q(
    "g_walk_skipgrams",
    Some(skipgramOracle(WalkLen, SeedMax)),
    (s, d) => {
      val w = walks(s, graft.graph.CitationGraph.edges(s, d))
      w.groupBy(col("wid"))
        .agg(sort_array(collect_list(struct(col("step"), col("node"))))
          .as("seq"))
        .select(col("wid"), explode(expr(
          """flatten(transform(seq, c ->
            |  transform(filter(seq, x -> x.step <> c.step
            |      and abs(x.step - c.step) <= 2),
            |    x -> struct(c.step as center_step, x.step as context_step,
            |      c.node as center, x.node as context))))""".stripMargin))
          .as("p"))
        .select(col("wid"), col("p.center_step").as("center_step"),
          col("p.context_step").as("context_step"),
          col("p.center").as("center"), col("p.context").as("context"))
        .orderBy(col("wid"), col("center_step"), col("context_step"))
    })

  def all: Seq[Q] = Seq(walksQ, skipgramsQ)
}
