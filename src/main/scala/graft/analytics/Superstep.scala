package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}

import CheckpointRegistry.{Ckpt, Rows, Stat, ckpt, free, keep}

/** The superstep loop, in the shape of GraphX's Pregel (Gonzalez et al.,
  * "GraphX", OSDI 2014): session conf pinned once for the whole loop,
  * then one checkpoint per round.
  *
  * Both drivers materialize each round with one [[CheckpointRegistry.ckpt]]
  * job, free the previous round only after the next one is materialized
  * (blocks never pile up across rounds), and [[CheckpointRegistry.keep]]
  * the final round, which backs the lazily returned result. Loops whose
  * state is a pair of frames or whose rounds nest (Mst's pointer jumps,
  * HopPlot's frontier/visited, Mis, Hits) call the primitives directly.
  *
  * Why one checkpoint per round: chaining several rounds per checkpoint
  * never won, measured cold per JVM at sf0.1 (seconds at 1 / 2 / 3 / 5
  * rounds per checkpoint): PageRank 4.2 / 4.6 / 5.7 / 6.9; k-core
  * 7.1 / 8.3 / 9.3; SSSP 6.9-7.7 / 7.6-7.7 / 9.0-9.5; label propagation
  * 5.4-5.8 at 1 vs 5.3-5.6 at 3, a tie. A nested round re-evaluates its
  * un-materialized input inside the next one (k-core and SSSP read the
  * state twice per round), and each extra nesting depth is a new
  * generated class to plan and compile. Connected components (2.2x) and
  * Scc's floods (6.9 s -> 8.2 s) lost the same way.
  */
object Superstep {

  /** A finished fixpoint loop: the kept final round, the number of
    * rounds run, and whether it stopped at the fixpoint rather than at
    * the round cap. */
  final case class Fixpoint(df: DataFrame, rounds: Int, converged: Boolean)

  /** Sessions inside a pinned block. Conf changes are session-global, so
    * two overlapping pinned loops on one session would restore each
    * other's values, and anything planned on the session meanwhile would
    * compile with the loop's conf. */
  private val active = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private val RowsPerPartition = 100000L

  /** Run `body` with the session conf a superstep loop needs, restoring
    * it afterwards:
    *
    *   - adaptive execution off: a plan whose partitioning is only known
    *     at run time makes the checkpoint capture UnknownPartitioning,
    *     forcing a state re-shuffle every round, and per-stage
    *     coalescing could give two rounds incompatible partition counts;
    *   - shuffle partitions sized once from the loop's data,
    *     clamp(approxRows / 100k, 4, session setting), so a small graph
    *     does not pay hundreds of near-empty tasks per round and a huge
    *     one keeps the session's full parallelism.
    *
    * Not reentrant on one session: loops run serially, and this makes
    * that a checked contract. */
  def pinned[T](spark: SparkSession, approxRows: => Long)(body: => T): T = {
    val sid = graft.SessionKey(spark)
    require(active.add(sid),
      "Superstep.pinned is not reentrant: another superstep loop is " +
        "already pinning this session's conf (run loops serially)")
    val aqeKey = "spark.sql.adaptive.enabled"
    val spKey = "spark.sql.shuffle.partitions"
    val aqePrev = spark.conf.getOption(aqeKey)
    val spPrev = spark.conf.getOption(spKey)
    try {
      val sessionP = spark.conf.get(spKey, "200").toLong
      val p = math.max(4L, math.min(sessionP, approxRows / RowsPerPartition))
      spark.conf.set(aqeKey, "false")
      spark.conf.set(spKey, p.toString)
      body
    } finally {
      def restore(key: String, prev: Option[String]): Unit = prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      restore(aqeKey, aqePrev)
      restore(spKey, spPrev)
      active.remove(sid)
    }
  }

  /** `rounds` fixed rounds: state k = ckpt(step(state k-1, k)). `init`
    * stays the caller's; the returned final round is kept. */
  def iterate(init: DataFrame, rounds: Int)(
      step: (DataFrame, Int) => DataFrame): DataFrame = {
    var state = init
    for (k <- 1 to rounds) {
      val next = ckpt(step(state, k)).df
      if (k > 1) free(state)
      state = next
    }
    if (rounds > 0) keep(init.sparkSession, state) else state
  }

  /** Rounds of `step` from the materialized `init` until a round is
    * empty, `stat` reports the fixpoint (see [[CheckpointRegistry.Stat]]),
    * or `maxRounds` have run. The loop owns `init`: it is freed once
    * superseded, and kept if no round runs. */
  def untilFixpoint(init: Ckpt, stat: Stat = Rows,
      maxRounds: Int = Int.MaxValue)(step: DataFrame => DataFrame): Fixpoint = {
    var cur = init
    var rounds = 0
    var done = cur.rows == 0L
    while (!done && rounds < maxRounds) {
      val next = ckpt(step(cur.df), stat)
      rounds += 1
      done = next.rows == 0L || stat.converged(cur, next)
      free(cur.df)
      cur = next
    }
    Fixpoint(keep(init.df.sparkSession, cur.df), rounds, done)
  }
}
