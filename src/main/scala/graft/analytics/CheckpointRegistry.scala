package graft.analytics

import scala.util.control.NonFatal

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}

/** The one place that knows how a frame is checkpointed, counted, freed
  * and pinned. Every iterative operator, pipeline stage and session
  * cache goes through these four calls:
  *
  *   - [[ckpt]] materializes a frame as a local checkpoint with ONE job
  *     that also counts its rows and a [[Stat]]. A loop's convergence
  *     test rides the materialization instead of costing a second job,
  *     and at local scale each job is a ~30 ms scheduler round trip.
  *   - [[free]] drops a checkpoint's blocks now. Plain `unpersist` is a
  *     no-op on a checkpoint frame, and waiting for the ContextCleaner
  *     lets a loop pile up one copy of its state per round.
  *   - [[keep]] pins the checkpoint behind a lazily returned result. The
  *     operator cannot free it: the caller has not read the result yet,
  *     and a frame with truncated lineage cannot be recomputed once its
  *     blocks are gone.
  *   - [[releaseAll]] drops every kept checkpoint of a session. Runners
  *     call it once each query's result is consumed; long-lived sessions
  *     composing many analytics should do the same.
  *
  * Checkpoints are local (executor block storage): lineage is cut, so a
  * lost block fails the query instead of being recomputed.
  */
object CheckpointRegistry {

  /** A materialized checkpoint with the counts its job produced. */
  final case class Ckpt(df: DataFrame, rows: Long, stat: Long)

  /** What the materializing job counts besides rows, and when two
    * successive rounds of a loop have reached its fixpoint. */
  sealed trait Stat {
    def converged(prev: Ckpt, next: Ckpt): Boolean
  }
  /** Rows only; a fixpoint once the row count stops changing. */
  case object Rows extends Stat {
    def converged(prev: Ckpt, next: Ckpt): Boolean = next.rows == prev.rows
  }
  /** Rows whose BOOLEAN column is true, NULL counted as false (as
    * `filter(col)` does); a fixpoint once no row is flagged. */
  final case class Flagged(col: String) extends Stat {
    def converged(prev: Ckpt, next: Ckpt): Boolean = next.stat == 0L
  }
  /** Sum of a BIGINT column, NULL counted as 0; a fixpoint once the sum
    * stops changing. */
  final case class Sum(col: String) extends Stat {
    def converged(prev: Ckpt, next: Ckpt): Boolean = next.stat == prev.stat
  }

  private val pinned = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.Set[RDD[_]]]()

  /** Local-checkpoint `df` and materialize it with one job that returns
    * the row count and `stat`. The counts come back from `runJob` per
    * partition (exactly once per successful task, no accumulator
    * double-count on retry), and the job caches the blocks and cuts the
    * lineage exactly as an eager `localCheckpoint(true)` does: `runJob`
    * ends with the same `doCheckpoint` hook that `count()` uses. */
  def ckpt(df: DataFrame, stat: Stat = Rows): Ckpt = {
    val c = df.localCheckpoint(false)
    def field(name: String, t: DataType): Int = {
      val f = c.schema(name)
      require(f.dataType == t,
        s"ckpt: column $name is ${f.dataType}, expected $t")
      c.schema.fieldIndex(name)
    }
    val (idx, flag) = stat match {
      case Rows => (-1, false)
      case Flagged(n) => (field(n, BooleanType), true)
      case Sum(n) => (field(n, LongType), false)
    }
    val rdd = GraftColumnBridge.checkpointRdd(c).getOrElse(
      throw new IllegalStateException("localCheckpoint did not plan a LogicalRDD"))
      .asInstanceOf[RDD[InternalRow]]
    val parts = c.sparkSession.sparkContext.runJob(rdd,
      (it: Iterator[InternalRow]) => {
        var n = 0L
        var s = 0L
        while (it.hasNext) {
          val r = it.next()
          n += 1L
          if (idx >= 0 && !r.isNullAt(idx))
            s += (if (!flag) r.getLong(idx) else if (r.getBoolean(idx)) 1L else 0L)
        }
        (n, s)
      })
    Ckpt(c, parts.map(_._1).sum, parts.map(_._2).sum)
  }

  /** Drop the checkpoint blocks behind `df` now, and forget it if it was
    * kept. No-op for a frame that is not a bare checkpoint. */
  def free(df: DataFrame): Unit =
    GraftColumnBridge.checkpointRdd(df).foreach { r =>
      val s = pinned.get(graft.SessionKey(df.sparkSession))
      if (s != null) s.remove(r)
      try r.unpersist(false) catch { case NonFatal(_) => () }
    }

  /** Pin the checkpoint behind `df` until [[releaseAll]]; returns `df`. */
  def keep(spark: SparkSession, df: DataFrame): DataFrame = {
    val r = GraftColumnBridge.checkpointRdd(df).getOrElse(
      throw new IllegalArgumentException(
        "keep: the frame is not a bare checkpoint; keep the checkpoint it projects"))
    pinned.computeIfAbsent(graft.SessionKey(spark),
      _ => java.util.concurrent.ConcurrentHashMap.newKeySet[RDD[_]]()).add(r)
    df
  }

  /** Drop every kept checkpoint of this session. Only call once the
    * results are CONSUMED: released frames cannot be recomputed. */
  def releaseAll(spark: SparkSession): Unit = {
    val s = pinned.remove(graft.SessionKey(spark))
    if (s != null)
      s.forEach(r => try r.unpersist(false) catch { case NonFatal(_) => () })
  }

  /** Kept-checkpoint count for the session — test hook. */
  private[graft] def pinnedCount(spark: SparkSession): Int = {
    val s = pinned.get(graft.SessionKey(spark))
    if (s == null) 0 else s.size()
  }
}
