// Lives under `graft` so the benchmark can read the engine's loop
// telemetry (`private[graft]` round and candidate counters).
package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One task's counters, attributed to the job tags of its stage. */
final case class TaskRow(tags: Set[String], runMs: Long, cpuNs: Long,
    gcMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
    inputBytes: Long, outputBytes: Long)

final case class JobRow(id: Int, tags: Set[String], startMs: Long,
    var endMs: Long, stageIds: Seq[Int])

final case class StageRow(id: Int, tags: Set[String], startMs: Long, endMs: Long)

/** Collects the Spark runtime counters the benchmark reports. Every job
  * carries the job tags of the thread that submitted it
  * (`SparkContext.addJobTag`), so work is attributed to the query that
  * caused it. The bus delivers events in order, so once the job-end of a
  * tagged sentinel job has arrived, every earlier event has too
  * (see `sync` in [[Main]]); no fixed sleep is involved. */
final class Listener extends SparkListener {
  private val jobs = mutable.ArrayBuffer.empty[JobRow]
  private val jobById = mutable.HashMap.empty[Int, JobRow]
  private val stageTags = mutable.HashMap.empty[Int, Set[String]]
  private val stages = mutable.ArrayBuffer.empty[StageRow]
  private val tasks = mutable.ArrayBuffer.empty[TaskRow]
  private var rddBlockBytes = 0L
  private val seenSentinels = mutable.HashSet.empty[String]

  private def tagsOf(p: java.util.Properties): Set[String] =
    Option(p).flatMap(x => Option(x.getProperty("spark.job.tags")))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tags = tagsOf(e.properties)
    val row = JobRow(e.jobId, tags, e.time, -1L, e.stageIds)
    jobById(e.jobId) = row
    if (!tags.exists(_.startsWith(Listener.SentinelPrefix))) jobs += row
    e.stageIds.foreach(id => if (!stageTags.contains(id)) stageTags(id) = tags)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.remove(e.jobId).foreach { row =>
      row.endMs = e.time
      row.tags.filter(_.startsWith(Listener.SentinelPrefix)).foreach(seenSentinels += _)
    }
    notifyAll()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val tags = stageTags.getOrElse(i.stageId, Set.empty)
    if (!tags.exists(_.startsWith(Listener.SentinelPrefix)))
      stages += StageRow(i.stageId, tags, i.submissionTime.getOrElse(-1L),
        i.completionTime.getOrElse(-1L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val tags = stageTags.getOrElse(e.stageId, Set.empty)
    if (m != null && !tags.exists(_.startsWith(Listener.SentinelPrefix)))
      tasks += TaskRow(tags, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD && info.storageLevel.isValid)
      rddBlockBytes += info.memSize + info.diskSize
  }

  /** Blocks until the sentinel job tagged `tag` has been seen ending. */
  def awaitSentinel(tag: String): Unit = synchronized {
    val deadline = System.currentTimeMillis() + 60000L
    while (!seenSentinels(tag) && System.currentTimeMillis() < deadline)
      wait(50L)
    require(seenSentinels(tag), s"listener bus did not deliver sentinel $tag")
  }

  def snapshot(): (Seq[JobRow], Seq[StageRow], Seq[TaskRow], Long) = synchronized {
    (jobs.toList, stages.toList, tasks.toList, rddBlockBytes)
  }

  def clear(): Unit = synchronized {
    jobs.clear(); stages.clear(); tasks.clear(); rddBlockBytes = 0L
  }
}

object Listener {
  val SentinelPrefix = "pb-sentinel-"
}
