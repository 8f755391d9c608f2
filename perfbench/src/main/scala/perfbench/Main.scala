package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{SessionCaches, SparkEntry, Tables}
import graft.analytics.{CheckpointRegistry, Density, HopPlot, KCore, PageRank}
import graft.graph.CitationGraph
import graft.pipeline.{PipelineQueries, PpJoin}

/** Benchmark driver. Runs one workload's queries against generated inputs
  * and writes every measurement as JSON; `perfbench/run.py` builds this,
  * generates the inputs, checks the outputs and prints the result.
  *
  * Phases of a run:
  *  1. set-up, repeated three times: start a session and read every
  *     input table once; all but the last session are stopped again;
  *  2. check pass, untimed: every query once on the small check input
  *     (and the `--real-check` ones on the measured input), results
  *     written as parquet for the oracle. This pass is also the codegen
  *     and JIT warm-up of the timed passes;
  *  3. timed passes over the measured input until `--seconds` is used
  *     (at least three), session caches cleared before each pass;
  *  4. with `--trace 1`, the layer probes: direct calls into each layer's
  *     entry point, each under its own job tag.
  */
object Main {

  final case class Opts(queries: Seq[String], data: String, checkData: String,
      checkOut: String, realCheck: Set[String], seconds: Double, trace: Boolean,
      out: String, spans: String, tables: Seq[String])

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("queries").split(",").toSeq, m("data"), m("check-data"),
      m("check-out"), m.getOrElse("real-check", "").split(",").filter(_.nonEmpty).toSet,
      m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      m("out"), m.getOrElse("spans", ""),
      m("tables").split(",").toSeq)
  }

  private val cores = Runtime.getRuntime.availableProcessors()
  private val MinPasses = 3
  private val Setups = 3

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def now(): Double = System.nanoTime() / 1e9

  private val t00 = now()
  private def progress(msg: String): Unit =
    System.err.println(f"[perfbench ${now() - t00}%7.2fs] $msg")

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Drops every session cache and checkpoint the engine holds. */
  private def clearCaches(spark: SparkSession): Unit = {
    SessionCaches.clearAll(spark)
    CheckpointRegistry.releaseAll(spark)
  }

  private def materialize(df: DataFrame): Long = df.queryExecution.toRdd.count()

  // ---- spans ------------------------------------------------------------

  final case class Span(id: Int, parent: Int, name: String, startMs: Double,
      var endMs: Double, tag: String)

  /** In-memory span recorder; written out once, at the end of the run. */
  final class Spans(enabled: Boolean) {
    val all = mutable.ArrayBuffer.empty[Span]
    private val stack = mutable.Stack.empty[Int]
    // epoch-ms clock with nanoTime resolution, comparable with Spark's
    // job and stage timestamps
    private val epoch0 = System.currentTimeMillis().toDouble
    private val nano0 = System.nanoTime()
    def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
    def apply[T](name: String, tag: String = "")(body: => T): T =
      if (!enabled) body
      else {
        val sp = Span(all.size, stack.headOption.getOrElse(-1), name, nowMs, -1, tag)
        all += sp
        stack.push(sp.id)
        try body finally { sp.endMs = nowMs; stack.pop() }
      }
  }

  // ---- Catalyst phases ----------------------------------------------------

  /** Planning time of every Dataset action run inside the engine (loop
    * counts, collects); the final frame of each query adds its own. */
  final class PlanTimes extends QueryExecutionListener {
    @volatile var ms = 0.0
    private def add(qe: org.apache.spark.sql.execution.QueryExecution): Unit =
      synchronized { ms += planMs(qe) }
    override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
        d: Long): Unit = add(qe)
    override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
        e: Exception): Unit = add(qe)
  }

  private def planMs(qe: org.apache.spark.sql.execution.QueryExecution): Double = {
    val p = qe.tracker.phases
    Seq("analysis", "optimization", "planning").flatMap(p.get).map(_.durationMs.toDouble).sum
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val mainEntry = System.currentTimeMillis()
    val jvmStartS = (mainEntry - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val om = new ObjectMapper()
    val out = om.createObjectNode()
    val spans = new Spans(o.trace)
    val run: Map[String, (SparkSession, String) => DataFrame] =
      o.queries.map(q => q -> SparkEntry.queries(q)).toMap

    // 1. set-up: session start plus a first read of every input table
    val setupReps = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (rep <- 1 to Setups) {
      val t0 = now()
      spark = session()
      o.tables.foreach(t => Tables(spark, o.data, t).count())
      setupReps += now() - t0
      progress(f"setup $rep: ${now() - t0}%.2fs")
      if (rep < Setups) {
        spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
    }
    val sc = spark.sparkContext
    val listener = new Listener
    sc.addSparkListener(listener)
    val planTimes = new PlanTimes
    spark.listenerManager.register(planTimes)
    var sentinels = 0
    def sync(): Unit = {
      sentinels += 1
      val tag = Listener.SentinelPrefix + sentinels
      sc.addJobTag(tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.removeJobTag(tag)
      listener.awaitSentinel(tag)
    }

    // scheduler round trip of an empty job, as host calibration
    (1 to 5).foreach(_ => spark.range(1).count())
    val rt0 = now()
    (1 to 20).foreach(_ => spark.range(1).count())
    val jobRtMs = (now() - rt0) * 1000 / 20

    // 2. check pass (untimed)
    val failed = mutable.LinkedHashMap.empty[String, String]
    val check0 = now()
    def writeOut(q: String, dir: String, sub: String): Unit =
      try run(q)(spark, dir).write.mode("overwrite").parquet(s"${o.checkOut}/$sub/$q")
      catch { case e: Throwable => failed(s"$sub/$q") = e.toString.take(300) }
      finally clearCaches(spark)
    o.queries.foreach(q => writeOut(q, o.checkData, "check"))
    o.queries.filter(o.realCheck).foreach(q => writeOut(q, o.data, "real"))
    sync(); listener.clear()
    val warmupS = now() - check0
    progress(f"check pass done: $warmupS%.2fs")

    // 3. timed passes
    final case class Pass(wall: Double, perQuery: Seq[(String, Double)], planMs: Double,
        heapMb: Double, blocksMb: Double, tag: String)
    var p = 0
    def runPass(): Pass = {
      p += 1
      val passTag = s"pb-p$p"
      clearCaches(spark)
      val plan0 = planTimes.ms
      var finalPlanMs = 0.0
      val t0 = now()
      val perQuery = spans("pass", passTag) {
        o.queries.map { q =>
          val tag = s"$passTag-$q"
          sc.addJobTag(tag)
          val q0 = now()
          try spans("query", tag) {
            val df = spans("query.build", tag)(run(q)(spark, o.data))
            spans("query.execute", tag)(materialize(df))
            finalPlanMs += planMs(df.queryExecution)
          } catch { case e: Throwable => failed(s"pass/$q") = e.toString.take(300) }
          finally sc.removeJobTag(tag)
          val dt = now() - q0
          CheckpointRegistry.releaseAll(spark)
          q -> dt
        }
      }
      val wall = now() - t0
      // Catalyst phases of the pass's Dataset actions arrive on the
      // listener bus; drain it before reading them
      sync()
      val blocksMb = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6
      val heapMb = retainedHeapMb()
      progress(f"pass $p: $wall%.2fs " + perQuery.map { case (q, t) => f"$q=$t%.2f" }.mkString(" "))
      Pass(wall, perQuery, planTimes.ms - plan0 + finalPlanMs, heapMb, blocksMb, passTag)
    }
    val passes = mutable.ArrayBuffer.empty[Pass]
    val timedStart = now()
    while (passes.size < MinPasses || now() - timedStart < o.seconds) passes += runPass()
    sync()
    val (jobs, stages, tasks, _) = listener.snapshot()

    // per-pass Spark runtime counters, attributed through the pass's tags
    def ofPass(tags: Set[String], pass: Pass): Boolean =
      tags.exists(t => t == pass.tag || t.startsWith(pass.tag + "-"))
    val passStats = passes.map { pass =>
      val pj = jobs.filter(j => ofPass(j.tags, pass))
      val ps = stages.filter(s => ofPass(s.tags, pass))
      val pt = tasks.filter(t => ofPass(t.tags, pass))
      val busyMs = unionMs(ps.filter(s => s.startMs > 0 && s.endMs > 0)
        .map(s => (s.startMs.toDouble, s.endMs.toDouble)))
      val scan = pt.filter(_.inputBytes > 0)
      Map(
        "spark.jobs" -> pj.size.toDouble,
        "spark.stages" -> ps.size.toDouble,
        "spark.tasks" -> pt.size.toDouble,
        "spark.driver_gap_s" -> math.max(0.0, pass.wall - busyMs / 1000),
        "spark.core_busy_frac" -> pt.map(_.runMs).sum / (pass.wall * 1000 * cores),
        "spark.task_cpu_s" -> pt.map(_.cpuNs).sum / 1e9,
        "spark.task_gc_s" -> pt.map(_.gcMs).sum / 1000.0,
        "spark.shuffle_write_mb" -> pt.map(_.shuffleWrite).sum / 1e6,
        "spark.shuffle_read_mb" -> pt.map(_.shuffleRead).sum / 1e6,
        "spark.spill_mb" -> pt.map(_.spill).sum / 1e6,
        "catalyst.plan_ms" -> pass.planMs,
        "sources.input_mb" -> pt.map(_.inputBytes).sum / 1e6,
        "sources.scan_tasks" -> scan.size.toDouble,
        "sources.scan_ms" -> scan.map(_.runMs).sum.toDouble,
        "cache.blocks_mb_end" -> pass.blocksMb)
    }
    // per-query job and task counts of every pass, to show which repeat
    val perQueryCounts = out.putObject("query_counts")
    o.queries.foreach { q =>
      val arr = perQueryCounts.putArray(q)
      passes.foreach { pass =>
        val tag = s"${pass.tag}-$q"
        arr.add(s"${jobs.count(_.tags(tag))}j/${tasks.count(_.tags(tag))}t")
      }
    }

    val walls = passes.map(_.wall).toSeq
    val e2e = out.putObject("end_to_end")
    e2e.put("setup_s", jvmStartS + median(setupReps.toSeq) + warmupS)
    // each query's median over the passes, summed: the first pass of a
    // run is still warming the JIT at full scale and would otherwise set
    // the figure whenever only a few passes fit in a run
    val perQueryMedian = o.queries.map(q => median(passes.map(_.perQuery.toMap.getOrElse(q, 0.0)).toSeq))
    e2e.put("pass_s", perQueryMedian.sum)
    val samples = out.putObject("samples")
    def arr(name: String, xs: Seq[Double]): Unit = {
      val a = samples.putArray(name); xs.foreach(x => a.add(x))
    }
    arr("setup_reps_s", setupReps.toSeq)
    arr("pass_s", walls)
    arr("retained_heap_mb", passes.map(_.heapMb).toSeq)
    o.queries.foreach(q => arr(s"query.$q.s", passes.map(_.perQuery.toMap.getOrElse(q, -1.0)).toSeq))
    out.put("jvm_start_s", jvmStartS)
    out.put("warmup_s", warmupS)
    out.put("job_rt_ms", jobRtMs)
    out.put("cores", cores)
    val oracleSql = SparkEntry.oracleSql
    val oj = out.putObject("oracles")
    o.queries.foreach(q => oracleSql.get(q).foreach(oj.put(q, _)))

    val layer = out.putObject("per_layer")
    if (passStats.nonEmpty) passStats.head.keys.foreach { k =>
      layer.put(k, median(passStats.map(_(k)).toSeq))
    }
    layer.put("spark.job_rt_ms", jobRtMs)
    layer.put("jvm.retained_heap_mb", median(passes.map(_.heapMb).toSeq))

    // 4. layer probes
    if (o.trace) {
      probes(spark, o.data, spans, listener, layer, () => sync())
      layer.put("trace.pass_s", perQueryMedian.sum)
    }

    val f = out.putObject("failed")
    failed.foreach { case (k, v) => f.put(k, v) }
    out.put("attempted", (passes.size + 1) * o.queries.size + o.realCheck.size)

    if (o.trace && o.spans.nonEmpty) {
      val (allJobs, allStages, _, _) = listener.snapshot()
      writeSpans(om, spans, allJobs, allStages, o.spans, layer)
    }
    om.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(o.out), out)
    progress("result written")
    spark.stop()
    progress("session stopped")
  }

  /** Heap in use after full GCs, repeated until two readings agree within
    * 1 MB: a collection lets Spark's cleaner drop unreachable broadcasts
    * and shuffles, which frees more on the next one. */
  private def retainedHeapMb(): Double = {
    def gcUsed(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    }
    var prev = gcUsed()
    var cur = gcUsed()
    var i = 0
    while (math.abs(prev - cur) > 1.0 && i < 8) { prev = cur; cur = gcUsed(); i += 1 }
    cur
  }

  /** Total length of the union of [start, end] intervals, in ms. */
  private def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN; var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Direct calls into each layer's entry point, each under its own job
    * tag, on the measured input. Fills the layer's metrics. */
  private def probes(spark: SparkSession, d: String, spans: Spans,
      listener: Listener, layer: ObjectNode, sync: () => Unit): Unit = {
    val sc = spark.sparkContext
    val results = mutable.LinkedHashMap.empty[String, (Double, Seq[TaskRow], Int)]
    def probe[T](name: String, fresh: Boolean = true)(body: => T): T = {
      if (fresh) clearCaches(spark)
      val tag = s"pb-probe-$name"
      sc.addJobTag(tag)
      val t0 = now()
      try spans(s"layer.$name", tag)(body)
      finally {
        val ms = (now() - t0) * 1000
        progress(f"probe $name: $ms%.0f ms")
        sc.removeJobTag(tag)
        sync()
        val (jobs, _, tasks, _) = listener.snapshot()
        results(name) = (ms, tasks.filter(_.tags(tag)), jobs.count(_.tags(tag)))
      }
    }
    def ms(n: String) = results(n)._1
    def mb(n: String, f: TaskRow => Long) = results(n)._2.map(f).sum / 1e6
    def put(k: String, v: Double): Unit = layer.put(k, v)

    val edgeCount = probe("graph.view") {
      val n = CitationGraph.edges(spark, d).count()
      CitationGraph.nodes(spark, d).count()
      n
    }
    put("graph.view_ms", ms("graph.view")); put("graph.edges", edgeCount.toDouble)

    probe("density")(materialize(Density.densities(CitationGraph.nodes(spark, d),
      CitationGraph.edges(spark, d))))
    put("analytics.density.ms", ms("density"))

    val blocks0 = listener.snapshot()._4
    probe("hopplot")(HopPlot.hopPlotRows(spark, CitationGraph.hopEdges(spark, d)))
    probe("pagerank")(materialize(PageRank.pageRank(spark, CitationGraph.edges(spark, d), iters = 10)))
    probe("kcore")(materialize(KCore.kcore(spark, CitationGraph.edges(spark, d))))
    Seq("hopplot", "pagerank", "kcore").foreach { l =>
      put(s"analytics.$l.ms", ms(l))
      put(s"analytics.$l.jobs", results(l)._3.toDouble)
      put(s"analytics.$l.shuffle_mb", mb(l, _.shuffleWrite))
    }
    put("analytics.kcore.rounds", KCore.lastConvergenceRound.toDouble)
    put("analytics.ckpt_mb", (listener.snapshot()._4 - blocks0) / 1e6)

    probe("family")(PipelineQueries.warmSharedFamily(spark, d))
    put("pipeline.family_ms", ms("family"))
    // the write path reads the family the probe above built
    probe("write", fresh = false)(materialize(SparkEntry.queries("d_curate_incremental")(spark, d)))
    put("pipeline.write_mb", mb("write", _.outputBytes))
    val pairs = probe("ppjoin")(PpJoin.similarPairs(spark, Tables.documents(spark, d)).count())
    put("pipeline.ppjoin_ms", ms("ppjoin"))
    put("pipeline.ppjoin_pairs", pairs.toDouble)
    put("pipeline.ppjoin_yield", pairs.toDouble / math.max(1L, PpJoin.lastCandidates))

    Seq("png" -> "m_png_pixels_batch", "warc" -> "t_warc_parse_batch",
      "html" -> "t_html_extract_batch").foreach { case (lane, q) =>
      probe(s"functions.$lane")(materialize(SparkEntry.queries(q)(spark, d)))
      val cpuS = results(s"functions.$lane")._2.map(_.cpuNs).sum / 1e9
      put(s"functions.$lane.mb_per_cpu_s", mb(s"functions.$lane", _.inputBytes) / math.max(cpuS, 1e-9))
    }
    clearCaches(spark)
  }

  /** Writes the spans (benchmark spans plus Spark job and stage spans,
    * linked to their query by job tag) and each layer's self time. */
  private def writeSpans(om: ObjectMapper, spans: Spans, jobs: Seq[JobRow],
      stages: Seq[StageRow], path: String, layer: ObjectNode): Unit = {
    val all = mutable.ArrayBuffer.empty[Span] ++ spans.all
    val byTag = spans.all.filter(_.tag.nonEmpty).groupBy(_.tag)
    // a job's parent is the innermost benchmark span of its tag that
    // covers the job's start; a stage's parent is its job
    val jobSpan = mutable.HashMap.empty[Int, Int]
    jobs.filter(_.endMs > 0).foreach { j =>
      val owners = j.tags.toSeq.flatMap(byTag.getOrElse(_, Nil))
        .filter(s => s.startMs <= j.startMs + 1 && j.startMs <= s.endMs + 1)
      val parent = if (owners.isEmpty) -1 else owners.maxBy(_.startMs).id
      val sp = Span(all.size, parent, "spark.job", j.startMs.toDouble, j.endMs.toDouble, "")
      all += sp
      j.stageIds.foreach(id => jobSpan.getOrElseUpdate(id, sp.id))
    }
    stages.filter(s => s.startMs > 0 && s.endMs > 0).foreach { s =>
      jobSpan.get(s.id).foreach(p =>
        all += Span(all.size, p, "spark.stage", s.startMs.toDouble, s.endMs.toDouble, ""))
    }
    val children = all.groupBy(_.parent)
    def rootOf(s: Span): Span = if (s.parent < 0) s else rootOf(all(s.parent))
    val nPasses = all.count(s => s.parent < 0 && s.name == "pass").max(1)
    // self time per root/span name: "pass/..." is per timed pass,
    // "layer.<probe>/..." is that probe's
    val self = mutable.LinkedHashMap.empty[String, Double]
    all.foreach { s =>
      val kids = children.get(s.id).map(_.toSeq).getOrElse(Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a }
      val r = rootOf(s)
      val key = s"${r.name}/${s.name}"
      val perRoot = if (r.name == "pass") nPasses else 1
      self(key) = self.getOrElse(key, 0.0) + ((s.endMs - s.startMs) - unionMs(kids)) / perRoot
    }
    val root = om.createObjectNode()
    val st = root.putObject("self_ms")
    self.foreach { case (k, v) => st.put(k, v) }
    val arr = root.putArray("spans")
    all.foreach { s =>
      val n = arr.addObject()
      n.put("id", s.id); n.put("parent", s.parent); n.put("name", s.name)
      n.put("start_ms", s.startMs); n.put("end_ms", s.endMs)
      if (s.tag.nonEmpty) n.put("tag", s.tag)
    }
    om.writeValue(new java.io.File(path), root)
    // the pass tree and each probe's own driver-side time as metrics; the
    // probes' job and stage self times stay in the span file
    self.foreach { case (k, v) =>
      val Array(r, n) = k.split("/", 2)
      if (r == "pass") layer.put(s"self_ms.$n", v)
      else if (r == n) layer.put(s"self_ms.$n", v)
    }
  }
}
