package graft

import graft.analytics.{CheckpointRegistry, HopPlot, PageRank, Superstep}

/** The superstep checkpoint lifecycle: a query leaves behind exactly the
  * checkpoints it kept (no superseded round, no loop-invariant frame),
  * `releaseAll` returns the session to its baseline, and two loops never
  * pin one session's conf at once. */
class CheckpointLifecycleSpec extends SparkSpec {

  private def persistentIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Runs `body` from a clean session and checks both ends of the
    * lifecycle. Session caches are cleared before counting, because a
    * session cache is pinned on purpose until its family is done. */
  private def checkLifecycle(body: => Unit): Unit = {
    SessionCaches.clearAll(spark)
    CheckpointRegistry.releaseAll(spark)
    val base = persistentIds
    body
    SessionCaches.clearAll(spark)
    val grown = persistentIds -- base
    assert(grown.size === CheckpointRegistry.pinnedCount(spark),
      s"persistent RDDs grew by ${grown.size} but " +
        s"${CheckpointRegistry.pinnedCount(spark)} are kept")
    CheckpointRegistry.releaseAll(spark)
    assert((persistentIds -- base).isEmpty,
      s"left behind after releaseAll: ${persistentIds -- base}")
  }

  for (q <- Seq("g_pagerank", "g_sssp", "g_components", "g_kcore_fixpoint",
      "g_truss_decomp", "g_scc", "g_components_incremental"))
    test(s"$q keeps only what backs its result, and releaseAll frees it") {
      checkLifecycle(SparkEntry.queries(q)(spark, sf()).collect(): Unit)
    }

  test("hopPlotRows returns counts and leaves no checkpoint behind") {
    checkLifecycle {
      val rows = HopPlot.hopPlotRows(spark,
        graft.graph.CitationGraph.hopEdges(spark, sf()))
      assert(rows.nonEmpty)
      assert(CheckpointRegistry.pinnedCount(spark) === 0)
    }
  }

  test("a superstep loop started inside another on one session fails by name") {
    val aqe = spark.conf.getOption("spark.sql.adaptive.enabled")
    val e = intercept[IllegalArgumentException] {
      Superstep.pinned(spark, 0L) {
        PageRank.pageRank(spark,
          graft.graph.CitationGraph.edges(spark, sf()), iters = 1)
      }
    }
    assert(e.getMessage.contains("Superstep.pinned is not reentrant"))
    // the outer block restored the session and released its pin
    assert(spark.conf.getOption("spark.sql.adaptive.enabled") === aqe)
    Superstep.pinned(spark, 0L)(())
    CheckpointRegistry.releaseAll(spark)
  }
}
