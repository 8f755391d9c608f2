package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.types._

/** Structured Streaming operators over the events stream (SURVEY.md
  * §2.11 — capability the reference lacks entirely). The same
  * aggregations as the batch registry entries (StreamingQueries), run
  * incrementally with watermarks; StreamingSpec proves stream == batch.
  */
object Streams {

  /** File-source schema: ts is naive micros (`timestamp[us]`) in the
    * current testdata generation, declared TIMESTAMP here (sessions pin
    * tz=UTC and `inferTimestampNTZ.enabled=false`, so batch and stream
    * reads agree — identical to Tables.events). An earlier generation
    * stored TIMESTAMP(NANOS), which needed a LongType schema plus a
    * `ts div 1000` truncation; that path died with the old files. */
  private val rawSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  def readEventsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(rawSchema)
      // file source needs a directory; select just the events file
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)

  /** Tumbling 1-hour window per event type with a 1-hour watermark —
    * streaming twin of StreamingQueries.tumbling (incl. its exact
    * decimal-sum-then-double output contract). */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("v"))
      .select(col("w.start").as("hstart"), col("event_type"), col("n"), col("v"))

  /** Sliding 1-hour/30-minute window per event type — streaming twin of
    * StreamingQueries.sliding. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("v"))
      .select(col("w.start").as("wstart"), col("event_type"), col("n"), col("v"))

  /** Native session_window (30-minute gap) under the streaming runtime —
    * streaming twin of StreamingQueries.sessionWindow. Session windows
    * require a watermark; late-closing is driven by it. */
  def sessionWindowAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"))

  /** Top-3 events by value per hourly window via the custom k-bounded
    * TopKByAgg — proof the TypedImperativeAggregate family runs under
    * the STREAMING runtime's partial/merge protocol, not just batch
    * (state per window is the k-bounded buffer, not the window's rows).
    * Values ride as exact cents; ties break on event_id ascending, so
    * stream == batch bit-for-bit (StreamingSpec). */
  def topEventsPerHour(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(graft.functions.TopKByAgg.top_k_by(
        // DECIMAL(18,2) route: double*100 truncates (19.99 -> 1998)
        (col("value").cast("decimal(18,2)") * 100).cast("long"),
        col("event_id"), 3).as("top"))
      .select(col("w.start").as("hstart"), posexplode(col("top")))
      .select(col("hstart"), col("col.value").as("event_id"),
        col("col.ord").as("cents"), (col("pos") + 1).cast(LongType).as("rnk"))

  /** Stream-stream interval join: each signup joined to the same user's
    * events in the following hour (60s finds almost nothing in the
    * month-spread testdata). Both sides carry watermarks and the join
    * condition bounds event time on BOTH ends, so the runtime can size
    * and expire join state (an unbounded stream-stream join would
    * buffer forever) — streaming twin of the registered
    * `st_stream_stream_join` batch query (StreamingSpec proves equality
    * of the emitted pair set). */
  def intervalJoinPairs(events: DataFrame): DataFrame = {
    val a = events.filter(col("event_type") === "signup")
      .select(col("event_id").as("sid"), col("user_id"), col("ts").as("ats"))
      .withWatermark("ats", "2 hours")
    val b = events
      .select(col("user_id").as("uid2"), col("ts").as("bts"), col("event_id").as("bid"))
      .withWatermark("bts", "2 hours")
    a.join(b,
      expr("user_id = uid2 AND bts > ats AND bts <= ats + interval 1 hour"))
      .select(col("sid"), col("bid"))
  }

  /** Stream-stream LEFT OUTER interval join — the state-expiry-emits-
    * null contract on top of [[intervalJoinPairs]]: a signup with no
    * same-user event in its hour emits (sid, -1) ONCE THE JOIN
    * WATERMARK (the min of both sides' watermarks) passes the end of
    * its match window — the only moment the runtime can prove no match
    * is still possible. Until then the row is held in state, which the
    * two-sided time bound keeps finite. Unmatched rows surface as -1,
    * not NULL, mirroring the engine-wide no-NULL-numeric-output rule of
    * the registered batch twin. */
  def intervalJoinLeftPairs(events: DataFrame): DataFrame = {
    val a = events.filter(col("event_type") === "signup")
      .select(col("event_id").as("sid"), col("user_id"), col("ts").as("ats"))
      .withWatermark("ats", "2 hours")
    val b = events
      .select(col("user_id").as("uid2"), col("ts").as("bts"), col("event_id").as("bid"))
      .withWatermark("bts", "2 hours")
    a.join(b,
      expr("user_id = uid2 AND bts > ats AND bts <= ats + interval 1 hour"),
      "leftOuter")
      .select(col("sid"), coalesce(col("bid"), lit(-1L)).as("bid"))
  }

  /** Streaming dedup: at-least-once delivery → exactly-once emission per
    * (user_id, event_type, minute) key, with state bounded by the
    * watermark (a key's dedup entry is dropped once the watermark passes
    * it — the property that makes this viable on an unbounded 100-TB
    * ingest, where a global dropDuplicates would accumulate state
    * forever). Streaming twin of the registered `st_dedup` batch query;
    * StreamingSpec proves key-set equality and cross-micro-batch
    * suppression. `delay` is the dedup horizon: duplicates arriving
    * within it are suppressed, later re-sends are re-emitted (the
    * standard watermark-dedup contract). */
  def dedupEvents(events: DataFrame, delay: String = "1 hour"): DataFrame =
    events
      .withColumn("m", date_trunc("minute", col("ts")))
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("user_id", "event_type", "m")

  /** Streaming crawl ingest — the crawl front's streaming form: a page
    * stream (doc_id, url, payload) is canonicalized, first-arrival
    * deduplicated on the canonical key (the crawler's SEEN SET — this
    * is the state a streaming crawler actually holds; `dropDuplicates`
    * keeps it in the state store, RocksDB-backed in production; at
    * 100 TB the horizon would be watermark-bounded like [[dedupEvents]]
    * or an external seen-store, but the PLAN is identical), and the
    * survivors pay the stateless gunzip + HTML-extract map — re-fetches
    * are suppressed BEFORE any decode, the same stage order as the
    * batch `d_crawl_incremental`. Twin of the registered
    * `st_crawl_ingest` batch query; StreamingSpec proves row equality
    * with ordered arrival and cross-micro-batch suppression. */
  def crawlIngest(pages: DataFrame): DataFrame = {
    import graft.functions.GraftFunctions.{gunzip_text, html_extract}
    pages
      .withColumn("canonical", graft.pipeline.Urls.canonicalize(col("url")))
      .dropDuplicates("canonical")
      .select(col("doc_id"), col("canonical"),
        length(html_extract(gunzip_text(col("payload"))))
          .cast(LongType).as("n_chars"))
  }

  /** Streaming WARC ingest — how crawl shards actually arrive: a
    * stream of .warc.gz files; each is multi-member-gunzipped, the
    * record walk explodes the capture triplets, response payloads
    * surface through the embedded HTTP parse, and a URI seen-set in
    * the state store elects first arrivals — a re-fetched page is
    * suppressed by state BEFORE the HTML extraction pays anything.
    * The demux/decode/extract chain is stateless narrow work; the one
    * stateful op is the uri-keyed dropDuplicates (RocksDB-backed,
    * watermark-boundable in production, like [[crawlIngest]]). Twin of
    * the registered `st_warc_ingest` batch query; StreamingSpec proves
    * row equality with ordered arrival + cross-micro-batch
    * suppression. */
  def warcIngest(shards: DataFrame): DataFrame = {
    import graft.functions.GraftFunctions.{gunzip_bytes, html_extract, warc_records}
    shards
      .select(col("doc_id"),
        explode(warc_records(gunzip_bytes(col("warcgz")))).as("r"))
      .filter(col("r.rec_type") === "response")
      .select(col("doc_id"), col("r.uri").as("uri"), col("r.body").as("body"))
      .dropDuplicates("uri")
      .select(col("doc_id"), col("uri"),
        length(html_extract(col("body"))).cast(LongType).as("n_chars"))
  }

  /** Streaming `.warc.zst` ingest — [[warcIngest]] with the zstd frame
    * decoder in place of gunzip: Common Crawl's CURRENT shard format.
    * Same stateless demux/decode/extract chain, same uri-keyed
    * seen-set election; the compression swap touches exactly one
    * expression. Twin of the registered `st_warc_zst_ingest` batch
    * query; StreamingSpec proves row equality with ordered arrival +
    * cross-micro-batch suppression. */
  def warcZstIngest(shards: DataFrame): DataFrame = {
    import graft.functions.GraftFunctions.{html_extract, unzstd_bytes, warc_records}
    shards
      .select(col("doc_id"),
        explode(warc_records(unzstd_bytes(col("warczst")))).as("r"))
      .filter(col("r.rec_type") === "response")
      .select(col("doc_id"), col("r.uri").as("uri"), col("r.body").as("body"))
      .dropDuplicates("uri")
      .select(col("doc_id"), col("uri"),
        length(html_extract(col("body"))).cast(LongType).as("n_chars"))
  }

  /** Streaming learned-quality gate — the quality model's streaming
    * form: the naive-Bayes model trains OFFLINE on the standing corpus
    * (QualityModel.trainArtifact — a vocab-sized token→weight map),
    * ships to the stream as a literal broadcast artifact, and every
    * incoming document is scored by a stateless higher-order fold over
    * its token array (zero shuffles, zero state store, append mode) —
    * the CCNet-style filter as it actually runs at ingest. Twin of the
    * registered `st_quality_model_gate` batch query; StreamingSpec
    * proves row equality across micro-batches. */
  def qualityGate(docs: DataFrame, weights: Map[String, Long],
      prior: Long, unseen: Long): DataFrame =
    graft.pipeline.QualityModel.scoreRows(docs, weights, prior, unseen)

  /** Streaming trained language-ID gate — the lang-id model's streaming
    * form (the qualityGate pattern): char-trigram NB weights train
    * OFFLINE (LangIdModel.trainArtifact — a trigram-vocab-bounded
    * gram→per-class-weight map), ship as a literal broadcast artifact,
    * and each incoming document is scored by one stateless fold
    * accumulating all five class sums (zero shuffles, zero state store,
    * append mode). Twin of the registered `st_lang_id_gate` batch
    * query; StreamingSpec proves row equality across micro-batches. */
  def langIdGate(docs: DataFrame, weights: Map[String, Seq[Long]],
      priors: Seq[Long], norms: Seq[Long]): DataFrame =
    graft.pipeline.LangIdModel.scoreRows(docs, weights, priors, norms)

  /** Stream-static enrichment join: every micro-batch of the event
    * stream probes the static customer dimension, broadcast to the
    * executors — the standard at-ingest enrichment pattern (attach
    * segment/geo attributes before events hit the lake). Stateless by
    * construction: an INNER stream-static join needs no watermark and
    * keeps no store (the static side is planned once per micro-batch,
    * broadcast-sized), so throughput is the map path plus a hash probe —
    * the shape that survives an unbounded 100-TB ingest. Twin of the
    * registered `st_enrich` batch query; StreamingSpec proves row-set
    * equality. */
  def enrichEvents(events: DataFrame, customers: DataFrame): DataFrame =
    events.join(
      broadcast(customers.select(
        col("c_custkey"), col("c_mktsegment"),
        col("c_nationkey").cast(LongType).as("nationkey"))),
      col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("c_mktsegment"), col("nationkey"))

  // ---- upsert sink ------------------------------------------------------

  /** Lakehouse-style streaming upsert sink: each micro-batch is applied
    * to the accumulated table state through Cdc.applyLog (latest-per-key
    * reduce, then MERGE with tombstones) inside `foreachBatch` — the
    * standard CDC-apply pattern for engines whose file sinks are
    * append-only. State is localCheckpoint'ed per batch so it stays
    * valid after the micro-batch's source frame is gone and its lineage
    * doesn't grow with the stream. StreamingSpec proves the folded
    * stream state equals the one-pass batch latest-per-key result.
    */
  final class UpsertSink(keys: Seq[String], seq: String,
      deleteWhen: org.apache.spark.sql.Column) {
    @volatile private var state: Option[DataFrame] = None

    /** Post-merge table state after the last completed batch. */
    def current: Option[DataFrame] = state

    /** The foreachBatch hook. */
    def apply(batch: DataFrame, batchId: Long): Unit = synchronized {
      val tgt = state.getOrElse(batch.limit(0))
      val next = graft.analytics.CheckpointRegistry.ckpt(graft.operators.Cdc
        .applyLog(tgt, batch, keys, seq, deleteWhen)).df
      // the superseded state is fully folded into `next` — free its
      // blocks now, or a long stream accumulates one table copy per batch
      state.foreach(graft.analytics.CheckpointRegistry.free)
      state = Some(next)
    }
  }

  // ---- stateful sessionization -----------------------------------------

  final case class Ev(user_id: Long, ts: Timestamp)
  final case class SessState(startUs: Long, endUs: Long, n: Long)
  final case class Session(user_id: Long, session_start_us: Long,
      session_end_us: Long, n_events: Long)

  def tsToUs(ts: Timestamp): Long = {
    val i = ts.toInstant
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  /** 30-minute-gap sessionization with flatMapGroupsWithState +
    * event-time timeout: a session closes when a later event arrives past
    * the gap, or when the watermark passes end+gap (timeout). Semantics
    * equal StreamingQueries.sessionize (proven in StreamingSpec).
    */
  def sessionize(events: Dataset[Ev], gapUs: Long = 1800000000L): Dataset[Session] = {
    import events.sparkSession.implicits._

    def fn(uid: Long, it: Iterator[Ev], state: GroupState[SessState]): Iterator[Session] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator(Session(uid, s.startUs, s.endUs, s.n))
      } else {
        val sorted = it.map(e => tsToUs(e.ts)).toArray.sorted
        var open = state.getOption
        val closed = scala.collection.mutable.ArrayBuffer[Session]()
        sorted.foreach { us =>
          open match {
            case Some(s) if us - s.endUs <= gapUs =>
              open = Some(SessState(s.startUs, math.max(s.endUs, us), s.n + 1))
            case Some(s) =>
              closed += Session(uid, s.startUs, s.endUs, s.n)
              open = Some(SessState(us, us, 1))
            case None =>
              open = Some(SessState(us, us, 1))
          }
        }
        open.foreach { s =>
          state.update(s)
          // close via watermark: timeout at session end + gap
          state.setTimeoutTimestamp(s.endUs / 1000L + gapUs / 1000L)
        }
        closed.iterator
      }
    }

    events
      .withWatermark("ts", "1 minute")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  // ---- transformWithState sessionization (Spark 4 state API v2) --------

  /** The same 30-minute-gap sessionization on `transformWithState` — the
    * Spark 4 arbitrary-state API that supersedes flatMapGroupsWithState:
    * typed named state (ValueState) instead of a single GroupState blob,
    * explicit event-time timers instead of one timeout slot, and a
    * RocksDB-backed store (the API requires the provider, which is what
    * gives it changelog checkpointing and state bigger than the heap at
    * cluster scale). Semantics must equal `sessionize` and the
    * registered `st_sessionize` batch oracle — StreamingSpec proves all
    * three agree on real events.
    *
    * Timer discipline: a timer is (re)registered at session-end + gap on
    * every extension; stale timers (an earlier end's) fire harmlessly —
    * the guard in handleExpiredTimer only closes when the fired expiry
    * covers the CURRENT end + gap, so an extended session survives its
    * superseded timers. */
  final class SessionProcessor(gapUs: Long)
      extends StatefulProcessor[Long, Ev, Session] {
    @transient private var state: ValueState[SessState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[SessState]("session",
        Encoders.product[SessState], TTLConfig.NONE)

    override def handleInputRows(uid: Long, rows: Iterator[Ev],
        tv: TimerValues): Iterator[Session] = {
      val sorted = rows.map(e => tsToUs(e.ts)).toArray.sorted
      var open = if (state.exists()) Some(state.get()) else None
      val closed = scala.collection.mutable.ArrayBuffer[Session]()
      sorted.foreach { us =>
        open match {
          case Some(s) if us - s.endUs <= gapUs =>
            open = Some(SessState(s.startUs, math.max(s.endUs, us), s.n + 1))
          case Some(s) =>
            closed += Session(uid, s.startUs, s.endUs, s.n)
            open = Some(SessState(us, us, 1))
          case None =>
            open = Some(SessState(us, us, 1))
        }
      }
      open.foreach { s =>
        state.update(s)
        getHandle.registerTimer(s.endUs / 1000L + gapUs / 1000L)
      }
      closed.iterator
    }

    override def handleExpiredTimer(uid: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[Session] = {
      if (!state.exists()) return Iterator.empty
      val s = state.get()
      if (info.getExpiryTimeInMs >= s.endUs / 1000L + gapUs / 1000L) {
        state.clear()
        Iterator(Session(uid, s.startUs, s.endUs, s.n))
      } else Iterator.empty // superseded by a session extension
    }
  }

  def sessionizeTws(events: Dataset[Ev], gapUs: Long = 1800000000L): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "1 minute")
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapUs),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
