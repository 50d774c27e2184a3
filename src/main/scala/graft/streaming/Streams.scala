package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.Churn
import graft.sources.Tables

// top-level (codegen-visible) row types for the stateful sessionizers
case class Ev(user_id: Long, ep: Long, value: Double)
case class SessState(start: Long, end: Long, n: Long, value: Double)
case class SessOut(user_id: Long, session_seq: Long, start_ep: Long,
  end_ep: Long, n_events: Long)
/** st6's O(1)-per-key state: the one open session + the session counter. */
case class OpenSess(start: Long, end: Long, n: Long, seq: Long)
/** st6 input row — carries the watermark column (event-time timeout
  * requires the watermarked attribute to reach the stateful operator). */
case class EvW(user_id: Long, ep: Long, event_time: java.sql.Timestamp)

/** Structured Streaming operators (SURVEY.md §2g). Both run the events
  * table through a real streaming query (memory sink, processAllAvailable
  * — the documented pattern for driving a finite source synchronously),
  * so the plans exercised are the ones a Kafka/files source would run at
  * scale: watermark + windowed state for st1, per-key arbitrary state
  * (flatMapGroupsWithState) for st2.
  */
object Streams {

  /** The transport behind every staged-batch operator below (st4–st7
    * and the retention spec): file replay in this container; a broker
    * deployment swaps in `new KafkaStreamSource(servers, topic)` and no
    * operator changes — see [[StreamSource]]. The swap seam is a
    * DynamicVariable, not a mutable field (ADVICE r10): the default is
    * effectively immutable in production, and [[withSource]]'s swap is
    * visible only on the swapping thread (and children it spawns), so a
    * concurrently-running streaming query or a parallel suite can never
    * observe another test's transport mid-scope. Operators consume the
    * source at PLAN-BUILD time on the calling thread, which is exactly
    * the scope the variable covers. */
  private val sourceVar =
    new scala.util.DynamicVariable[StreamSource](FileStreamSource)
  private[graft] def source: StreamSource = sourceVar.value

  /** Run `f` with the staged-batch transport swapped — the seam
    * KafkaParitySpec uses to drive whole operator plans over
    * [[KafkaWireReplaySource]]'s recorded wire feed. Thread-scoped and
    * exception-safe by construction. */
  private[graft] def withSource[T](alt: StreamSource)(f: => T): T =
    sourceVar.withValue(alt)(f)

  /** Observability seam for the stateful-state-bound gate
    * (StateBoundSpec): when set, every streaming operator drains its
    * query's [[org.apache.spark.sql.streaming.StreamingQueryProgress]]
    * records into the buffer just before stopping the query. Same
    * DynamicVariable scoping discipline as [[sourceVar]] — the default
    * (None) costs nothing in production, and a spec's collector is
    * visible only on its own thread. */
  private val progressVar = new scala.util.DynamicVariable[
    Option[scala.collection.mutable.Buffer[
      org.apache.spark.sql.streaming.StreamingQueryProgress]]](None)

  private[graft] def collectProgress[T](
      buf: scala.collection.mutable.Buffer[
        org.apache.spark.sql.streaming.StreamingQueryProgress])(f: => T): T =
    progressVar.withValue(Some(buf))(f)

  private[graft] def drainProgress(
      q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    progressVar.value.foreach(_ ++= q.recentProgress)

  /** st1/st2/st3's whole-log feed: the event table streamed directly
    * from its on-disk location (no batch structure imposed). This is
    * [[FileStreamSource]]'s degenerate single-batch case minus a
    * redundant staging copy of a log that already sits in the source
    * dir; the Kafka analogue is simply subscribing to the topic. */
  private def streamEvents(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = graft.sources.ParquetFooters.schema(s, Tables.path(d, "events"))
    // streaming file source wants a directory: read the sf dir with a
    // glob filter selecting just the events table. The read uses the
    // file's own ts type; normalizeTs restores the engine's
    // nanos-LONG contract on the streaming frame (one projection),
    // exactly as the batch seam does.
    Tables.normalizeTs(
      s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(d))
  }

  private var counter = 0
  private def freshName(prefix: String): String = synchronized {
    counter += 1; s"${prefix}_$counter"
  }

  /** Config key overriding the stateful streams' state-store width —
    * the knob a deployment sets from its KEY VOLUME, since the local
    * default below cannot know it. */
  private[graft] val StatePartsConf = "spark.graft.streaming.stateParts"

  /** Sizing rule a production deployment applies through
    * [[StatePartsConf]] (documented here because the right value is a
    * property of the WORKLOAD, not the engine): state-store count =
    * ceil(estimated distinct keys × bytes-per-key-state / target
    * store size), floored at the cluster's core count so every core
    * can commit stores in parallel — e.g. 10⁸ session keys × ~100 B ≈
    * 10 GB of state at a 256 MB/store target → ~40–64 stores, while a
    * 10¹⁰-key dedup stream sizes to thousands. Per-key semantics are
    * partitioning-independent (StateBoundSpec proves identical outputs
    * across widths), so the knob trades per-batch commit overhead
    * against per-store memory — never correctness. */
  private[graft] def statePartsFor(estimatedKeys: Long,
      bytesPerKey: Long, cores: Int, targetStoreBytes: Long = 256L << 20): Int =
    math.max(cores, math.ceil(
      estimatedKeys.toDouble * bytesPerKey / targetStoreBytes).toInt)

  /** Run `f` with the session's shuffle-partition count lowered to the
    * streaming STATE-STORE width — st7's discipline, factored out and
    * applied to every stateful streaming operator: state-store count is
    * fixed to the shuffle-partition count at the first batch, and each
    * micro-batch then pays per-store commit/maintenance overhead per
    * stateful operator whether or not a store holds keys. A production
    * streaming job sizes this to its key cardinality and state volume —
    * [[StatePartsConf]] overrides the default, [[statePartsFor]] is the
    * sizing rule — never to the batch engine's default; the in-code
    * default n=4 is the LOCAL fixture width (near-empty stores at test
    * SF). Restores the session value even on failure; the batch frame a
    * caller returns plans AFTER restoration, so only the streaming
    * query itself is affected. */
  private[graft] def withStateParts[T](s: SparkSession, n: Int = 4)(f: => T): T = {
    val parts = s.conf.getOption(StatePartsConf).map(_.trim.toInt).getOrElse(n)
    require(parts > 0, s"$StatePartsConf must be positive, got $parts")
    val saved = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", parts.toString)
    try f finally s.conf.set("spark.sql.shuffle.partitions", saved)
  }

  /** st1_stream_windowed — 6h tumbling-window counts per event type with
    * a 1h watermark, complete mode into a memory sink. The final table
    * equals the batch group-by — which is exactly what the DuckDB oracle
    * computes (window_start as epoch seconds). */
  def st1StreamWindowed(s: SparkSession, d: String): DataFrame = {
    val name = freshName("st1_out")
    withStateParts(s) {
      val agg = streamEvents(s, d)
        .withColumn("ep", expr("ts div 1000000000"))
        .withColumn("win_start", (col("ep") - pmod(col("ep"), lit(21600L))).cast("long"))
        .withColumn("event_time", timestamp_seconds(col("ep")))
        .withWatermark("event_time", "1 hour")
        .groupBy(col("win_start"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("value_sum"))
      val q = agg.writeStream
        .outputMode(OutputMode.Complete)
        .format("memory").queryName(name)
        .start()
      q.processAllAvailable()
      drainProgress(q)
      q.stop()
    }
    s.table(name).orderBy("win_start", "event_type")
  }

  val st1Sql: String =
    """SELECT (CAST(FLOOR(epoch(ts)) AS BIGINT)
      |    - CAST(FLOOR(epoch(ts)) AS BIGINT) % 21600) AS win_start,
      |  event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin


  /** st2_stream_sessionize — gap-based sessionization as *stateful
    * streaming* (flatMapGroupsWithState): the per-user state machine a
    * real-time churn pipeline runs on a Kafka source. With the finite
    * input processed in one batch, emitted sessions match the batch
    * sessionizer c1 (StreamingSpec asserts parity). */
  def st2StreamSessionize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val name = freshName("st2_out")
    val ds = streamEvents(s, d)
      .withColumn("ep", expr("ts div 1000000000"))
      .select(col("user_id"), col("ep"), col("value"))
      .as[Ev]

    val fn = (userId: Long, rows: Iterator[Ev], state: GroupState[SessState]) => {
      // batch-end = stream-end for this finite demo source: emit all
      // sessions including the open one.
      //
      // Per-key memory contract: rows within a micro-batch arrive
      // unordered, so the gap scan needs this key's event TIMES sorted —
      // we buffer one primitive long per event instead of the row
      // objects (a 10M-event hot user costs ~80MB, not gigabytes of
      // boxed rows). For truly unbounded keys the production shape is
      // event-time pre-bucketing upstream or a timeout-driven
      // open-session state machine (O(1) state per key);
      // StreamingAndMlSpec pins this formulation against the batch
      // sessionizer c1 including a deliberately hot key.
      val eps = rows.map(_.ep).toArray
      java.util.Arrays.sort(eps)
      val sessions = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      var start = -1L; var end = -1L; var n = 0L
      eps.foreach { ep =>
        if (start < 0) { start = ep; end = ep; n = 1 }
        else if (ep - end > Churn.SessionGapS) {
          sessions += ((start, end, n)); start = ep; end = ep; n = 1
        } else { end = ep; n += 1 }
      }
      if (start >= 0) sessions += ((start, end, n))
      sessions.iterator.zipWithIndex.map { case ((st, en, cnt), i) =>
        SessOut(userId, i + 1L, st, en, cnt)
      }
    }

    val out = ds.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
    withStateParts(s) {
      val q = out.writeStream
        .outputMode(OutputMode.Append)
        .format("memory").queryName(name)
        .start()
      q.processAllAvailable()
      drainProgress(q)
      q.stop()
    }
    s.table(name).orderBy("user_id", "session_seq")
  }

  /** st3_stream_static_join — stream-static enrichment: the event
    * stream joined to the customer dim (broadcast on the streaming
    * side), aggregated per market segment. The static side is re-read
    * per micro-batch in production — exactly how a slowly-changing dim
    * behaves under Structured Streaming. Finalized complete-mode table
    * equals the batch join, which is what the oracle computes. */
  def st3StreamStaticJoin(s: SparkSession, d: String): DataFrame = {
    val name = freshName("st3_out")
    val dim = s.read.parquet(s"$d/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"))
    val agg = streamEvents(s, d)
      .join(dim, col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("value_sum"))
    withStateParts(s) {
      val q = agg.writeStream
        .outputMode(OutputMode.Complete)
        .format("memory").queryName(name)
        .start()
      q.processAllAvailable()
      drainProgress(q)
      q.stop()
    }
    s.table(name).orderBy("c_mktsegment")
  }

  /** st4_stream_late_data — append-mode tumbling windows where the
    * declared watermark actually DOES something (st1's complete mode
    * can't drop anything by construction). The input is staged as two
    * parquet files consumed as separate micro-batches
    * (maxFilesPerTrigger=1): batch 0 is the first 4 days of events
    * (state built, watermark still unset); batch 1 is day 5, which
    * advances the watermark past the day-1..4 windows so their state is
    * EVICTED and emitted at its end; batch 2 replays the slice's
    * earliest event — its window's state is gone and its event time is
    * far behind the watermark, so Spark is GUARANTEED to discard it
    * (the watermark contract only promises to drop late rows whose
    * state was already evicted; a late row arriving while its window is
    * still live may legally be aggregated, which is why the eviction
    * batch must come between). StreamingAndMlSpec asserts the emitted
    * table equals the on-time batch aggregate over finalized windows
    * (window end ≤ final watermark) — late row excluded, open windows
    * held back. This is the state-expiring plan a Kafka source runs at
    * scale: bounded state, bounded output, late data dropped. */
  def st4StreamLateData(s: SparkSession, d: String): DataFrame = {
    val name = freshName("st4_out")

    // on-time slice: first 5 days of the (fixed-date-range) event log
    val ev = Tables.events(s, d)
      .withColumn("ep", expr("ts div 1000000000"))
      .filter(expr("ep div 86400") < lit(OnTimeDayLimit))
      .select("event_id", "user_id", "event_type", "value", "ep")
    val early = ev.filter(expr("ep div 86400") < lit(OnTimeDayLimit - 1L))
    val lastDay = ev.filter(expr("ep div 86400") === lit(OnTimeDayLimit - 1L))
    val late = ev.orderBy(asc("ep"), asc("event_id")).limit(1)

    withStateParts(s) {
      val agg = source.batched(s, "st4", ev.schema, Seq(
        "batch0_ontime" -> early, "batch1_advance" -> lastDay, "batch2_late" -> late))
        .withColumn("event_time", timestamp_seconds(col("ep")))
        .withWatermark("event_time", "1 hour")
        .groupBy(window(col("event_time"), "6 hours"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("value_sum"))
      val q = agg.writeStream
        .outputMode(OutputMode.Append)
        .format("memory").queryName(name)
        .start()
      q.processAllAvailable()
      drainProgress(q)
      q.stop()
    }
    s.table(name)
      .select(col("window.start").cast("long").as("win_start"),
        col("event_type"), col("n_events"), col("value_sum"))
      .orderBy("win_start", "event_type")
  }

  /** st4/st5's on-time slice bound: epoch days < this (data dates are
    * fixed across SFs — see x6's day constant). */
  val OnTimeDayLimit = 19728L

  /** st6's tombstone retention (seconds): a closed-out user's session
    * counter is kept this long past their last event so a returning
    * user continues numbering instead of restarting at 1; after it the
    * tombstone is evicted (state stays bounded by ACTIVE-ish users, not
    * all users ever seen). 90 days — past any watermark this demo
    * reaches, and the horizon a churn pipeline would pick (≫ the churn
    * threshold). */
  val RetentionS = 90L * 86400L

  /** st5_stream_dedup — streaming ingest deduplication with bounded
    * state: `dropDuplicatesWithinWatermark` on event_id — the
    * exactly-once-ish consumer a replayed Kafka feed needs. Batch 0 is
    * the on-time slice; batch 1 replays the slice's newest 50 events
    * (duplicate event_ids whose originals are still inside the
    * watermark delay, so the state is live and the replays are
    * GUARANTEED dropped). The sink then holds exactly one row per
    * event_id; the returned per-type aggregate equals the batch
    * aggregate of the slice (StreamingAndMlSpec asserts — any leaked
    * replay would inflate a count). State is bounded by the watermark
    * delay, exactly how this runs unbounded at scale. */
  def st5StreamDedup(s: SparkSession, d: String): DataFrame = {
    val name = freshName("st5_out")
    val ev = Tables.events(s, d)
      .withColumn("ep", expr("ts div 1000000000"))
      .filter(expr("ep div 86400") < lit(OnTimeDayLimit))
      .select("event_id", "user_id", "event_type", "value", "ep")
    // replay the NEWEST events: their originals are well within the
    // 25h watermark delay when batch 1 runs, so dedup state is live
    val replay = ev.orderBy(desc("ep"), desc("event_id")).limit(50)
    withStateParts(s) {
      val deduped = source.batched(s, "st5", ev.schema,
        Seq("batch0_feed" -> ev, "batch1_replay" -> replay))
        .withColumn("event_time", timestamp_seconds(col("ep")))
        .withWatermark("event_time", "25 hours")
        .dropDuplicatesWithinWatermark("event_id")
      val q = deduped.writeStream
        .outputMode(OutputMode.Append)
        .format("memory").queryName(name)
        .start()
      q.processAllAvailable()
      drainProgress(q)
      q.stop()
    }
    s.table(name)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("value_sum"))
      .orderBy("event_type")
  }

  /** st6_stream_session_state — the PRODUCTION sessionizer shape st2's
    * doc promises: O(1) state per key across micro-batches (the one
    * open session + a counter — never buffered events), sessions closed
    * either by an in-batch gap or by an EventTimeTimeout once the
    * watermark passes the open session's gap horizon. st2 buffers a
    * key's whole batch to sort it (fine when batch-end = stream-end);
    * here the input arrives as CHRONOLOGICAL micro-batches (the Kafka
    * contract: bounded out-of-orderness, handled by the watermark
    * delay), so cross-batch state is just the open session. A sentinel
    * far-future event drives the final watermark advance that times out
    * and emits every still-open session — in production that advance
    * comes from the stream simply continuing. StreamingAndMlSpec pins
    * the emitted sessions against the batch sessionizer c1. */
  def st6StreamSessionState(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .withColumn("ep", expr("ts div 1000000000"))
      .filter(expr("ep div 86400") < lit(OnTimeDayLimit))
      .select("user_id", "ep", "value")
    // three chronological micro-batches (day ranges are disjoint and
    // ordered, so all events of batch i precede batch i+1)
    val cut = OnTimeDayLimit
    val b0 = ev.filter(expr("ep div 86400") < lit(cut - 4L))
    val b1 = ev.filter(expr("ep div 86400") >= lit(cut - 4L) &&
      expr("ep div 86400") < lit(cut - 2L))
    val b2 = ev.filter(expr("ep div 86400") >= lit(cut - 2L))
    // sentinel: one far-future event on a reserved key, so the last
    // batch's watermark passes every real session's gap horizon
    val sentinel = s.range(1)
      .select(lit(-1L).as("user_id"),
        lit((OnTimeDayLimit + 30L) * 86400L).as("ep"), lit(0.0).as("value"))
    runSessionState(s, ev.schema, "st6", Seq(
      "batch0" -> b0, "batch1" -> b1, "batch2" -> b2, "batch3_advance" -> sentinel))
      .filter(col("user_id") >= 0L)
      .orderBy("user_id", "session_seq")
  }

  /** st6's per-key state machine, a named value so StreamingAndMlSpec
    * can drive the tombstone-retention path (a watermark jump past
    * end+RetentionS) that no sf fixture reaches. */
  private[graft] val sessionStateFn:
      (Long, Iterator[EvW], GroupState[OpenSess]) => Iterator[SessOut] =
    (userId: Long, rows: Iterator[EvW], state: GroupState[OpenSess]) => {
      if (state.hasTimedOut) {
        val o = state.get
        if (o.start < 0) {
          // a TOMBSTONE aged past the retention horizon: the user has
          // been inactive for RetentionS — drop the counter (a return
          // after that restarts numbering, the documented retention
          // tradeoff every keyed-state pipeline makes)
          state.remove()
          Iterator.empty
        } else {
          // watermark passed the open session's gap horizon: close and
          // emit it, but KEEP the session counter as an O(1) tombstone —
          // state.remove() here would restart session_seq at 1 for a
          // user who skips a batch and returns (r3's bug: 18 renumbered
          // users at sf0.1)
          state.update(OpenSess(-1L, -1L, 0L, o.seq))
          // clamp: a single watermark jump past end+RetentionS would
          // otherwise hand setTimeoutTimestamp a timestamp below the
          // current watermark, which Spark rejects with an
          // IllegalArgumentException (tombstone then expires at the
          // very next watermark advance — same retention semantics)
          state.setTimeoutTimestamp(math.max((o.end + RetentionS) * 1000L,
            state.getCurrentWatermarkMs() + 1L))
          Iterator(SessOut(userId, o.seq, o.start, o.end, o.n))
        }
      } else {
        // within one micro-batch a key's events still need sorting —
        // bounded by the batch, not the stream; state carried BETWEEN
        // batches is the single open session
        val eps = rows.map(_.ep).toArray
        java.util.Arrays.sort(eps)
        val out = scala.collection.mutable.ArrayBuffer.empty[SessOut]
        var open = state.getOption.getOrElse(OpenSess(-1L, -1L, 0L, 0L))
        eps.foreach { ep =>
          if (open.start < 0) open = OpenSess(ep, ep, 1L, open.seq + 1L)
          else if (ep - open.end > Churn.SessionGapS) {
            out += SessOut(userId, open.seq, open.start, open.end, open.n)
            open = OpenSess(ep, ep, 1L, open.seq + 1L)
          } else open = open.copy(end = ep, n = open.n + 1L)
        }
        state.update(open)
        // time out once the watermark is past end+gap (no more events
        // can legally extend this session); the sentinel key gets the
        // same treatment and is filtered from the result
        val horizonMs = (open.end + Churn.SessionGapS) * 1000L + 1L
        state.setTimeoutTimestamp(math.max(horizonMs, state.getCurrentWatermarkMs() + 1L))
        out.iterator
      }
    }

  /** Run the st6 state machine as a streaming query over ordered
    * micro-batches (schema: user_id, ep, value) delivered through the
    * pluggable [[source]]. Shared by st6 and the tombstone-retention
    * spec; returns the raw emitted sessions (sentinel keys included —
    * callers filter). */
  private[graft] def runSessionState(s: SparkSession,
      schema: org.apache.spark.sql.types.StructType, op: String,
      batches: Seq[(String, DataFrame)]): DataFrame = {
    import s.implicits._
    val name = freshName("st6_out")
    withStateParts(s) {
      val out = source.batched(s, op, schema, batches)
        .withColumn("event_time", timestamp_seconds(col("ep")))
        .withWatermark("event_time", "1 hour")
        .select(col("user_id"), col("ep"), col("event_time")).as[EvW]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.EventTimeTimeout)(sessionStateFn)
      val q = out.writeStream
        .outputMode(OutputMode.Append)
        .format("memory").queryName(name)
        .start()
      q.processAllAvailable()
      drainProgress(q)
      q.stop()
    }
    s.table(name)
  }

  /** st7_stream_stream_join — watermarked STREAM-STREAM inner join,
    * the attribution query a real-time pipeline runs: each purchase
    * joined to the same user's signup(s) within the preceding hour.
    * Both sides carry watermarks and the join condition bounds event
    * time on both sides, so Spark can size and EXPIRE the join state —
    * the contract that keeps an unbounded two-stream join at O(window)
    * state instead of O(stream). With the finite input in one batch
    * nothing is dropped, so the emitted pairs equal the batch join,
    * which is exactly what the DuckDB oracle computes (full ✓oracle —
    * rare for a streaming op). */
  /** st7's slice boundaries (epoch seconds, mid-range): deliberately
    * NOT day-aligned — each cut lands INSIDE a known signup→purchase
    * window of the fixture (dates are fixed across SFs), so at least
    * one emitted pair's signup arrives a whole micro-batch before its
    * purchase: the cross-batch buffering is provably exercised
    * (StreamingAndMlSpec asserts such straddling pairs exist). */
  val St7Cut1 = 1704296000L
  val St7Cut2 = 1705862800L

  def st7StreamStreamJoin(s: SparkSession, d: String): DataFrame = {
    val name = freshName("st7_out")
    // three CHRONOLOGICAL micro-batches (day-range slices), not one:
    // the join must buffer both sides' state ACROSS batches (a signup
    // near a slice boundary meets its purchase in the next batch) while
    // the advancing watermark expires state behind it. Chronological
    // arrival + the 1h join window + the 1h watermark delay guarantee
    // no legal pair's partner is ever expired before it arrives, so the
    // multi-batch result still hash-matches the batch oracle — state
    // expiry is ACTIVE, correctness is provably unaffected.
    // stage only the two event types the join consumes (the Kafka
    // analogue: the consumer subscribes to the signup/purchase topics,
    // not the whole firehose) and only the columns the join needs
    val evAll = Tables.events(s, d)
      .withColumn("ep", expr("ts div 1000000000"))
      .filter(col("event_type").isin("signup", "purchase"))
      .select("event_id", "user_id", "event_type", "ep")
    val batches = Seq(
      "batch0" -> evAll.filter(col("ep") < St7Cut1),
      "batch1" -> evAll.filter(col("ep") >= St7Cut1 && col("ep") < St7Cut2),
      "batch2" -> evAll.filter(col("ep") >= St7Cut2))
    // state-store count = shuffle partitions; a stateful streaming job
    // sizes it to its key cardinality/state volume, NOT to the batch
    // engine's default — 3 micro-batches × 2 join sides × N stores is
    // pure per-store overhead when stores are near-empty (the real
    // tuning knob every production streaming job sets)
    withStateParts(s) { st7Run(s, name, batches, evAll.schema) }
  }

  private[graft] def st7Run(s: SparkSession, name: String,
      batches: Seq[(String, DataFrame)],
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val base = source.batched(s, "st7", schema, batches)
      .withColumn("event_time", timestamp_seconds(col("ep")))
    val signups = base.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("event_time").as("s_time"),
        col("ep").as("s_ep"))
      .withWatermark("s_time", "1 hour")
    val purchases = base.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_time").as("p_time"),
        col("ep").as("p_ep"), col("event_id"))
      .withWatermark("p_time", "1 hour")
    // the range bound is written on the WATERMARKED event-time columns
    // (p_time/s_time), not the raw epoch longs: StreamingJoinHelper can
    // only derive each side's state watermark from a constraint over
    // watermarked attributes. With the bound on p_ep/s_ep (r11's bug)
    // the constraint extraction failed (WARN in every run) and join
    // state was never time-evicted — correct on finite input, unbounded
    // state on a real stream. p_time = timestamp_seconds(p_ep) exactly,
    // so the predicate is value-identical; StateBoundSpec asserts rows
    // are actually removed from the join state as the watermark advances.
    val joined = purchases.join(signups,
      col("p_user") === col("s_user") &&
        col("p_time") >= col("s_time") &&
        col("p_time") <= col("s_time") + expr("INTERVAL 1 HOUR"))
    val q = joined.writeStream
      .outputMode(OutputMode.Append)
      .format("memory").queryName(name)
      .start()
    q.processAllAvailable()
    drainProgress(q)
    q.stop()
    s.table(name)
      .groupBy(expr("p_ep div 86400").as("ep_day"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("event_id")).as("n_purchases"))
      .orderBy("ep_day")
  }

  val st7Sql: String =
    """WITH e AS (SELECT event_id, user_id, event_type,
      |  CAST(FLOOR(epoch(ts)) AS BIGINT) AS ep FROM events),
      |s AS (SELECT user_id, ep FROM e WHERE event_type = 'signup'),
      |p AS (SELECT user_id, ep, event_id FROM e WHERE event_type = 'purchase')
      |SELECT CAST(FLOOR(p.ep / 86400) AS BIGINT) AS ep_day,
      |  COUNT(*) AS n_pairs, COUNT(DISTINCT p.event_id) AS n_purchases
      |FROM p JOIN s ON p.user_id = s.user_id
      |  AND p.ep >= s.ep AND p.ep <= s.ep + 3600
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val st3Sql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** st13's watermark-flush instant: beyond the log's maximum event
    * time (day 19752 ends at 1706659200) plus the 1h join window plus
    * the 1h watermark delay — a sentinel pair at this time pushes BOTH
    * sides' watermarks past every real row, so every outer-join state
    * entry is provably evicted and every unmatched purchase EMITS
    * before the query stops. */
  val St13Flush = 1707000000L

  /** st13_stream_stream_outer — watermarked stream-stream LEFT OUTER
    * join, completing the streaming join matrix (st7 is the inner
    * form): every purchase emits exactly once — paired with each signup
    * of the same user in the preceding hour, or with NULLs once the
    * advancing watermark PROVES no such signup can still arrive. That
    * proof is the hard part of outer stream joins: an unmatched row may
    * only emit after both sides' watermarks pass its join window (too
    * early = phantom unmatched rows that later find partners). The
    * fixture appends a far-future sentinel batch (filtered from the
    * output) so the watermark passes every real row's window and the
    * full outer result materializes deterministically — which is what
    * makes a streaming OUTER join fully oracle-checkable against the
    * batch LEFT JOIN. State lifecycle is identical to st7's
    * (chronological batches, 1h window, 1h delay): O(window) resident
    * state at 100 TB, StateBoundSpec-gated. */
  def st13StreamStreamOuter(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val name = freshName("st13_out")
    val evAll = Tables.events(s, d)
      .withColumn("ep", expr("ts div 1000000000"))
      .filter(col("event_type").isin("signup", "purchase"))
      .select("event_id", "user_id", "event_type", "ep")
    // sentinel rows: negative ids, distinct users (they can never join),
    // one per side so BOTH watermark nodes advance past the flush time.
    // They RIDE THE LAST DATA BATCH instead of a fourth batch of their
    // own: a batch's watermark is computed from its max event time and
    // applied at the NEXT (no-data) batch either way, so the eviction/
    // emit-on-proof sequence — and the emitted multiset — is identical,
    // one micro-batch cheaper (planning + both exchanges + every state
    // store commit of a whole batch). Chronology is preserved: the
    // sentinels are the latest events and arrive in the latest batch.
    val flush = Seq((-1L, -1L, "signup", St13Flush), (-2L, -2L, "purchase", St13Flush))
      .toDF("event_id", "user_id", "event_type", "ep")
    val batches = Seq(
      "batch0" -> evAll.filter(col("ep") < St7Cut1),
      "batch1" -> evAll.filter(col("ep") >= St7Cut1 && col("ep") < St7Cut2),
      "batch2_flush" -> evAll.filter(col("ep") >= St7Cut2).unionByName(flush))
    withStateParts(s) { st13Run(s, name, batches, evAll.schema) }
  }

  private[graft] def st13Run(s: SparkSession, name: String,
      batches: Seq[(String, DataFrame)],
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val base = source.batched(s, "st13", schema, batches)
      .withColumn("event_time", timestamp_seconds(col("ep")))
    val signups = base.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("event_time").as("s_time"),
        col("ep").as("s_ep"))
      .withWatermark("s_time", "1 hour")
    val purchases = base.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_time").as("p_time"),
        col("ep").as("p_ep"), col("event_id"))
      .withWatermark("p_time", "1 hour")
    // same watermarked-column range bound as st7 (the state-eviction
    // contract); leftOuter adds the emit-on-proof path for unmatched
    // purchases
    val joined = purchases.join(signups,
      col("p_user") === col("s_user") &&
        col("p_time") >= col("s_time") &&
        col("p_time") <= col("s_time") + expr("INTERVAL 1 HOUR"),
      "leftOuter")
    val q = joined.writeStream
      .outputMode(OutputMode.Append)
      .format("memory").queryName(name)
      .start()
    q.processAllAvailable()
    drainProgress(q)
    q.stop()
    s.table(name)
      .filter(col("event_id") >= 0) // drop the watermark-flush sentinel
      .groupBy(expr("p_ep div 86400").as("ep_day"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("event_id")).as("n_purchases"),
        sum(when(col("s_user").isNull, 1L).otherwise(0L)).as("n_unmatched"))
      .orderBy("ep_day")
  }

  val st13Sql: String =
    """WITH e AS (SELECT event_id, user_id, event_type,
      |  CAST(FLOOR(epoch(ts)) AS BIGINT) AS ep FROM events),
      |s AS (SELECT user_id, ep FROM e WHERE event_type = 'signup'),
      |p AS (SELECT user_id, ep, event_id FROM e WHERE event_type = 'purchase'),
      |j AS (SELECT p.event_id, p.ep AS p_ep, s.user_id AS s_user
      |  FROM p LEFT JOIN s ON p.user_id = s.user_id
      |    AND p.ep >= s.ep AND p.ep <= s.ep + 3600)
      |SELECT CAST(FLOOR(p_ep / 86400) AS BIGINT) AS ep_day,
      |  COUNT(*) AS n_rows, COUNT(DISTINCT event_id) AS n_purchases,
      |  CAST(SUM(CASE WHEN s_user IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  /** st17_stream_stream_full_outer — watermarked stream-stream FULL
    * OUTER join, completing the streaming join matrix (st7 is the
    * inner form, st13 the left outer): matched pairs emit on match; an
    * unmatched purchase emits NULL-extended once the advancing
    * watermark PROVES no signup can still arrive, and an unmatched
    * signup emits NULL-extended once no purchase can — emit-on-proof
    * on BOTH sides, which is what distinguishes full outer from
    * running two independent outer joins. Same chronological batches,
    * 1h join window, 1h watermark delay and far-future flush sentinel
    * as st13, so the complete result materializes deterministically
    * and the DuckDB batch FULL JOIN checks it exactly. State lifecycle
    * is st7's: O(window) resident rows, eviction gated by
    * StateBoundSpec. */
  def st17StreamStreamFullOuter(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val name = freshName("st17_out")
    val evAll = Tables.events(s, d)
      .withColumn("ep", expr("ts div 1000000000"))
      .filter(col("event_type").isin("signup", "purchase"))
      .select("event_id", "user_id", "event_type", "ep")
    // sentinel rows: negative ids/users (they can never join a real
    // row), one per side so BOTH watermark nodes pass the flush time.
    // Same one-batch-cheaper arrangement as st13: the sentinels ride
    // the last data batch — watermark advance and emit-on-proof happen
    // at the following no-data batch either way, multiset-identical.
    val flush = Seq((-1L, -1L, "signup", St13Flush), (-2L, -2L, "purchase", St13Flush))
      .toDF("event_id", "user_id", "event_type", "ep")
    val batches = Seq(
      "batch0" -> evAll.filter(col("ep") < St7Cut1),
      "batch1" -> evAll.filter(col("ep") >= St7Cut1 && col("ep") < St7Cut2),
      "batch2_flush" -> evAll.filter(col("ep") >= St7Cut2).unionByName(flush))
    withStateParts(s) { st17Run(s, name, batches, evAll.schema) }
  }

  private[graft] def st17Run(s: SparkSession, name: String,
      batches: Seq[(String, DataFrame)],
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val base = source.batched(s, "st17", schema, batches)
      .withColumn("event_time", timestamp_seconds(col("ep")))
    val signups = base.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("event_time").as("s_time"),
        col("ep").as("s_ep"))
      .withWatermark("s_time", "1 hour")
    val purchases = base.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_time").as("p_time"),
        col("ep").as("p_ep"), col("event_id"))
      .withWatermark("p_time", "1 hour")
    // the same watermarked-column range bound as st7/st13: it gives the
    // join a state watermark on BOTH sides, which full outer needs to
    // prove each side's unmatched rows
    val joined = purchases.join(signups,
      col("p_user") === col("s_user") &&
        col("p_time") >= col("s_time") &&
        col("p_time") <= col("s_time") + expr("INTERVAL 1 HOUR"),
      "fullOuter")
    val q = joined.writeStream
      .outputMode(OutputMode.Append)
      .format("memory").queryName(name)
      .start()
    q.processAllAvailable()
    drainProgress(q)
    q.stop()
    // drop the two sentinel rows (each emits exactly one unmatched
    // NULL-extended row on its own side; real ids and users are >= 0)
    s.table(name)
      .filter(coalesce(col("event_id"), lit(0L)) >= 0 &&
        coalesce(col("s_user"), lit(0L)) >= 0)
      .groupBy(expr("coalesce(p_ep, s_ep) div 86400").as("ep_day"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("s_user").isNull, 1L).otherwise(0L)).as("n_unmatched_purchases"),
        sum(when(col("p_user").isNull, 1L).otherwise(0L)).as("n_unmatched_signups"))
      .orderBy("ep_day")
  }

  val st17Sql: String =
    """WITH e AS (SELECT event_id, user_id, event_type,
      |  CAST(FLOOR(epoch(ts)) AS BIGINT) AS ep FROM events),
      |s AS (SELECT user_id, ep FROM e WHERE event_type = 'signup'),
      |p AS (SELECT user_id, ep, event_id FROM e WHERE event_type = 'purchase'),
      |j AS (SELECT p.event_id, p.ep AS p_ep, p.user_id AS p_user,
      |    s.user_id AS s_user, s.ep AS s_ep
      |  FROM p FULL JOIN s ON p.user_id = s.user_id
      |    AND p.ep >= s.ep AND p.ep <= s.ep + 3600)
      |SELECT CAST(FLOOR(COALESCE(p_ep, s_ep) / 86400) AS BIGINT) AS ep_day,
      |  COUNT(*) AS n_rows,
      |  CAST(SUM(CASE WHEN s_user IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_unmatched_purchases,
      |  CAST(SUM(CASE WHEN p_user IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_unmatched_signups
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  /** st9_stream_table_read — tail the snapshot TABLE as a stream
    * through the DSv2 connector: offsets are committed versions, each
    * micro-batch ingests exactly one commit's appended files (st8's
    * sink closes the loop on the write side — together they make the
    * snapshot table a streaming hub, the Delta/Iceberg pattern). The
    * fixture's three 10-day append commits arrive as three batches;
    * the memory-sink union equals the whole log, which is what the
    * DuckDB oracle aggregates. SnapshotSourceSpec pins the
    * batch-per-commit boundaries, restart/offset replay, projection
    * pushdown, and the append-only guard. */
  def st9StreamTableRead(s: SparkSession, d: String): DataFrame = {
    val name = freshName("st9_out")
    val root = graft.operators.SnapshotTable.streamTable(s, d)
    val q = s.readStream.format("graft-snapshot").load(root)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName(name)
      .start()
    q.processAllAvailable()
    drainProgress(q)
    q.stop()
    s.table(name)
      .groupBy(col("ep_day"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("value_sum"))
      .orderBy("ep_day")
  }

  val st9Sql: String =
    """WITH e AS (SELECT CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS ep_day, value
      |  FROM events)
      |SELECT ep_day, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM e GROUP BY ep_day ORDER BY ep_day""".stripMargin

  /** st15_stream_available_now — `Trigger.AvailableNow()` over the
    * snapshot source (Spark's `SupportsTriggerAvailableNow`, the
    * backfill trigger Delta serves identically): the run captures the
    * table's version at START, drains exactly that backlog in
    * admission-sized batches (`maxVersionsPerTrigger` 1 here → one
    * batch per commit, same boundaries as st9), then TERMINATES on its
    * own — no long-lived idle stream. At 100 TB this is how a nightly
    * job consumes a deep commit history: bounded batches, bounded
    * lifetime, checkpoint-resumable. The memory-sink union must equal
    * the whole log (the st9 oracle); the spec pins self-termination,
    * batch boundaries, the start-time version cap (a commit landing
    * mid-run is NOT consumed) and checkpoint pickup of that late
    * commit on the next run. */
  def st15StreamAvailableNow(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val name = freshName("st15_out")
    val root = graft.operators.SnapshotTable.streamTable(s, d)
    val q = s.readStream.format("graft-snapshot")
      .option("maxVersionsPerTrigger", "1").load(root)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    // AvailableNow's contract IS self-termination — await it; a hung
    // drain stops before failing so no live query leaks into the
    // shared session
    if (!q.awaitTermination(300000L)) {
      q.stop()
      throw new IllegalStateException(
        "AvailableNow stream did not self-terminate after draining the backlog")
    }
    s.table(name)
      .groupBy(col("ep_day"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("value_sum"))
      .orderBy("ep_day")
  }

  /** st10_stream_table_pipe — the full streaming hub round trip through
    * the STANDARD APIs: `readStream.format("graft-snapshot")` tails the
    * source table commit-by-commit, `writeStream.format(
    * "graft-snapshot")` lands each micro-batch as one exactly-once
    * manifest commit on a SECOND table (epoch id in the manifest
    * metadata — a replayed epoch is detected and becomes a no-op), and
    * the aggregate reads the sink table back through the connector.
    * This is the table-to-table incremental pipeline (bronze→silver in
    * lakehouse terms); SnapshotSourceSpec pins version-per-commit on
    * the sink and checkpoint-restart idempotence. */
  def st10StreamTablePipe(s: SparkSession, d: String): DataFrame = {
    val ST = graft.operators.SnapshotTable
    val src = ST.streamTable(s, d)
    val dst = graft.operators.Engine.tmpDir("graft_st10_sink")
    val cp = graft.operators.Engine.tmpDir("graft_st10_cp")
    Seq(dst, cp).foreach(p => graft.operators.Engine
      .listDir(java.nio.file.Paths.get(p))
      .foreach(graft.operators.Engine.deleteRecursively))
    val q = s.readStream.format("graft-snapshot").load(src)
      .writeStream.format("graft-snapshot")
      .option("path", dst).option("checkpointLocation", cp)
      .start()
    q.processAllAvailable()
    drainProgress(q)
    q.stop()
    s.read.format("graft-snapshot").load(dst)
      .groupBy(col("ep_day"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("value_sum"))
      .orderBy("ep_day")
  }

  /** st12_stream_cdf — streaming CHANGE DATA FEED over the snapshot
    * table: `.option("readChangeFeed", "true")` turns the version-offset
    * stream into a row-level change stream that SURVIVES rewrite
    * commits (st9's append-only guard kills the pipe on the first
    * MERGE/UPDATE/DELETE upstream — this is the mode that keeps it
    * alive). The feed replays the merge table's full commit history —
    * the day-clustered ingest (v1, file-grain inserts) and the
    * copy-on-write MERGE (v2: the table is `cdf=row`, so the commit's
    * registered CDC files stream as update_preimage/update_postimage
    * pairs, deletes, and inserts — no carried-row noise) — and the
    * query folds it as SIGNED deltas per day (insert/update_postimage
    * +1, delete/update_preimage −1; the same fold is grain-agnostic,
    * since file-grain carried pairs cancel under it), so folding the
    * feed from v0 reproduces exactly the current table's day
    * aggregate. That is the
    * oracle: the same x17Sql derivation the merge itself is checked
    * against — proving stream-consumed CDF ≡ table end state. At
    * 100 TB each micro-batch reads one commit's changed files, never
    * the table. */
  def st12StreamCdf(s: SparkSession, d: String): DataFrame =
    cdfSignedFold(s, d, availableNow = false)

  /** The ONE signed-fold CDC consumer st12 and st16 both prove: the
    * fold runs INSIDE the stream as a stateful aggregate (complete
    * mode) — per-batch state and sink size are bounded by the DAY
    * cardinality, not the feed length; materializing raw change rows
    * in the sink and folding after would funnel the whole feed
    * through the driver (the 32× probe measured exactly that term
    * before this shape). This is also the production consumer: CDC →
    * continuously-maintained aggregate. `availableNow` switches the
    * 24/7 drain (st12) to the bounded backfill (st16: one commit per
    * batch, start-time-capped, self-terminating) — the fold, and
    * therefore the oracle both queries share, is literally the same
    * code. */
  private def cdfSignedFold(s: SparkSession, d: String,
      availableNow: Boolean): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val name = freshName(if (availableNow) "st16_out" else "st12_out")
    val root = graft.operators.SnapshotTable.mergeTable(s, d)
    val reader = s.readStream.format("graft-snapshot")
      .option("readChangeFeed", "true")
    val folded = (if (availableNow) reader.option("maxVersionsPerTrigger", "1")
      else reader).load(root)
      .withColumn("sgn", when(col("_change_type")
        .isin("insert", "update_postimage"), 1L).otherwise(-1L))
      .groupBy(col("ep_day"))
      .agg(sum(col("sgn")).as("n_events"),
        sum(col("value").cast("decimal(18,6)") * col("sgn"))
          .cast("decimal(18,6)").as("value_dec"))
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName(name)
    // the signed fold is a stateful complete-mode aggregate — size its
    // state stores like every other stateful stream (withStateParts)
    withStateParts(s) {
      if (availableNow) {
        val q = folded.trigger(Trigger.AvailableNow()).start()
        // a hung drain must not leak a live query into the shared
        // session — stop before failing
        if (!q.awaitTermination(300000L)) {
          q.stop()
          throw new IllegalStateException(
            "CDF AvailableNow stream did not self-terminate after the history")
        }
      } else {
        val q = folded.start()
        q.processAllAvailable()
        drainProgress(q)
        q.stop()
      }
    }
    s.table(name)
      .select(col("ep_day"), col("n_events"),
        col("value_dec").cast("double").as("value_sum"))
      .orderBy("ep_day")
  }

  /** st16_stream_cdf_available_now — the CDF BACKFILL shape: drain the
    * merge table's whole change history (ingest commit + the CoW
    * MERGE's row-grain CDC images) under `Trigger.AvailableNow()` —
    * one commit per batch (`maxVersionsPerTrigger` 1), the run capped
    * at its start-time version, TERMINATING on its own once the
    * history is consumed. The signed fold (st12's shape) must
    * reproduce the merged table's day aggregate exactly — the same
    * x17 oracle, proving a bounded-lifetime scheduled CDC job sees
    * the identical change stream the 24/7 one does. At 100 TB this is
    * the nightly index-refresh verb: bounded batches, bounded
    * lifetime, checkpoint-resumable. */
  def st16StreamCdfAvailableNow(s: SparkSession, d: String): DataFrame =
    cdfSignedFold(s, d, availableNow = true)

  /** st14_stream_cdf_mv — the CDC loop CLOSED: a materialized view in
    * its own snapshot table, kept fresh by the streaming change feed
    * ACROSS DML COMMITS on the source. st10's plain pipe dies on the
    * first rewrite upstream; x23 applies one commit's delta in batch;
    * this composes both halves — each micro-batch folds ONE commit's
    * file-grain changes into signed day-grain deltas, full-outer-merges
    * them onto the current MV, and REPLACES the MV table as one
    * exactly-once versioned commit (batch id rides the manifest, so a
    * checkpoint replay no-ops; the MV is aggregate-sized, so each
    * refresh writes O(MV) and reads O(commit), never O(source)). The
    * feed spans the merge table's ingest commit AND its copy-on-write
    * MERGE; the final MV hash-matches x17's merged-content oracle —
    * stream-maintained MV ≡ recompute, across a rewrite. */
  /** One micro-batch of the CDF-maintained MV (st14's fold, a named
    * seam so the restart/replay spec drives it over its own fixture):
    * fold the batch's change rows into signed day-grain deltas,
    * full-outer-merge onto the current MV, replace the MV table
    * exactly-once. */
  private[graft] def cdfMvBatch(s: SparkSession, mv: String)(
      df: DataFrame, id: Long): Unit = {
    val ST = graft.operators.SnapshotTable
    val delta = df
      .withColumn("sgn", when(col("_change_type")
        .isin("insert", "update_postimage"), 1L).otherwise(-1L))
      .groupBy(col("ep_day"))
      .agg(sum(col("sgn")).as("d_n"),
        sum(col("value").cast("decimal(18,6)") * col("sgn"))
          .cast("decimal(18,6)").as("d_v"))
    val mv0 =
      if (ST.currentVersion(mv) == 0)
        delta.select(col("ep_day"), col("d_n").as("n_events"),
          col("d_v").as("value_dec")).filter(lit(false))
      else ST.read(s, mv)
    val merged = mv0.join(delta, Seq("ep_day"), "full_outer")
      .select(col("ep_day"),
        (coalesce(col("n_events"), lit(0L)) + coalesce(col("d_n"), lit(0L)))
          .as("n_events"),
        (coalesce(col("value_dec"), lit(0).cast("decimal(18,6)"))
          + coalesce(col("d_v"), lit(0).cast("decimal(18,6)")))
          .cast("decimal(18,6)").as("value_dec"))
      .filter(col("n_events") > 0)
    SnapshotSink.replaceBatch(mv, merged.coalesce(1), id, keyCol = "ep_day")
    ()
  }

  def st14StreamCdfMv(s: SparkSession, d: String): DataFrame = {
    val ST = graft.operators.SnapshotTable
    val bronze = ST.mergeTable(s, d)
    val mv = graft.operators.Engine.tmpDir("graft_st14_mv")
    val cp = graft.operators.Engine.tmpDir("graft_st14_cp")
    Seq(mv, cp).foreach(p => graft.operators.Engine
      .listDir(java.nio.file.Paths.get(p))
      .foreach(graft.operators.Engine.deleteRecursively))
    val q = s.readStream.format("graft-snapshot")
      .option("readChangeFeed", "true").load(bronze)
      .writeStream.option("checkpointLocation", cp)
      .foreachBatch(cdfMvBatch(s, mv) _).start()
    q.processAllAvailable()
    drainProgress(q)
    q.stop()
    graft.operators.SnapshotTable.read(s, mv)
      .select(col("ep_day"), col("n_events"),
        col("value_dec").cast("double").as("value_sum"))
      .orderBy("ep_day")
  }

  val entries: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "st12_stream_cdf" ->
      (st12StreamCdf _, Some(graft.operators.SnapshotTable.x17Sql)),
    "st16_stream_cdf_available_now" ->
      (st16StreamCdfAvailableNow _, Some(graft.operators.SnapshotTable.x17Sql)),
    "st14_stream_cdf_mv" ->
      (st14StreamCdfMv _, Some(graft.operators.SnapshotTable.x17Sql)),
    "st10_stream_table_pipe" -> (st10StreamTablePipe _, Some(st9Sql)),
    "st9_stream_table_read" -> (st9StreamTableRead _, Some(st9Sql)),
    "st15_stream_available_now" -> (st15StreamAvailableNow _, Some(st9Sql)),
    "st1_stream_windowed" -> (st1StreamWindowed _, Some(st1Sql)),
    "st2_stream_sessionize" -> (st2StreamSessionize _, None),
    "st3_stream_static_join" -> (st3StreamStaticJoin _, Some(st3Sql)),
    "st4_stream_late_data" -> (st4StreamLateData _, None),
    "st5_stream_dedup" -> (st5StreamDedup _, None),
    "st6_stream_session_state" -> (st6StreamSessionState _, None),
    "st7_stream_stream_join" -> (st7StreamStreamJoin _, Some(st7Sql)),
    "st13_stream_stream_outer" -> (st13StreamStreamOuter _, Some(st13Sql)),
    "st17_stream_stream_full_outer" -> (st17StreamStreamFullOuter _, Some(st17Sql)),
    "st8_stream_snapshot_sink" ->
      (SnapshotSink.st8StreamSnapshotSink _, Some(SnapshotSink.st8Sql)),
    "st11_stream_upsert_sink" ->
      (SnapshotSink.st11StreamUpsertSink _, Some(SnapshotSink.st11Sql)),
  )
}
