package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Structured Streaming forms of the §2.8 event operators. The batch
  * versions in graft.ops.Events use the same groupBy(window(...)) shapes,
  * so these wrappers only add readStream + watermarks — the transform
  * logic is shared, which is the point: one declarative plan, two runners.
  *
  * Scale notes: state is bounded by the watermark (late rows dropped);
  * session_window keeps only open sessions per user; dedup-within-
  * watermark bounds the seen-keys state. All stateful ops key by user/
  * window — partitionable across 1000 executors.
  */
object EventStreams {

  /** E1-streaming: tumbling 1h counts with a 2h watermark. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** E2-streaming: sliding 1h/15min counts. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** E11-streaming: mergeable sketches computed INSIDE streaming state —
    * per tumbling window × type, an HLL user sketch (binary, Spark
    * DataSketches) and a t-digest value sketch (A22's aggregator). The
    * output rows are SKETCHES, not numbers: a streaming job continuously
    * produces the fine-grained sketch table, and any batch consumer rolls
    * it up later (`hll_union_agg` / `tdigestMergeAgg`) without re-reading
    * events — the lambda-architecture-free pre-aggregation pattern.
    * Buffers live in the state store and merge per micro-batch
    * (partial+final semantics carry over; parity tested in StreamingSpec).
    */
  def sketchProfile(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(hll_sketch_agg(col("user_id")).as("user_hll"),
        graft.functions.QuantileSketchAggregator.tdigestAgg(col("value")).as("value_td"))

  /** E3-streaming: session windows with a 30-minute gap. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))

  /** E28-streaming: session windows with a DYNAMIC per-event gap
    * (purchases extend their session 60 minutes, everything else 30 —
    * the e28 batch semantics run under real streaming state). */
  def sessionCountsDynamic(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"),
          when(col("event_type") === "purchase", "60 minutes")
            .otherwise("30 minutes")), col("user_id"))
      .agg(count(lit(1)).as("n_events"))

  /** E30: Spark 4's arbitrary-state API (`transformWithState` /
    * StatefulProcessor — the successor to flatMapGroupsWithState, backed
    * by the RocksDB state store): a per-user running event count held in
    * ValueState. Emissions are MONOTONE per key (the running count), so
    * the final-table rollup max(running_n) = the batch per-user total
    * under ANY micro-batching — the e10 upsert argument applied to the
    * new API.
    *
    * `ttl` defaults to NONE (state lives forever — the gated e30 form);
    * a processing-time TTLConfig (requires TimeMode.ProcessingTime)
    * makes idle keys' counts expire and restart — the state-hygiene
    * knob real jobs set, proven in StreamingSpec (wall-clock-dependent,
    * so spec-level rather than oracle-gated). */
  class RunningCountProcessor(
      ttl: org.apache.spark.sql.streaming.TTLConfig =
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long), (Long, Long)] {
    @transient private var countState:
      org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      countState = getHandle.getValueState[Long]("count",
        org.apache.spark.sql.Encoders.scalaLong, ttl)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, Long)] = {
      var c = if (countState.exists()) countState.get() else 0L
      rows.foreach(_ => c += 1)
      countState.update(c)
      Iterator.single((key, c))
    }
  }

  /** E31: transformWithState with LIST state — per-user event-time
    * buffer, re-sessionized on every arrival (30-min gap, the e14/e16
    * `>=` boundary). Each emission carries n_seen (MONOTONE — total
    * buffered rows), so the final-table row with max n_seen per user is
    * the FULL-data sessionization whatever the micro-batching or
    * arrival order — late/out-of-order rows just re-sort into place.
    * Scale note: this buffers a user's events in state by design (the
    * re-sessionize-on-arrival shape); production evicts closed sessions
    * with event-time timers once the watermark passes them. */
  class SessionListProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long), (Long, Long, Long, Long, Long)] {
    @transient private var tsState:
      org.apache.spark.sql.streaming.ListState[Long] = _

    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      tsState = getHandle.getListState[Long]("ts",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, Long, Long, Long, Long)] = {
      rows.foreach(r => tsState.appendValue(r._2))
      val all = tsState.get().toArray.sorted
      val gapUs = 30L * 60 * 1000000
      var nSess = 0L
      var maxLen = 0L
      var cur = 0L
      var prev = Long.MinValue
      all.foreach { t =>
        if (prev == Long.MinValue || t >= prev + gapUs) { nSess += 1; cur = 1 }
        else cur += 1
        if (cur > maxLen) maxLen = cur
        prev = t
      }
      Iterator.single((key, all.length.toLong, nSess, maxLen,
        all.length.toLong))
    }
  }

  /** E32: transformWithState with EVENT-TIME TIMERS — the API's third
    * leg (e30 proves ValueState, e31 ListState) and the shape real
    * session-timeout jobs use: each arrival extends the user's OPEN
    * session and re-arms a timer at last_ts + gap + 1 ms (deleteTimer +
    * registerTimer — extension invalidates the old deadline); when the
    * WATERMARK passes the deadline, `handleExpiredTimer` fires, emits
    * the closed session, and clears state. Gap-breaking arrivals close
    * the previous session data-driven (same strict `> gap` rule as
    * e17's FMGWS sessionizer, so e17's oracle derivation applies
    * verbatim). Input rows sort per batch; the fixture feeds time-split
    * files so cross-batch arrival stays in order and nothing is late.
    *
    * Scale note: state per user is four longs + one registered timer,
    * both keyed and partitioned — the watermark bounds every session's
    * lifetime, which is exactly what TTL-less e31 lacks.
    */
  class TimerSessionProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long), (Long, Long, Long, Long)] {
    // output: (user_id, session_start_us, n_events, closed_by) with
    // closed_by 0 = gap-broken on arrival, 1 = timer-fired — the tag
    // lets StreamingSpec assert BOTH emission paths are non-vacuous
    private val gapUs = 30L * 60 * 1000000
    // (start_us, last_us, n, armed_expiry_ms)
    @transient private var sess:
      org.apache.spark.sql.streaming.ValueState[(Long, Long, Long, Long)] = _

    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      sess = getHandle.getValueState[(Long, Long, Long, Long)]("sess",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, Long, Long, Long)] = {
      val incoming = rows.map(_._2).toArray.sorted
      val closed =
        scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]()
      var (start, last, n, expiry) =
        if (sess.exists()) sess.get() else (-1L, -1L, 0L, -1L)
      incoming.foreach { us =>
        if (start < 0) { start = us; last = us; n = 1 }
        else if (us > last + gapUs) {   // strict >: boundary row extends
          closed += ((key, start, n, 0L))
          start = us; last = us; n = 1
        } else { last = math.max(last, us); n += 1 }
      }
      if (expiry >= 0) getHandle.deleteTimer(expiry)
      val newExpiry = last / 1000 + gapUs / 1000 + 1
      getHandle.registerTimer(newExpiry)
      sess.update((start, last, n, newExpiry))
      closed.iterator
    }

    override def handleExpiredTimer(key: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[(Long, Long, Long, Long)] = {
      if (!sess.exists()) Iterator.empty
      else {
        val (start, _, n, armed) = sess.get()
        // stale-timer guard: only the CURRENTLY armed deadline closes
        if (armed != expired.getExpiryTimeInMs) Iterator.empty
        else { sess.clear(); Iterator.single((key, start, n, 1L)) }
      }
    }
  }

  /** E5-streaming: drop duplicate event_ids within the watermark. The
    * delay bounds how long a key's state lives; e22 passes a
    * longer-than-corpus delay so no event is ever late and the dedup is
    * exact across every micro-batch boundary. */
  def dedupEvents(events: DataFrame, delay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("event_id")

  /** E6-streaming: stream-static enrichment join — events enriched with a
    * customer dimension, then windowed per-segment counts. The static side
    * is re-read per micro-batch by Spark (dimension updates are picked up)
    * and broadcast when small — the canonical streaming-ETL dim join: the
    * stream never shuffles for the dimension.
    */
  def enrichedCounts(events: DataFrame, customers: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .join(broadcast(customers.select(col("c_custkey"), col("c_mktsegment"))),
        col("user_id") === col("c_custkey"), "left")
      .groupBy(window(col("ts"), "1 hour"),
        coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"))
      .agg(count(lit(1)).as("n"))

  /** E34-streaming (r15): MODEL INFERENCE over a document stream — the
    * production scoring shape: stream-side feature explode (tokens) →
    * broadcast MODEL-table join (here l30's lexicon classifier as
    * (word, domain) rows; a trained weight table — l69/l70's — would
    * broadcast identically) → per-doc rollup. The stream never
    * shuffles for the model: the join is broadcast and the only
    * shuffle carries per-doc count partials. Complete-mode counts are
    * batching-independent, so a real micro-batch run is oracle-exact
    * against the batch derivation. (At 100 TB the same plan runs as a
    * foreachBatch scoring sink or an append-mode windowed variant;
    * complete mode here is the PROOF harness, not the deployment
    * shape.)
    */
  def lexiconScores(docs: DataFrame, lexicon: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.wordTokens(col("text")))
          .as("tok"))
      .join(broadcast(lexicon), col("tok") === col("word"))
      .groupBy(col("doc_id"))
      .agg(
        sum(when(col("domain") === "storage", 1L).otherwise(0L))
          .as("s_storage"),
        sum(when(col("domain") === "compute", 1L).otherwise(0L))
          .as("s_compute"),
        sum(when(col("domain") === "query", 1L).otherwise(0L))
          .as("s_query"))

  /** E9-streaming: stream-stream interval join — views joined to the
    * same user's purchases within [0, 1h] of the view, both sides
    * watermarked so Spark can bound the join state: a buffered view can
    * be dropped once the purchase-side watermark passes view.ts + 1h,
    * and vice versa. The canonical attribution join; state per side is
    * (watermark delay + interval) of rows, partitioned by key.
    */
  def viewPurchaseJoin(views: DataFrame, purchases: DataFrame,
      joinType: String = "inner"): DataFrame = {
    val v = views.select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("view_id"))
      .withWatermark("v_ts", "2 hours")
    val p = purchases.select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "2 hours")
    val cond = col("v_user") === col("p_user") &&
      col("p_ts") >= col("v_ts") &&
      col("p_ts") <= col("v_ts") + expr("INTERVAL 1 HOUR")
    // left_anti plans as a left_outer underneath (see below), so the
    // join type Spark sees is always one of its supported five
    lazy val joined = v.join(p, cond, joinType)
    // left_semi projects the LEFT side only (no purchase columns exist
    // in the output schema); the view row emits exactly once when its
    // first qualifying purchase arrives — existence, not enumeration.
    // left_anti is DERIVED (Spark has no native stream-stream anti
    // join): the watermarked left outer's NULL-flush rows ARE the anti
    // set — a view row carries a NULL purchase_id iff NO qualifying
    // purchase arrived by the time the watermark evicted it, which is
    // exactly "views that never converted", emitted only once the
    // watermark PROVES no partner can still arrive. The filter is
    // row-local on the join output, so state size and emission timing
    // are identical to the left outer's.
    if (joinType == "left_semi")
      joined.select(col("v_user").as("user_id"), col("view_id"))
    else if (joinType == "left_anti")
      v.join(p, cond, "left_outer")
        .filter(col("purchase_id").isNull)
        .select(col("v_user").as("user_id"), col("view_id"))
    else joined
      // coalesce: in FULL outer mode an unmatched-purchase row carries a
      // NULL v_user (no-op for inner/left, where v_user is never null)
      .select(coalesce(col("v_user"), col("p_user")).as("user_id"),
        col("view_id"), col("purchase_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("v_ts"))).as("lag_us"))
  }

  /** E10-streaming: incremental keyed upsert SINK via foreachBatch —
    * each micro-batch reduces to one row per key (last-write-wins by
    * (ts, event_id)) and merges into a parquet table: the streaming half
    * of the keyed-merge story (o11_upsert's priority pick per batch; a
    * partitioned target at scale would reuse o11b's touched-partition
    * COW planning instead of the full-table rewrite used here).
    * foreachBatch gives exactly-once table contents per epoch: replays
    * re-run the same idempotent merge.
    */
  def upsertSink(events: DataFrame, tableDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    upsertWriter(events, tableDir)
      .option("checkpointLocation", checkpointDir).start()

  /** [[upsertSink]]'s writer, not yet started. */
  def upsertWriter(events: DataFrame, tableDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    def latestPerKey(df: DataFrame): DataFrame =
      df.groupBy(col("user_id"))
        .agg(max(struct(col("ts"), col("event_id"), col("event_type"))).as("m"))
        .select(col("user_id"), col("m.ts").as("ts"),
          col("m.event_id").as("event_id"), col("m.event_type").as("event_type"))
    events.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val s = batch.sparkSession
        val incoming = latestPerKey(batch.toDF())
        val merged =
          if (new java.io.File(tableDir).exists())
            latestPerKey(s.read.parquet(tableDir).unionByName(incoming))
          else incoming
        // break lineage from tableDir before overwriting it
        merged.localCheckpoint().write.mode("overwrite").parquet(tableDir)
        ()
      }
  }

  // ---- custom state: streaming row-pattern matching (E8) ----------------

  /** One pre-evaluated event for the streaming pattern matcher: step
    * predicates are computed as Catalyst boolean columns BEFORE the
    * keyed shuffle (see [[patternRows]]), exactly like the batch
    * operator — state never stores payloads, only (ts, tiebreak, bits).
    */
  case class PatternRow(user_id: Long, ts: Timestamp, tb: Long, p: Seq[Boolean])
  case class PatternBufState(us: Seq[Long], tb: Seq[Long],
                             p: Seq[Seq[Boolean]])
  case class PatternOut(user_id: Long, match_no: Long, start_us: Long,
                        end_us: Long, n_rows: Long)

  /** Project a stream into [[PatternRow]]s for `steps` (same step-
    * predicate pre-evaluation as the batch RowPattern operator). */
  def patternRows(events: DataFrame, keyCol: String, tsCol: String,
      tiebreakCol: String, steps: Seq[graft.ops.RowPattern.Step]): Dataset[PatternRow] = {
    import events.sparkSession.implicits._
    events.select(
      col(keyCol).cast("long").as("user_id"),
      col(tsCol).cast("timestamp").as("ts"),
      col(tiebreakCol).cast("long").as("tb"),
      array(steps.map(st => coalesce(st.pred.cast("boolean"), lit(false))): _*).as("p")
    ).as[PatternRow]
  }

  /** E8-streaming: MATCH_RECOGNIZE over an unbounded keyed stream with
    * EXPLICIT state. Correctness rests on the finite `within` window:
    * per-key events buffer until the watermark passes `last event +
    * within`; at that point NO future event can begin or extend a match
    * that satisfies the window (any later ts exceeds every buffered
    * start by more than `within`), so the buffer is flushed through the
    * same matchSpans core as the batch operator and the state removed.
    * match_no is per flushed window (documented divergence from the
    * batch operator's per-key lifetime numbering).
    *
    * Scale notes: state per key = events since the key's last
    * within-window quiet gap × (16 bytes + #steps bits), partitioned by
    * key; a key that NEVER goes quiet accumulates until
    * `maxBufferedRows`, where the operator fails loudly instead of
    * silently OOMing. Late rows beyond the watermark drop upstream.
    */
  def patternMatchesWithState(rows: Dataset[PatternRow],
      quants: Seq[graft.ops.RowPattern.Quant], withinUs: Long,
      watermarkDelay: String = "2 hours",
      maxBufferedRows: Int = 100000): Dataset[PatternOut] = {
    import rows.sparkSession.implicits._
    val quantArr = quants.toArray
    // Timestamp → epoch micros WITHOUT truncating to ms: getTime carries
    // whole millis, getNanos the full fractional part
    def epochUs(t: Timestamp): Long =
      t.getTime / 1000L * 1000000L + t.getNanos / 1000L
    rows
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[PatternBufState, PatternOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, it: Iterator[PatternRow], state: GroupState[PatternBufState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            val order = st.us.indices.sortBy(i => (st.us(i), st.tb(i)))
            val ts = order.map(st.us).toArray
            val preds = order.map(i => st.p(i).toArray).toArray
            graft.ops.RowPattern.matchSpans(ts, preds, quantArr, Some(withinUs))
              .zipWithIndex.map { case ((s0, e0), idx) =>
                PatternOut(uid, idx.toLong + 1, ts(s0), ts(e0), (e0 - s0 + 1).toLong)
              }.iterator
          } else {
            val incoming = it.toSeq
            val prev = state.getOption.getOrElse(PatternBufState(Nil, Nil, Nil))
            val next = PatternBufState(
              prev.us ++ incoming.map(r => epochUs(r.ts)),
              prev.tb ++ incoming.map(_.tb),
              prev.p ++ incoming.map(_.p))
            // the quiet-key flush re-arms on every batch, so a key that
            // never goes quiet for `within` accumulates state; fail loudly
            // at the cap (the connectedComponents precedent) rather than
            // silently OOMing an executor — raise the cap or shrink
            // `within` for such keys
            if (next.us.size > maxBufferedRows) throw new IllegalStateException(
              s"patternMatchesWithState: key $uid buffered ${next.us.size} " +
                s"events without a within-window quiet gap; raise " +
                s"maxBufferedRows or reduce withinUs")
            state.update(next)
            // flush once nothing can extend a within-window match
            state.setTimeoutTimestamp(next.us.max / 1000L + withinUs / 1000L + 1L)
            Iterator.empty
          }
      }
  }

  // ---- custom state: flatMapGroupsWithState sessionization -------------

  case class SessionInput(user_id: Long, ts: Timestamp)
  case class SessionState(start: Long, last: Long, n: Long)
  case class SessionOut(user_id: Long, session_start: Timestamp,
                        n_events: Long, duration_s: Long)

  /** E3 with EXPLICIT state (SURVEY §2.8): 30-minute-gap sessions kept in
    * GroupState per user; a closed session is emitted when the gap is
    * exceeded (or at event-time timeout once the watermark passes).
    *
    * Scale note: state per user is three longs — 1e9 users ≈ 24 GB across
    * the cluster, partitioned by user; the timeout bounds lifetime.
    */
  def sessionizeWithState(events: Dataset[SessionInput],
      watermarkDelay: String = "2 hours"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = 30L * 60 * 1000

    def flush(uid: Long, st: SessionState): SessionOut =
      SessionOut(uid, new Timestamp(st.start), st.n, (st.last - st.start) / 1000)

    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[SessionInput], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(flush(uid, _)).toSeq
            state.remove()
            out.iterator
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { r =>
              val t = r.ts.getTime
              cur = cur match {
                case Some(st) if t - st.last <= gapMs =>
                  Some(st.copy(last = math.max(st.last, t), n = st.n + 1))
                case Some(st) =>
                  closed ::= flush(uid, st)
                  Some(SessionState(t, t, 1))
                case None => Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { st =>
              state.update(st)
              state.setTimeoutTimestamp(st.last + gapMs)
            }
            closed.reverseIterator
          }
      }
  }
}
