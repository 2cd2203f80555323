package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming twins of [[graft.operators.Events]]: the same
  * hourly rollup and sessionization, incrementally maintained. The
  * reference's "daily Airflow re-run" becomes a continuously-updated
  * result with bounded state:
  *   - watermarks cap how late data may arrive, so window state is
  *     dropped once the watermark passes (no unbounded state at 100 TB/day);
  *   - sessionization keeps one small state record per active user and
  *     emits the session when the gap timeout fires.
  */
object EventStream {

  /** Streaming exact dedup — the continuous-ingest twin of
    * [[graft.dedup.Dedup.dedupExact]]: keep the first document per
    * content hash, with state bounded by the watermark
    * (`dropDuplicatesWithinWatermark` drops a key's state once the
    * watermark passes it — a 100 TB/day crawl can run this forever,
    * deduping within the late-data horizon without unbounded memory).
    * Input: streaming frame with (ts TIMESTAMP, text STRING, ...).
    */
  def dedupStream(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("text_hash", md5(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("text_hash")

  case class SigRow(bucket: String, doc_id: Long, ts: Timestamp)
  /** `ts` = event time of the doc whose arrival created the pair, so
    * downstream watermark-aware ops (dedup of the per-band repeats)
    * remain possible. */
  case class CandPair(doc_a: Long, doc_b: Long, bucket: String, ts: Timestamp)
  case class BucketState(docs: List[Long], maxTs: Long)

  /** Cap on docs tracked per bucket: a pathological bucket (boilerplate
    * band shared by endless near-identical docs) would otherwise grow
    * state and emit O(n²) pairs. Docs past the cap still pair with the
    * tracked members — enough to mark them duplicates — but are not
    * added. The batch twin's analog is the posting-list bound. */
  val MaxBucketDocs = 64

  /** Streaming MinHash near-dup candidates — the continuous twin of
    * [[graft.dedup.Dedup.dedupMinhash]]. Signatures are a stateless
    * projection (see `Dedup.bandedSignatures` — a doc's signature never
    * needs other rows), so the only stateful piece is the bucket
    * membership: per (band, band_key) bucket we keep the doc ids seen
    * within the watermark horizon and emit a candidate pair the moment
    * a new doc lands in a non-empty bucket. Event-time timeout drops a
    * bucket's state once it has been quiet past the watermark — state
    * is bounded by the late-data horizon, not the corpus.
    * Input: streaming (ts TIMESTAMP, doc_id LONG, text STRING).
    * Output: (doc_a, doc_b, bucket, ts) — a pair repeats per matching
    * band; re-watermark on `ts` and dropDuplicatesWithinWatermark on
    * (doc_a, doc_b) for unique pairs.
    */
  def nearDupStream(docs: DataFrame, watermark: String = "1 hour",
      stateTtlMs: Long = 60 * 60 * 1000L): Dataset[CandPair] = {
    import docs.sparkSession.implicits._
    val sigs = graft.dedup.Dedup.bandedSignatures(docs, carry = Seq("ts"))
      .select(concat(col("band").cast("string"), lit(":"), col("band_key")).as("bucket"),
        col("doc_id"), col("ts"))
      .withWatermark("ts", watermark)
      .as[SigRow]
    sigs
      .groupByKey(_.bucket)
      .flatMapGroupsWithState[BucketState, CandPair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (bucket: String, rows: Iterator[SigRow], state: GroupState[BucketState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val prev = state.getOption.getOrElse(BucketState(Nil, 0L))
            val incoming = rows.toSeq.sortBy(r => (r.ts.getTime, r.doc_id))
            var known = prev.docs
            val out = List.newBuilder[CandPair]
            // maxTs is monotone across batches: a late (in-watermark)
            // event must never REWIND the timeout already registered,
            // or still-live state expires early and pairs are lost
            var maxTs = prev.maxTs
            incoming.foreach { r =>
              if (!known.contains(r.doc_id)) {
                known.foreach { p =>
                  out += CandPair(math.min(p, r.doc_id), math.max(p, r.doc_id), bucket, r.ts)
                }
                if (known.size < MaxBucketDocs) known = r.doc_id :: known
              }
              maxTs = math.max(maxTs, r.ts.getTime)
            }
            state.update(BucketState(known, maxTs))
            state.setTimeoutTimestamp(maxTs + stateTtlMs)
            out.result().iterator
          }
      }
  }

  /** Streaming as-of input row: side 0 = state change, side 1 = measure. */
  case class AsofEvent(user_id: Long, ts: Timestamp, side: Int, event_id: Long, value: Double)
  /** tsUs is epoch MICROS (the q314 lesson — millis state truncated
    * the parquet microseconds the batch twin keeps). */
  case class AsofPending(event_id: Long, tsUs: Long, value: Double)
  /** `maxTs` = newest event time seen for the user — the timeout base.
    * The WATERMARK is 0 during the first microbatch, so anchoring the
    * timeout on it would evict batch-1 users at epoch+TTL (i.e.
    * immediately); anchoring on event time matches [[nearDupStream]]. */
  case class AsofBuf(states: List[(Long, Double)], pending: List[AsofPending], maxTs: Long)
  case class EnrichedEvent(user_id: Long, event_id: Long, ts: Timestamp, value: Double,
      state_ts: Option[Timestamp], state_value: Option[Double])

  /** Streaming as-of enrichment — the continuous twin of
    * [[graft.operators.AsOf.asofJoin]]: each measure event picks up the
    * user's latest state change at-or-before its EVENT time, correct
    * under out-of-order arrival. Measures buffer per user until the
    * watermark passes their event time (only then can no earlier state
    * still arrive); resolved measures emit exactly once. State kept per
    * user: the newest state change at-or-before the watermark plus any
    * ahead of it, and the unresolved measures — both bounded by the
    * late-data horizon. Event-time timeout evicts users idle past
    * `stateTtlMs` (flushing their resolvable measures first), so a
    * 100 TB/day stream holds state ∝ active users within the horizon,
    * not history. Requires state rows unique per (user, ts) — dedupe
    * upstream, as the batch twin does. */
  def asofStream(events: Dataset[AsofEvent], watermark: String = "10 minutes",
      stateTtlMs: Long = 60 * 60 * 1000L): Dataset[EnrichedEvent] = {
    import events.sparkSession.implicits._

    def resolve(user: Long, states: List[(Long, Double)], ready: List[AsofPending]) = {
      val sorted = states.sortBy(_._1)
      ready.sortBy(p => (p.tsUs, p.event_id)).map { p =>
        val st = sorted.filter(_._1 <= p.tsUs).lastOption
        EnrichedEvent(user, p.event_id, microsTs(p.tsUs), p.value,
          st.map(s => microsTs(s._1)), st.map(_._2))
      }
    }

    // The group function only runs on new data or a fired timeout, so
    // the timeout must double as the RELEASE mechanism for buffered
    // measures: with pending measures, it fires as soon as the
    // watermark passes the earliest one (not TTL-later); when drained,
    // it becomes the idle-TTL cleanup anchored on EVENT time (the
    // watermark is 0 during the first microbatch — anchoring on it
    // would evict batch-1 users at epoch+TTL, i.e. instantly).
    // Spark requires the timestamp to sit beyond the current watermark.
    def nextTimeout(wm: Long, rest: List[AsofPending], maxTsUs: Long): Long = {
      // state times are MICROS; the timeout clock is millis — round up
      val baseUs = if (rest.nonEmpty) rest.map(_.tsUs).min
        else maxTsUs + stateTtlMs * 1000L
      math.max(wm + 1, Math.floorDiv(baseUs + 999L, 1000L))
    }

    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AsofBuf, EnrichedEvent](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[AsofEvent], state: GroupState[AsofBuf]) =>
          val wm = state.getCurrentWatermarkMs()
          val prev =
            if (state.exists) state.get else AsofBuf(Nil, Nil, 0L)
          var states = prev.states
          var pending = prev.pending
          var maxTs = prev.maxTs
          rows.foreach { e =>
            if (e.side == 0) states ::= (tsMicros(e.ts), e.value)
            else pending ::= AsofPending(e.event_id, tsMicros(e.ts), e.value)
            maxTs = math.max(maxTs, tsMicros(e.ts))
          }
          // release measures at-or-before the watermark: Spark's
          // late-data drop predicate is ts <= watermark (INCLUSIVE —
          // WatermarkSupport.watermarkExpression builds LessThanOrEqual,
          // verified against the 4.1.2 bytecode), so once the watermark
          // reaches a measure's timestamp, no state at-or-before it can
          // ever arrive again — releasing with <= misses nothing, and a
          // strict < would only delay the boundary measure one extra
          // watermark advance for no correctness gain
          // wm is millis; internal times micros. Spark's late-drop
          // predicate compares micros event time against wm·1000, so
          // tsUs <= wm·1000 is the exact release mirror.
          val wmUs = wm * 1000L
          val (ready, rest) = pending.partition(_.tsUs <= wmUs)
          val out = resolve(user, states, ready)
          // prune states: future measures all have ts > wm, so they
          // need at most the newest state <= wm plus everything after
          val sorted = states.sortBy(_._1)
          val kept = sorted.filter(_._1 <= wmUs).lastOption.toList ++
            sorted.filter(_._1 > wmUs)
          val idle = rest.isEmpty && wmUs >= maxTs + stateTtlMs * 1000L
          if (idle || (kept.isEmpty && rest.isEmpty)) state.remove()
          else {
            state.update(AsofBuf(kept, rest, maxTs))
            state.setTimeoutTimestamp(nextTimeout(wm, rest, maxTs))
          }
          out.iterator
      }
  }

  /** Continuous interval join — the stream-stream twin of
    * [[graft.operators.RangeJoin.rangeJoin]], on Spark's native
    * watermarked stream-stream join. Both inputs MUST carry watermarks;
    * `maxInterval` (a SQL interval literal, e.g. "30 minutes") is the
    * contract that lets Spark bound its join state: the literal upper
    * bound `pointTs ≤ startTs + maxInterval` tells the state cleanup
    * how long a buffered interval can still match, while the exact
    * `pointTs ≤ endTs` condition trims to the real (data-dependent)
    * interval end. Matches emit as soon as both sides arrive; state on
    * each side is dropped once the other side's watermark passes the
    * range bound. */
  def rangeJoinStream(points: DataFrame, intervals: DataFrame, keys: Seq[String],
      pointTs: String, startTs: String, endTs: String,
      maxInterval: String): DataFrame = {
    // maxInterval is a hard CONTRACT, not a hint: an interval longer
    // than it would silently lose its tail matches (the coarse bound
    // excludes them before the exact endTs test ever runs). Fail the
    // violating row loudly instead — assert_true throws at evaluation,
    // isNull keeps every passing row. NULL bounds are NOT a contract
    // violation (assert_true would also throw on a null condition):
    // coalesce lets them through the guard, and the join condition
    // below then yields no match for them — the same no-match row a
    // null key produces in any join.
    val checked = intervals.filter(
      assert_true(
        coalesce(intervals(endTs) <= intervals(startTs) + expr(s"INTERVAL $maxInterval"),
          lit(true)),
        lit(s"rangeJoinStream: interval exceeds maxInterval=$maxInterval")).isNull)
    val cond = keys.map(k => points(k) === checked(k)).reduce(_ && _) &&
      points(pointTs) >= checked(startTs) &&
      points(pointTs) <= checked(startTs) + expr(s"INTERVAL $maxInterval") &&
      points(pointTs) <= checked(endTs)
    keys.foldLeft(points.join(checked, cond))((d, k) => d.drop(checked(k)))
  }

  /** Hourly tumbling counts per event type over a streaming frame of
    * (ts TIMESTAMP, event_type STRING, value DOUBLE).
    */
  def windowedCounts(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Hourly distinct-user estimates per event type — the streaming
    * twin of [[graft.operators.Sketches]]' HLL profiling: exact
    * distinct counting over a stream needs per-key state proportional
    * to the key universe, while `approx_count_distinct`'s HLL++ sketch
    * is CONSTANT memory per (window, type) group and merges across
    * micro-batches and partitions — the only shape that runs forever
    * at 100 TB/day. Watermark bounds how long a window's sketch stays
    * in state; `rsd` is the standard-error knob (2% default, ~1 KB per
    * group). */
  def windowedDistinctUsers(events: DataFrame, watermark: String = "10 minutes",
      rsd: Double = 0.02): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(approx_count_distinct(col("user_id"), rsd).as("approx_users"),
        count(lit(1)).as("n_events"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("approx_users"), col("n_events"))

  case class Event(ts: Timestamp, user_id: Long, event_type: String, value: Double)
  /** start/last are epoch MICROS — an epoch-millis Long would truncate
    * the microsecond precision the batch twin keeps (the ScdOpen
    * lesson; caught by the q314 hash gate at registration). */
  case class SessionState(start: Long, last: Long, n: Long, sum: Double)

  private def tsMicros(t: Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
  private def microsTs(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }
  case class Session(user_id: Long, session_start: Timestamp, session_end: Timestamp,
      n_events: Long, sum_value: Double)

  /** Gap-based streaming sessionization with explicit state: emits a
    * Session row once a user has been idle past `gapMs`, detected
    * either by a newer event from the same user or by the event-time
    * watermark passing the session's expiry. Event-time timeout keeps
    * state bounded by the watermark and avoids the busy-loop of
    * processing-time cleanup batches on an idle stream.
    */
  def sessionize(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L,
      watermark: String = "10 minutes"): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          val gapUs = gapMs * 1000L
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(user, microsTs(s.start), microsTs(s.last), s.n, s.sum))
          } else {
            val sorted = rows.toSeq.sortBy(e => tsMicros(e.ts))
            var closed = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = tsMicros(e.ts)
              cur match {
                // merge if within gap of the session's SPAN — a late but
                // in-watermark event may precede state.start, so bounds
                // take min/max rather than assuming arrival order
                case Some(s) if t >= s.start - gapUs && t <= s.last + gapUs =>
                  cur = Some(SessionState(math.min(s.start, t), math.max(s.last, t),
                    s.n + 1, s.sum + e.value))
                case Some(s) =>
                  closed ::= Session(user, microsTs(s.start), microsTs(s.last), s.n, s.sum)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // the timeout clock is millis; round the expiry UP so a
              // sub-millisecond remainder can't fire the timeout early
              state.setTimeoutTimestamp(Math.floorDiv(s.last + gapUs + 999L, 1000L))
            }
            closed.reverseIterator
          }
      }
  }

  // ---- streaming SCD-2 history (twin of operators.Scd.scd2) ----

  case class ScdObs(key: Long, state: String, ts: Timestamp, tie: Long)
  // valid_from carried as the Timestamp itself: an epoch-millis Long
  // would truncate the microsecond precision the batch twin keeps
  case class ScdOpen(state: String, from: Timestamp, version: Int)
  case class ScdClosed(key: Long, state: String,
      valid_from: Timestamp, valid_to: Timestamp, version: Int)

  /** Streaming twin of [[graft.operators.Scd.scd2]]: each key holds ONE
    * small state record (current state + open-version start + version
    * counter — bounded by key count, not observations), and a version
    * row is emitted the moment an observation CLOSES it (append mode;
    * the open version lives in state until its closing change
    * arrives). Within a micro-batch a key's observations apply in
    * (ts, tie) order (deterministic); across batches, arrival order
    * governs — replaying a key's observations in order reproduces
    * exactly the batch operator's closed versions (spec-asserted), the
    * same continuous-ingest contract as [[packStream]]. */
  def scd2Stream(obs: Dataset[ScdObs]): Dataset[ScdClosed] = {
    import obs.sparkSession.implicits._
    obs.groupByKey(_.key)
      .flatMapGroupsWithState[ScdOpen, ScdClosed](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key, rows, st: GroupState[ScdOpen]) =>
          var cur = st.getOption
          val out = scala.collection.mutable.ListBuffer.empty[ScdClosed]
          rows.toSeq.sortBy(r => (r.ts, r.tie)).foreach { r =>
            cur match {
              case None =>
                cur = Some(ScdOpen(r.state, r.ts, 1))
              case Some(s) if s.state != r.state =>
                out += ScdClosed(key, s.state, s.from, r.ts, s.version)
                cur = Some(ScdOpen(r.state, r.ts, s.version + 1))
              case _ => () // unchanged observation: no new version
            }
          }
          cur.foreach(st.update)
          out.iterator
      }
  }

  // ---- streaming sequence packing (twin of Chunking.pack) ----

  case class PackDoc(doc_id: Long, shard: Long, n_tok: Long)
  case class PackOffset(offset: Long)
  case class PackedDoc(doc_id: Long, shard: Long, n_tok: Long,
      start_off: Long, end_off: Long, seq_first: Long, seq_last: Long, n_seqs: Long)

  /** Streaming twin of [[graft.operators.Chunking.pack]]: documents
    * stream in, each shard keeps ONE running token offset as state
    * (state is bounded by the shard count — a few longs — not the
    * corpus, so the query runs forever), and every document is
    * assigned its stream span and training-sequence range the moment
    * it arrives. Within a micro-batch a shard's documents pack in
    * doc_id order (deterministic); across batches, arrival order
    * governs — replaying a shard's documents in doc_id order
    * reproduces the batch packer's output EXACTLY (spec-asserted),
    * which is the continuous-ingest contract: the packer is the same,
    * only the delivery schedule differs. */
  def packStream(docs: Dataset[PackDoc],
      capacity: Long = graft.operators.Chunking.PackCapacity): Dataset[PackedDoc] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.shard)
      .flatMapGroupsWithState[PackOffset, PackedDoc](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (shard, rows, state: GroupState[PackOffset]) =>
          var off = state.getOption.fold(0L)(_.offset)
          val out = rows.toSeq.sortBy(_.doc_id).map { d =>
            val start = off
            off += d.n_tok
            PackedDoc(d.doc_id, shard, d.n_tok, start, off,
              start / capacity, (off - 1) / capacity,
              (off - 1) / capacity - start / capacity + 1)
          }
          state.update(PackOffset(off))
          out.iterator
      }
  }

  // ---- streaming last-touch attribution (twin of Attribution.lastTouch) ----

  case class AttrEvent(user_id: Long, ts: Timestamp, event_id: Long,
      event_type: String, value: Option[Double])
  case class AttrConv(user_id: Long, ts: Timestamp, touch_type: String,
      value: Double)
  /** t_ts is epoch MICROS (the q314 lesson: an epoch-millis window
    * compare can disagree with the batch twin's microsecond timestamps
    * exactly at the lookback boundary). */
  case class TouchState(t_type: String, t_ts: Long)

  /** Streaming twin of [[graft.operators.Attribution.lastTouch]]: each
    * user keeps ONE small state record — the last touch's type and
    * time (state bounded by the user dimension, not the event stream)
    * — and every purchase is credited the moment it arrives (append
    * mode): to that touch if it is within the lookback window, else
    * `organic`. Within a micro-batch a user's events apply in
    * (ts, event_id) order — the batch operator's exact total order;
    * across batches, arrival order governs. Replaying a user's events
    * in order reproduces the batch window's per-conversion crediting
    * EXACTLY (spec-asserted): the rollup to (touch_type, revenue) is a
    * downstream aggregation either way. */
  def attributionStream(events: Dataset[AttrEvent],
      lookbackDays: Int = graft.operators.Attribution.LookbackDays): Dataset[AttrConv] = {
    import events.sparkSession.implicits._
    val touches = Set("view", "click", "signup")
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[TouchState, AttrConv](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user, rows, st: GroupState[TouchState]) =>
          var cur = st.getOption
          val out = scala.collection.mutable.ListBuffer.empty[AttrConv]
          rows.toSeq.sortBy(r => (tsMicros(r.ts), r.event_id)).foreach { r =>
            if (r.event_type == "purchase") {
              val credited = cur match {
                case Some(t) if tsMicros(r.ts) - t.t_ts <= lookbackDays * 86400000000L =>
                  t.t_type
                case _ => "organic"
              }
              out += AttrConv(user, r.ts, credited, r.value.getOrElse(0.0))
            } else if (touches(r.event_type))
              cur = Some(TouchState(r.event_type, tsMicros(r.ts)))
          }
          cur.foreach(st.update)
          out.iterator
      }
  }

  // ---- streaming sessionization (twin of Events.sessionize / q18) ----

  /** Streaming gap sessionization — the continuous twin of
    * [[graft.operators.Events.sessionize]] built on Spark's native
    * `session_window` (the engine merges/extends window state per key;
    * no hand-rolled flatMapGroupsWithState needed — this is exactly
    * the operator Structured Streaming ships for the job). A session
    * closes, and emits ONCE (append mode), when the watermark passes
    * its end: out-of-order events inside the watermark horizon merge
    * into the right session; state per (user, open session) is dropped
    * at close, so long-running ingest holds only the open sessions.
    *
    * Session fields match the batch operator: start/end are the
    * observed min/max event times (NOT the window's `end`, which is
    * last-event + gap). Boundary convention: `session_window` treats
    * an event at EXACTLY gap distance as a new session (half-open
    * [start, end) windows), where the batch operator's `> gapMs` keeps
    * it — feed boundary-exact data to whichever semantics the pipeline
    * standardized on; at sub-millisecond-free event data the two only
    * differ on ties at exactly the gap.
    *
    * Input: streaming (ts TIMESTAMP, user_id LONG, value DOUBLE, ...). */
  def sessionizeStream(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        (round(sum(col("value")), 4) + 0.0).as("sum_value"))
      .select("user_id", "session_start", "session_end", "n_events", "sum_value")

  /** q314 — gap sessionization EXECUTED under the driver's full-hash
    * gate (r15 verdict #5: promote the highest-value spec-only twins
    * via the q259 replay pattern). Replays the events table through
    * [[sessionize]] — the flatMapGroupsWithState twin with the batch
    * operator's exact `> gapMs` boundary semantics (the native
    * `session_window` variant differs on ties at exactly the gap) —
    * in event-time order across three micro-batches, then closes every
    * open session by advancing the watermark with two sentinel events
    * for a reserved user (−1, filtered from the output): sentinel 1
    * raises max event time past every possible timeout, sentinel 2
    * triggers the batch that runs with that watermark so the
    * EventTimeTimeout fires for all quiet users. The oracle is q18's
    * own SQL projected away from session_seq (a session is already
    * unique per (user_id, session_start)) — replay ≡ batch is the
    * contract, so the hash match checks a live stateful streaming
    * execution, session-merge logic, timeout path and all.
    *
    * Scale note (q259 doctrine): the collect/feed is the REPLAY
    * HARNESS; the operator under test keeps ONE small state record per
    * active user, evicted by event-time timeout — that bound is the
    * 100 TB path. */
  def replaySessionize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Replay.withShuffle4(spark) {
      val feed = graft.Tables.events(spark, dir)
        .select(col("ts"), col("user_id").cast("long"),
          col("event_type"), col("value").cast("double"))
        .as[Event].collect()
        .sortBy(e => (e.ts.getTime, e.user_id, e.value))
      val maxTs = feed.map(_.ts.getTime).max
      val gapMs = 30 * 60 * 1000L
      val sentinel1 = Event(new Timestamp(maxTs + gapMs + 20 * 60000L), -1L, "sentinel", 0.0)
      val sentinel2 = Event(new Timestamp(maxTs + gapMs + 80 * 60000L), -1L, "sentinel", 0.0)
      val rows = Replay.run(spark, "q314_sess", "append",
          Replay.withSentinels(Replay.thirds(feed.toSeq), sentinel1, sentinel2))(
          sessionize(_, gapMs = gapMs))(
          _.as[Session].filter(col("user_id") >= 0L).collect().toSeq)
      rows.toDS().toDF()
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"),
          (round(col("sum_value"), 4) + 0.0).as("sum_value"))
    }
  }

  /** q320 — the SCD-2 stream EXECUTED under the driver's full-hash
    * gate (r15 verdict #5/#8 — the twin-promotion ladder continued):
    * events replay through [[scd2Stream]] in (ts, tie) order across
    * three micro-batches; each key holds ONE open-version record and a
    * version row is emitted the moment an observation CLOSES it. The
    * oracle is q66's own SQL restricted to CLOSED versions — append
    * mode's honest contract (the open version lives in state until its
    * closing change arrives; q66's open rows are exactly the ones a
    * running stream has not emitted YET). */
  def replayScd2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Replay.withShuffle4(spark) {
      val feed = Replay.sortedByLongs(graft.Tables.events(spark, dir)
        .select(col("user_id").cast("long").as("key"),
          col("event_type").as("state"), col("ts"),
          col("event_id").cast("long").as("tie"))
        .as[ScdObs].collect())(r => tsMicros(r.ts), _.tie)
      val rows = Replay.run(spark, "q320_scd2", "append",
          Replay.thirds(feed))(scd2Stream(_))(
          _.as[ScdClosed].collect().toSeq)
      rows.toDS().toDF()
        .select(col("key").as("user_id"), col("state"),
          col("valid_from"), col("valid_to"), col("version"))
    }
  }

  /** DuckDB twin of [[replayScd2]]: q66's statement filtered to closed
    * versions (valid_to IS NOT NULL). */
  val replayScd2Sql: String =
    s"""SELECT user_id, state, valid_from, valid_to, version
       |FROM (${graft.operators.Scd.userStateHistorySql.replace("\n", " ")}) t
       |WHERE valid_to IS NOT NULL""".stripMargin

  /** q321 — last-touch attribution stream under the full-hash gate:
    * (ts, event_id)-ordered replay through [[attributionStream]] (one
    * TouchState record per user), per-conversion credits from the
    * append sink, then q80's exact fixed-point rollup — the oracle is
    * q80's own SQL verbatim. */
  def replayLastTouch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Replay.withShuffle4(spark) {
      val feed = Replay.sortedByLongs(graft.Tables.events(spark, dir)
        .select(col("user_id").cast("long"), col("ts"),
          col("event_id").cast("long"), col("event_type"), col("value"))
        .as[AttrEvent].collect())(r => tsMicros(r.ts), _.event_id)
      val rows = Replay.run(spark, "q321_attr", "append",
          Replay.thirds(feed))(attributionStream(_))(
          _.as[AttrConv].collect().toSeq)
      rows.toDS().toDF()
        .groupBy(col("touch_type"))
        .agg(count(lit(1)).as("n_conversions"),
          (expr("sum(CAST(floor(coalesce(value, 0) * 10000) AS BIGINT))") / 10000.0)
            .as("revenue"))
    }
  }

  /** DuckDB twin of [[replayLastTouch]]: q80's own oracle — replay ≡
    * batch is the contract under test. */
  val replayLastTouchSql: String = graft.operators.Attribution.lastTouchSql

  /** q326 — the as-of enrichment stream EXECUTED under the driver's
    * full-hash gate: the q35 derivation's two sides (rounded measures;
    * (user, ts)-deduped states) replay as ONE interleaved event-time-
    * ordered feed through [[asofStream]] in three micro-batches, two
    * far-future pusher batches advance the watermark so every buffered
    * measure releases, and event_type joins back by event_id (a pure
    * projection) to complete q35's column set. The oracle is q35's own
    * SQL verbatim. Registration rode the micros hardening of
    * [[AsofPending]] — the third instance of the q314 precision class. */
  def replayAsof(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Replay.withShuffle4(spark) {
      val ev = graft.Tables.events(spark, dir)
      val left = ev.filter(col("event_type").isin("click", "view", "purchase"))
        .select(col("event_id").cast("long"), col("user_id").cast("long"),
          col("ts"), col("event_type"),
          (round(col("value"), 4) + 0.0).as("value"))
        .localCheckpoint(true) // feed + event_type join-back share it
      val rights = ev.filter(col("event_type").isin("signup", "error"))
        .groupBy(col("user_id"), col("ts"))
        .agg((round(expr("max_by(value, event_id)"), 4) + 0.0).as("state_value"))
        .select(col("user_id").cast("long"), col("ts"), col("state_value"))
        .as[(Long, Timestamp, Double)].collect()
        .map { case (u, t, v) => AsofEvent(u, t, 0, 0L, v) }
      val lefts = left
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
        .as[(Long, Timestamp, Long, Double)].collect()
        .map { case (u, t, id, v) => AsofEvent(u, t, 1, id, v) }
      val feed = Replay.sortedByLongs(rights ++ lefts)(
        e => tsMicros(e.ts), _.side.toLong, _.event_id)
      val maxTs = feed.map(e => tsMicros(e.ts)).max / 1000L
      // TTL > the table's whole span: the batch twin joins states of
      // ANY age, so the replay must not let the bounded-state knob
      // evict an idle user's state mid-table (the TTL contract itself
      // is pinned separately in StreamingSpec)
      val rows = Replay.run(spark, "q326_asof", "append",
          Replay.withSentinels(Replay.thirds(feed),
            AsofEvent(-1L, new Timestamp(maxTs + 86400000L), 1, -1L, 0.0),
            AsofEvent(-1L, new Timestamp(maxTs + 90000000L), 1, -2L, 0.0)))(
          asofStream(_, watermark = "10 minutes",
            stateTtlMs = 365L * 86400000L))(
          _.as[EnrichedEvent].filter(col("user_id") >= 0L).collect().toSeq)
      rows.toDS().toDF()
        .join(left.select(col("event_id"), col("event_type")), Seq("event_id"))
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
          col("value"), col("state_ts"), col("state_value"))
    }
  }

  /** DuckDB twin of [[replayAsof]]: q35's own oracle. */
  def replayAsofSql: String = graft.operators.AsOf.asofEventStateSql

  /** q327 — the exact-dedup stream EXECUTED under the driver's
    * full-hash gate: documents replay through [[dedupStream]] in
    * doc_id order (three micro-batches; arrival order IS the
    * canonical-id rule — first arrival survives, so ordered replay
    * makes the survivor the min doc_id, exactly q19's canonical pick),
    * with a deterministic synthetic event time (epoch + doc_id ms —
    * the documents table has no timestamp; monotone, so nothing is
    * late). The stream's survivors carry (text_hash, canonical_id);
    * n_copies joins back from the plain batch count (a pure aggregate
    * — the OPERATOR under the gate is the keep-first state machine).
    * Oracle = q19's own SQL. */
  def replayDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Replay.withShuffle4(spark) {
      val docs = graft.Tables.documents(spark, dir)
      val feed = docs.select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)].collect().sortBy(_._1)
        // base well past epoch: the INITIAL watermark is 0, and a row
        // with ts <= watermark is dropped as late — doc_id 0 at epoch 0
        // would silently vanish
        .map { case (id, text) => (new Timestamp(1700000000000L + id), id, text) }
      val survivors = Replay.run(spark, "q327_dedup", "append",
          Replay.thirds(feed.toSeq))(
          ds => dedupStream(ds.toDF("ts", "doc_id", "text")))(
          _.select(col("text_hash"), col("doc_id"))
            .as[(String, Long)].collect().toSeq)
      val counts = docs.select(md5(col("text")).as("text_hash"))
        .groupBy("text_hash").agg(count(lit(1)).as("n_copies"))
      survivors.toDF("text_hash", "canonical_id")
        .join(counts, Seq("text_hash"))
        .select(col("text_hash"), col("canonical_id"), col("n_copies"))
    }
  }

  /** DuckDB twin of [[replayDedup]]: q19's own oracle. */
  def replayDedupSql: String = graft.dedup.Dedup.dedupExactSql

  /** q328 — the stream-stream RANGE join EXECUTED under the driver's
    * full-hash gate: q36's two sides (error intervals; click/view/
    * purchase measures) replay as two live watermarked feeds through
    * [[rangeJoinStream]] in interleaved event-time order (the q311
    * discipline — both watermarks move while the other side still has
    * matches coming), and the appended pairs roll up to q36's
    * (user_id, start_ts) aggregate. Oracle = q36's own SQL. */
  def replayRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Replay.withShuffle4(spark) {
      val ev = graft.Tables.events(spark, dir)
      val mRows = Replay.sortedByLongs(
        ev.filter(col("event_type").isin("click", "view", "purchase"))
          .select(col("user_id").cast("long"), col("ts"), col("value").cast("double"))
          .as[(Long, Timestamp, Double)].collect())(r => tsMicros(r._2))
      val iRows = Replay.sortedByLongs(
        ev.filter(col("event_type") === "error")
          .select(col("user_id").cast("long"), col("ts").as("start_ts"),
            (col("ts") + expr("INTERVAL 30 MINUTES")).as("end_ts"))
          .as[(Long, Timestamp, Timestamp)].collect())(r => tsMicros(r._2))
      val pairs = Replay.interleaved(spark, "q328_range", "append",
          Replay.thirds(mRows), Replay.thirds(iRows)) { (m, i) =>
        rangeJoinStream(
          m.toDF("user_id", "ts", "value").withWatermark("ts", "1 hour"),
          i.toDF("user_id", "start_ts", "end_ts")
            .withWatermark("start_ts", "1 hour"),
          Seq("user_id"), "ts", "start_ts", "end_ts", "30 minutes")
      } {
        _.select(col("user_id"), col("start_ts"), col("value"))
          .collect().toSeq
          .map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2)))
      }
      pairs.toDF("user_id", "start_ts", "value")
        .groupBy(col("user_id"), col("start_ts"))
        .agg(count(lit(1)).as("n_events"),
          (round(sum(col("value")), 4) + 0.0).as("sum_value"))
    }
  }

  /** DuckDB twin of [[replayRangeJoin]]: q36's own oracle. */
  def replayRangeJoinSql: String =
    graft.operators.RangeJoin.rangeEventWindowsSql

  /** DuckDB twin of [[replaySessionize]]: the q18 statement projected
    * away from session_seq (replay ≡ batch is the contract). */
  val replaySessionizeSql: String =
    """WITH lagged AS (
      |  SELECT user_id, event_id, ts, value,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |  FROM events
      |), flagged AS (
      |  SELECT *, CASE WHEN prev_ts IS NULL
      |    OR epoch_ms(ts) - epoch_ms(prev_ts) > 1800000 THEN 1 ELSE 0 END AS is_new
      |  FROM lagged
      |), numbered AS (
      |  SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      |  FROM flagged
      |)
      |SELECT user_id,
      |  min(ts) AS session_start, max(ts) AS session_end,
      |  count(*) AS n_events, round(sum(value), 4) + 0.0 AS sum_value
      |FROM numbered GROUP BY user_id, session_seq""".stripMargin
}
