package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Structured Streaming surface. The reference README advertises "Spark &
  * Kafka streaming" with zero implementation (/root/reference/README.md:2;
  * SURVEY.md §2.6) — this module supplies the real thing: watermarked
  * event-time windows and stateful sessionization, written against
  * generic DataFrames so the SAME code runs on a batch frame or a
  * readStream frame (the batch forms are oracle-checked in ops.Events;
  * the streaming execution is exercised in StreamingSpec via
  * MemoryStream).
  *
  * Scale notes: watermark + windowed aggregation keeps state bounded to
  * open windows only; flatMapGroupsWithState keys state by user_id so it
  * shards across executors, and event-time timeout evicts idle sessions
  * — the standard unbounded-stream shape. File/Kafka sources swap in via
  * `spark.readStream` without touching the transforms.
  */
object Streams {

  /** Kafka-source wiring: `spark.readStream.format("kafka")` with the
    * standard options, projected to the Evt schema. The spark-sql-kafka
    * connector jar is NOT in this container (/opt/spark/jars has no
    * kafka artifact, and the build has zero egress), so this is the
    * documented wiring point, not a tested path — the transforms above
    * are source-agnostic and run unchanged once the connector is on the
    * classpath. */
  def kafkaEvents(spark: SparkSession, bootstrap: String, topic: String): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", "latest")
      .load()
      .select(from_json(col("value").cast("string"),
        org.apache.spark.sql.Encoders.product[Evt].schema).as("e"))
      .select("e.*")

  final case class Evt(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                       event_type: String, value: Double)
  final case class SessionOut(user_id: Long, start_us: Long, end_us: Long,
                              n_events: Long)
  final case class SessionState(start_us: Long, end_us: Long, n: Long)

  /** Watermarked tumbling 1-hour counts per event type. Works on batch
    * and streaming frames alike. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("window_start"), col("event_type"), col("cnt"))

  /** Watermarked 6-hour (window, type) exact micro-unit value sums —
    * the streaming half of `evt_window_topk`: the stream owns the heavy
    * per-window aggregation (state bounded by the watermark); the
    * per-window top-k RANKING is a trivial batch query over the closed
    * windows the sink materializes — the production split, since
    * ranking needs a window's aggregates to be final. Batch and
    * streaming frames run the identical plan but for the watermark, so
    * StreamingSpec grounds the stream against the oracle-checked batch
    * query. */
  def windowedValueSums(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(floor(col("value") * lit(1e6)).cast("long")).as("sum_u"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("cnt"), col("sum_u"))

  /** Watermarked 15-minute OHLC bars over purchase values — the
    * streaming form of `evt_ohlc_resample`'s aggregation, identical
    * struct-pick open/close (min/max over unique (ts, event_id, value)
    * structs, total-ordered). Works on batch and streaming frames
    * alike; in streaming the watermark bounds per-bar state. */
  def ohlcBars(events: DataFrame): DataFrame =
    events
      .filter(col("event_type") === "purchase")
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "15 minutes").as("w"))
      .agg(
        min(struct(col("ts"), col("event_id"), col("value"))).as("o"),
        max(struct(col("ts"), col("event_id"), col("value"))).as("c"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        count(lit(1)).as("n"))
      .select(col("w.start").as("bar_start"), col("o.value").as("open"),
        col("high"), col("low"), col("c.value").as("close"), col("n"))

  /** Streaming exact dedup by event_id. dropDuplicatesWithinWatermark
    * keys state on event_id and evicts each key once the watermark
    * passes it — bounded state on an unbounded stream, unlike plain
    * dropDuplicates which retains every key forever. This is the
    * streaming face of `dedup_exact`: at 100 TB/day the state store
    * holds only the 2-hour lateness horizon, sharded by key across
    * executors. */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming near-dup detection — the streaming face of
    * `dedup_incremental`: an unbounded stream of (doc_id, text) docs is
    * sketched per row (MinHash — pure expressions, no state), exploded
    * into LSH band keys, and equi-joined against the STATIC corpus band
    * table (stream-static inner join: each micro-batch probes the
    * broadcast/shuffled static side, no stream state at all). Candidates
    * verify with exact shingle-set Jaccard ≥ 0.5.
    *
    * Emission is EXACTLY-once per colliding pair without any streaming
    * state: a pair that collides on BOTH bands would emit twice, so the
    * band-1 match keeps a row only when the pair does NOT also collide
    * on band 0 — decidable per row because both signatures ride the
    * join. The output is the append-mode stream of confirmed near-dup
    * pairs; best-match-per-doc is a consumer aggregation (batch side:
    * `dedup_incremental`). At 100 TB/day this is the ingest-time dedup
    * shape: the corpus bands are a persisted, bucketed table and every
    * micro-batch is one bounded equi-join against it.
    *
    * Works identically on a batch frame (pure relational plan) — the
    * spec runs the SAME function both ways and asserts equality.
    *
    * @param newDocs      streaming (or batch) frame of (doc_id, text).
    * @param corpusSketch static sketch frame (doc_id, sig, sh) — e.g.
    *                     [[graft.ops.Text.docSketch]] filtered to the
    *                     corpus side.
    * @return (new_id, old_id, jaccard) pairs with jaccard ≥ 0.5. */
  def streamingNearDups(newDocs: DataFrame, corpusSketch: DataFrame): DataFrame = {
    val nb = graft.ops.Text.bandsOf(graft.ops.Text.sketchOf(newDocs),
        carry = Seq("sig", "sh"))
      .toDF("new_id", "nsig", "nsh", "band", "h1", "h2", "h3", "h4")
    val cb = graft.ops.Text.bandsOf(corpusSketch, carry = Seq("sig", "sh"))
      .toDF("old_id", "osig", "osh", "band", "h1", "h2", "h3", "h4")
    val collidesBand0 = (1 to 4).map(i =>
      element_at(col("nsig"), i) === element_at(col("osig"), i)).reduce(_ && _)
    nb.join(cb, Seq("band", "h1", "h2", "h3", "h4"))
      .filter(col("band") === 0 || !collidesBand0)
      .select(col("new_id"), col("old_id"),
        (size(array_intersect(col("nsh"), col("osh"))).cast("double") /
          size(array_union(col("nsh"), col("osh")))).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
  }

  /** Stream-STREAM interval join — the attribution shape: every
    * (view, purchase) pair for the same user with the purchase inside
    * (view.ts, view.ts + 1 hour]. Both sides are watermarked and the
    * join condition carries an explicit event-time bound, which is
    * exactly what lets Spark evict join state: a buffered view older
    * than `watermark − 1 hour` can never match a future purchase and is
    * dropped, so state stays bounded on unbounded streams (the missing
    * piece vs the stream-static join above, where only one side grows).
    * State shards by user_id. Works identically on batch frames — the
    * spec runs the SAME function both ways and asserts equality; the
    * batch twin of this shape is `evt_range_join`'s bucketed interval
    * join.
    *
    * @param views     streaming (or batch) frame of view events
    *                  (event_id, ts, user_id).
    * @param purchases streaming (or batch) frame of purchase events
    *                  (event_id, ts, user_id, value).
    * @return (user_id, view_id, purchase_id, vts, pts, value) pairs. */
  /** @param joinType "inner" (default) emits matches eagerly;
    *                  "left_outer" additionally emits each unmatched
    *                  view with NULL purchase columns once the
    *                  watermark proves no future purchase can match it
    *                  — the state-EVICTION semantics the spec pins. */
  def attributionJoin(views: DataFrame, purchases: DataFrame,
                      joinType: String = "inner"): DataFrame = {
    val v = views
      .select(col("event_id").as("view_id"), col("ts").as("vts"),
        col("user_id").as("v_user"))
      .withWatermark("vts", "2 hours")
    val p = purchases
      .select(col("event_id").as("purchase_id"), col("ts").as("pts"),
        col("user_id").as("p_user"), col("value"))
      .withWatermark("pts", "2 hours")
    v.join(p,
        col("v_user") === col("p_user") &&
          col("pts") > col("vts") &&
          col("pts") <= col("vts") + expr("interval 1 hour"),
        joinType)
      .select(col("v_user").as("user_id"), col("view_id"), col("purchase_id"),
        col("vts"), col("pts"), col("value"))
  }

  /** Stateful 30-minute-gap sessionization via flatMapGroupsWithState —
    * the custom-state operator the batch `evt_sessionize` mirrors.
    * Emits a session when the gap is exceeded within a batch or when the
    * event-time timeout fires. */
  def sessionize(spark: SparkSession, events: Dataset[Evt],
                 gapUs: Long = 1800000000L): Dataset[SessionOut] = {
    import spark.implicits._
    def update(userId: Long, rows: Iterator[Evt],
               state: GroupState[SessionState]): Iterator[SessionOut] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator(SessionOut(userId, s.start_us, s.end_us, s.n))
      } else {
        val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
        var out = List.empty[SessionOut]
        var cur = state.getOption
        sorted.foreach { e =>
          // exact event-time micros: getTime truncates to millis, but
          // the Timestamp's nanos field carries the sub-millisecond part
          // (the batch session_window keys on full micros — parity with
          // evt_session_window_native is asserted in StreamingSpec)
          val us = Math.floorDiv(e.ts.getTime, 1000L) * 1000000L + e.ts.getNanos / 1000L
          cur match {
            case Some(s) if us - s.end_us <= gapUs =>
              cur = Some(s.copy(end_us = us, n = s.n + 1))
            case Some(s) =>
              out ::= SessionOut(userId, s.start_us, s.end_us, s.n)
              cur = Some(SessionState(us, us, 1))
            case None =>
              cur = Some(SessionState(us, us, 1))
          }
        }
        cur.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp(s.end_us / 1000L + gapUs / 1000L)
        }
        out.reverseIterator
      }
    }
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(update)
  }

  // ── transformWithState (Spark 4's arbitrary-state processor API) ─────

  final case class RunningOut(user_id: Long, n: Long, total: Double)
  final case class RunningState(n: Long, total: Double)

  /** Per-user running (count, total) via the [[StatefulProcessor]]
    * API — the successor to flatMapGroupsWithState: typed state handles
    * (ValueState/ListState/MapState) backed by the RocksDB state store,
    * per-state TTLs, and timers, so per-key state spills to disk
    * instead of living in executor heap — the shape that carries
    * billions of keys. State here is ONE fixed-size row per user
    * (O(1) regardless of history length); each batch's rows fold in
    * deterministic (ts, event_id) order on top of it. */
  class RunningTotalsProcessor extends StatefulProcessor[Long, Evt, RunningOut] {
    @transient private var st: ValueState[RunningState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState("totals",
        Encoders.product[RunningState], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Evt],
                                 tv: TimerValues): Iterator[RunningOut] = {
      var cur = if (st.exists()) st.get() else RunningState(0L, 0.0)
      rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        cur = RunningState(cur.n + 1, cur.total + e.value)
      }
      st.update(cur)
      Iterator(RunningOut(key, cur.n, cur.total))
    }
  }

  /** Requires the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass` =
    * `...state.RocksDBStateStoreProvider`) — transformWithState's
    * contract; rocksdbjni ships with Spark. */
  def runningTotals(spark: SparkSession, events: Dataset[Evt]): Dataset[RunningOut] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  // ── streaming CDC apply (latest-wins change-log compaction) ──────────

  /** One change-log record: op ∈ {I, U, D}, v absent on deletes. */
  final case class CdcRec(k: Long, seq: Long, op: String, v: Option[Double])
  final case class CdcState(seq: Long, op: String, v: Option[Double])
  final case class CdcOut(k: Long, seq: Long, op: String, v: Option[Double])

  /** The STREAMING form of `rel_cdc_apply`'s latest-wins semantics: one
    * ValueState per primary key holding (seq, op, v); a record replaces
    * the state only when its seq is strictly higher, so late-arriving
    * stale changes (replayed partitions, out-of-order shards — the
    * normal condition for a CDC feed) can never regress a key. Deletes
    * stay IN state as tombstones rather than clearing it: dropping the
    * state would let a replayed lower-seq update resurrect the row,
    * the classic CDC bug. State is one fixed-size row per live key
    * (RocksDB-backed, spills past heap), and the emitted stream in
    * update mode is exactly the per-key current row — downstream
    * materialization is "last row per key, filter op ≠ D", which
    * StreamingSpec proves equal to the batch window dataflow the
    * driver gate hash-checks as `rel_cdc_apply`. */
  class CdcApplyProcessor extends StatefulProcessor[Long, CdcRec, CdcOut] {
    @transient private var st: ValueState[CdcState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState("latest",
        Encoders.product[CdcState], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[CdcRec],
                                 tv: TimerValues): Iterator[CdcOut] = {
      var cur = if (st.exists()) Some(st.get()) else None
      // fold in seq order so a batch carrying several versions of one
      // key lands deterministically regardless of arrival order
      rows.toSeq.sortBy(_.seq).foreach { r =>
        if (cur.forall(_.seq < r.seq)) cur = Some(CdcState(r.seq, r.op, r.v))
      }
      cur.foreach(st.update)
      cur.iterator.map(c => CdcOut(key, c.seq, c.op, c.v))
    }
  }

  /** RocksDB-provider requirement as [[runningTotals]]. */
  def cdcApply(spark: SparkSession, changes: Dataset[CdcRec]): Dataset[CdcOut] = {
    import spark.implicits._
    changes
      .groupByKey(_.k)
      .transformWithState(new CdcApplyProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  // ── streaming CUSUM (Page's drift detector as keyed O(1) state) ──────

  /** One closed daily aggregate on the wire: series key (0 for the
    * global series; a per-entity CUSUM keys naturally), epoch day, and
    * the day's exact µunit value sum. */
  final case class DayAgg(series: Long, epd: Int, xu: Long)
  final case class CusumState(lastEpd: Int, cu: Long, mn: Long)
  final case class CusumOut(series: Long, epd: Int, xu: Long,
                            su: Long, alarm: Boolean)

  /** The STREAMING form of `evt_cusum`: per-series ValueState carrying
    * (last folded day, running sum C, running min of min(C, 0)) — the
    * prefix identity S_t = C_t − min_{j≤t} min(C_j, 0) needs exactly
    * those two BIGINTs, so state is O(1) per series no matter how long
    * the series runs. Within a batch, days fold in day order (the
    * RunningTotals sort discipline); a day at or before the last folded
    * day is a REPLAY (redelivered partition) and is dropped — the CDC
    * seq-guard idempotency rule, because re-folding a day would
    * double-count it into C. All arithmetic is the same exact µunit
    * BIGINT path the batch query hash-proves, so batch ≡ stream is
    * bit-equality, not approximation (StreamingSpec replays out-of-order
    * and duplicated days to prove it). */
  class CusumProcessor(kU: Long, hU: Long)
      extends StatefulProcessor[Long, DayAgg, CusumOut] {
    @transient private var st: ValueState[CusumState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState("cusum",
        Encoders.product[CusumState], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[DayAgg],
                                 tv: TimerValues): Iterator[CusumOut] = {
      var cur = if (st.exists()) st.get() else CusumState(Int.MinValue, 0L, 0L)
      val out = rows.toSeq.sortBy(_.epd).flatMap { r =>
        if (r.epd <= cur.lastEpd) None // replayed day: already folded
        else {
          val cu = cur.cu + (r.xu - kU)
          val mn = math.min(cur.mn, math.min(cu, 0L))
          cur = CusumState(r.epd, cu, mn)
          val su = cu - mn
          Some(CusumOut(key, r.epd, r.xu, su, su > hU))
        }
      }
      st.update(cur)
      out.iterator
    }
  }

  /** RocksDB-provider requirement as [[runningTotals]]. Defaults match
    * the batch `evt_cusum` thresholds (k = 120 units, h = 600 units). */
  def cusumStream(spark: SparkSession, days: Dataset[DayAgg],
                  kU: Long = 120L * 1000000L,
                  hU: Long = 600L * 1000000L): Dataset[CusumOut] = {
    import spark.implicits._
    days
      .groupByKey(_.series)
      .transformWithState(new CusumProcessor(kU, hU),
        TimeMode.None(), OutputMode.Update())
  }

  // ── streaming SPRT (Wald's sequential test as keyed O(1) state) ──────

  /** One closed enrollment-day aggregate: experiment series key, epoch
    * day, enrollments and conversions. */
  final case class SprtDay(series: Long, epd: Int, enrolls: Long, convs: Long)
  final case class SprtState(lastEpd: Int, llr: Long)
  final case class SprtOut(series: Long, epd: Int, enrolls: Long, convs: Long,
                           llrFp: Long, signal: String)

  /** The STREAMING form of `evt_sprt`: per-experiment ValueState carrying
    * (last folded day, running LLR) — the sequential test's whole state
    * is ONE exact 2^20-grid BIGINT, the shape a platform monitoring
    * thousands of concurrent experiments keeps per key. Same in-batch
    * day-sort and replay-drop discipline as [[CusumProcessor]]; the
    * per-day increment convs·win + misses·loss is the identical integer
    * arithmetic the batch query hash-proves, so batch ≡ stream is
    * bit-equality (StreamingSpec replays out-of-order and duplicated
    * days to prove it). */
  class SprtProcessor(winFp: Long, lossFp: Long, upperFp: Long, lowerFp: Long)
      extends StatefulProcessor[Long, SprtDay, SprtOut] {
    @transient private var st: ValueState[SprtState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState("sprt",
        Encoders.product[SprtState], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[SprtDay],
                                 tv: TimerValues): Iterator[SprtOut] = {
      var cur = if (st.exists()) st.get() else SprtState(Int.MinValue, 0L)
      val out = rows.toSeq.sortBy(_.epd).flatMap { r =>
        if (r.epd <= cur.lastEpd) None // replayed day: already folded
        else {
          val llr = cur.llr + r.convs * winFp + (r.enrolls - r.convs) * lossFp
          cur = SprtState(r.epd, llr)
          val sig =
            if (llr >= upperFp) "accept_h1"
            else if (llr <= lowerFp) "accept_h0"
            else "continue"
          Some(SprtOut(key, r.epd, r.enrolls, r.convs, llr, sig))
        }
      }
      st.update(cur)
      out.iterator
    }
  }

  /** Defaults match the batch `evt_sprt` design (H1 p=0.06 vs H0 p=0.03,
    * α=β=0.05) — the constants quantize through the SAME Math.log the
    * batch query constant-folds, so the increments agree bit-for-bit. */
  def sprtStream(spark: SparkSession, days: Dataset[SprtDay]): Dataset[SprtOut] = {
    import spark.implicits._
    val S = 1048576L
    val win = math.floor(math.log(0.06 / 0.03) * S).toLong
    val loss = math.floor(math.log((1.0 - 0.06) / (1.0 - 0.03)) * S).toLong
    val ua = math.floor(math.log(0.95 / 0.05) * S).toLong
    val lb = math.floor(math.log(0.05 / 0.95) * S).toLong
    days
      .groupByKey(_.series)
      .transformWithState(new SprtProcessor(win, loss, ua, lb),
        TimeMode.None(), OutputMode.Update())
  }

  // ── streaming Holt–Winters (the forecaster as keyed O(1) state) ──────

  final case class HwState(lastEpd: Int, l: Double, b: Double)
  final case class HwOut(series: Long, epd: Int, x: Double, f: Double,
                         r: Double, l: Double, b: Double)

  /** The STREAMING form of `evt_holt_winters`: per-series ValueState
    * carrying (last folded day, level, trend) — the recurrence's whole
    * state is three scalars, so a forecaster over millions of series is
    * millions of fixed-size rows in RocksDB. The SAME double
    * expressions as the batch fold (and its oracle), stepped in
    * in-batch day order with the CUSUM replay guard (a day at or
    * before the last folded one is a redelivery and must not re-enter
    * the recurrence) — so batch ≡ stream is BIT-equality on every
    * level/trend/forecast/residual, proven in StreamingSpec. Unlike
    * CUSUM there is no out-of-order tolerance to buy with prefix
    * identities: the recurrence is genuinely order-sensitive, so a
    * production deployment feeds it CLOSED daily aggregates in day
    * order (the watermark's job) and the guard only absorbs replays. */
  class HoltWintersProcessor extends StatefulProcessor[Long, DayAgg, HwOut] {
    @transient private var st: ValueState[HwState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState("hw", Encoders.product[HwState], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[DayAgg],
                                 tv: TimerValues): Iterator[HwOut] = {
      var cur = if (st.exists()) st.get() else HwState(Int.MinValue, 0.0, 0.0)
      val out = rows.toSeq.sortBy(_.epd).flatMap { d =>
        if (d.epd <= cur.lastEpd) None // replayed day
        else {
          val x = d.xu.toDouble / 1000000
          val f = cur.l + cur.b
          val r = x - f
          val l2 = 0.5 * x + 0.5 * (cur.l + cur.b)
          val b2 = 0.5 * (l2 - cur.l) + 0.5 * cur.b
          cur = HwState(d.epd, l2, b2)
          Some(HwOut(key, d.epd, x, f, r, l2, b2))
        }
      }
      st.update(cur)
      out.iterator
    }
  }

  /** RocksDB-provider requirement as [[runningTotals]]. */
  def holtWintersStream(spark: SparkSession, days: Dataset[DayAgg]): Dataset[HwOut] = {
    import spark.implicits._
    days
      .groupByKey(_.series)
      .transformWithState(new HoltWintersProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  // ── streaming LTTB (the dashboard downsampler, incremental) ──────────
  // VERDICT r11 task 8: evt_lttb_downsample is batch-only because
  // classic LTTB sizes its buckets from the TOTAL point count; the
  // streaming form uses FIXED-WIDTH buckets of [[LttbBucketDays]] days
  // — the standard infinite-stream variant — and per-series O(width)
  // state. A bucket b FINALIZES when a point lands in b+2 or later:
  // its kept point is the exact-BIGINT largest-triangle argmax against
  // the previously kept point and bucket b+1's centroid (the SAME
  // division-cleared |2·area·c| expression the batch operator
  // hash-proves; ties to the earlier day). On finalizing b, bucket b+1
  // FREEZES: later arrivals for it are dropped by the CUSUM/CDC replay
  // guard — so out-of-order delivery is tolerated within the rolling
  // two-bucket horizon and replays/stragglers are idempotently
  // discarded, deterministically. The earliest finalized bucket emits
  // its first point (LTTB's kept-first-point anchor); an empty next
  // bucket degrades the area to 0 so the tie rule keeps the earliest
  // point — deterministic on both the stream and the replayed fold
  // (StreamingSpec proves batch ≡ stream bit-equality over shuffled
  // triggers with replays).

  /** Bucket width in days for [[lttbStream]]. */
  val LttbBucketDays = 7

  final case class LttbPt(epd: Int, yu: Long)
  final case class LttbState(finalizedThrough: Int, haveLast: Boolean,
      lastX: Long, lastY: Long, open: Seq[LttbPt])
  final case class LttbOut(series: Long, bucket: Int, epd: Int, yu: Long)

  class LttbProcessor(width: Int)
      extends StatefulProcessor[Long, DayAgg, LttbOut] {
    @transient private var st: ValueState[LttbState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState("lttb",
        Encoders.product[LttbState], TTLConfig.NONE)

    private def bucketOf(epd: Int): Int = Math.floorDiv(epd, width)

    override def handleInputRows(key: Long, rows: Iterator[DayAgg],
                                 tv: TimerValues): Iterator[LttbOut] = {
      var cur = if (st.exists()) st.get()
        else LttbState(Int.MinValue, haveLast = false, 0L, 0L, Seq.empty)
      val out = Seq.newBuilder[LttbOut]
      // in-batch day order (the RunningTotals sort discipline) makes the
      // fold deterministic for a trigger regardless of shuffle order
      rows.toSeq.sortBy(_.epd).foreach { p =>
        val b = bucketOf(p.epd)
        // guard: finalized buckets AND the frozen next bucket (whose
        // centroid was consumed at finalization) reject stragglers —
        // before the first finalization nothing is frozen
        val frozenThrough =
          if (cur.haveLast) cur.finalizedThrough + 1 else cur.finalizedThrough
        if (b > frozenThrough) {
          // at-least-once guard INSIDE the horizon: a re-delivered day
          // whose bucket is still open passes the frozenThrough check —
          // dedupe by epd so the replay can't double-count the day in
          // the centroid sums (frozen buckets are handled above; this
          // closes the open-horizon half of the idempotency contract)
          var open =
            if (cur.open.exists(_.epd == p.epd)) cur.open
            else (cur.open :+ LttbPt(p.epd, p.xu)).sortBy(_.epd)
          // cascade finalization while two buckets of lookahead exist
          var advanced = true
          while (advanced) {
            advanced = false
            val buckets = open.map(q => bucketOf(q.epd))
            if (buckets.nonEmpty) {
              val bMin = buckets.min
              val bMax = buckets.max
              if (bMax >= bMin + 2) {
                val (cand, rest) = open.partition(q => bucketOf(q.epd) == bMin)
                val keep: LttbPt =
                  if (!cur.haveLast) cand.head // anchor: first point kept
                  else {
                    val nxt = rest.filter(q => bucketOf(q.epd) == bMin + 1)
                    val c = nxt.size.toLong
                    val sx = nxt.map(_.epd.toLong).sum
                    val sy = nxt.map(_.yu).sum
                    // |2·area·c| in exact BIGINTs — the batch operator's
                    // division-cleared form; BigInt guards the xu·c
                    // products against any overflow
                    cand.maxBy { q =>
                      val a = (BigInt(cur.lastX) * c - sx) * (q.yu - cur.lastY) -
                        BigInt(cur.lastX - q.epd) * (sy - BigInt(cur.lastY) * c)
                      (a.abs, -q.epd) // ties → earliest day
                    }
                  }
                out += LttbOut(key, bMin, keep.epd, keep.yu)
                cur = LttbState(bMin, haveLast = true, keep.epd.toLong,
                  keep.yu, rest)
                open = rest
                advanced = true
              }
            }
          }
          cur = cur.copy(open = open)
        }
      }
      st.update(cur)
      out.result().iterator
    }
  }

  /** RocksDB-provider requirement as [[runningTotals]]. */
  def lttbStream(spark: SparkSession, days: Dataset[DayAgg],
                 width: Int = LttbBucketDays): Dataset[LttbOut] = {
    import spark.implicits._
    days
      .groupByKey(_.series)
      .transformWithState(new LttbProcessor(width),
        TimeMode.None(), OutputMode.Update())
  }

  /** One ingest-time keep/drop verdict. `dup_of`/`jaccard` are null on
    * "keep" (boxed so the encoder keeps the columns nullable). */
  final case class KeepVerdict(doc_id: Long, verdict: String,
      dup_of: java.lang.Long, jaccard: java.lang.Double)

  /** Streaming keep-list maintenance over the PUBLISHED dedup artifact
    * (VERDICT-r16 task 7): an unbounded stream of (doc_id, text) docs is
    * sketched per row, band-joined (stream-static LEFT OUTER — the
    * unmatched row is how a clean doc proves itself) against the
    * artifact's persisted sketch table, candidates verified with exact
    * shingle-set Jaccard, and each doc reduced to ONE verdict row: drop
    * (with its best ≥0.5 partner — highest Jaccard, then smallest id,
    * dedup_incremental's tiebreak) or keep. Emission is EXACTLY-once per
    * doc_id across batches via flatMapGroupsWithState: a doc's candidate
    * rows all land in its own micro-batch (the static side never
    * changes), so the group verdict is complete when first seen, and a
    * re-sent doc_id finds its seen-bit and emits nothing. State is one
    * boolean per doc — at 100 TB the key space is bounded by an
    * ingest-time watermark on the doc stream (the dedupEvents shape);
    * the fixture stream is finite so NoTimeout keeps the spec exact.
    *
    * Works identically on a batch frame (flatMapGroupsWithState runs
    * per-group with empty state) — Round17Spec runs the SAME function
    * both ways over the SAME artifact and asserts equality, plus zero
    * corpus re-sketches (the artifact serves the static side).
    *
    * @param newDocs       streaming (or batch) frame of (doc_id, text).
    * @param corpusSketch  the published artifact's sketch table
    *                      (doc_id, sig, sh), e.g.
    *                      `spark.read.parquet(s"$artifactDir/sketch")`. */
  def keepListVerdicts(newDocs: DataFrame, corpusSketch: DataFrame): Dataset[KeepVerdict] = {
    val nb = graft.ops.Text.bandsOf(graft.ops.Text.sketchOf(newDocs),
        carry = Seq("sh"))
      .toDF("new_id", "nsh", "band", "h1", "h2", "h3", "h4")
    val cb = graft.ops.Text.bandsOf(corpusSketch, carry = Seq("sh"))
      .toDF("old_id", "osh", "band", "h1", "h2", "h3", "h4")
    val joined = nb.join(cb, Seq("band", "h1", "h2", "h3", "h4"), "left_outer")
      .select(col("new_id"),
        // a self-collision (the doc already ingested) must not verdict
        // itself a dup — null it like a non-match
        when(col("old_id") =!= col("new_id"), col("old_id")).as("old_id"),
        when(col("old_id") =!= col("new_id"),
          size(array_intersect(col("nsh"), col("osh"))).cast("double") /
            size(array_union(col("nsh"), col("osh")))).as("jaccard"))
    implicit val enc = Encoders.product[KeepVerdict]
    implicit val tup = Encoders.tuple(Encoders.scalaLong,
      Encoders.LONG, Encoders.DOUBLE)
    implicit val keyEnc = Encoders.scalaLong
    implicit val stEnc = Encoders.scalaBoolean
    joined.as[(Long, java.lang.Long, java.lang.Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (id: Long, rows: Iterator[(Long, java.lang.Long, java.lang.Double)],
         state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            val best = rows
              .collect { case (_, o, j) if o != null && j != null && j >= 0.5 =>
                (j.doubleValue, -o.longValue) }
              .maxOption
            best match {
              case Some((j, negO)) =>
                Iterator(KeepVerdict(id, "drop", -negO, j))
              case None => Iterator(KeepVerdict(id, "keep", null, null))
            }
          })
  }

  /** One served ANN hit: rank ∈ [1, k] within its query. */
  final case class AnnHit(qid: Long, rank: Int, vec_id: Long, sim: Double)

  /** Streaming ANN top-k over the PUBLISHED LSH-cells artifact (r17 —
    * the online-serving half of the index store): an unbounded stream
    * of (qid, v) query vectors is cell-hashed per row with the same L
    * tables the artifact was built with, stream-static INNER-joined
    * against the artifact's cells (the candidate union — never the
    * corpus), exact-cosine scored, and reduced to one top-k list per
    * query, EXACTLY-once per qid across micro-batches (the
    * keepListVerdicts discipline: the static side never changes, so a
    * query's candidates are complete in its own micro-batch; a re-sent
    * qid finds its seen-bit and emits nothing). A corpus row streamed
    * as its own query never ranks itself (the vec_id = qid guard).
    * State is one boolean per qid — bounded by an ingest-time watermark
    * in a real deployment. Works identically on a batch frame; the
    * Round17Spec runs the SAME function both ways over the SAME
    * artifact and pins equality with the oracle-checked
    * ann_lsh_topk_persisted rows.
    *
    * @param queries      streaming (or batch) frame of (qid, v) with v
    *                     an array<double> embedding.
    * @param corpusCells  the published artifact's cells table
    *                     (vec_id, v, cell), e.g.
    *                     `spark.read.parquet(s"$artifactDir/cells")`. */
  def annTopkVerdicts(queries: DataFrame, corpusCells: DataFrame,
      k: Int = 10): Dataset[AnnHit] = {
    val V = graft.ops.Vector
    val qc = queries.toDF("qid", "qv")
      .select(col("qid"), col("qv"),
        explode(array((0 until V.LshTables).map(t =>
          lit(t * 256) + V.lshTableBucket(col("qv"), t)): _*)).as("cell"))
    val joined = qc
      .join(corpusCells.select(col("vec_id"), col("v"), col("cell")), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), V.cosine(col("v"), col("qv")).as("sim"))
    implicit val enc = Encoders.product[AnnHit]
    implicit val tup = Encoders.tuple(Encoders.scalaLong,
      Encoders.scalaLong, Encoders.scalaDouble)
    implicit val keyEnc = Encoders.scalaLong
    implicit val stEnc = Encoders.scalaBoolean
    joined.as[(Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (qid: Long, rows: Iterator[(Long, Long, Double)],
         state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            // max-dedup (a neighbor can collide in several tables), then
            // rank — candidate-sized work, bounded by L buckets
            val best = scala.collection.mutable.Map.empty[Long, Double]
            rows.foreach { case (_, vid, s) =>
              if (best.getOrElse(vid, -2.0) < s) best(vid) = s }
            best.toSeq.sortBy { case (vid, s) => (-s, vid) }.take(k)
              .zipWithIndex
              .map { case ((vid, s), i) => AnnHit(qid, i + 1, vid, s) }
              .iterator
          })
  }

  /** One tokenized-document verdict: the text_bpe_encode row shape. */
  final case class TokenizeVerdict(doc_id: Long, n_words: Long,
      n_bpe: Long, seg_md5: String)

  /** Streaming corpus tokenization over the PUBLISHED tokenizer file
    * (r17 — the online half of the tokenizer lifecycle): an unbounded
    * stream of (doc_id, text) docs is word-split per row, stream-static
    * joined against the published vocab-sized word table (each distinct
    * word's frozen segmentation — broadcast, never the training loop),
    * and reduced to ONE row per doc — word count, token count, and the
    * in-order segmentation md5, the exact text_bpe_encode row —
    * EXACTLY-once per doc_id across micro-batches (the keepListVerdicts
    * discipline: the static side never changes, so a doc's token rows
    * are complete in its own micro-batch; a re-sent doc_id finds its
    * seen-bit and emits nothing). State is one boolean per doc —
    * bounded by an ingest-time watermark in a real deployment. Works
    * identically on a batch frame; Round17Spec runs the SAME function
    * both ways over the SAME artifact and pins equality with the
    * oracle-checked text_bpe_encode_persisted rows.
    *
    * @param newDocs  streaming (or batch) frame of (doc_id, text).
    * @param words    the published tokenizer's word table
    *                 (word, w, cnt), e.g.
    *                 `spark.read.parquet(s"$artifactDir/words")`. */
  def tokenizeVerdicts(newDocs: DataFrame, words: DataFrame): Dataset[TokenizeVerdict] = {
    val enc = words.select(col("word"),
      size(split(trim(col("w")), "  ")).as("n_syms"),
      trim(col("w")).as("segs"))
    val toks = newDocs.toDF("doc_id", "text")
      .select(col("doc_id"),
        posexplode(graft.ops.Text.tokens(col("text"))).as(Seq("pos", "word")))
      .filter(col("word") =!= "")
      .join(broadcast(enc), "word")
      .select(col("doc_id"), col("pos"), col("n_syms"), col("segs"))
    implicit val outEnc = Encoders.product[TokenizeVerdict]
    implicit val tup = Encoders.tuple(Encoders.scalaLong,
      Encoders.scalaInt, Encoders.scalaInt, Encoders.STRING)
    implicit val keyEnc = Encoders.scalaLong
    implicit val stEnc = Encoders.scalaBoolean
    toks.as[(Long, Int, Int, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (id: Long, rows: Iterator[(Long, Int, Int, String)],
         state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            // doc-sized work: order by token position, then one md5 over
            // the joined segmentations — byte-identical to the relational
            // md5(array_join(...)) form (same string, same UTF-8 bytes)
            val sorted = rows.toSeq.sortBy(_._2)
            val seg = sorted.map(_._4).mkString(" | ")
            val md = java.security.MessageDigest.getInstance("MD5")
              .digest(seg.getBytes(java.nio.charset.StandardCharsets.UTF_8))
              .map("%02x".format(_)).mkString
            Iterator(TokenizeVerdict(id, sorted.length.toLong,
              sorted.map(_._3.toLong).sum, md))
          })
  }
}
