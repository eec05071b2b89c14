package graft.operators

import graft.{Pin, Q, Tables}
import graft.Harness.withConfs
import graft.functions.topKRows
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operator surface (SURVEY.md §2.2 "Streaming").
  *
  * Each query EXECUTES a real streaming job (file/memory/rate source →
  * stateful transform → parquet run directory, AvailableNow trigger,
  * through `Streams.drain`) and returns that directory read back, so the
  * driver's gate exercises genuine incremental execution and no result is
  * held on the driver. Where one AvailableNow pass over the fixture is
  * semantically equal to the batch query (complete-mode windows, dedup
  * keys, final running counts, stream-stream inner join), the result is
  * ORACLED against the same DuckDB SQL as its batch twin; multi-batch
  * watermark behavior (late-data drop) is sketch-free but algorithmically
  * pinned in StreamingSpec plus the no-oracle `stream_late_data` demo
  * below.
  */
object Streaming {

  /** Typed event row for stateful APIs. */
  case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  case class UserCount(user_id: Long, running_n: Long)

  /** Running max(value) per event_type on the transformWithState API
    * (Spark 4's arbitrary-state surface; requires the RocksDB provider).
    */
  class MaxValueProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, Ev, (String, Double)] {
    @transient private var mx: org.apache.spark.sql.streaming.ValueState[Double] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      mx = getHandle.getValueState[Double]("mx",
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[Ev],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(String, Double)] = {
      val prev = if (mx.exists()) mx.get() else Double.NegativeInfinity
      val m = rows.foldLeft(prev)((a, e) => math.max(a, e.value))
      mx.update(m)
      Iterator((key, m))
    }
  }

  /** One remembered event in [[RecencyProcessor]]'s ListState: event-time
    * extent in microseconds plus the id for a total order.
    */
  case class EvRef(tsUs: Long, event_id: Long)
  case class RecencyOut(user_id: Long, n_seen: Long, last3: String,
      type_counts: String, snap_ms: Long, snap_seq: Long)

  /** Per-user recency profile on transformWithState, exercising the state
    * variables the other processors don't (VERDICT r13): a `ListState`
    * holds the K most-recent events (trimmed IN STATE, so state is O(K)
    * per user, never O(rows)), a `MapState` holds per-event-type counts
    * (point lookups + per-key updates — the shape a large per-user
    * profile needs, since a ValueState map would rewrite the whole blob
    * per row), and BOTH carry a processing-time TTL: a user silent for
    * `ttl` drops out of the store entirely, which is how a 100 TB
    * deployment bounds state for ever-growing key domains. Emits the
    * running (n_seen, last-K, counts) snapshot per batch, stamped with
    * the batch's processing time (`snap_ms`) plus a per-key batch
    * counter (`snap_seq`, no TTL, breaking same-millisecond batch
    * ties): that stamp pair, not n_seen, is the final-snapshot pick
    * key — n_seen (the sum of SURVIVING map
    * counts) can decrease across batches under partial TTL expiry
    * (ListState TTL re-arms on every put of the whole list, MapState
    * TTL per map key, so the two expire independently), while the
    * batch timestamp is monotonic regardless of what expired.
    */
  class RecencyProcessor(k: Int, ttl: java.time.Duration)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Ev, RecencyOut] {
    @transient private var recent:
      org.apache.spark.sql.streaming.ListState[EvRef] = _
    @transient private var counts:
      org.apache.spark.sql.streaming.MapState[String, Long] = _
    @transient private var seq:
      org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      val ttlConf = org.apache.spark.sql.streaming.TTLConfig(ttl)
      recent = getHandle.getListState[EvRef]("recent",
        org.apache.spark.sql.Encoders.product[EvRef], ttlConf)
      counts = getHandle.getMapState[String, Long]("counts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong, ttlConf)
      // snap_seq tie-break state: snap_ms alone is ms-granularity, so
      // two micro-batches finishing within the same millisecond would
      // tie the final-snapshot max_by pick; a per-key batch counter
      // makes (snap_ms, snap_seq) a strict order across batches. Same
      // TTL as the profile state (unbounded key domains must expire
      // WHOLLY — a no-TTL counter would grow forever): seq re-arms on
      // every batch the key appears in, so it can only expire after
      // the key is idle ≥ ttl, and the next snapshot's snap_ms is then
      // ≥ ttl (≥ 1 ms) beyond every pre-expiry snapshot — a same-
      // millisecond tie across an expiry gap is impossible, so the
      // post-reset counter never has to beat a pre-expiry one.
      seq = getHandle.getValueState[Long]("seq",
        org.apache.spark.sql.Encoders.scalaLong, ttlConf)
    }
    private def tsUs(t: java.sql.Timestamp): Long =
      math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[RecencyOut] = {
      val rs = rows.toSeq
      rs.groupBy(_.event_type).foreach { case (t, es) =>
        val cur = if (counts.containsKey(t)) counts.getValue(t) else 0L
        counts.updateValue(t, cur + es.size)
      }
      val prev = if (recent.exists()) recent.get().toSeq else Nil
      val top = (prev ++ rs.map(e => EvRef(tsUs(e.ts), e.event_id)))
        .sortBy(r => (-r.tsUs, -r.event_id)).take(k)
      recent.put(top.toArray)
      val snap = counts.iterator().toSeq.sortBy(_._1)
      val sq = (if (seq.exists()) seq.get() else 0L) + 1L
      seq.update(sq)
      Iterator(RecencyOut(key, snap.map(_._2).sum,
        top.map(_.event_id).mkString(","),
        snap.map { case (t, n) => s"$t:$n" }.mkString(","),
        timerValues.getCurrentProcessingTimeInMs(), sq))
    }
  }

  /** One closed-or-open session interval in [[TimerSessionProcessor]]
    * state: event-time extent in MICROSECONDS (the fixture's ts has
    * sub-millisecond components, so ms arithmetic would split sessions
    * differently from the µs-exact batch oracle) plus the event count.
    */
  case class SessIv(startUs: Long, endUs: Long, n: Long)
  case class SessList(items: List[SessIv])
  case class SessOut(user_id: Long, start_us: Long, end_us: Long,
      n_events: Long)

  /** Event-time TIMER sessionization on transformWithState — the timer
    * path of Spark 4's arbitrary-state API (registerTimer +
    * handleExpiredTimer), which the running-max processor above never
    * exercises. State per user = the interval list of its sessions
    * (inserting a row as a [ts,ts] interval and coalescing on the 30-min
    * gap handles in-watermark late rows that BRIDGE two open sessions);
    * a session emits only from handleExpiredTimer, once the watermark
    * proves its 30-min gap can no longer be re-opened. The emission rule
    * is applied in µs INSIDE the callback (endUs + gap < watermarkUs) so
    * the emitted set is a pure function of the final watermark; the
    * timer expiry itself only has to fire AT OR AFTER that point
    * (ceil-to-ms + 1), never to decide it. Sessions still open at
    * end-of-stream stay in state — exactly the contract a resumed job
    * needs. State is O(open sessions per user), not O(rows).
    */
  class TimerSessionProcessor(gapUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Ev, SessOut] {
    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[SessList] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[SessList]("sessions",
        org.apache.spark.sql.Encoders.product[SessList],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    private def tsUs(t: java.sql.Timestamp): Long =
      math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    private def merged(items: List[SessIv]): List[SessIv] =
      items.sortBy(iv => (iv.startUs, iv.endUs)).foldLeft(List.empty[SessIv]) {
        case (acc @ (h :: t), iv) if iv.startUs - h.endUs <= gapUs =>
          SessIv(h.startUs, math.max(h.endUs, iv.endUs), h.n + iv.n) :: t
        case (acc, iv) => iv :: acc
      }.reverse
    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[SessOut] = {
      val prev = if (st.exists()) st.get().items else Nil
      val all = merged(prev ++ rows.map(e =>
        SessIv(tsUs(e.ts), tsUs(e.ts), 1L)))
      st.update(SessList(all))
      // one timer at the earliest possible closure; re-armed on expiry
      // until every closable session has emitted
      all.headOption.foreach { iv =>
        getHandle.registerTimer(
          math.floorDiv(iv.endUs + gapUs, 1000L) + 2L)
      }
      Iterator.empty
    }
    override def handleExpiredTimer(key: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[SessOut] = {
      val wmUs = timerValues.getCurrentWatermarkInMs() * 1000L
      val items = if (st.exists()) st.get().items else Nil
      val (closed, open) = items.partition(iv => iv.endUs + gapUs < wmUs)
      if (open.isEmpty) st.clear() else st.update(SessList(open))
      open.headOption.foreach { iv =>
        getHandle.registerTimer(
          math.floorDiv(iv.endUs + gapUs, 1000L) + 2L)
      }
      closed.sortBy(_.startUs).iterator
        .map(iv => SessOut(key, iv.startUs, iv.endUs, iv.n))
    }
  }

  /** Merge one micro-batch of events into the (day × type) rollup store —
    * shared by `stream_incremental_rollup` and StreamingSpec's multi-batch
    * proof. `sv` is held as DECIMAL(30,2) in the store so repeated merges
    * stay exact (double accumulation would drift across batches).
    */
  private[graft] def mergeRollupBatch(batch: DataFrame, store: String,
      batchId: Option[Long] = None): Unit = {
    val partial = batch
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("decimal(30,2)").as("sv"))
    // batchId (when the caller runs under a streaming checkpoint) arms
    // the _COMMIT_BATCHID fence in upsertGeneration: a replayed epoch is
    // skipped instead of double-counted — exactly-once on a plain file
    // store (StreamingSpec proves it with a post-merge crash)
    Streams.upsertGeneration(batch.sparkSession, store, batchId) {
      case None => partial
      case Some(cur) => cur.unionByName(partial)
        .groupBy("day", "event_type")
        .agg(sum(col("n")).as("n"),
          sum(col("sv")).cast("decimal(30,2)").as("sv"))
    }
  }

  /** One micro-batch of incremental SCD2 maintenance: rebuild validity
    * intervals ONLY for customers present in the batch (their stored
    * intervals are lossless — valid_from IS the order date — so the base
    * rows reconstruct exactly); untouched customers' rows pass through.
    * Compute per batch is O(touched history + batch), never O(table);
    * the table-sized rewrite below is the copy-on-write granularity of a
    * plain parquet dir — on a real deployment the store is key-bucketed
    * and only touched buckets rewrite (Iceberg/Delta COW per partition).
    * `dropDuplicates` on the business key makes redelivery (at-least-once
    * sources) idempotent.
    */
  private[graft] def mergeScd2Batch(batch: DataFrame, store: String): Unit = {
    val rows = batch.select("o_custkey", "o_orderkey", "o_orderdate")
    Streams.upsertGeneration(batch.sparkSession, store) {
      case None => Corpus.scd2Intervals(
        rows.dropDuplicates("o_custkey", "o_orderkey"))
      case Some(cur) =>
        val keys = rows.select("o_custkey").distinct()
        val untouched = cur.join(broadcast(keys), Seq("o_custkey"), "left_anti")
        val touchedBase = cur
          .join(broadcast(keys), Seq("o_custkey"), "left_semi")
          .select(col("o_custkey"), col("o_orderkey"),
            to_timestamp(col("valid_from"), "yyyy-MM-dd").as("o_orderdate"))
        untouched.unionByName(Corpus.scd2Intervals(
          touchedBase.unionByName(rows)
            .dropDuplicates("o_custkey", "o_orderkey")))
    }
  }

  /** One side of the watermarked `[0, +5 min]` band join on `user_id`
    * that the `stream_stream_*` queries and `ScalingBench`'s state axis
    * run: the events stream cut to `user_id < bound` (the state bound,
    * which the oracles carry too), watermarked 10 minutes, optionally
    * cut to `ts <= maxTs − 20 min` (the rows an outer join has decided
    * by end of stream, see `stream_stream_left_outer`), as columns
    * `eid_<side>`, `uid_<side>` and `ts_<side>`.
    */
  private[graft] def bandSide(s: SparkSession, d: String, side: String,
      bound: Int = 100, maxTs: Option[java.sql.Timestamp] = None)
      : DataFrame = {
    val wm = Streams.eventsStream(s, d).where(col("user_id") < bound)
      .withWatermark("ts", "10 minutes")
    maxTs.fold(wm)(m =>
        wm.where(col("ts") <= lit(m) - expr("INTERVAL 20 MINUTES")))
      .select(col("event_id").as(s"eid_$side"),
        col("user_id").as(s"uid_$side"), col("ts").as(s"ts_$side"))
  }

  /** The band join of an `_a` and a `_b` side ([[bandSide]]'s columns):
    * same user, distinct events, `ts_b` within `[ts_a, ts_a + 5 min]`.
    */
  private[graft] def bandJoin(l: DataFrame, r: DataFrame,
      joinType: String = "inner"): DataFrame =
    l.join(r,
      col("uid_a") === col("uid_b") && col("eid_a") =!= col("eid_b") &&
        col("ts_b") >= col("ts_a") &&
        col("ts_b") <= col("ts_a") + expr("INTERVAL 5 MINUTES"),
      joinType)

  @annotation.nowarn("cat=deprecation")
  private def onceTrigger = org.apache.spark.sql.streaming.Trigger.Once()

  val defs: Seq[Q] = Seq(

    // Tumbling 1-hour windows (A-layer window upgrade): the complete-mode
    // result table after one AvailableNow pass == the batch group-by.
    Q("stream_tumbling_agg",
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS win_start, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY win_start, event_type""".stripMargin) { (s, d) =>
      val agg = Streams.eventsStream(s, d)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))
        .select(col("window.start").as("win_start"), col("event_type"),
          col("n"), col("sum_value"))
      Streams.runToTable(agg, "complete").orderBy("win_start", "event_type")
    },

    // Incrementally-maintained daily OHLC bars — the streaming twin of
    // ts_downsample_ohlc. open/close are min_by/max_by over the
    // (ts, event_id) struct: ORDER-FREE declarative aggregates that merge
    // per micro-batch partial states (a row_number formulation cannot run
    // incrementally — it needs the whole window's rows). Oracle keeps the
    // batch rn formulation: the incremental MV must equal the batch
    // recompute bar-for-bar.
    Q("stream_ohlc_daily",
      """WITH r AS (
        |  SELECT event_type,
        |    date_trunc('day', CAST(ts AS TIMESTAMP)) AS win_start,
        |    ts, event_id, value,
        |    row_number() OVER (
        |      PARTITION BY event_type, date_trunc('day', CAST(ts AS TIMESTAMP))
        |      ORDER BY ts, event_id) AS rn_a,
        |    row_number() OVER (
        |      PARTITION BY event_type, date_trunc('day', CAST(ts AS TIMESTAMP))
        |      ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM events)
        |SELECT event_type, win_start,
        |  max(CASE WHEN rn_a = 1 THEN value END) AS open,
        |  max(value) AS high,
        |  min(value) AS low,
        |  max(CASE WHEN rn_d = 1 THEN value END) AS close,
        |  count(*) AS n
        |FROM r
        |GROUP BY event_type, win_start
        |ORDER BY event_type, win_start""".stripMargin) { (s, d) =>
      val key = struct(col("ts"), col("event_id"))
      val agg = Streams.eventsStream(s, d)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(min_by(col("value"), key).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max_by(col("value"), key).as("close"),
          count(lit(1)).as("n"))
        .select(col("event_type"), col("window.start").as("win_start"),
          col("open"), col("high"), col("low"), col("close"), col("n"))
      Streams.runToTable(agg, "complete").orderBy("event_type", "win_start")
    },

    // Streaming DAILY ACTIVE USERS as an HLL sketch MV — the streaming
    // twin of events_active_users_sketch and the shape a production
    // metrics store actually runs: per-day hll_sketch_agg over the
    // event stream, micro-batch partials merging INTO STATE (HLL
    // register state is a per-bucket max — order-independent, so the
    // incremental estimate equals the batch recompute's exactly), the
    // day's estimate re-emitted as the watermark advances. Downstream
    // WAU/MAU are sketch UNIONS over this MV's day rows (the batch
    // query demonstrates the merge); sketch-defined → no SQL oracle,
    // StreamingSpec gates each day against the exact batch distinct
    // within the HLL error bound and cross-checks the batch sketch
    // estimate exactly.
    Q.noOracle("stream_active_users_hll") { (s, d) =>
      val agg = Streams.eventsStream(s, d)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 day"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
        .select(col("window.start").as("day"),
          hll_sketch_estimate(col("sk")).as("dau_est"))
      Streams.runToTable(agg, "complete").orderBy("day")
    },

    // Sliding 1-hour / 15-minute windows.
    Q("stream_sliding_agg",
      """SELECT win_start, event_type, count(*) AS n FROM (
        |  SELECT unnest(generate_series(
        |      time_bucket(INTERVAL 15 MINUTE, CAST(ts AS TIMESTAMP)) - INTERVAL 45 MINUTE,
        |      time_bucket(INTERVAL 15 MINUTE, CAST(ts AS TIMESTAMP)),
        |      INTERVAL 15 MINUTE)) AS win_start,
        |    event_type
        |  FROM events)
        |GROUP BY 1, 2
        |ORDER BY win_start, event_type""".stripMargin) { (s, d) =>
      val agg = Streams.eventsStream(s, d)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("win_start"), col("event_type"), col("n"))
      Streams.runToTable(agg, "complete").orderBy("win_start", "event_type")
    },

    // Session windows with a DYNAMIC per-row gap (the session_window
    // expression form): an error tightens its session's extension to
    // 5 minutes while normal activity keeps 30 — per-event-type
    // inactivity thresholds in ONE stateful op, no pre-split. Spark
    // merges the [ts, ts+gap(row)) intervals; the oracle reproduces the
    // same islands via the cumulative-max-of-previous-ends formulation
    // (an event starts a new session iff it is at or past every prior
    // event's extension, matching the static form's >= split rule).
    Q("stream_session_dynamic_gap",
      """SELECT user_id, session_start, session_end, n_events FROM (
        |  SELECT user_id, min(ts2) AS session_start, max(ts2) AS session_end,
        |         count(*) AS n_events
        |  FROM (
        |    SELECT user_id, ts2,
        |      CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts2
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |        AS sid
        |    FROM (
        |      SELECT user_id, ts2,
        |        CASE WHEN prev_max_end IS NULL OR ts2 >= prev_max_end
        |             THEN 1 ELSE 0 END AS new_s
        |      FROM (
        |        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts2,
        |          max(CAST(ts AS TIMESTAMP) +
        |              CASE WHEN event_type = 'error' THEN INTERVAL 5 MINUTE
        |                   ELSE INTERVAL 30 MINUTE END)
        |            OVER (PARTITION BY user_id ORDER BY ts
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |            AS prev_max_end
        |        FROM events)))
        |  GROUP BY user_id, sid)
        |ORDER BY user_id, session_start""".stripMargin) { (s, d) =>
      val gap = when(col("event_type") === "error", "5 minutes")
        .otherwise("30 minutes")
      val agg = Streams.eventsStream(s, d)
        .withWatermark("ts", "10 minutes")
        .groupBy(session_window(col("ts"), gap), col("user_id"))
        .agg(min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"),
          count(lit(1)).as("n_events"))
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"))
      Streams.runToTable(agg, "complete").orderBy("user_id", "session_start")
    },

    // Chained event-time window aggregations — TWO stateful operators in
    // ONE incremental job (Spark's multiple-stateful-operator support): a
    // 10-minute per-type count whose window column feeds a second 1-hour
    // rollup (`window` applied to the first aggregation's window struct).
    // Chained aggs only run in append mode, so the sink holds exactly the
    // hours CLOSED by the final watermark (wm = max ts − 10 min; an outer
    // hour closes only after every inner bucket in it closed, since inner
    // end <= outer end <= wm) — the oracle applies the same cutoff. At
    // 100 TB this is the two-tier streaming MV pattern: the wide 10-min
    // state is the only pass over raw rows; the hourly tier aggregates
    // 6 rows/key/hour, so adding more tiers costs nothing.
    Q("stream_chained_windows",
      """WITH b AS (
        |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
        |    time_bucket(INTERVAL 10 MINUTE, CAST(ts AS TIMESTAMP)) AS b_start,
        |    event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2, 3)
        |SELECT hour_start, event_type,
        |  CAST(sum(n) AS BIGINT) AS n_events,
        |  count(*) AS n_buckets,
        |  max(n) AS max_bucket
        |FROM b
        |WHERE hour_start + INTERVAL 1 HOUR
        |  <= (SELECT max(CAST(ts AS TIMESTAMP)) FROM events) - INTERVAL 10 MINUTE
        |GROUP BY hour_start, event_type
        |ORDER BY hour_start, event_type""".stripMargin) { (s, d) =>
      val inner = Streams.eventsStream(s, d)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val outer = inner
        .groupBy(window(col("window"), "1 hour"), col("event_type"))
        .agg(sum(col("n")).as("n_events"), count(lit(1)).as("n_buckets"),
          max(col("n")).as("max_bucket"))
        .select(col("window.start").as("hour_start"), col("event_type"),
          col("n_events"), col("n_buckets"), col("max_bucket"))
      Streams.runToTable(outer, "append").orderBy("hour_start", "event_type")
    },

    // Session windows, 30-minute gap. Spark closes a session when the next
    // event is >= gap after the previous — the oracle's gaps-and-islands
    // uses the same >= comparison.
    Q("stream_session_window",
      """SELECT user_id, session_start, session_end, n_events FROM (
        |  SELECT user_id, min(ts2) AS session_start, max(ts2) AS session_end,
        |         count(*) AS n_events
        |  FROM (
        |    SELECT user_id, CAST(ts AS TIMESTAMP) AS ts2,
        |      CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
        |    FROM (
        |      SELECT user_id, ts,
        |        CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |               OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |                  >= INTERVAL 30 MINUTE
        |             THEN 1 ELSE 0 END AS new_s
        |      FROM events))
        |  GROUP BY user_id, sid)
        |ORDER BY user_id, session_start""".stripMargin) { (s, d) =>
      val agg = Streams.eventsStream(s, d)
        .withWatermark("ts", "10 minutes")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"),
          count(lit(1)).as("n_events"))
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"))
      Streams.runToTable(agg, "complete").orderBy("user_id", "session_start")
    },

    // Streaming dedup on the event key within the watermark.
    Q("stream_dedup",
      """SELECT DISTINCT event_id FROM events ORDER BY event_id""".stripMargin) {
      (s, d) =>
      val dd = Streams.eventsStream(s, d)
        .withWatermark("ts", "10 minutes")
        .dropDuplicates("event_id")
        .select("event_id")
      Streams.runToTable(dd, "append").orderBy("event_id")
    },

    // Streaming near-dup dedup: the MinHash signature (identical shingle
    // set ⟺ identical signature) is the state key, so exact and
    // signature-identical near-duplicates are dropped as documents STREAM
    // IN — the incremental front door to the batch MinHash pipeline. The
    // surviving representative per signature is arrival-order dependent,
    // so the declared output is the invariant: the distinct-signature
    // count (DedupSpec pins it to the batch count). No watermark: the
    // signature space is the state bound (= distinct corpus), the honest
    // setting for global dedup; bound by time instead where staleness is
    // acceptable.
    Q.noOracle("stream_minhash_dedup") { (s, d) =>
      import graft.functions.minhash_shingles
      val dd = Streams.documentsStream(s, d)
        .where(size(split(col("text"), " ")) >= 3)
        .select(col("doc_id"),
          xxhash64(minhash_shingles(col("text"), 32, 3)).as("sig_hash"))
        .dropDuplicates("sig_hash")
      Streams.runToTable(dd, "append")
        .agg(count(lit(1)).as("n_unique"))
    },

    // Streaming materialized view: each micro-batch's PARTIAL aggregate
    // (day × type: count + exact decimal sum — both re-mergeable) is
    // merged into a persisted rollup store via the generation protocol
    // every file-backed store shares (Streams.upsertGeneration over
    // Streams.publishGeneration). Merge work is rollup-sized,
    // not raw-sized; the final store is oracled against the batch answer
    // over all events, and StreamingSpec proves the store equals the
    // batch answer after EVERY micro-batch, not just the last.
    Q("stream_incremental_rollup",
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv
        |FROM events GROUP BY 1, 2
        |ORDER BY day, event_type""".stripMargin) { (s, d) =>
      val store = Streams.scratchDir("rollup_mv_")
      Streams.drain(Streams.eventsStream(s, d), "append") { (batch, id) =>
        mergeRollupBatch(batch, store, Some(id))
      }
      Streams.storeRead(s, store)
        .select(col("day"), col("event_type"), col("n"),
          col("sv").cast("double").as("sv"))
        .orderBy("day", "event_type")
    },

    // Streaming SCD2 maintenance: the dimension-history table kept
    // incrementally current as order events stream in — per batch, only
    // TOUCHED customers' intervals are rebuilt (see mergeScd2Batch);
    // after the AvailableNow pass the store hash-matches the batch SCD2
    // oracle. CorpusSpec proves the multi-batch path: incremental ==
    // batch after every batch, with untouched rows carried unchanged.
    Q("stream_scd2_upsert",
      """SELECT o_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
        |  strftime(lead(o_orderdate) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |    '%Y-%m-%d') AS valid_to,
        |  lead(o_orderdate) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |    IS NULL AS is_current
        |FROM orders WHERE o_custkey < 500
        |ORDER BY o_custkey, valid_from, o_orderkey""".stripMargin) { (s, d) =>
      val store = Streams.scratchDir("scd2_mv_")
      Streams.drain(Streams.ordersStream(s, d).where(col("o_custkey") < 500),
        "append") { (batch, _) => mergeScd2Batch(batch, store) }
      Streams.storeRead(s, store)
        .orderBy("o_custkey", "valid_from", "o_orderkey")
    },

    // Streaming top-k materialized view: the stream maintains the
    // incremental (hour × type) counts (that's the streaming job); the
    // top-2-per-window rank runs at QUERY time over the tiny MV — the
    // production split for streaming top-k (rank is not incrementally
    // maintainable in complete mode; the MV is, and it is window-count
    // sized, so the query-time rank is O(windows), not O(events)).
    Q("stream_window_topk_mv",
      """SELECT win_start, event_type, n FROM (
        |  SELECT win_start, event_type, n,
        |    row_number() OVER (PARTITION BY win_start
        |                       ORDER BY n DESC, event_type) AS rn
        |  FROM (
        |    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS win_start,
        |      event_type, count(*) AS n
        |    FROM events GROUP BY 1, 2))
        |WHERE rn <= 2
        |ORDER BY win_start, event_type""".stripMargin) { (s, d) =>
      val agg = Streams.eventsStream(s, d)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("win_start"), col("event_type"),
          col("n"))
      val mv = Streams.runToTable(agg, "complete")
      topKRows(mv, Seq("win_start"), "n", "event_type", 2, "rn")
        .select("win_start", "event_type", "n")
        .orderBy("win_start", "event_type")
    },

    // Multi-sink routing (side outputs): each micro-batch is persisted
    // ONCE and split by a gate predicate into a valid store and a
    // quarantine store — the streaming dq-gate / dead-letter pattern
    // (the batch-side rules are `dq_constraint_check`). Each batch writes
    // to a DETERMINISTIC per-batchId subpath with overwrite — a micro-
    // batch replayed after a partial write rewrites its own subdir
    // instead of double-appending, so the routing is idempotent under
    // retry, not just on a failure-free pass. The result re-reads both
    // stores (recursive lookup over the batch subdirs) and is oracled
    // against the equivalent batch split, proving no row is lost or
    // double-routed across batches.
    Q("stream_route_split",
      """SELECT sink, n, sv FROM (
        |  SELECT 'quarantine' AS sink, count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sv
        |  FROM events WHERE value IS NULL OR value < 100
        |  UNION ALL
        |  SELECT 'valid', count(*),
        |    CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE)
        |  FROM events WHERE value >= 100)
        |ORDER BY sink""".stripMargin) { (s, d) =>
      val base = Streams.scratchDir("route_")
      val (okDir, badDir) = (s"$base/valid", s"$base/quarantine")
      val gate = col("value") >= 100
      Streams.drain(Streams.eventsStream(s, d), "append") { (batch, batchId) =>
        // one source pass per batch: cache, then two filtered writes,
        // each into its own batch subdir (overwrite = retry-idempotent)
        Pin.scope {
          Pin.cache(batch)
          batch.where(gate).write.mode("overwrite")
            .parquet(s"$okDir/batch_$batchId")
          batch.where(!coalesce(gate, lit(false))).write.mode("overwrite")
            .parquet(s"$badDir/batch_$batchId")
        }
      }
      // a route that received zero rows across all batches has no
      // directory — report (n=0, sv=null) instead of failing the read
      val schema = Tables.events(s, d).schema
      def aggOf(dir: String, name: String) = {
        val rows =
          if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir)))
            s.read.schema(schema).option("recursiveFileLookup", "true")
              .parquet(dir)
          else s.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
        rows.agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(14,2)")).cast("double").as("sv"))
          .select(lit(name).as("sink"), col("n"), col("sv"))
      }
      aggOf(badDir, "quarantine").unionAll(aggOf(okDir, "valid"))
        .orderBy("sink")
    },

    // Stream-static join: the stream enriched against a broadcast batch
    // dimension (STATELESS — no watermark, no join state; the static
    // side is re-broadcast per micro-batch). The canonical streaming
    // enrichment shape at 100 TB: dim fits broadcast, fact streams.
    Q("stream_static_join",
      """SELECT c.c_mktsegment, count(*) AS n,
        |  CAST(sum(CAST(e.value AS DECIMAL(14,2))) AS DOUBLE) AS sv
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY c.c_mktsegment
        |ORDER BY c.c_mktsegment""".stripMargin) { (s, d) =>
      val dim = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))
      val joined = Streams.eventsStream(s, d)
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(14,2)")).cast("double").as("sv"))
      Streams.runToTable(joined, "complete")
        .orderBy("c_mktsegment")
    },

    // Arbitrary stateful processing: running per-user count via
    // flatMapGroupsWithState; after the AvailableNow pass the last update
    // per user equals the batch count.
    Q("stream_stateful_running",
      """SELECT user_id, count(*) AS running_n
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val evs = Streams.eventsStream(s, d)
        .select("event_id", "ts", "user_id", "event_type", "value").as[Ev]
      val updates = evs.groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Update(),
          GroupStateTimeout.NoTimeout()) {
          (uid: Long, rows: Iterator[Ev], state: GroupState[Long]) =>
            val n = state.getOption.getOrElse(0L) + rows.size
            state.update(n)
            Iterator(UserCount(uid, n))
        }
      val out = Streams.runToTable(updates.toDF(), "update")
      // last update per user = final running count
      out.groupBy("user_id").agg(max("running_n").as("running_n"))
        .orderBy("user_id")
    },

    // transformWithState (Spark 4 arbitrary-state API, RocksDB-backed):
    // running max(value) per event_type; the final update per key equals
    // the batch max.
    Q("stream_transform_with_state",
      """SELECT event_type, max(value) AS mx
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, d) =>
      import s.implicits._
      withConfs(s, "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
        val evs = Streams.eventsStream(s, d)
          .select("event_id", "ts", "user_id", "event_type", "value").as[Ev]
        val updates = evs.groupByKey(_.event_type)
          .transformWithState(new MaxValueProcessor,
            org.apache.spark.sql.streaming.TimeMode.None(),
            OutputMode.Update())
          .toDF("event_type", "mx")
        // 2 state partitions: each is a RocksDB instance, and there are
        // only a handful of event_type keys
        val out = Streams.runToTable(updates, "update", statePartitions = 2)
        out.groupBy("event_type").agg(max("mx").as("mx"))
          .orderBy("event_type")
      }
    },

    // transformWithState LIST + MAP state under a processing-time TTL
    // (see RecencyProcessor): last-3 events and per-type counts per user.
    // The 1-hour TTL is the state-bounding contract — nothing expires
    // within one AvailableNow pass, so the batch twin is exact; the
    // multi-batch EXPIRY behavior (a silent user's state vanishing) is
    // pinned in StreamingSpec with a sub-second TTL, where wall time can
    // provably exceed it.
    Q("stream_state_recency_ttl",
      """WITH e AS (SELECT * FROM events WHERE user_id < 50),
        |ranked AS (
        |  SELECT user_id, event_id, row_number() OVER (
        |    PARTITION BY user_id
        |    ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM e),
        |l AS (SELECT user_id,
        |    string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY rn) AS last3
        |  FROM ranked WHERE rn <= 3 GROUP BY user_id),
        |c AS (SELECT user_id,
        |    string_agg(event_type || ':' || CAST(cnt AS VARCHAR), ','
        |      ORDER BY event_type) AS type_counts,
        |    CAST(sum(cnt) AS BIGINT) AS n_seen
        |  FROM (SELECT user_id, event_type, count(*) AS cnt
        |        FROM e GROUP BY 1, 2)
        |  GROUP BY user_id)
        |SELECT c.user_id, c.n_seen, l.last3, c.type_counts
        |FROM c JOIN l ON c.user_id = l.user_id
        |ORDER BY c.user_id""".stripMargin) { (s, d) =>
      import s.implicits._
      withConfs(s, "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
        val evs = Streams.eventsStream(s, d).where(col("user_id") < 50)
          .select("event_id", "ts", "user_id", "event_type", "value").as[Ev]
        val updates = evs.groupByKey(_.user_id)
          .transformWithState(
            new RecencyProcessor(3, java.time.Duration.ofHours(1)),
            org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
            OutputMode.Update())
          .toDF("user_id", "n_seen", "last3", "type_counts", "snap_ms",
            "snap_seq")
        // Trigger.Once, not AvailableNow: a processing-time TTL keeps
        // shouldRunAnotherBatch true forever, so AvailableNow never
        // terminates (measured: thousands of no-data micro-batches); Once
        // runs exactly one batch over all available data and stops
        val out = Streams.runToTable(updates, "update", statePartitions = 2,
          trigger = onceTrigger)
        // the (batch timestamp, per-key batch counter) stamp — not
        // n_seen — picks the final snapshot: snap_ms increases across
        // batches even under partial TTL expiry (where n_seen can
        // decrease) and snap_seq breaks same-millisecond batch ties
        val pick = struct(col("snap_ms"), col("snap_seq"))
        out.groupBy("user_id")
          .agg(max_by(col("n_seen"), pick).as("n_seen"),
            max_by(col("last3"), pick).as("last3"),
            max_by(col("type_counts"), pick).as("type_counts"))
          .orderBy("user_id")
      }
    },

    // Stream-stream inner join: events ⋈ events on user_id within a
    // [0, +5 min] band, both sides watermarked.
    // (user_id < 100 bounds join state so the bench measures the operator,
    // not state-store bulk; semantics are unchanged — the predicate is in
    // the oracle too and pushes into both scans.)
    Q("stream_stream_join",
      """SELECT a.event_id AS eid_a, b.event_id AS eid_b
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id AND a.event_id <> b.event_id
        | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 5 MINUTE
        |WHERE a.user_id < 100 AND b.user_id < 100
        |ORDER BY eid_a, eid_b""".stripMargin) { (s, d) =>
      val j = bandJoin(bandSide(s, d, "a"), bandSide(s, d, "b"))
        .select("eid_a", "eid_b")
      Streams.runToTable(j, "append", statePartitions = 4)
        .orderBy("eid_a", "eid_b")
    },

    // Stream-stream LEFT OUTER join — the shape click/impression
    // correlation actually needs: matched pairs emit immediately, and an
    // UNMATCHED left row is emitted null-padded only once the right-side
    // watermark proves no match can still arrive (state-expiry emission,
    // the path the inner join never exercises; StreamingSpec pins the
    // multi-batch timing). Oracle parity needs every retained left row's
    // outcome to be decided by end-of-stream: a left row is provably
    // unmatched only once watermark (= max ts − 10 min) passes ts_a +
    // 5 min (the band end), so the left side keeps rows with
    // ts_a ≤ max(ts) − 20 min — same cutoff in the DuckDB twin, computed
    // with interval arithmetic (never epoch-millis math, which drops
    // sub-millisecond µs) from a one-row driver-side max.
    Q("stream_stream_left_outer",
      """SELECT a.event_id AS eid_a, b.event_id AS eid_b
        |FROM (SELECT * FROM events WHERE user_id < 100
        |        AND ts <= (SELECT max(ts) FROM events) - INTERVAL 20 MINUTE) a
        |LEFT JOIN (SELECT * FROM events WHERE user_id < 100) b
        |  ON a.user_id = b.user_id AND a.event_id <> b.event_id
        | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 5 MINUTE
        |ORDER BY eid_a, eid_b NULLS FIRST""".stripMargin) { (s, d) =>
      val maxTs = Some(
        Tables.events(s, d).agg(max(col("ts"))).head().getTimestamp(0))
      val j = bandJoin(bandSide(s, d, "a", maxTs = maxTs),
          bandSide(s, d, "b"), "left_outer")
        .select("eid_a", "eid_b")
      Streams.runToTable(j, "append", statePartitions = 4)
        .orderBy(col("eid_a"), col("eid_b").asc_nulls_first)
    },

    // FULL OUTER completes the watermarked stream-stream join family
    // (inner above, left outer above): BOTH sides' unmatched rows emit
    // null-padded on state expiry. Here both inputs take the
    // max(ts) − 20 min cutoff — a left row is decided once the watermark
    // passes ts_a + 5 min (band end), a right row once it passes ts_b,
    // and both bounds sit inside the final watermark (max − 10 min) for
    // every retained row, so the emitted set hash-matches the batch FULL
    // JOIN of the same cutoff subsets.
    Q("stream_stream_full_outer",
      """SELECT a.event_id AS eid_a, b.event_id AS eid_b
        |FROM (SELECT * FROM events WHERE user_id < 100
        |        AND ts <= (SELECT max(ts) FROM events) - INTERVAL 20 MINUTE) a
        |FULL JOIN (SELECT * FROM events WHERE user_id < 100
        |        AND ts <= (SELECT max(ts) FROM events) - INTERVAL 20 MINUTE) b
        |  ON a.user_id = b.user_id AND a.event_id <> b.event_id
        | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 5 MINUTE
        |ORDER BY eid_a NULLS FIRST, eid_b NULLS FIRST""".stripMargin) {
      (s, d) =>
      val maxTs = Some(
        Tables.events(s, d).agg(max(col("ts"))).head().getTimestamp(0))
      val j = bandJoin(bandSide(s, d, "a", maxTs = maxTs),
          bandSide(s, d, "b", maxTs = maxTs), "full_outer")
        .select("eid_a", "eid_b")
      Streams.runToTable(j, "append", statePartitions = 4)
        .orderBy(col("eid_a").asc_nulls_first, col("eid_b").asc_nulls_first)
    },

    // State-store TELEMETRY for the state-heaviest shape in the
    // inventory (the watermarked stream-stream full outer join above):
    // per-operator state rows and bytes from StateOperatorProgress —
    // the operability signal a 100 TB streaming deployment watches for
    // unbounded state growth (watermark stuck, key-space explosion)
    // long before an executor OOMs. Output: one row per stateful
    // operator with end-of-run state rows, cumulative updates/removals,
    // and whether the store reported non-zero memory — the row/removal
    // counts are fixture-deterministic (watermark expiry on a fixed
    // event set), memory bytes are runtime-dependent and surfaced only
    // as a boolean. No SQL oracle (progress telemetry has no batch
    // twin); StreamingSpec gates non-zero metrics for this exact job.
    Q.noOracle("stream_state_metrics") { (s, d) =>
      import s.implicits._
      val maxTs = Some(
        Tables.events(s, d).agg(max(col("ts"))).head().getTimestamp(0))
      val j = bandJoin(bandSide(s, d, "a", maxTs = maxTs),
          bandSide(s, d, "b", maxTs = maxTs), "full_outer")
        .select("eid_a", "eid_b")
      // the rows are not the output; the batches run for their state
      val progress = Streams.withStatePartitions(s, 4) {
        Streams.drain(j, "append") { (batch, _) =>
          batch.write.format("noop").mode("overwrite").save()
        }
      }
      val withState = progress.filter(_.stateOperators.nonEmpty)
      val last = withState.lastOption.map(_.stateOperators.toSeq)
        .getOrElse(Seq.empty)
      val updates = withState.flatMap(_.stateOperators.toSeq)
        .groupBy(_.operatorName)
        .view.mapValues(ops =>
          (ops.map(_.numRowsUpdated).sum, ops.map(_.numRowsRemoved).sum))
        .toMap
      last.map { op =>
        val (upd, rem) = updates.getOrElse(op.operatorName, (0L, 0L))
        (op.operatorName, op.numRowsTotal, upd, rem,
          op.memoryUsedBytes > 0L)
      }.toDF("operator", "state_rows", "rows_updated", "rows_removed",
          "memory_nonzero")
        .orderBy("operator")
    },

    // LEFT SEMI completes the watermarked stream-stream join family
    // (inner/left-outer/full-outer above): a left row emits AT MOST ONCE,
    // and only when a band-matching right row exists — the "did this
    // impression ever convert?" shape, with no right-side columns carried.
    // Spark emits the left row as soon as its first match arrives and
    // marks its state matched (never re-emitting on later matches), so a
    // single AvailableNow pass over the fixture equals the batch EXISTS;
    // the at-most-once + only-on-match timing is pinned multi-batch in
    // StreamingSpec.
    Q("stream_stream_left_semi",
      """SELECT a.event_id AS eid_a
        |FROM events a
        |WHERE a.user_id < 100 AND EXISTS (
        |  SELECT 1 FROM events b
        |  WHERE b.user_id = a.user_id AND b.user_id < 100
        |    AND b.event_id <> a.event_id
        |    AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 5 MINUTE)
        |ORDER BY eid_a""".stripMargin) { (s, d) =>
      val j = bandJoin(bandSide(s, d, "a"), bandSide(s, d, "b"), "left_semi")
        .select("eid_a")
      Streams.runToTable(j, "append", statePartitions = 4)
        .orderBy("eid_a")
    },

    // dropDuplicatesWithinWatermark (Spark 4's bounded-state dedup
    // guarantee): unlike dropDuplicates, whose key state NEVER expires (at
    // 100 TB that state grows without bound), state here is released once
    // the watermark passes a key's event time + delay — so a key MAY
    // legitimately re-emit after the horizon. The whole fixture arrives in
    // one micro-batch (single-file source, watermark still at epoch), so
    // the emitted set equals batch DISTINCT and is oracled; the
    // post-horizon recurrence semantics — the part that differs from
    // dropDuplicates — are pinned multi-batch in StreamingSpec.
    Q("stream_dedup_within_wm",
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
      val deduped = Streams.eventsStream(s, d)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select("user_id", "event_type")
      Streams.runToTable(deduped, "append")
        .orderBy("user_id", "event_type")
    },

    // Event-time TIMERS on transformWithState ([[TimerSessionProcessor]]):
    // per-user 30-min-gap sessions emitted from handleExpiredTimer once
    // the watermark proves the gap can't re-open — the third arbitrary-
    // state surface (after flatMapGroupsWithState and the timer-less
    // transformWithState above), and the one a 100 TB sessionizer
    // actually runs on: state holds interval summaries (not rows), late
    // in-watermark rows can bridge sessions, and closure is
    // watermark-driven, not batch-driven. ORACLED against the batch
    // gaps-and-islands twin restricted to closeable sessions: emitted ⟺
    // end + 30 min < final watermark (= ms-floored max ts − 10 min),
    // exact integer-µs arithmetic in both engines. Session extents are
    // emitted as epoch-µs longs, sidestepping every ns/µs cast hazard.
    Q("stream_timer_sessions",
      """WITH s AS (
        |  SELECT user_id, session_id, count(*) AS n_events,
        |    min(epoch_us(CAST(ts AS TIMESTAMP))) AS start_us,
        |    max(epoch_us(CAST(ts AS TIMESTAMP))) AS end_us
        |  FROM (
        |    SELECT user_id, ts,
        |      CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |        AS session_id
        |    FROM (
        |      SELECT user_id, ts,
        |        CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |               IS NULL
        |             OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |                > INTERVAL 30 MINUTE
        |             THEN 1 ELSE 0 END AS new_session
        |      FROM events))
        |  GROUP BY user_id, session_id),
        |wm AS (
        |  SELECT (CAST(epoch_ms(CAST(max(ts) AS TIMESTAMP)) AS BIGINT)
        |          - 600000) * 1000 AS wm_us
        |  FROM events)
        |SELECT user_id, start_us, end_us, n_events
        |FROM s, wm
        |WHERE end_us + 1800000000 < wm_us
        |ORDER BY user_id, start_us""".stripMargin) { (s, d) =>
      import s.implicits._
      withConfs(s, "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
        val evs = Streams.eventsStream(s, d)
          .withWatermark("ts", "10 minutes")
          .select("event_id", "ts", "user_id", "event_type", "value").as[Ev]
        val sessions = evs.groupByKey(_.user_id)
          .transformWithState(
            new TimerSessionProcessor(gapUs = 30L * 60L * 1000000L),
            org.apache.spark.sql.streaming.TimeMode.EventTime(),
            OutputMode.Update())
          .toDF()
        val out = Streams.runToTable(sessions, "update", statePartitions = 2)
        out.orderBy("user_id", "start_us")
      }
    },

    // The backfill seam (lambda-architecture reality): a batch backfill
    // below a cutoff plus a streaming tail that re-reads an OVERLAP
    // window before the seam (at-least-once delivery means the tail
    // can't start exactly at the cutoff), reconciled by key dedup at
    // read. The oracle is cutoff-free — the union must reconstruct the
    // table EXACTLY, proving the seam neither drops nor duplicates. At
    // 100 TB the overlap window is the retention of the upstream queue
    // and the dedup is the store's MERGE key.
    Q("stream_backfill_union",
      """SELECT event_id, user_id FROM events
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      val mm = Tables.events(s, d)
        .agg(min(col("ts")), max(col("ts"))).head()
      val cutMs = mm.getTimestamp(0).getTime +
        (mm.getTimestamp(1).getTime - mm.getTimestamp(0).getTime) / 2
      val cut = new java.sql.Timestamp(cutMs)
      val overlap = new java.sql.Timestamp(cutMs - 24L * 3600 * 1000)
      val tail = Streams.runToTable(Streams.eventsStream(s, d)
        .where(col("ts") >= lit(overlap)) // tail + 1-day overlap
        .select("event_id", "user_id"), "append")
      Tables.events(s, d).where(col("ts") < lit(cut))
        .select("event_id", "user_id")
        .unionByName(tail)
        .dropDuplicates("event_id")
        .orderBy("event_id")
    },

    // State-store introspection (Spark 4 state data source): the
    // checkpointed state of a stateful streaming job read back as a
    // batch DataFrame — the operational tool for state-skew debugging,
    // state audits, and checkpoint forensics WITHOUT stopping the job
    // (at 100 TB the reader is a batch job over the checkpoint dir; a
    // running query keeps appending). ORACLED end-to-end: after the
    // AvailableNow pass, the per-user (count, decimal sum) agg STATE
    // must equal the batch group-by — the state is the answer.
    Q("stream_state_reader",
      """SELECT user_id, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sv
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) {
      (s, d) =>
      val ck = Streams.scratchDir("ssread_")
      val agg = Streams.eventsStream(s, d)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(14,2)")).as("sv"))
      // the state is the answer: each batch must execute for its state
      // to commit, and its rows go nowhere
      Streams.withStatePartitions(s, 4) {
        Streams.drain(agg, "complete", checkpoint = Some(ck)) { (batch, _) =>
          batch.write.format("noop").mode("overwrite").save()
        }
      }
      s.read.format("statestore").option("path", ck).load()
        .select(col("key.user_id").as("user_id"),
          col("value.count").as("n"),
          col("value.sum").cast("double").as("sv"))
        .orderBy("user_id")
    },

    // Streaming ANN index INGEST — maintenance for the persisted IVF
    // index: each micro-batch of new vectors is routed to its nearest
    // persisted centroid (broadcast k-row table, one combiner shuffle)
    // and appended to the cell-partitioned store, so the index absorbs
    // new data without a rebuild and every persisted-index query
    // (ann_ivf_persisted / ann_ivfpq_topk / ann_ivf_graph_topk) can
    // prune to the same cells over the grown store. At 100 TB this is
    // the write path: routing cost is O(batch × k) map-side; the store
    // stays partition-aligned with the readers. Output is the per-cell
    // (count, id-checksum) census; no SQL oracle (cells are
    // seeded-k-means-defined) — ApiSpec gates the ingested assignment
    // against the batch nearest-centroid recompute exactly.
    Q.noOracle("stream_ann_ingest") { (s, d) =>
      val dir = Ann.ivfIndex(s, d)
      val cents = Ann.flatLayer(s, dir, Streams.storeDataDir(dir), "centroids")
      val ingest = Streams.scratchDir("ann_ingest_")
      Streams.drain(Streams.embeddingsStream(s, d), "append",
          checkpoint = Some(s"$ingest/chk")) { (batch, _) =>
        Ann.assignToCentroids(batch, cents)
          .write.mode("append").partitionBy("cell")
          .parquet(s"$ingest/data")
      }
      Ann.readLayer(s, s"$ingest/data")
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("vec_id")).as("sum_ids"))
        .orderBy("cell")
    },

    // Streaming index maintenance, DELETE direction — stream_ann_ingest
    // in reverse and ann_ivf_delete_compact's hot path made literally
    // streaming: each micro-batch of delete ids routes to its cells by
    // ONE semi-join (Ann.ivfDelete) and appends cell-partitioned
    // tombstones; data files never rewrite in the hot path (that is
    // compaction's amortized job), and readers see the live view
    // (tombstones anti-joined partition-aligned) immediately. Scratch
    // index per run — the shared memoized index stays immutable for the
    // sibling queries. Output: per-cell live/tombstoned census with an
    // id-checksum; no SQL oracle (cells are seeded-k-means-defined) —
    // ApiSpec gates the census against the batch recompute.
    Q.noOracle("stream_ann_delete") { (s, d) =>
      val dir = Streams.scratchDir("ann_del_")
      Ann.writeIndexLayers(s, dir,
        Ann.kmeansCells(graft.Tables.embeddings(s, d), k = 4, iters = 3),
        withGraph = false, withPq = false)
      Streams.drain(Streams.embeddingsStream(s, d)
          .where(col("vec_id") % 5 === 0).select("vec_id"), "append",
          checkpoint = Some(Streams.scratchDir("ann_delchk_"))) {
        (batch, _) => Ann.ivfDelete(s, dir, batch)
      }
      val live = Ann.ivfLiveCells(s, dir)
        .groupBy(col("cell").cast("string").as("cell"))
        .agg(count(lit(1)).as("n_live"),
          sum(col("vec_id")).as("sum_live_ids"))
      // DISTINCT (cell, vec_id) before counting: foreachBatch is
      // at-least-once, so a replayed epoch re-appends its tombstones —
      // the census must count deletes, not deliveries (the same
      // discipline ivfCompact's census applies)
      val tomb = Ann.readLayer(s, s"${Streams.storeDataDir(dir)}/tombstones")
        .select(col("cell").cast("string").as("cell"), col("vec_id"))
        .distinct()
        .groupBy("cell")
        .agg(count(lit(1)).as("n_tombstoned"))
      live.join(tomb, Seq("cell"), "left")
        .na.fill(0L, Seq("n_tombstoned"))
        .select(col("cell"), col("n_live"), col("n_tombstoned"),
          col("sum_live_ids"))
        .orderBy("cell")
    },

    // Late-data drop across micro-batches (algorithm-defined fixture —
    // no SQL oracle): batch 1 sets the watermark; batch 2 delivers one
    // in-order event and one 70-minutes-late event, which is dropped, so
    // the 10:00 window closes at n=2, and the late 09:00 window never
    // appears.
    Q.noOracle("stream_late_data") { (s, _) =>
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      val ms = MemoryStream[(java.sql.Timestamp, Long)]
      def t(hhmm: String) =
        java.sql.Timestamp.valueOf(s"2026-01-01 $hhmm:00")
      val agg = ms.toDF().toDF("ts", "uid")
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "10 minutes"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("win_start"), col("n"))
      // interactive (data is added between batches), so the query is
      // started and stopped here rather than drained
      val out = Streams.scratchDir("late_")
      Streams.withStatePartitions(s, 2) {
        val q = Streams.start(agg) {
          _.outputMode("append").foreachBatch { (batch: DataFrame, _: Long) =>
            batch.write.mode("append").parquet(out)
          }
        }
        try {
          ms.addData((t("10:00"), 1L), (t("10:05"), 1L))
          q.processAllAvailable() // watermark -> 09:55
          ms.addData((t("10:20"), 1L), (t("09:00"), 2L)) // 09:00 is dropped
          q.processAllAvailable() // watermark -> 10:10, closes 10:00 window
        } finally q.stop()
      }
      s.read.schema(agg.schema).parquet(out).orderBy("win_start")
    },

    // Rate source smoke: deterministic rate-micro-batch, windowless agg.
    Q.noOracle("source_rate_stream") { (s, _) =>
      val rate = s.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", "100")
        .option("startTimestamp", "0")
        .load()
        .select(col("value"))
      val agg = rate.agg(count(lit(1)).as("n"), sum(col("value")).as("s"))
      Streams.runToTable(agg, "complete")
    },

    // Layer-A end-to-end parity (A1–A13 with file/memory transports):
    // ingest knowledge lines into the parquet vector store, then answer a
    // question — deterministic embed + extractive mock generator
    // (SURVEY.md §7.4). Includes the README's freshness scenario fact
    // ("The capital of France is Paris.", README.md:241-267).
    Q.noOracle("stream_kafka_rag_parity") { (s, _) =>
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      val tmp = Streams.scratchDir("rag_")
      val store = s"$tmp/store"; val out = s"$tmp/answers"

      val knowledge = MemoryStream[String]
      knowledge.addData(
        "The capital of France is Paris.",
        "Spark plans queries with the Catalyst optimizer.",
        "Flink processes unbounded streams with low latency.")
      Streams.ingest(knowledge.toDF().toDF("line"), store)

      val questions = MemoryStream[String]
      questions.addData("What is the capital of France?")
      Streams.answer(questions.toDF().toDF("line"), store, out, k = 2)

      Tables.readMerged(s, out, out).select("question", "answer")
        .orderBy("question")
    },
  )
}
