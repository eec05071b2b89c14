package graft.operators

import graft.{Q, Tables}
import graft.functions.topKRows
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Window-function surface (SURVEY.md §2.2 "Window functions") plus the
  * oracled batch twins of the streaming window queries.
  *
  * Determinism rules: rank/dense_rank order by real (tie-prone) keys —
  * their results are functions of key values only; row_number/ntile and
  * frame-based aggregates order by a unique key suffix so both engines see
  * the same row sequence.
  */
object Windows {

  private def dsum(c: String) = sum(col(c).cast("decimal(12,2)")).cast("double")

  /** Frame-parametric gaps-and-islands (re-exported as
    * `graft.api.Graft.gapsIslands`): maximal runs of consecutive `ordCol`
    * integers per `partCol` — (partCol, grp, start, end, n). Classic
    * ordinal-minus-row_number grouping; the distinct and the window both
    * hash on the partition key.
    */
  private[graft] def gapsIslandsOf(df: org.apache.spark.sql.DataFrame,
      partCol: String, ordCol: String): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy(partCol).orderBy(ordCol)
    df.select(col(partCol), col(ordCol)).distinct()
      .withColumn("grp", col(ordCol) - row_number().over(w))
      .groupBy(col(partCol), col("grp"))
      .agg(min(ordCol).as("start"), max(ordCol).as("end"),
        count(lit(1)).as("n"))
  }

  /** Frame-parametric exact sliding median (re-exported as
    * `graft.api.Graft.slidingMedian`): adds a `med` column — the median
    * of `valueCol` over the last `preceding`+1 rows per `partCol`
    * partition, ordered by `ordCols` (pass a unique tie-break). The
    * frame is materialized per row (≤ preceding+1 doubles — state is
    * O(frame), never O(partition)); even counts interpolate as
    * (lo + hi) · 0.5.
    */
  private[graft] def slidingMedianOf(df: org.apache.spark.sql.DataFrame,
      partCol: String, ordCols: Seq[org.apache.spark.sql.Column],
      valueCol: String, preceding: Int): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy(partCol).orderBy(ordCols: _*)
      .rowsBetween(-preceding.toLong, 0)
    df.withColumn("l", sort_array(collect_list(col(valueCol)).over(w)))
      .withColumn("med",
        when(expr("size(l) % 2 = 1"),
          expr("element_at(l, cast((size(l) + 1) div 2 as int))"))
        .otherwise(expr(
          "(element_at(l, cast(size(l) div 2 as int))" +
            " + element_at(l, cast(size(l) div 2 as int) + 1)) * 0.5D")))
      .drop("l")
  }

  val defs: Seq[Q] = Seq(

    Q("win_rank_dense_ntile",
      """SELECT o_custkey, o_orderkey,
        |  rank()       OVER (PARTITION BY o_custkey ORDER BY year(o_orderdate) DESC) AS rnk,
        |  dense_rank() OVER (PARTITION BY o_custkey ORDER BY year(o_orderdate) DESC) AS drnk,
        |  ntile(4)     OVER (PARTITION BY o_custkey
        |                     ORDER BY o_totalprice DESC, o_orderkey) AS quart
        |FROM orders
        |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
      val byYear = Window.partitionBy(col("o_custkey"))
        .orderBy(year(col("o_orderdate")).desc)
      val unique = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.orders(s, d).select(
          col("o_custkey"), col("o_orderkey"),
          rank().over(byYear).as("rnk"),
          dense_rank().over(byYear).as("drnk"),
          ntile(4).over(unique).as("quart"))
        .orderBy("o_custkey", "o_orderkey")
    },

    // Top-N per group: the canonical "top-2 orders per customer" — one
    // shuffle on the partition key; at scale AQE handles skewed customers.
    Q("win_row_number_topn",
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 2
        |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
      topKRows(Tables.orders(s, d)
          .select("o_custkey", "o_orderkey", "o_totalprice"),
          Seq("o_custkey"), "o_totalprice", "o_orderkey", 2, "rn")
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "o_orderkey")
    },

    // Day-over-day delta of daily order totals (lag/lead).
    Q("win_lag_lead",
      """SELECT d, total,
        |  lag(total)  OVER (ORDER BY d) AS prev_total,
        |  lead(total) OVER (ORDER BY d) AS next_total
        |FROM (
        |  SELECT date_trunc('day', o_orderdate) AS d,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |  FROM orders GROUP BY 1)
        |ORDER BY d""".stripMargin) { (s, d) =>
      // TIMESTAMP (not DATE) output: engines agree on timestamp binary
      // form; DATE pandas/arrow readbacks differ.
      val daily = Tables.orders(s, d)
        .groupBy(date_trunc("day", col("o_orderdate")).as("d"))
        .agg(dsum("o_totalprice").as("total"))
      val w = Window.orderBy(col("d"))
      daily.select(col("d"), col("total"),
          lag(col("total"), 1).over(w).as("prev_total"),
          lead(col("total"), 1).over(w).as("next_total"))
        .orderBy("d")
    },

    // Running sum, ROWS frame (needs unique ordering for determinism).
    Q("win_frame_rows",
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS running_total
        |FROM orders
        |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d).select(
          col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice").cast("decimal(12,2)")).over(w)
            .cast("double").as("running_total"))
        .orderBy("o_custkey", "o_orderkey")
    },

    // 30-day moving average per customer, RANGE frame over a day ordinal.
    // sum and count computed separately, divided as doubles — determinism
    // holds because both are exact (decimal sum / long count).
    Q("win_frame_range",
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER w AS DOUBLE)
        |    / count(*) OVER w AS moving_avg
        |FROM (SELECT *, date_diff('day', DATE '1995-01-01',
        |                          CAST(o_orderdate AS DATE)) AS day_ord
        |      FROM orders)
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY day_ord
        |             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
      val base = Tables.orders(s, d)
        .withColumn("day_ord",
          datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date")))
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("day_ord"))
        .rangeBetween(-30, Window.currentRow)
      base.select(
          col("o_custkey"), col("o_orderkey"),
          (sum(col("o_totalprice").cast("decimal(12,2)")).over(w).cast("double")
            / count(lit(1)).over(w)).as("moving_avg"))
        .orderBy("o_custkey", "o_orderkey")
    },

    // Distribution ranks: percent_rank/cume_dist over a unique total
    // order (the o_orderkey tiebreak makes every row its own peer group,
    // so both functions are exact integer ratios — bit-identical doubles
    // across engines, emitted UNROUNDED; a round(6) here was the
    // half-boundary trap whenever a dyadic rank ratio, e.g. 1/128,
    // landed exactly on the 6-dp boundary).
    Q("win_percent_cume",
      """SELECT o_orderpriority, o_orderkey,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_orderpriority"), col("o_orderkey"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
        .orderBy("o_orderpriority", "o_orderkey")
    },

    // ---- Batch twins of the streaming windows (SURVEY §2.2 Streaming) ----

    // Tumbling 1-hour window = date_trunc group-by in batch.
    Q("win_tumbling_batch",
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS win_start, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY win_start, event_type""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("win_start"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum("value").as("sum_value"))
        .orderBy("win_start", "event_type")
    },

    // Sliding 1-hour/15-min window: each event lands in 4 covering windows —
    // batch twin generates the 4 starts per event and unnests.
    Q("win_sliding_batch",
      """SELECT win_start, event_type, count(*) AS n FROM (
        |  SELECT unnest(generate_series(
        |      time_bucket(INTERVAL 15 MINUTE, CAST(ts AS TIMESTAMP)) - INTERVAL 45 MINUTE,
        |      time_bucket(INTERVAL 15 MINUTE, CAST(ts AS TIMESTAMP)),
        |      INTERVAL 15 MINUTE)) AS win_start,
        |    event_type
        |  FROM events)
        |GROUP BY 1, 2
        |ORDER BY win_start, event_type""".stripMargin) { (s, d) =>
      // Spark's window() generator emits the 4 covering epoch-aligned
      // 15-min-slide windows per event; the oracle generates the same
      // starts via time_bucket + generate_series.
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("win_start"), col("event_type"), col("n"))
        .orderBy("win_start", "event_type")
    },

    // Session windows (30-min gap) per user: gaps-and-islands — the exact
    // algorithm DuckDB runs in the oracle, and the batch twin of
    // session_window() in streaming.
    Q("win_session_batch",
      """SELECT user_id, session_id, count(*) AS n_events,
        |  min(ts2) AS session_start, max(ts2) AS session_end
        |FROM (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts2,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM (
        |    SELECT user_id, ts,
        |      CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |             OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |                > INTERVAL 30 MINUTE
        |           THEN 1 ELSE 0 END AS new_session
        |    FROM events))
        |GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin) { (s, d) =>
      val byTs = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      val cum = Window.partitionBy(col("user_id")).orderBy(col("ts"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        // Gap compared in MICROSECONDS (unix_micros) — cast-to-long floors
        // to whole seconds and diverges from the oracle's exact INTERVAL
        // compare on sub-second timestamps (ADVICE r1).
        .withColumn("new_session",
          when(lag(col("ts"), 1).over(byTs).isNull ||
               unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(byTs))
                 > 30L * 60L * 1000000L, 1).otherwise(0))
        .withColumn("session_id", sum(col("new_session")).over(cum).cast("long"))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"))
        .orderBy("user_id", "session_id")
    },

    // Batch twin of streaming dropDuplicates.
    Q("dedup_exact_batch",
      """SELECT event_id, user_id, event_type FROM (
        |  SELECT event_id, user_id, event_type,
        |    row_number() OVER (PARTITION BY event_id ORDER BY ts, user_id) AS rn
        |  FROM events)
        |WHERE rn = 1
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("event_id"))
        .orderBy(col("ts").asc, col("user_id").asc)
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select("event_id", "user_id", "event_type")
        .orderBy("event_id")
    },

    // Relative-position analytics: cume_dist and percent_rank are exact
    // ratios of tie-aware counts — k/n in IEEE double is bit-identical
    // across engines, no rounding needed.
    Q("win_cume_dist",
      """SELECT l_orderkey, l_linenumber, l_returnflag,
        |  cume_dist() OVER w AS cd,
        |  percent_rank() OVER w AS pr
        |FROM lineitem WHERE l_orderkey < 1000
        |WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity)
        |ORDER BY l_returnflag, l_quantity, l_orderkey, l_linenumber"""
        .stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("l_quantity"))
      Tables.lineitem(s, d)
        .where(col("l_orderkey") < 1000)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          cume_dist().over(w).as("cd"),
          percent_rank().over(w).as("pr"),
          col("l_quantity"))
        .orderBy("l_returnflag", "l_quantity", "l_orderkey", "l_linenumber")
        .drop("l_quantity")
    },

    // Distinct counting over a window partition: Spark rejects
    // COUNT(DISTINCT) OVER outright — size(collect_set() OVER) is the
    // engine's equivalent (whole-partition frame), matched to DuckDB's
    // native COUNT(DISTINCT) OVER.
    Q("win_count_distinct",
      """SELECT o_custkey, o_orderkey,
        |  CAST(count(DISTINCT o_orderpriority) OVER (
        |    PARTITION BY o_custkey) AS BIGINT) AS n_prios
        |FROM orders WHERE o_custkey < 500
        |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
      Tables.orders(s, d)
        .where(col("o_custkey") < 500)
        .select(col("o_custkey"), col("o_orderkey"),
          size(collect_set(col("o_orderpriority")).over(w))
            .cast("long").as("n_prios"))
        .orderBy("o_custkey", "o_orderkey")
    },

    // Time-interval RANGE frame: a true event-time sliding window per row
    // (last 10 minutes per user), distinct from the numeric-offset RANGE
    // of win_frame_range. RANGE peers are tie-aware on both engines; the
    // sum is decimal-exact so per-frame accumulation order is irrelevant.
    Q("win_time_range_frame",
      """SELECT event_id,
        |  count(*) OVER w AS n_10m,
        |  CAST(sum(CAST(value AS DECIMAL(14,2))) OVER w AS DOUBLE) AS sv_10m
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |  RANGE BETWEEN INTERVAL 10 MINUTE PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      Tables.events(s, d).createOrReplaceTempView("events_trf")
      s.sql("""SELECT event_id,
          count(*) OVER w AS n_10m,
          CAST(sum(CAST(value AS DECIMAL(14,2))) OVER w AS DOUBLE) AS sv_10m
        FROM events_trf
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
          RANGE BETWEEN INTERVAL 10 MINUTES PRECEDING AND CURRENT ROW)
        ORDER BY event_id""")
    },

    // Gaps-and-islands: maximal runs of CONSECUTIVE active minutes per
    // user via the classic ordinal-minus-row_number grouping — the
    // sessionization dual that keys on value adjacency, not time gaps
    // (those are win_session_batch / stream_session_window). Minute
    // ordinals are integers on both engines (the ns-timestamp trap never
    // surfaces). Two shuffles: the (user, minute) distinct and the
    // per-user window — at scale pre-partitioning by user collapses them
    // to one.
    Q("win_gaps_islands",
      """SELECT user_id, min(m) AS start_min, max(m) AS end_min,
        |  count(*) AS n_minutes
        |FROM (
        |  SELECT user_id, m,
        |    m - row_number() OVER (PARTITION BY user_id ORDER BY m) AS grp
        |  FROM (
        |    SELECT DISTINCT user_id,
        |      CAST(epoch(date_trunc('minute', ts)) AS BIGINT) // 60 AS m
        |    FROM events))
        |GROUP BY user_id, grp
        |ORDER BY user_id, start_min""".stripMargin) { (s, d) =>
      gapsIslandsOf(
          Tables.events(s, d).select(col("user_id"),
            expr("unix_timestamp(date_trunc('minute', ts)) div 60").as("m")),
          "user_id", "m")
        .select(col("user_id"), col("start").as("start_min"),
          col("end").as("end_min"), col("n").as("n_minutes"))
        .orderBy("user_id", "start_min")
    },

    // Exact sliding median (7-row frame) per series — the robust-smoothing
    // twin of the mean-based win_frame_rows. Spark has no median window
    // function; the frame is materialized with collect_list over ROWS
    // 6 PRECEDING..CURRENT (bounded: ≤7 doubles per row, so state is
    // O(frame), never O(partition)) and the median is an explicit sorted
    // pick. The even-count interpolation is written with the IDENTICAL
    // expression — (lo + hi) * 0.5 — on both engines rather than each
    // engine's built-in median (DuckDB's quantile_cont interpolates as
    // lo + (hi−lo)·0.5, a DIFFERENT op order that differs in the last
    // ulp), so the doubles hash-match bit-exactly. One series-keyed
    // shuffle; ordering carries the unique event_id tie-break.
    Q("win_sliding_median",
      """WITH seq AS (
        |  SELECT event_type, epoch_us(ts) AS tus, event_id, value
        |  FROM events),
        |win AS (
        |  SELECT event_type, tus, event_id,
        |    list_sort(list(value) OVER (
        |      PARTITION BY event_type ORDER BY tus, event_id
        |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS l
        |  FROM seq)
        |SELECT event_type, event_id,
        |  CASE WHEN len(l) % 2 = 1 THEN l[(len(l) + 1) // 2]
        |       ELSE (l[len(l) // 2] + l[len(l) // 2 + 1]) * 0.5
        |  END AS med
        |FROM win ORDER BY event_type, event_id""".stripMargin) { (s, d) =>
      slidingMedianOf(
          Tables.events(s, d)
            .select(col("event_type"), unix_micros(col("ts")).as("tus"),
              col("event_id"), col("value")),
          "event_type", Seq(col("tus"), col("event_id")), "value", 6)
        .select(col("event_type"), col("event_id"), col("med"))
        .orderBy("event_type", "event_id")
    },
  )
}
