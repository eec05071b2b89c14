package graft.operators

import graft.{Q, Tables}
import graft.functions._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The join surface (SURVEY.md §2.2 "Joins"): every Spark join strategy,
  * each pinned via hints so the physical plan is deterministic under test
  * (asserted in PlanSpec).
  *
  * Scale notes per query in comments: which side broadcasts, where the
  * shuffle lands, and why the plan survives 100×.
  */
object Joins {

  val defs: Seq[Q] = Seq(

    // Small build side (part is ~1/30 of lineitem): broadcast hash join —
    // no shuffle of the big side at any scale where part fits in memory.
    Q("join_broadcast_inner",
      """SELECT l_orderkey, l_linenumber, p.p_name, p.p_brand
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      val l = Tables.lineitem(s, d)
      val p = Tables.part(s, d)
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"), "inner")
        .select(l("l_orderkey"), l("l_linenumber"), p("p_name"), p("p_brand"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // Shuffled hash join: both sides shuffle on the key, build the smaller.
    // Preferred over sort-merge when one side is much smaller per key and
    // sorting 100 TB is the bottleneck.
    Q("join_shuffle_hash",
      """SELECT o_orderkey, c.c_name, c.c_mktsegment, o.o_totalprice
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d).hint("shuffle_hash")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .select(o("o_orderkey"), c("c_name"), c("c_mktsegment"), o("o_totalprice"))
        .orderBy("o_orderkey")
    },

    // Large ⋈ large: sort-merge — both sides shuffle+sort on the key;
    // the default robust plan for two 100 TB fact tables.
    Q("join_sort_merge",
      """SELECT l.l_orderkey, l.l_linenumber, o.o_orderstatus, o.o_totalprice
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      val l = Tables.lineitem(s, d)
      val o = Tables.orders(s, d).hint("merge")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .select(l("l_orderkey"), l("l_linenumber"), o("o_orderstatus"), o("o_totalprice"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    Q("join_left_outer",
      """SELECT c.c_custkey, o.o_orderkey, o.o_orderstatus
        |FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        |ORDER BY c_custkey, o_orderkey NULLS FIRST""".stripMargin) { (s, d) =>
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      c.join(o, o("o_custkey") === c("c_custkey"), "left_outer")
        .select(c("c_custkey"), o("o_orderkey"), o("o_orderstatus"))
        .orderBy(col("c_custkey").asc, col("o_orderkey").asc_nulls_first)
    },

    // Full outer of two per-nation aggregates (some nations have customers
    // but no suppliers and vice versa at small sf).
    Q("join_full_outer",
      """SELECT cn.nk AS c_nk, sn.nk AS s_nk, cn.n_cust, sn.n_supp
        |FROM (SELECT c_nationkey AS nk, count(*) AS n_cust
        |      FROM customer GROUP BY 1) cn
        |FULL OUTER JOIN
        |     (SELECT s_nationkey AS nk, count(*) AS n_supp
        |      FROM supplier GROUP BY 1) sn
        |ON cn.nk = sn.nk
        |ORDER BY c_nk NULLS FIRST, s_nk NULLS FIRST""".stripMargin) { (s, d) =>
      val cn = Tables.customer(s, d).groupBy(col("c_nationkey").as("nk"))
        .agg(count("*").as("n_cust"))
      val sn = Tables.supplier(s, d).groupBy(col("s_nationkey").as("nk"))
        .agg(count("*").as("n_supp"))
      cn.join(sn, cn("nk") === sn("nk"), "full_outer")
        .select(cn("nk").as("c_nk"), sn("nk").as("s_nk"),
          col("n_cust"), col("n_supp"))
        .orderBy(col("c_nk").asc_nulls_first, col("s_nk").asc_nulls_first)
    },

    // EXISTS: semi join never materializes right columns — at scale the
    // right side reduces to a distinct-key broadcast or shuffled semi.
    Q("join_left_semi",
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      c.join(o, o("o_custkey") === c("c_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    Q("join_left_anti",
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      c.join(o, o("o_custkey") === c("c_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // Pure theta (non-equi) join: nested loop with the tiny side broadcast.
    // Only valid at scale when one side is provably small — supplier here.
    Q("join_theta_nl",
      """SELECT s.s_suppkey, c.c_custkey
        |FROM supplier s JOIN customer c
        |  ON s.s_acctbal > c.c_acctbal AND s.s_acctbal <= c.c_acctbal + 50.0
        |ORDER BY s_suppkey, c_custkey""".stripMargin) { (s, d) =>
      val sup = Tables.supplier(s, d)
      val c = Tables.customer(s, d)
      broadcast(sup).join(c,
          sup("s_acctbal") > c("c_acctbal") &&
          sup("s_acctbal") <= c("c_acctbal") + 50.0)
        .select(sup("s_suppkey"), c("c_custkey"))
        .orderBy("s_suppkey", "c_custkey")
    },

    // Range join: equi key (user_id) + time band — planned as a hash join
    // with the band as a post-filter, which scales (shuffle on user_id);
    // never a cross product.
    Q("join_range_interval",
      """SELECT e1.event_id AS left_id, e2.event_id AS right_id
        |FROM events e1 JOIN events e2
        |  ON e1.user_id = e2.user_id
        | AND e2.ts >= e1.ts AND e2.ts <= e1.ts + INTERVAL 5 MINUTE
        | AND e1.event_id <> e2.event_id
        |ORDER BY left_id, right_id""".stripMargin) { (s, d) =>
      val e1 = Tables.events(s, d).alias("e1")
      val e2 = Tables.events(s, d).alias("e2")
      e1.join(e2,
          col("e1.user_id") === col("e2.user_id") &&
          col("e2.ts") >= col("e1.ts") &&
          col("e2.ts") <= col("e1.ts") + expr("INTERVAL 5 MINUTE") &&
          col("e1.event_id") =!= col("e2.event_id"))
        .select(col("e1.event_id").as("left_id"), col("e2.event_id").as("right_id"))
        .orderBy("left_id", "right_id")
    },

    // As-of join: for each purchase, the latest click of the same user
    // at-or-before its ts. Spark lacks ASOF — emulated scalably with ONE
    // shuffle: union both sides, sort per user by time, carry the last
    // click forward (last_value IGNORE NULLS) — the gaps-and-islands
    // pattern; no per-row subquery, no skewed self-join.
    Q("join_asof",
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY purchase_id, click_id NULLS FIRST""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"),
          lit(0).as("tag"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"),
          lit(1).as("tag"))
      val unioned = clicks.select(col("user_id"), col("ts"), col("tag"),
          col("click_id"), lit(null).cast("long").as("purchase_id"))
        .unionByName(purchases.select(col("user_id"), col("ts"), col("tag"),
          lit(null).cast("long").as("click_id"), col("purchase_id")))
      // clicks sort before purchases at equal ts (tag 0 < 1) ⇒ p.ts >= c.ts
      // inclusive, matching ASOF. Ties between clicks: event_id order ⇒ the
      // carried click is the max event_id at the max ts — DuckDB ASOF picks
      // the max ts too (ties impossible in data: ts unique).
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("tag").asc, col("click_id").asc_nulls_first)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      unioned
        .withColumn("asof_click", last(col("click_id"), ignoreNulls = true).over(w))
        .where(col("tag") === 1)
        .select(col("purchase_id"), col("asof_click").as("click_id"))
        .orderBy(col("purchase_id").asc, col("click_id").asc_nulls_first)
    },

    // Forward as-of: each purchase matched to the EARLIEST click at or
    // after it (the "next event" shape: next price tick, next retry,
    // time-to-next-touch). Same single-sort union trick as the backward
    // join_asof above, with the scan reversed: ts DESC means "last click
    // seen so far" is the nearest FUTURE click; clicks sort before
    // purchases at equal ts (tag 0 < 1) ⇒ p.ts <= c.ts inclusive,
    // matching ASOF. One shuffle on user_id, no join, no per-row probe.
    Q("join_asof_forward",
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts <= c.ts
        |ORDER BY purchase_id, click_id NULLS FIRST""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val unioned = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), lit(0).as("tag"),
          col("event_id").as("click_id"),
          lit(null).cast("long").as("purchase_id"))
        .unionByName(ev.where(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), lit(1).as("tag"),
            lit(null).cast("long").as("click_id"),
            col("event_id").as("purchase_id")))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("tag").asc, col("click_id").asc_nulls_first)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      unioned
        .withColumn("asof_click", last(col("click_id"), ignoreNulls = true).over(w))
        .where(col("tag") === 1)
        .select(col("purchase_id"), col("asof_click").as("click_id"))
        .orderBy(col("purchase_id").asc, col("click_id").asc_nulls_first)
    },

    // Nearest as-of: each purchase matched to the click with the SMALLEST
    // absolute time distance in EITHER direction — the sensor-alignment /
    // log-correlation shape neither directional as-of covers. Both
    // carries (last prior click, first later click) come from windows on
    // the SAME user partitioning — one Exchange, two sorts — then one
    // integer µs comparison picks the nearer side (ties to the prior
    // click; an equal-ts click sorts into the PRECEDING frame via the
    // tag, so its distance is 0). Same no-join union trick at any scale.
    Q("join_asof_nearest",
      """WITH u AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id,
        |    CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS tag
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |c AS (
        |  SELECT *,
        |    last_value(CASE WHEN tag = 0 THEN tus END IGNORE NULLS)
        |      OVER wb AS prev_tus,
        |    last_value(CASE WHEN tag = 0 THEN event_id END IGNORE NULLS)
        |      OVER wb AS prev_id,
        |    first_value(CASE WHEN tag = 0 THEN tus END IGNORE NULLS)
        |      OVER wf AS next_tus,
        |    first_value(CASE WHEN tag = 0 THEN event_id END IGNORE NULLS)
        |      OVER wf AS next_id
        |  FROM u
        |  WINDOW wb AS (PARTITION BY user_id ORDER BY tus, tag, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |       wf AS (PARTITION BY user_id ORDER BY tus, tag, event_id
        |              ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
        |SELECT event_id AS purchase_id,
        |  CASE WHEN next_tus IS NULL OR (prev_tus IS NOT NULL
        |            AND tus - prev_tus <= next_tus - tus)
        |       THEN prev_id ELSE next_id END AS click_id,
        |  CASE WHEN next_tus IS NULL OR (prev_tus IS NOT NULL
        |            AND tus - prev_tus <= next_tus - tus)
        |       THEN tus - prev_tus ELSE next_tus - tus END AS dist_us
        |FROM c WHERE tag = 1
        |ORDER BY purchase_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
        .where(col("event_type").isin("click", "purchase"))
        .select(col("user_id"), unix_micros(col("ts")).as("tus"),
          col("event_id"),
          when(col("event_type") === "click", 0).otherwise(1).as("tag"))
      val ord = Window.partitionBy(col("user_id"))
        .orderBy(col("tus"), col("tag"), col("event_id"))
      val wb = ord.rowsBetween(Window.unboundedPreceding, -1)
      val wf = ord.rowsBetween(1, Window.unboundedFollowing)
      val clickTus = when(col("tag") === 0, col("tus"))
      val clickId = when(col("tag") === 0, col("event_id"))
      val c = ev
        .withColumn("prev_tus", last(clickTus, ignoreNulls = true).over(wb))
        .withColumn("prev_id", last(clickId, ignoreNulls = true).over(wb))
        .withColumn("next_tus", first(clickTus, ignoreNulls = true).over(wf))
        .withColumn("next_id", first(clickId, ignoreNulls = true).over(wf))
        .where(col("tag") === 1)
      val takePrev = col("next_tus").isNull ||
        (col("prev_tus").isNotNull &&
          col("tus") - col("prev_tus") <= col("next_tus") - col("tus"))
      c.select(col("event_id").as("purchase_id"),
          when(takePrev, col("prev_id")).otherwise(col("next_id"))
            .as("click_id"),
          when(takePrev, col("tus") - col("prev_tus"))
            .otherwise(col("next_tus") - col("tus")).as("dist_us"))
        .orderBy("purchase_id")
    },

    // As-of join with a TOLERANCE bound (pandas merge_asof(tolerance=…)):
    // the carried backward match only counts if it is within 1 hour of
    // the probe — staleness-bounded enrichment (a quote older than the
    // bound is no quote). Same union+carry-forward plan as join_asof
    // (ONE user Exchange, no join node); the bound is applied AFTER the
    // carry, as a null-out, so the window stays a plain last().
    Q("join_asof_tolerance",
      """SELECT p.event_id AS purchase_id,
        |  (SELECT max_by(c.event_id, c.ts) FROM events c
        |   WHERE c.event_type = 'click' AND c.user_id = p.user_id
        |     AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR)
        |    AS click_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ORDER BY purchase_id, click_id NULLS FIRST""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), lit(0).as("tag"),
          struct(col("ts").as("cts"), col("event_id").as("cid")).as("c"),
          lit(null).cast("long").as("purchase_id"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), lit(1).as("tag"),
          lit(null).cast("struct<cts:timestamp,cid:bigint>").as("c"),
          col("event_id").as("purchase_id"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("tag").asc, col("c.cid").asc_nulls_first)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      clicks.unionByName(purchases)
        .withColumn("lastc", last(col("c"), ignoreNulls = true).over(w))
        .where(col("tag") === 1)
        .select(col("purchase_id"),
          when(col("lastc.cts") >= col("ts") - expr("INTERVAL 1 HOUR"),
            col("lastc.cid")).as("click_id"))
        .orderBy(col("purchase_id").asc, col("click_id").asc_nulls_first)
    },

    // k-NN join: 5 probe vectors × store, exact top-3 per probe.
    // Scale path: probes broadcast; store streams; per-probe heaps via
    // window rank on (probe, score) — shuffle is k×probes rows only after
    // partial TakeOrdered per partition under AQE.
    Q("join_knn_topk",
      """SELECT probe_id, rnk, vec_id, round(score, 6) AS score FROM (
        |  SELECT p.vec_id AS probe_id, e.vec_id AS vec_id,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                           CAST(p.embedding AS DOUBLE[])) AS score,
        |    row_number() OVER (
        |      PARTITION BY p.vec_id
        |      ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                 CAST(p.embedding AS DOUBLE[])) DESC, e.vec_id) AS rnk
        |  FROM embeddings e, embeddings p
        |  WHERE p.vec_id < 5 AND e.vec_id <> p.vec_id)
        |WHERE rnk <= 3
        |ORDER BY probe_id, rnk""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      val p = Tables.embeddings(s, d).where(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe"))
      val scored = e.crossJoin(broadcast(p))
        .where(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          cosine_sim(col("embedding"), col("probe")).as("score"))
      topKRows(scored, Seq("probe_id"), "score", "vec_id", 3, "rnk")
        .select(col("probe_id"), col("rnk"), col("vec_id"),
          round(col("score"), 6).as("score"))
        .orderBy("probe_id", "rnk")
    },

    // LATERAL correlated subquery (top-2 customers per nation): the
    // dependent-join surface — Spark's analyzer decorrelates the LIMIT'd
    // lateral into a ranked window join, the plan a 100 TB run wants
    // anyway (no per-outer-row re-execution).
    Q("join_lateral_topn",
      """SELECT n_name, c_name, c_acctbal
        |FROM nation n, LATERAL (
        |  SELECT c_name, c_acctbal FROM customer c
        |  WHERE c.c_nationkey = n.n_nationkey
        |  ORDER BY c_acctbal DESC, c_name LIMIT 2) t
        |ORDER BY n_name, c_acctbal DESC, c_name""".stripMargin) { (s, d) =>
      Tables.nation(s, d).createOrReplaceTempView("nation")
      Tables.customer(s, d).createOrReplaceTempView("customer")
      s.sql("""SELECT n_name, c_name, c_acctbal
        FROM nation n, LATERAL (
          SELECT c_name, c_acctbal FROM customer c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_name LIMIT 2) t
        ORDER BY n_name, c_acctbal DESC, c_name""")
    },

    // Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): NULL keys match
    // each other instead of vanishing. Still a hash join — the null-safe
    // operator IS an equi-join key for Spark's planner, so this stays a
    // shuffle/broadcast hash join at scale, not a nested loop.
    Q("join_null_safe",
      """SELECT a.k AS k, a.n1 AS n1, b.n2 AS n2
        |FROM (SELECT nullif(o_orderstatus, 'F') AS k, count(*) AS n1
        |      FROM orders GROUP BY 1) a
        |JOIN (SELECT nullif(l_linestatus, 'F') AS k, count(*) AS n2
        |      FROM lineitem GROUP BY 1) b
        |  ON a.k IS NOT DISTINCT FROM b.k
        |ORDER BY k NULLS FIRST""".stripMargin) { (s, d) =>
      val a = Tables.orders(s, d)
        .groupBy(expr("nullif(o_orderstatus, 'F')").as("k"))
        .agg(count(lit(1)).as("n1"))
      val b = Tables.lineitem(s, d)
        .groupBy(expr("nullif(l_linestatus, 'F')").as("bk"))
        .agg(count(lit(1)).as("n2"))
      a.join(b, col("k") <=> col("bk"))
        .select(col("k"), col("n1"), col("n2"))
        .orderBy(col("k").asc_nulls_first)
    },
  )
}
