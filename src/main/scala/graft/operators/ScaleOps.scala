package graft.operators

import graft.{Pin, Q, Tables}
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-technique operators: the three remaining 100 TB patterns not yet
  * exercised by the inventory — static partition pruning, dynamic
  * partition pruning (DPP), and salted two-phase aggregation for skewed
  * keys. Each is oracled (the technique must not change the answer) and
  * plan-asserted in PlanSpec.
  */
object ScaleOps {

  /** events re-written partitioned by event_type, once per (JVM, sfDir) —
    * the layout that turns a key predicate into directory pruning.
    */
  private[graft] def partitionedEvents(s: SparkSession, d: String): String =
    Streams.layoutDir("events_part", d) { dir =>
      Streams.fileWriter(Tables.events(s, d)).mode("overwrite")
        .partitionBy("event_type").parquet(s"$dir/fact")
      // a parquet-backed dim: a filter over a file scan survives into the
      // optimized plan, which the DPP rule requires (an inline VALUES dim
      // constant-folds to a pre-filtered LocalRelation — no Filter, no DPP)
      import s.implicits._
      Streams.fileWriter(Seq(("click", 1), ("purchase", 2), ("view", 2),
          ("error", 3), ("signup", 3)).toDF("et", "w"))
        .mode("overwrite").parquet(s"$dir/dim")
    }

  /** The join_skew_aqe shape over explicit inputs, so PlanSpec can run it
    * against a multi-file lineitem layout (see the query's comment).
    */
  private[graft] def skewJoinShape(l0: DataFrame, o0: DataFrame): DataFrame = {
    val l = l0.select(
      when(col("l_orderkey") % 2 === 0, lit(1L))
        .otherwise(col("l_orderkey")).as("k"),
      col("l_extendedprice"))
    val o = o0.hint("merge")
    l.join(o, col("k") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast("decimal(12,2)")).cast("double")
          .as("price"))
      .orderBy("o_orderpriority")
  }

  /** The join_bloom_runtime shape: fact joins a selectively-filtered dim
    * on a non-partition key. With the bloom confs active, Catalyst's
    * InjectRuntimeFilter builds a Bloom filter from the filtered dim keys
    * and pushes `might_contain` into the fact scan — rows that cannot
    * join are dropped BEFORE the shuffle. At 100 TB this is the runtime
    * analogue of DPP for non-partition keys: shuffle volume scales with
    * the dim's selectivity, not the fact's size.
    */
  private[graft] def bloomJoinShape(l: DataFrame, o: DataFrame): DataFrame =
    l.join(o.where(col("o_orderpriority") === "1-URGENT"),
        l("l_orderkey") === o("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast("decimal(12,2)")).cast("double")
          .as("rev"))
      .orderBy("l_returnflag")

  /** Run `body` with runtime Bloom-filter injection enabled (and broadcast
    * disabled so the join actually shuffles — at test scale every dim is
    * broadcast-able, which would bypass the feature being exercised);
    * always restores the previous session confs.
    */
  private[graft] def withBloomConfs[T](s: SparkSession)(body: => T): T =
    graft.Harness.withConfs(s,
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")(body)

  /** The un-hinted CBO program shared by `stats_cbo_join_reorder` and
    * PlanSpec: six cached temp views with ANALYZE'd statistics, CBO +
    * cost-based join reorder scoped on (or off, for the plan diff), and a
    * Q5-shaped join written with NO hints in a deliberately fact-first
    * FROM order. Every other inventory join order is hint- or DSL-pinned;
    * this is the path an un-hinted user query actually takes at 100×,
    * where `ANALYZE TABLE` row counts — not authoring order — pick the
    * join tree. Returns the LAZY frame: callers materialize (or read the
    * optimized plan) inside [[withCboViews]] so optimization runs while
    * the flags and view stats are still in place.
    */
  private[graft] val cboSql: String =
    """SELECT n.n_name,
      |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
      |           * (1 - CAST(l.l_discount AS DECIMAL(12,2)))) AS DOUBLE)
      |    AS revenue
      |FROM cbo_lineitem l, cbo_orders o, cbo_customer c, cbo_supplier s,
      |     cbo_nation n, cbo_region r
      |WHERE l.l_orderkey = o.o_orderkey
      |  AND o.o_custkey = c.c_custkey
      |  AND l.l_suppkey = s.s_suppkey
      |  AND c.c_nationkey = s.s_nationkey
      |  AND s.s_nationkey = n.n_nationkey
      |  AND n.n_regionkey = r.r_regionkey
      |  AND r.r_name = 'EUROPE'
      |  AND o.o_orderdate >= TIMESTAMP '1995-01-01'
      |  AND o.o_orderdate < TIMESTAMP '1997-01-01'
      |GROUP BY n.n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  private[graft] def withCboViews[T](s: SparkSession, d: String,
      reorder: Boolean)(body: => T): T = {
    val tables = Seq("region", "nation", "customer", "orders",
      "lineitem", "supplier")
    try {
      tables.foreach { t =>
        // ANALYZE refuses temp views (EXPECT_PERMANENT_VIEW_NOT_TEMP), so
        // register EXTERNAL catalog tables over the fixture parquet — no
        // data copy, stats land in the session catalog, exactly what a
        // real deployment's ANALYZE does
        s.sql(s"DROP TABLE IF EXISTS cbo_$t")
        s.sql(s"CREATE TABLE cbo_$t USING parquet LOCATION '$d/$t.parquet'")
        s.sql(s"ANALYZE TABLE cbo_$t COMPUTE STATISTICS")
      }
      graft.Harness.withConfs(s,
        "spark.sql.cbo.enabled" -> reorder.toString,
        "spark.sql.cbo.joinReorder.enabled" -> reorder.toString)(body)
    } finally tables.foreach(t => s.sql(s"DROP TABLE IF EXISTS cbo_$t"))
  }

  val defs: Seq[Q] = Seq(

    // Stats-driven (CBO) join planning — the only inventory join whose
    // tree is chosen by ANALYZE'd row counts instead of hints or DSL
    // authoring order (see cboSql). The 5-row answer materializes eagerly
    // (localCheckpoint) INSIDE the scoped flags, the ann_rewrite_topk
    // discipline: optimization happens at execution, so returning a lazy
    // frame would optimize after the flags were restored. PlanSpec
    // asserts the stats-driven join tree actually differs from the
    // stats-less one.
    Q("stats_cbo_join_reorder",
      """SELECT n.n_name,
        |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
        |           * (1 - CAST(l.l_discount AS DECIMAL(12,2)))) AS DOUBLE)
        |    AS revenue
        |FROM lineitem l, orders o, customer c, supplier s, nation n, region r
        |WHERE l.l_orderkey = o.o_orderkey
        |  AND o.o_custkey = c.c_custkey
        |  AND l.l_suppkey = s.s_suppkey
        |  AND c.c_nationkey = s.s_nationkey
        |  AND s.s_nationkey = n.n_nationkey
        |  AND n.n_regionkey = r.r_regionkey
        |  AND r.r_name = 'EUROPE'
        |  AND o.o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o.o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n.n_name
        |ORDER BY revenue DESC, n_name""".stripMargin) { (s, d) =>
      withCboViews(s, d, reorder = true) {
        Pin.now(s.sql(cboSql))
      }
    },

    // Runtime Bloom-filter join (see bloomJoinShape). The injection fires
    // at optimization time, so the k-row result is materialized eagerly
    // under the confs (same discipline as ann_rewrite_topk); the confs
    // never leak. PlanSpec asserts might_contain lands in the fact scan.
    Q("join_bloom_runtime",
      """SELECT l.l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
        |    AS rev
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderpriority = '1-URGENT'
        |GROUP BY l.l_returnflag
        |ORDER BY l.l_returnflag""".stripMargin) { (s, d) =>
      withBloomConfs(s) {
        Pin.now(bloomJoinShape(Tables.lineitem(s, d), Tables.orders(s, d)))
      }
    },

    // Static partition pruning: the IN-list reaches the directory listing
    // (PartitionFilters in the scan, PlanSpec-asserted) — only 2 of 5
    // partitions are read.
    Q("scan_partition_pruned",
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sv
        |FROM events
        |WHERE event_type IN ('click', 'view')
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      Tables.readParquet(s, s"${partitionedEvents(s, d)}/fact")
        .where(col("event_type").isin("click", "view"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(12,2)")).cast("double").as("sv"))
        .orderBy("event_type")
    },

    // Dynamic partition pruning: the partition filter is only known after
    // the dim side is evaluated at runtime — the classic star-schema scan
    // reducer.
    Q("join_dpp_partitioned",
      """SELECT e.event_type, count(*) AS n
        |FROM events e
        |JOIN (VALUES ('click', 1), ('purchase', 2), ('view', 2),
        |      ('error', 3), ('signup', 3)) AS dim(et, w)
        |  ON e.event_type = dim.et
        |WHERE dim.w = 1
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin) { (s, d) =>
      val base = partitionedEvents(s, d)
      val dim = Tables.readParquet(s, s"$base/dim").where(col("w") === 1)
      Tables.readParquet(s, s"$base/fact")
        .join(dim, col("event_type") === col("et"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"))
        .orderBy("event_type")
    },

    // AQE skew-join: half of lineitem is remapped onto one hot key — the
    // classic hot-partition join that stalls a 1000-executor cluster on
    // one straggler task. With spark.sql.adaptive.skewJoin enabled the
    // runtime splits the hot partition into advisory-sized chunks along
    // map-block boundaries. Two measured traps shape this query and its
    // PlanSpec assertion:
    //   (1) AQE detects skew in shuffle BYTES — a constant hot key with a
    //       low-cardinality payload compresses to under the 2x-median bar,
    //       so the carried column is l_extendedprice (high-entropy);
    //   (2) a skewed partition is only splittable if it spans >1 map
    //       block, and the single-row-group fixture parquet yields exactly
    //       one non-empty map task per scan — so PlanSpec drives this same
    //       shape (skewJoinShape) over a multi-file copy, the layout any
    //       real large table has.
    // The split must not change the answer — that equality is the oracle.
    Q("join_skew_aqe",
      """SELECT o.o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
        |    AS price
        |FROM (SELECT CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE l_orderkey END
        |               AS k,
        |             l_extendedprice FROM lineitem) l
        |JOIN orders o ON o.o_orderkey = l.k
        |GROUP BY o.o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      skewJoinShape(Tables.lineitem(s, d), Tables.orders(s, d))
    },

    // MANUAL two-sided salting of the same skewed join — the fallback
    // when AQE can't save you (the dim is too big to broadcast AND the
    // skew sits in the JOIN KEY state itself, e.g. under a sort-merge
    // both sides of the hot key land in one task). Fact side: salt =
    // hash(row) mod S appended to the key, splitting the hot key's rows
    // across S tasks. Dim side: each row REPLICATES S ways (one per
    // salt) via an in-task explode — S× the dim, never the fact. The
    // join key becomes (k, salt): same matches, S-way parallel hot key.
    // The split must not change the answer — that equality is the
    // oracle (same result SQL as join_skew_aqe's plain join).
    Q("join_salted_manual",
      """SELECT o.o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
        |    AS price
        |FROM (SELECT CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE l_orderkey END
        |               AS k,
        |             l_extendedprice FROM lineitem) l
        |JOIN orders o ON o.o_orderkey = l.k
        |GROUP BY o.o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      val salts = 8
      val l = Tables.lineitem(s, d).select(
          when(col("l_orderkey") % 2 === 0, lit(1L))
            .otherwise(col("l_orderkey")).as("k"),
          col("l_extendedprice"))
        .withColumn("salt",
          pmod(xxhash64(col("l_extendedprice"), monotonically_increasing_id()),
            lit(salts)).cast("int"))
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"))
        .withColumn("salt", explode(lit((0 until salts).toArray)))
        .hint("merge") // force the shuffle join the salting exists to fix
      l.join(o, col("k") === col("o_orderkey") && l("salt") === o("salt"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(12,2)")).cast("double")
            .as("price"))
        .orderBy("o_orderpriority")
    },

    // TPC-H Q3-shaped flagship: 3-table join + aggregate + top-k with NO
    // hints — Catalyst/AQE pick the join order and strategies. The
    // filtered customer dim broadcasts down the chain and the top-10
    // plans as TakeOrderedAndProject (PlanSpec-asserted) — the optimizer
    // behavior a 100 TB star query lives or dies on.
    Q("q3_shipping_priority",
      """SELECT l.l_orderkey,
        |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
        |           * (1 - CAST(l.l_discount AS DECIMAL(12,2)))) AS DOUBLE)
        |    AS revenue,
        |  o.o_orderdate, o.o_orderpriority
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l.l_shipdate > TIMESTAMP '1997-01-01'
        |GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        |ORDER BY revenue DESC, o_orderdate, l_orderkey
        |LIMIT 10""".stripMargin) { (s, d) =>
      val c = Tables.customer(s, d).where(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d)
        .where(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val l = Tables.lineitem(s, d)
        .where(col("l_shipdate") > lit("1997-01-01").cast("timestamp"))
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum(col("l_extendedprice").cast("decimal(12,2)")
            * (lit(1) - col("l_discount").cast("decimal(12,2)")))
          .cast("double").as("revenue"))
        .select(col("l_orderkey"), col("revenue"), col("o_orderdate"),
          col("o_orderpriority"))
        .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
        .limit(10)
    },

    // TPC-H Q5 shape: the 6-way star — region→nation→supplier fold into
    // ONE broadcast dim chain (each step is k rows), while
    // customer⋈orders⋈lineitem shuffles on its keys; the extra
    // c_nationkey = s_nationkey condition rides the broadcast join. At
    // 100 TB the fact-side join order is AQE's call; nothing here pins it.
    Q("q5_local_supplier_volume",
      """SELECT n.n_name,
        |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
        |           * (1 - CAST(l.l_discount AS DECIMAL(12,2)))) AS DOUBLE)
        |    AS revenue
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  AND c.c_nationkey = s.s_nationkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA'
        |  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o.o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n.n_name
        |ORDER BY revenue DESC, n_name""".stripMargin) { (s, d) =>
      val r = Tables.region(s, d).where(col("r_name") === "ASIA")
      val n = Tables.nation(s, d)
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      val sup = Tables.supplier(s, d)
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      val o = Tables.orders(s, d)
        .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      Tables.customer(s, d)
        .join(o, col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("l_extendedprice").cast("decimal(12,2)")
            * (lit(1) - col("l_discount").cast("decimal(12,2)")))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },

    // TPC-H Q10 shape: returned-item revenue per customer over one year —
    // fact-side shuffle joins + one broadcast dim, top-20 by revenue
    // (TakeOrderedAndProject, no global sort at scale).
    Q("q10_returned_items",
      """SELECT c.c_custkey, c.c_name,
        |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
        |           * (1 - CAST(l.l_discount AS DECIMAL(12,2)))) AS DOUBLE)
        |    AS revenue,
        |  c.c_acctbal, n.n_name
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o.o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l.l_returnflag = 'R'
        |GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
        .where(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val l = Tables.lineitem(s, d).where(col("l_returnflag") === "R")
      Tables.customer(s, d)
        .join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("n_name"))
        .agg(sum(col("l_extendedprice").cast("decimal(12,2)")
            * (lit(1) - col("l_discount").cast("decimal(12,2)")))
          .cast("double").as("revenue"))
        .select(col("c_custkey"), col("c_name"), col("revenue"),
          col("c_acctbal"), col("n_name"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },

    // Salted two-phase aggregation: hot grouping keys are split across 16
    // salt buckets (phase 1: map-side-friendly partial agg on (key, salt)),
    // then recombined (phase 2). The answer is identical to the direct
    // group-by — that equality IS the oracle.
    Q("agg_salted_skew",
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val salted = Tables.lineitem(s, d)
        .withColumn("salt", pmod(xxhash64(col("l_orderkey")), lit(16)))
        .groupBy(col("l_returnflag"), col("salt"))
        .agg(count(lit(1)).as("pn"),
          sum(col("l_quantity").cast("decimal(12,2)")).as("pq"))
      salted.groupBy("l_returnflag")
        .agg(sum(col("pn")).as("n"),
          sum(col("pq")).cast("double").as("qty"))
        .orderBy("l_returnflag")
    },

    // TPC-H Q18 (large-volume orders): the HAVING-subquery + 3-way join
    // headline. At scale the inner aggregate is a map-side-combined shuffle
    // on l_orderkey producing a small key set; Spark plans the IN as a
    // left-semi join, so the big lineitem table is never re-shuffled for
    // the outer aggregate beyond the same l_orderkey partitioning.
    Q("q18_large_orders",
      """SELECT c_name, c_custkey, o_orderkey,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
        |FROM customer, orders, lineitem
        |WHERE o_orderkey IN (
        |    SELECT l_orderkey FROM lineitem
        |    GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
        |  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
        |GROUP BY c_name, c_custkey, o_orderkey
        |ORDER BY total_qty DESC, o_orderkey
        |LIMIT 100""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
      val big = li.groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("q"))
        .where(col("q") > 250)
        .select(col("l_orderkey").as("big_ok"))
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
        .join(big, col("o_orderkey") === col("big_ok"), "left_semi")
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"))
        .agg(sum(col("l_quantity").cast("decimal(12,2)"))
          .cast("double").as("total_qty"))
        .orderBy(col("total_qty").desc, col("o_orderkey"))
        .limit(100)
    },

    // TPC-H Q6 (forecasting revenue change): the pure scan-filter-agg
    // headline. Everything pushes to the parquet scan (date range +
    // discount band + quantity as PushedFilters, 3-column ReadSchema);
    // the aggregate is a map-side partial to one row. Decimal-exact
    // product then a final cast keeps both engines bit-identical.
    Q("q6_forecast_revenue",
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |               * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE)
        |         AS revenue,
        |       count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin) {
      (s, d) =>
      Tables.lineitem(s, d)
        .where(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1997-01-01"
          && col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(sum(col("l_extendedprice").cast("decimal(12,2)")
            * col("l_discount").cast("decimal(12,2)"))
          .cast("double").as("revenue"),
          count(lit(1)).as("n"))
    },

    // TPC-H Q14 (promotion effect): month of lineitem joined to the part
    // dim — the dim side broadcasts, the fact side's date filter pushes
    // to the scan, and both sums are decimal-exact before the one double
    // division (exact operands ⇒ bit-identical quotient on both engines).
    Q("q14_promo_revenue",
      """SELECT round(100.0 * CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
        |    THEN CAST(l_extendedprice AS DECIMAL(12,2))
        |         * (1 - CAST(l_discount AS DECIMAL(12,2)))
        |    ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
        |  / CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |         * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE), 6)
        |  AS promo_pct
        |FROM lineitem, part
        |WHERE l_partkey = p_partkey
        |  AND l_shipdate >= '1996-09-01' AND l_shipdate < '1996-10-01'"""
        .stripMargin) { (s, d) =>
      val rev = col("l_extendedprice").cast("decimal(12,2)") *
        (lit(1) - col("l_discount").cast("decimal(12,2)"))
      Tables.lineitem(s, d)
        .where(col("l_shipdate") >= "1996-09-01"
          && col("l_shipdate") < "1996-10-01")
        .join(broadcast(Tables.part(s, d)),
          col("l_partkey") === col("p_partkey"))
        .agg(round(lit(100.0)
          * sum(when(col("p_type").like("PROMO%"), rev)
              .otherwise(lit(0).cast("decimal(12,2)"))).cast("double")
          / sum(rev).cast("double"), 6).as("promo_pct"))
    },

    // TPC-H Q7 (volume shipping): the 6-table join tree — both nation
    // dims and supplier/customer broadcast, the fact table's date filter
    // pushes to the scan, and the only data-sized shuffle is the final
    // (nation-pair × year) aggregate. Revenue stays decimal-exact
    // (2-dp factors multiplied in DECIMAL) until the final cast.
    Q("q7_nation_volume",
      """SELECT supp_nation, cust_nation, l_year,
        |  CAST(sum(volume) AS DOUBLE) AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    year(l.l_shipdate) AS l_year,
        |    CAST(l.l_extendedprice AS DECIMAL(12,2))
        |      * (1 - CAST(l.l_discount AS DECIMAL(12,2))) AS volume
        |  FROM supplier s, lineitem l, orders o, customer c,
        |       nation n1, nation n2
        |  WHERE s.s_suppkey = l.l_suppkey AND o.o_orderkey = l.l_orderkey
        |    AND c.c_custkey = o.o_custkey
        |    AND s.s_nationkey = n1.n_nationkey
        |    AND c.c_nationkey = n2.n_nationkey
        |    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |    AND l.l_shipdate BETWEEN TIMESTAMP '1995-01-01'
        |                         AND TIMESTAMP '1996-12-31')
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin) { (s, d) =>
      val vol = col("l_extendedprice").cast("decimal(12,2)") *
        (lit(1) - col("l_discount").cast("decimal(12,2)"))
      val n1 = Tables.nation(s, d)
        .select(col("n_nationkey").as("nk1"), col("n_name").as("supp_nation"))
      val n2 = Tables.nation(s, d)
        .select(col("n_nationkey").as("nk2"), col("n_name").as("cust_nation"))
      Tables.lineitem(s, d)
        .where(col("l_shipdate").between("1995-01-01", "1996-12-31"))
        .join(broadcast(Tables.supplier(s, d)),
          col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d)),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("nk1"))
        .join(broadcast(n2), col("c_nationkey") === col("nk2"))
        .where((col("supp_nation") === "NATION_1"
            && col("cust_nation") === "NATION_2")
          || (col("supp_nation") === "NATION_2"
            && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(sum(vol).cast("double").as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },

    // TPC-H Q8 (market share): NATION_2's share of ASIA-region PROMO-part
    // revenue per order year. Numerator and denominator are exact
    // DECIMAL sums; the single double division is correctly rounded on
    // both engines. All dims broadcast; the fact shuffles once for the
    // per-year aggregate.
    Q("q8_market_share",
      """SELECT o_year,
        |  CAST(CAST(sum(CASE WHEN nation = 'NATION_2' THEN volume
        |                     ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
        |       / CAST(sum(volume) AS DOUBLE) AS DOUBLE) AS mkt_share
        |FROM (
        |  SELECT year(o.o_orderdate) AS o_year,
        |    CAST(l.l_extendedprice AS DECIMAL(12,2))
        |      * (1 - CAST(l.l_discount AS DECIMAL(12,2))) AS volume,
        |    n1.n_name AS nation
        |  FROM part p, supplier s, lineitem l, orders o, customer c,
        |       nation n1, nation n2, region r
        |  WHERE p.p_partkey = l.l_partkey AND s.s_suppkey = l.l_suppkey
        |    AND l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey
        |    AND c.c_nationkey = n2.n_nationkey
        |    AND n2.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
        |    AND s.s_nationkey = n1.n_nationkey
        |    AND p.p_type = 'PROMO')
        |GROUP BY o_year
        |ORDER BY o_year""".stripMargin) { (s, d) =>
      val vol = col("l_extendedprice").cast("decimal(12,2)") *
        (lit(1) - col("l_discount").cast("decimal(12,2)"))
      val n1 = Tables.nation(s, d)
        .select(col("n_nationkey").as("nk1"), col("n_name").as("nation"))
      val n2 = Tables.nation(s, d)
        .select(col("n_nationkey").as("nk2"), col("n_regionkey"))
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d).where(col("p_type") === "PROMO")),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.supplier(s, d)),
          col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d)),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(n2), col("c_nationkey") === col("nk2"))
        .join(broadcast(Tables.region(s, d).where(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .join(broadcast(n1), col("s_nationkey") === col("nk1"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg((sum(when(col("nation") === "NATION_2", vol)
              .otherwise(lit(0).cast("decimal(12,2)"))).cast("double")
          / sum(vol).cast("double")).as("mkt_share"))
        .orderBy("o_year")
    },

    // TPC-H Q13 (customer order-count distribution): left join keeps
    // customers with zero orders, two combiner-friendly count shuffles.
    Q("q13_customer_distribution",
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |  GROUP BY c.c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
  )
}
