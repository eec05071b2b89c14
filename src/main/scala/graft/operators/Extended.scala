package graft.operators

import graft.{Q, Tables}
import graft.streaming.Streams
import org.apache.spark.sql.functions._

/** Relational-completeness extensions: subqueries (EXISTS / IN /
  * correlated scalar — exercising Catalyst's decorrelation rewrites),
  * pivot/unpivot, text source/sink round-trips (CSV, JSON lines), inline
  * VALUES relations, union-by-name, FILTER-clause aggregates, and
  * first/last/nth window navigation.
  */
object Extended {

  private val Priorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** Bucketed tables are written once per (session, sfDir) into a temp
    * warehouse; the join then needs no Exchange on either side — the
    * co-location pattern that makes repeated large-large joins shuffle-free
    * at 100 TB (bucket count would be sized to the cluster there).
    */
  private val bucketed =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  private[graft] def bucketedJoin(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val (ot, lt) = bucketed.computeIfAbsent(d, { _ =>
      val tag = math.abs(d.hashCode).toString
      val (ot, lt) = (s"graft_orders_b$tag", s"graft_lineitem_b$tag")
      // a previous JVM may have left the managed location behind while this
      // session's in-memory catalog has no such table — clear both
      def reset(name: String): Unit = {
        s.sql(s"DROP TABLE IF EXISTS $name")
        val wh = java.net.URI.create(
          s.conf.get("spark.sql.warehouse.dir")).getPath
        graft.streaming.Streams.deleteTree(java.nio.file.Paths.get(wh, name))
      }
      reset(ot); reset(lt)
      Tables.orders(s, d).write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(ot)
      Tables.lineitem(s, d).select("l_orderkey").write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(lt)
      (ot, lt)
    })
    val cnt = s.table(lt).groupBy("l_orderkey")
      .agg(count(lit(1)).as("cnt"))
    s.table(ot)
      .join(cnt, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderkey"), col("o_totalprice"), col("cnt"))
      .orderBy("o_orderkey")
  }

  val defs: Seq[Q] = Seq(

    // EXISTS subquery → RewritePredicateSubquery → left-semi join.
    Q("join_exists_subquery",
      """SELECT c_custkey FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 200000)
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d).createOrReplaceTempView("customer")
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql("""SELECT c_custkey FROM customer c
              |WHERE EXISTS (SELECT 1 FROM orders o
              |              WHERE o.o_custkey = c.c_custkey
              |                AND o.o_totalprice > 200000)
              |ORDER BY c_custkey""".stripMargin)
    },

    // NOT IN subquery (null-aware anti join).
    Q("join_in_subquery",
      """SELECT n_nationkey, n_name FROM nation
        |WHERE n_nationkey NOT IN (SELECT c_nationkey FROM customer)
        |ORDER BY n_nationkey""".stripMargin) { (s, d) =>
      Tables.nation(s, d).createOrReplaceTempView("nation")
      Tables.customer(s, d).createOrReplaceTempView("customer")
      s.sql("""SELECT n_nationkey, n_name FROM nation
              |WHERE n_nationkey NOT IN (SELECT c_nationkey FROM customer)
              |ORDER BY n_nationkey""".stripMargin)
    },

    // Correlated scalar subquery → decorrelated outer join + aggregate.
    Q("agg_scalar_subquery",
      """SELECT c_custkey,
        |  (SELECT count(*) FROM orders o
        |   WHERE o.o_custkey = c.c_custkey) AS n_orders
        |FROM customer c ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d).createOrReplaceTempView("customer")
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql("""SELECT c_custkey,
              |  (SELECT count(*) FROM orders o
              |   WHERE o.o_custkey = c.c_custkey) AS n_orders
              |FROM customer c ORDER BY c_custkey""".stripMargin)
    },

    // Pivot: order counts per status × priority (fixed value list so the
    // output schema is static; oracle = conditional aggregation).
    Q("pivot_priority",
      """SELECT o_orderstatus,
        |  count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS urgent,
        |  count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS high,
        |  count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS medium,
        |  count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS notspec,
        |  count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS low
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderstatus")
        .pivot("o_orderpriority", Priorities)
        .count()
        .na.fill(0L)
        .select(col("o_orderstatus"),
          col("`1-URGENT`").as("urgent"), col("`2-HIGH`").as("high"),
          col("`3-MEDIUM`").as("medium"),
          col("`4-NOT SPECIFIED`").as("notspec"), col("`5-LOW`").as("low"))
        .orderBy("o_orderstatus")
    },

    // Unpivot via stack() — wide → long.
    Q("unpivot_stack",
      """SELECT c_custkey, metric, value FROM (
        |  SELECT c_custkey, 'acctbal' AS metric, c_acctbal AS value FROM customer
        |  UNION ALL
        |  SELECT c_custkey, 'nationkey', CAST(c_nationkey AS DOUBLE) FROM customer)
        |ORDER BY c_custkey, metric""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .select(col("c_custkey"),
          expr("""stack(2, 'acctbal', c_acctbal,
                 |         'nationkey', CAST(c_nationkey AS DOUBLE))
                 |  AS (metric, value)""".stripMargin))
        .orderBy("c_custkey", "metric")
    },

    // CSV round-trip: write → schema-ful read → identical rows.
    Q("source_csv_roundtrip",
      """SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey""") {
      (s, d) =>
      val tmp = Streams.scratchDir("csv_")
      Streams.fileWriter(Tables.region(s, d)).mode("overwrite")
        .option("header", "true").csv(tmp)
      s.read.option("header", "true")
        .schema("r_regionkey INT, r_name STRING").csv(tmp)
        .orderBy("r_regionkey")
    },

    // JSON-lines round-trip.
    Q("source_json_roundtrip",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |ORDER BY n_nationkey""".stripMargin) { (s, d) =>
      val tmp = Streams.scratchDir("json_")
      Streams.fileWriter(Tables.nation(s, d)).mode("overwrite").json(tmp)
      s.read.schema("n_nationkey INT, n_name STRING, n_regionkey INT").json(tmp)
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
    },

    // ORC round-trip: the other columnar format Spark ships natively
    // (DuckDB can't read ORC, so the oracle reads the SOURCE table — the
    // round-trip itself is what's under test: full-fidelity write+read).
    Q("source_orc_roundtrip",
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
        |ORDER BY s_suppkey""".stripMargin) { (s, d) =>
      val tmp = Streams.scratchDir("orc_")
      Streams.fileWriter(Tables.supplier(s, d)).mode("overwrite").orc(tmp)
      s.read.orc(tmp)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
        .orderBy("s_suppkey")
    },

    // Text-source round-trip — the remaining native format, and the one
    // raw corpus ingest actually starts from (one line = one record, no
    // schema): document texts write as line files and read back as a
    // `value` column. Newlines inside a doc would split records — the
    // writer is the contract violator there, so the query normalizes
    // them first (the oracle mirrors it); the count+length aggregate is
    // line-order-independent, which a line-file read must be.
    Q("source_text_roundtrip",
      """SELECT count(*) AS n_lines,
        |  CAST(sum(length(replace(text, chr(10), ' '))) AS BIGINT)
        |    AS total_chars,
        |  CAST(min(length(replace(text, chr(10), ' '))) AS BIGINT)
        |    AS min_chars,
        |  CAST(max(length(replace(text, chr(10), ' '))) AS BIGINT)
        |    AS max_chars
        |FROM documents WHERE doc_id < 500""".stripMargin) { (s, d) =>
      val tmp = Streams.scratchDir("text_")
      Streams.fileWriter(Tables.documents(s, d).where(col("doc_id") < 500)
          .select(regexp_replace(col("text"), "\n", " ").as("value")))
        .mode("overwrite").text(tmp)
      s.read.text(tmp)
        .select(length(col("value")).cast("long").as("len"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("len")).as("total_chars"),
          min(col("len")).as("min_chars"),
          max(col("len")).as("max_chars"))
    },

    // Dynamic partition overwrite — the lake backfill primitive: rewrite
    // ONE partition in place, leave every other partition's files
    // untouched. Store partitioned by event_type; the second write
    // (filtered 'click' rows) replaces only that partition dir under
    // the write's partitionOverwriteMode=dynamic option. The final
    // store content is oracled: full data for other types, the filtered
    // subset for the overwritten one.
    Q("sink_partitioned_overwrite",
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sv
        |FROM events
        |WHERE event_type <> 'click' OR value >= 100
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin) { (s, d) =>
      val tmp = Streams.scratchDir("dynpart_")
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("value"),
          col("event_type"))
      Streams.fileWriter(ev).mode("overwrite").partitionBy("event_type")
        .parquet(tmp)
      val repl = ev.where(col("event_type") === "click" && col("value") >= 100)
      // dynamic overwrite with an EMPTY frame writes no partitions and
      // silently leaves the old 'click' partition in place — fail loudly
      // instead of diverging from the oracle on a degenerate fixture
      require(!repl.isEmpty,
        "sink_partitioned_overwrite: fixture has no 'click' rows with value >= 100")
      Streams.fileWriter(repl).mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_type").parquet(tmp)
      Tables.readParquet(s, tmp)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(14,2)")).cast("double").as("sv"))
        .orderBy("event_type")
    },

    // Error-safe scalar family: try_divide / try_cast / try_to_timestamp
    // return NULL instead of failing — the dirty-data hygiene surface
    // (DuckDB mirrors via CASE + TRY_CAST).
    Q("fn_try_safe",
      """SELECT id,
        |  CASE WHEN b = 0 THEN NULL ELSE CAST(a AS DOUBLE) / b END AS dv,
        |  TRY_CAST(sv AS INTEGER) AS ci,
        |  TRY_CAST(tv AS TIMESTAMP) AS ct
        |FROM (VALUES (1, 10, 2, '5', '2024-01-01 00:00:00'),
        |             (2, 7, 0, 'x', 'not a timestamp'),
        |             (3, NULL, 3, '12', NULL))
        |  AS t(id, a, b, sv, tv)
        |ORDER BY id""".stripMargin) { (s, d) =>
      import s.implicits._
      Seq((1, Some(10), 2, "5", Some("2024-01-01 00:00:00")),
          (2, Some(7), 0, "x", Some("not a timestamp")),
          (3, None, 3, "12", None))
        .toDF("id", "a", "b", "sv", "tv")
        .selectExpr("id",
          "try_divide(CAST(a AS DOUBLE), b) AS dv",
          "try_cast(sv AS INT) AS ci",
          "try_to_timestamp(tv) AS ct")
        .orderBy("id")
    },

    // Inline VALUES relation (LocalRelation) broadcast-joined to a table.
    Q("values_inline",
      """SELECT v.code, r.r_name FROM (VALUES (0, 'zero'), (1, 'one'),
        |  (2, 'two')) AS v(rk, code)
        |JOIN region r ON r.r_regionkey = v.rk
        |ORDER BY v.code""".stripMargin) { (s, d) =>
      import s.implicits._
      val v = Seq((0, "zero"), (1, "one"), (2, "two")).toDF("rk", "code")
      Tables.region(s, d)
        .join(broadcast(v), col("r_regionkey") === col("rk"))
        .select(col("code"), col("r_name"))
        .orderBy("code")
    },

    // unionByName: same schema, different column order on one side.
    Q("union_by_name",
      """SELECT r_regionkey, r_name FROM region
        |UNION ALL SELECT r_regionkey, r_name FROM region
        |ORDER BY r_regionkey, r_name""".stripMargin) { (s, d) =>
      val a = Tables.region(s, d).select("r_regionkey", "r_name")
      val b = Tables.region(s, d).select("r_name", "r_regionkey")
      a.unionByName(b).orderBy("r_regionkey", "r_name")
    },

    // FILTER-clause aggregates (ANSI) — one pass, many conditions.
    Q("agg_filter_clause",
      """SELECT l_returnflag,
        |  count(*) AS n,
        |  count(*) FILTER (WHERE l_discount > 0.05) AS n_disc,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2)))
        |       FILTER (WHERE l_tax > 0.04) AS DOUBLE) AS qty_taxed
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          count(when(col("l_discount") > 0.05, 1)).as("n_disc"),
          sum(when(col("l_tax") > 0.04, col("l_quantity").cast("decimal(12,2)")))
            .cast("double").as("qty_taxed"))
        .orderBy("l_returnflag")
    },

    // Statistical aggregate family (one pass, grouped).
    Q("agg_stats_family",
      """SELECT l_returnflag,
        |  round(corr(l_quantity, l_extendedprice), 6) AS r,
        |  round(covar_samp(l_quantity, l_extendedprice), 4) AS cv,
        |  round(stddev_samp(l_discount), 6) AS sd,
        |  round(var_samp(l_discount), 6) AS vr,
        |  round(avg(l_quantity), 6) AS mean_qty
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("r"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("cv"),
          round(stddev_samp(col("l_discount")), 6).as("sd"),
          round(var_samp(col("l_discount")), 6).as("vr"),
          round(avg(col("l_quantity")), 6).as("mean_qty"))
        .orderBy("l_returnflag")
    },

    // Exact interpolated percentiles (same linear-interpolation definition
    // as DuckDB's quantile_cont).
    Q("agg_percentile",
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.9), 6) AS p90
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_extendedprice, 0.5)"), 6).as("p50"),
          round(expr("percentile(l_extendedprice, 0.9)"), 6).as("p90"))
        .orderBy("l_returnflag")
    },

    // Bucketed co-located join: both sides written bucketed on the join
    // key — the 100 TB pattern that removes the shuffle entirely
    // (BucketedJoinSpec asserts no Exchange in the plan).
    Q("join_bucketed",
      """SELECT o.o_orderkey, o.o_totalprice, c.cnt
        |FROM orders o JOIN (
        |  SELECT l_orderkey, count(*) AS cnt FROM lineitem GROUP BY l_orderkey
        |) c ON c.l_orderkey = o.o_orderkey
        |ORDER BY o.o_orderkey""".stripMargin) { (s, d) =>
      bucketedJoin(s, d)
    },

    // first/last/nth window navigation with an explicit full frame
    // (last_value over the default frame is a well-known footgun).
    Q("win_first_last_nth",
      """SELECT o_custkey, o_orderkey,
        |  first_value(o_orderkey) OVER w AS first_ok,
        |  last_value(o_orderkey)  OVER w AS last_ok,
        |  nth_value(o_orderkey, 2) OVER w AS second_ok
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, d).select(
          col("o_custkey"), col("o_orderkey"),
          first(col("o_orderkey")).over(w).as("first_ok"),
          last(col("o_orderkey")).over(w).as("last_ok"),
          nth_value(col("o_orderkey"), 2).over(w).as("second_ok"))
        .orderBy("o_custkey", "o_orderkey")
    },

    // Recursive CTE (new SQL surface in Spark 4): transitive reachability
    // over the per-region nation successor chain — the fixpoint-iteration
    // query shape (org charts, BOM explosion, graph closure) that used to
    // need driver-side loops (the dedup collapse queries hand-roll the
    // same pattern). Each recursion step plans as one join; depth here is
    // bounded by region size. Both engines run the same recursive SQL, so
    // the oracle pins Spark's fixpoint semantics against DuckDB's.
    Q("sql_recursive_cte",
      """WITH RECURSIVE nxt AS (
        |  SELECT a.n_nationkey AS src, min(b.n_nationkey) AS dst
        |  FROM nation a JOIN nation b
        |    ON a.n_regionkey = b.n_regionkey
        |   AND b.n_nationkey > a.n_nationkey
        |  GROUP BY a.n_nationkey
        |),
        |reach(src, dst, depth) AS (
        |  SELECT src, dst, 1 AS depth FROM nxt
        |  UNION ALL
        |  SELECT r.src, n.dst, r.depth + 1
        |  FROM reach r JOIN nxt n ON r.dst = n.src
        |)
        |SELECT src, dst, depth FROM reach
        |ORDER BY src, dst""".stripMargin) { (s, d) =>
      Tables.nation(s, d).createOrReplaceTempView("nation_rec")
      s.sql(
        """WITH RECURSIVE nxt AS (
          |  SELECT a.n_nationkey AS src, min(b.n_nationkey) AS dst
          |  FROM nation_rec a JOIN nation_rec b
          |    ON a.n_regionkey = b.n_regionkey
          |   AND b.n_nationkey > a.n_nationkey
          |  GROUP BY a.n_nationkey
          |),
          |reach(src, dst, depth) AS (
          |  SELECT src, dst, 1 AS depth FROM nxt
          |  UNION ALL
          |  SELECT r.src, n.dst, r.depth + 1
          |  FROM reach r JOIN nxt n ON r.dst = n.src
          |)
          |SELECT src, dst, depth FROM reach
          |ORDER BY src, dst""".stripMargin)
    },

    // JDBC source against an embedded in-memory Derby database — the
    // operational-DB ingest surface: the slice is loaded ONCE through
    // Spark's distributed JDBC writer, then read back as a PARTITIONED
    // parallel scan (numPartitions stride ranges on the key) with the
    // price predicate PUSHED INTO the database (PushedFilters on the
    // JDBCRelation — plan-gated). At 100 TB the pattern is the same:
    // partitionColumn ranges fan the operational table across executors
    // and the DB does the filtering, not Spark. (Spark's JDBC writer
    // quotes identifiers, so the Derby table keeps the lowercase names.)
    Q("source_jdbc_pushdown",
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE o_orderkey <= 5000 AND o_totalprice >= 150000.0
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
      val url = jdbcOrdersUrl(s, d)
      s.read.format("jdbc")
        .option("url", url).option("dbtable", "orders_slice")
        .option("partitionColumn", "o_orderkey")
        .option("lowerBound", "0").option("upperBound", "5000")
        .option("numPartitions", "4")
        .load()
        .where(col("o_totalprice") >= 150000.0)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(14,2)")).cast("double")
            .as("sum_price"))
        .orderBy("o_orderstatus")
    },

    // JDBC AGGREGATE pushdown (DSv2 JDBCTableCatalog): the GROUP BY
    // itself runs INSIDE the database — Spark receives one row per
    // group, not the table (plan-gated on PushedAggregates). This is
    // the federation shape for an operational DB at 100 TB: ship the
    // aggregation to the data. Aggregates chosen order-free (COUNT,
    // integer SUM, MIN/MAX) so the DB's evaluation order can't produce
    // a different double than the oracle.
    Q("source_jdbc_agg_pushdown",
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |  min(o_totalprice) AS min_price,
        |  max(o_totalprice) AS max_price
        |FROM orders WHERE o_orderkey <= 5000
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
      val url = jdbcOrdersUrl(s, d)
      // catalog name is a function of the sfDir: Spark's CatalogManager
      // caches catalog INSTANCES per session after first load, so a fixed
      // name would silently keep serving the first sfDir's Derby database
      // if one session ever ran this against two fixture dirs (ADVICE
      // r13). The SANITIZED FULL PATH, not a hash — 32-bit hashCode
      // collisions would recreate the exact stale-catalog bug this
      // guards against, and catalog names have no length problem here.
      val cat = "graft_jdbc_" + d.replaceAll("[^A-Za-z0-9]", "_")
      s.conf.set(s"spark.sql.catalog.$cat",
        "org.apache.spark.sql.execution.datasources.v2.jdbc.JDBCTableCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.url", url)
      s.conf.set(s"spark.sql.catalog.$cat.pushDownAggregate", "true")
      // the distributed writer issued unquoted DDL, so Derby stored the
      // table and columns UPPERCASE; aliases pin the oracle's lowercase
      s.sql(
        s"""SELECT o_orderstatus AS o_orderstatus, count(*) AS n,
          |  sum(o_custkey) AS sum_cust,
          |  min(o_totalprice) AS min_price,
          |  max(o_totalprice) AS max_price
          |FROM $cat.APP.ORDERS_SLICE
          |GROUP BY o_orderstatus
          |ORDER BY o_orderstatus""".stripMargin)
    },

    // SQL pipe syntax (`|>`, new SQL surface in Spark 4): the same logical
    // plan as a classic WHERE→GROUP BY→ORDER BY query, written as a linear
    // operator chain. Purely frontend — Catalyst sees the identical
    // Aggregate(Filter(Scan)) tree, so pushdown/partial-agg behavior is
    // unchanged; the oracle pins that equivalence in classic SQL.
    Q("sql_pipe_syntax",
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE o_orderstatus = 'O'
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("orders_pipe")
      s.sql(
        """FROM orders_pipe
          ||> WHERE o_orderstatus = 'O'
          ||> AGGREGATE count(*) AS n,
          |     CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
          |       AS sum_price
          |   GROUP BY o_orderpriority
          ||> SELECT o_orderpriority, n, sum_price
          ||> ORDER BY o_orderpriority""".stripMargin)
    },

    // GROUP BY ALL / ORDER BY ALL (Spark 4 SQL sugar): every non-aggregate
    // select item becomes a grouping key, every output column a sort key —
    // the ad-hoc exploration shape. Resolution happens at analysis time;
    // the oracle pins it against the explicit ordinal form.
    Q("sql_group_by_all",
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY 1, 2
        |ORDER BY 1, 2, 3, 4""".stripMargin) { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("orders_gba")
      s.sql(
        """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
          |    AS sum_price
          |FROM orders_gba
          |GROUP BY ALL
          |ORDER BY ALL""".stripMargin)
    },

    // SQL-defined scalar function (Spark 4 `CREATE FUNCTION … RETURN expr`):
    // reusable logic shipped as catalog SQL instead of a JVM UDF — the body
    // is inlined by the analyzer, so it stays inside codegen and pushdown
    // (a black-box UDF would block both). Oracle inlines the same
    // expression by hand.
    Q("sql_udf_scalar",
      """SELECT bucket, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price
        |FROM (SELECT CAST(floor(o_totalprice / 50000.0) AS INT) AS bucket,
        |             o_totalprice
        |      FROM orders)
        |GROUP BY bucket
        |ORDER BY bucket""".stripMargin) { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("orders_udf")
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION price_bucket(x DOUBLE)
              |RETURNS INT RETURN CAST(floor(x / 50000.0) AS INT)""".stripMargin)
      s.sql(
        """SELECT price_bucket(o_totalprice) AS bucket, count(*) AS n,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
          |    AS sum_price
          |FROM orders_udf
          |GROUP BY bucket
          |ORDER BY bucket""".stripMargin)
    },

    // SQL-defined TABLE function (Spark 4): a parameterized view — the
    // argument lands in the body's WHERE, so it reaches the parquet scan
    // as an ordinary pushed filter. The function's relation then joins and
    // aggregates like any table.
    Q("sql_udf_table",
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("orders_tvf")
      s.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION status_orders(st STRING)
          |RETURNS TABLE(o_orderkey BIGINT, o_orderpriority STRING,
          |              o_totalprice DOUBLE)
          |RETURN SELECT o_orderkey, o_orderpriority, o_totalprice
          |       FROM orders_tvf WHERE o_orderstatus = st""".stripMargin)
      s.sql(
        """SELECT o_orderpriority, count(*) AS n,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
          |    AS sum_price
          |FROM status_orders('F')
          |GROUP BY o_orderpriority
          |ORDER BY o_orderpriority""".stripMargin)
    },

    // Parameterized SQL (named parameter markers bound via spark.sql's
    // args map — injection-safe literals, the programmatic-SQL surface)
    // plus a lateral column alias (`gross` reused in the same SELECT).
    // The oracle inlines the bound constants.
    Q("sql_parameterized",
      """SELECT o_orderpriority,
        |  count(*) AS n,
        |  CAST(sum(CAST(o_totalprice * 1.1 AS DECIMAL(14,4))) AS DOUBLE)
        |    AS sum_gross
        |FROM orders
        |WHERE o_orderstatus = 'O' AND o_totalprice >= 100000.0
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("orders_param")
      s.sql(
        """SELECT o_orderpriority,
          |  count(*) AS n,
          |  CAST(sum(gross) AS DOUBLE) AS sum_gross
          |FROM (SELECT o_orderpriority,
          |        CAST(o_totalprice * :uplift AS DECIMAL(14,4)) AS gross
          |      FROM orders_param
          |      WHERE o_orderstatus = :st AND o_totalprice >= :floor)
          |GROUP BY o_orderpriority
          |ORDER BY o_orderpriority""".stripMargin,
        Map("st" -> "O", "floor" -> 100000.0, "uplift" -> 1.1))
    },

    // SESSION VARIABLES + EXECUTE IMMEDIATE (Spark 4): DECLARE/SET VAR
    // persists typed variables on the session, and EXECUTE IMMEDIATE
    // runs SQL text with USING-bound parameters — together the
    // dynamic-SQL surface (dashboards, templated jobs) without string
    // interpolation. The variable feeds the dynamic statement's bind
    // parameter; the oracle inlines both constants.
    Q("sql_session_variables",
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
        |    AS sum_price
        |FROM orders
        |WHERE o_totalprice >= 150000.0 AND o_orderstatus = 'F'
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("orders_sessvar")
      s.sql("DECLARE OR REPLACE VARIABLE price_floor DOUBLE DEFAULT 0.0")
      s.sql("SET VAR price_floor = 150000.0")
      s.sql(
        """EXECUTE IMMEDIATE
          |  'SELECT o_orderpriority, count(*) AS n,
          |     CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
          |       AS sum_price
          |   FROM orders_sessvar
          |   WHERE o_totalprice >= ? AND o_orderstatus = ''F''
          |   GROUP BY o_orderpriority
          |   ORDER BY o_orderpriority'
          |  USING price_floor""".stripMargin)
    },

    // SQL scripting (Spark 4 procedural surface): DECLARE'd script-local
    // variables, a WHILE loop, and SET arithmetic inside one BEGIN…END
    // block whose final SELECT is the result — the migration target for
    // stored-procedure workloads. The loop accumulates the dyadic series
    // Σ 2^-i (exact in binary at every step, so the iterative sum is
    // bit-identical to the oracle's closed-form literal) and the final
    // statement joins it against a real aggregate so the script surface
    // is exercised over table data, not just scalars.
    Q("sql_scripting_loop",
      """SELECT o_orderstatus, count(*) AS n,
        |  round(1.998046875, 6) AS geo_sum
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("orders_script")
      graft.Harness.withConfs(s, "spark.sql.scripting.enabled" -> "true")(
        s.sql(
          """BEGIN
            |  DECLARE total DOUBLE DEFAULT 0d;
            |  DECLARE i INT DEFAULT 0;
            |  WHILE i < 10 DO
            |    SET total = total + power(0.5d, i);
            |    SET i = i + 1;
            |  END WHILE;
            |  SELECT o_orderstatus, count(*) AS n,
            |    round(total, 6) AS geo_sum
            |  FROM orders_script
            |  GROUP BY o_orderstatus
            |  ORDER BY o_orderstatus;
            |END""".stripMargin))
    },
  )

  /** One-time load of the orders slice into an embedded in-memory Derby
    * database (per sfDir), via Spark's distributed JDBC writer; returns
    * the JDBC url. Storage preparation, not per-query cost — the same
    * contract as the bucketed warehouse (`bucketedJoin`).
    */
  private val jdbcDbs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def jdbcOrdersUrl(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    jdbcDbs.computeIfAbsent(d, { _ =>
      val db = "graftjdbc" + java.lang.Integer.toHexString(d.hashCode)
      val create = s"jdbc:derby:memory:$db;create=true"
      graft.Tables.orders(s, d).where(col("o_orderkey") <= 5000)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
        .write.mode("overwrite").format("jdbc")
        .option("url", create).option("dbtable", "orders_slice")
        // Derby's default StringType mapping is CLOB, which the DB
        // cannot GROUP BY — pin VARCHAR so aggregate pushdown can land
        .option("createTableColumnTypes", "o_orderstatus VARCHAR(1)")
        .save()
      s"jdbc:derby:memory:$db"
    })
}
