package graft.operators

import graft.{Pin, Q, Tables}
import graft.functions.zorder_key
import graft.streaming.Streams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Table-maintenance and pipeline operators a large-scale training-data /
  * warehouse deployment runs daily but that no single relational operator
  * expresses: snapshot diffing (CDC), time-series gap-fill + forward-fill,
  * small-file compaction, Z-order layout clustering, and mergeable
  * HyperLogLog sketches.
  *
  * No reference equivalent (zonbloop/flink-rag is a streaming RAG chain);
  * these complete the SURVEY §2.2 [EXT] pipeline story at the 100 TB
  * operating point.
  */
object Pipeline {

  /** DuckDB-side Morton interleave of the low 16 bits of BIGINTs `x`/`y`
    * — the arithmetic mirror of [[graft.functions.VectorKernels.interleave16]]
    * (32 shift/mask terms; bit i of x → bit 2i, bit i of y → bit 2i+1).
    */
  private val zkeySql: String =
    (0 until 16).flatMap { i =>
      Seq(s"(((x >> $i) & 1) << ${2 * i})", s"(((y >> $i) & 1) << ${2 * i + 1})")
    }.mkString(" + ")

  val defs: Seq[Q] = Seq(

    // CDC snapshot diff: two snapshots of the same keyed aggregate (orders
    // per customer as of two cut dates) full-outer-joined on the key;
    // rows classified added / removed / changed, unchanged rows dropped.
    // Scale shape: both snapshots come from ONE scan, each aggregates with
    // a map-side partial into the same hash partitioning on o_custkey, so
    // the full-outer join needs no extra Exchange — one shuffle total, and
    // the diff output is bounded by the churn, not the table size.
    Q("cdc_snapshot_diff",
      """WITH olds AS (
        |  SELECT o_custkey, count(*) AS n,
        |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS tot
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
        |  GROUP BY o_custkey),
        |news AS (
        |  SELECT o_custkey, count(*) AS n,
        |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS tot
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
        |  GROUP BY o_custkey)
        |SELECT COALESCE(n.o_custkey, o.o_custkey) AS o_custkey,
        |  CASE WHEN o.o_custkey IS NULL THEN 'added'
        |       WHEN n.o_custkey IS NULL THEN 'removed'
        |       ELSE 'changed' END AS change,
        |  COALESCE(o.n, 0) AS old_n, COALESCE(n.n, 0) AS new_n,
        |  CAST(COALESCE(n.tot, 0) AS DOUBLE) AS new_tot
        |FROM news n FULL OUTER JOIN olds o ON n.o_custkey = o.o_custkey
        |WHERE o.o_custkey IS NULL OR n.o_custkey IS NULL
        |   OR o.n <> n.n OR o.tot <> n.tot
        |ORDER BY o_custkey""".stripMargin) { (s, d) =>
      def snapshot(cut: String) = Tables.orders(s, d)
        .where(col("o_orderdate") < lit(cut).cast("timestamp"))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("tot"))
      val olds = snapshot("1996-01-01")
        .select(col("o_custkey").as("k"), col("n").as("old_n"),
          col("tot").as("old_tot"))
      val news = snapshot("1998-01-01")
      news.join(olds, news("o_custkey") === olds("k"), "full_outer")
        .where(col("k").isNull || col("o_custkey").isNull ||
          col("old_n") =!= col("n") || col("old_tot") =!= col("tot"))
        .select(
          coalesce(col("o_custkey"), col("k")).as("o_custkey"),
          when(col("k").isNull, "added")
            .when(col("o_custkey").isNull, "removed")
            .otherwise("changed").as("change"),
          coalesce(col("old_n"), lit(0L)).as("old_n"),
          coalesce(col("n"), lit(0L)).as("new_n"),
          coalesce(col("tot"), lit(0).cast("decimal(18,2)"))
            .cast("double").as("new_tot"))
        .orderBy("o_custkey")
    },

    // Time-series gap-fill + forward-fill: a sparse daily aggregate (only
    // high-value events) is re-gridded onto the full (event_type × day)
    // calendar with `sequence`+`explode`, missing counts zeroed and the
    // last observed average carried forward per type. The grid side is
    // O(types × days) — broadcast — so the only data-sized shuffles are
    // the sparse aggregate and one window per type. Averages are rounded
    // BEFORE the fill so both engines carry identical doubles forward.
    Q("ts_gapfill_ffill",
      """WITH sparse AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n,
        |         round(avg(value), 6) AS avg_v
        |  FROM events WHERE value > 480 GROUP BY 1, 2),
        |bounds AS (
        |  SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1
        |  FROM events),
        |days AS (
        |  SELECT CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
        |    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM bounds),
        |grid AS (
        |  SELECT t.event_type, d.day
        |  FROM (SELECT DISTINCT event_type FROM events) t CROSS JOIN days d)
        |SELECT g.event_type, CAST(g.day AS VARCHAR) AS day,
        |  COALESCE(sp.n, 0) AS n,
        |  COALESCE(last_value(sp.avg_v IGNORE NULLS) OVER (
        |    PARTITION BY g.event_type ORDER BY g.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0)
        |    AS avg_filled
        |FROM grid g LEFT JOIN sparse sp
        |  ON sp.event_type = g.event_type AND sp.day = g.day
        |ORDER BY g.event_type, g.day""".stripMargin) { (s, d) =>
      // ONE scan of the fact table: the (type × day) aggregate carries
      // both the unfiltered presence (for grid bounds/types) and the
      // sparse >480 stats; it is tiny (types × days rows), so it is
      // materialized once (localCheckpoint) and reused three ways —
      // naively deriving bounds, types, and the join side from `events`
      // directly would be three full scans at 100 TB.
      val daily = Pin.now(Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(when(col("value") > 480, 1)).as("n"),
          round(avg(when(col("value") > 480, col("value"))), 6).as("avg_v")))
      val sparse = daily.where(col("n") > 0)
      val days = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      val grid = daily.select("event_type").distinct()
        .crossJoin(broadcast(days))
      val ffill = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(sparse, Seq("event_type", "day"), "left")
        // DATE survives both engines but not the driver's pandas compare
        // (DuckDB DATE → datetime64); emit the ISO string, same order.
        .select(col("event_type"),
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          coalesce(col("n"), lit(0L)).as("n"),
          coalesce(last(col("avg_v"), ignoreNulls = true).over(ffill),
            lit(0.0)).as("avg_filled"))
        .orderBy("event_type", "day")
    },

    // Small-file compaction — the table-maintenance job every parquet lake
    // runs: a fragmented write (64 shards here; thousands of tiny
    // commit-sized files at 100 TB) is coalesced to ceil(bytes / target)
    // files WITHOUT a shuffle (`coalesce`, not `repartition` — compaction
    // moves bytes, it must not also repartition them). Result is the
    // compacted store's content, oracled against the source table;
    // PipelineSpec asserts the file counts actually collapsed.
    Q("maintenance_compact_files",
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin) { (s, d) =>
      val base = Streams.scratchDir("compact_")
      val (small, out) = (s"$base/small", s"$base/out")
      Streams.fileWriter(Tables.events(s, d)
          .select("event_id", "event_type", "value").repartition(64))
        .mode("overwrite").parquet(small)
      compactParquet(s, small, out, targetBytes = 8L << 20)
      Tables.readParquet(s, out)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sv"))
        .orderBy("event_type")
    },

    // Z-order layout key: Morton-interleave two bounded dimensions into
    // one sort key (codegen'd `zorder_key` Expression). Sorting a write by
    // this key clusters rows close in BOTH dimensions into the same files,
    // so per-file min/max stats prune 2-D box predicates — the layout
    // lever behind "z-ordered" lakehouse tables. PipelineSpec proves the
    // aligned-box locality guarantee: a 2^m-aligned box maps to ONE
    // contiguous key range of exactly 4^m keys.
    Q("layout_zorder",
      s"""WITH pts AS (
        |  SELECT event_id,
        |    CAST(user_id % 256 AS BIGINT) AS x,
        |    CAST(CAST(floor(value) AS BIGINT) % 256 AS BIGINT) AS y
        |  FROM events)
        |SELECT event_id, x, y, CAST($zkeySql AS BIGINT) AS zkey
        |FROM pts
        |ORDER BY zkey, event_id
        |LIMIT 100""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          (col("user_id") % 256).as("x"),
          (floor(col("value")).cast("long") % 256).as("y"))
        .select(col("event_id"), col("x"), col("y"),
          zorder_key(col("x").cast("int"), col("y").cast("int")).as("zkey"))
        .orderBy("zkey", "event_id")
        .limit(100)
    },

    // Range-partitioned sorted layout: repartitionByRange + sort-within —
    // the write-path that makes min/max zone maps selective (each output
    // file covers a disjoint ts range, so a time-predicate scan prunes to
    // one file). Content is oracled (layout must not change data);
    // PipelineSpec asserts the RangePartitioning exchange and the
    // per-file disjointness that zone-map pruning depends on.
    Q("layout_range_sort",
      """SELECT event_id, user_id,
        |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
        |FROM events
        |ORDER BY event_id
        |LIMIT 1000""".stripMargin) { (s, d) =>
      val tmp = Streams.scratchDir("rangesort_")
      Streams.fileWriter(Tables.events(s, d)
          .select(col("event_id"), col("user_id"),
            expr("unix_timestamp(date_trunc('second', ts))").as("sec"))
          .repartitionByRange(8, col("sec"))
          .sortWithinPartitions("sec", "event_id"))
        .mode("overwrite").parquet(tmp)
      Tables.readParquet(s, tmp)
        .select("event_id", "user_id", "sec")
        .orderBy("event_id")
        .limit(1000)
    },

    // Mergeable HyperLogLog sketches (Apache DataSketches, built into
    // Spark): one sketch per source partition, estimates per source plus a
    // global estimate from `hll_union_agg` — WITHOUT rescanning. This is
    // the 100 TB cardinality pattern: sketch once at ingest granularity,
    // merge at query time; re-aggregation cost is per-sketch (1.5 KB), not
    // per-row. No DuckDB oracle (different sketch internals) — PipelineSpec
    // gates every estimate within ±5% of exact COUNT(DISTINCT).
    Q.noOracle("agg_hll_sketch_merge") { (s, d) =>
      val sk = Tables.documents(s, d).groupBy("source")
        .agg(hll_sketch_agg(col("doc_id")).as("sk"))
      val perSource = sk.select(col("source"),
        hll_sketch_estimate(col("sk")).as("est"))
      val global = sk.agg(hll_union_agg(col("sk")).as("u"))
        .select(lit("__all__").as("source"),
          hll_sketch_estimate(col("u")).as("est"))
      perSource.unionAll(global).orderBy("source")
    },

    // Mergeable approximate quantiles — HLL's partner in every 100 TB
    // profiling stack (cardinality + distribution): per-source p50/p95/p99
    // plus the global row, ONE scan. Spark's approx_percentile aggregates
    // a Greenwald-Khanna QuantileSummaries sketch with map-side partial
    // merge, so the rollup's global row is a SKETCH MERGE of the per-group
    // partials (Expand + partial agg), never a re-sort of raw values —
    // rank error is bounded by 1/accuracy. Sketch-defined → no DuckDB
    // oracle; PipelineSpec gates every estimate against exact
    // percentile() within tolerance.
    Q.noOracle("agg_approx_percentile_sketch") { (s, d) =>
      val qs = array(lit(0.5), lit(0.95), lit(0.99))
      Tables.events(s, d)
        .rollup(col("event_type"))
        .agg(percentile_approx(col("value"), qs, lit(10000)).as("p"))
        .select(coalesce(col("event_type"), lit("__all__")).as("source"),
          element_at(col("p"), 1).as("p50"),
          element_at(col("p"), 2).as("p95"),
          element_at(col("p"), 3).as("p99"))
        .orderBy("source")
    },

    // Count-min sketch point frequencies — the third mergeable sketch
    // next to HLL (distinct) and KLL-ish percentile_approx (quantiles):
    // the streaming-frequency primitive (bounded memory, mergeable across
    // partitions/batches, never underestimates). The sketch build is a
    // distributed treeAggregate over the token scan; the point queries
    // are O(k) driver work on the exact top-20 tokens — the same bounded-
    // collect class as the zonemap/probe reads. Seeded → deterministic;
    // PipelineSpec gates est >= exact and the eps·N error bound.
    Q.noOracle("agg_cms_frequency") { (s, d) =>
      import s.implicits._
      val toks = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("tok"))
        .where(col("tok") =!= "")
      val cms = toks.stat.countMinSketch("tok",
        eps = 0.001, confidence = 0.99, seed = 42)
      val top = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok")).limit(20)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      top.toSeq.map { case (t, c) => (t, c, cms.estimateCount(t)) }
        .toDF("tok", "exact_cnt", "cms_est")
        .orderBy("tok")
    },

    // Materialized-rollup reaggregation — the pre-aggregation pattern that
    // makes dashboards affordable at 100 TB: ingest persists fine-grained
    // partials (per day × type: count + exact decimal sum — both
    // re-mergeable, unlike avg), queries reaggregate the rollup instead of
    // the raw table. The rollup here is ~1e2 rows standing in for 1e8 raw;
    // the final avg is derived from the merged partials. Oracled against
    // the raw table: reaggregation must be lossless.
    Q("agg_partial_reaggregate",
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |        / count(*), 6) AS mean_v
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin) { (s, d) =>
      val rollupDir = Streams.scratchDir("rollup_")
      Streams.fileWriter(Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"), col("event_type"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("value").cast("decimal(18,2)")).as("sv")))
        .mode("overwrite").parquet(rollupDir)
      val rollup = Tables.readParquet(s, rollupDir)
      rollup.groupBy("event_type")
        .agg(sum(col("cnt")).as("n"),
          sum(col("sv")).cast("double").as("sv"))
        .select(col("event_type"), col("n"), col("sv"),
          round(col("sv") / col("n"), 6).as("mean_v"))
        .orderBy("event_type")
    },

    // The literal-SQL surface: TPC-H Q1 pasted as ANSI text into
    // `spark.sql` over registered temp views — proving a reference user
    // can bring their SQL unchanged (the rest of the inventory exercises
    // the DataFrame API; the SQL parser/analyzer path is an API surface of
    // its own). Disc price is double-multiplied THEN decimal-cast so both
    // engines round the identical product.
    Q("sql_q1_pricing",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE)
        |    AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(14,4)))
        |    AS DOUBLE) AS sum_disc_price,
        |  round(avg(l_quantity), 6) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      s.sql("""SELECT l_returnflag, l_linestatus,
        CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE)
          AS sum_base_price,
        CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(14,4)))
          AS DOUBLE) AS sum_disc_price,
        round(avg(l_quantity), 6) AS avg_qty,
        count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")
    },

    // The SQL surface of the CUSTOM kernels: the engine's codegen'd
    // cosine_sim Expression called BY NAME from literal ANSI SQL (temp
    // view + scalar subquery probe) — proving a reference user gets the
    // vector ops without touching the Column API. Oracled against
    // DuckDB's own list_cosine_similarity, so the SQL-registration path
    // is hash-checked end-to-end.
    Q("sql_vector_search",
      """SELECT vec_id,
        |  round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |    (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
        |     WHERE vec_id = 0)), 6) AS score
        |FROM embeddings WHERE vec_id <> 0
        |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
      graft.functions.registerAll(s)
      Tables.embeddings(s, d).createOrReplaceTempView("embeddings")
      s.sql("""SELECT vec_id,
        round(cosine_sim(embedding,
          (SELECT embedding FROM embeddings WHERE vec_id = 0)), 6) AS score
        FROM embeddings WHERE vec_id <> 0
        ORDER BY score DESC, vec_id LIMIT 10""")
    },

    // The pretrain-corpus flagship: the full training-data chain in ONE
    // declarative DAG — language filter → quality gate → exact dedup
    // (keep-min via min_by, no join-back) → content-hash split → per-split
    // audit. Shuffle inventory at 100 TB: stages 1–2 and 4 are scan-side
    // projections/filters; dedup is the one data-sized shuffle (on the
    // text hash); the audit agg is partial+final on 3 splits. Every stage
    // is deterministic (content-hash, not RNG), so the corpus is
    // re-buildable bit-for-bit — the auditability property a training
    // pipeline needs.
    Q("pipeline_pretrain_corpus",
      """WITH scored AS (
        |  SELECT doc_id, text, source,
        |    len(string_split(text, ' ')) AS n_tok,
        |    CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g'))
        |         AS DOUBLE) / length(text) AS punct_ratio
        |  FROM documents WHERE lang = 'en'),
        |gated AS (
        |  SELECT * FROM scored WHERE n_tok >= 30 AND punct_ratio <= 0.25),
        |deduped AS (
        |  SELECT min(doc_id) AS doc_id,
        |    arg_min(source, doc_id) AS source,
        |    arg_min(n_tok, doc_id) AS n_tok
        |  FROM gated GROUP BY md5(text))
        |SELECT
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c'
        |         THEN 'train'
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e'
        |         THEN 'valid'
        |       ELSE 'test' END AS split,
        |  count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
        |  count(DISTINCT source) AS n_sources
        |FROM deduped
        |GROUP BY split ORDER BY split""".stripMargin) { (s, d) =>
      val scored = Tables.documents(s, d)
        .where(col("lang") === "en")
        .select(col("doc_id"), col("text"), col("source"),
          size(split(col("text"), " ")).as("n_tok"),
          (length(regexp_replace(col("text"), "[a-z0-9 ]", ""))
            .cast("double") / length(col("text"))).as("punct_ratio"))
      val gated = scored
        .where(col("n_tok") >= 30 && col("punct_ratio") <= 0.25)
      val deduped = gated.groupBy(md5(col("text")))
        .agg(min(col("doc_id")).as("doc_id"),
          min_by(col("source"), col("doc_id")).as("source"),
          min_by(col("n_tok"), col("doc_id")).as("n_tok"))
      deduped
        .select(
          when(substring(md5(col("doc_id").cast("string")), 1, 1) < "c",
            "train")
            .when(substring(md5(col("doc_id").cast("string")), 1, 1) < "e",
              "valid")
            .otherwise("test").as("split"),
          col("n_tok"), col("source"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("total_tokens"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy("split")
    },

    // MERGE INTO / upsert semantics without a table format: target rows
    // matched by the source take the source's values (update), unmatched
    // source keys append (insert), untouched target rows carry. One
    // co-partitioned full-outer shuffle join on the key — with a bucketed
    // target (join_bucketed's layout) the target side doesn't even
    // re-shuffle at 100 TB; the streaming incremental twin is
    // `stream_scd2_upsert`'s generation store.
    // CDC change-feed APPLY — the Debezium/changelog companion to the
    // snapshot diff above: compact a keyed feed of upsert/delete ops to
    // its LAST change per key (arrival order = event_id, never the ns
    // timestamp the engines truncate differently), then apply over the
    // base snapshot: last op D deletes, other touched keys take the feed
    // value, untouched base rows carry. The feed key is offset so the
    // fixture exercises all four paths (insert/update/delete/carry).
    // Scale shape: ONE key shuffle compacts the feed (row_number keeps
    // the newest op — at 100 TB the feed compacts BEFORE touching the
    // base), then a co-partitioned full-outer join; no driver state.
    Q("cdc_apply_changes",
      """WITH feed AS (
        |  SELECT user_id + 1400 AS k,
        |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |    value AS v,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY event_id DESC) AS rn
        |  FROM events),
        |lastc AS (SELECT k, op, v FROM feed WHERE rn = 1),
        |base AS (SELECT c_custkey AS k, c_acctbal AS v FROM customer)
        |SELECT coalesce(b.k, l.k) AS k,
        |  CASE WHEN l.k IS NULL THEN 'carry'
        |       WHEN b.k IS NULL THEN 'insert'
        |       ELSE 'update' END AS action,
        |  CASE WHEN l.k IS NULL THEN b.v ELSE l.v END AS v
        |FROM base b FULL JOIN lastc l ON b.k = l.k
        |WHERE l.op IS NULL OR l.op <> 'D'
        |ORDER BY k""".stripMargin) { (s, d) =>
      val feed = Tables.events(s, d)
        .select((col("user_id") + 1400L).as("k"),
          col("event_id").as("seq"),
          when(col("event_type") === "error", "D").otherwise("U").as("op"),
          col("value").as("v"))
      val base = Tables.customer(s, d)
        .select(col("c_custkey").as("k"), col("c_acctbal").as("v"))
      applyChangesOf(base, feed).orderBy("k")
    },

    Q("merge_into_upsert",
      """WITH t AS (
        |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 7 <> 0),
        |s AS (
        |  SELECT o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) + 10.00 AS DOUBLE) AS p
        |  FROM orders WHERE o_orderkey % 3 = 0)
        |SELECT coalesce(t.o_orderkey, s.o_orderkey) AS o_orderkey,
        |  CASE WHEN s.o_orderkey IS NOT NULL THEN s.p
        |       ELSE t.o_totalprice END AS o_totalprice,
        |  CASE WHEN t.o_orderkey IS NULL THEN 'insert'
        |       WHEN s.o_orderkey IS NULL THEN 'carry'
        |       ELSE 'update' END AS action
        |FROM t FULL JOIN s ON t.o_orderkey = s.o_orderkey
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val t = Tables.orders(s, d).where(col("o_orderkey") % 7 =!= 0)
        .select(col("o_orderkey"), col("o_totalprice"))
      val src = Tables.orders(s, d).where(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"),
          (col("o_totalprice").cast("decimal(12,2)") + lit(10.00))
            .cast("double").as("o_totalprice"))
      mergeUpsertOf(t, src, "o_orderkey").orderBy("o_orderkey")
    },

    // Data-quality constraint audit (Deequ-style): null / uniqueness /
    // domain / range checks share ONE aggregate scan; the FK existence
    // check is a broadcast anti-join. The per-rule (violations, pass)
    // rows are what a pipeline gates a 100 TB load on.
    // Referential-integrity audit over the WHOLE star schema — the DQ
    // check a warehouse loader runs after every batch: per FK edge, how
    // many child rows point at a missing parent (orphans break every
    // downstream inner join silently — rows just vanish). One row per
    // edge with child/orphan counts and the rate; the fixture is intact
    // so the expected orphan count is 0 — the query's value is the
    // harness, and the spec cross-checks the zero against an
    // independent inner-join count. Plan: each edge is ONE left-anti
    // shaped aggregate — dimension parents broadcast (nation/region/
    // customer/supplier/part), the fact-fact edge (lineitem→orders)
    // shuffles on the join key; no edge is ever a cartesian or a
    // driver-side loop, and the seven edges are independent jobs a
    // scheduler can overlap.
    Q("dq_referential_integrity",
      """WITH edges AS (
        |  SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
        |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_child,
        |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
        |     LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |     WHERE o.o_orderkey IS NULL) AS n_orphans
        |  UNION ALL
        |  SELECT 'lineitem.l_partkey->part',
        |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
        |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
        |     LEFT JOIN part p ON l.l_partkey = p.p_partkey
        |     WHERE p.p_partkey IS NULL)
        |  UNION ALL
        |  SELECT 'lineitem.l_suppkey->supplier',
        |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
        |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
        |     LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |     WHERE s.s_suppkey IS NULL)
        |  UNION ALL
        |  SELECT 'orders.o_custkey->customer',
        |    (SELECT CAST(count(*) AS BIGINT) FROM orders),
        |    (SELECT CAST(count(*) AS BIGINT) FROM orders o
        |     LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |     WHERE c.c_custkey IS NULL)
        |  UNION ALL
        |  SELECT 'customer.c_nationkey->nation',
        |    (SELECT CAST(count(*) AS BIGINT) FROM customer),
        |    (SELECT CAST(count(*) AS BIGINT) FROM customer c
        |     LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
        |     WHERE n.n_nationkey IS NULL)
        |  UNION ALL
        |  SELECT 'supplier.s_nationkey->nation',
        |    (SELECT CAST(count(*) AS BIGINT) FROM supplier),
        |    (SELECT CAST(count(*) AS BIGINT) FROM supplier s
        |     LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
        |     WHERE n.n_nationkey IS NULL)
        |  UNION ALL
        |  SELECT 'nation.n_regionkey->region',
        |    (SELECT CAST(count(*) AS BIGINT) FROM nation),
        |    (SELECT CAST(count(*) AS BIGINT) FROM nation n
        |     LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
        |     WHERE r.r_regionkey IS NULL))
        |SELECT fk_edge, n_child, n_orphans,
        |  CAST(n_orphans AS DOUBLE) / CAST(n_child AS DOUBLE)
        |    AS orphan_rate
        |FROM edges ORDER BY fk_edge""".stripMargin) { (s, d) =>
      def edge(name: String, child: DataFrame, ck: String,
          parent: DataFrame, pk: String, bcastParent: Boolean)
          : DataFrame = {
        val pkeys = parent.select(col(pk))
        val orphans = child.join(
          if (bcastParent) broadcast(pkeys) else pkeys,
          col(ck) === col(pk), "left_anti")
        child.agg(count(lit(1)).as("n_child"))
          .crossJoin(orphans.agg(count(lit(1)).as("n_orphans")))
          .select(lit(name).as("fk_edge"), col("n_child"),
            col("n_orphans"))
      }
      val li = Tables.lineitem(s, d)
      val rows = Seq(
        edge("lineitem.l_orderkey->orders", li, "l_orderkey",
          Tables.orders(s, d), "o_orderkey", bcastParent = false),
        edge("lineitem.l_partkey->part", li, "l_partkey",
          Tables.part(s, d), "p_partkey", bcastParent = true),
        edge("lineitem.l_suppkey->supplier", li, "l_suppkey",
          Tables.supplier(s, d), "s_suppkey", bcastParent = true),
        edge("orders.o_custkey->customer", Tables.orders(s, d),
          "o_custkey", Tables.customer(s, d), "c_custkey",
          bcastParent = true),
        edge("customer.c_nationkey->nation", Tables.customer(s, d),
          "c_nationkey", Tables.nation(s, d), "n_nationkey",
          bcastParent = true),
        edge("supplier.s_nationkey->nation", Tables.supplier(s, d),
          "s_nationkey", Tables.nation(s, d), "n_nationkey",
          bcastParent = true),
        edge("nation.n_regionkey->region", Tables.nation(s, d),
          "n_regionkey", Tables.region(s, d), "r_regionkey",
          bcastParent = true))
      rows.reduce(_ unionAll _)
        .select(col("fk_edge"), col("n_child"), col("n_orphans"),
          (col("n_orphans").cast("double") / col("n_child").cast("double"))
            .as("orphan_rate"))
        .orderBy("fk_edge")
    },

    Q("dq_constraint_check",
      """WITH c AS (
        |  SELECT
        |    count(*) FILTER (WHERE o_orderkey IS NULL) AS v_null,
        |    count(*) - count(DISTINCT o_orderkey) AS v_dup,
        |    count(*) FILTER (WHERE o_totalprice <= 0) AS v_price,
        |    count(*) FILTER (WHERE o_orderdate < TIMESTAMP '1992-01-01'
        |      OR o_orderdate >= TIMESTAMP '2002-01-01') AS v_range
        |  FROM orders),
        |fk AS (
        |  SELECT count(*) AS v_fk FROM orders o
        |  WHERE NOT EXISTS (SELECT 1 FROM customer c2
        |                    WHERE c2.c_custkey = o.o_custkey))
        |SELECT rule, violations, violations = 0 AS pass FROM (
        |  SELECT 'fk_custkey_exists' AS rule, v_fk AS violations FROM fk
        |  UNION ALL SELECT 'orderdate_in_range', v_range FROM c
        |  UNION ALL SELECT 'orderkey_not_null', v_null FROM c
        |  UNION ALL SELECT 'orderkey_unique', v_dup FROM c
        |  UNION ALL SELECT 'totalprice_positive', v_price FROM c)
        |ORDER BY rule""".stripMargin) { (s, d) =>
      dqCheckOrders(Tables.orders(s, d), Tables.customer(s, d))
        .orderBy("rule")
    },

    // Column profiling: n/nulls/distinct per column (+ min/max for the
    // numeric ones) in ONE scan — the multi-countDistinct plans through
    // Spark's Expand operator, still a single pass over the table. The
    // table-health snapshot a lake catalog publishes next to each table.
    Q("profile_columns",
      """WITH a AS (
        |  SELECT count(*) AS n,
        |    count(*) FILTER (WHERE o_orderstatus IS NULL) AS nl_st,
        |    count(DISTINCT o_orderstatus) AS d_st,
        |    count(*) FILTER (WHERE o_orderpriority IS NULL) AS nl_pr,
        |    count(DISTINCT o_orderpriority) AS d_pr,
        |    count(*) FILTER (WHERE o_custkey IS NULL) AS nl_ck,
        |    count(DISTINCT o_custkey) AS d_ck,
        |    CAST(min(o_custkey) AS DOUBLE) AS min_ck,
        |    CAST(max(o_custkey) AS DOUBLE) AS max_ck,
        |    count(*) FILTER (WHERE o_totalprice IS NULL) AS nl_tp,
        |    count(DISTINCT o_totalprice) AS d_tp,
        |    min(o_totalprice) AS min_tp, max(o_totalprice) AS max_tp
        |  FROM orders)
        |SELECT col, n, n_nulls, n_distinct, min_num, max_num FROM (
        |  SELECT 'o_custkey' AS col, n, nl_ck AS n_nulls, d_ck AS n_distinct,
        |         min_ck AS min_num, max_ck AS max_num FROM a
        |  UNION ALL SELECT 'o_orderpriority', n, nl_pr, d_pr, NULL, NULL FROM a
        |  UNION ALL SELECT 'o_orderstatus', n, nl_st, d_st, NULL, NULL FROM a
        |  UNION ALL SELECT 'o_totalprice', n, nl_tp, d_tp, min_tp, max_tp FROM a)
        |ORDER BY col""".stripMargin) { (s, d) =>
      val a = Tables.orders(s, d).agg(
        count(lit(1)).as("n"),
        sum(when(col("o_orderstatus").isNull, 1).otherwise(0)).as("nl_st"),
        countDistinct(col("o_orderstatus")).as("d_st"),
        sum(when(col("o_orderpriority").isNull, 1).otherwise(0)).as("nl_pr"),
        countDistinct(col("o_orderpriority")).as("d_pr"),
        sum(when(col("o_custkey").isNull, 1).otherwise(0)).as("nl_ck"),
        countDistinct(col("o_custkey")).as("d_ck"),
        min(col("o_custkey")).cast("double").as("min_ck"),
        max(col("o_custkey")).cast("double").as("max_ck"),
        sum(when(col("o_totalprice").isNull, 1).otherwise(0)).as("nl_tp"),
        countDistinct(col("o_totalprice")).as("d_tp"),
        min(col("o_totalprice")).as("min_tp"),
        max(col("o_totalprice")).as("max_tp"))
      def row(name: String, nl: String, dn: String,
          mn: org.apache.spark.sql.Column, mx: org.apache.spark.sql.Column) =
        a.select(lit(name).as("col"), col("n"),
          col(nl).cast("long").as("n_nulls"), col(dn).as("n_distinct"),
          mn.as("min_num"), mx.as("max_num"))
      val nul = lit(null).cast("double")
      row("o_custkey", "nl_ck", "d_ck", col("min_ck"), col("max_ck"))
        .unionAll(row("o_orderpriority", "nl_pr", "d_pr", nul, nul))
        .unionAll(row("o_orderstatus", "nl_st", "d_st", nul, nul))
        .unionAll(row("o_totalprice", "nl_tp", "d_tp",
          col("min_tp"), col("max_tp")))
        .orderBy("col")
    },

    // Snapshot profile drift: per-status row counts, distinct customers
    // and DECIMAL-exact revenue of two date halves of the SAME table,
    // side by side — the schema-drift / volume-drift check a pipeline
    // runs before promoting a new snapshot. ONE scan, conditional
    // aggregates (no self-join of the two halves, no second pass); the
    // two count-distincts expand to a single Expand + two-level
    // aggregate, still one data-sized shuffle at 100 TB.
    // Observed metrics (Dataset.observe + Observation): DQ counters that
    // ride the SAME pass as the pipeline's real work — at 100 TB a
    // separate metrics scan doubles the IO bill, so production loaders
    // attach observers to the write job instead. Here the "real work" is
    // a noop-sink write of the scan (the pipeline shape without a side
    // effect); the observed map is bounded driver metadata by design.
    Q("dq_observe_metrics",
      """SELECT count(*) AS nrows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty,
        |  count(CASE WHEN l_discount > 0.05 THEN 1 END) AS discounted,
        |  count(CASE WHEN l_shipdate IS NULL THEN 1 END) AS null_ship
        |FROM lineitem""".stripMargin) { (s, d) =>
      import s.implicits._
      val obs = org.apache.spark.sql.Observation()
      Tables.lineitem(s, d)
        .observe(obs,
          count(lit(1)).as("nrows"),
          sum(col("l_quantity").cast("decimal(12,2)")).as("qty"),
          count(when(col("l_discount") > 0.05, 1)).as("discounted"),
          count(when(col("l_shipdate").isNull, 1)).as("null_ship"))
        .write.format("noop").mode("overwrite").save()
      val m = obs.get
      Seq((m("nrows").asInstanceOf[Long],
        m("qty").asInstanceOf[java.math.BigDecimal].doubleValue(),
        m("discounted").asInstanceOf[Long],
        m("null_ship").asInstanceOf[Long]))
        .toDF("nrows", "qty", "discounted", "null_ship")
    },

    Q("dq_profile_drift",
      """SELECT o_orderstatus,
        |  CAST(sum(CASE WHEN o_orderdate < '1998-01-01' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_a,
        |  CAST(sum(CASE WHEN o_orderdate >= '1998-01-01' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_b,
        |  count(DISTINCT CASE WHEN o_orderdate < '1998-01-01'
        |    THEN o_custkey END) AS cust_a,
        |  count(DISTINCT CASE WHEN o_orderdate >= '1998-01-01'
        |    THEN o_custkey END) AS cust_b,
        |  CAST(sum(CASE WHEN o_orderdate < '1998-01-01'
        |    THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS sum_a,
        |  CAST(sum(CASE WHEN o_orderdate >= '1998-01-01'
        |    THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS sum_b
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val isA = col("o_orderdate") < "1998-01-01"
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(
          sum(when(isA, 1L).otherwise(0L)).as("n_a"),
          sum(when(!isA, 1L).otherwise(0L)).as("n_b"),
          countDistinct(when(isA, col("o_custkey"))).as("cust_a"),
          countDistinct(when(!isA, col("o_custkey"))).as("cust_b"),
          sum(when(isA, col("o_totalprice").cast("decimal(12,2)")))
            .cast("double").as("sum_a"),
          sum(when(!isA, col("o_totalprice").cast("decimal(12,2)")))
            .cast("double").as("sum_b"))
        .orderBy("o_orderstatus")
    },
  )

  /** Data-quality constraint suite (Deequ-style): each rule is
    * (rule, violations, pass). The counting rules share ONE scan (a
    * single aggregate row); the FK rule is a broadcast anti-join. The
    * audit a 100 TB load job gates on.
    */
  private[graft] def dqCheckOrders(orders: org.apache.spark.sql.DataFrame,
      customer: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val counts = orders.agg(
      sum(when(col("o_orderkey").isNull, 1).otherwise(0)).as("v_null"),
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("v_dup"),
      sum(when(col("o_totalprice") <= 0, 1).otherwise(0)).as("v_price"),
      sum(when(col("o_orderdate") < lit("1992-01-01").cast("timestamp")
        || col("o_orderdate") >= lit("2002-01-01").cast("timestamp"), 1)
        .otherwise(0)).as("v_range"))
    val orphans = orders
      .join(broadcast(customer.select(col("c_custkey"))),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("v_fk"))
    val all = counts.crossJoin(orphans) // two 1-row frames
    def rule(name: String, v: org.apache.spark.sql.Column) =
      all.select(lit(name).as("rule"), v.cast("long").as("violations"),
        (v === 0).as("pass"))
    rule("fk_custkey_exists", col("v_fk"))
      .unionAll(rule("orderdate_in_range", col("v_range")))
      .unionAll(rule("orderkey_not_null", col("v_null")))
      .unionAll(rule("orderkey_unique", col("v_dup")))
      .unionAll(rule("totalprice_positive", col("v_price")))
  }

  /** CDC change-feed apply (frame-parametric kernel behind
    * `cdc_apply_changes` and `graft.api.Graft.applyChanges`): `base` is
    * (k, v), `feed` is (k, seq, op ∈ {U, D}, v). The feed compacts to
    * its highest-seq op per key on ONE key shuffle BEFORE touching the
    * base; last-op D deletes, other touched keys take the feed value,
    * untouched base rows carry → (k, action, v). A delete followed by a
    * later upsert resurrects the key (last-write-wins, not
    * delete-is-sticky). Seq ties break deterministically: 'D' sorts
    * before 'U' at equal seq (delete wins), then the value column
    * descending — so the compaction is a pure function of the feed's
    * CONTENTS, not of partitioning or arrival order (ADVICE r13).
    */
  private[graft] def applyChangesOf(base: org.apache.spark.sql.DataFrame,
      feed: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val wLast = Window.partitionBy(col("k"))
      .orderBy(col("seq").desc, col("op").asc, col("v").desc_nulls_last)
    val lastc = feed
      .withColumn("rn", row_number().over(wLast))
      .where(col("rn") === 1)
      .select(col("k").as("fk"), col("op"), col("v").as("fv"))
    base.select(col("k").as("bk"), col("v").as("bv"))
      .join(lastc, col("bk") === col("fk"), "full_outer")
      .where(col("op").isNull || col("op") =!= "D")
      .select(coalesce(col("bk"), col("fk")).as("k"),
        when(col("fk").isNull, "carry")
          .when(col("bk").isNull, "insert")
          .otherwise("update").as("action"),
        when(col("fk").isNull, col("bv")).otherwise(col("fv")).as("v"))
  }

  /** Frame-parametric MERGE INTO / upsert (re-exported as
    * `graft.api.Graft.mergeUpsert`): `target` and `source` share a schema;
    * matched `key` rows take the source's values (update), unmatched
    * source keys append (insert), untouched target rows carry — plus an
    * `action` audit column. One co-partitioned full-outer shuffle join.
    */
  private[graft] def mergeUpsertOf(target: org.apache.spark.sql.DataFrame,
      source: org.apache.spark.sql.DataFrame, key: String)
      : org.apache.spark.sql.DataFrame = {
    val cols = target.columns
    val t = target.select(cols.map(c => col(c).as(s"t_$c")).toSeq: _*)
      .withColumn("t_present", lit(true))
    val sr = source.select(cols.map(c => col(c).as(s"s_$c")).toSeq: _*)
      .withColumn("s_present", lit(true))
    // branch on WHICH SIDE matched, not per-column coalesce: a matched
    // source row's NULL is a legitimate update (MERGE ... UPDATE SET
    // semantics), it must not silently keep the target's old value. The
    // side indicator is a literal presence flag, NOT the key column — a
    // NULL-key source row never equality-matches, and keying the branch
    // on s_key would emit it as an all-NULL 'insert'; the flag keeps its
    // values and labels it 'insert' (SQL MERGE semantics: WHEN NOT
    // MATCHED inserts the source row as-is, NULL key included).
    t.join(sr, col(s"t_$key") === col(s"s_$key"), "full_outer")
      .select(cols.map(c => when(col("s_present"), col(s"s_$c"))
          .otherwise(col(s"t_$c")).as(c)).toSeq
        :+ when(col("t_present").isNull, "insert")
          .when(col("s_present").isNull, "carry")
          .otherwise("update").as("action"): _*)
  }

  /** Compact the parquet files under `in` into ceil(bytes/targetBytes)
    * files at `out` with `coalesce` (no shuffle — compaction moves bytes,
    * it must not repartition them). Returns (filesBefore, filesAfter).
    */
  private[graft] def compactParquet(s: org.apache.spark.sql.SparkSession,
      in: String, out: String, targetBytes: Long): (Int, Int) = {
    def parquets(dir: String) =
      Streams.listFiles(java.nio.file.Paths.get(dir), ".parquet")
    val before = parquets(in)
    val bytes = before.map(java.nio.file.Files.size).sum
    val nFiles = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    Streams.fileWriter(Tables.readParquet(s, in).coalesce(nFiles))
      .mode("overwrite").parquet(out)
    (before.size, parquets(out).size)
  }
}
