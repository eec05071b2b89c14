package graft.operators

import graft.{Q, Tables}
import graft.streaming.Streams
import org.apache.spark.sql.functions._

/** Scans, projections, filters — the base relational surface
  * (SURVEY.md §2.2 "Scans / sources / sinks" + "Projection / filter").
  *
  * All predicates/projections here push into the vectorized parquet scan
  * (asserted in PlanSpec): at 100 TB these queries read only the referenced
  * columns and row groups, never the full table.
  */
object Relational {

  private val pageDefs: Seq[Q] = Seq(
    // Keyset pagination — the scale-correct page fetch: WHERE key >
    // last-seen ORDER BY key LIMIT n is a pushed range predicate + top-k
    // (TakeOrderedAndProject), O(page) work per page. OFFSET pagination
    // (skip-and-discard) re-scans and re-sorts everything before the page
    // and is deliberately NOT in the inventory. Page 3 fetched here by
    // chaining two keyset hops so the query proves the page boundary
    // arithmetic, not just one filter.
    Q("scan_keyset_page",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey > (
        |  SELECT max(o_orderkey) FROM (
        |    SELECT o_orderkey FROM orders
        |    WHERE o_orderkey > (
        |      SELECT max(o_orderkey) FROM (
        |        SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 100))
        |    ORDER BY o_orderkey LIMIT 100))
        |ORDER BY o_orderkey LIMIT 100""".stripMargin) { (s, d) =>
      def pageAfter(lastKey: org.apache.spark.sql.DataFrame) =
        Tables.orders(s, d)
          .join(broadcast(lastKey), col("o_orderkey") > col("k"))
          .orderBy("o_orderkey").limit(100)
      val page1 = Tables.orders(s, d).orderBy("o_orderkey").limit(100)
      def lastOf(p: org.apache.spark.sql.DataFrame) =
        p.agg(max(col("o_orderkey")).as("k"))
      pageAfter(lastOf(pageAfter(lastOf(page1))))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    },
  )

  val defs: Seq[Q] = Seq(

    Q("scan_parquet",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .orderBy("l_orderkey", "l_linenumber")
    },

    Q("scan_pruned_filtered",
      """SELECT l_orderkey, l_linenumber, l_shipdate
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .where(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
               col("l_shipdate") <  lit("1996-01-01").cast("timestamp"))
        .select("l_orderkey", "l_linenumber", "l_shipdate")
        .orderBy("l_orderkey", "l_linenumber")
    },

    Q("sink_parquet_roundtrip",
      """SELECT o_orderstatus, count(*) AS n
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
      // Exercises the parquet sink + re-read path explicitly: result is
      // written columnar and scanned back (Verify additionally round-trips
      // every query result).
      val out = Streams.scratchDir("roundtrip_")
      Streams.fileWriter(Tables.orders(s, d).groupBy("o_orderstatus")
          .agg(count("*").as("n")))
        .mode("overwrite").parquet(out)
      Tables.readParquet(s, out).orderBy("o_orderstatus")
    },

    Q("filter_pred_and_or",
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders
        |WHERE (o_orderstatus = 'F' AND o_totalprice > 150000.0)
        |   OR (o_orderstatus = 'O' AND o_totalprice < 5000.0)
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
      o.where((col("o_orderstatus") === "F" && col("o_totalprice") > 150000.0) ||
              (col("o_orderstatus") === "O" && col("o_totalprice") < 5000.0))
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
    },

    Q("project_expr",
      """SELECT l_orderkey, l_linenumber,
        |  CAST(CAST(l_extendedprice AS DECIMAL(12,2))
        |       * (1 - CAST(l_discount AS DECIMAL(12,2)))
        |       * (1 + CAST(l_tax AS DECIMAL(12,2))) AS DOUBLE) AS net_price
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      // decimal arithmetic keeps the computed value engine-exact
      Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice").cast("decimal(12,2)") *
          (lit(1) - col("l_discount").cast("decimal(12,2)")) *
          (lit(1) + col("l_tax").cast("decimal(12,2)"))
        ).cast("double").as("net_price"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    Q("filter_in_between_like",
      """SELECT p_partkey, p_name, p_brand, p_size
        |FROM part
        |WHERE p_brand IN ('Brand#1', 'Brand#3')
        |  AND p_size BETWEEN 10 AND 40
        |  AND p_type LIKE 'PROM%'
        |ORDER BY p_partkey""".stripMargin) { (s, d) =>
      Tables.part(s, d)
        .where(col("p_brand").isin("Brand#1", "Brand#3") &&
               col("p_size").between(10, 40) &&
               col("p_type").like("PROM%"))
        .select("p_partkey", "p_name", "p_brand", "p_size")
        .orderBy("p_partkey")
    },

    // Metadata-only counts: a bare count(*) over parquet is answered from
    // footer row counts — Spark's LocalLimit/agg over scan specializes so
    // ZERO data pages are read (ReadSchema struct<>, PlanSpec-asserted).
    // At 100 TB the difference between a footer sweep and a full columnar
    // read is the whole query; per-group counts over a partition column
    // keep the same property via directory stats.
    Q("scan_count_metadata",
      "SELECT count(*) AS n FROM lineitem") { (s, d) =>
      Tables.lineitem(s, d).agg(count(lit(1)).as("n"))
    },

    // Hidden file-metadata columns (Spark 4 `_metadata` on file sources):
    // the lineage/debugging scan — which FILE did a row come from, at
    // which position. Projects `_metadata.file_name` / `.row_index` and
    // reduces them to a per-file census; the oracle pins row_index's
    // contract (dense 0..n-1 within each file) purely arithmetically
    // (min=0, max=n-1, sum=n(n-1)/2), so no engine-specific virtual
    // column is needed on the DuckDB side. At 100 TB this is how a bad
    // row is traced to its source file for quarantine/replay: the scan
    // stays columnar, metadata fields come from the reader's file split,
    // not from data pages.
    Q("scan_metadata_cols",
      """SELECT 'lineitem.parquet' AS file_name, count(*) AS n_rows,
        |  CAST(0 AS BIGINT) AS min_ri, count(*) - 1 AS max_ri,
        |  count(*) * (count(*) - 1) // 2 AS sum_ri
        |FROM lineitem""".stripMargin) { (s, d) =>
      // _metadata resolves on the file source relation, whose schema
      // Tables gives from the footer, so the read runs no inference job
      Tables.lineitem(s, d)
        .select(col("_metadata.file_name").as("file_name"),
          col("_metadata.row_index").as("ri"))
        .groupBy("file_name")
        .agg(count(lit(1)).as("n_rows"), min(col("ri")).as("min_ri"),
          max(col("ri")).as("max_ri"), sum(col("ri")).as("sum_ri"))
        .orderBy("file_name")
    },
  ) ++ pageDefs
}
