package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan

/** Physical-plan assertions: the engine must not only be correct but plan
  * the way a 100 TB deployment needs — pushdown reaching the scan,
  * broadcast where hinted, top-k without a full sort.
  */
class PlanSpec extends SparkSuite {

  private def physical(name: String): SparkPlan =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan

  private def planString(name: String): String = physical(name).toString

  test("scan_pruned_filtered pushes predicate and prunes columns") {
    val p = planString("scan_pruned_filtered")
    assert(p.contains("PushedFilters: ["), p.take(2000))
    assert(p.contains("IsNotNull") || p.contains("GreaterThan"), p.take(2000))
    val read = "ReadSchema: [^\\n]*".r.findFirstIn(p).getOrElse("")
    assert(!read.contains("l_comment") && read.nonEmpty)
  }

  test("join_broadcast_inner plans a BroadcastHashJoin") {
    assert(planString("join_broadcast_inner").contains("BroadcastHashJoin"))
  }

  test("join_shuffle_hash plans a ShuffledHashJoin") {
    assert(planString("join_shuffle_hash").contains("ShuffledHashJoin"))
  }

  test("join_sort_merge plans a SortMergeJoin") {
    assert(planString("join_sort_merge").contains("SortMergeJoin"))
  }

  test("sort_topk_limit avoids a global sort (TakeOrderedAndProject)") {
    assert(planString("sort_topk_limit").contains("TakeOrderedAndProject"))
  }

  test("rag_knn_topk plans top-k, not full sort, over the vector scan") {
    assert(planString("rag_knn_topk").contains("TakeOrderedAndProject"))
  }

  test("agg_hash_group uses partial (map-side) hash aggregation") {
    val p = planString("agg_hash_group")
    assert(p.contains("HashAggregate"))
    assert(p.contains("partial_"), "expected partial aggregation before shuffle")
  }

  test("join_bucketed is shuffle-free: no hash Exchange below the join") {
    // disable broadcast so the plan shows what bucketing buys at
    // large-large scale (at test size AQE would broadcast the small side)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("join_bucketed")(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p.take(2000))
      // aggregation and join both reuse the table bucketing: the only
      // Exchange is the final ORDER BY's range partitioning
      assert(!p.contains("Exchange hashpartitioning"), p.take(4000))
      assert(p.contains("SelectedBucketsCount") || p.contains("Bucketed: true"),
        p.take(4000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  /** Leaf file scans of an executed (possibly adaptive) plan. */
  private def fileScans(plan: SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    plan.collect {
      case s: FileSourceScanExec    => Seq(s)
      case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
      case q: QueryStageExec        => fileScans(q.plan)
    }.flatten
  }

  /** Executed-plan partition-read counts of every partitioned file scan —
    * the runtime truth the plan-string assertions approximate.
    */
  private def partitionsRead(name: String): Seq[Long] = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect()
    fileScans(df.queryExecution.executedPlan)
      .filter(_.metrics.contains("numPartitions"))
      .map(_.metrics("numPartitions").value)
  }

  test("scan_partition_pruned reads only the selected partitions") {
    val p = planString("scan_partition_pruned")
    assert(p.contains("PartitionFilters:"), p.take(3000))
    assert("PartitionFilters: \\[[^\\]]*event_type".r.findFirstIn(p).isDefined,
      p.take(3000))
    // runtime metric, not plan string: exactly 2 of the 5 event_type
    // partition directories were actually listed into the scan
    assert(partitionsRead("scan_partition_pruned") == Seq(2L))
  }

  test("q5/q10: dim sides broadcast, top-k avoids a global sort") {
    val q5 = planString("q5_local_supplier_volume")
    // the region->nation->supplier chain folds into broadcast join(s);
    // no cartesian product anywhere in the 6-way star
    assert(q5.contains("BroadcastHashJoin"), q5.take(3000))
    assert(!q5.contains("CartesianProduct"), q5.take(3000))
    val q10 = planString("q10_returned_items")
    assert(q10.contains("TakeOrderedAndProject"), q10.take(3000))
    assert(q10.contains("BroadcastHashJoin"), q10.take(3000))
  }

  test("ann_ivf_persisted reads only the nprobe cell partitions") {
    val reads = partitionsRead("ann_ivf_persisted")
    // the probe's literal IN-list prunes the cell directories statically:
    // 3 of the 4 k-means cell partitions are listed into the scan
    assert(reads == Seq(3L), s"cell scan read $reads partitions, wanted 3")
  }

  test("join_dpp_partitioned plans a dynamic partition pruning filter") {
    val p = planString("join_dpp_partitioned")
    assert(p.toLowerCase.contains("dynamicpruning"), p.take(4000))
    // runtime metric: the dim filter (w=1 → only 'click') pruned the fact
    // scan to 1 of 5 partitions at execution time
    val reads = partitionsRead("join_dpp_partitioned")
    assert(reads.contains(1L), s"fact scan read $reads partitions, wanted 1")
  }

  test("cdc_snapshot_diff joins on the aggregation partitioning: 2 shuffles") {
    val p = planString("cdc_snapshot_diff")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 2, s"expected one shuffle per snapshot agg, got $shuffles:\n${p.take(4000)}")
  }

  test("events_uplift_holdout: one fact scan feeds two hash shuffles") {
    // the experimentation readout must stay a single pass over the
    // events fact: one user-keyed Exchange (conversion rollup), one
    // arm-keyed Exchange, then the single-row readout — a second fact
    // scan or a per-arm self-join would double the 100 TB bill
    val p = planString("events_uplift_holdout")
    val scans = "Scan parquet|FileScan".r.findAllIn(p).size
    assert(scans == 1, s"expected one events scan, got $scans")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 2,
      s"expected user + arm shuffles only, got $shuffles:\n${p.take(3000)}")
  }

  test("corpus_dedup_impact: keep flag from ONE content-keyed window, " +
      "no join-back") {
    val p = planString("corpus_dedup_impact")
    val scans = "Scan parquet|FileScan".r.findAllIn(p).size
    assert(scans == 1, s"expected one documents scan, got $scans")
    assert(!p.contains("Join"), "keep-first must not join back:\n" +
      p.take(3000))
  }

  test("join_bloom_runtime injects might_contain into the fact side") {
    operators.ScaleOps.withBloomConfs(spark) {
      val df = operators.ScaleOps.bloomJoinShape(
        Tables.lineitem(spark, sf), Tables.orders(spark, sf))
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("might_contain"), p.take(4000))
      assert(p.contains("bloom_filter_agg"), p.take(4000))
    }
    // and the conf scope restores: a plain re-plan has no bloom filter
    val clean = operators.ScaleOps.bloomJoinShape(
      Tables.lineitem(spark, sf), Tables.orders(spark, sf))
      .queryExecution.executedPlan.toString
    assert(!clean.contains("might_contain"), clean.take(2000))
  }

  test("agg_salted_skew: both phases are hash aggregates with partials") {
    val p = planString("agg_salted_skew")
    assert(p.sliding("HashAggregate".length).count(_ == "HashAggregate") >= 4,
      p.take(3000))
  }

  test("join_skew_aqe splits the hot partition at runtime (skew=true)") {
    // Production-shaped thresholds scaled to fixture bytes: the hot key
    // (~50% of lineitem, carrying the high-entropy l_extendedprice) exceeds
    // max(threshold, factor x median) and is split by OptimizeSkewedJoin.
    // The left side is a multi-FILE copy of lineitem: AQE splits a skewed
    // partition along map-block boundaries, and the single-row-group
    // fixture parquet yields exactly one non-empty map task per scan — a
    // fixture artifact no real many-file table has (see ScaleOps comment).
    val tuned = Seq(
      "spark.sql.shuffle.partitions" -> "16",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "4KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4KB")
    val prev = tuned.map { case (k, _) => k -> spark.conf.getOption(k) }
    tuned.foreach { case (k, v) => spark.conf.set(k, v) }
    val multi = java.nio.file.Files.createTempDirectory("graft_skew_l_").toString
    try {
      Tables.lineitem(spark, "/root/testdata/sf0.01").repartition(5)
        .write.mode("overwrite").parquet(multi)
      val df = operators.ScaleOps.skewJoinShape(
        spark.read.parquet(multi),
        Tables.orders(spark, "/root/testdata/sf0.01"))
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"), p.take(4000))
    } finally {
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(multi)
      java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(pth => java.nio.file.Files.deleteIfExists(pth))
    }
  }

  test("q3_shipping_priority broadcasts the dim chain and plans top-k") {
    val df = SparkEntry.queries("q3_shipping_priority")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
    assert(p.contains("TakeOrderedAndProject"), p.take(4000))
  }

  test("rag_hybrid_rrf ranks limit-bounded frames; top-k is TakeOrderedAndProject") {
    val df = SparkEntry.queries("rag_hybrid_rrf")(spark, sf)
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, Window => LWindow}
    // every unpartitioned row_number window must sit ABOVE a limit — a
    // window whose input subtree has no GlobalLimit would single-partition
    // sort the entire scored corpus (the canonical 100x-scale killer)
    val windows = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(windows.nonEmpty, "expected rank windows in the RRF plan")
    windows.foreach { w =>
      assert(w.child.collectFirst { case g: GlobalLimit => g }.isDefined,
        s"window input is not limit-bounded:\n${w.treeString.take(2000)}")
    }
    // and the top-50 cut itself plans as top-k, not a global sort
    assert(df.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
  }

  test("pack_token_shards: the running sum is a PARTITIONED window, not a global one") {
    val p = planString("pack_token_shards")
    // the window's exchange must hash on the partition key; the only
    // SinglePartition exchange allowed is the final presentation sort's
    // (none — orderBy plans a range exchange). A global-order running sum
    // would show 'Exchange SinglePartition' feeding the Window node.
    val win = p.linesIterator.filter(_.contains("Window")).mkString
    assert(win.contains("source"), s"window not keyed by source: $win")
    assert(!p.contains("Exchange SinglePartition"),
      "running sum collapsed to a single partition")
  }

  test("approx scale routes: ABC window consumes bin rows; RFM approx " +
      "plans no window at all") {
    // abcClasses(approx): the only unpartitioned window may consume the
    // ≤bins bucket aggregate, never item rows — in explain's top-down
    // print the Window line must sit ABOVE the __bin HashAggregate
    val pr = Tables.lineitem(spark, sf)
      .groupBy(col("l_partkey"))
      .agg(sum(col("l_extendedprice")).as("rev"))
    val abc = graft.api.Graft
      .abcClasses(pr, "l_partkey", "rev", approx = true)
    val p = abc.queryExecution.executedPlan.toString
    val lines = p.linesIterator.toVector
    val winIdx = lines.indexWhere(_.contains("Window"))
    val binAggIdx = lines.indexWhere(l =>
      l.contains("HashAggregate") && l.contains("keys=[__bin#"))
    assert(winIdx >= 0 && binAggIdx >= 0, p.take(2500))
    assert(winIdx < binAggIdx,
      "running-share window must consume the bin aggregate, not item rows")
    assert(p.contains("approx_percentile"), p.take(2500))
    // rfmScores(approx): quintile boundaries broadcast and scored
    // map-side — the plan must contain NO window operator (the exact
    // route's three global ntile sorts are the thing being avoided)
    val rfm = graft.api.Graft.rfmScores(Tables.events(spark, sf),
      "user_id", "ts", "event_type", "value", approx = true)
    val rp = rfm.queryExecution.executedPlan.toString
    assert(!rp.contains("Window"), rp.take(2500))
    assert(rp.contains("BroadcastNestedLoopJoin") || rp.contains("Broadcast"),
      rp.take(2500))
    // the ORACLED disc-boundary inventory query keeps the same shape:
    // no global ntile sort, boundaries broadcast
    val dp = planString("events_rfm_approx")
    assert(!dp.contains("Window"), dp.take(2500))
    assert(dp.contains("BroadcastNestedLoopJoin") || dp.contains("Broadcast"),
      dp.take(2500))
  }

  test("dedup_keep_best reuses ONE md5 shuffle for both window functions") {
    val p = planString("dedup_keep_best")
    // count-per-group and row_number share the md5(text) partitioning:
    // exactly one hashpartitioning exchange in the whole plan
    val exchanges = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning")).size
    assert(exchanges == 1, s"expected 1 hash exchange, plan:\n${p.take(3000)}")
  }

  test("source_jdbc_pushdown: predicate into the DB, 4-way parallel scan") {
    // The JDBC source must do its filtering IN the database (PushedFilters
    // on the JDBCRelation) and fan the table across partitionColumn
    // stride ranges — otherwise the operational-DB read is a single
    // connection pulling unfiltered rows.
    val p = planString("source_jdbc_pushdown")
    assert(p.contains("JDBCRelation"), p.take(2500))
    assert(p.contains("numPartitions=4"),
      s"expected a 4-way partitioned JDBC scan:\n${p.take(2500)}")
    assert(p.contains("GreaterThanOrEqual(o_totalprice"),
      s"price predicate must push into the database:\n${p.take(2500)}")
  }

  test("source_jdbc_agg_pushdown: the GROUP BY runs inside the database") {
    // Federation shape: Spark must receive one row per group from the
    // JDBC scan, not the table — PushedAggregates + the group-by
    // expression on the v2 scan prove the DB did the aggregation.
    val p = planString("source_jdbc_agg_pushdown")
    assert(p.contains("PushedAggregates"),
      s"aggregate must push into the database:\n${p.take(2500)}")
    assert(p.contains("PushedGroupByExpressions"),
      s"group-by must push into the database:\n${p.take(2500)}")
  }

  test("SQL-defined functions inline: TVF argument reaches the scan") {
    // The point of SQL-defined functions over JVM UDFs is that the
    // analyzer inlines the body — so the table function's bound `st`
    // argument must surface as an ordinary pushed parquet filter, and the
    // scalar function must leave no UDF black box in the plan.
    val tvf = planString("sql_udf_table")
    assert(tvf.contains("PushedFilters") && tvf.contains("EqualTo(o_orderstatus"),
      s"TVF argument must push to the scan:\n${tvf.take(3000)}")
    val sc = planString("sql_udf_scalar")
    assert(!sc.contains("BatchEvalPython") && !sc.contains("ScalaUDF"),
      s"scalar SQL function must inline, not wrap a UDF:\n${sc.take(3000)}")
  }

  test("corpus_dedup_paragraph: content shuffle + doc reassembly, no more") {
    // The C4-style paragraph dedup must cost exactly two hash exchanges:
    // one keyed on the segment text (global keep-first window) and one on
    // doc_id (reassembly agg) — a third would mean the explode or the md5
    // stage introduced an extra shuffle.
    val p = planString("corpus_dedup_paragraph")
    val exchanges = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning")).size
    assert(exchanges == 2, s"expected 2 hash exchanges, plan:\n${p.take(3000)}")
  }

  test("scd2_orders_history: one entity-key shuffle, filter pushed to scan") {
    val p = planString("scd2_orders_history")
    val exchanges = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning")).size
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges")
    assert(p.contains("PushedFilters") && p.contains("LessThan(o_custkey"),
      "o_custkey bound must reach the parquet scan")
  }

  test("custom expressions stay inside whole-stage codegen") {
    // AQE hides codegen spans until the plan is final — execute first,
    // then inspect the final adaptive plan.
    val df = SparkEntry.queries("rag_knn_topk")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"))
    // '*(n)' prefixes mark whole-stage-codegen spans in the compact tree;
    // the Project computing cosine_sim must carry one
    assert("\\*\\(\\d+\\) Project \\[vec_id".r.findFirstIn(p).isDefined,
      p.take(3000))
  }

  test("ann_filtered_topk pushes the metadata predicate to the store scan") {
    val p = planString("ann_filtered_topk")
    assert(p.contains("EqualTo(label,1)"),
      s"label filter must reach the parquet scan:\n${p.take(3000)}")
    // probes are the broadcast side; the store is never shuffled for scoring
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("q6_forecast_revenue: all three predicates reach the scan, 4-column read") {
    val p = planString("q6_forecast_revenue")
    // the display string truncates the filter list, so assert on the
    // always-leading IsNotNull entries per column
    val pushed = "PushedFilters: [^\\n]*".r.findFirstIn(p).getOrElse("")
    assert(pushed.contains("IsNotNull(l_shipdate)")
      && pushed.contains("IsNotNull(l_discount)")
      && pushed.contains("IsNotNull(l_quantity)"), pushed)
    val read = "ReadSchema: [^\\n]*".r.findFirstIn(p).getOrElse("")
    assert(!read.contains("l_partkey") && !read.contains("l_returnflag"), read)
  }

  test("scan_metadata_cols reads zero data columns (metadata-only scan)") {
    // _metadata.file_name comes from the file split (constant per task)
    // and row_index from the reader's synthetic per-row counter
    // (_tmp_metadata_row_index) — the ReadSchema must contain ONLY that
    // synthetic column, never a data column: no data pages are decoded,
    // same cost class as the footer-answered count(*)
    val p = planString("scan_metadata_cols")
    val read = "ReadSchema: struct<[^>]*>".r.findFirstIn(p).getOrElse("")
    assert(read == "ReadSchema: struct<_tmp_metadata_row_index:bigint>" ||
      read == "ReadSchema: struct<>", read)
  }

  test("winsorize and audience overlap broadcast their tiny frames") {
    // winsorize: the per-group percentile bounds (5 rows) must come back
    // as a broadcast, never a shuffle join against the fact scan
    val w = planString("agg_winsorized_stats")
    assert(w.contains("BroadcastHashJoin"), w.take(2000))
    assert(!w.contains("SortMergeJoin"), w.take(2000))
    // audience overlap: both set-size joins broadcast; the only wide
    // shuffles are the two combiner aggregations
    val a = planString("events_audience_overlap")
    assert(a.contains("BroadcastHashJoin") && !a.contains("SortMergeJoin"),
      a.take(2000))
  }

  test("profile_columns prunes each union leg to its column; dq anti-joins broadcast") {
    val prof = planString("profile_columns")
    // Catalyst rewrites the shared aggregate into per-leg aggregates with
    // per-leg column pruning: each scan reads ONLY its profiled column
    // (total bytes == one wide pass, no Expand fan-out needed)
    val reads = "ReadSchema: struct<[^>]*>".r.findAllIn(prof).toList
    assert(reads.nonEmpty && reads.size <= 4, reads.toString)
    assert(reads.forall(r => r.count(_ == ':') <= 2), reads.toString)
    val dq = planString("dq_constraint_check")
    assert(dq.contains("BroadcastHashJoin") && dq.contains("LeftAnti"),
      dq.take(3000))
  }

  test("attribution/sliding-median: ONE partition-keyed Exchange, no join") {
    val att = planString("attribution_last_touch")
    assert("hashpartitioning\\(user_id".r.findAllIn(att).size == 1,
      att.take(3000))
    assert(!att.contains("Join"),
      "attribution must be a window carry, not a touch self-join")
    val med = planString("win_sliding_median")
    assert("hashpartitioning\\(event_type".r.findAllIn(med).size == 1,
      med.take(3000))
  }

  test("tfidf: df side broadcast-joins; the top-k sees aggregated rows") {
    val p = planString("corpus_tfidf_topterms")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // the top-k consumes the (source, term) aggregate, so a plain
    // HashAggregate must sit strictly below its partial phase
    val topIdx = p.indexOf("partial_collect_top_k")
    assert(topIdx >= 0 &&
      "(?<!Object)HashAggregate".r.findFirstIn(p.substring(topIdx)).nonEmpty,
      "the top-k must run over aggregated term rows, not raw tokens")
  }

  /** Every node of an executed plan, adaptive stages included. */
  private def planNodes(plan: SparkPlan): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    plan match {
      case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
      case q: QueryStageExec        => planNodes(q.plan)
      case p                        => p +: p.children.flatMap(planNodes)
    }
  }

  test("answerBatch ranks through one partial/final collect_top_k pair, " +
      "with no Sort, Window or WindowGroupLimit") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.aggregate.{
      AggregateExpression, CollectTopK, Final, Partial}
    val store = java.nio.file.Files.createTempDirectory("graft_plan_store_")
    try {
      Seq.tabulate(40)(i => s"Fact $i says row ${i % 7} is in the stream.")
        .toDF("text")
        .select(col("text"),
          graft.functions.feature_hash_embed(col("text")).as("embedding"))
        .write.mode("overwrite").parquet(store.toString)
      val df = streaming.Streams.answerBatch(
        Seq("which row is in the stream", "what does fact 3 say").toDF("line"),
        store.toString, k = 3)
      assert(df.collect().length == 2)
      val nodes = planNodes(df.queryExecution.executedPlan)
      val names = nodes.map(_.nodeName)
      assert(!names.exists(n => n.contains("Sort") || n.contains("Window")),
        names.mkString(", "))
      val topK = nodes.flatMap(_.expressions.flatMap(_.collect {
        case a: AggregateExpression if a.aggregateFunction
          .isInstanceOf[CollectTopK] => a.mode }))
      assert(topK.sortBy(_.toString) == Seq(Final, Partial),
        df.queryExecution.executedPlan.toString)
    } finally streaming.Streams.deleteTree(store)
  }

  test("pagerank: equi-joins only; scalar frames broadcast; dq drift one scan") {
    val p = planString("graph_pagerank_copurchase")
    // n is folded in as a driver-scalar literal and rank/degree join on
    // node keys: every join in the plan is an equi-join — no cross
    // product, no nested-loop anywhere
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    val drift = planString("dq_profile_drift")
    assert(!drift.contains("Join"),
      "profile drift must be conditional aggregates over ONE scan")
  }

  test("pagerank adjacency: partial-sum reduce planned only when salting on") {
    import spark.implicits._
    val edges = Seq((0L, 1L), (1L, 0L)).toDF("u", "v")
    val plain = operators.Analytics.pageRankAdjacency(edges, 0L, 16)
      .queryExecution.executedPlan.toString
    val salted = operators.Analytics.pageRankAdjacency(edges, 8L, 16)
      .queryExecution.executedPlan.toString
    // unsalted: ONE node-keyed aggregate, no degree window
    // (the salt key itself folds into the test's LocalTableScan, so the
    // structural markers — the window and the extra aggregate level —
    // are the assertable difference)
    assert(!plain.contains("Window"), plain.take(2000))
    // salted: the degree window (the extra partial-sum reduce) and the
    // compaction aggregate stacked on the partial per-salt one
    assert(salted.contains("Window"), salted.take(2000))
    assert("windowspecdefinition\\(u#".r.findFirstIn(salted).isDefined,
      s"degree window must partition by the node key:\n${salted.take(2000)}")
    val aggs = "HashAggregate|ObjectHashAggregate|SortAggregate".r
    assert(aggs.findAllIn(salted).size > aggs.findAllIn(plain).size,
      s"salted plan should add an aggregate level:\n${salted.take(2000)}")
  }

  test("markov/any-sequence funnel: ONE user-keyed Exchange, stacked windows") {
    // the transition-count frame feeds both the output join and the
    // row-total aggregate, so the user-keyed window subtree appears
    // twice in the INITIAL plan; at runtime AQE must collapse the
    // second occurrence into a ReusedExchange — the fact is physically
    // shuffled once
    val mkDf = SparkEntry.queries("events_markov_transitions")(spark, sf)
    mkDf.collect() // count() would plan a NEW query; collect finalizes AQE
    val mk = mkDf.queryExecution.executedPlan.toString
    val nUser = "hashpartitioning\\(user_id".r.findAllIn(mk).size
    assert(nUser == 1 || mk.contains("ReusedExchange"), mk.take(3000))
    val fn = planString("funnel_any_sequence")
    // both carry-forward max windows share one user partitioning + sort
    assert("hashpartitioning\\(user_id".r.findAllIn(fn).size == 1,
      fn.take(3000))
    assert(!fn.contains("SortMergeJoin"),
      "any-sequence funnel must be window carries, not per-step joins")
  }

  test("MAD outliers: stats frames broadcast back, fact shuffled once") {
    val p = planString("ts_outlier_mad")
    // the hourly reduction is the only event_type-keyed Exchange of the
    // FACT; the median frames join back as broadcasts (their own tiny
    // exchanges are per-series aggregates, not fact reshuffles)
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("pq encode plans as one scan: codegen'd pq_argmin, no fan-out join") {
    val p = planString("ann_pq_topk")
    assert(p.contains("pq_argmin"),
      "encode must run the codegen'd kernel, not a codebook join")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "PQ path must never shuffle-join the store against the codebook")
  }

  test("ivfpq: static cell pruning at the scan, broadcast-only join tree") {
    val p = planString("ann_ivfpq_topk")
    // the routed cells must prune PARTITIONS of the codes scan (literal
    // IN list from the nprobe routing collect), and every join — probe
    // LUT, per-cell correction table, centroid dot, norm — must
    // broadcast; the only shuffle is the (probe, id) combiner aggregate
    assert("PartitionFilters: \\[[^\\]]*cell#\\d+ IN \\(".r
      .findFirstIn(p).isDefined,
      s"routed cells must statically prune the codes scan:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct")
      && !p.contains("ShuffledHashJoin"),
      "IVFPQ scoring must never shuffle-join the codes")
  }

  test("skyline: frontier joins back as a broadcast, no dominance self-join") {
    val p = planString("skyline_price_size")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"),
      "skyline must never plan the quadratic dominance join")
  }

  test("ANALYZE'd stats + CBO join reorder pick a different un-hinted tree") {
    // Every other inventory join order is hint- or DSL-pinned; this is
    // the path an un-hinted user query takes at 100×: ANALYZE TABLE row
    // counts + spark.sql.cbo.joinReorder choose the join tree. The same
    // SQL optimized with and without the stats-driven reorder must yield
    // DIFFERENT join trees (else the CBO demonstration is vacuous), and
    // identical answers.
    def run(reorder: Boolean): (Seq[String], Seq[(String, Double)]) =
      operators.ScaleOps.withCboViews(spark, sf, reorder) {
        val df = spark.sql(operators.ScaleOps.cboSql)
        val order = "cbo_[a-z]+".r
          .findAllIn(df.queryExecution.optimizedPlan.toString).toSeq
        val rows = df.collect()
          .map(r => (r.getString(0), r.getDouble(1))).toSeq
        (order, rows)
      }
    val (offOrder, offRows) = run(reorder = false)
    val (onOrder, onRows) = run(reorder = true)
    assert(offOrder.size == 6 && onOrder.size == 6,
      s"expected 6 relation leaves: off=$offOrder on=$onOrder")
    assert(onOrder != offOrder,
      s"stats-driven join tree must differ from the stats-less one " +
        s"(both $onOrder) — CBO reorder did not fire")
    assert(onRows == offRows, "join order must never change the answer")
    assert(onRows.nonEmpty)
  }

  test("pagerank scans lineitem once: adjacency persist feeds all subtrees") {
    // the adjacency frame feeds p0 + every iteration join (≥3 subtrees);
    // without the persist each consumer would re-derive the basket
    // explode and re-scan lineitem. Task input records across the WHOLE
    // query (scan + 3 cached adjacency reads) must therefore stay within
    // a small multiple of one lineitem pass — a re-scan would at least
    // double it.
    // Count ONLY this query's stages (job-group-scoped): an unscoped
    // counter also sees stragglers from neighbouring tests' async cleanup
    // and any speculative/retried tasks, which made the bounds flaky.
    val read = new java.util.concurrent.atomic.AtomicLong(0L)
    val groupId = "plan-spec-pagerank"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null &&
            groupId == e.properties.getProperty("spark.jobGroup.id"))
          e.stageIds.foreach(id => stages.add(id))
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null && stages.contains(e.stageId))
          read.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    val liRows = Tables.lineitem(spark, sf).count()
    // a prior suite may have cached an IDENTICAL adjacency frame (the
    // CacheManager dedupes by plan), which would satisfy this query with
    // zero lineitem input and starve the counter — start cold
    Harness.release(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(groupId, "pagerank scan-count probe")
      try SparkEntry.queries("graph_pagerank_copurchase")(spark, sf).collect()
      finally spark.sparkContext.clearJobGroup()
      // listener events are async: wait until the counter is stable
      var last = -1L; var spins = 0
      while (read.get() != last && spins < 50) {
        last = read.get(); Thread.sleep(100); spins += 1
      }
      val r = read.get()
      // one lineitem pass + cached adjacency re-reads (O(parts) ≪ rows)
      assert(r < (1.5 * liRows).toLong,
        s"pagerank read $r input records for $liRows lineitem rows — " +
          "the adjacency cache is not being reused")
      // sanity floor only (0.5×): proves the listener saw the lineitem
      // scan at all without flaking on sporadically dropped bus events
      assert(r >= liRows / 2, s"listener undercounted: $r < $liRows/2")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("basket lift scans lineitem once: persisted baskets feed all subtrees") {
    // orders_basket_lift derives pair counts, per-part counts, AND the
    // basket total from one persisted basket frame — without the persist
    // each of the three subtrees would replay the order-keyed build and
    // re-scan lineitem. Same job-group-scoped counter as the pagerank
    // probe above.
    val read = new java.util.concurrent.atomic.AtomicLong(0L)
    val groupId = "plan-spec-basketlift"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null &&
            groupId == e.properties.getProperty("spark.jobGroup.id"))
          e.stageIds.foreach(id => stages.add(id))
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null && stages.contains(e.stageId))
          read.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    val liRows = Tables.lineitem(spark, sf).count()
    Harness.release(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(groupId, "basket lift scan-count probe")
      try SparkEntry.queries("orders_basket_lift")(spark, sf).collect()
      finally spark.sparkContext.clearJobGroup()
      var last = -1L; var spins = 0
      while (read.get() != last && spins < 50) {
        last = read.get(); Thread.sleep(100); spins += 1
      }
      val r = read.get()
      assert(r < (1.5 * liRows).toLong,
        s"basket lift read $r input records for $liRows lineitem rows — " +
          "the basket persist is not being reused")
      assert(r >= liRows / 2, s"listener undercounted: $r < $liRows/2")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("text_hapax_ratio prunes the count side to c=1 BEFORE the join") {
    // the join-back side must carry the hapax filter (c = 1) below the
    // join — at 100 TB that shrinks the build side from the full
    // vocabulary to the hapax tail — and the join must be a LEFT join
    // (absent term = non-hapax), not an inner join against the full
    // term-count table
    val df = SparkEntry.queries("text_hapax_ratio")(spark, sf)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.matches("(?s).*\\(c#\\d+L? = 1\\).*"),
      "no c=1 filter in the optimized plan:\n" + optimized.take(3000))
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.nonEmpty && joins.forall(
      _.joinType == org.apache.spark.sql.catalyst.plans.LeftOuter),
      s"expected only LeftOuter joins, got ${joins.map(_.joinType)}")
    // and the filter sits on the aggregate (count) side of that join,
    // not on the token stream: the join's right child subtree contains
    // the Filter
    val rightHasFilter = joins.exists(_.right.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if f.condition.toString.contains("= 1") => f
    }.nonEmpty)
    assert(rightHasFilter, "c=1 filter is not below the join's build side")
  }

  test("dsir weights broadcast the 256-row score model, never shuffle it") {
    val p = planString("corpus_dsir_weights")
    // the token→score join must be broadcast (KB model), and the only
    // hash exchanges are the bucket-model aggregate and the per-doc
    // collapse — the token stream itself is never key-shuffled twice
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    val tokenExchanges = "hashpartitioning\\((?:b|doc_id)".r
      .findAllIn(p).length
    assert(tokenExchanges <= 2,
      s"expected <= 2 token-stream exchanges (bucket agg + doc " +
        s"collapse), saw $tokenExchanges:\n${p.take(3000)}")
  }

  test("benjamini-hochberg broadcasts part and runs BH on the m-row family") {
    val p = planString("stats_benjamini_hochberg")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    // the windows (rank, m, kmax) must run AFTER the brand aggregate —
    // single-partition exchanges are fine there because the family is
    // m rows, but no window may consume the raw lineitem scan
    val windowOverFact = p.linesIterator.exists(l =>
      l.contains("Window") && l.contains("l_partkey"))
    assert(!windowOverFact, "a window consumed the fact scan")
  }

  test("croston folds per part after ONE (part, week) combiner aggregate") {
    val df = SparkEntry.queries("ts_croston_intermittent")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // two partial aggregates (weekly rollup, then per-part collect) on
    // the same part-keyed grouping: the weekly aggregate must be
    // map-side partial, and the fold itself adds no exchange
    assert("partial_sum|PartialAggregate|partial".r.findAllIn(p).nonEmpty,
      p.take(2000))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 2,
      s"croston should shuffle at most twice (week rollup + part fold), " +
        s"saw $exchanges:\n${p.take(3000)}")
  }

  test("markov removal: the data-sized plan is one user window + one agg") {
    val df = SparkEntry.queries("attribution_markov_removal")(spark, sf)
    // the returned frame is the driver-computed 4-row result; the plan
    // to inspect is the transition aggregate, which already ran. Gate
    // the RESULT shape instead: 4 channels, exact schema
    assert(df.columns.toSeq == Seq("channel", "p_removed_scaled",
      "p_base_scaled", "removal_effect", "credit_share"))
    assert(df.count() == 4)
  }

  test("multi-consumer collapse frames pin to at most one fact scan") {
    // these queries re-consume their collapsed aggregate (grand
    // totals + cells, calendar + per-key reduce, marginals + pairs);
    // the bounded frame is localCheckpoint-pinned, so the final plan
    // must NOT replay the fact scan per consumer — at 100 TB the
    // second scan IS the query cost. (Exchange reuse alone is not
    // guaranteed across an aggregate boundary — measured: without the
    // pin these plans scanned the fact 2–4×.)
    Seq("stats_anova_f", "stats_mood_median", "parts_xyz_classes",
      "orders_hhi_supplier", "events_type_npmi",
      "ts_hurst_rescaled_range", "orders_survival_km").foreach { name =>
      val p = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      val scans = "Scan parquet".r.findAllIn(p).size
      assert(scans <= 1, s"$name: expected ≤1 fact scan, got $scans")
    }
  }

  test("graph kernel rounds plan the exchanges their layout promises") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.util.QueryExecutionListener
    // Every round frame is lazily localCheckpoint'ed, which truncates its
    // plan, so no caller-side explain can show the round shape. The
    // "localCheckpoint" action reports each round's executed plan to a
    // QueryExecutionListener; count its shuffles (exchanges built into a
    // cached frame's plan are not the round's and are not counted).
    val helper = new AdaptiveSparkPlanHelper {}
    val shuffles = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        if (funcName == "localCheckpoint")
          shuffles.add(helper.collect(qe.executedPlan) {
            case x: ShuffleExchangeLike => x }.size)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    // shuffle counts of every checkpoint the kernel made, in call order
    def checkpointShuffles(run: => org.apache.spark.sql.DataFrame)
        : Seq[Int] = {
      shuffles.clear()
      spark.listenerManager.register(listener)
      try {
        run.collect()
        // listener events are async: wait until the queue is stable
        var last = -1; var spins = 0
        while (shuffles.size != last && spins < 50) {
          last = shuffles.size; Thread.sleep(100); spins += 1
        }
      } finally spark.listenerManager.unregister(listener)
      import scala.jdk.CollectionConverters._
      shuffles.asScala.toSeq
    }
    val a = operators.Analytics
    val edges = a.thresholdedCopurchaseEdges(spark, sf, "u", "v", Some("n"))
    val pairs = edges.select("u", "v")
    val source = edges.agg(min(col("u"))).head.getLong(0)
    // label propagation and BFS pre-partition their edges once: ZERO
    // exchanges in every round (and in the seed frames before them)
    val lpa = checkpointShuffles(a.labelPropagationOf(pairs, iters = 5))
    assert(lpa.size == 6 && lpa.forall(_ == 0), s"LPA: $lpa")
    val bfs = checkpointShuffles(a.shortestHopsOf(pairs, source, maxHops = 30))
    assert(bfs.size >= 2 && bfs.forall(_ == 0), s"BFS: $bfs")
    // shortest cost: one node-sized min-combine exchange per round, after
    // the shuffle-free edge and seed checkpoints
    val cost = checkpointShuffles(a.shortestCostOf(
      edges.withColumn("cost", expr("1000000L div n")), source, rounds = 10))
    assert(cost == Seq(0, 0) ++ Seq.fill(10)(1), s"shortest cost: $cost")
  }
}
