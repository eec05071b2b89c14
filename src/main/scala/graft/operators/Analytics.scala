package graft.operators

import graft.{Q, Tables}
import graft.functions.word_ngrams
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event/corpus analytics family (round 7): heavy hitters, ordered-step
  * funnels, OHLC downsampling, linear gap interpolation, interval-overlap
  * joins, zonemap file skipping, character entropy, and directional n-gram
  * containment.
  *
  * These are the product-analytics / data-profiling queries a reference
  * user runs next to the relational core (reference scope: the stream
  * aggregation surface of `jobs/src` — `AiJob.java:19-57` — generalized the
  * same way as the rest of Layer B). Every query here is oracled; the
  * scale-sensitive ones (heavy hitters, zonemap) carry an explicit 100 TB
  * design in their comments.
  */
object Analytics {

  /** Touch channels for `attribution_markov_removal` (the non-absorbing
    * event types of the fixture's domain, FIXTURES.md §1).
    */
  private val MarkovChannels = Seq("click", "error", "signup", "view")

  /** Generated oracle for `attribution_markov_removal`: the K=8
    * scaled-integer fixed-point iteration unrolled as eight CTEs (p1..p8),
    * one per step, each computing p_k(removal, state) from p_{k−1} with
    * HUGEINT products/sums and a floor division per source — the exact
    * mirror of the Spark side's driver-side BigInt loop, so the BIGINT
    * outputs are bit-identical by construction.
    */
  private def markovRemovalOracle: String = {
    val rmVals = ("none" +: MarkovChannels)
      .map(c => s"('$c')").mkString(", ")
    def step(k: Int): String =
      s"""p$k AS (
         |  SELECT ch, st, v FROM (
         |    SELECT rm.ch AS ch, n.src AS st,
         |      coalesce(sum(CASE WHEN c.dst <> rm.ch
         |        THEN c.c * p.v END), 0) // n.n AS v
         |    FROM n CROSS JOIN rm
         |    JOIN c ON c.src = n.src
         |    LEFT JOIN p${k - 1} p ON p.ch = rm.ch AND p.st = c.dst
         |    GROUP BY rm.ch, n.src, n.n)
         |  UNION ALL
         |  SELECT ch, 'purchase' AS st,
         |    CAST(1000000000000 AS HUGEINT) AS v FROM rm)""".stripMargin
    s"""WITH ev AS (
       |  SELECT user_id, event_type, epoch_us(ts) AS tus, event_id
       |  FROM events),
       |pos AS (
       |  SELECT user_id, event_type,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY tus, event_id) AS rn
       |  FROM ev),
       |fp AS (
       |  SELECT user_id,
       |    min(CASE WHEN event_type = 'purchase' THEN rn END) AS fpp
       |  FROM pos GROUP BY user_id),
       |j AS (
       |  SELECT p.user_id, p.event_type, p.rn
       |  FROM pos p JOIN fp USING (user_id)
       |  WHERE fpp IS NULL OR p.rn <= fpp),
       |tr AS (
       |  SELECT src, dst FROM (
       |    SELECT user_id, event_type AS src,
       |      coalesce(lead(event_type) OVER (PARTITION BY user_id
       |        ORDER BY rn), 'drop') AS dst
       |    FROM j)
       |  WHERE src <> 'purchase'
       |  UNION ALL
       |  SELECT 'start' AS src, event_type AS dst FROM j WHERE rn = 1),
       |c AS (SELECT src, dst, CAST(count(*) AS HUGEINT) AS c
       |      FROM tr GROUP BY 1, 2),
       |n AS (SELECT src, sum(c) AS n FROM c GROUP BY 1),
       |rm(ch) AS (SELECT * FROM (VALUES $rmVals) AS t(ch)),
       |p0 AS (SELECT ch, 'purchase' AS st,
       |       CAST(1000000000000 AS HUGEINT) AS v FROM rm),
       |${(1 to 8).map(step).mkString(",\n")},
       |fin AS (SELECT ch, v FROM p8 WHERE st = 'start'),
       |base AS (SELECT v AS bv FROM fin WHERE ch = 'none'),
       |eff AS (SELECT ch, v, bv, bv - v AS de
       |        FROM fin, base WHERE ch <> 'none'),
       |tot AS (SELECT sum(de) AS td FROM eff)
       |SELECT ch AS channel,
       |  CAST(v AS BIGINT) AS p_removed_scaled,
       |  CAST(bv AS BIGINT) AS p_base_scaled,
       |  CASE WHEN bv > 0 THEN CAST(de AS DOUBLE) / CAST(bv AS DOUBLE)
       |       ELSE 0.0 END AS removal_effect,
       |  CASE WHEN td > 0 THEN CAST(de AS DOUBLE) / CAST(td AS DOUBLE)
       |       ELSE 0.0 END AS credit_share
       |FROM eff, tot ORDER BY channel""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Heavy hitters
  // ---------------------------------------------------------------------

  /** Frame-parametric two-pass heavy hitters (re-exported as
    * `graft.api.Graft.heavyHitters`): `docs` needs a string column
    * `textCol`; returns the exact global top-`k` tokens by count.
    *
    * Pass 1 — per-partition Misra-Gries summaries (`cap` counters): each
    * task streams its rows once through a bounded counter map; on
    * overflow every counter is decremented (the MG step), so any token
    * with partition frequency > N_p/cap provably survives. Each task
    * emits its top-`m` surviving tokens as CANDIDATES. The long tail —
    * the overwhelming majority of a 100 TB corpus's token mass — dies
    * inside the task and never shuffles.
    *
    * Pass 2 — exact recount of candidates only: the candidate set is
    * O(partitions × m), broadcast onto the token stream as an equi-join,
    * and only matching tokens pay the count shuffle. Result is exact
    * whenever every true top-k token is some partition's local top-m —
    * guaranteed for k ≤ m under MG's frequency bound, and verified
    * against the single-shuffle exact query by the shared oracle.
    *
    * Contrast with `agg_heavy_hitters`: the one-pass groupBy shuffles
    * every distinct token (fine when the vocabulary fits the shuffle;
    * pathological when it is web-scale n-gram-like). This is the standard
    * two-phase trade: candidates-then-verify, same as the dedup family.
    */
  private[graft] def heavyHittersOf(docs: DataFrame, textCol: String,
      k: Int, m: Int = 64, cap: Int = 256): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val candidates = docs.select(col(textCol).cast("string")).as[String]
      .mapPartitions { rows =>
        val counts = scala.collection.mutable.HashMap.empty[String, Long]
        rows.foreach { text =>
          if (text != null) text.split(' ').foreach { tok =>
            if (tok.nonEmpty) {
              if (counts.contains(tok) || counts.size < cap)
                counts(tok) = counts.getOrElse(tok, 0L) + 1L
              else {
                // Misra-Gries decrement: all counters down one, zeros out
                val dead = List.newBuilder[String]
                counts.keysIterator.foreach { key =>
                  val c = counts(key) - 1L
                  if (c == 0L) dead += key else counts(key) = c
                }
                dead.result().foreach(counts.remove)
              }
            }
          }
        }
        counts.toSeq.sortBy { case (t, c) => (-c, t) }
          .take(m).map(_._1).iterator
      }
      .toDF("tok").distinct()
    docs.select(explode(split(col(textCol), " ")).as("tok"))
      .where(col("tok") =!= "")
      .join(broadcast(candidates), Seq("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok"))
      .limit(k)
  }

  /** Frame-parametric ordered-step funnel (re-exported as
    * `graft.api.Graft.funnel`): `steps` is (eventType, maxGapHours) —
    * the gap bound applies from the PREVIOUS step's time (ignored for
    * step 1). Every step time is a conditional window min over the SAME
    * user partitioning, so N steps cost ONE Exchange of the event frame
    * + N stacked Window operators (never N self-joins). Returns one row:
    * `u_step1..u_stepN` distinct-user counts per reached step.
    */
  private[graft] def funnelOf(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String,
      steps: Seq[(String, Int)]): DataFrame = {
    val df = funnelTimes(events, userCol, typeCol, tsCol, steps)
    val aggs = steps.indices.map(i =>
      countDistinct(when(col(s"__t$i").isNotNull, col(userCol)))
        .as(s"u_step${i + 1}"))
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** The funnel window chain of [[funnelOf]] without the final count —
    * per-event rows with `__t0..__tN-1` step-time columns (used by the
    * time-to-convert query, which needs the step times themselves).
    */
  private[graft] def funnelTimes(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String,
      steps: Seq[(String, Int)]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val byUser = Window.partitionBy(userCol)
    var df = events
    steps.zipWithIndex.foreach { case ((et, gapH), i) =>
      val cond =
        if (i == 0) col(typeCol) === et
        else col(typeCol) === et &&
          col(tsCol) > col(s"__t${i - 1}") &&
          col(tsCol) <= col(s"__t${i - 1}") + expr(s"INTERVAL $gapH HOURS")
      df = df.withColumn(s"__t$i",
        min(when(cond, col(tsCol))).over(byUser))
    }
    df
  }

  /** Shannon entropy (bits/char) over the char-array column named
    * `chCol`: the fold runs over the SORTED distinct-char list so the
    * summation order — and therefore the double result — is fully
    * determined by the input. Row-local HOFs only: no shuffle, codegen'd,
    * linear at 100 TB. Negated at the call site (H = -Σ p·log2 p).
    */
  private[graft] def charEntropyNeg(chCol: String)
      : org.apache.spark.sql.Column = expr(
    s"""aggregate(
       |  transform(array_sort(array_distinct($chCol)),
       |    c -> (cast(size(filter($chCol, x -> x = c)) as double)
       |          / size($chCol))
       |         * round(log2(cast(size(filter($chCol, x -> x = c)) as double)
       |                / size($chCol)), 8)),
       |  0D, (acc, x) -> acc + x)""".stripMargin)

  // ---------------------------------------------------------------------
  // Zonemap layout (materialized once per (JVM, sfDir), like
  // ScaleOps.partitionedEvents: storage preparation, not per-query cost)
  // ---------------------------------------------------------------------

  private val zoneDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** events re-written range-partitioned + sorted by `value` into 8 files
    * — the clustered layout that gives per-file min/max statistics their
    * pruning power (random layout ⇒ every file covers the full range ⇒
    * zonemaps prune nothing).
    */
  private[graft] def zonemapLayout(s: SparkSession, d: String): String =
    zoneDirs.computeIfAbsent(d, { _ =>
      val dir = java.nio.file.Files.createTempDirectory("graft_zonemap_")
        .toString
      Tables.events(s, d)
        .repartitionByRange(8, col("value"))
        .sortWithinPartitions("value")
        .write.mode("overwrite").parquet(dir)
      dir
    })

  /** The file paths whose [min(value), max(value)] zone intersects
    * [lo, hi]. The zonemap itself is O(files) metadata rows — the same
    * bounded-collect class as ann_ivf_persisted's nprobe cell ids; at
    * 100 TB this table lives in the catalog (Delta/Iceberg file stats)
    * and the collect is a metadata read, not a data read.
    */
  private[graft] def zonemapPrunedFiles(s: SparkSession, dir: String,
      lo: Double, hi: Double): (Array[String], Long) =
    zonemapPrunedFilesOf(s, dir, "value", lo, hi)

  /** Column-parametric zonemap pruning (the `Graft.zonemapPrunedFiles`
    * facade surface): per-file [min, max] of `valueCol` over the parquet
    * files of `dir`, keep = zones intersecting [lo, hi]. All-NULL-column
    * files have NULL zone bounds and are conservatively KEPT (their
    * rows can't match a range probe, but skipping decisions must never
    * depend on absent statistics).
    */
  private[graft] def zonemapPrunedFilesOf(s: SparkSession, dir: String,
      valueCol: String, lo: Double, hi: Double): (Array[String], Long) = {
    val zones = zonemapZones(s, dir, valueCol)
    val total = zones.count()
    val keep = zoneKeepSet(zones, lo, hi)
      .collect().map(_.getString(0))
    (keep, total)
  }

  /** The per-file [min, max] zone table of `valueCol` over `dir`'s
    * parquet files — the DataFrame the pruning decisions derive from. At
    * 100 TB this is the catalog's file-statistics table (Delta/Iceberg
    * footer stats); here it is recomputed from the data, but it stays a
    * DATAFRAME so consumers can join against it instead of materializing
    * a driver-side file array.
    */
  private[graft] def zonemapZones(s: SparkSession, dir: String,
      valueCol: String): DataFrame =
    s.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min(col(valueCol).cast("double")).as("lo"),
        max(col(valueCol).cast("double")).as("hi"))

  /** Files whose zone intersects [lo, hi], as a one-column frame.
    * All-NULL-column files have NULL zone bounds and are conservatively
    * KEPT (their rows can't match a range probe, but skipping decisions
    * must never depend on absent statistics).
    */
  private def zoneKeepSet(zones: DataFrame, lo: Double, hi: Double)
      : DataFrame =
    zones.where(col("lo").isNull || (col("lo") <= hi && col("hi") >= lo))
      .select("f")

  /** Zonemap-pruned scan WITHOUT driver materialization: the keep-set
    * stays a DataFrame and reaches the scan as a broadcast LEFT-SEMI
    * join on `input_file_name()` — at 100 TB with ~10⁶ files the
    * driver-array variant above is a multi-hundred-MB collect, while
    * this keeps the zone table distributed end-to-end (the keep-set is
    * O(files) metadata rows, broadcast-small by construction). Row-level
    * I/O skipping still comes from the pushed [lo, hi] predicate the
    * caller applies (parquet row-group stats); the semi-join contributes
    * the file-level decision exactly as the collected variant did.
    */
  private[graft] def zonemapScan(s: SparkSession, dir: String,
      valueCol: String, lo: Double, hi: Double): DataFrame = {
    val keep = zoneKeepSet(zonemapZones(s, dir, valueCol), lo, hi)
    s.read.parquet(dir)
      .withColumn("__file", input_file_name())
      .join(broadcast(keep), col("__file") === col("f"), "left_semi")
      .drop("__file")
  }

  /** Frame-parametric integer PageRank (re-exported as
    * `graft.api.Graft.pageRank`): `edges` needs LONG columns (u, v);
    * rank mass flows u→v. Ranks are scaled to 1e9 and every step is
    * BIGINT arithmetic — deterministic under any summation order, any
    * engine. Contract: every node must appear as a SOURCE (undirected
    * graphs — both edge directions present — satisfy this); a
    * target-only node accumulates rank but contributes none. Returns
    * (u, pr) after `iters` iterations. The edge frame is deduplicated
    * and persisted; intermediate iterations localCheckpoint so the plan
    * doesn't grow exponentially with `iters` (same discipline as the
    * connected-components rounds).
    *
    * Internally the edge multiset is held as an ADJACENCY LIST
    * (u, neighbors): a pair-level codegen DISTINCT (map-side partial
    * dedup) feeds one node-keyed `collect_list` append — see
    * [[pageRankAdjacency]] for why this beats a one-shuffle per-node
    * `collect_set`. Each iteration is then a node-level join of the
    * O(nodes) rank frame against the O(nodes) adjacency frame (AQE
    * broadcasts the rank side while it fits), an in-task explode, and
    * ONE node-keyed shuffle for the sum — the per-edge contribution
    * `pr div d` is computed once per NODE, not once per edge.
    *
    * Power-law scale: `saltDegree` > 0 switches to a TWO-LEVEL (salted)
    * adjacency. Neighbor sets build per (u, salt) with salt =
    * hash(v) mod `salts`, so a multi-million-degree hub's set splits
    * across ≤`salts` rows instead of one unboundedly-wide row (the
    * single-row layout's documented cap). Salting by a hash OF THE
    * NEIGHBOR keeps the per-salt neighbor lists disjoint (pairs are
    * already globally deduped upstream). Total degree then needs the extra
    * PARTIAL-SUM REDUCE — a node-keyed window sums the per-salt set
    * sizes (O(rows) = O(nodes·salts) worst case, tiny) — and a
    * compaction re-merges nodes at degree ≤ saltDegree back to one row
    * (flatten of disjoint per-salt sets), so the common case pays no
    * row inflation while hubs stay split. Iterations are shape-
    * identical: hub contributions partial-sum map-side across their
    * salt rows before the final node-keyed reduce, and ranks are
    * BIT-IDENTICAL to the unsalted layout (same per-edge `pr div d`
    * terms, integer sum in any order). saltDegree = 0 (default) keeps
    * the single-row adjacency and plans NO extra reduce.
    */
  private[graft] def pageRankOf(edges: DataFrame, iters: Int,
      saltDegree: Long = 0L, salts: Int = 16): DataFrame = {
    // persist + one blocking count: the n job materializes the adjacency
    // cache, so every downstream frame (p0, every iteration join) reads
    // InMemoryRelation instead of re-deriving the groupBy. n is an O(1)
    // driver scalar folded into the plan as a LITERAL (Scala Long
    // division == SQL div), removing per-iteration one-row joins.
    val saltedLayout = saltDegree > 0L
    val adj = pageRankAdjacency(edges, saltDegree, salts).persist()
    // one row per node for n and p0 (the salted layout holds hubs on
    // several rows; the distinct reads the already-persisted adj)
    val nodes =
      if (saltedLayout) adj.select(col("u")).distinct() else adj.select(col("u"))
    val n = nodes.count()
    require(n > 0, "pageRank: edge frame has no source nodes")
    val init = 1000000000L / n
    val base = (15L * init) / 100L
    val p0 = nodes.select(col("u").as("pu"), lit(init).as("pr"))
    def step(p: DataFrame): DataFrame =
      adj.join(p, col("u") === col("pu"))
        .select(col("vs"), expr("pr div d").as("c"))
        .select(explode(col("vs")).as("pu"), col("c"))
        .groupBy(col("pu"))
        .agg((lit(base) + expr("(85L * sum(c)) div 100")).as("pr"))
    // localCheckpoint is EAGER — each one is a full extra job — and plan
    // depth grows only LINEARLY per round here, so cut the lineage every
    // third round instead of every round: short walks (iters <= 3, both
    // bench queries) plan zero checkpoint jobs, long walks stay bounded.
    val ranked = (1 to iters).foldLeft(p0) { (p, i) =>
      if (i < iters && i % 3 == 0) step(p).localCheckpoint() else step(p)
    }
    ranked.select(col("pu").as("u"), col("pr"))
  }

  /** PERSONALIZED PageRank (random walk with restart, re-exported as
    * `graft.api.Graft.personalizedPageRank`) — the recommendation
    * primitive the global [[pageRankOf]] can't express: all teleport
    * mass returns to the SEED node instead of spreading uniformly, so
    * ranks measure proximity to the seed (what "customers also bought"
    * actually scores). Same integer discipline as pageRankOf — ranks
    * scaled to 1e9, `pr div d` truncating integer division per node,
    * order-independent under summation, bit-identical cross-engine —
    * and the same [[pageRankAdjacency]] layouts (salted hub splitting
    * included). p0 = 1e9 at the seed only; each of exactly `iters`
    * rounds is one adjacency⋈rank join + in-task explode + ONE
    * node-keyed shuffle, and the rank frame stays SPARSE (only nodes
    * the walk has reached carry rows — at 100 TB a 3-round PPR touches
    * the seed's 3-hop ball, never the full node set). The seed's
    * teleport row rides a one-row union so restart mass survives even
    * when no walk mass returns to the seed.
    */
  private[graft] def pprOf(edges: DataFrame, seed: Long, iters: Int,
      saltDegree: Long = 0L, salts: Int = 16): DataFrame =
    pprRounds(pageRankAdjacency(edges, saltDegree, salts).persist(),
      seed, iters)

  /** [[pprOf]] with the seed DERIVED from the graph itself (min source
    * node) instead of passed in — the `graph_ppr_seeded` contract. The
    * seed head() doubles as the adjacency persist's materializing
    * action (the pageRankOf count discipline), so the walk plans no
    * extra scan of anything: one adjacency build, one O(1) driver
    * scalar, `iters` sparse rounds. Empty edge frames yield an empty
    * result (same schema).
    */
  private[graft] def pprMinSeeded(edges: DataFrame, iters: Int,
      saltDegree: Long = 0L, salts: Int = 16): DataFrame = {
    val adj = pageRankAdjacency(edges, saltDegree, salts).persist()
    val seedRow = adj.agg(min(col("u"))).head
    if (seedRow.isNullAt(0))
      adj.select(col("u"), lit(0L).as("pr")).where(lit(false))
    else pprRounds(adj, seedRow.getLong(0), iters)
  }

  private def pprRounds(adj: DataFrame, seed: Long, iters: Int)
      : DataFrame = {
    val spark = adj.sparkSession
    import spark.implicits._
    val base = 150000000L // 0.15 · 1e9: the restart mass, seed-only
    val p0 = Seq((seed, 1000000000L)).toDF("pu", "pr")
    val ranked = (1 to iters).foldLeft(p0) { (p, i) =>
      val contrib = adj.join(p, col("u") === col("pu"))
        .select(col("vs"), expr("pr div d").as("c"))
        .select(explode(col("vs")).as("pu"), col("c"))
        .unionAll(Seq((seed, 0L)).toDF("pu", "c"))
      val next = contrib.groupBy(col("pu"))
        .agg((when(col("pu") === seed, lit(base)).otherwise(lit(0L))
          + expr("(85L * sum(c)) div 100")).as("pr"))
      // same lineage rule as pageRankOf: depth grows linearly, cut
      // every third round so short walks plan zero checkpoint jobs
      if (i < iters && i % 3 == 0) next.localCheckpoint() else next
    }
    ranked.select(col("pu").as("u"), col("pr"))
  }

  /** Shared body of the two co-purchase PageRank queries: basket edge
    * build (same shape as graph_copurchase_pairs — one order-keyed
    * shuffle collects each order's part set, both edge directions explode
    * IN-TASK; no self-join, no pair-level Exchange before the adjacency
    * build), then the integer PageRank in the requested adjacency layout.
    */
  private def pageRankCopurchase(s: SparkSession, d: String,
      saltDegree: Long): DataFrame = {
    val edges = copurchaseEdgeFanout(s, d)
    pageRankOf(edges, 2, saltDegree = saltDegree, salts = 8)
      .select(col("u").as("part"), col("pr").as("rank_scaled"))
      .orderBy(col("rank_scaled").desc, col("part"))
      .limit(20)
  }

  /** Duplicate-free directed co-purchase edge fan-out (both directions)
    * shared by the PageRank/PPR queries: one order-keyed shuffle
    * collects each order's part set, both edge directions explode
    * IN-TASK — no self-join, no pair-level Exchange before the
    * adjacency build (which dedups pairs itself).
    */
  private def copurchaseEdgeFanout(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("ps"))
      .select(col("ps"), explode(col("ps")).as("u"))
      .select(col("u"), explode(expr("filter(ps, x -> x != u)")).as("v"))

  /** The (u, vs, d) adjacency frame [[pageRankOf]] iterates over — rows
    * carry the node's TOTAL deduped degree `d` so `pr div d` is a per-row
    * expression in both layouts. Not persisted here (pageRankOf does).
    * Exposed `private[graft]` so ApiSpec can assert the salted layout's
    * row structure directly.
    */
  private[graft] def pageRankAdjacency(edges: DataFrame,
      saltDegree: Long, salts: Int): DataFrame = {
    // Pair-level DISTINCT first (whole-stage-codegen HashAggregate over
    // compact (u, v) Tungsten rows, with map-side partial dedup — at
    // co-purchase scale duplicate pairs across orders collapse BEFORE
    // the node-keyed shuffle), then a plain collect_list APPEND per
    // node. The former one-shuffle build dedup'd inside the aggregation
    // via per-node collect_set (ObjectHashAggregate growing one hash
    // set per group), which r13 measured as hypersensitive to VM
    // placement — up to ~20x process-CPU swings concentrated exactly in
    // hash-set memory traffic (BASELINE.md). Paying one extra exchange
    // of already-unique pairs for a codegen dedup + cheap append is
    // faster on every placement and the placement-robust 100 TB plan.
    val dedup = edges.select(col("u"), col("v")).distinct()
    if (saltDegree <= 0L) {
      dedup.groupBy(col("u"))
        .agg(collect_list(col("v")).as("vs"))
        .select(col("u"), col("vs"), size(col("vs")).cast("long").as("d"))
    } else {
      val partial = dedup
        .groupBy(col("u"),
          pmod(xxhash64(col("v")), lit(salts.toLong)).as("salt"))
        .agg(collect_list(col("v")).as("vs"))
      // extra partial-sum reduce: total degree from the per-salt sizes
      // (window over the partial rows, not a self-join — partial is
      // derived once)
      partial
        .withColumn("d", sum(size(col("vs")))
          .over(Window.partitionBy(col("u"))))
        .groupBy(col("u"),
          when(col("d") > saltDegree, col("salt")).otherwise(lit(-1L))
            .as("g"))
        .agg(flatten(collect_list(col("vs"))).as("vs"),
          first(col("d")).as("d"))
        .select(col("u"), col("vs"), col("d"))
    }
  }

  /** Frame-parametric last-touch attribution (re-exported as
    * `graft.api.Graft.lastTouch`): one row per `convType` event with the
    * latest STRICTLY-PRIOR `touchTypes` event by the same `userCol`
    * within `lookbackMicros`, else touch = 'none'. Ordering (and the
    * strict-priority tie-break) is (tsMicrosCol, idCol) — pass a unique
    * id. Linear: one user-keyed shuffle, two ignore-null carries over
    * the same frame; never the quadratic conversion×touch self-join.
    */
  private[graft] def lastTouchOf(events: DataFrame, userCol: String,
      typeCol: String, tsMicrosCol: String, idCol: String,
      touchTypes: Seq[String], convType: String,
      lookbackMicros: Long): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy(col(tsMicrosCol), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val isTouch = col(typeCol).isin(touchTypes: _*)
    events
      .withColumn("touch_tus",
        last(when(isTouch, col(tsMicrosCol)), ignoreNulls = true).over(w))
      .withColumn("touch_type",
        last(when(isTouch, col(typeCol)), ignoreNulls = true).over(w))
      .where(col(typeCol) === convType)
      .withColumn("touch",
        when(col("touch_tus").isNotNull &&
            col(tsMicrosCol) - col("touch_tus") <= lookbackMicros,
          col("touch_type")).otherwise("none"))
      .drop("touch_type")
  }

  /** Frame-parametric LINEAR (multi-touch) attribution (re-exported as
    * `graft.api.Graft.linearTouch`): each `convType` event splits one
    * unit of credit equally across ALL its qualifying `touchTypes`
    * events — same `userCol`, timestamp STRICTLY earlier, within
    * `lookbackMicros` — the industry-default fractional model next to
    * [[lastTouchOf]]'s winner-take-all. Conversions with no qualifying
    * touch credit 'none' in full.
    *
    * Linear like lastTouch: ONE user-keyed shuffle; per-type qualifying
    * counts come from RANGE-frame window counts over the same ordered
    * frame (frame contents depend only on the timestamp values, so ties
    * in `tsMicrosCol` don't make the result order-sensitive) — never the
    * quadratic conversion×touch self-join. Credit arithmetic is EXACT
    * and order-independent: each conversion's per-type share is an
    * integer `(cnt_type * 1e12) div n` (both engines truncate positive
    * integer division identically), shares sum as DECIMAL(38,0), and
    * only the final per-column readout divides by 1e12 — one double
    * division per output cell, bit-identical cross-engine.
    *
    * Returns ONE wide row: per-touch-type scaled credit readouts
    * (`<type>_credit`), `none_credit`, and `n_conversions`.
    */
  private[graft] def linearTouchOf(events: DataFrame, userCol: String,
      typeCol: String, tsMicrosCol: String, touchTypes: Seq[String],
      convType: String, lookbackMicros: Long): DataFrame = {
    val SC = 1000000000000L // credit scale: 1 conversion = 1e12 units
    // (cnt·SC) must fit int64: Spark wraps silently on overflow while
    // DuckDB errors, so past this bound fail LOUDLY on both engines
    // instead of breaking the bit-identical cross-engine contract.
    val MAXN = Long.MaxValue / SC // 9,223,372 qualifying touches
    val w = Window.partitionBy(userCol).orderBy(col(tsMicrosCol))
      .rangeBetween(-lookbackMicros, -1)
    val counted = touchTypes.foldLeft(events) { (df, t) =>
      df.withColumn(s"__n_$t",
        count(when(col(typeCol) === t, lit(1))).over(w))
    }
    val n = touchTypes.map(t => col(s"__n_$t")).reduce(_ + _)
    val conv = counted.where(col(typeCol) === convType)
      .withColumn("__n", n)
    val creditCols = touchTypes.map { t =>
      // guard the PER-TYPE count — the operand actually multiplied by
      // SC — not the cross-type total: a total-based guard fires in a
      // band where DuckDB's exact arithmetic still succeeds, inverting
      // the fail-identically contract
      sum(when(col(s"__n_$t") > MAXN, raise_error(lit(
          s"linearTouchOf: >$MAXN '$t' touches in one lookback; " +
            "scaled credit overflows int64")).cast("decimal(38,0)"))
        .when(col("__n") > 0,
          expr(s"(__n_$t * ${SC}L) div __n").cast("decimal(38,0)"))
        .otherwise(lit(0).cast("decimal(38,0)")))
        .cast("double").divide(lit(1.0e12)).as(s"${t}_credit")
    } ++ Seq(
      sum(when(col("__n") === 0, lit(1).cast("decimal(38,0)"))
        .otherwise(lit(0).cast("decimal(38,0)")))
        .cast("double").as("none_credit"),
      count(lit(1)).as("n_conversions"))
    conv.agg(creditCols.head, creditCols.tail: _*)
  }

  /** Frame-parametric POSITION-BASED (U-shaped) attribution (re-exported
    * as `graft.api.Graft.positionTouch`) — the third industry-standard
    * model beside [[lastTouchOf]] and [[linearTouchOf]]: with n
    * qualifying touches, the FIRST and LAST get 40% each and the middle
    * n-2 split the remaining 20% equally (n=1 → 100%, n=2 → 50/50,
    * none → 'none' in full).
    *
    * Same ONE user-keyed shuffle, same RANGE-frame counting as linear.
    * First/last touch are picked deterministically even under timestamp
    * ties: the frame min/max of the STRING `lpad(ts, 20, '0') || type`
    * (aggregate min/max ignore the NULLs of non-touch rows, digits and
    * ASCII type names compare bytewise identically in both engines, and
    * ties at one microsecond resolve by type name — a documented model
    * choice, not an engine accident). Requires a non-negative
    * `tsMicrosCol` (the zero-pad keeps numeric and lexicographic order
    * aligned). Credit arithmetic is the exact scaled-integer scheme of
    * [[linearTouchOf]]: 40% = 4e11 units exactly, the middle pool is
    * `2e11 div (n-2)` per middle touch (positive integer division, the
    * sub-n·1e-12 remainder stays unallocated — both engines truncate
    * identically), sums are DECIMAL(38,0), one double division per
    * output cell.
    */
  private[graft] def positionTouchOf(events: DataFrame, userCol: String,
      typeCol: String, tsMicrosCol: String, touchTypes: Seq[String],
      convType: String, lookbackMicros: Long): DataFrame = {
    val SC = 1000000000000L
    val w = Window.partitionBy(userCol).orderBy(col(tsMicrosCol))
      .rangeBetween(-lookbackMicros, -1)
    val isTouch = col(typeCol).isin(touchTypes: _*)
    val key = concat(lpad(col(tsMicrosCol).cast("string"), 20, "0"),
      col(typeCol))
    val counted = touchTypes.foldLeft(events) { (df, t) =>
      df.withColumn(s"__n_$t",
        count(when(col(typeCol) === t, lit(1))).over(w))
    }
      .withColumn("__ft", min(when(isTouch, key)).over(w))
      .withColumn("__lt", max(when(isTouch, key)).over(w))
    val n = touchTypes.map(t => col(s"__n_$t")).reduce(_ + _)
    val conv = counted.where(col(typeCol) === convType)
      .withColumn("__n", n)
      // no length cap: a touch-type name longer than a cap would never
      // equal any t in hit() and its 40% credit would silently vanish
      .withColumn("__ftt", expr("substring(__ft, 21)"))
      .withColumn("__ltt", expr("substring(__lt, 21)"))
    // no overflow guard here (unlike linear/time-decay): the largest
    // per-conversion credit is 4e11 + 4e11 + (n_t−2)·(2e11 div (n−2))
    // ≤ ~1e12 for ANY n — no count·SC product exists in this model and
    // the sums are DECIMAL(38,0), so int64 never overflows
    def hit(c: Column, t: String): Column = when(c === t, 1L).otherwise(0L)
    val creditCols = touchTypes.map { t =>
      val perConv =
        when(col("__n") === 1, hit(col("__ftt"), t) * lit(SC))
          .when(col("__n") === 2,
            (hit(col("__ftt"), t) + hit(col("__ltt"), t)) * lit(SC / 2))
          .when(col("__n") >= 3,
            hit(col("__ftt"), t) * lit(SC * 2 / 5)
              + hit(col("__ltt"), t) * lit(SC * 2 / 5)
              + (col(s"__n_$t") - hit(col("__ftt"), t)
                  - hit(col("__ltt"), t))
                * expr(s"(${SC / 5}L) div (__n - 2)"))
          .otherwise(lit(0L))
      sum(perConv.cast("decimal(38,0)"))
        .cast("double").divide(lit(1.0e12)).as(s"${t}_credit")
    } ++ Seq(
      sum(when(col("__n") === 0, lit(1).cast("decimal(38,0)"))
        .otherwise(lit(0).cast("decimal(38,0)")))
        .cast("double").as("none_credit"),
      count(lit(1)).as("n_conversions"))
    conv.agg(creditCols.head, creditCols.tail: _*)
  }

  /** Frame-parametric TIME-DECAY attribution (re-exported as
    * `graft.api.Graft.timeDecayTouch`) — the fourth standard model
    * completing the family (last-touch, linear, U-shaped, decay):
    * each qualifying touch is weighted by recency, halving per
    * `halflifeMicros` of age before the conversion, and each
    * conversion's one credit unit splits in proportion to the weights.
    *
    * Ages are DISCRETIZED into `buckets` half-life-wide bands (band 0 =
    * the freshest half-life, weight 2^(buckets-1); the oldest band has
    * weight 1; lookback = buckets·halflife) so every weight is an exact
    * power of two and the whole credit computation stays in integer
    * arithmetic — a continuous 2^(-Δt/hl) weight needs transcendental
    * `pow`, whose last-ulp differs across engines. Per type and band
    * the qualifying count is one RANGE-frame window (band k's frame is
    * RANGE [(k+1)·hl PRECEDING, k·hl+1 PRECEDING]; all bands share the
    * partition/order, so they stack on ONE user-keyed Exchange + sort —
    * the same single-shuffle discipline as [[linearTouchOf]]).
    * credit_t = (w_t·1e12) div W truncates identically both engines,
    * sums are DECIMAL(38,0), one double division per output cell.
    */
  private[graft] def timeDecayTouchOf(events: DataFrame, userCol: String,
      typeCol: String, tsMicrosCol: String, touchTypes: Seq[String],
      convType: String, halflifeMicros: Long, buckets: Int): DataFrame = {
    val SC = 1000000000000L
    require(buckets >= 1 && buckets <= 20, "buckets in [1, 20]")
    val counted = touchTypes.foldLeft(events) { (df, t) =>
      (0 until buckets).foldLeft(df) { (df2, k) =>
        val w = Window.partitionBy(userCol).orderBy(col(tsMicrosCol))
          .rangeBetween(-((k + 1L) * halflifeMicros),
            -(k * halflifeMicros + 1L))
        df2.withColumn(s"__n_${t}_$k",
          count(when(col(typeCol) === t, lit(1))).over(w))
      }
    }
    def wOf(t: String): Column = (0 until buckets)
      .map(k => col(s"__n_${t}_$k") * lit(1L << (buckets - 1 - k)))
      .reduce(_ + _)
    val conv = touchTypes.foldLeft(
        counted.where(col(typeCol) === convType)) { (df, t) =>
        df.withColumn(s"__w_$t", wOf(t))
      }
      .withColumn("__W", touchTypes.map(t => col(s"__w_$t")).reduce(_ + _))
    val creditCols = touchTypes.map { t =>
      // guard the PER-TYPE weight — the operand multiplied by SC; the
      // cross-type total W can exceed the bound while every w_t·SC
      // product (and DuckDB's exact arithmetic) is still fine
      sum(when(col(s"__w_$t") > Long.MaxValue / SC, raise_error(lit(
          s"timeDecayTouchOf: '$t' decay weight overflows scaled " +
            "credit")).cast("decimal(38,0)"))
        .when(col("__W") > 0,
          expr(s"(__w_$t * ${SC}L) div __W").cast("decimal(38,0)"))
        .otherwise(lit(0).cast("decimal(38,0)")))
        .cast("double").divide(lit(1.0e12)).as(s"${t}_credit")
    } ++ Seq(
      sum(when(col("__W") === 0, lit(1).cast("decimal(38,0)"))
        .otherwise(lit(0).cast("decimal(38,0)")))
        .cast("double").as("none_credit"),
      count(lit(1)).as("n_conversions"))
    conv.agg(creditCols.head, creditCols.tail: _*)
  }

  /** Frame-parametric ANY-qualifying-sequence funnel (re-exported as
    * `graft.api.Graft.funnelAny`) — MATCH_RECOGNIZE semantics, the
    * deliberate counterpart to [[funnelOf]]'s earliest-anchor
    * formulation: a step qualifies at time t iff SOME qualified
    * previous-step event lies within its gap before t, witnessed by the
    * carry-forward MAX of qualified previous-step times (largest prior
    * time ⇒ smallest gap). `steps` = (eventType, maxGapMicros from the
    * previous step; head gap ignored). All steps stack on ONE
    * `userCol` Exchange + ONE (tusCol, idCol) sort — linear, never a
    * per-step self-join. Returns one row (u_step1..u_stepN).
    */
  private[graft] def funnelAnyOf(events: DataFrame, userCol: String,
      typeCol: String, tusCol: String, idCol: String,
      steps: Seq[(String, Long)]): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy(col(tusCol), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    var df = events.withColumn("__q0",
      when(col(typeCol) === steps.head._1, col(tusCol)))
    steps.tail.zipWithIndex.foreach { case ((t, gap), i) =>
      df = df
        .withColumn(s"__l$i", max(col(s"__q$i")).over(w))
        .withColumn(s"__q${i + 1}",
          when(col(typeCol) === t && col(s"__l$i").isNotNull
            && col(tusCol) - col(s"__l$i") <= gap, col(tusCol)))
    }
    val aggs = steps.indices.map(i =>
      countDistinct(when(col(s"__q$i").isNotNull, col(userCol)))
        .as(s"u_step${i + 1}"))
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Frame-parametric 2-D Pareto skyline (re-exported as
    * `graft.api.Graft.skyline`): rows of `df` not dominated under
    * (minimize `minCol`, maximize `maxCol`); ties on the frontier pair
    * are all emitted. Sort + running-max, never the quadratic dominance
    * self-join: the per-`minCol` best reduction in front bounds the one
    * global window by the MINCOL DOMAIN, not the row count.
    */
  private[graft] def skylineOf(df: DataFrame, minCol: String,
      maxCol: String): DataFrame = {
    val best = df.groupBy(col(minCol).as("__mn"))
      .agg(max(col(maxCol)).as("__mx"))
    // __mn is unique after the groupBy, so the ROWS frame is exactly
    // "all strictly smaller __mn" — no RANGE frame needed
    val w = Window.orderBy(col("__mn"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = best.withColumn("__m", max(col("__mx")).over(w))
      .where(col("__m").isNull || col("__mx") > col("__m"))
      .select(col("__mn"), col("__mx"))
    df.join(broadcast(frontier),
        col(minCol) === col("__mn") && col(maxCol) === col("__mx"))
      .drop("__mn", "__mx")
  }

  /** Frame-parametric first-order Markov transition matrix (re-exported
    * as `graft.api.Graft.markovTransitions`): per (`typeCol` →
    * next-`typeCol`) counts and row probability over per-`userCol`
    * sequences ordered by `ordCol`. Linear: ONE user-keyed shuffle for
    * the lead() window + two O(types²) aggregates; p is a single
    * division of two exact longs.
    */
  private[graft] def markovTransitionsOf(events: DataFrame, userCol: String,
      typeCol: String, ordCol: String): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy(ordCol)
    val c = events
      .select(col(typeCol).as("ft"), lead(col(typeCol), 1).over(w).as("tt"))
      .where(col("tt").isNotNull)
      .groupBy(col("ft"), col("tt")).agg(count(lit(1)).as("n"))
    val tot = c.groupBy(col("ft").as("__ft"))
      .agg(sum(col("n")).cast("long").as("__tn"))
    c.join(broadcast(tot), col("ft") === col("__ft"))
      .select(col("ft").as("from_type"), col("tt").as("to_type"),
        col("n").as("n_trans"),
        (col("n").cast("double") / col("__tn")).as("p"))
  }

  /** Frame-parametric triangle census (re-exported as
    * `graft.api.Graft.triangleStats`): one row (n_triangles, n_wedges,
    * clustering) for an ORIENTED edge frame (u, v) with u < v — each
    * triangle enumerates once as a<b<c. At power-law scale orient
    * low-degree → high-degree instead so wedge fan-out is bounded by
    * arboricity, not max degree. The clustering coefficient is ONE
    * double division of two exact longs.
    */
  /** Every triangle of a canonical (u < v) DISTINCT edge frame, exactly
    * once as (a, b, c) with a<b<c — the wedge-close triple join shared
    * by the global census and the per-node coefficients (a fix to the
    * enumeration, e.g. the power-law low-degree→high orientation, lands
    * in ONE place). `e` must already be deduped and persisted (read 3×).
    */
  private def trianglesOf(e: DataFrame): DataFrame =
    e.select(col("u").as("a"), col("v").as("b"))
      .join(e.select(col("u").as("b2"), col("v").as("c")),
        col("b") === col("b2"))
      .join(e.select(col("u").as("a2"), col("v").as("c2")),
        col("a") === col("a2") && col("c") === col("c2"))
      .select(col("a"), col("b"), col("c"))

  private[graft] def triangleStatsOf(edges: DataFrame): DataFrame = {
    val e = edges.select(col("u"), col("v")).distinct()
      .persist() // read 4× (ab, bc, ac, degrees)
    val tri = trianglesOf(e).agg(count(lit(1)).as("t"))
    val w = e.select(col("u").as("x"))
      .unionAll(e.select(col("v").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("dg"))
      // coalesce: sum over an EMPTY degree aggregate is NULL, which would
      // otherwise flow through the clustering division as NULL instead of
      // the (0, 0, 0.0) an empty graph should census to
      .agg(coalesce(sum(expr("dg * (dg - 1) div 2")), lit(0L))
        .cast("long").as("wedges"))
    tri.crossJoin(broadcast(w))
      .select(col("t").as("n_triangles"), col("wedges").as("n_wedges"),
        when(col("wedges") === 0, lit(0.0))
          .otherwise((lit(3) * col("t")).cast("double") / col("wedges"))
          .as("clustering"))
  }

  /** Per-node LOCAL clustering coefficients (re-exported as
    * `graft.api.Graft.localClustering`) — the node-level companion to
    * [[triangleStatsOf]]'s global census: for each node of degree ≥ 2,
    * lcc = 2·T(v) / (d(v)·(d(v)−1)) where T(v) counts triangles through
    * v. Same oriented (u < v) edge frame and two wedge-closing
    * equi-joins as the global count — each triangle enumerates once as
    * a<b<c and then credits its three corners via an IN-TASK explode
    * (no extra shuffle beyond the per-node count); at power-law scale
    * the same low-degree→high orientation bounds wedge fan-out by
    * arboricity. The coefficient is ONE double division of exact
    * BIGINTs — bit-identical cross-engine.
    */
  private[graft] def localClusteringOf(edges: DataFrame): DataFrame = {
    val e = edges.select(col("u"), col("v")).distinct()
      .persist() // read 4× (ab, bc, ac, degrees)
    val tri = trianglesOf(e)
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("tri"))
    val deg = e.select(col("u").as("node"))
      .unionAll(e.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("dg"))
    deg.join(tri, Seq("node"), "left")
      .where(col("dg") >= 2)
      .select(col("node"), col("dg").as("degree"),
        coalesce(col("tri"), lit(0L)).as("triangles"),
        ((lit(2) * coalesce(col("tri"), lit(0L))).cast("double")
          / (col("dg") * (col("dg") - 1))).as("lcc"))
  }

  /** Frame-parametric robust median/MAD outlier filter (re-exported as
    * `graft.api.Graft.madOutliers`): rows of `df` whose `valueCol`
    * deviates from its `seriesCol`-group median by more than
    * `k` · 1.4826 · MAD. Exact interpolated medians; two O(series)
    * stats frames broadcast back — the fact is never reshuffled.
    */
  private[graft] def madOutliersOf(df: DataFrame, seriesCol: String,
      valueCol: String, k: Double): DataFrame = {
    val med = df.groupBy(col(seriesCol).as("__s1"))
      .agg(expr(s"median($valueCol)").as("__med"))
    val dev = df.join(broadcast(med), col(seriesCol) === col("__s1"))
      .withColumn("__dv", abs(col(valueCol) - col("__med")))
    val mad = dev.groupBy(col(seriesCol).as("__s2"))
      .agg(expr("median(__dv)").as("__mad"))
    dev.join(broadcast(mad), col(seriesCol) === col("__s2"))
      .where(col("__dv") > lit(k) * lit(1.4826) * col("__mad"))
      .select(df.columns.map(col) :+ col("__med").as("med")
        :+ col("__mad").as("mad"): _*)
  }

  /** Exact ABC (Pareto) classification of `items` by cumulative revenue
    * share: the running-share window is a SINGLE-PARTITION sort over
    * O(items) rows — exact, and fine while the item domain (parts, SKUs)
    * is bounded, but the first thing to outgrow a task at 100× the
    * domain. [[abcApproxOf]] is the scale route.
    * Returns (abc_class, n_items, class_revenue) ordered by class.
    */
  private[graft] def abcExactOf(items: DataFrame, keyCol: String,
      revCol: String): DataFrame = {
    val ord = Window.orderBy(col(revCol).desc, col(keyCol))
    val wCum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = ord.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    items.select(col(revCol).as("__rev"),
        (sum(col(revCol)).over(wCum).cast("double")
          / sum(col(revCol)).over(wAll).cast("double")).as("__cum"))
      .select(col("__rev"),
        when(col("__cum") <= 0.7, "A")
          .when(col("__cum") <= 0.9, "B")
          .otherwise("C").as("abc_class"))
      .groupBy("abc_class")
      .agg(count(lit(1)).as("n_items"),
        sum(col("__rev")).cast("double").as("class_revenue"))
      .orderBy("abc_class")
  }

  /** Scale route for [[abcExactOf]]: revenue-weighted cumulative share via
    * an approx-quantile histogram. One mergeable `approx_percentile`
    * sketch yields `bins` boundaries; items bucket map-side against the
    * broadcast boundary array (O(bins) codegen'd HOF per row, no sort);
    * the running-share window then runs over ≤`bins` bucket rows instead
    * of O(items) — bounded regardless of domain size. Error is at most
    * one bucket's revenue at each class boundary.
    * Returns (abc_class, n_items, class_revenue) ordered by class.
    */
  private[graft] def abcApproxOf(items: DataFrame, keyCol: String,
      revCol: String, bins: Int = 256): DataFrame = {
    val r = items.select(col(revCol).cast("double").as("__rev"))
    val qs = (1 until bins).map(i => i.toDouble / bins)
    val bounds = r.agg(expr(
      s"approx_percentile(__rev, array(${qs.mkString(",")}), 10000)")
      .as("__bs"))
    val perBin = r.crossJoin(broadcast(bounds))
      .select(col("__rev"),
        expr("aggregate(__bs, 0, (acc, b) -> acc + IF(__rev > b, 1, 0))")
          .as("__bin"))
      .groupBy("__bin")
      .agg(count(lit(1)).as("__n"), sum(col("__rev")).as("__binrev"))
    val ordB = Window.orderBy(col("__bin").desc)
    val wCum = ordB.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = ordB.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    perBin.select(col("__n"), col("__binrev"),
        (sum(col("__binrev")).over(wCum)
          / sum(col("__binrev")).over(wAll)).as("__cum"))
      .select(col("__n"), col("__binrev"),
        when(col("__cum") <= 0.7, "A")
          .when(col("__cum") <= 0.9, "B")
          .otherwise("C").as("abc_class"))
      .groupBy("abc_class")
      .agg(sum(col("__n")).as("n_items"),
        sum(col("__binrev")).cast("double").as("class_revenue"))
      .orderBy("abc_class")
  }

  /** Per-user RFM scores over a purchase-shaped event frame.
    * exact=true: `ntile(5)` over three GLOBAL orderings — three
    * single-partition sorts over O(users) rows (fine at a bounded user
    * domain, the scale watch-item at 100×). exact=false: quintile
    * boundaries scored map-side against one broadcast boundary row —
    * no global sort anywhere; ties land in one bucket instead of being
    * force-split, so scores can differ from ntile by ±1 around
    * boundaries. The boundary estimator is `approx_percentile` (fixed-
    * size mergeable sketch, the unbounded-cardinality route) or, with
    * disc=true, `percentile_disc` — EXACT standard-SQL quantile
    * boundaries from a mergeable counts-map aggregate (memory O(distinct
    * metric values), bounded here by the user-level domain), which makes
    * the whole no-global-sort path deterministic and oracle-able.
    * Returns (user, r_score, f_score, m_score).
    */
  private[graft] def rfmScoresOf(events: DataFrame, userCol: String,
      tsCol: String, typeCol: String, valueCol: String,
      exact: Boolean, disc: Boolean = false): DataFrame = {
    val pu = events.where(col(typeCol) === "purchase")
      .groupBy(col(userCol).as("user"))
      .agg(max(unix_micros(col(tsCol))).as("last_tus"),
        count(lit(1)).as("freq"),
        sum(col(valueCol).cast("decimal(12,2)"))
          .cast("double").as("monetary"))
    val mx = pu.agg(max(col("last_tus")).as("mt"))
    val m = pu.crossJoin(broadcast(mx))
      .withColumn("recency_gap", col("mt") - col("last_tus"))
    if (exact)
      m.select(col("user"),
        ntile(5).over(Window.orderBy(col("recency_gap"), col("user")))
          .as("r_score"),
        ntile(5).over(Window.orderBy(col("freq"), col("user")))
          .as("f_score"),
        ntile(5).over(Window.orderBy(col("monetary"), col("user")))
          .as("m_score"))
    else {
      // all three ntiles order ASC (small gap = recent = r_score 1), so
      // every score is 1 + the number of quintile boundaries below the
      // metric value
      def discB(c: String) = array((1 to 4).map(i =>
        expr(s"percentile_disc(0.${2 * i}) WITHIN GROUP (ORDER BY $c)")): _*)
      val bs =
        if (disc) m.agg(discB("recency_gap").as("__rb"),
          discB("freq").as("__fb"), discB("monetary").as("__mb"))
        else m.agg(
          expr("approx_percentile(recency_gap, array(0.2,0.4,0.6,0.8), 10000)")
            .as("__rb"),
          expr("approx_percentile(freq, array(0.2,0.4,0.6,0.8), 10000)")
            .as("__fb"),
          expr("approx_percentile(monetary, array(0.2,0.4,0.6,0.8), 10000)")
            .as("__mb"))
      m.crossJoin(broadcast(bs)).select(col("user"),
        expr("1 + aggregate(__rb, 0, (a, b) -> a + IF(recency_gap > b, 1, 0))")
          .as("r_score"),
        expr("1 + aggregate(__fb, 0, (a, b) -> a + IF(freq > b, 1, 0))")
          .as("f_score"),
        expr("1 + aggregate(__mb, 0, (a, b) -> a + IF(monetary > b, 1, 0))")
          .as("m_score"))
    }
  }

  // ---------------------------------------------------------------------

  /** Time-weighted-average kernel (re-exported as
    * `graft.api.Graft.timeWeightedAvg`): `df` provides the key columns,
    * an exact integer-µs timestamp (`tsUsCol`), a tiebreak order column,
    * and an exact (decimal) value column. Each value is weighted by its
    * hold time to the key's next sample; the last sample per key carries
    * no interval and drops. ONE key-partitioned window shuffle + a
    * combiner aggregate; the weighted sum stays exact decimal × BIGINT
    * and only the closing division is floating-point. Returns
    * keyCols ++ (n_intervals, span_us, twa).
    */
  private[graft] def timeWeightedAvgOf(df: DataFrame, keyCols: Seq[String],
      tsUsCol: String, ordCol: String, vCol: String): DataFrame = {
    // caller columns projected to internal names first, so a value or
    // order column that happens to be named like the working interval
    // column can't be silently overwritten (the same defensive-rename
    // contract setOverlapOf applies)
    val in = df.select(keyCols.map(col) ++ Seq(col(tsUsCol).as("twa_ts"),
      col(ordCol).as("twa_ord"), col(vCol).as("twa_v")): _*)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("twa_ts"), col("twa_ord"))
    in.withColumn("twa_dt", lead(col("twa_ts"), 1).over(w) - col("twa_ts"))
      .where(col("twa_dt").isNotNull)
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("twa_dt")).cast("long").as("span_us"),
        (sum(col("twa_v") * col("twa_dt")).cast("double") /
          sum(col("twa_dt"))).cast("double").as("twa"))
  }

  /** Pairwise set-overlap kernel (re-exported as
    * `graft.api.Graft.setOverlap`): `df` provides (setKey, item) rows —
    * a membership relation — and the result is, for every unordered item
    * pair, the number of set keys containing BOTH, each item's total key
    * count, and the Jaccard similarity. Basket formulation: one
    * setKey-keyed combiner shuffle collects each key's distinct items,
    * pairs explode IN TASK (bounded by per-key item count, never by key
    * count), per-pair counts combine map-side, and the item totals
    * broadcast back. Jaccard is one double division of exact BIGINTs.
    * Returns (item_a, item_b, n_both, n_a, n_b, jaccard), item_a < item_b.
    */
  private[graft] def setOverlapOf(df: DataFrame, keyCol: String,
      itemCol: String): DataFrame = {
    val m = df.select(col(keyCol).as("sk"), col(itemCol).as("item"))
      .distinct()
    val pairs = m.groupBy("sk")
      .agg(collect_set(col("item")).as("mset"))
      .select(col("mset"), explode(col("mset")).as("item_a"))
      .select(col("item_a"),
        explode(expr("filter(mset, x -> x > item_a)")).as("item_b"))
      .groupBy("item_a", "item_b").agg(count(lit(1)).as("n_both"))
    val sizes = m.groupBy("item").agg(count(lit(1)).as("n"))
    pairs
      .join(broadcast(sizes.select(col("item").as("item_a"),
        col("n").as("n_a"))), "item_a")
      .join(broadcast(sizes.select(col("item").as("item_b"),
        col("n").as("n_b"))), "item_b")
      .select(col("item_a"), col("item_b"), col("n_both"),
        col("n_a"), col("n_b"),
        (col("n_both").cast("double") /
          (col("n_a") + col("n_b") - col("n_both"))).as("jaccard"))
  }

  /** k-CORE peel kernel (re-exported as `graft.api.Graft.kCore`):
    * `edges` is an undirected (u, v) pair frame, ALREADY checkpoint-pinned
    * (same caller contract as `collapseClustersLogN` — every round and
    * the convergence count re-read it). Iteratively removes nodes whose
    * degree in the surviving subgraph is < k until stable (monotone, so
    * round counts on checkpointed in-memory frames are cheap) and
    * returns (node, core_degree) for the survivors. Survivor lists are
    * node-sized ≪ edges and broadcast into the semi-joins; past
    * broadcast range drop the hint and the planner shuffles on the node
    * key instead.
    */
  /** Round cap shared by the iterative graph kernels AND their DuckDB
    * oracles' fixed recursion depth: the Spark side throws past it, so
    * whenever a query returns at all, the oracle's level-`MaxRounds`
    * emission IS the fixpoint (a pathological graph needing more rounds
    * fails loudly here instead of silently diverging from the oracle).
    */
  private[graft] val GraphMaxRounds = 50

  /** Survivor/frontier/label frames in the iterative kernels are
    * node-sized ≪ edges, so they broadcast into the per-round joins —
    * but only while a row-count proxy stays within driver/broadcast
    * range (`cap`); past it the hint is DROPPED and the planner
    * shuffles the join on the node key instead. The proxy is whatever
    * count the round already computed (edge count for k-core, frontier
    * count for BFS, node count for label propagation) — the gate is
    * free, no extra job.
    */
  private def bcastUpTo(df: DataFrame, n: Long, cap: Long): DataFrame =
    if (n <= cap) broadcast(df) else df

  /** Both orientations of an undirected (u, v[, carry...]) edge frame in
    * ONE pass: each row explodes into (u,v) and (v,u). Row-equivalent to
    * unionAll of the two swapped projections, but the input is scanned
    * once — a union's two branches each rescan it (and, before the
    * derivation checkpoint went eager, RACED to materialize it, each
    * recomputing the whole lineitem fan-out) — and the task count halves.
    */
  private def symmetrize(e: DataFrame, u: String, v: String,
      outA: String, outB: String, carry: Seq[String] = Nil): DataFrame = {
    val fwd = struct(col(u).as(outA) +: col(v).as(outB) +:
      carry.map(col): _*)
    val rev = struct(col(v).as(outA) +: col(u).as(outB) +:
      carry.map(col): _*)
    e.select(explode(array(fwd, rev)).as("se")).select(col("se.*"))
  }

  private[graft] def kCoreOf(edges0: DataFrame, k: Int): DataFrame = {
    var edges = edges0
    var cnt = edges.count()
    var changed = cnt > 0
    var rounds = 0
    // explode, not unionAll: one scan of the (checkpointed) edge blocks
    // per round instead of two, same (nd -> occurrences) multiset
    def degrees(e: DataFrame) = e
      .select(explode(array(col("u"), col("v"))).as("nd"))
      .groupBy("nd").agg(count(lit(1)).as("dg"))
    while (changed && rounds < GraphMaxRounds) {
      // keep is ≤ 2·cnt nodes, so gating on the edge count already in
      // hand bounds the broadcast without an extra keep.count() job
      val keep = bcastUpTo(
        degrees(edges).where(col("dg") >= k).select(col("nd")),
        cnt, 2000000L)
      // LAZY checkpoint: the count below materializes the blocks in
      // the same job (plan truncation identical to the eager form,
      // one round job instead of two)
      val next = edges
        .join(keep, col("u") === col("nd"), "left_semi")
        .join(keep, col("v") === col("nd"), "left_semi")
        .localCheckpoint(false)
      val ncnt = next.count()
      changed = ncnt != cnt
      cnt = ncnt
      edges = next
      rounds += 1
    }
    if (changed)
      throw new IllegalStateException(
        s"k-core peel did not stabilize in $GraphMaxRounds rounds")
    degrees(edges)
      .select(col("nd").as("node"), col("dg").as("core_degree"))
  }

  /** Common-neighbor link prediction (re-exported as
    * `graft.api.Graft.commonNeighbors`): `edges` is a canonical
    * undirected (u < v) pair frame, ALREADY checkpoint-pinned (the kCoreOf
    * caller contract). Scores every NON-adjacent pair sharing >= 1
    * neighbor by common-neighbor count and Jaccard
    * |N(a)∩N(b)| / |N(a)∪N(b)|, returning the top `topN` by
    * (common DESC, part key) — the classic "who should be connected
    * next" primitive behind recommendation and graph-completion.
    *
    * Wedge enumeration, the same shape as the triangle census: the
    * symmetric edge frame self-joins on the shared middle node (a—x—b,
    * a < b), one combiner count per pair, then an anti-join drops the
    * already-adjacent pairs and node-sized degree counts broadcast in
    * for the Jaccard denominator (one double division of exact
    * BIGINTs). Power-law safety is the HOT-MIDDLE cap (the dedup
    * hot-bucket discipline applied to wedges): a middle node of degree
    * d fans out d(d−1)/2 candidate pairs NO MATTER how the endpoints
    * are oriented — one degree-n hub is Θ(n²) rows, and on a star the
    * exact result set itself is Θ(n²) — so middles with degree >
    * `maxMiddleDegree` are dropped BEFORE the self-join (broadcast
    * anti-join of the near-empty hot list). That bounds candidate rows
    * by Σ_x min(deg x, cap)·deg x ≤ E·cap, and the semantic loss is the
    * principled one: a neighbor shared by >1000 nodes is boilerplate
    * co-occurrence, not an affinity signal (its RA weight is < 1/cap).
    * Jaccard denominators still use FULL degrees. The cap is a no-op on
    * the fixture graphs (max degree 13 at sf0.01) and is pinned by the
    * AnalyticsSpec star-graph property test.
    */
  /** Weekly cohort RETENTION TRIANGLE (re-exported as
    * `graft.api.Graft.retentionTriangle`): `df` needs a user column and
    * an event-time column; users cohort by FIRST-ACTIVE week
    * (Monday-truncated) and each (cohort_week, week_offset) cell
    * reports the cohort's still-active count and share. Week gaps are
    * exact integer day-diffs div 7; retention is ONE double division.
    * Plan: one (user, week) distinct + user-keyed min shuffle, one
    * (cohort, offset) combiner aggregate, cohort sizes broadcast — the
    * distinct is the only data-sized exchange at 100 TB.
    */
  private[graft] def retentionTriangleOf(df: DataFrame,
      userCol: String, tsCol: String): DataFrame = {
    val uw = df
      .select(col(userCol).as("user_id"),
        date_trunc("week", col(tsCol)).as("w"))
      .distinct()
    val first = uw.groupBy("user_id").agg(min(col("w")).as("cohort_week"))
    val sizes = first.groupBy("cohort_week")
      .agg(count(lit(1)).as("n_cohort"))
    uw.join(first, "user_id")
      .groupBy(col("cohort_week"),
        expr("CAST(datediff(w, cohort_week) div 7 AS BIGINT)")
          .as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), "cohort_week")
      .select(col("cohort_week"), col("week_offset"), col("n_cohort"),
        col("n_active"),
        (col("n_active").cast("double") / col("n_cohort").cast("double"))
          .as("retention"))
      .orderBy("cohort_week", "week_offset")
  }

  /** Frequent 3-ITEMSETS via Apriori level-3 pruning (re-exported as
    * `graft.api.Graft.aprioriTriples`): `df` needs a basket-id column
    * and an item column; returns (item_a < item_b < item_c, support)
    * for triples co-present in ≥ `minSupport` baskets, top `topN` under
    * a total order. The prune is the scale plan: frequent pairs first,
    * baskets shrunk to frequent-pair items via broadcast semi-join
    * BEFORE the cubic in-task explode — support monotonicity means the
    * prune cannot change the answer, only the candidate space.
    */
  private[graft] def aprioriTriplesOf(df: DataFrame, basketCol: String,
      itemCol: String, minSupport: Int = 2, topN: Int = 100): DataFrame = {
    // basket formulation throughout (the graph_copurchase_pairs
    // discipline): collect_set IS the distinct, so the basket build is
    // ONE basket-keyed shuffle with map-side set dedup — the previous
    // (bk, it) DISTINCT in front was a second data-sized Exchange for
    // nothing, and the prune below re-shuffled the item stream a third
    // time. Both consumers (pair mining, prune) share the identical
    // basket subtree, so Spark's ReusedExchange serves the second from
    // the first's shuffle files.
    val baskets = df.select(col(basketCol).as("bk"), col(itemCol).as("it"))
      .groupBy("bk").agg(collect_set(col("it")).as("ps"))
      // persist (the basket_lift discipline): ReusedExchange only shares
      // the orderkey SHUFFLE between the pair miner and the prune — each
      // branch still re-ran the final collect_set over the full item
      // stream on top of it; the cache computes the baskets once
      .persist()
    val pairs = baskets
      .select(col("ps"), explode(col("ps")).as("pa"))
      .select(col("pa"),
        explode(expr("filter(ps, x -> x > pa)")).as("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("n"))
      .where(col("n") >= minSupport)
    // explode, not a two-branch union: the union duplicated the whole
    // frequent-pair subtree (basket build + pair explode + count — the
    // expensive half of the query) once per endpoint projection
    val freqItems = pairs
      .select(explode(array(col("pa"), col("pb"))).as("pk")).distinct()
    // prune INSIDE the existing bk partitioning: explode preserves the
    // basket hash layout and the frequent-item filter is a broadcast
    // semi-join, so the re-collect adds NO new Exchange (EnsureRequirements
    // sees hashpartitioning(bk) already satisfied)
    val pruned = baskets
      .select(col("bk"), explode(col("ps")).as("it"))
      .join(broadcast(freqItems), col("it") === col("pk"), "left_semi")
      .groupBy("bk")
      .agg(sort_array(collect_set(col("it"))).as("ps"))
      .where(size(col("ps")) >= 3)
    pruned
      .select(col("ps"), explode(col("ps")).as("part_a"))
      .select(col("ps"), col("part_a"),
        explode(expr("filter(ps, x -> x > part_a)")).as("part_b"))
      .select(col("part_a"), col("part_b"),
        explode(expr("filter(ps, x -> x > part_b)")).as("part_c"))
      .groupBy("part_a", "part_b", "part_c")
      .agg(count(lit(1)).as("support"))
      .where(col("support") >= minSupport)
      .orderBy(col("support").desc, col("part_a"), col("part_b"),
        col("part_c"))
      .limit(topN)
  }

  private[graft] def commonNeighborsOf(edges: DataFrame,
      topN: Int, maxMiddleDegree: Int = 1000): DataFrame = {
    val sym = symmetrize(edges, "u", "v", "a", "x")
    val deg = sym.groupBy("a").agg(count(lit(1)).as("dg"))
    val hotMid = deg.where(col("dg") > maxMiddleDegree)
      .select(col("a").as("x"))
    val wedgeIn = sym.join(broadcast(hotMid), Seq("x"), "left_anti")
    val cn = wedgeIn.as("l")
      .join(wedgeIn.as("r"),
        col("l.x") === col("r.x") && col("l.a") < col("r.a"))
      .select(col("l.a").as("part_a"), col("r.a").as("part_b"))
      .groupBy("part_a", "part_b").agg(count(lit(1)).as("common"))
    cn.join(edges.select(col("u").as("part_a"), col("v").as("part_b")),
        Seq("part_a", "part_b"), "left_anti")
      .join(broadcast(deg.select(col("a").as("part_a"), col("dg").as("da"))),
        "part_a")
      .join(broadcast(deg.select(col("a").as("part_b"), col("dg").as("db"))),
        "part_b")
      .select(col("part_a"), col("part_b"), col("common"),
        (col("common").cast("double")
          / (col("da") + col("db") - col("common"))).as("jaccard"))
      .orderBy(col("common").desc, col("part_a"), col("part_b"))
      .limit(topN)
  }

  /** Resource-allocation link-prediction index (Zhou–Lü–Zhang) over an
    * undirected (u, v) edge frame: for each NON-adjacent pair, Σ over
    * common neighbors w of 1/deg(w) — like Adamic–Adar but with the
    * plain reciprocal, which keeps the whole computation in EXACT
    * integer arithmetic (Σ of 10¹² div deg as BIGINT; a cross-engine
    * ln() could differ in the last ulp under the bit-exact hash
    * compare). Same join shape as [[commonNeighborsOf]], keeping the
    * common neighbor w alive through the pair join so its degree can be
    * charged; the node-sized degree frame broadcasts. Same hot-middle
    * cap as [[commonNeighborsOf]] — here the dropped mass is provably
    * negligible: a middle past the cap contributes < 1/cap per pair.
    */
  private[graft] def resourceAllocationOf(edges: DataFrame,
      topN: Int, maxMiddleDegree: Int = 1000): DataFrame = {
    val sym = symmetrize(edges, "u", "v", "a", "x")
    val deg = sym.groupBy(col("a").as("dn")).agg(count(lit(1)).as("dg"))
    val hotMid = deg.where(col("dg") > maxMiddleDegree)
      .select(col("dn").as("x"))
    val wedgeIn = sym.join(broadcast(hotMid), Seq("x"), "left_anti")
    val cn = wedgeIn.as("l")
      .join(wedgeIn.as("r"),
        col("l.x") === col("r.x") && col("l.a") < col("r.a"))
      .select(col("l.a").as("part_a"), col("r.a").as("part_b"),
        col("l.x").as("w"))
    val sc = cn.join(broadcast(deg), col("w") === col("dn"))
      .groupBy("part_a", "part_b")
      .agg(sum(expr("CAST(1000000000000 AS BIGINT) div dg")).as("ra_scaled"))
    sc.join(edges.select(col("u").as("part_a"), col("v").as("part_b")),
        Seq("part_a", "part_b"), "left_anti")
      .select(col("part_a"), col("part_b"), col("ra_scaled"),
        (col("ra_scaled").cast("double") / 1000000000000.0).as("ra_score"))
      .orderBy(col("ra_scaled").desc, col("part_a"), col("part_b"))
      .limit(topN)
  }

  /** Neighbor-set Jaccard link prediction — the third of the classic
    * index trio next to [[resourceAllocationOf]] and [[adamicAdarOf]]:
    * jac(u, v) = |Γu∩Γv| / |Γu∪Γv| = cn / (du + dv − cn). Entirely
    * integer until ONE final double division; the ranking key is the
    * exact BIGINT cn·10¹² div (du+dv−cn) so ordering and LIMIT ties are
    * engine-identical (cn ≤ 10⁶ keeps the scaled key inside int64 —
    * beyond that, drop the scale to 10⁹). Same candidate shape as the
    * siblings: neighbor-keyed equi-join, broadcast degree table,
    * adjacency anti-joined out, hot-middle cap before the self-join
    * (see [[commonNeighborsOf]]); union denominators use FULL degrees.
    */
  private[graft] def jaccardLinksOf(edges: DataFrame, topN: Int,
      maxMiddleDegree: Int = 1000): DataFrame = {
    val sym = symmetrize(edges, "u", "v", "a", "x")
    val deg = sym.groupBy(col("a").as("dn")).agg(count(lit(1)).as("dg"))
    val hotMid = deg.where(col("dg") > maxMiddleDegree)
      .select(col("dn").as("x"))
    val wedgeIn = sym.join(broadcast(hotMid), Seq("x"), "left_anti")
    val cn = wedgeIn.as("l")
      .join(wedgeIn.as("r"),
        col("l.x") === col("r.x") && col("l.a") < col("r.a"))
      .groupBy(col("l.a").as("part_a"), col("r.a").as("part_b"))
      .agg(count(lit(1)).as("cn"))
    val sc = cn
      .join(broadcast(deg.select(col("dn").as("part_a"),
        col("dg").as("du"))), "part_a")
      .join(broadcast(deg.select(col("dn").as("part_b"),
        col("dg").as("dv"))), "part_b")
      .select(col("part_a"), col("part_b"), col("cn"),
        (col("du") + col("dv") - col("cn")).as("un"))
    sc.join(edges.select(col("u").as("part_a"), col("v").as("part_b")),
        Seq("part_a", "part_b"), "left_anti")
      .select(col("part_a"), col("part_b"), col("cn"), col("un"),
        expr("cn * CAST(1000000000000 AS BIGINT) div un").as("jac_scaled"),
        (col("cn").cast("double") / col("un").cast("double"))
          .as("jaccard"))
      .orderBy(col("jac_scaled").desc, col("part_a"), col("part_b"))
      .limit(topN)
  }

  /** Adamic–Adar link prediction over an undirected (u, v) edge frame —
    * [[resourceAllocationOf]]'s log-damped sibling (the classic index:
    * common neighbors weighted 1/ln(deg), so hubs discount gently
    * instead of linearly). Same candidate shape: one symmetric-edge
    * self-join on the shared neighbor, broadcast degree table, adjacency
    * excluded by anti-join. The transcendental is quantized ONCE per
    * degree value — L = floor(ln(dg)·10⁶) is an exact BIGINT on both
    * engines, each term is the exact integer 10¹² div L (≈ 10⁶/ln), and
    * the pair score is an exact BIGINT sum with ONE final double
    * division — the zipf/entropy float-parity discipline applied to a
    * graph score. A common neighbor has deg ≥ 2 by construction, so
    * L ≥ floor(ln 2·10⁶) = 693147 > 0. Same hot-middle cap as
    * [[commonNeighborsOf]] (a middle past the cap contributes
    * < 1/ln(cap) per pair — damped, but the row blowup is what kills).
    */
  private[graft] def adamicAdarOf(edges: DataFrame, topN: Int,
      maxMiddleDegree: Int = 1000): DataFrame = {
    val sym = symmetrize(edges, "u", "v", "a", "x")
    val deg = sym.groupBy(col("a").as("dn")).agg(count(lit(1)).as("dg"))
    val hotMid = deg.where(col("dg") > maxMiddleDegree)
      .select(col("dn").as("x"))
    val wedgeIn = sym.join(broadcast(hotMid), Seq("x"), "left_anti")
    val cn = wedgeIn.as("l")
      .join(wedgeIn.as("r"),
        col("l.x") === col("r.x") && col("l.a") < col("r.a"))
      .select(col("l.a").as("part_a"), col("r.a").as("part_b"),
        col("l.x").as("w"))
    val sc = cn.join(broadcast(deg), col("w") === col("dn"))
      .groupBy("part_a", "part_b")
      .agg(sum(expr(
        "CAST(1000000000000 AS BIGINT) div " +
          "CAST(floor(ln(CAST(dg AS DOUBLE)) * 1000000) AS BIGINT)"))
        .as("aa_scaled"))
    sc.join(edges.select(col("u").as("part_a"), col("v").as("part_b")),
        Seq("part_a", "part_b"), "left_anti")
      .select(col("part_a"), col("part_b"), col("aa_scaled"),
        (col("aa_scaled").cast("double") / 1000000.0).as("aa_score"))
      .orderBy(col("aa_scaled").desc, col("part_a"), col("part_b"))
      .limit(topN)
  }

  /** Single-source BFS hop counts (re-exported as
    * `graft.api.Graft.shortestHops`): `edges0` is an undirected (u, v)
    * pair frame, ALREADY checkpoint-pinned (the kCoreOf caller contract);
    * returns (node, hops) for every node reachable from `source` within
    * `maxHops`, hops = exact shortest-path edge count. Unreachable
    * nodes are absent — the caller decides what infinity means.
    *
    * Frontier expansion, the scale shape for BFS on Spark: round h
    * joins the (node-sized, broadcast-gated) frontier into the
    * symmetric edge frame, dedups the neighbor set, anti-joins the
    * visited set, and localCheckpoints — per-round work is O(frontier
    * edges), total O(E) across all rounds, plans stay shallow, and
    * integer-only arithmetic keeps the oracle comparison exact. The
    * per-round driver sync (count) is inherent to BFS — the frontier
    * IS the loop condition — and rounds are bounded by the graph's
    * diameter, ≤ `maxHops`.
    */
  private[graft] def shortestHopsOf(edges0: DataFrame, source: Long,
      maxHops: Int): DataFrame = {
    val spark = edges0.sparkSession
    import spark.implicits._
    // The symmetric edge frame is hash-partitioned by dst ONCE, before
    // the loop: the frontier semi-join (broadcast-gated) preserves that
    // partitioning, and the neighbor dedup keys on node = dst (the
    // alias-aware partitioning survives the rename), so each BFS round
    // runs with ZERO exchanges while the set frames stay inside
    // broadcast range — this kernel used to pay one frontier-edge-sized
    // repartition per round. Partition count is sized to the
    // materialized edge set (rows-per-partition rule); edges0 is
    // checkpoint-pinned by caller contract so the count is a cheap
    // cached-block scan.
    val sessParts =
      spark.conf.get("spark.sql.shuffle.partitions").toInt
    val eparts = math.max(1, math.min(sessParts,
      (edges0.count() * 2 / 50000L + 1L).toInt))
    // persist, NOT localCheckpoint (see labelPropagationOf): AQE-era
    // checkpoints surface as UnknownPartitioning and would re-introduce
    // the per-round dedup exchange
    val e = symmetrize(edges0, "u", "v", "src", "dst")
      .repartition(eparts, col("dst"))
      .persist()
    // materialize the cache NOW: a round planned before the cache is
    // built sees AQE's UnknownPartitioning and re-inserts the dedup
    // exchange for that round (labelPropagationOf gets this for free
    // from its node count; BFS has no natural pre-loop action)
    e.count()
    var visited = Seq((source, 0L)).toDF("node", "hops")
      .localCheckpoint(false)
    var frontier = visited.select(col("node"))
    var fcnt = 1L
    var vcnt = 1L
    var h = 0L
    while (fcnt > 0 && h < maxHops) {
      h += 1
      // The round frame is localCheckpoint'd — plan TRUNCATION matters
      // here, not just caching: the next round references this frame
      // twice (frontier and inside visited), so an untruncated plan
      // would nest exponentially across rounds. visited stays a LAZY
      // union of the checkpointed per-round frames — unioning pinned
      // blocks is free, so re-checkpointing it every round would only
      // add a job.
      val round = e
        .join(bcastUpTo(frontier, fcnt, 4000000L),
          col("src") === col("node"), "left_semi")
        .select(col("dst").as("node"))
        .distinct()
        .join(bcastUpTo(visited, vcnt, 4000000L),
          Seq("node"), "left_anti")
        .withColumn("hops", lit(h))
      // LAZY: the loop-condition count materializes the round's
      // blocks in its own job — one job per round, not two
      val nxt = round.localCheckpoint(false)
      fcnt = nxt.count()
      if (fcnt > 0) {
        visited = visited.unionAll(nxt)
        vcnt += fcnt
        frontier = nxt.select(col("node"))
      }
    }
    visited
  }

  /** K-hop-bounded weighted shortest cost (re-exported as
    * `graft.api.Graft.shortestCost`): `edges0` is an undirected
    * weighted (u, v, cost) frame, ALREADY checkpoint-pinned, with
    * non-negative integer costs. Returns (node, cost): the cheapest
    * total cost over paths of at most `rounds` edges from `source` —
    * exactly `rounds` synchronous Bellman-Ford relaxations, the
    * distributed SSSP shape. Like [[labelPropagationOf]], the FIXED
    * round count makes the evolution deterministic (a recursive-CTE
    * oracle replays it bit-for-bit); full shortest paths need
    * diameter-many rounds, so pick `rounds` from the expected diameter.
    * Nodes not reached within the budget are absent.
    *
    * Per round: ONE dist⋈edges relaxation join (dist is node-sized and
    * broadcast-gated) + a min-combine over candidates ∪ current —
    * O(E) per round, integer-only arithmetic.
    */
  private[graft] def shortestCostOf(edges0: DataFrame, source: Long,
      rounds: Int): DataFrame = {
    val spark = edges0.sparkSession
    import spark.implicits._
    // ZERO per-round driver syncs: unlike BFS (where the frontier count
    // IS the loop condition), Bellman-Ford runs a FIXED round count, so
    // nothing in the loop needs a per-round action. Every round frame
    // is a LAZY localCheckpoint — the plan still truncates (the next
    // round references dist TWICE, join side and carry side, so without
    // truncation the logical tree would double every round) but the
    // whole relaxation chain materializes in ONE cascade at the
    // caller's first action, each intermediate cached as its checkpoint
    // blocks on first computation. Broadcast/partition gates use the
    // symmetric edge count (computed once; dist is node-sized and
    // nodes ≤ edge rows) instead of a per-round dist count.
    val e = symmetrize(edges0, "u", "v", "src", "dst", Seq("cost"))
      .localCheckpoint(false)
    val ecnt = e.count()
    var dist = Seq((source, 0L)).toDF("node", "cost")
      .localCheckpoint(false)
    for (r <- 1 to rounds) {
      // One exchange per round, carrying NODE-sized partial minima: the
      // min-combine's map-side partial aggregation collapses the
      // relaxation candidates (edge-sized) to at most one row per node
      // per map partition before anything is shuffled. The explicit
      // raw-row repartition this kernel used to pay shipped the whole
      // candidate union un-aggregated — partial aggregation is the
      // cheaper shuffle at every scale (guide §2.3), and AQE coalesces
      // the node-sized tails.
      val dd = dist.select(col("node").as("dn"), col("cost").as("d"))
      val round = e
        .join(bcastUpTo(dd, ecnt, 4000000L), col("src") === col("dn"))
        .select(col("dst").as("node"), (col("d") + col("cost")).as("cost"))
        .unionAll(dist)
        .groupBy("node").agg(min(col("cost")).as("cost"))
      dist = round.localCheckpoint(false)
    }
    dist
  }

  /** Synchronous label propagation communities (re-exported as
    * `graft.api.Graft.labelPropagation`): `edges0` is an undirected
    * (u, v) pair frame, ALREADY checkpoint-pinned. Every node starts with
    * its own id as label; each of exactly `iters` synchronous rounds
    * re-labels every node with the most frequent label among its
    * neighbors, ties broken by the SMALLEST label — fully
    * deterministic, no async sweep order in play, so a DuckDB
    * recursive CTE replays it bit-for-bit. Returns (node, community).
    *
    * Per round: ONE edge⋈label join (labels are node-sized and
    * broadcast-gated), a (node, label) combiner count, and a per-node
    * row_number pick over that node's label counts (frames are
    * neighbor-label-sized, never graph-sized). Fixed iteration count —
    * the standard LPA stopping rule at scale, since oscillation makes
    * convergence detection a trap — so round count, not convergence,
    * bounds the work: O(iters · E) total.
    */
  private[graft] def labelPropagationOf(edges0: DataFrame,
      iters: Int): DataFrame = {
    // The symmetric edge frame is hash-partitioned by src ONCE, before
    // the loop — every round's broadcast label join preserves that
    // partitioning (the streamed side passes through a
    // BroadcastHashJoin unchanged), hash(src) satisfies the clustering
    // of BOTH per-round aggregates ((src, lbl) count and the src-keyed
    // argmax), and the per-round node-sized repartition this kernel
    // used to pay is gone: ZERO exchanges per round while the label
    // frame stays inside broadcast range. (Past the gate the join
    // shuffles on dst as before — partitioning e by src cannot serve a
    // dst-keyed shuffle join — so nothing is lost at that scale.)
    // Partition count is sized to the materialized edge set, the same
    // rows-per-partition rule as the other kernels; edges0 is
    // checkpoint-pinned by caller contract so the count is a cheap
    // cached-block scan.
    val ecnt2 = edges0.count() * 2
    val parts = math.max(1, math.min(
      edges0.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
      (ecnt2 / 50000L + 1L).toInt))
    // persist, NOT localCheckpoint: under AQE a checkpointed frame comes
    // back as Scan ExistingRDD with UnknownPartitioning, silently
    // re-introducing the per-round exchange this layout exists to avoid;
    // the cached InMemoryRelation keeps hash(src) visible to every
    // round's aggregates. Lineage here is shallow (pinned edges0 →
    // explode → one exchange), so truncation is not needed.
    val e = symmetrize(edges0, "u", "v", "src", "dst")
      .repartition(parts, col("src"))
      .persist()
    var labels = e.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node")).localCheckpoint(false)
    val nNodes = labels.count()
    for (i <- 1 to iters) {
      // max_by over (count, -label) structs replaces the former
      // row_number window (no per-partition sort). Ties are impossible
      // in the struct (labels are distinct per group), so the pick is
      // exactly "max count, then smallest label".
      val round = e
        .join(bcastUpTo(labels, nNodes, 4000000L),
          col("dst") === col("node"))
        .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("c"))
        .groupBy(col("src"))
        .agg(max_by(col("lbl"), struct(col("c"), (-col("lbl")).as("nl")))
          .as("lbl"))
        .select(col("src").as("node"), col("lbl"))
      labels = round.localCheckpoint(false)
    }
    labels.select(col("node"), col("lbl").as("community"))
  }

  /** Support-thresholded (≥ 2 orders) co-purchase edge frame shared by
    * the iterative graph queries (connected components, k-core): basket
    * formulation — one order-keyed shuffle, in-task pair explode bounded
    * by basket size, combiner count — and checkpoint-PINNED: the
    * iterative kernels derive nodes and per-round frames from it, so
    * unpinned the lineitem explode would replay per consumer (same
    * contract the minhash callers honor for `collapseClustersLogN`).
    */
  private[graft] def thresholdedCopurchaseEdges(s: SparkSession, d: String,
      aName: String, bName: String,
      supportName: Option[String] = None): DataFrame = {
    val counted = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("ps"))
      .select(col("ps"), explode(col("ps")).as("pa"))
      .select(col("pa"),
        explode(expr("filter(ps, x -> x > pa)")).as("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("n"))
      .where(col("n") >= 2)
    counted
      .select(col("pa").as(aName) +: col("pb").as(bName) +:
        supportName.map(col("n").as(_)).toSeq: _*)
      // EAGER checkpoint (was lazy): every kernel consumer shares ONE
      // pinned frame instead of replaying the lineitem explode. Lazy
      // materialization only wins when exactly one consumer subtree
      // exists — the kernels and link-prediction queries consume this
      // frame through SEVERAL subtrees of one job (symmetric union
      // branches, broadcast degree tables, adjacency anti-joins), and
      // concurrent first consumers RACE the block store: each branch
      // recomputes the whole derivation and all but one result is
      // discarded ("Block rdd_N already exists" warnings; measured
      // ~2x the derivation CPU inside graph_label_propagation's first
      // round). One eager job pays the derivation exactly once.
      .localCheckpoint(true)
  }

  val defs: Seq[Q] = Seq(

    // Exact heavy hitters, one combiner-friendly shuffle: tokens partial-
    // aggregate map-side, the global top-k is a TakeOrdered (no full
    // sort). The deterministic (cnt DESC, tok) tie-break makes top-k
    // well-defined under the hash-compare.
    Q("agg_heavy_hitters",
      """SELECT tok, count(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |WHERE tok <> ''
        |GROUP BY tok
        |ORDER BY cnt DESC, tok
        |LIMIT 20""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("tok"))
        .where(col("tok") =!= "")
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok"))
        .limit(20)
    },

    // Two-pass heavy hitters (see heavyHittersOf): Misra-Gries candidates
    // per partition, exact recount of candidates only — the tail never
    // shuffles. Same oracle as the exact query: the candidate pruning
    // must not change the answer.
    Q("agg_heavy_hitters_twopass",
      """SELECT tok, count(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |WHERE tok <> ''
        |GROUP BY tok
        |ORDER BY cnt DESC, tok
        |LIMIT 20""".stripMargin) { (s, d) =>
      heavyHittersOf(Tables.documents(s, d), "text", 20)
    },

    // Ordered-step funnel (view → click ≤12 h → purchase ≤24 h), the
    // MATCH_RECOGNIZE-class product query. All three step times are
    // window mins over the SAME user partitioning — one Exchange total,
    // the three Window operators stack on it (no per-step self-join,
    // which would be three shuffles of the event stream at 100 TB).
    Q("funnel_view_click_purchase",
      """WITH w1 AS (
        |  SELECT user_id, ts, event_type,
        |    min(CASE WHEN event_type = 'view' THEN ts END)
        |      OVER (PARTITION BY user_id) AS t1
        |  FROM events),
        |w2 AS (
        |  SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1
        |                     AND ts <= t1 + INTERVAL 12 HOUR THEN ts END)
        |      OVER (PARTITION BY user_id) AS t2
        |  FROM w1),
        |w3 AS (
        |  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2
        |                     AND ts <= t2 + INTERVAL 24 HOUR THEN ts END)
        |      OVER (PARTITION BY user_id) AS t3
        |  FROM w2)
        |SELECT
        |  count(DISTINCT CASE WHEN t1 IS NOT NULL THEN user_id END)
        |    AS u_view,
        |  count(DISTINCT CASE WHEN t2 IS NOT NULL THEN user_id END)
        |    AS u_view_click,
        |  count(DISTINCT CASE WHEN t3 IS NOT NULL THEN user_id END)
        |    AS u_full_funnel
        |FROM w3""".stripMargin) { (s, d) =>
      funnelOf(Tables.events(s, d), "user_id", "event_type", "ts",
          Seq(("view", 0), ("click", 12), ("purchase", 24)))
        .select(col("u_step1").as("u_view"),
          col("u_step2").as("u_view_click"),
          col("u_step3").as("u_full_funnel"))
    },

    // Conversion-latency percentiles over the completed funnel: p50/p90
    // of first-view→purchase seconds. Interpolated quantiles are a
    // cross-engine trap (Spark `percentile` and DuckDB `quantile_cont`
    // associate the lerp differently), so BOTH sides compute the
    // interpolation explicitly over the sorted latency list with
    // byte-identical arithmetic. The converted-user list is funnel-output
    // sized (not event sized) — collect_list is bounded by conversions;
    // at 100 TB you'd sketch it (agg_approx_percentile_sketch is the
    // partner query).
    Q("funnel_time_to_convert",
      """WITH w1 AS (
        |  SELECT user_id, ts, event_type,
        |    min(CASE WHEN event_type = 'view' THEN ts END)
        |      OVER (PARTITION BY user_id) AS t1
        |  FROM events),
        |w2 AS (
        |  SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1
        |                     AND ts <= t1 + INTERVAL 12 HOUR THEN ts END)
        |      OVER (PARTITION BY user_id) AS t2
        |  FROM w1),
        |w3 AS (
        |  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2
        |                     AND ts <= t2 + INTERVAL 24 HOUR THEN ts END)
        |      OVER (PARTITION BY user_id) AS t3
        |  FROM w2),
        |pu AS (
        |  SELECT user_id, min(t1) AS t1, min(t3) AS t3
        |  FROM w3 WHERE t3 IS NOT NULL GROUP BY user_id),
        |s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         list_sort(list(date_diff('second', t1, t3))) AS ss
        |  FROM pu)
        |SELECT n AS n_converted,
        |  CAST(ss[CAST(floor((n-1) * 0.5) AS BIGINT) + 1] AS DOUBLE)
        |    + ((n-1) * 0.5 - floor((n-1) * 0.5))
        |      * (ss[least(CAST(floor((n-1) * 0.5) AS BIGINT) + 2, n)]
        |         - ss[CAST(floor((n-1) * 0.5) AS BIGINT) + 1]) AS p50_secs,
        |  CAST(ss[CAST(floor((n-1) * 0.9) AS BIGINT) + 1] AS DOUBLE)
        |    + ((n-1) * 0.9 - floor((n-1) * 0.9))
        |      * (ss[least(CAST(floor((n-1) * 0.9) AS BIGINT) + 2, n)]
        |         - ss[CAST(floor((n-1) * 0.9) AS BIGINT) + 1]) AS p90_secs
        |FROM s""".stripMargin) { (s, d) =>
      val times = funnelTimes(Tables.events(s, d), "user_id", "event_type",
        "ts", Seq(("view", 0), ("click", 12), ("purchase", 24)))
      val pu = times.where(col("__t2").isNotNull)
        .groupBy("user_id")
        .agg(min(col("__t0")).as("t1"), min(col("__t2")).as("t3"))
      def lerp(p: String): String =
        s"""cast(try_element_at(ss, cast(floor((n-1) * $p) as int) + 1)
           |     as double)
           |  + ((n-1) * $p - floor((n-1) * $p))
           |    * (try_element_at(ss, cast(least(cast(floor((n-1) * $p)
           |                                          as bigint) + 2, n)
           |                               as int))
           |       - try_element_at(ss, cast(floor((n-1) * $p) as int)
           |                        + 1))
           |""".stripMargin
      // floor-to-epoch-seconds on EACH side before subtracting — the
      // boundary-crossing semantics of DuckDB's date_diff('second');
      // Spark's timestampdiff(SECOND) floors the full µs difference
      // instead and disagrees by 1 when the fractional parts straddle
      pu.agg(count(lit(1)).as("n"),
          sort_array(collect_list(
            unix_timestamp(col("t3")) - unix_timestamp(col("t1"))))
            .as("ss"))
        .select(col("n").as("n_converted"),
          expr(lerp("0.5")).as("p50_secs"),
          expr(lerp("0.9")).as("p90_secs"))
    },

    // ANY-qualifying-sequence funnel — the MATCH_RECOGNIZE semantics the
    // earliest-anchor funnel above deliberately deviates from (its
    // docstring names the trade): a user with view@0h, view@5h,
    // click@13h converts HERE (13−5 ≤ 12) but not there (anchored to
    // the first view). The existence test "some prior qualified step
    // within gap" needs only the MAX qualified prior step-time as
    // witness (largest prior time ⇒ smallest gap), so each step is one
    // carry-forward max window — all steps stack on ONE user Exchange +
    // ONE sort, linear like lastTouch, never a per-step self-join.
    // Time axis is µs-epoch longs (epoch_us == unix_micros) with
    // event_id tie-break — both engines order and subtract identically.
    Q("funnel_any_sequence",
      """WITH seq AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS tus, event_id
        |  FROM events),
        |w2 AS (
        |  SELECT *, max(CASE WHEN event_type = 'view' THEN tus END)
        |    OVER w AS lv
        |  FROM seq
        |  WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |q2 AS (
        |  SELECT *, CASE WHEN event_type = 'click' AND lv IS NOT NULL
        |                 AND tus - lv <= 43200000000 THEN tus END AS c2
        |  FROM w2),
        |w3 AS (
        |  SELECT *, max(c2) OVER w AS lc
        |  FROM q2
        |  WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |q3 AS (
        |  SELECT *, CASE WHEN event_type = 'purchase' AND lc IS NOT NULL
        |                 AND tus - lc <= 86400000000 THEN tus END AS c3
        |  FROM w3)
        |SELECT
        |  count(DISTINCT CASE WHEN event_type = 'view' THEN user_id END)
        |    AS u_view,
        |  count(DISTINCT CASE WHEN c2 IS NOT NULL THEN user_id END)
        |    AS u_view_click,
        |  count(DISTINCT CASE WHEN c3 IS NOT NULL THEN user_id END)
        |    AS u_full_funnel
        |FROM q3""".stripMargin) { (s, d) =>
      val seq = Tables.events(s, d).select(col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("tus"),
        col("event_id"))
      funnelAnyOf(seq, "user_id", "event_type", "tus", "event_id",
          Seq(("view", 0L), ("click", 43200000000L),
            ("purchase", 86400000000L)))
        .select(col("u_step1").as("u_view"),
          col("u_step2").as("u_view_click"),
          col("u_step3").as("u_full_funnel"))
    },

    // OHLC downsampling (the time-series rollup every metrics store
    // ships): per (event_type, day) the first/last value by (ts,
    // event_id) plus high/low/count/volume. Both row_number passes share
    // one hash Exchange on the group key (opposite sort orders, same
    // partitioning); volume goes through DECIMAL so both engines sum
    // exactly. First/last tie-break on event_id makes the answer
    // deterministic under equal timestamps.
    Q("ts_downsample_ohlc",
      """WITH r AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, ts, event_id, value,
        |    row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
        |      ORDER BY ts, event_id) AS rn_a,
        |    row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
        |      ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM events)
        |SELECT event_type, CAST(day AS VARCHAR) AS day,
        |  max(CASE WHEN rn_a = 1 THEN value END) AS open,
        |  max(value) AS high,
        |  min(value) AS low,
        |  max(CASE WHEN rn_d = 1 THEN value END) AS close,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS vol
        |FROM r
        |GROUP BY event_type, day
        |ORDER BY event_type, day""".stripMargin) { (s, d) =>
      val base = Tables.events(s, d)
        .withColumn("day", to_date(col("ts")))
      val grp = Window.partitionBy("event_type", "day")
      val r = base
        .withColumn("rn_a",
          row_number().over(grp.orderBy(col("ts").asc, col("event_id").asc)))
        .withColumn("rn_d",
          row_number().over(grp.orderBy(col("ts").desc, col("event_id").desc)))
      r.groupBy(col("event_type"), col("day"))
        .agg(
          max(when(col("rn_a") === 1, col("value"))).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max(when(col("rn_d") === 1, col("value"))).as("close"),
          count(lit(1)).as("n"),
          sum(col("value").cast("decimal(12,2)")).cast("double").as("vol"))
        .select(col("event_type"),
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("open"), col("high"), col("low"), col("close"),
          col("n"), col("vol"))
        .orderBy("event_type", "day")
    },

    // Linear interpolation onto an hourly spine — the gap-fill partner of
    // ts_gapfill_ffill (carry-forward) with a genuinely different kernel:
    // missing cells get (pv·(ΔT−Δt) + nv·Δt)/ΔT between their nearest
    // known neighbors (edges clamp to the one known side). ONE scan of
    // the fact table (the hourly aggregate carries bounds, types, and the
    // sparse >150 sums); the spine is O(types × hours) — broadcast-sized.
    // Cross-engine determinism: the series stays DECIMAL through the
    // windows, the interpolation numerator is computed in exact DECIMAL
    // (2-dp values × integer hour deltas), and the ONLY double operation
    // is the final correctly-rounded division — bit-identical in both
    // engines with no round() call (whose half-boundary semantics differ:
    // Spark rounds the shortest decimal repr, DuckDB the binary value,
    // and 2-dp × power-of-two fractions land exactly on boundaries).
    Q("ts_interpolate_linear",
      """WITH sparse AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         sum(CAST(value AS DECIMAL(12,2))) AS v
        |  FROM events WHERE value > 150 GROUP BY 1, 2),
        |b AS (
        |  SELECT date_trunc('hour', min(ts)) AS h0,
        |         date_trunc('hour', max(ts)) AS h1
        |  FROM events),
        |hours AS (
        |  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        |  FROM b),
        |grid AS (
        |  SELECT t.event_type, hh.h
        |  FROM (SELECT DISTINCT event_type FROM events) t
        |  CROSS JOIN hours hh),
        |j AS (
        |  SELECT g.event_type, g.h, sp.v
        |  FROM grid g LEFT JOIN sparse sp
        |    ON sp.event_type = g.event_type AND sp.h = g.h),
        |w AS (
        |  SELECT event_type, h, v,
        |    last_value(v IGNORE NULLS) OVER (PARTITION BY event_type
        |      ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS pv,
        |    last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
        |      OVER (PARTITION BY event_type ORDER BY h
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
        |    first_value(v IGNORE NULLS) OVER (PARTITION BY event_type
        |      ORDER BY h ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |      AS nv,
        |    first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
        |      OVER (PARTITION BY event_type ORDER BY h
        |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
        |  FROM j)
        |SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
        |  CASE
        |    WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)
        |    WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
        |      CAST(pv * (date_diff('hour', ph, nh)
        |                 - date_diff('hour', ph, h))
        |           + nv * date_diff('hour', ph, h) AS DOUBLE)
        |      / CAST(date_diff('hour', ph, nh) AS DOUBLE)
        |    WHEN pv IS NOT NULL THEN CAST(pv AS DOUBLE)
        |    WHEN nv IS NOT NULL THEN CAST(nv AS DOUBLE)
        |    ELSE 0.0 END AS v_interp
        |FROM w
        |ORDER BY event_type, h""".stripMargin) { (s, d) =>
      // one fact scan: the hourly aggregate carries presence (bounds,
      // types) and the sparse sums; tiny (types × hours), pinned once
      val hourly = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(sum(when(col("value") > 150, col("value"))
          .cast("decimal(12,2)")).as("v"))
        .localCheckpoint(true)
      val sparse = hourly.where(col("v").isNotNull)
      val hoursF = hourly.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
        .select(explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
      val grid = hourly.select("event_type").distinct()
        .crossJoin(broadcast(hoursF))
      val byType = Window.partitionBy("event_type").orderBy("h")
      val back = byType.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val fwd = byType.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val knownH = when(col("v").isNotNull, col("h"))
      val dt = expr("timestampdiff(HOUR, ph, h)")
      val dT = expr("timestampdiff(HOUR, ph, nh)")
      val w = grid.join(sparse, Seq("event_type", "h"), "left")
        .withColumn("pv", last(col("v"), ignoreNulls = true).over(back))
        .withColumn("ph", last(knownH, ignoreNulls = true).over(back))
        .withColumn("nv", first(col("v"), ignoreNulls = true).over(fwd))
        .withColumn("nh", first(knownH, ignoreNulls = true).over(fwd))
      w.select(col("event_type"),
          date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          when(col("v").isNotNull, col("v").cast("double"))
            .when(col("pv").isNotNull && col("nv").isNotNull,
              (col("pv") * (dT - dt) + col("nv") * dt).cast("double")
                / dT.cast("double"))
            .when(col("pv").isNotNull, col("pv").cast("double"))
            .when(col("nv").isNotNull, col("nv").cast("double"))
            .otherwise(lit(0.0)).as("v_interp"))
        .orderBy(col("event_type"), col("hour"))
    },

    // Interval-overlap join: urgent order windows [orderdate, +20 d]
    // against lineitem ship intervals [shipdate, +7 d]; classic
    // [s1 ≤ e2 AND s2 ≤ e1] predicate. The window set is dim-sized →
    // broadcast nested-loop; at 100 TB with a data-sized right side the
    // same query buckets both sides by coarse time range first (the
    // join_range_interval pattern) so each bucket joins locally.
    Q("join_interval_overlap",
      """WITH win AS (
        |  SELECT o_orderkey AS win_id, o_orderdate AS w_start,
        |         o_orderdate + INTERVAL 20 DAY AS w_end
        |  FROM orders
        |  WHERE o_orderpriority = '1-URGENT' AND o_orderkey < 400),
        |iv AS (
        |  SELECT l_shipdate AS i_start,
        |         l_shipdate + INTERVAL 7 DAY AS i_end
        |  FROM lineitem WHERE l_partkey < 50)
        |SELECT w.win_id, count(*) AS n_overlap
        |FROM win w JOIN iv
        |  ON iv.i_start <= w.w_end AND w.w_start <= iv.i_end
        |GROUP BY w.win_id
        |ORDER BY w.win_id""".stripMargin) { (s, d) =>
      val win = Tables.orders(s, d)
        .where(col("o_orderpriority") === "1-URGENT"
          && col("o_orderkey") < 400)
        .select(col("o_orderkey").as("win_id"),
          col("o_orderdate").as("w_start"),
          date_add(col("o_orderdate"), 20).as("w_end"))
      val iv = Tables.lineitem(s, d)
        .where(col("l_partkey") < 50)
        .select(col("l_shipdate").as("i_start"),
          date_add(col("l_shipdate"), 7).as("i_end"))
      iv.join(broadcast(win),
          col("i_start") <= col("w_end") && col("w_start") <= col("i_end"))
        .groupBy("win_id").agg(count(lit(1)).as("n_overlap"))
        .orderBy("win_id")
    },

    // Zonemap (file-stats) pruning: the storage-side data-skipping every
    // lakehouse table format does. The layout is range-clustered by
    // `value` (see zonemapLayout) and the per-file min/max table stays a
    // DATAFRAME whose keep-set semi-joins the scan (zonemapScan) — no
    // driver-side file array; physical I/O skipping rides the pushed
    // BETWEEN predicate (row-group stats), the semi-join carries the
    // file-level zone decision. AnalyticsSpec asserts the metadata
    // facade's pruned list is a strict subset; PlanSpec pins the
    // broadcast-semi shape. The answer is oracled against the plain full
    // scan: skipping must not change results.
    Q("scan_zonemap_prune",
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sv
        |FROM events
        |WHERE value BETWEEN 240 AND 250
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin) { (s, d) =>
      val dir = zonemapLayout(s, d)
      // collect-free pruning (ADVICE r16): the keep-set rides the plan as
      // a broadcast semi-join on input_file_name() instead of a driver
      // Array[String] — an empty keep-set is just an empty broadcast side
      // (no zero-path read to special-case), and AnalyticsSpec still
      // pins the strict-subset property via the metadata facade
      val src = zonemapScan(s, dir, "value", 240.0, 250.0)
      src
        .where(col("value").between(240, 250))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(12,2)")).cast("double").as("sv"))
        .orderBy("event_type")
    },

    // Character-level Shannon entropy per document — the gibberish /
    // encoding-noise detector next to text_quality_score. Entirely
    // row-local HOFs (no shuffle, linear at 100 TB); the fold runs over
    // the SORTED distinct-char list so both engines sum identical terms
    // in identical order (list_reduce / aggregate are sequential by
    // definition — list_sum's accumulation order is unspecified).
    // Float-parity discipline (the BM25 pattern, NOT a final round):
    // the one transcendental (log2) is rounded to 8 decimals BEFORE the
    // multiply — after that every operand is bit-identical cross-engine
    // (p is an exact integer ratio, products and the ordered sum are
    // IEEE-identical), so the sum is emitted UNROUNDED. A final
    // round(...,4) was the documented half-boundary trap: dyadic char
    // distributions (p = k/2^m) put the exact sum ON a 4-dp half
    // boundary, where Spark (shortest-decimal HALF_UP) and DuckDB
    // (binary-value) rounding can disagree.
    Q("text_entropy_score",
      """SELECT doc_id, length(text) AS n_chars,
        |  -list_reduce(list_transform(
        |      list_sort(list_distinct(string_split(text, ''))),
        |      c -> (CAST(len(list_filter(string_split(text, ''),
        |                                 x -> x = c)) AS DOUBLE)
        |            / len(string_split(text, '')))
        |           * round(log2(CAST(len(list_filter(string_split(text, ''),
        |                                       x -> x = c)) AS DOUBLE)
        |                  / len(string_split(text, ''))), 8)),
        |    (a, b) -> a + b) AS entropy
        |FROM documents
        |WHERE length(text) > 0
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .where(length(col("text")) > 0)
        .withColumn("ch", split(col("text"), ""))
        .select(col("doc_id"), length(col("text")).as("n_chars"),
          (-charEntropyNeg("ch")).as("entropy"))
        .orderBy("doc_id")
    },

    // Cohort retention — the product-analytics partner of the funnel:
    // users cohorted by first high-value-purchase week, retention = the
    // (cohort, weeks-since) distinct-user triangle. ONE data-sized
    // shuffle: the fact scan groups straight to per-user week sets
    // (bounded by the calendar, map-side combined), the cohort is
    // array_min of the set — no join, no second fact pass; the re-
    // aggregation to the triangle is over O(users × weeks) rows. Week
    // arithmetic is integer days/7 on week-truncated dates — exact in
    // both engines.
    Q("cohort_retention",
      """WITH hv AS (
        |  SELECT DISTINCT user_id,
        |         CAST(date_trunc('week', ts) AS DATE) AS wk
        |  FROM events WHERE event_type = 'purchase' AND value > 100),
        |coh AS (
        |  SELECT user_id, min(wk) AS cohort FROM hv GROUP BY user_id)
        |SELECT CAST(c.cohort AS VARCHAR) AS cohort_week,
        |       date_diff('week', c.cohort, a.wk) AS week_n,
        |       count(DISTINCT a.user_id) AS users
        |FROM hv a JOIN coh c ON a.user_id = c.user_id
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .where(col("event_type") === "purchase" && col("value") > 100)
        .groupBy("user_id")
        .agg(collect_set(date_trunc("week", col("ts")).cast("date"))
          .as("wks"))
        .select(col("user_id"), array_min(col("wks")).as("cohort"),
          explode(col("wks")).as("wk"))
        .groupBy(date_format(col("cohort"), "yyyy-MM-dd").as("cohort_week"),
          (datediff(col("wk"), col("cohort")) / 7).cast("long").as("week_n"))
        .agg(countDistinct(col("user_id")).as("users"))
        .orderBy("cohort_week", "week_n")
    },

    // COHORT LTV CURVES — the revenue companion to cohort_retention's
    // counts: customers cohorted by first-purchase month, each cohort's
    // cumulative revenue per month-of-age divided by its FIXED cohort
    // size = the LTV-per-user curve every subscription/commerce model
    // is calibrated against. Ages are integer month arithmetic
    // (year·12+month differences — months_between() returns fractional
    // doubles), revenue stays DECIMAL-exact through the running
    // cumulative (windowed sum of exact decimals in a deterministic
    // (cohort, age) order), ONE double division per output cell. The
    // orders fact shuffles once into the (cohort, age) aggregate; the
    // running window ranks cohort×age rows only; cohort sizes broadcast.
    // Weekly RETENTION TRIANGLE over the events stream — the classic
    // cohort grid every product-analytics deployment maintains: users
    // grouped by FIRST-ACTIVE week, each cohort's share still active k
    // weeks later. Both axes derive from one distinct (user, week)
    // frame: min-week per user = the cohort, week gaps are exact
    // integer day-diffs div 7 (both engines truncate weeks to Monday,
    // so the diff is always a multiple of 7 — no float date math).
    // retention is the single double division. Plan: one user-keyed
    // shuffle for the distinct+min, one (cohort, offset) combiner
    // aggregate, cohort sizes broadcast back — at 100 TB the (user,
    // week) distinct is the only data-sized exchange.
    Q("events_retention_triangle",
      """WITH uw AS (SELECT DISTINCT user_id,
        |              CAST(date_trunc('week', ts) AS TIMESTAMP) AS w
        |            FROM events),
        |f AS (SELECT user_id, min(w) AS cohort_week FROM uw GROUP BY 1),
        |sz AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS n_cohort
        |       FROM f GROUP BY 1),
        |act AS (SELECT cohort_week,
        |          CAST(date_diff('day', cohort_week, w) // 7 AS BIGINT)
        |            AS week_offset,
        |          CAST(count(*) AS BIGINT) AS n_active
        |        FROM uw JOIN f USING (user_id) GROUP BY 1, 2)
        |SELECT act.cohort_week AS cohort_week, week_offset, n_cohort,
        |  n_active,
        |  CAST(n_active AS DOUBLE) / CAST(n_cohort AS DOUBLE) AS retention
        |FROM act JOIN sz USING (cohort_week)
        |ORDER BY cohort_week, week_offset""".stripMargin) { (s, d) =>
      retentionTriangleOf(
        Tables.events(s, d).select(col("user_id"), col("ts")),
        "user_id", "ts")
    },

    // Retention HALF-LIFE — the one-number summary the raw triangle
    // doesn't give: pool the triangle's per-age retention with proper
    // RIGHT-CENSORING (age a's base counts only cohorts old enough to
    // be observable at a — naive pooling biases late ages toward the
    // oldest cohorts), fit ln R(a) ~ a by micro-log OLS over ages ≥ 1
    // with retained > 0, and report half-life = ln 2 / |slope| in
    // weeks. R(a) is an exact integer rational per age, its micro-log
    // an exact BIGINT, so the OLS accumulators are exact integer sums
    // (the text_zipf_slope discipline); slope and half-life are one
    // double cascade with the ln 2 literal written identically on both
    // engines (the Benford-literal rule: parse the same decimal, never
    // call log(2)). Plan: the same two user-keyed passes as the
    // triangle, then the whole fit runs on the ≤|weeks| age frame.
    Q("events_retention_halflife",
      """WITH uw AS (SELECT DISTINCT user_id,
        |              CAST(date_trunc('week', ts) AS TIMESTAMP) AS w
        |            FROM events),
        |f AS (SELECT user_id, min(w) AS cw FROM uw GROUP BY 1),
        |mx AS (SELECT max(w) AS mw FROM uw),
        |sz AS (
        |  SELECT cw, CAST(count(*) AS BIGINT) AS n_cohort,
        |    CAST(date_diff('day', cw, mw) // 7 AS BIGINT) AS max_age
        |  FROM f, mx GROUP BY cw, mw),
        |act AS (SELECT cw,
        |          CAST(date_diff('day', cw, w) // 7 AS BIGINT) AS a,
        |          CAST(count(*) AS BIGINT) AS n_active
        |        FROM uw JOIN f USING (user_id) GROUP BY 1, 2),
        |ages AS (SELECT DISTINCT a FROM act),
        |base AS (
        |  SELECT a, CAST(sum(n_cohort) AS BIGINT) AS base
        |  FROM ages JOIN sz ON sz.max_age >= ages.a GROUP BY a),
        |ret AS (
        |  SELECT base.a, base.base,
        |    CAST(coalesce(sum(act.n_active), 0) AS BIGINT) AS retained
        |  FROM base LEFT JOIN act ON act.a = base.a
        |  GROUP BY base.a, base.base),
        |ml AS (
        |  SELECT a, base, retained,
        |    CAST(floor(ln(CAST(retained AS DOUBLE)
        |      / CAST(base AS DOUBLE)) * 1000000) AS BIGINT) AS y
        |  FROM ret WHERE a >= 1 AND retained > 0),
        |sl AS (
        |  SELECT CAST(count(*) AS BIGINT) AS m2,
        |    CAST(sum(a) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(a * y) AS BIGINT) AS sxy,
        |    CAST(sum(a * a) AS BIGINT) AS sxx
        |  FROM ml),
        |fit AS (
        |  SELECT (CAST(m2 AS DOUBLE) * CAST(sxy AS DOUBLE)
        |            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |         / (CAST(m2 AS DOUBLE) * CAST(sxx AS DOUBLE)
        |            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |    AS slope_scaled
        |  FROM sl)
        |SELECT ret.a AS week_offset, base, retained,
        |  CAST(retained AS DOUBLE) / CAST(base AS DOUBLE)
        |    AS retention_pooled,
        |  slope_scaled,
        |  CASE WHEN slope_scaled < 0 THEN
        |    CAST(0.6931471805599453 AS DOUBLE) * 1000000.0
        |      / (0.0 - slope_scaled) END AS half_life_weeks
        |FROM ret, fit ORDER BY week_offset""".stripMargin) { (s, d) =>
      val uw = Tables.events(s, d)
        .select(col("user_id"),
          date_trunc("week", col("ts")).cast("timestamp").as("w"))
        .distinct()
      val f = uw.groupBy("user_id").agg(min(col("w")).as("cw"))
      val mx = uw.agg(max(col("w")).as("mw"))
      val sz = f.crossJoin(broadcast(mx))
        .groupBy(col("cw"), col("mw"))
        .agg(count(lit(1)).as("n_cohort"))
        .select(col("cw"), col("n_cohort"),
          (datediff(col("mw"), col("cw")).cast("long") / 7)
            .cast("long").as("max_age"))
      val act = uw.join(f, "user_id")
        .groupBy(col("cw"),
          expr("CAST(datediff(w, cw) div 7 AS BIGINT)").as("a"))
        .agg(count(lit(1)).as("n_active"))
      val ages = act.select(col("a")).distinct()
      val base = ages.join(broadcast(sz), col("max_age") >= col("a"))
        .groupBy("a").agg(sum(col("n_cohort")).as("base"))
      val ret = base
        .join(act.select(col("a").as("aa"), col("n_active")),
          col("a") === col("aa"), "left")
        .groupBy("a", "base")
        .agg(coalesce(sum(col("n_active")), lit(0L)).as("retained"))
      val ml = ret.where(col("a") >= 1 && col("retained") > 0)
        .select(col("a"), col("retained"), col("base"),
          floor(log(col("retained").cast("double")
            / col("base").cast("double")) * 1000000)
            .cast("long").as("y"))
      val sl = ml.agg(count(lit(1)).as("m2"), sum(col("a")).as("sx"),
        sum(col("y")).as("sy"), sum(col("a") * col("y")).as("sxy"),
        sum(col("a") * col("a")).as("sxx"))
      val fit = sl.select(
        ((col("m2").cast("double") * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double"))
          / (col("m2").cast("double") * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double")))
          .as("slope_scaled"))
      ret.crossJoin(broadcast(fit))
        .select(col("a").as("week_offset"), col("base"), col("retained"),
          (col("retained").cast("double") / col("base").cast("double"))
            .as("retention_pooled"),
          col("slope_scaled"),
          // zero/positive slope = no decay in window (half-life
          // undefined → NULL; an unguarded double /0 trips ANSI)
          when(col("slope_scaled") < 0,
            lit(0.6931471805599453) * 1000000.0
              / (lit(0.0) - col("slope_scaled"))).as("half_life_weeks"))
        .orderBy("week_offset")
    },

    Q("orders_cohort_ltv",
      """WITH c AS (
        |  SELECT o_custkey,
        |    min(date_trunc('month', CAST(o_orderdate AS DATE))) AS cm
        |  FROM orders GROUP BY 1),
        |sz AS (SELECT cm, CAST(count(*) AS BIGINT) AS cohort_users
        |       FROM c GROUP BY 1),
        |r AS (
        |  SELECT c.cm,
        |    (year(date_trunc('month', CAST(o.o_orderdate AS DATE))) * 12
        |      + month(date_trunc('month', CAST(o.o_orderdate AS DATE))))
        |    - (year(c.cm) * 12 + month(c.cm)) AS age_months,
        |    sum(CAST(o.o_totalprice AS DECIMAL(12,2))) AS rev
        |  FROM orders o JOIN c ON o.o_custkey = c.o_custkey
        |  GROUP BY 1, 2),
        |w AS (
        |  SELECT cm, age_months, rev,
        |    sum(rev) OVER (PARTITION BY cm ORDER BY age_months) AS cum_rev
        |  FROM r)
        |SELECT CAST(w.cm AS TIMESTAMP) AS cohort_month,
        |  CAST(age_months AS BIGINT) AS age_months,
        |  cohort_users,
        |  CAST(rev AS DOUBLE) AS revenue,
        |  CAST(cum_rev AS DOUBLE) / cohort_users AS ltv_per_user
        |FROM w JOIN sz ON w.cm = sz.cm
        |ORDER BY cohort_month, age_months""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
        .select(col("o_custkey"),
          date_trunc("month", col("o_orderdate").cast("date")).as("om"),
          col("o_totalprice"))
        .localCheckpoint(true)
      val c = o.groupBy(col("o_custkey").as("ck"))
        .agg(min(col("om")).as("cm"))
      val sz = c.groupBy("cm")
        .agg(count(lit(1)).cast("long").as("cohort_users"))
      val r = o.join(c, col("o_custkey") === col("ck"))
        .groupBy(col("cm"),
          ((year(col("om")) * 12 + month(col("om")))
            - (year(col("cm")) * 12 + month(col("cm"))))
            .cast("long").as("age_months"))
        .agg(sum(col("o_totalprice").cast("decimal(12,2)")).as("rev"))
      val w = Window.partitionBy(col("cm")).orderBy(col("age_months"))
      r.withColumn("cum_rev", sum(col("rev")).over(w))
        .join(broadcast(sz), "cm")
        .select(col("cm").cast("timestamp").as("cohort_month"),
          col("age_months"), col("cohort_users"),
          col("rev").cast("double").as("revenue"),
          (col("cum_rev").cast("double") / col("cohort_users"))
            .as("ltv_per_user"))
        .orderBy("cohort_month", "age_months")
    },

    // ROLLUP RECONCILIATION — the ops report run whenever two pipelines
    // derive "the same" number: monthly revenue recomputed from the
    // LINE-LEVEL fact (Σ extprice·(1−disc)·(1+tax), all DECIMAL-exact
    // products) side by side with the ORDER-level o_totalprice rollup;
    // diff stays DECIMAL (exact subtraction — a reconciliation that
    // rounds before differencing hides exactly the drift it exists to
    // catch), one double division for the ratio. One scan of each fact,
    // the order dim broadcast onto lineitem for the month key.
    Q("dq_rollup_reconcile",
      """WITH lr AS (
        |  SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
        |    sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |        * (1 - CAST(l_discount AS DECIMAL(3,2)))
        |        * (1 + CAST(l_tax AS DECIMAL(3,2)))) AS fact_rev,
        |    count(DISTINCT l_orderkey) AS n_orders
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1),
        |orr AS (
        |  SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
        |    sum(CAST(o_totalprice AS DECIMAL(12,2))) AS order_rev
        |  FROM orders GROUP BY 1)
        |SELECT CAST(lr.m AS TIMESTAMP) AS month,
        |  CAST(n_orders AS BIGINT) AS n_orders,
        |  CAST(fact_rev AS DOUBLE) AS fact_revenue,
        |  CAST(order_rev AS DOUBLE) AS order_revenue,
        |  CAST(fact_rev - order_rev AS DOUBLE) AS diff,
        |  CAST(fact_rev AS DOUBLE) / CAST(order_rev AS DOUBLE) AS ratio
        |FROM lr JOIN orr ON lr.m = orr.m
        |ORDER BY month""".stripMargin) { (s, d) =>
      val om = Tables.orders(s, d)
        .select(col("o_orderkey"),
          date_trunc("month", col("o_orderdate").cast("date")).as("m"),
          col("o_totalprice"))
      val lr = Tables.lineitem(s, d)
        .join(om, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("m"))
        .agg(sum(col("l_extendedprice").cast("decimal(12,2)")
            * (lit(1) - col("l_discount").cast("decimal(3,2)"))
            * (lit(1) + col("l_tax").cast("decimal(3,2)"))).as("fact_rev"),
          countDistinct(col("l_orderkey")).as("n_orders"))
      val orr = om.groupBy(col("m").as("m2"))
        .agg(sum(col("o_totalprice").cast("decimal(12,2)")).as("order_rev"))
      lr.join(orr, col("m") === col("m2"))
        .select(col("m").cast("timestamp").as("month"),
          col("n_orders").cast("long").as("n_orders"),
          col("fact_rev").cast("double").as("fact_revenue"),
          col("order_rev").cast("double").as("order_revenue"),
          (col("fact_rev") - col("order_rev")).cast("double").as("diff"),
          (col("fact_rev").cast("double")
            / col("order_rev").cast("double")).as("ratio"))
        .orderBy("month")
    },

    // Hour-of-day seasonal decomposition — the third member of the TS
    // diagnostics trio (trend / anomaly / seasonality): the seasonal
    // component is each (series, hour-of-day)'s mean over the whole
    // window, the residual is what anomaly detection should run on when
    // a series has a daily cycle. Same exact-sums discipline: seasonal
    // mean = exact DECIMAL sum / exact count (one correctly-rounded
    // division), residual one subtraction — NO rounding. The seasonal
    // profile is O(series × 24) — broadcast back onto the series.
    Q("ts_seasonal_decompose",
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         sum(CAST(value AS DECIMAL(12,2))) AS v
        |  FROM events GROUP BY 1, 2),
        |seas AS (
        |  SELECT event_type AS et, hour(h) AS hod,
        |         CAST(count(*) AS BIGINT) AS n, sum(v) AS sv
        |  FROM hourly GROUP BY 1, 2)
        |SELECT h.event_type, strftime(h.h, '%Y-%m-%d %H:%M:%S') AS hour,
        |  CAST(h.v AS DOUBLE) AS v,
        |  CAST(s.sv AS DOUBLE) / s.n AS seasonal,
        |  CAST(h.v AS DOUBLE) - CAST(s.sv AS DOUBLE) / s.n AS residual
        |FROM hourly h JOIN seas s
        |  ON h.event_type = s.et AND hour(h.h) = s.hod
        |ORDER BY h.event_type, h.h""".stripMargin) { (s, d) =>
      val hourly = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(sum(col("value").cast("decimal(12,2)")).as("v"))
        .localCheckpoint(true)
      val seas = hourly
        .groupBy(col("event_type").as("et"), hour(col("h")).as("hod"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      val seasonal = col("sv").cast("double") / col("n")
      hourly.join(broadcast(seas),
          col("event_type") === col("et") && hour(col("h")) === col("hod"))
        .select(col("event_type"),
          date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("v").cast("double").as("v"),
          seasonal.as("seasonal"),
          (col("v").cast("double") - seasonal).as("residual"))
        .orderBy("event_type", "hour")
    },

    // Per-series OLS linear trend via the NORMAL EQUATIONS over exact
    // sums — the determinism trick that makes regression oracle-able:
    // regr_slope/covar/var aggregates accumulate doubles in shuffle
    // order (nondeterministic cross-engine), but n/Σx/Σy/Σxy/Σx² are
    // exact (integers × DECIMAL), so slope = (nΣxy−ΣxΣy)/(nΣx²−Σx²)
    // needs ONE correctly-rounded double division. One fact scan, one
    // tiny per-series stats row.
    Q("ts_linear_trend",
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         sum(CAST(value AS DECIMAL(12,2))) AS y
        |  FROM events GROUP BY 1, 2),
        |st AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(date_diff('day', DATE '2024-01-01', day)) AS BIGINT)
        |      AS sx,
        |    sum(y) AS sy,
        |    sum(date_diff('day', DATE '2024-01-01', day) * y) AS sxy,
        |    CAST(sum(date_diff('day', DATE '2024-01-01', day)
        |           * date_diff('day', DATE '2024-01-01', day)) AS BIGINT)
        |      AS sxx
        |  FROM daily GROUP BY 1)
        |SELECT event_type,
        |  CAST(n * sxy - sx * sy AS DOUBLE)
        |    / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
        |  (CAST(sy AS DOUBLE)
        |   - (CAST(n * sxy - sx * sy AS DOUBLE)
        |      / CAST(n * sxx - sx * sx AS DOUBLE)) * sx) / n AS intercept
        |FROM st
        |ORDER BY event_type""".stripMargin) { (s, d) =>
      val x = datediff(col("day"), lit("2024-01-01").cast("date"))
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(col("value").cast("decimal(12,2)")).as("y"))
      val st = daily.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(x).as("sx"), sum(col("y")).as("sy"),
          sum(x * col("y")).as("sxy"), sum(x * x).as("sxx"))
      val slope = (col("n") * col("sxy") - col("sx") * col("sy"))
        .cast("double") /
        (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
      st.select(col("event_type"), slope.as("slope"),
          ((col("sy").cast("double") - slope * col("sx")) / col("n"))
            .as("intercept"))
        .orderBy("event_type")
    },

    // Hourly anomaly flags by z-score against the series' own
    // mean/stddev — same exact-sums discipline as ts_linear_trend
    // (n/Σv/Σv² are exact DECIMAL, variance = (nΣv²−(Σv)²)/n² needs one
    // division + one correctly-rounded sqrt). The per-series stats row
    // broadcasts back onto the hourly frame; |z| ≥ 2.5 bounds output.
    Q("ts_anomaly_zscore",
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         sum(CAST(value AS DECIMAL(12,2))) AS v
        |  FROM events GROUP BY 1, 2),
        |st AS (
        |  SELECT event_type AS et, CAST(count(*) AS BIGINT) AS n,
        |         sum(v) AS sv, sum(v * v) AS svv
        |  FROM hourly GROUP BY 1),
        |z AS (
        |  SELECT h.event_type, h.h, CAST(h.v AS DOUBLE) AS v,
        |    (CAST(h.v AS DOUBLE) - CAST(s.sv AS DOUBLE) / s.n)
        |      / sqrt(CAST(s.n * s.svv - s.sv * s.sv AS DOUBLE)
        |             / (CAST(s.n AS DOUBLE) * s.n)) AS z
        |  FROM hourly h JOIN st s ON h.event_type = s.et)
        |SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour, v, z
        |FROM z WHERE abs(z) >= 2.5
        |ORDER BY event_type, h""".stripMargin) { (s, d) =>
      val hourly = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(sum(col("value").cast("decimal(12,2)")).as("v"))
        .localCheckpoint(true)
      val st = hourly.groupBy(col("event_type").as("et"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
          sum(col("v") * col("v")).as("svv"))
      val z = (col("v").cast("double") - col("sv").cast("double") / col("n")) /
        sqrt((col("n") * col("svv") - col("sv") * col("sv")).cast("double")
          / (col("n").cast("double") * col("n")))
      hourly.join(broadcast(st), col("event_type") === col("et"))
        .select(col("event_type"),
          date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("v").cast("double").as("v"), z.as("z"))
        .where(abs(col("z")) >= 2.5)
        .orderBy("event_type", "hour")
    },

    // SEASONALITY-AWARE anomaly flags — the detector ts_seasonal_decompose
    // says anomaly detection should consume when a series has a daily
    // cycle: the SAME exact-sums z-score discipline as ts_anomaly_zscore
    // but grouped by (series, HOUR-OF-DAY), so a midnight lull is judged
    // against midnights and a noon peak against noons — the raw z-score
    // flags every peak hour of a cyclic series as "anomalous" while
    // missing a genuinely quiet noon. Per-group mean/σ from DECIMAL-exact
    // (n, Σv, Σv²) with one division + one correctly-rounded sqrt per
    // group; groups are O(series×24) and broadcast back onto the hourly
    // frame. Threshold 2.0 within-group (tighter than the global 2.5 —
    // deseasonalized residuals are tighter by construction).
    Q("ts_anomaly_seasonal",
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         CAST(hour(ts) AS BIGINT) AS hod,
        |         sum(CAST(value AS DECIMAL(12,2))) AS v
        |  FROM events GROUP BY 1, 2, 3),
        |st AS (
        |  SELECT event_type AS et, hod AS shod,
        |         CAST(count(*) AS BIGINT) AS n,
        |         sum(v) AS sv, sum(v * v) AS svv
        |  FROM hourly GROUP BY 1, 2),
        |z AS (
        |  SELECT h.event_type, h.h, h.hod, CAST(h.v AS DOUBLE) AS v,
        |    (CAST(h.v AS DOUBLE) - CAST(s.sv AS DOUBLE) / s.n)
        |      / sqrt(CAST(s.n * s.svv - s.sv * s.sv AS DOUBLE)
        |             / (CAST(s.n AS DOUBLE) * s.n)) AS z
        |  FROM hourly h JOIN st s
        |    ON h.event_type = s.et AND h.hod = s.shod
        |  WHERE s.n >= 2)
        |SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
        |       hod, v, z
        |FROM z WHERE abs(z) >= 2.0
        |ORDER BY event_type, h""".stripMargin) { (s, d) =>
      val hourly = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"),
          hour(col("ts")).cast("long").as("hod"))
        .agg(sum(col("value").cast("decimal(12,2)")).as("v"))
        .localCheckpoint(true)
      val st = hourly.groupBy(col("event_type").as("et"),
          col("hod").as("shod"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
          sum(col("v") * col("v")).as("svv"))
        .where(col("n") >= 2)
      val z = (col("v").cast("double") - col("sv").cast("double") / col("n")) /
        sqrt((col("n") * col("svv") - col("sv") * col("sv")).cast("double")
          / (col("n").cast("double") * col("n")))
      hourly.join(broadcast(st),
          col("event_type") === col("et") && col("hod") === col("shod"))
        .select(col("event_type"),
          date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("hod"), col("v").cast("double").as("v"), z.as("z"))
        .where(abs(col("z")) >= 2.0)
        .orderBy("event_type", "hour")
    },

    // CUSUM changepoint detection per series: the point where the
    // cumulative deviation from the series mean peaks — the classic
    // level-shift locator (deploy regressions, data-drift onset) next to
    // the pointwise z-score detector above. Deterministic by the
    // exact-sums discipline: the running sum is DECIMAL (exact, window-
    // ordered), the expected line is rn·(total/n) (one division, one
    // multiply), and CUSUM_t = |S_t − rn·mean| mixes only bit-identical
    // operands — emitted UNROUNDED. One shuffle for the hourly rollup,
    // one window over the rollup (series-partitioned), argmax via
    // struct-max with the earliest-hour tie-break.
    Q("ts_changepoint_cusum",
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         sum(CAST(value AS DECIMAL(12,2))) AS v
        |  FROM events GROUP BY 1, 2),
        |c AS (
        |  SELECT event_type, h,
        |    CAST(count(*) OVER w_all AS BIGINT) AS n,
        |    sum(v) OVER w_all AS tot,
        |    sum(v) OVER w_run AS s,
        |    CAST(row_number() OVER w_ord AS BIGINT) AS rn
        |  FROM hourly
        |  WINDOW w_all AS (PARTITION BY event_type),
        |         w_run AS (PARTITION BY event_type ORDER BY h
        |                   ROWS UNBOUNDED PRECEDING),
        |         w_ord AS (PARTITION BY event_type ORDER BY h)),
        |dev AS (
        |  SELECT event_type, h, n,
        |    abs(CAST(s AS DOUBLE)
        |        - rn * (CAST(tot AS DOUBLE) / n)) AS cusum
        |  FROM c),
        |ranked AS (
        |  SELECT event_type, h, n, cusum, ROW_NUMBER() OVER (
        |    PARTITION BY event_type ORDER BY cusum DESC, h ASC) AS pk
        |  FROM dev)
        |SELECT event_type,
        |  strftime(h, '%Y-%m-%d %H:%M:%S') AS change_hour,
        |  cusum AS peak_cusum, n AS n_hours
        |FROM ranked WHERE pk = 1
        |ORDER BY event_type""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val hourly = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(sum(col("value").cast("decimal(12,2)")).as("v"))
      val wAll = Window.partitionBy("event_type")
      val wRun = Window.partitionBy("event_type").orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wOrd = Window.partitionBy("event_type").orderBy("h")
      val dev = hourly
        .select(col("event_type"), col("h"),
          count(lit(1)).over(wAll).as("n"),
          sum(col("v")).over(wAll).as("tot"),
          sum(col("v")).over(wRun).as("s"),
          row_number().over(wOrd).cast("long").as("rn"))
        .select(col("event_type"), col("h"), col("n"),
          abs(col("s").cast("double")
            - col("rn") * (col("tot").cast("double") / col("n")))
            .as("cusum"))
      val wPk = Window.partitionBy("event_type")
        .orderBy(col("cusum").desc, col("h").asc)
      dev.withColumn("pk", row_number().over(wPk))
        .where(col("pk") === 1)
        .select(col("event_type"),
          date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("change_hour"),
          col("cusum").as("peak_cusum"), col("n").as("n_hours"))
        .orderBy("event_type")
    },

    // Exponential moving average over each type's observed hourly series
    // (α = 0.25 — an exact binary fraction, so both engines' multiply/add
    // chains are bit-identical with NO rounding): the classic smoothing
    // recurrence e_i = α·v_i + (1−α)·e_{i−1}, which no window frame can
    // express. Spark runs it as an in-order array fold per series —
    // per-group state is bounded by series length (the same contract as
    // mapGroupsWithState), series are the shuffle key, so 100 TB of
    // events reduce to one combiner-friendly hourly aggregate + one
    // bounded fold per series. Oracle: recursive CTE (the same
    // formulation discipline as dedup_minhash_collapse's CC oracle).
    Q("ts_ema_hourly",
      """WITH RECURSIVE hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS v
        |  FROM events GROUP BY 1, 2),
        |idx AS (
        |  SELECT event_type, h, v,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS i
        |  FROM hourly),
        |ema AS (
        |  SELECT event_type, h, v, i, v AS e FROM idx WHERE i = 1
        |  UNION ALL
        |  SELECT x.event_type, x.h, x.v, x.i, 0.25 * x.v + 0.75 * p.e
        |  FROM idx x JOIN ema p
        |    ON x.event_type = p.event_type AND x.i = p.i + 1)
        |SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
        |       e AS ema
        |FROM ema
        |ORDER BY event_type, h""".stripMargin) { (s, d) =>
      val hourly = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(sum(col("value").cast("decimal(12,2)")).cast("double").as("v"))
      hourly.groupBy("event_type")
        .agg(sort_array(collect_list(struct(col("h"), col("v")))).as("s"))
        .select(col("event_type"),
          expr("transform(s, x -> x.h)").as("hs"),
          expr("""aggregate(transform(s, x -> x.v),
                 |  cast(array() as array<double>),
                 |  (acc, x) -> concat(acc, array(coalesce(
                 |    0.25D * x + 0.75D * try_element_at(acc, -1), x))))"""
            .stripMargin).as("es"))
        .select(col("event_type"),
          explode(arrays_zip(col("hs"), col("es"))).as("z"))
        .select(col("event_type"),
          date_format(col("z.hs"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("z.es").as("ema"))
        .orderBy("event_type", "hour")
    },

    // SES hyperparameter SELECTION — the model-tuning step the fixed-α
    // EMA queries skip: for each series, score all seven α = k/8
    // candidates by one-step-ahead squared forecast error (the honest
    // backtest loss — each point is predicted by the PREVIOUS smoothed
    // level, never itself) and flag the per-series argmin. α candidates
    // are exact binary fractions (CAST(k)/8.0 is exact in both
    // engines); the fold carries (level, sse) and uses the IDENTICAL
    // update form e + α·(x−e) on both sides, so every intermediate
    // double is bit-identical (the ts_ema_hourly discipline); the
    // argmin is an exact double-equality flag against the per-series
    // min (ties all flagged). Plan: ONE hourly combiner aggregate, one
    // collect-per-series, then the 7-candidate explode and folds run
    // on the series frame IN-TASK — the corpus is scanned once for the
    // whole sweep, the α grid costs nothing data-sized.
    Q("ts_ses_alpha_select",
      """WITH RECURSIVE hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS v
        |  FROM events GROUP BY 1, 2),
        |idx AS (
        |  SELECT event_type, v,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS i
        |  FROM hourly),
        |ks(k) AS (SELECT * FROM (VALUES (1), (2), (3), (4), (5), (6),
        |                                (7)) AS t(k)),
        |f AS (
        |  SELECT x.event_type, ks.k, x.i, x.v AS e,
        |    CAST(0 AS DOUBLE) AS sse
        |  FROM idx x, ks WHERE x.i = 1
        |  UNION ALL
        |  SELECT x.event_type, f.k, x.i,
        |    f.e + CAST(f.k AS DOUBLE) / 8.0 * (x.v - f.e),
        |    f.sse + (x.v - f.e) * (x.v - f.e)
        |  FROM idx x JOIN f
        |    ON x.event_type = f.event_type AND x.i = f.i + 1),
        |lst AS (SELECT event_type, k, max(i) AS n FROM f GROUP BY 1, 2),
        |fin AS (
        |  SELECT f.event_type, f.k, f.sse, lst.n
        |  FROM f JOIN lst ON f.event_type = lst.event_type
        |    AND f.k = lst.k AND f.i = lst.n),
        |mn AS (SELECT event_type, min(sse) AS ms FROM fin GROUP BY 1)
        |SELECT fin.event_type AS event_type, k,
        |  CAST(k AS DOUBLE) / 8.0 AS alpha,
        |  CAST(n AS BIGINT) AS n_points, sse, sse = ms AS is_best
        |FROM fin JOIN mn ON fin.event_type = mn.event_type
        |ORDER BY event_type, k""".stripMargin) { (s, d) =>
      val hourly = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(sum(col("value").cast("decimal(12,2)")).cast("double").as("v"))
      val folds = hourly.groupBy("event_type")
        .agg(sort_array(collect_list(struct(col("h"), col("v")))).as("s"))
        .select(col("event_type"),
          expr("transform(s, x -> x.v)").as("vs"))
        .withColumn("k", explode(expr("sequence(1, 7)")))
        .withColumn("res", expr(
          """aggregate(vs, cast(array() as array<double>),
            |  (acc, x) -> CASE WHEN size(acc) = 0
            |    THEN array(x, cast(0 as double))
            |    ELSE array(
            |      element_at(acc, 1)
            |        + cast(k as double) / 8.0D
            |          * (x - element_at(acc, 1)),
            |      element_at(acc, 2)
            |        + (x - element_at(acc, 1))
            |          * (x - element_at(acc, 1))) END)""".stripMargin))
        .select(col("event_type"), col("k"),
          (col("k").cast("double") / 8.0).as("alpha"),
          size(col("vs")).cast("long").as("n_points"),
          expr("element_at(res, 2)").as("sse"))
      folds
        .withColumn("ms", min(col("sse")).over(
          Window.partitionBy("event_type")))
        .select(col("event_type"), col("k"), col("alpha"),
          col("n_points"), col("sse"), (col("sse") === col("ms"))
            .as("is_best"))
        .orderBy("event_type", "k")
    },

    // Holt's linear (double-exponential) smoothing per series: level
    // l_i = α·v_i + (1−α)·(l_{i−1} + b_{i−1}) and trend
    // b_i = β·(l_i − l_{i−1}) + (1−β)·b_{i−1}, initialized l_1 = v_1,
    // b_1 = v_2 − v_1 (0 for a one-point series). Extends ts_ema_hourly
    // with a trend component — the standard next step for series with
    // drift. α = 0.5, β = 0.25: exact binary fractions, so both engines'
    // identical-order multiply/add chains produce bit-identical doubles
    // (the level expression is repeated VERBATIM inside the trend formula
    // on both sides — same ops, same order, same bits). Same 100 TB shape
    // as the EMA: one combiner-friendly hourly aggregate, then one
    // bounded in-order fold per series, series as the shuffle key.
    Q("ts_holt_linear",
      """WITH RECURSIVE hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS v
        |  FROM events GROUP BY 1, 2),
        |idx AS (
        |  SELECT event_type, h, v,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS i
        |  FROM hourly),
        |init AS (
        |  SELECT event_type,
        |    max(CASE WHEN i = 1 THEN v END) AS v1,
        |    coalesce(max(CASE WHEN i = 2 THEN v END),
        |             max(CASE WHEN i = 1 THEN v END)) AS v2
        |  FROM idx GROUP BY event_type),
        |holt AS (
        |  SELECT x.event_type, x.h, x.i, x.v AS l, (n.v2 - n.v1) AS b
        |  FROM idx x JOIN init n ON x.event_type = n.event_type
        |  WHERE x.i = 1
        |  UNION ALL
        |  SELECT x.event_type, x.h, x.i,
        |    0.5 * x.v + 0.5 * (p.l + p.b),
        |    0.25 * ((0.5 * x.v + 0.5 * (p.l + p.b)) - p.l) + 0.75 * p.b
        |  FROM idx x JOIN holt p
        |    ON x.event_type = p.event_type AND x.i = p.i + 1)
        |SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
        |       l AS level, b AS trend
        |FROM holt ORDER BY event_type, h""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(sum(col("value").cast("decimal(12,2)")).cast("double").as("v"))
        .groupBy("event_type")
        .agg(sort_array(collect_list(struct(col("h"), col("v")))).as("sr"))
        .select(col("event_type"),
          expr("transform(sr, x -> x.h)").as("hs"),
          expr("transform(sr, x -> x.v)").as("vs"))
        .select(col("event_type"), col("hs"),
          expr("""aggregate(
                 |  slice(vs, 2, greatest(size(vs) - 1, 0)),
                 |  named_struct(
                 |    'ls', array(element_at(vs, 1)),
                 |    'bs', array(coalesce(
                 |      try_element_at(vs, 2) - element_at(vs, 1), 0D))),
                 |  (acc, x) -> named_struct(
                 |    'ls', concat(acc.ls, array(
                 |      0.5D * x + 0.5D * (element_at(acc.ls, -1)
                 |        + element_at(acc.bs, -1)))),
                 |    'bs', concat(acc.bs, array(
                 |      0.25D * ((0.5D * x + 0.5D * (element_at(acc.ls, -1)
                 |          + element_at(acc.bs, -1)))
                 |        - element_at(acc.ls, -1))
                 |      + 0.75D * element_at(acc.bs, -1)))))"""
            .stripMargin).as("lb"))
        .select(col("event_type"), col("hs"),
          expr("lb.ls").as("ls"), expr("lb.bs").as("bs"))
        .select(col("event_type"),
          explode(arrays_zip(col("hs"), col("ls"), col("bs"))).as("z"))
        .select(col("event_type"),
          date_format(col("z.hs"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("z.ls").as("level"), col("z.bs").as("trend"))
        .orderBy("event_type", "hour")
    },

    // HOLT-WINTERS additive seasonal smoothing per hourly series — the
    // forecasting-ladder capstone above snaive/EMA/Holt: level + trend
    // + a rotating 24-slot hour-of-day seasonal state. All smoothing
    // constants are exact binary fractions (α=0.5, β=γ=0.25) and the
    // level expression is repeated VERBATIM inside the trend and
    // seasonal formulas on BOTH engines, so every arithmetic chain is
    // bit-identical. Seasonals init to ZERO (the first daily cycle
    // degenerates to plain Holt and seasonality is learned from cycle
    // 2 on — the deterministic "learn-from-zero" init; a mean-of-first-
    // cycle init would be a partial-sum ULP trap). The recurrence is an
    // in-order array fold with per-series bounded state (l, b, 24
    // seasonal slots); series = the shuffle key, so a 100 TB fact
    // shuffles once into per-series folds. Oracle = recursive CTE
    // carrying the same rotating seasonal list.
    Q("ts_holt_winters",
      """WITH RECURSIVE hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS v
        |  FROM events GROUP BY 1, 2),
        |idx AS (
        |  SELECT event_type, h, v,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS i
        |  FROM hourly),
        |init AS (
        |  SELECT event_type,
        |    max(CASE WHEN i = 1 THEN v END) AS v1,
        |    coalesce(max(CASE WHEN i = 2 THEN v END),
        |             max(CASE WHEN i = 1 THEN v END)) AS v2
        |  FROM idx GROUP BY event_type),
        |hw AS (
        |  SELECT x.event_type, x.h, x.i, x.v AS l, (n.v2 - n.v1) AS b,
        |    CAST(0 AS DOUBLE) AS s,
        |    list_transform(generate_series(1, 24),
        |      z -> CAST(0 AS DOUBLE)) AS ss
        |  FROM idx x JOIN init n ON x.event_type = n.event_type
        |  WHERE x.i = 1
        |  UNION ALL
        |  SELECT x.event_type, x.h, x.i,
        |    0.5 * (x.v - p.ss[1]) + 0.5 * (p.l + p.b),
        |    0.25 * ((0.5 * (x.v - p.ss[1]) + 0.5 * (p.l + p.b)) - p.l)
        |      + 0.75 * p.b,
        |    0.25 * (x.v - (0.5 * (x.v - p.ss[1]) + 0.5 * (p.l + p.b)))
        |      + 0.75 * p.ss[1],
        |    p.ss[2:24] ||
        |      [0.25 * (x.v - (0.5 * (x.v - p.ss[1]) + 0.5 * (p.l + p.b)))
        |        + 0.75 * p.ss[1]]
        |  FROM idx x JOIN hw p
        |    ON x.event_type = p.event_type AND x.i = p.i + 1)
        |SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
        |       l AS level, b AS trend, s AS seasonal
        |FROM hw ORDER BY event_type, h""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(sum(col("value").cast("decimal(12,2)")).cast("double").as("v"))
        .groupBy("event_type")
        .agg(sort_array(collect_list(struct(col("h"), col("v")))).as("sr"))
        .select(col("event_type"),
          expr("transform(sr, x -> x.h)").as("hs"),
          expr("transform(sr, x -> x.v)").as("vs"))
        .select(col("event_type"), col("hs"),
          expr("""aggregate(
                 |  slice(vs, 2, greatest(size(vs) - 1, 0)),
                 |  named_struct(
                 |    'ls', array(element_at(vs, 1)),
                 |    'bs', array(coalesce(
                 |      try_element_at(vs, 2) - element_at(vs, 1), 0D)),
                 |    'ks', array(0D),
                 |    'ss', array_repeat(0D, 24)),
                 |  (acc, x) -> named_struct(
                 |    'ls', concat(acc.ls, array(
                 |      0.5D * (x - element_at(acc.ss, 1))
                 |        + 0.5D * (element_at(acc.ls, -1)
                 |            + element_at(acc.bs, -1)))),
                 |    'bs', concat(acc.bs, array(
                 |      0.25D * ((0.5D * (x - element_at(acc.ss, 1))
                 |          + 0.5D * (element_at(acc.ls, -1)
                 |              + element_at(acc.bs, -1)))
                 |        - element_at(acc.ls, -1))
                 |      + 0.75D * element_at(acc.bs, -1))),
                 |    'ks', concat(acc.ks, array(
                 |      0.25D * (x - (0.5D * (x - element_at(acc.ss, 1))
                 |          + 0.5D * (element_at(acc.ls, -1)
                 |              + element_at(acc.bs, -1))))
                 |      + 0.75D * element_at(acc.ss, 1))),
                 |    'ss', concat(slice(acc.ss, 2, 23), array(
                 |      0.25D * (x - (0.5D * (x - element_at(acc.ss, 1))
                 |          + 0.5D * (element_at(acc.ls, -1)
                 |              + element_at(acc.bs, -1))))
                 |      + 0.75D * element_at(acc.ss, 1)))))"""
            .stripMargin).as("lb"))
        .select(col("event_type"), col("hs"),
          expr("lb.ls").as("ls"), expr("lb.bs").as("bs"),
          expr("lb.ks").as("ks"))
        .select(col("event_type"),
          explode(arrays_zip(col("hs"), col("ls"), col("bs"), col("ks")))
            .as("z"))
        .select(col("event_type"),
          date_format(col("z.hs"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("z.ls").as("level"), col("z.bs").as("trend"),
          col("z.ks").as("seasonal"))
        .orderBy("event_type", "hour")
    },

    // Last-touch marketing attribution: each purchase credits the most
    // recent prior view/click by the same user within a 24 h lookback,
    // else 'none'. The carry-forward is last(..., ignoreNulls) over a
    // user-partitioned UNBOUNDED-PRECEDING..1-PRECEDING frame — running
    // state, ONE user-keyed shuffle, no self-join (the naive purchase×
    // touch join is quadratic in events-per-user; the window is linear).
    // touch_tus and touch_type come from the SAME ordering, so the two
    // ignore-null carries always agree on which row they surface.
    // Timestamps compare as epoch MICROseconds on both engines (the ns
    // parquet trap: Spark truncates ns→µs on read, DuckDB's epoch_us
    // truncates the same way — raw ts is never emitted or compared).
    Q("attribution_last_touch",
      """WITH seq AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS tus, event_id
        |  FROM events),
        |enriched AS (
        |  SELECT user_id, event_type, tus, event_id,
        |    last_value(CASE WHEN event_type IN ('view', 'click')
        |               THEN tus END IGNORE NULLS) OVER w AS touch_tus,
        |    last_value(CASE WHEN event_type IN ('view', 'click')
        |               THEN event_type END IGNORE NULLS) OVER w AS touch_type
        |  FROM seq
        |  WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT CASE WHEN touch_tus IS NOT NULL
        |            AND tus - touch_tus <= 86400000000 THEN touch_type
        |       ELSE 'none' END AS touch, count(*) AS purchases
        |FROM enriched WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val seq = Tables.events(s, d).select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tus"), col("event_id"))
      lastTouchOf(seq, "user_id", "event_type", "tus", "event_id",
          Seq("view", "click"), "purchase", 86400000000L)
        .groupBy("touch").agg(count(lit(1)).as("purchases"))
        .orderBy("touch")
    },

    // LINEAR (multi-touch) attribution — the fractional counterpart to
    // attribution_last_touch: every purchase splits one unit of credit
    // equally across ALL its strictly-prior view/click touches inside
    // the 24 h lookback (none → 'none' gets the full unit). Same ONE
    // user-keyed shuffle; the per-type qualifying counts are RANGE-frame
    // window counts (frame membership depends only on timestamp values,
    // so the result is tie-order-insensitive), and the credit arithmetic
    // is exact scaled-integer: share = (cnt*1e12) div n (positive
    // integer division truncates identically in both engines), shares
    // sum as DECIMAL(38,0) — order-independent — and each output cell
    // pays exactly ONE double division by the 1e12 literal.
    Q("attribution_linear",
      """WITH en AS (
        |  SELECT event_type,
        |    count(CASE WHEN event_type = 'view' THEN 1 END)
        |      OVER w AS nv,
        |    count(CASE WHEN event_type = 'click' THEN 1 END)
        |      OVER w AS nc
        |  FROM (SELECT user_id, event_type, epoch_us(ts) AS tus
        |        FROM events)
        |  WINDOW w AS (PARTITION BY user_id ORDER BY tus
        |    RANGE BETWEEN 86400000000 PRECEDING AND 1 PRECEDING)),
        |p AS (SELECT nv, nc, nv + nc AS n FROM en
        |      WHERE event_type = 'purchase')
        |SELECT
        |  CAST(sum(CAST(CASE WHEN n > 0
        |      THEN (nv * 1000000000000) // n ELSE 0 END
        |    AS DECIMAL(38,0))) AS DOUBLE) / 1e12 AS view_credit,
        |  CAST(sum(CAST(CASE WHEN n > 0
        |      THEN (nc * 1000000000000) // n ELSE 0 END
        |    AS DECIMAL(38,0))) AS DOUBLE) / 1e12 AS click_credit,
        |  CAST(sum(CAST(CASE WHEN n = 0 THEN 1 ELSE 0 END
        |    AS DECIMAL(38,0))) AS DOUBLE) AS none_credit,
        |  count(*) AS n_conversions
        |FROM p""".stripMargin) { (s, d) =>
      linearTouchOf(
        Tables.events(s, d).select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("tus")),
        "user_id", "event_type", "tus",
        Seq("view", "click"), "purchase", 86400000000L)
    },

    // POSITION-BASED (U-shaped) attribution — the third standard model
    // completing the family (last-touch winner-take-all, linear equal
    // split, U-shaped 40/20/40): first and last qualifying touches get
    // 40% each, the middle n-2 split 20% (n=1 → all, n=2 → 50/50).
    // First/last are the frame min/max of lpad(tus,20,'0')||type — the
    // NULL-skipping aggregate trick that stays deterministic under
    // microsecond ties (byte-order on ASCII digits+names, identical in
    // both engines; a tie resolves by type name as a documented model
    // choice). Credits are the same exact scaled-integer scheme as
    // attribution_linear: 4e11/5e11/1e12 exact units, middle pool
    // 2e11 div (n-2) truncating identically, DECIMAL(38,0) sums, one
    // double division per output cell.
    Q("attribution_position",
      """WITH en AS (
        |  SELECT event_type,
        |    count(CASE WHEN event_type = 'view' THEN 1 END)
        |      OVER w AS nv,
        |    count(CASE WHEN event_type = 'click' THEN 1 END)
        |      OVER w AS nc,
        |    min(CASE WHEN event_type IN ('view', 'click')
        |        THEN lpad(CAST(tus AS VARCHAR), 20, '0') || event_type END)
        |      OVER w AS ft,
        |    max(CASE WHEN event_type IN ('view', 'click')
        |        THEN lpad(CAST(tus AS VARCHAR), 20, '0') || event_type END)
        |      OVER w AS lt
        |  FROM (SELECT user_id, event_type, epoch_us(ts) AS tus
        |        FROM events)
        |  WINDOW w AS (PARTITION BY user_id ORDER BY tus
        |    RANGE BETWEEN 86400000000 PRECEDING AND 1 PRECEDING)),
        |p AS (SELECT nv, nc, nv + nc AS n,
        |        substr(ft, 21) AS ftt, substr(lt, 21) AS ltt
        |      FROM en WHERE event_type = 'purchase'),
        |cr AS (SELECT n,
        |  CASE WHEN n = 1 THEN
        |         CASE WHEN ftt = 'view' THEN 1000000000000 ELSE 0 END
        |       WHEN n = 2 THEN
        |         (CASE WHEN ftt = 'view' THEN 500000000000 ELSE 0 END)
        |       + (CASE WHEN ltt = 'view' THEN 500000000000 ELSE 0 END)
        |       WHEN n >= 3 THEN
        |         (CASE WHEN ftt = 'view' THEN 400000000000 ELSE 0 END)
        |       + (CASE WHEN ltt = 'view' THEN 400000000000 ELSE 0 END)
        |       + (nv - (CASE WHEN ftt = 'view' THEN 1 ELSE 0 END)
        |             - (CASE WHEN ltt = 'view' THEN 1 ELSE 0 END))
        |         * (200000000000 // (n - 2))
        |       ELSE 0 END AS vc,
        |  CASE WHEN n = 1 THEN
        |         CASE WHEN ftt = 'click' THEN 1000000000000 ELSE 0 END
        |       WHEN n = 2 THEN
        |         (CASE WHEN ftt = 'click' THEN 500000000000 ELSE 0 END)
        |       + (CASE WHEN ltt = 'click' THEN 500000000000 ELSE 0 END)
        |       WHEN n >= 3 THEN
        |         (CASE WHEN ftt = 'click' THEN 400000000000 ELSE 0 END)
        |       + (CASE WHEN ltt = 'click' THEN 400000000000 ELSE 0 END)
        |       + (nc - (CASE WHEN ftt = 'click' THEN 1 ELSE 0 END)
        |             - (CASE WHEN ltt = 'click' THEN 1 ELSE 0 END))
        |         * (200000000000 // (n - 2))
        |       ELSE 0 END AS cc
        |  FROM p)
        |SELECT
        |  CAST(sum(CAST(vc AS DECIMAL(38,0))) AS DOUBLE) / 1e12
        |    AS view_credit,
        |  CAST(sum(CAST(cc AS DECIMAL(38,0))) AS DOUBLE) / 1e12
        |    AS click_credit,
        |  CAST(sum(CAST(CASE WHEN n = 0 THEN 1 ELSE 0 END
        |    AS DECIMAL(38,0))) AS DOUBLE) AS none_credit,
        |  count(*) AS n_conversions
        |FROM cr""".stripMargin) { (s, d) =>
      positionTouchOf(
        Tables.events(s, d).select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("tus")),
        "user_id", "event_type", "tus",
        Seq("view", "click"), "purchase", 86400000000L)
    },

    // TIME-DECAY attribution — the fourth standard model completing the
    // family: touch weight halves per 6 h of age before the conversion,
    // discretized into four half-life bands (weights 8/4/2/1 over the
    // same 24 h lookback) so every weight is an exact power of two and
    // the credit split stays in integer arithmetic — continuous
    // 2^(-Δt/hl) needs transcendental pow, nondeterministic in the last
    // ulp across engines. Eight RANGE-frame counts (2 types × 4 bands)
    // stack on ONE user-keyed Exchange + sort; credit_t = (w_t·1e12)
    // div W truncates identically both engines, DECIMAL(38,0) sums,
    // one double division per output cell.
    Q("attribution_time_decay",
      """WITH en AS (
        |  SELECT event_type,
        |    count(CASE WHEN event_type = 'view' THEN 1 END) OVER w0 AS v0,
        |    count(CASE WHEN event_type = 'view' THEN 1 END) OVER w1 AS v1,
        |    count(CASE WHEN event_type = 'view' THEN 1 END) OVER w2 AS v2,
        |    count(CASE WHEN event_type = 'view' THEN 1 END) OVER w3 AS v3,
        |    count(CASE WHEN event_type = 'click' THEN 1 END) OVER w0 AS c0,
        |    count(CASE WHEN event_type = 'click' THEN 1 END) OVER w1 AS c1,
        |    count(CASE WHEN event_type = 'click' THEN 1 END) OVER w2 AS c2,
        |    count(CASE WHEN event_type = 'click' THEN 1 END) OVER w3 AS c3
        |  FROM (SELECT user_id, event_type, epoch_us(ts) AS tus
        |        FROM events)
        |  WINDOW
        |    w0 AS (PARTITION BY user_id ORDER BY tus
        |      RANGE BETWEEN 21600000000 PRECEDING AND 1 PRECEDING),
        |    w1 AS (PARTITION BY user_id ORDER BY tus
        |      RANGE BETWEEN 43200000000 PRECEDING AND 21600000001 PRECEDING),
        |    w2 AS (PARTITION BY user_id ORDER BY tus
        |      RANGE BETWEEN 64800000000 PRECEDING AND 43200000001 PRECEDING),
        |    w3 AS (PARTITION BY user_id ORDER BY tus
        |      RANGE BETWEEN 86400000000 PRECEDING AND 64800000001 PRECEDING)),
        |p AS (SELECT v0 * 8 + v1 * 4 + v2 * 2 + v3 AS wv,
        |             c0 * 8 + c1 * 4 + c2 * 2 + c3 AS wc
        |      FROM en WHERE event_type = 'purchase')
        |SELECT
        |  CAST(sum(CAST(CASE WHEN wv + wc > 0
        |      THEN (wv * 1000000000000) // (wv + wc) ELSE 0 END
        |    AS DECIMAL(38,0))) AS DOUBLE) / 1e12 AS view_credit,
        |  CAST(sum(CAST(CASE WHEN wv + wc > 0
        |      THEN (wc * 1000000000000) // (wv + wc) ELSE 0 END
        |    AS DECIMAL(38,0))) AS DOUBLE) / 1e12 AS click_credit,
        |  CAST(sum(CAST(CASE WHEN wv + wc = 0 THEN 1 ELSE 0 END
        |    AS DECIMAL(38,0))) AS DOUBLE) AS none_credit,
        |  count(*) AS n_conversions
        |FROM p""".stripMargin) { (s, d) =>
      timeDecayTouchOf(
        Tables.events(s, d).select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("tus")),
        "user_id", "event_type", "tus",
        Seq("view", "click"), "purchase",
        halflifeMicros = 21600000000L, buckets = 4)
    },

    // Co-purchase pair mining: part pairs appearing in the same order,
    // top-100 by order count. The pair space explodes per-order (k lines
    // → k² pairs), but order size is bounded by the data model (≤7 lines
    // in TPC-H-shaped data), so the fan-out is a constant factor on the
    // orderkey-equi self-join — NOT a cross join; the join key caps the
    // blowup exactly like the dedup band joins. distinct() first so
    // multi-line part repeats within an order count once; top-100 is
    // TakeOrderedAndProject with a full unique-key tie-break.
    Q("graph_copurchase_pairs",
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |       count(*) AS n_orders
        |FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |  AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2
        |ORDER BY n_orders DESC, part_a, part_b
        |LIMIT 100""".stripMargin) { (s, d) =>
      // basket formulation, not the orderkey self-join: ONE order-keyed
      // shuffle collects each order's part SET (collect_set = the
      // oracle's DISTINCT), pairs explode IN-TASK (x > a emits each
      // unordered pair once), then one combiner-friendly pair count.
      // The self-join needed an extra distinct Exchange plus both join
      // sides shuffled on orderkey; per-order fan-out is identical
      // (bounded by basket size) either way.
      Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(collect_set(col("l_partkey")).as("ps"))
        .select(col("ps"), explode(col("ps")).as("part_a"))
        .select(col("part_a"),
          explode(expr("filter(ps, x -> x > part_a)")).as("part_b"))
        .groupBy("part_a", "part_b").agg(count(lit(1)).as("n_orders"))
        .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
        .limit(100)
    },

    // Association rules over the co-purchase baskets: support /
    // confidence / lift for part pairs sharing >= 2 orders — the market-
    // basket analytics that sits ON TOP of pair mining (lift > 1 =
    // bought together more than chance). ONE persisted basket build
    // (order-keyed shuffle + collect_set = the oracle's DISTINCT) feeds
    // all three subtrees — pair counts, per-part basket counts, and the
    // basket total — so lineitem is scanned once; part counts are
    // part-sized and BROADCAST onto the pair frame (at 100× drop the
    // hint and the planner shuffles on the part key), the total is a
    // one-row broadcast. Every ratio is a single double division of
    // exact BIGINTs (numerator/denominator products exact in int64 at
    // any plausible basket count) — bit-identical cross-engine; ordering
    // is total (lift ties resolve by the unique pair key).
    Q("orders_basket_lift",
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |n AS (SELECT count(DISTINCT l_orderkey) AS nb FROM li),
        |pc AS (SELECT l_partkey, count(*) AS np FROM li GROUP BY 1),
        |pr AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |         count(*) AS n_ab
        |       FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |         AND a.l_partkey < b.l_partkey
        |       GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT part_a, part_b, n_ab,
        |  CAST(n_ab AS DOUBLE) / nb AS support,
        |  CAST(n_ab AS DOUBLE) / pa.np AS confidence,
        |  CAST(n_ab * nb AS DOUBLE) / CAST(pa.np * pb.np AS DOUBLE)
        |    AS lift
        |FROM pr JOIN pc pa ON pr.part_a = pa.l_partkey
        |        JOIN pc pb ON pr.part_b = pb.l_partkey, n
        |ORDER BY lift DESC, part_a, part_b
        |LIMIT 100""".stripMargin) { (s, d) =>
      val baskets = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(collect_set(col("l_partkey")).as("ps"))
        .persist()
      val pairs = baskets
        .select(col("ps"), explode(col("ps")).as("part_a"))
        .select(col("part_a"),
          explode(expr("filter(ps, x -> x > part_a)")).as("part_b"))
        .groupBy("part_a", "part_b").agg(count(lit(1)).as("n_ab"))
        .where(col("n_ab") >= 2)
      val pc = baskets.select(explode(col("ps")).as("pk"))
        .groupBy("pk").agg(count(lit(1)).as("np"))
      val total = baskets.agg(count(lit(1)).as("nb"))
      pairs
        .join(broadcast(pc.select(col("pk").as("part_a"),
          col("np").as("na"))), "part_a")
        .join(broadcast(pc.select(col("pk").as("part_b"),
          col("np").as("nbp"))), "part_b")
        .crossJoin(broadcast(total))
        .select(col("part_a"), col("part_b"), col("n_ab"),
          (col("n_ab").cast("double") / col("nb")).as("support"),
          (col("n_ab").cast("double") / col("na")).as("confidence"),
          ((col("n_ab") * col("nb")).cast("double")
            / (col("na") * col("nbp")).cast("double")).as("lift"))
        .orderBy(col("lift").desc, col("part_a"), col("part_b"))
        .limit(100)
    },

    // Frequent 3-ITEMSETS (Apriori level 3) — basket_lift's next level:
    // part triples co-purchased in >= 2 orders. The scale discipline is
    // the Apriori prune itself: an item can appear in a frequent triple
    // only if it appears in a frequent PAIR (support monotonicity), so
    // baskets are pruned to frequent-pair items BEFORE the cubic
    // in-task explode — at 100 TB the prune is what keeps the candidate
    // space polynomial in the frequent frontier instead of cubic in
    // basket width (the prune cannot change the answer: HAVING >= 2
    // decides membership either way). Per-order fan-out stays bounded
    // by (pruned) basket size, same as the pair miner; one combiner
    // count shuffle; top-100 under a total order.
    Q("orders_basket_triples",
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |t AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |        c.l_partkey AS part_c, CAST(count(*) AS BIGINT) AS support
        |      FROM li a
        |      JOIN li b ON a.l_orderkey = b.l_orderkey
        |        AND a.l_partkey < b.l_partkey
        |      JOIN li c ON a.l_orderkey = c.l_orderkey
        |        AND b.l_partkey < c.l_partkey
        |      GROUP BY 1, 2, 3 HAVING count(*) >= 2)
        |SELECT part_a, part_b, part_c, support
        |FROM t
        |ORDER BY support DESC, part_a, part_b, part_c
        |LIMIT 100""".stripMargin) { (s, d) =>
      aprioriTriplesOf(Tables.lineitem(s, d), "l_orderkey", "l_partkey",
        minSupport = 2, topN = 100)
    },

    // Lag-1 autocorrelation per hourly series — the is-this-series-even-
    // forecastable statistic that sits before EMA/Holt in a TS pipeline.
    // Pearson r over (v_i, v_{i+1}) pairs computed from EXACT sums:
    // the five Σ terms are DECIMAL sums (order-independent, no float
    // accumulation nondeterminism — the same normal-equations discipline
    // as ts_linear_trend), each cast to double ONCE, and the final
    // correlation is a fixed-order double expression written identically
    // on both engines. Built-in corr() would be shuffle-order
    // nondeterministic. One hourly aggregate + one series-keyed window.
    Q("ts_autocorrelation",
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         sum(CAST(value AS DECIMAL(12,2))) AS v
        |  FROM events GROUP BY 1, 2),
        |pairs AS (
        |  SELECT event_type, v AS a,
        |    lead(v) OVER (PARTITION BY event_type ORDER BY h) AS b
        |  FROM hourly),
        |sums AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(a) AS DOUBLE) AS sa, CAST(sum(b) AS DOUBLE) AS sb,
        |    CAST(sum(a * b) AS DOUBLE) AS sab,
        |    CAST(sum(a * a) AS DOUBLE) AS saa,
        |    CAST(sum(b * b) AS DOUBLE) AS sbb
        |  FROM pairs WHERE b IS NOT NULL GROUP BY 1)
        |SELECT event_type,
        |  (n * sab - sa * sb)
        |    / sqrt((n * saa - sa * sa) * (n * sbb - sb * sb)) AS acf1
        |FROM sums ORDER BY event_type""".stripMargin) { (s, d) =>
      val hourly = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(sum(col("value").cast("decimal(12,2)")).as("v"))
      val w = Window.partitionBy("event_type").orderBy("h")
      val pairs = hourly
        .select(col("event_type"), col("v").as("a"),
          lead(col("v"), 1).over(w).as("b"))
        .where(col("b").isNotNull)
      pairs.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("a")).cast("double").as("sa"),
          sum(col("b")).cast("double").as("sb"),
          sum(col("a") * col("b")).cast("double").as("sab"),
          sum(col("a") * col("a")).cast("double").as("saa"),
          sum(col("b") * col("b")).cast("double").as("sbb"))
        .select(col("event_type"),
          ((col("n") * col("sab") - col("sa") * col("sb")) /
            sqrt((col("n") * col("saa") - col("sa") * col("sa")) *
              (col("n") * col("sbb") - col("sb") * col("sb")))).as("acf1"))
        .orderBy("event_type")
    },

    // Partial autocorrelations (lags 1–3) of the daily order-count
    // series via the Durbin–Levinson recursion unrolled — the AR-order
    // diagnostic that separates direct lag-k dependence from what lag-1
    // already explains (ACF alone can't: an AR(1) shows geometric ACF
    // at every lag but PACF cuts off after 1). Exactness: center by the
    // ×n trick (z_t = n·c_t − Σc is integer, so every autocovariance
    // Σ z_t·z_{t+k} is an exact sum — products in DECIMAL(38,0)/HUGEINT
    // for headroom at any scale), ρ_k = g_k/g_0 one division each, and
    // the three-level recursion is a fixed cascade of double
    // expressions written identically on both engines. Plan: the fact
    // collapses to the |days| frame in one combiner shuffle; the lead
    // windows and moment aggregate run on ~10³ calendar-bounded rows —
    // at 100 TB the series length does not grow, only the scan does.
    Q("ts_pacf_levinson",
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM orders GROUP BY 1),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |              CAST(sum(c) AS BIGINT) AS sm FROM daily),
        |z AS (SELECT day, n, n * c - sm AS z FROM daily, st),
        |l AS (SELECT n, z,
        |        lead(z, 1) OVER (ORDER BY day) AS z1,
        |        lead(z, 2) OVER (ORDER BY day) AS z2,
        |        lead(z, 3) OVER (ORDER BY day) AS z3
        |      FROM z),
        |gam AS (SELECT max(n) AS n,
        |    CAST(sum(CAST(z AS HUGEINT) * z) AS DOUBLE) AS g0,
        |    CAST(sum(CAST(z AS HUGEINT) * z1) AS DOUBLE) AS g1,
        |    CAST(sum(CAST(z AS HUGEINT) * z2) AS DOUBLE) AS g2,
        |    CAST(sum(CAST(z AS HUGEINT) * z3) AS DOUBLE) AS g3
        |  FROM l),
        |r AS (SELECT n, g1 / g0 AS r1, g2 / g0 AS r2, g3 / g0 AS r3
        |      FROM gam),
        |p2 AS (SELECT n, r1, r2, r3,
        |         (r2 - r1 * r1) / (1.0 - r1 * r1) AS phi22 FROM r),
        |p3 AS (SELECT n, r1, r2, r3, phi22,
        |         r1 * (1.0 - phi22) AS phi21 FROM p2)
        |SELECT n AS n_days, r1 AS rho1, r2 AS rho2, r3 AS rho3,
        |  r1 AS pacf1, phi22 AS pacf2,
        |  (r3 - phi21 * r2 - phi22 * r1)
        |    / (1.0 - phi21 * r1 - phi22 * r2) AS pacf3
        |FROM p3""".stripMargin) { (s, d) =>
      val daily = Tables.orders(s, d)
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(count(lit(1)).as("c"))
      val st = daily.agg(count(lit(1)).as("n"), sum(col("c")).as("sm"))
      val z = daily.crossJoin(broadcast(st))
        .select(col("day"), col("n"),
          (col("n") * col("c") - col("sm")).as("z"))
      val w = Window.orderBy("day")
      val l = z.select(col("n"), col("z"),
        lead(col("z"), 1).over(w).as("z1"),
        lead(col("z"), 2).over(w).as("z2"),
        lead(col("z"), 3).over(w).as("z3"))
      def g(c2: Column, as: String) =
        sum(col("z").cast("decimal(38,0)") * c2).cast("double").as(as)
      val gam = l.agg(max(col("n")).as("n"), g(col("z"), "g0"),
        g(col("z1"), "g1"), g(col("z2"), "g2"), g(col("z3"), "g3"))
      val r = gam.select(col("n"), (col("g1") / col("g0")).as("r1"),
        (col("g2") / col("g0")).as("r2"), (col("g3") / col("g0")).as("r3"))
      val p2 = r.withColumn("phi22",
        (col("r2") - col("r1") * col("r1"))
          / (lit(1.0) - col("r1") * col("r1")))
      val p3 = p2.withColumn("phi21",
        col("r1") * (lit(1.0) - col("phi22")))
      p3.select(col("n").as("n_days"), col("r1").as("rho1"),
        col("r2").as("rho2"), col("r3").as("rho3"),
        col("r1").as("pacf1"), col("phi22").as("pacf2"),
        ((col("r3") - col("phi21") * col("r2") - col("phi22") * col("r1"))
          / (lit(1.0) - col("phi21") * col("r1")
            - col("phi22") * col("r2"))).as("pacf3"))
    },

    // PageRank over the co-purchase graph, two unrolled iterations, in
    // INTEGER arithmetic: ranks are scaled to 1e9 and every step is
    // BIGINT multiply/divide (pr div deg, 85·Σ div 100) — truncating
    // integer division is bit-identical on any engine AND order-
    // independent under summation, where double PageRank would be
    // shuffle-order nondeterministic (the same reason the exact-sum
    // queries avoid float accumulation). The edge frame is built once
    // and persisted across iterations (localCheckpoint-class reuse;
    // each iteration is one equi-join + one node-keyed shuffle — the
    // standard distributed PageRank shape, bounded by the graph, never
    // quadratic). Dangling nodes: none by construction (undirected
    // edges, so in-degree = out-degree ≥ 1).
    Q("graph_pagerank_copurchase",
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pe AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |       FROM li a JOIN li b
        |       ON a.l_orderkey = b.l_orderkey
        |         AND a.l_partkey <> b.l_partkey),
        |nodes AS (SELECT DISTINCT u FROM pe),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |deg AS (SELECT u, count(*) AS d FROM pe GROUP BY 1),
        |p0 AS (SELECT nodes.u, CAST(1000000000 // nn.n AS BIGINT) AS pr
        |       FROM nodes, nn),
        |p1 AS (SELECT e.v AS u,
        |         CAST((15 * (1000000000 // nn.n)) // 100
        |           + (85 * sum(p0.pr // deg.d)) // 100 AS BIGINT) AS pr
        |       FROM pe e JOIN p0 ON e.u = p0.u JOIN deg ON e.u = deg.u, nn
        |       GROUP BY e.v, nn.n),
        |p2 AS (SELECT e.v AS u,
        |         CAST((15 * (1000000000 // nn.n)) // 100
        |           + (85 * sum(p1.pr // deg.d)) // 100 AS BIGINT) AS pr
        |       FROM pe e JOIN p1 ON e.u = p1.u JOIN deg ON e.u = deg.u, nn
        |       GROUP BY e.v, nn.n)
        |SELECT u AS part, pr AS rank_scaled FROM p2
        |ORDER BY pr DESC, u LIMIT 20""".stripMargin) { (s, d) =>
      pageRankCopurchase(s, d, saltDegree = 0L)
    },

    // The SALTED adjacency layout against the SAME integer oracle: the
    // two-level (u, hash(v) mod salts) build — the power-law path that
    // bounds hub row width — must produce BIT-IDENTICAL ranks to the
    // single-row layout, and here that claim is hash-proven against the
    // DuckDB recurrence rather than only spec-asserted. saltDegree 32
    // actually triggers on this graph (co-purchase hub parts exceed it),
    // so the extra partial-sum reduce is live in the verified plan.
    Q("graph_pagerank_salted",
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pe AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |       FROM li a JOIN li b
        |       ON a.l_orderkey = b.l_orderkey
        |         AND a.l_partkey <> b.l_partkey),
        |nodes AS (SELECT DISTINCT u FROM pe),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |deg AS (SELECT u, count(*) AS d FROM pe GROUP BY 1),
        |p0 AS (SELECT nodes.u, CAST(1000000000 // nn.n AS BIGINT) AS pr
        |       FROM nodes, nn),
        |p1 AS (SELECT e.v AS u,
        |         CAST((15 * (1000000000 // nn.n)) // 100
        |           + (85 * sum(p0.pr // deg.d)) // 100 AS BIGINT) AS pr
        |       FROM pe e JOIN p0 ON e.u = p0.u JOIN deg ON e.u = deg.u, nn
        |       GROUP BY e.v, nn.n),
        |p2 AS (SELECT e.v AS u,
        |         CAST((15 * (1000000000 // nn.n)) // 100
        |           + (85 * sum(p1.pr // deg.d)) // 100 AS BIGINT) AS pr
        |       FROM pe e JOIN p1 ON e.u = p1.u JOIN deg ON e.u = deg.u, nn
        |       GROUP BY e.v, nn.n)
        |SELECT u AS part, pr AS rank_scaled FROM p2
        |ORDER BY pr DESC, u LIMIT 20""".stripMargin) { (s, d) =>
      pageRankCopurchase(s, d, saltDegree = 32L)
    },

    // PERSONALIZED PageRank (random walk with restart) from the
    // smallest co-purchase part — the "customers who bought this also
    // value..." recommendation primitive: ALL teleport mass returns to
    // the seed, so ranks measure walk proximity to it, not global
    // centrality. 3 fixed rounds of the same integer recurrence as
    // graph_pagerank (1e9 scale, truncating div — order-independent,
    // bit-identical cross-engine), salted adjacency (saltDegree 32
    // triggers on the co-purchase hubs), SPARSE rank frame (only the
    // seed's 3-hop ball ever carries rows). The oracle unrolls the
    // identical recurrence; the one-row UNION keeps the seed's restart
    // mass alive in rounds where no walk mass returns to it.
    Q("graph_ppr_seeded",
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pe AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |       FROM li a JOIN li b
        |       ON a.l_orderkey = b.l_orderkey
        |         AND a.l_partkey <> b.l_partkey),
        |deg AS (SELECT u, count(*) AS d FROM pe GROUP BY 1),
        |sd AS (SELECT min(u) AS s FROM pe),
        |p0 AS (SELECT s AS u, CAST(1000000000 AS BIGINT) AS pr FROM sd
        |       WHERE s IS NOT NULL),
        |p1 AS (SELECT t.u,
        |         CAST(CASE WHEN t.u = sd.s THEN 150000000 ELSE 0 END
        |           + (85 * sum(t.c)) // 100 AS BIGINT) AS pr
        |       FROM (SELECT e.v AS u, p0.pr // deg.d AS c
        |             FROM pe e JOIN p0 ON e.u = p0.u
        |               JOIN deg ON e.u = deg.u
        |             UNION ALL SELECT u, 0 AS c FROM p0) t, sd
        |       GROUP BY t.u, sd.s),
        |p2 AS (SELECT t.u,
        |         CAST(CASE WHEN t.u = sd.s THEN 150000000 ELSE 0 END
        |           + (85 * sum(t.c)) // 100 AS BIGINT) AS pr
        |       FROM (SELECT e.v AS u, p1.pr // deg.d AS c
        |             FROM pe e JOIN p1 ON e.u = p1.u
        |               JOIN deg ON e.u = deg.u
        |             UNION ALL SELECT u, 0 AS c FROM p0) t, sd
        |       GROUP BY t.u, sd.s),
        |p3 AS (SELECT t.u,
        |         CAST(CASE WHEN t.u = sd.s THEN 150000000 ELSE 0 END
        |           + (85 * sum(t.c)) // 100 AS BIGINT) AS pr
        |       FROM (SELECT e.v AS u, p2.pr // deg.d AS c
        |             FROM pe e JOIN p2 ON e.u = p2.u
        |               JOIN deg ON e.u = deg.u
        |             UNION ALL SELECT u, 0 AS c FROM p0) t, sd
        |       GROUP BY t.u, sd.s)
        |SELECT u AS part, pr AS ppr_scaled FROM p3
        |ORDER BY pr DESC, u LIMIT 20""".stripMargin) { (s, d) =>
      // the seed (min co-purchased part) is min(u) of the adjacency the
      // walk needs anyway, so pprMinSeeded reads it off the persisted
      // adjacency — whose materialization it doubles as. The fan-out
      // stays FUSED into the adjacency build's distinct partial-agg
      // (the pagerank siblings' plan); nothing is checkpointed or
      // scanned twice (r19: the previous edge-frame checkpoint + seed
      // agg made ppr the denominator's heaviest kernel at 4.2 s)
      pprMinSeeded(copurchaseEdgeFanout(s, d),
          iters = 3, saltDegree = 32L, salts = 8)
        .select(col("u").as("part"), col("pr").as("ppr_scaled"))
        .orderBy(col("ppr_scaled").desc, col("part"))
        .limit(20)
    },

    // Directional n-gram containment |A∩B| / |A| — catches doc-IN-doc
    // duplication that symmetric Jaccard dilutes (a page embedded in a
    // larger page scores ~1.0 here but ~|A|/|B| there). Same bounded
    // verification block as dedup_ngram_jaccard (doc_id < 200); at scale
    // the pair source is the MinHash band join, not a block scan.
    // The ratio is emitted UNROUNDED: n/d of two ints is ONE correctly-
    // rounded IEEE division — bit-identical cross-engine — whereas a
    // final round(...,4) was the documented half-boundary trap (dyadic
    // d, e.g. 7/32 = 0.21875, lands exactly on a 4-dp half boundary
    // where Spark and DuckDB rounding can disagree).
    Q("corpus_containment_ngram",
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |      generate_series(1, len(string_split(text, ' ')) - 1),
        |      i -> string_split(text, ' ')[i] || ' ' ||
        |           string_split(text, ' ')[i+1])) AS g
        |  FROM documents
        |  WHERE doc_id < 200 AND len(string_split(text, ' ')) >= 2)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
        |        / len(a.g) AS containment
        |FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
        |WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
        |      / len(a.g) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      // shingle frame with |g| PRECOMPUTED: sizes are join-prune inputs
      // evaluated O(pairs) times — stored columns, not re-derived arrays
      val sh = Tables.documents(s, d)
        .where(col("doc_id") < 200 && size(split(col("text"), " ")) >= 2)
        .select(col("doc_id"),
          array_distinct(word_ngrams(col("text"), 2)).as("g"))
        .select(col("doc_id"), col("g"), size(col("g")).as("n"))
      // the left block is ~200 rows in ONE scan partition — without the
      // repartition the BNLJ's whole O(pairs) intersect workload runs on
      // a single core (r8: wall 4.65 s ≈ cpu 4.78 s on local[32]).
      // Spreading the streamed side parallelizes the pair work 32-way.
      val a = sh.toDF("doc_a", "ga", "na").repartition(32)
      val b = sh.toDF("doc_b", "gb", "nb")
      // join condition carries only the CHEAP implied precondition
      // (|A∩B| ≤ |B|, so containment ≥ 0.5 needs |B| ≥ 0.5·|A|); the
      // intersect itself is computed ONCE per surviving pair in the
      // projection, then filtered — not evaluated twice as a join
      // predicate plus a projection re-derivation
      a.join(broadcast(b), col("doc_a") =!= col("doc_b")
          && col("nb").cast("double") >= lit(0.5) * col("na"))
        .select(col("doc_a"), col("doc_b"),
          (size(array_intersect(col("ga"), col("gb"))).cast("double") /
            col("na")).as("containment"))
        .where(col("containment") >= 0.5)
        .orderBy("doc_a", "doc_b")
    },

    // Inter-arrival statistics per event stream — the feed-health profile
    // (is this stream regular, bursty, or dying?). Gaps are integer µs
    // from ONE lag window per series; median interpolates two INTEGERS at
    // the exact binary rank 0.5 (sum/2 — bit-identical both engines; the
    // p90-style non-dyadic ranks are exactly what the explicit-lerp
    // funnel percentiles exist for, deliberately not repeated here).
    // TIME-WEIGHTED average per (type, day) — the TSDB aggregation for
    // irregularly-sampled series (a value "holds" until the next sample,
    // so sparse spikes don't dominate the way a plain mean lets them):
    // each value is weighted by its integer-µs hold time to the next
    // event of the same type that day; the day's last sample carries no
    // interval and drops. ONE type-day-keyed window shuffle, then a
    // combiner-friendly aggregate. Float parity: weights are exact
    // BIGINT µs, values DECIMAL(12,2), so the weighted sum is exact
    // decimal in both engines and the single closing division is one
    // double op on identical operands.
    Q("ts_time_weighted_avg",
      """WITH seq AS (
        |  SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
        |    epoch_us(ts) AS tus, event_id, CAST(value AS DECIMAL(12,2)) AS v
        |  FROM events),
        |iv AS (
        |  SELECT event_type, day, v,
        |    lead(tus) OVER (PARTITION BY event_type, day
        |                    ORDER BY tus, event_id) - tus AS dt
        |  FROM seq)
        |SELECT event_type, day, count(*) AS n_intervals,
        |  CAST(sum(dt) AS BIGINT) AS span_us,
        |  CAST(CAST(sum(v * dt) AS DOUBLE) / sum(dt) AS DOUBLE) AS twa
        |FROM iv WHERE dt IS NOT NULL
        |GROUP BY event_type, day
        |ORDER BY event_type, day""".stripMargin) { (s, d) =>
      timeWeightedAvgOf(
        Tables.events(s, d)
          .select(col("event_type"),
            date_trunc("day", col("ts")).as("day"),
            unix_micros(col("ts")).as("tus"), col("event_id"),
            col("value").cast("decimal(12,2)").as("v")),
        keyCols = Seq("event_type", "day"),
        tsUsCol = "tus", ordCol = "event_id", vCol = "v")
        .orderBy("event_type", "day")
    },

    Q("ts_interarrival_stats",
      """WITH seq AS (
        |  SELECT event_type, epoch_us(ts) AS tus, event_id FROM events),
        |gaps AS (
        |  SELECT event_type,
        |    tus - lag(tus) OVER (PARTITION BY event_type
        |                         ORDER BY tus, event_id) AS gap
        |  FROM seq)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
        |  median(gap) AS median_us,
        |  CAST(min(gap) AS BIGINT) AS min_us,
        |  CAST(max(gap) AS BIGINT) AS max_us
        |FROM gaps WHERE gap IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("event_type").orderBy(col("tus"),
        col("event_id"))
      Tables.events(s, d)
        .select(col("event_type"), unix_micros(col("ts")).as("tus"),
          col("event_id"))
        .withColumn("gap", col("tus") - lag(col("tus"), 1).over(w))
        .where(col("gap").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_gaps"),
          expr("median(gap)").as("median_us"),
          min(col("gap")).cast("long").as("min_us"),
          max(col("gap")).cast("long").as("max_us"))
        .orderBy("event_type")
    },

    // Year-over-year customer revenue-tier MIGRATION matrix — the
    // retention-economics view (upgrades, downgrades, churn-adjacent
    // drift) next to cohort_retention's presence view: per customer-year
    // revenue in exact integer CENTS, explicit width-capped tiers
    // (cents div 10⁷, capped at 4 — deterministic integer cut, no
    // quantiles), then a (customer, year)→(year+1) self-join counts the
    // tier transition matrix. Everything BIGINT; the customer-year
    // rollup is corpus-sublinear and the self-join is customer-keyed.
    Q("orders_customer_migration",
      """WITH cy AS (
        |  SELECT o_custkey AS c,
        |    CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS y,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) * 100 AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1, 2),
        |t AS (SELECT c, y, least(cents // 10000000, 4) AS tier FROM cy)
        |SELECT a.tier AS tier_from, b.tier AS tier_to,
        |  CAST(count(*) AS BIGINT) AS n_customers
        |FROM t a JOIN t b ON a.c = b.c AND b.y = a.y + 1
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val cy = Tables.orders(s, d)
        .groupBy(col("o_custkey").as("c"),
          year(col("o_orderdate").cast("date")).cast("long").as("y"))
        .agg((sum(col("o_totalprice").cast("decimal(14,2)")) * 100)
          .cast("long").as("cents"))
      val t = cy.select(col("c"), col("y"),
        least(expr("cents div 10000000"), lit(4L)).as("tier"))
      t.as("a").join(t.as("b"),
          col("a.c") === col("b.c") && col("b.y") === col("a.y") + 1)
        .groupBy(col("a.tier").as("tier_from"), col("b.tier").as("tier_to"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("tier_from", "tier_to")
    },

    // Per-user BURSTINESS of event inter-arrivals — Goh–Barabási
    // B = (σ−μ)/(σ+μ) over each user's gap sequence (−1 = metronome,
    // 0 = Poisson, →1 = bursty), the behavioral-fingerprint signal bot
    // screens and engagement models read; ts_interarrival_stats gives
    // the per-TYPE spread, this gives the per-USER shape, bucketed to a
    // bounded histogram. Exact discipline: gaps are integer µs
    // (unix_micros — the documented ns-parquet truncation parity), n/Σg
    // exact BIGINT, Σg² in DECIMAL(38,0) (gap² ≈ 10²⁶ passes int64;
    // DuckDB HUGEINT twin), then σ, μ, B are ONE double expression from
    // the exact accumulators and floor(B·10) buckets identically on
    // both engines. Users need ≥2 gaps and Σg > 0 (σ=μ=0 would be 0/0).
    Q("events_interevent_burstiness",
      """WITH seq AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id FROM events),
        |gaps AS (
        |  SELECT user_id,
        |    tus - lag(tus) OVER (PARTITION BY user_id
        |                         ORDER BY tus, event_id) AS gap
        |  FROM seq),
        |st AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(gap) AS BIGINT) AS sg,
        |    sum(CAST(gap AS HUGEINT) * gap) AS sg2
        |  FROM gaps WHERE gap IS NOT NULL
        |  GROUP BY 1
        |  HAVING count(*) >= 2 AND CAST(sum(gap) AS BIGINT) > 0),
        |b AS (
        |  SELECT user_id,
        |    (sqrt((CAST(n AS DOUBLE) * CAST(sg2 AS DOUBLE)
        |           - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
        |          / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
        |       - CAST(sg AS DOUBLE) / CAST(n AS DOUBLE))
        |    / (sqrt((CAST(n AS DOUBLE) * CAST(sg2 AS DOUBLE)
        |             - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
        |            / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
        |       + CAST(sg AS DOUBLE) / CAST(n AS DOUBLE)) AS bness
        |  FROM st)
        |SELECT CAST(floor(bness * 10) AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  min(bness) AS min_b, max(bness) AS max_b
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy(col("tus"),
        col("event_id"))
      val st = Tables.events(s, d)
        .select(col("user_id"), unix_micros(col("ts")).as("tus"),
          col("event_id"))
        .withColumn("gap", col("tus") - lag(col("tus"), 1).over(w))
        .where(col("gap").isNotNull)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum(col("gap")).as("sg"),
          sum(col("gap").cast("decimal(38,0)") * col("gap")).as("sg2"))
        .where(col("n") >= 2 && col("sg") > 0)
      def dd(c: org.apache.spark.sql.Column) = c.cast("double")
      val sigma = sqrt((dd(col("n")) * dd(col("sg2"))
        - dd(col("sg")) * dd(col("sg"))) / (dd(col("n")) * dd(col("n"))))
      val mu = dd(col("sg")) / dd(col("n"))
      st.select(((sigma - mu) / (sigma + mu)).as("bness"))
        .groupBy(floor(col("bness") * 10).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_users"),
          min(col("bness")).as("min_b"), max(col("bness")).as("max_b"))
        .orderBy("bucket")
    },

    // Month-of-year SEASONALITY INDEX of order revenue — the demand-
    // planning ratio (month's average monthly revenue / overall monthly
    // average; 1.0 = no seasonality) that decides inventory and compute
    // pre-provisioning. Revenue accumulates in exact DECIMAL, month
    // occurrence counts exact BIGINT, and the index is ONE double
    // expression (R_m·Σn)/(n_m·ΣR) from the four exact accumulators —
    // no intermediate monthly-average double ever summed. One fact pass
    // to a 12-row frame; the cross join is a broadcast of one row.
    // Difference-in-differences PROMO LIFT — the causal-inference
    // primitive on top of the descriptive promo revenue share (q14):
    // did promo-type parts' demand move differently across the 1998
    // cutover than everything else's? DiD = (ȳ_T,post − ȳ_T,pre) −
    // (ȳ_C,post − ȳ_C,pre) nets out both the level difference between
    // groups and the common time shock; SE is the standard large-sample
    // four-cell form sqrt(Σ s²_g/n_g). All four cells accumulate exact
    // BIGINT/DECIMAL moments in ONE conditional combiner aggregate
    // (never four scans); DiD, SE and t are a fixed double cascade.
    Q("orders_promo_lift_did",
      """WITH cell AS (
        |  SELECT CASE WHEN p_type = 'PROMO' THEN 1 ELSE 0 END AS trt,
        |    CASE WHEN l_shipdate >= TIMESTAMP '1998-01-01' THEN 1
        |         ELSE 0 END AS post,
        |    CAST(l_quantity AS DECIMAL(12,2)) AS q
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |st AS (
        |  SELECT trt, post, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(q) AS DOUBLE) AS s,
        |    CAST(sum(CAST(q * q AS DECIMAL(28,4))) AS DOUBLE) AS ss
        |  FROM cell GROUP BY 1, 2),
        |pv AS (
        |  SELECT
        |    max(CASE WHEN trt = 1 AND post = 0 THEN n END) AS n10,
        |    max(CASE WHEN trt = 1 AND post = 1 THEN n END) AS n11,
        |    max(CASE WHEN trt = 0 AND post = 0 THEN n END) AS n00,
        |    max(CASE WHEN trt = 0 AND post = 1 THEN n END) AS n01,
        |    max(CASE WHEN trt = 1 AND post = 0 THEN s END) AS s10,
        |    max(CASE WHEN trt = 1 AND post = 1 THEN s END) AS s11,
        |    max(CASE WHEN trt = 0 AND post = 0 THEN s END) AS s00,
        |    max(CASE WHEN trt = 0 AND post = 1 THEN s END) AS s01,
        |    max(CASE WHEN trt = 1 AND post = 0 THEN ss END) AS q10,
        |    max(CASE WHEN trt = 1 AND post = 1 THEN ss END) AS q11,
        |    max(CASE WHEN trt = 0 AND post = 0 THEN ss END) AS q00,
        |    max(CASE WHEN trt = 0 AND post = 1 THEN ss END) AS q01
        |  FROM st),
        |dd AS (
        |  SELECT n10, n11, n00, n01,
        |    s11 / n11 - s10 / n10 AS d_treat,
        |    s01 / n01 - s00 / n00 AS d_ctrl,
        |    (q11 - s11 * s11 / n11) / (n11 - 1) / n11
        |      + (q10 - s10 * s10 / n10) / (n10 - 1) / n10
        |      + (q01 - s01 * s01 / n01) / (n01 - 1) / n01
        |      + (q00 - s00 * s00 / n00) / (n00 - 1) / n00 AS var_did
        |  FROM pv)
        |SELECT n10 AS n_treat_pre, n11 AS n_treat_post,
        |  n00 AS n_ctrl_pre, n01 AS n_ctrl_post,
        |  d_treat, d_ctrl, d_treat - d_ctrl AS did,
        |  sqrt(var_did) AS se,
        |  (d_treat - d_ctrl) / sqrt(var_did) AS t_stat
        |FROM dd""".stripMargin) { (s, d) =>
      val cell = Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)),
          col("l_partkey") === col("p_partkey"))
        .select(
          when(col("p_type") === "PROMO", 1).otherwise(0).as("trt"),
          when(col("l_shipdate") >= lit("1998-01-01").cast("timestamp"),
            1).otherwise(0).as("post"),
          col("l_quantity").cast("decimal(12,2)").as("q"))
      val st = cell.groupBy("trt", "post").agg(
        count(lit(1)).as("n"), sum(col("q")).cast("double").as("s"),
        sum((col("q") * col("q")).cast("decimal(28,4)")).cast("double")
          .as("ss"))
      def pick(t: Int, p: Int, c: String, as: String) =
        max(when(col("trt") === t && col("post") === p, col(c))).as(as)
      val pv = st.agg(
        pick(1, 0, "n", "n10"), pick(1, 1, "n", "n11"),
        pick(0, 0, "n", "n00"), pick(0, 1, "n", "n01"),
        pick(1, 0, "s", "s10"), pick(1, 1, "s", "s11"),
        pick(0, 0, "s", "s00"), pick(0, 1, "s", "s01"),
        pick(1, 0, "ss", "q10"), pick(1, 1, "ss", "q11"),
        pick(0, 0, "ss", "q00"), pick(0, 1, "ss", "q01"))
      def vterm(qq: String, ss0: String, nn: String) =
        (col(qq) - col(ss0) * col(ss0) / col(nn)) / (col(nn) - 1) / col(nn)
      val dd = pv.select(col("n10"), col("n11"), col("n00"), col("n01"),
        (col("s11") / col("n11") - col("s10") / col("n10")).as("d_treat"),
        (col("s01") / col("n01") - col("s00") / col("n00")).as("d_ctrl"),
        (vterm("q11", "s11", "n11") + vterm("q10", "s10", "n10")
          + vterm("q01", "s01", "n01") + vterm("q00", "s00", "n00"))
          .as("var_did"))
      dd.select(col("n10").as("n_treat_pre"), col("n11").as("n_treat_post"),
        col("n00").as("n_ctrl_pre"), col("n01").as("n_ctrl_post"),
        col("d_treat"), col("d_ctrl"),
        (col("d_treat") - col("d_ctrl")).as("did"),
        sqrt(col("var_did")).as("se"),
        ((col("d_treat") - col("d_ctrl")) / sqrt(col("var_did")))
          .as("t_stat"))
    },

    // NEWSVENDOR critical-fractile stocking level per brand — the
    // inventory-planning primitive on top of the demand history: at
    // service level 0.8 the optimal stock is the 0.8-fractile of weekly
    // demand, taken as an INDEX-SELECTED order statistic (position
    // ceil(0.8·n) — a stored DECIMAL, never an interpolated average, so
    // both engines pick the same value bit-for-bit; the bootstrap-CI
    // endpoint discipline). Weekly demand is a DECIMAL-exact sum;
    // mean and safety ratio are one double division each. Plan: one
    // (brand, week) combiner aggregate collapses the fact, then a
    // per-brand rank window over the |brands|×|weeks| frame —
    // calendar-bounded, corpus-size-free past the scan.
    Q("orders_newsvendor_level",
      """WITH wk AS (
        |  SELECT p_brand, date_trunc('week', l_shipdate) AS wk,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2))
        |      AS dem
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2),
        |rk AS (
        |  SELECT p_brand, wk, dem,
        |    row_number() OVER (PARTITION BY p_brand ORDER BY dem, wk)
        |      AS i,
        |    count(*) OVER (PARTITION BY p_brand) AS n
        |  FROM wk),
        |sel AS (SELECT p_brand, n, dem FROM rk
        |        WHERE i = (8 * n + 9) // 10),
        |mn AS (SELECT p_brand, CAST(sum(dem) AS DOUBLE) / count(*)
        |         AS mean_weekly
        |       FROM wk GROUP BY 1)
        |SELECT sel.p_brand AS p_brand, CAST(n AS BIGINT) AS n_weeks,
        |  mean_weekly, CAST(dem AS DOUBLE) AS q_star,
        |  CAST(dem AS DOUBLE) / mean_weekly AS safety_ratio
        |FROM sel JOIN mn ON sel.p_brand = mn.p_brand
        |ORDER BY p_brand""".stripMargin) { (s, d) =>
      val wk = Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"),
          date_trunc("week", col("l_shipdate")).as("wk"))
        .agg(sum(col("l_quantity").cast("decimal(12,2)"))
          .cast("decimal(18,2)").as("dem"))
      val rk = wk
        .withColumn("i", row_number().over(Window.partitionBy("p_brand")
          .orderBy(col("dem"), col("wk"))))
        .withColumn("n", count(lit(1)).over(
          Window.partitionBy("p_brand")))
      val sel = rk.where(col("i") === expr("(8 * n + 9) div 10"))
        .select(col("p_brand"), col("n"), col("dem"))
      val mn = wk.groupBy("p_brand")
        .agg((sum(col("dem")).cast("double") / count(lit(1)))
          .as("mean_weekly"))
      sel.join(broadcast(mn), "p_brand")
        .select(col("p_brand"), col("n").cast("long").as("n_weeks"),
          col("mean_weekly"), col("dem").cast("double").as("q_star"),
          (col("dem").cast("double") / col("mean_weekly"))
            .as("safety_ratio"))
        .orderBy("p_brand")
    },

    // Cross-brand weekly demand CORRELATION — the substitutes-vs-
    // complements screen behind assortment and promo planning (strong
    // negative correlation on the common calendar = substitution
    // candidates, strong positive = bundled demand or shared
    // seasonality): Pearson r per brand pair over the DENSE week
    // calendar (zero-filled weeks count — an inner join on active
    // weeks would censor exactly the substitution signal). Weekly
    // demand is a DECIMAL-exact sum; all five pair moments accumulate
    // in DECIMAL(38,4); r is one identically-associated double
    // expression. Plan: ONE (brand, week) combiner aggregate collapses
    // the fact; the dense grid, the 300-pair expansion and the moment
    // aggregate all run on the calendar-bounded frame (|brands|²·|weeks|
    // rows — KBs at any corpus size).
    Q("orders_demand_correlation",
      """WITH wk AS (
        |  SELECT p_brand, date_trunc('week', l_shipdate) AS w,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2))
        |      AS dem
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2),
        |spine AS (SELECT DISTINCT w FROM wk),
        |brands AS (SELECT DISTINCT p_brand FROM wk),
        |g AS (
        |  SELECT b.p_brand, s.w,
        |    coalesce(wk.dem, CAST(0 AS DECIMAL(18,2))) AS dem
        |  FROM brands b CROSS JOIN spine s
        |  LEFT JOIN wk ON wk.p_brand = b.p_brand AND wk.w = s.w),
        |pr AS (
        |  SELECT a.p_brand AS brand_a, b2.p_brand AS brand_b,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(a.dem) AS DOUBLE) AS sa,
        |    CAST(sum(b2.dem) AS DOUBLE) AS sb,
        |    CAST(sum(CAST(a.dem * b2.dem AS DECIMAL(38,4))) AS DOUBLE)
        |      AS sab,
        |    CAST(sum(CAST(a.dem * a.dem AS DECIMAL(38,4))) AS DOUBLE)
        |      AS saa,
        |    CAST(sum(CAST(b2.dem * b2.dem AS DECIMAL(38,4))) AS DOUBLE)
        |      AS sbb
        |  FROM g a JOIN g b2 ON a.w = b2.w AND a.p_brand < b2.p_brand
        |  GROUP BY 1, 2)
        |SELECT brand_a, brand_b, n AS n_weeks,
        |  (CAST(n AS DOUBLE) * sab - sa * sb)
        |    / sqrt((CAST(n AS DOUBLE) * saa - sa * sa)
        |           * (CAST(n AS DOUBLE) * sbb - sb * sb)) AS demand_corr
        |FROM pr ORDER BY brand_a, brand_b""".stripMargin) { (s, d) =>
      val wk = Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"),
          date_trunc("week", col("l_shipdate")).as("w"))
        .agg(sum(col("l_quantity").cast("decimal(12,2)"))
          .cast("decimal(18,2)").as("dem"))
      val spine = wk.select(col("w")).distinct()
      val brands = wk.select(col("p_brand")).distinct()
      val g = brands.crossJoin(broadcast(spine))
        .join(broadcast(wk), Seq("p_brand", "w"), "left")
        .select(col("p_brand"), col("w"),
          coalesce(col("dem"), lit(0).cast("decimal(18,2)")).as("dem"))
      val a = g.select(col("p_brand").as("brand_a"), col("w"),
        col("dem").as("da"))
      val b2 = g.select(col("p_brand").as("brand_b"), col("w").as("wb"),
        col("dem").as("db"))
      val pr = a.join(broadcast(b2),
          col("w") === col("wb") && col("brand_a") < col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(count(lit(1)).as("n"),
          sum(col("da")).cast("double").as("sa"),
          sum(col("db")).cast("double").as("sb"),
          sum((col("da") * col("db")).cast("decimal(38,4)"))
            .cast("double").as("sab"),
          sum((col("da") * col("da")).cast("decimal(38,4)"))
            .cast("double").as("saa"),
          sum((col("db") * col("db")).cast("decimal(38,4)"))
            .cast("double").as("sbb"))
      pr.select(col("brand_a"), col("brand_b"), col("n").as("n_weeks"),
          ((col("n").cast("double") * col("sab") - col("sa") * col("sb"))
            / sqrt((col("n").cast("double") * col("saa")
              - col("sa") * col("sa"))
              * (col("n").cast("double") * col("sbb")
                - col("sb") * col("sb")))).as("demand_corr"))
        .orderBy("brand_a", "brand_b")
    },

    // Laspeyres / Paasche / Fisher PRICE INDEX chain by month — the
    // econ aggregate behind "did prices move or did the mix move":
    // per-brand monthly unit values p = e/q against the FIRST month's
    // matched basket (brands present in both periods; absences drop
    // consistently on both engines). Exactness: e and q accumulate in
    // integer CENTS; each basket term e_m·q_0/q_m is a double product
    // of exact integers (well under 2⁵³ at fixture scale; DECIMAL swap
    // documented past that) floored to a BIGINT, so the cross-brand
    // sums are exact integer sums — never an order-dependent double Σ;
    // Laspeyres = Σ⌊e_m q_0 / q_m⌋ / Σe_0, Paasche = Σe_m / Σ⌊e_0 q_m /
    // q_0⌋, Fisher = √(L·P), three divisions and one sqrt per row.
    // Plan: ONE (brand, month) combiner aggregate collapses the fact;
    // the base-month join and index algebra run on the 25×|months|
    // frame.
    Q("orders_price_index",
      """WITH m AS (
        |  SELECT p_brand, date_trunc('month', l_shipdate) AS mth,
        |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS e,
        |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS q
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2),
        |m0 AS (SELECT min(mth) AS mth0 FROM m),
        |base AS (SELECT p_brand, e AS e0, q AS q0
        |         FROM m, m0 WHERE mth = mth0),
        |j AS (SELECT m.mth, m.p_brand, m.e AS em, m.q AS qm, b.e0, b.q0
        |      FROM m JOIN base b ON m.p_brand = b.p_brand),
        |t AS (
        |  SELECT mth, CAST(count(*) AS BIGINT) AS n_brands,
        |    CAST(sum(CAST(floor(CAST(em AS DOUBLE) * CAST(q0 AS DOUBLE)
        |      / CAST(qm AS DOUBLE)) AS BIGINT)) AS BIGINT) AS lnum,
        |    CAST(sum(e0) AS BIGINT) AS lden,
        |    CAST(sum(em) AS BIGINT) AS pnum,
        |    CAST(sum(CAST(floor(CAST(e0 AS DOUBLE) * CAST(qm AS DOUBLE)
        |      / CAST(q0 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS pden
        |  FROM j GROUP BY 1)
        |SELECT CAST(mth AS TIMESTAMP) AS month, n_brands,
        |  CAST(lnum AS DOUBLE) / CAST(lden AS DOUBLE) AS laspeyres,
        |  CAST(pnum AS DOUBLE) / CAST(pden AS DOUBLE) AS paasche,
        |  sqrt(CAST(lnum AS DOUBLE) / CAST(lden AS DOUBLE)
        |       * (CAST(pnum AS DOUBLE) / CAST(pden AS DOUBLE)))
        |    AS fisher
        |FROM t ORDER BY month""".stripMargin) { (s, d) =>
      def cents(c: Column) =
        (c.cast("decimal(12,2)") * 100).cast("long")
      val m = Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"),
          date_trunc("month", col("l_shipdate")).as("mth"))
        .agg(sum(cents(col("l_extendedprice"))).as("e"),
          sum(cents(col("l_quantity"))).as("q"))
      val m0 = m.agg(min(col("mth")).as("mth0"))
      val base = m.crossJoin(broadcast(m0))
        .where(col("mth") === col("mth0"))
        .select(col("p_brand").as("bb"), col("e").as("e0"),
          col("q").as("q0"))
      val j = m.join(broadcast(base), col("p_brand") === col("bb"))
      def term(a: String, b: String, c: String) =
        floor(col(a).cast("double") * col(b).cast("double")
          / col(c).cast("double")).cast("long")
      val t = j.groupBy("mth").agg(count(lit(1)).as("n_brands"),
        sum(term("e", "q0", "q")).as("lnum"),
        sum(col("e0")).as("lden"),
        sum(col("e")).as("pnum"),
        sum(term("e0", "q", "q0")).as("pden"))
      t.select(col("mth").cast("timestamp").as("month"), col("n_brands"),
          (col("lnum").cast("double") / col("lden").cast("double"))
            .as("laspeyres"),
          (col("pnum").cast("double") / col("pden").cast("double"))
            .as("paasche"),
          sqrt(col("lnum").cast("double") / col("lden").cast("double")
            * (col("pnum").cast("double") / col("pden").cast("double")))
            .as("fisher"))
        .orderBy("month")
    },

    // Gini concentration of the co-purchase DEGREE distribution — the
    // third number of the hub triptych (assortativity: who hubs attach
    // to; rich-club: whether hubs clique; degree Gini: how much of the
    // edge mass the hubs own at all — the single scalar that predicts
    // whether the salted adjacency layout is worth its extra exchange).
    // Same rank formulation as orders_gini_segment: G = (2Σi·dᵢ −
    // (n+1)Σd)/(nΣd) with ties broken by node id, every accumulator an
    // exact BIGINT, one double expression. Plan: the shared basket
    // fan-out + pair DISTINCT collapses to the |parts|-sized degree
    // table; the rank window runs there, never on edges.
    Q("graph_degree_gini",
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |        AND a.l_partkey <> b.l_partkey),
        |deg AS (SELECT u AS x, CAST(count(*) AS BIGINT) AS dg
        |        FROM e GROUP BY 1),
        |rk AS (SELECT dg, row_number() OVER (ORDER BY dg, x) AS i
        |       FROM deg),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(dg) AS BIGINT) AS sd,
        |         CAST(sum(i * dg) AS BIGINT) AS sid
        |       FROM rk)
        |SELECT n AS n_nodes, sd AS sum_deg,
        |  (2.0 * CAST(sid AS DOUBLE)
        |     - CAST(n + 1 AS DOUBLE) * CAST(sd AS DOUBLE))
        |  / (CAST(n AS DOUBLE) * CAST(sd AS DOUBLE)) AS gini_degree
        |FROM st""".stripMargin) { (s, d) =>
      val e = copurchaseEdgeFanout(s, d)
        .select(col("u"), col("v")).distinct()
      val deg = e.groupBy(col("u").as("x"))
        .agg(count(lit(1)).as("dg"))
      // unpartitioned rank over the NODE domain (|parts| rows after the
      // degree rollup — corpus-sublinear but unbounded at 100 TB; the
      // Gini index needs a total order by construction). Scale route:
      // range-partition by (dg, x) and add per-partition rank offsets
      // (exact, two-pass), or the abcApproxOf histogram trick if a
      // bounded-error Gini is acceptable.
      val rk = deg.select(col("dg"),
        row_number().over(Window.orderBy(col("dg"), col("x")))
          .cast("long").as("i"))
      val st = rk.agg(count(lit(1)).as("n"), sum(col("dg")).as("sd"),
        sum(col("i") * col("dg")).as("sid"))
      st.select(col("n").as("n_nodes"), col("sd").as("sum_deg"),
        ((lit(2.0) * col("sid").cast("double")
          - (col("n") + 1).cast("double") * col("sd").cast("double"))
          / (col("n").cast("double") * col("sd").cast("double")))
          .as("gini_degree"))
    },

    Q("orders_seasonality_index",
      """WITH m AS (
        |  SELECT CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS moy,
        |    date_trunc('month', CAST(o_orderdate AS DATE)) AS ym,
        |    CAST(o_totalprice AS DECIMAL(14,2)) AS p
        |  FROM orders),
        |g AS (SELECT moy, CAST(sum(p) AS DECIMAL(18,2)) AS rev,
        |        CAST(count(DISTINCT ym) AS BIGINT) AS n_months
        |      FROM m GROUP BY 1),
        |t AS (SELECT CAST(sum(rev) AS DECIMAL(18,2)) AS tot_rev,
        |        CAST(sum(n_months) AS BIGINT) AS tot_m FROM g)
        |SELECT moy AS month_of_year, CAST(rev AS DOUBLE) AS revenue,
        |  n_months,
        |  (CAST(rev AS DOUBLE) * CAST(tot_m AS DOUBLE))
        |    / (CAST(n_months AS DOUBLE) * CAST(tot_rev AS DOUBLE))
        |    AS seasonality_index
        |FROM g CROSS JOIN t ORDER BY month_of_year""".stripMargin) {
      (s, d) =>
      val m = Tables.orders(s, d).select(
        month(col("o_orderdate").cast("date")).cast("long").as("moy"),
        date_trunc("month", col("o_orderdate").cast("date")).as("ym"),
        col("o_totalprice").cast("decimal(14,2)").as("p"))
      val g = m.groupBy("moy")
        .agg(sum("p").cast("decimal(18,2)").as("rev"),
          countDistinct("ym").as("n_months"))
      val t = g.agg(sum("rev").cast("decimal(18,2)").as("tot_rev"),
        sum("n_months").as("tot_m"))
      g.crossJoin(broadcast(t))
        .select(col("moy").as("month_of_year"),
          col("rev").cast("double").as("revenue"), col("n_months"),
          ((col("rev").cast("double") * col("tot_m").cast("double"))
            / (col("n_months").cast("double")
              * col("tot_rev").cast("double"))).as("seasonality_index"))
        .orderBy("month_of_year")
    },

    // Monthly open-order backlog timeline: +1 at order placement, −1 at
    // last-line ship, running-sum the month-bucketed NET — the classic
    // event-ified interval-count that never joins orders×months. Month
    // deltas reduce first (integer counts, one shuffle); the running sum
    // ranks the ~O(months) reduced frame only — the same domain-bounded
    // global-window argument as the skyline.
    Q("orders_backlog_monthly",
      """WITH placed AS (
        |  SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
        |    count(*) AS delta
        |  FROM orders GROUP BY 1),
        |shipped AS (
        |  SELECT date_trunc('month', CAST(last_ship AS DATE)) AS m,
        |    -count(*) AS delta
        |  FROM (SELECT l_orderkey, max(l_shipdate) AS last_ship
        |        FROM lineitem GROUP BY 1)
        |  GROUP BY 1),
        |net AS (
        |  SELECT m, CAST(sum(delta) AS BIGINT) AS net FROM (
        |    SELECT * FROM placed UNION ALL SELECT * FROM shipped)
        |  GROUP BY 1)
        |SELECT CAST(m AS TIMESTAMP) AS month, net,
        |  CAST(sum(net) OVER (ORDER BY m
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS open_orders
        |FROM net ORDER BY month""".stripMargin) { (s, d) =>
      val placed = Tables.orders(s, d)
        .groupBy(date_trunc("month", col("o_orderdate").cast("date"))
          .as("m"))
        .agg(count(lit(1)).as("delta"))
      val shipped = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(max(col("l_shipdate")).as("last_ship"))
        .groupBy(date_trunc("month", col("last_ship").cast("date")).as("m"))
        .agg((-count(lit(1))).as("delta"))
      val net = placed.unionByName(shipped)
        .groupBy(col("m")).agg(sum(col("delta")).cast("long").as("net"))
      val w = Window.orderBy(col("m"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      net.select(col("m").cast("timestamp").as("month"), col("net"),
          sum(col("net")).over(w).cast("long").as("open_orders"))
        .orderBy("month")
    },

    // Duplicate-payment detector: orders by the SAME customer in the
    // SAME amount band within 30 days of the previous one — the
    // double-charge candidate screen every billing pipeline runs (a
    // review queue, so banded loose on purpose). Amounts band to
    // floor(total/10000) (exact on doubles, and the tolerance a real
    // detector needs anyway — fee/FX jitter breaks bit-equality). The
    // naive formulation is a per-customer self-join (quadratic on heavy
    // accounts); the linear shape is ONE (custkey, band)-keyed shuffle
    // + a lag window with a unique tie-break, exactly the attribution
    // discipline. The day gap is integer.
    Q("orders_duplicate_payments",
      """WITH seq AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice,
        |    CAST(o_orderdate AS DATE) AS d,
        |    lag(CAST(o_orderdate AS DATE)) OVER w AS prev_d,
        |    lag(o_orderkey) OVER w AS prev_orderkey
        |  FROM orders
        |  WINDOW w AS (
        |    PARTITION BY o_custkey,
        |      CAST(floor(o_totalprice / 10000) AS BIGINT)
        |    ORDER BY CAST(o_orderdate AS DATE), o_orderkey))
        |SELECT o_orderkey, o_custkey, o_totalprice,
        |  CAST(d AS TIMESTAMP) AS order_date, prev_orderkey,
        |  date_diff('day', prev_d, d) AS gap_days
        |FROM seq
        |WHERE prev_d IS NOT NULL AND date_diff('day', prev_d, d) <= 30
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"),
          floor(col("o_totalprice") / 10000).cast("long"))
        .orderBy(col("d"), col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderdate").cast("date").as("d"))
        .withColumn("prev_d", lag(col("d"), 1).over(w))
        .withColumn("prev_orderkey", lag(col("o_orderkey"), 1).over(w))
        .where(col("prev_d").isNotNull
          && datediff(col("d"), col("prev_d")) <= 30)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("d").cast("timestamp").as("order_date"),
          col("prev_orderkey"),
          datediff(col("d"), col("prev_d")).cast("long").as("gap_days"))
        .orderBy("o_orderkey")
    },

    // Rolling active users: DAU, trailing-7-day WAU, and the DAU/WAU
    // stickiness ratio per day — the product-analytics counters behind
    // every engagement dashboard. A sliding COUNT DISTINCT cannot be
    // summed from daily distincts; the exact distributed shape is
    // coverage EXPLODE: each (user, active-day) row covers the 7 WAU
    // windows it belongs to (a bounded ×7 fan-out of the already
    // user-day-deduped frame — the same bounded-blowup argument as the
    // dedup band joins; a 30-day MAU costs ×30, past which the
    // HLL-sketch route below — events_active_users_sketch — takes
    // over). Everything integer until the one
    // stickiness division per day; the DAU and WAU aggregates join
    // co-partitioned on day.
    Q("events_active_users_rolling",
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS a
        |            FROM events),
        |mx AS (SELECT max(a) AS mxa FROM ud),
        |dau AS (SELECT a AS day, count(*) AS dau FROM ud GROUP BY 1),
        |cov AS (SELECT DISTINCT user_id, a + CAST(i AS INTEGER) AS day
        |        FROM ud, range(7) t(i)),
        |wau AS (SELECT day, count(*) AS wau FROM cov, mx
        |        WHERE day <= mxa GROUP BY 1)
        |SELECT CAST(dau.day AS TIMESTAMP) AS day, dau, wau,
        |  CAST(dau AS DOUBLE) / wau AS stickiness
        |FROM dau JOIN wau ON dau.day = wau.day
        |ORDER BY day""".stripMargin) { (s, d) =>
      val ud = Tables.events(s, d)
        .select(col("user_id"), col("ts").cast("date").as("a"))
        .distinct()
      val mx = ud.agg(max(col("a")).as("mxa"))
      val dau = ud.groupBy(col("a").as("day"))
        .agg(count(lit(1)).as("dau"))
      val wau = ud
        .select(col("user_id"), col("a"),
          explode(sequence(lit(0), lit(6))).as("i"))
        .select(col("user_id"), expr("date_add(a, i)").as("day"))
        .distinct()
        .crossJoin(broadcast(mx))
        .where(col("day") <= col("mxa"))
        .groupBy("day").agg(count(lit(1)).as("wau"))
      dau.join(wau, "day")
        .select(col("day").cast("timestamp").as("day"), col("dau"),
          col("wau"),
          (col("dau").cast("double") / col("wau")).as("stickiness"))
        .orderBy("day")
    },

    // The sketch route the exact query above promises: sliding distinct
    // counts as MERGEABLE HLL materialized views — per-day
    // hll_sketch_agg partials (ONE user-day-keyed shuffle with map-side
    // partial merge, the only pass over the events fact), then every
    // trailing window (7-day WAU, 30-day MAU) is a hll_union_agg over
    // the DAY-SIZED partial table: the ×N coverage fan-out lands on
    // O(days) sketch rows instead of O(user-days), which is what makes
    // a 30/90/365-day distinct window affordable at 100 TB (this is
    // exactly the daily-rollup + union pattern of a production metrics
    // store). lgConfigK 12 → ~1.6% standard error; sketch-defined → no
    // SQL oracle; AnalyticsSpec gates every estimate against the exact
    // coverage-explode twin within ±5%.
    Q.noOracle("events_active_users_sketch") { (s, d) =>
      val daily = Tables.events(s, d)
        .select(col("user_id"), col("ts").cast("date").as("day"))
        .groupBy("day")
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
        // day-sized frame read by three aggregates below: pin it so the
        // events scan + sketch shuffle run once (lazy — materializes
        // inside the first consumer's job)
        .localCheckpoint(false)
      val mx = daily.agg(max(col("day")).as("mxa"))
      // the horizon filter sits INSIDE trailing(), BEFORE the union
      // aggregate: a day's coverage fan-out reaches up to n−1 days past
      // the data, and pruning those phantom target days here skips
      // their sketch unions entirely (after the dau join they'd be
      // discarded anyway — a post-join filter would be dead code)
      def trailing(n: Int, alias: String): DataFrame =
        daily
          .select(explode(expr(s"sequence(day, date_add(day, ${n - 1}))"))
            .as("day"), col("sk"))
          .crossJoin(broadcast(mx))
          .where(col("day") <= col("mxa"))
          .groupBy("day")
          .agg(hll_union_agg(col("sk")).as("u"))
          .select(col("day"),
            hll_sketch_estimate(col("u")).as(alias))
      val dau = daily.select(col("day"),
        hll_sketch_estimate(col("sk")).as("dau_est"))
      dau.join(trailing(7, "wau_est"), "day")
        .join(trailing(30, "mau_est"), "day")
        .select(col("day").cast("timestamp").as("day"), col("dau_est"),
          col("wau_est"), col("mau_est"))
        .orderBy("day")
    },

    // HOLDOUT UPLIFT readout — the experimentation primitive: users
    // split DETERMINISTICALLY into treatment/control by a pure id
    // function (user_id mod 7 < 3, ~43% treatment — in production the
    // salt-hash bucket of the assignment service; determinism is the
    // contract, the split function is pluggable), conversion = any
    // purchase event, and the readout is per-arm exact counts + one
    // double division per rate + one fixed-order subtraction for the
    // absolute uplift. ONE user-keyed aggregate over the fact (the same
    // single-Exchange discipline as the funnel family) then a two-row
    // arm rollup — at 100 TB the user aggregate is the only shuffle.
    Q("events_uplift_holdout",
      """WITH u AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS conv
        |  FROM events GROUP BY 1),
        |a AS (
        |  SELECT CASE WHEN user_id % 7 < 3 THEN 'treatment'
        |              ELSE 'control' END AS arm, conv
        |  FROM u),
        |s AS (
        |  SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
        |    CAST(sum(conv) AS BIGINT) AS n_conv
        |  FROM a GROUP BY 1)
        |SELECT
        |  max(CASE WHEN arm = 'treatment' THEN n_users END) AS treat_users,
        |  max(CASE WHEN arm = 'treatment' THEN n_conv END) AS treat_conv,
        |  max(CASE WHEN arm = 'control' THEN n_users END) AS control_users,
        |  max(CASE WHEN arm = 'control' THEN n_conv END) AS control_conv,
        |  CAST(max(CASE WHEN arm = 'treatment' THEN n_conv END) AS DOUBLE)
        |    / max(CASE WHEN arm = 'treatment' THEN n_users END)
        |    AS treat_rate,
        |  CAST(max(CASE WHEN arm = 'control' THEN n_conv END) AS DOUBLE)
        |    / max(CASE WHEN arm = 'control' THEN n_users END)
        |    AS control_rate,
        |  CAST(max(CASE WHEN arm = 'treatment' THEN n_conv END) AS DOUBLE)
        |    / max(CASE WHEN arm = 'treatment' THEN n_users END)
        |  - CAST(max(CASE WHEN arm = 'control' THEN n_conv END) AS DOUBLE)
        |    / max(CASE WHEN arm = 'control' THEN n_users END)
        |    AS uplift
        |FROM s""".stripMargin) { (s, d) =>
      val u = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", lit(1))
          .otherwise(lit(0))).as("conv"))
      val arms = u.select(
          when(col("user_id") % 7 < 3, lit("treatment"))
            .otherwise(lit("control")).as("arm"), col("conv"))
        .groupBy(col("arm"))
        .agg(count(lit(1)).cast("long").as("n_users"),
          sum(col("conv")).cast("long").as("n_conv"))
      def pick(a: String, c: String) =
        max(when(col("arm") === a, col(c)))
      def rate(a: String) =
        pick(a, "n_conv").cast("double") / pick(a, "n_users")
      arms.agg(
        pick("treatment", "n_users").as("treat_users"),
        pick("treatment", "n_conv").as("treat_conv"),
        pick("control", "n_users").as("control_users"),
        pick("control", "n_conv").as("control_conv"),
        rate("treatment").as("treat_rate"),
        rate("control").as("control_rate"),
        (rate("treatment") - rate("control")).as("uplift"))
    },

    // Seasonal-naive forecast backtest per hourly series: forecast(h) =
    // value(h − 24 h), scored by MAE and signed bias — the sanity
    // baseline every forecasting pipeline reports before anything
    // fancier (EMA/Holt above must beat it to matter). Hourly sums are
    // DECIMAL-exact, the error terms stay DECIMAL through abs/sum
    // (order-independent), and each metric pays ONE double division.
    // The lag is TIME-based (equi-join on h − 24 h), not row-based —
    // hour gaps must not slide the season.
    Q("ts_snaive_backtest",
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |    sum(CAST(value AS DECIMAL(12,2))) AS v
        |  FROM events GROUP BY 1, 2),
        |j AS (
        |  SELECT a.event_type AS event_type, a.v AS v, b.v AS f
        |  FROM hourly a JOIN hourly b
        |    ON a.event_type = b.event_type
        |    AND b.h = a.h - INTERVAL 24 HOURS)
        |SELECT event_type, count(*) AS n_eval,
        |  CAST(sum(abs(v - f)) AS DOUBLE) / count(*) AS mae,
        |  CAST(sum(v - f) AS DOUBLE) / count(*) AS bias
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val hourly = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(sum(col("value").cast("decimal(12,2)")).as("v"))
      val a = hourly.select(col("event_type"), col("h"), col("v"))
      val b = hourly.select(col("event_type").as("et2"),
        col("h").as("h2"), col("v").as("f"))
      a.join(b, col("event_type") === col("et2")
          && col("h2") === col("h") - expr("INTERVAL 24 HOURS"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_eval"),
          (sum(abs(col("v") - col("f"))).cast("double")
            / count(lit(1))).as("mae"),
          (sum(col("v") - col("f")).cast("double")
            / count(lit(1))).as("bias"))
        .orderBy("event_type")
    },

    // Discount elasticity per brand: OLS slope/intercept of line
    // quantity on discount — "does discounting move volume" — via the
    // ts_linear_trend normal-equations discipline: Σx/Σy/Σxy/Σx² are
    // EXACT DECIMAL sums (x = discount cast DECIMAL(3,2), y = quantity
    // DECIMAL(12,2); their products are exact decimals), each cast to
    // double ONCE, slope/intercept as fixed-order double expressions
    // with the slope chain repeated VERBATIM inside the intercept —
    // bit-identical cross-engine, no rounding. The part dim broadcasts
    // onto the fact scan; one brand-keyed combiner aggregate.
    Q("parts_discount_elasticity",
      """WITH x AS (
        |  SELECT p_brand AS brand,
        |    CAST(l_discount AS DECIMAL(3,2)) AS x,
        |    CAST(l_quantity AS DECIMAL(12,2)) AS y
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |s AS (
        |  SELECT brand, count(*) AS n,
        |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |    CAST(sum(x * y) AS DOUBLE) AS sxy,
        |    CAST(sum(x * x) AS DOUBLE) AS sxx
        |  FROM x GROUP BY 1)
        |SELECT brand, n,
        |  (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
        |  (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
        |    AS intercept
        |FROM s ORDER BY brand""".stripMargin) { (s, d) =>
      val x = Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand").as("brand"),
          col("l_discount").cast("decimal(3,2)").as("x"),
          col("l_quantity").cast("decimal(12,2)").as("y"))
      x.groupBy("brand")
        .agg(count(lit(1)).as("n"),
          sum(col("x")).cast("double").as("sx"),
          sum(col("y")).cast("double").as("sy"),
          sum(col("x") * col("y")).cast("double").as("sxy"),
          sum(col("x") * col("x")).cast("double").as("sxx"))
        .select(col("brand"), col("n"),
          ((col("n") * col("sxy") - col("sx") * col("sy"))
            / (col("n") * col("sxx") - col("sx") * col("sx"))).as("slope"),
          ((col("sy") - (col("n") * col("sxy") - col("sx") * col("sy"))
            / (col("n") * col("sxx") - col("sx") * col("sx"))
            * col("sx")) / col("n")).as("intercept"))
        .orderBy("brand")
    },

    // Trigram-accelerated substring search (the pg_trgm pattern): a
    // '%late%' scan-wide LIKE becomes (1) explode names into character
    // trigrams, (2) keep only rows holding EVERY pattern trigram, (3)
    // LIKE-verify the candidates alone. At 100 TB the trigram explode is
    // written ONCE as an inverted-index table partitioned by gram and a
    // query probes only its pattern's gram partitions; the verify-only-
    // candidates discipline is the same as the MinHash dedup family.
    // Answers are identical to the raw LIKE by construction (the gram
    // filter is a necessary condition), which is exactly what the oracle
    // checks.
    Q("search_trigram_like",
      """SELECT p_partkey, p_name FROM part
        |WHERE p_name LIKE '%late%'
        |ORDER BY p_partkey""".stripMargin) { (s, d) =>
      val pat = "late"
      // distinct: a pattern with a repeated trigram ("aaaa" → "aaa","aaa")
      // would otherwise make the countDistinct threshold unreachable and
      // silently return zero rows instead of the LIKE answer
      val patGrams =
        (0 to pat.length - 3).map(i => pat.substring(i, i + 3)).distinct
      Tables.part(s, d)
        .where(length(col("p_name")) >= 3)
        .select(col("p_partkey"), col("p_name"),
          explode(expr("transform(sequence(1, length(p_name) - 2)," +
            " i -> substring(p_name, i, 3))")).as("g"))
        .where(col("g").isin(patGrams: _*))
        .groupBy(col("p_partkey"), col("p_name"))
        .agg(countDistinct(col("g")).as("hits"))
        .where(col("hits") === patGrams.size)
        .where(col("p_name").like(s"%$pat%"))
        .select(col("p_partkey"), col("p_name"))
        .orderBy("p_partkey")
    },

    // Order→ship latency histogram (the fulfillment-SLA profile): day
    // lag = calendar-date difference (integer boundary count, identical
    // cross-engine under the pinned UTC session), bucketed to 30-day
    // bands with per-band min/max. One orderkey-equi join (the dim side
    // broadcast at this SF, sort-merge at scale) + one combiner-friendly
    // histogram shuffle; every value is an integer.
    Q("orders_ship_latency_hist",
      """SELECT CAST(floor(date_diff('day', CAST(o.o_orderdate AS DATE),
        |         CAST(l.l_shipdate AS DATE)) / 30.0) AS BIGINT) AS lag_bucket,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(min(date_diff('day', CAST(o.o_orderdate AS DATE),
        |         CAST(l.l_shipdate AS DATE))) AS BIGINT) AS min_days,
        |  CAST(max(date_diff('day', CAST(o.o_orderdate AS DATE),
        |         CAST(l.l_shipdate AS DATE))) AS BIGINT) AS max_days
        |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val lag = datediff(col("l_shipdate").cast("date"),
        col("o_orderdate").cast("date"))
      Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate"))
        .join(Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_shipdate")),
          col("o_orderkey") === col("l_orderkey"))
        .select(lag.as("lag"))
        // EXPLICIT floor division on both engines: integer `div` (Spark)
        // and `//` (DuckDB) truncate toward zero, which would fold a dirty
        // negative lag (l_shipdate < o_orderdate — present in the data)
        // into bucket 0 with the on-time lines; floor gives those rows
        // their own negative bucket and pins the semantics unambiguously
        .select(floor(col("lag").cast("double") / 30).cast("long")
          .as("lag_bucket"), col("lag"))
        .groupBy("lag_bucket")
        .agg(count(lit(1)).as("n_lines"),
          min(col("lag")).cast("long").as("min_days"),
          max(col("lag")).cast("long").as("max_days"))
        .orderBy("lag_bucket")
    },

    // Journey pattern audit — MATCH_RECOGNIZE-lite: each user's ordered
    // event-type initials concatenate into a journey string, regex/LIKE
    // classify it (converting v.*c.*p, error-touched), and the output
    // is the 2×2 segment census. Arrival order = event_id (engine-
    // stable); the per-user sort is inside the aggregation, so the only
    // data movement is ONE user-keyed shuffle. Journey length is bounded
    // by per-user activity — for unbounded histories the scalable form
    // is the carry-forward window funnel (funnel_any_sequence), not a
    // string build; this op is the bounded-session audit.
    Q("events_journey_patterns",
      """WITH j AS (
        |  SELECT user_id,
        |    string_agg(substr(event_type, 1, 1), '' ORDER BY event_id)
        |      AS journey
        |  FROM events GROUP BY 1)
        |SELECT
        |  CASE WHEN regexp_matches(substr(journey, 1, 8), 'v.*c.*p')
        |       THEN 1 ELSE 0 END AS converted,
        |  CASE WHEN substr(journey, 1, 8) LIKE '%e%' THEN 1 ELSE 0 END
        |    AS errored,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(min(length(journey)) AS BIGINT) AS min_len,
        |  CAST(max(length(journey)) AS BIGINT) AS max_len
        |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val j = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(expr(
          """array_join(transform(
            |  array_sort(collect_list(
            |    struct(event_id AS eid, substring(event_type, 1, 1) AS i))),
            |  x -> x.i), '')""".stripMargin).as("journey"))
      // classify the FIRST-8-event prefix (the session-start audit —
      // and a fixture where whole-history classes degenerate to one
      // all-true segment at every SF)
      j.select(
          when(substring(col("journey"), 1, 8).rlike("v.*c.*p"), 1)
            .otherwise(0).as("converted"),
          when(substring(col("journey"), 1, 8).like("%e%"), 1)
            .otherwise(0).as("errored"),
          length(col("journey")).cast("long").as("len"))
        .groupBy("converted", "errored")
        .agg(count(lit(1)).as("n_users"),
          min(col("len")).as("min_len"), max(col("len")).as("max_len"))
        .orderBy("converted", "errored")
    },

    // RFM (recency/frequency/monetary) quintile segmentation — the
    // canonical customer-value partitioning. Everything reduces to ONE
    // user-level aggregate first; the three ntile windows then rank
    // O(users) rows, never events. Recency anchors to the dataset's own
    // max purchase time (a broadcast scalar), so the query is
    // scale-factor independent. ntile ties are impossible: every ORDER
    // BY ends in the unique user_id. At 100 TB the exact global ntile
    // sort becomes approx-percentile boundaries + a broadcast bucket
    // join — noted, not needed at profile scale since the window input
    // is already user-level.
    Q("events_rfm_segments",
      """WITH pu AS (
        |  SELECT user_id, max(epoch_us(ts)) AS last_tus,
        |    count(*) AS freq,
        |    CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS monetary
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |mx AS (SELECT max(last_tus) AS mt FROM pu),
        |scored AS (
        |  SELECT user_id,
        |    ntile(5) OVER (ORDER BY mt - last_tus, user_id) AS r_score,
        |    ntile(5) OVER (ORDER BY freq, user_id) AS f_score,
        |    ntile(5) OVER (ORDER BY monetary, user_id) AS m_score
        |  FROM pu, mx)
        |SELECT r_score, f_score, m_score,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM scored GROUP BY 1, 2, 3
        |ORDER BY r_score, f_score, m_score""".stripMargin) { (s, d) =>
      val pu = Tables.events(s, d)
        .where(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(max(unix_micros(col("ts"))).as("last_tus"),
          count(lit(1)).as("freq"),
          sum(col("value").cast("decimal(12,2)"))
            .cast("double").as("monetary"))
      val mx = pu.agg(max(col("last_tus")).as("mt"))
      val scored = pu.crossJoin(broadcast(mx)).select(col("user_id"),
        ntile(5).over(Window.orderBy(col("mt") - col("last_tus"),
          col("user_id"))).as("r_score"),
        ntile(5).over(Window.orderBy(col("freq"), col("user_id")))
          .as("f_score"),
        ntile(5).over(Window.orderBy(col("monetary"), col("user_id")))
          .as("m_score"))
      scored.groupBy("r_score", "f_score", "m_score")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("r_score", "f_score", "m_score")
    },

    // The 100×-SAFE RFM route, correctness-gated: same per-user metrics
    // as events_rfm_segments, but scored against EXACT percentile_disc
    // quintile boundaries broadcast from one mergeable counts-map
    // aggregate — NO global ntile sort anywhere in the plan (PlanSpec
    // asserts no Window operator). percentile_disc = smallest value
    // with cume_dist >= p in both engines, each boundary an actual
    // element of the metric domain, so the comparison chain is
    // bit-exact; score = 1 + #boundaries strictly below the metric,
    // which differs from ntile only in tie handling (ties share a
    // bucket instead of being force-split). At unbounded metric
    // cardinality the same plan swaps percentile_disc for the
    // approx_percentile sketch (rfmScoresOf disc=false).
    Q("events_rfm_approx",
      """WITH pu AS (
        |  SELECT user_id, max(epoch_us(ts)) AS last_tus,
        |    count(*) AS freq,
        |    CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS monetary
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |mx AS (SELECT max(last_tus) AS mt FROM pu),
        |m AS (SELECT user_id, mt - last_tus AS recency_gap, freq, monetary
        |      FROM pu, mx),
        |bs AS (SELECT
        |  quantile_disc(recency_gap, 0.2) AS r1,
        |  quantile_disc(recency_gap, 0.4) AS r2,
        |  quantile_disc(recency_gap, 0.6) AS r3,
        |  quantile_disc(recency_gap, 0.8) AS r4,
        |  quantile_disc(freq, 0.2) AS f1, quantile_disc(freq, 0.4) AS f2,
        |  quantile_disc(freq, 0.6) AS f3, quantile_disc(freq, 0.8) AS f4,
        |  quantile_disc(monetary, 0.2) AS m1,
        |  quantile_disc(monetary, 0.4) AS m2,
        |  quantile_disc(monetary, 0.6) AS m3,
        |  quantile_disc(monetary, 0.8) AS m4
        |  FROM m),
        |scored AS (
        |  SELECT user_id,
        |    1 + CASE WHEN recency_gap > r1 THEN 1 ELSE 0 END
        |      + CASE WHEN recency_gap > r2 THEN 1 ELSE 0 END
        |      + CASE WHEN recency_gap > r3 THEN 1 ELSE 0 END
        |      + CASE WHEN recency_gap > r4 THEN 1 ELSE 0 END AS r_score,
        |    1 + CASE WHEN freq > f1 THEN 1 ELSE 0 END
        |      + CASE WHEN freq > f2 THEN 1 ELSE 0 END
        |      + CASE WHEN freq > f3 THEN 1 ELSE 0 END
        |      + CASE WHEN freq > f4 THEN 1 ELSE 0 END AS f_score,
        |    1 + CASE WHEN monetary > m1 THEN 1 ELSE 0 END
        |      + CASE WHEN monetary > m2 THEN 1 ELSE 0 END
        |      + CASE WHEN monetary > m3 THEN 1 ELSE 0 END
        |      + CASE WHEN monetary > m4 THEN 1 ELSE 0 END AS m_score
        |  FROM m, bs)
        |SELECT r_score, f_score, m_score,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM scored GROUP BY 1, 2, 3
        |ORDER BY r_score, f_score, m_score""".stripMargin) { (s, d) =>
      rfmScoresOf(Tables.events(s, d), "user_id", "ts", "event_type",
          "value", exact = false, disc = true)
        .groupBy("r_score", "f_score", "m_score")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("r_score", "f_score", "m_score")
    },

    // ABC (Pareto 70/90) revenue classification of parts: rank parts by
    // exact DECIMAL revenue, classify by cumulative share, report per
    // class. The running-share window ranks PART-level aggregates (the
    // fact shuffles once into that reduction); cum and total are exact
    // decimals cast once, the share is one double division per part —
    // identical operand chains both engines, no rounding.
    Q("parts_abc_classes",
      """WITH pr AS (
        |  SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS rev
        |  FROM lineitem GROUP BY 1),
        |run AS (
        |  SELECT l_partkey, rev,
        |    CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS DOUBLE)
        |    / CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |      AS DOUBLE) AS cum_share
        |  FROM pr),
        |cls AS (
        |  SELECT CASE WHEN cum_share <= 0.7 THEN 'A'
        |              WHEN cum_share <= 0.9 THEN 'B'
        |              ELSE 'C' END AS abc_class, rev
        |  FROM run)
        |SELECT abc_class, CAST(count(*) AS BIGINT) AS n_parts,
        |  CAST(sum(rev) AS DOUBLE) AS class_revenue
        |FROM cls GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val pr = Tables.lineitem(s, d)
        .groupBy(col("l_partkey"))
        .agg(sum(col("l_extendedprice").cast("decimal(12,2)")
          * (lit(1) - col("l_discount").cast("decimal(12,2)"))).as("rev"))
      // total = a full-frame sum over the SAME single-partition window
      // pass that computes the running sum — one part-level window
      // operator instead of a second lineitem aggregation branch + a
      // scalar crossJoin (pr fed two consumers and was re-derived).
      // At 100× the part domain, Graft.abcClasses(approx = true) is the
      // route: same answer shape from an O(bins) window (see abcApproxOf).
      abcExactOf(pr, "l_partkey", "rev")
        .withColumnRenamed("n_items", "n_parts")
    },

    // ABC CLASS MIGRATION across the 1998 cutover — the drift view the
    // static classification can't give (an A-part decaying to C is the
    // assortment-planning signal; the static report shows both periods
    // healthy): classify every part's revenue in the pre and post
    // periods with the SAME 70/90 cumulative-share rule, full-outer
    // join the two class maps ('N' = not sold that period), and count
    // the transition matrix. Same exactness as parts_abc_classes
    // (DECIMAL revenue, double cum-share against identical window
    // frames, lowest-key tie-break). Plan: two period-filtered scans
    // each collapse to the part frame in one combiner shuffle; the
    // windows, join and matrix run on |parts| rows.
    Q("parts_abc_migration",
      """WITH pre AS (
        |  SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS rev
        |  FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-01-01'
        |  GROUP BY 1),
        |post AS (
        |  SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS rev
        |  FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |  GROUP BY 1),
        |ca AS (
        |  SELECT l_partkey,
        |    CASE WHEN CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS DOUBLE)
        |         / CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey
        |           ROWS BETWEEN UNBOUNDED PRECEDING
        |             AND UNBOUNDED FOLLOWING) AS DOUBLE) <= 0.7 THEN 'A'
        |         WHEN CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS DOUBLE)
        |         / CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey
        |           ROWS BETWEEN UNBOUNDED PRECEDING
        |             AND UNBOUNDED FOLLOWING) AS DOUBLE) <= 0.9 THEN 'B'
        |         ELSE 'C' END AS cls
        |  FROM pre),
        |cb AS (
        |  SELECT l_partkey,
        |    CASE WHEN CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS DOUBLE)
        |         / CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey
        |           ROWS BETWEEN UNBOUNDED PRECEDING
        |             AND UNBOUNDED FOLLOWING) AS DOUBLE) <= 0.7 THEN 'A'
        |         WHEN CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS DOUBLE)
        |         / CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey
        |           ROWS BETWEEN UNBOUNDED PRECEDING
        |             AND UNBOUNDED FOLLOWING) AS DOUBLE) <= 0.9 THEN 'B'
        |         ELSE 'C' END AS cls
        |  FROM post)
        |SELECT coalesce(ca.cls, 'N') AS class_pre,
        |  coalesce(cb.cls, 'N') AS class_post,
        |  CAST(count(*) AS BIGINT) AS n_parts
        |FROM ca FULL OUTER JOIN cb ON ca.l_partkey = cb.l_partkey
        |GROUP BY 1, 2 ORDER BY class_pre, class_post""".stripMargin) {
        (s, d) =>
      def clsOf(period: Column) = {
        val pr = Tables.lineitem(s, d).where(period)
          .groupBy(col("l_partkey"))
          .agg(sum(col("l_extendedprice").cast("decimal(12,2)")
            * (lit(1) - col("l_discount").cast("decimal(12,2)")))
            .as("rev"))
        val run = Window.orderBy(col("rev").desc, col("l_partkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val all = Window.orderBy(col("rev").desc, col("l_partkey"))
          .rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)
        val share = sum(col("rev")).over(run).cast("double") /
          sum(col("rev")).over(all).cast("double")
        pr.select(col("l_partkey"),
          when(share <= 0.7, "A").when(share <= 0.9, "B")
            .otherwise("C").as("cls"))
      }
      val cut = lit("1998-01-01").cast("timestamp")
      val ca = clsOf(col("l_shipdate") < cut)
        .select(col("l_partkey").as("ka"), col("cls").as("cls_a"))
      val cb = clsOf(col("l_shipdate") >= cut)
        .select(col("l_partkey").as("kb"), col("cls").as("cls_b"))
      ca.join(cb, col("ka") === col("kb"), "full_outer")
        .groupBy(coalesce(col("cls_a"), lit("N")).as("class_pre"),
          coalesce(col("cls_b"), lit("N")).as("class_post"))
        .agg(count(lit(1)).as("n_parts"))
        .orderBy("class_pre", "class_post")
    },

    // Double-BFS DIAMETER lower bound — the graph-health scalar next to
    // the degree profile (is the co-purchase world small or stringy?):
    // sweep 1 runs BFS from the deterministic min-node anchor and picks
    // the farthest node (the standard 2-sweep heuristic: a peripheral
    // node); sweep 2's eccentricity from there lower-bounds the true
    // diameter, and equals it on trees / most small-world graphs. Both
    // sweeps are the shared frontier-expansion kernel (per-round
    // frontier⋈edges + dedup + visited anti-join, O(E) total); the two
    // driver reads between jobs are BOUNDED (one anchor row, one argmax
    // row — the k-row-centroid collect precedent). The oracle replays
    // both sweeps as recursive-CTE BFS with the same 30-hop cap.
    Q("graph_diameter_2sweep",
      """WITH RECURSIVE
        |li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |p AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb
        |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |        AND a.l_partkey < b.l_partkey
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT pa AS src, pb AS dst FROM p
        |      UNION ALL SELECT pb, pa FROM p),
        |r1 AS (
        |  SELECT * FROM (SELECT (SELECT min(src) FROM e) AS node, 0 AS h)
        |  WHERE node IS NOT NULL
        |  UNION
        |  SELECT e.src, r1.h + 1 FROM e JOIN r1 ON e.dst = r1.node
        |  WHERE r1.h < 30),
        |b1 AS (SELECT node, CAST(min(h) AS BIGINT) AS hops
        |       FROM r1 GROUP BY node),
        |far AS (SELECT node, hops FROM b1
        |        ORDER BY hops DESC, node LIMIT 1),
        |r2 AS (
        |  SELECT node, 0 AS h FROM far
        |  UNION
        |  SELECT e.src, r2.h + 1 FROM e JOIN r2 ON e.dst = r2.node
        |  WHERE r2.h < 30),
        |b2 AS (SELECT node, CAST(min(h) AS BIGINT) AS hops
        |       FROM r2 GROUP BY node)
        |SELECT (SELECT min(src) FROM e) AS seed_node,
        |  far.node AS peripheral_node, far.hops AS ecc_sweep1,
        |  (SELECT CAST(max(hops) AS BIGINT) FROM b2) AS diameter_lb,
        |  (SELECT CAST(count(*) AS BIGINT) FROM b2) AS n_reached
        |FROM far""".stripMargin) { (s, d) =>
      val edges = thresholdedCopurchaseEdges(s, d, "u", "v")
      val srcRow = edges.agg(min(col("u"))).head
      val empty = srcRow.isNullAt(0)
      val seed = if (empty) 0L else srcRow.getLong(0)
      val b1 = shortestHopsOf(edges, seed, maxHops = 30)
      val farRow = b1.orderBy(col("hops").desc, col("node")).head
      val (farNode, ecc1) = (farRow.getLong(0), farRow.getLong(1))
      val b2 = shortestHopsOf(edges, farNode, maxHops = 30)
      val out = b2.agg(max(col("hops")).as("diameter_lb"),
          count(lit(1)).as("n_reached"))
        .select(lit(seed).as("seed_node"),
          lit(farNode).as("peripheral_node"),
          lit(ecc1).as("ecc_sweep1"), col("diameter_lb"),
          col("n_reached"))
      if (empty) out.where(lit(false)) else out
    },

    // Robust (median/MAD) hourly outlier detection per series — the
    // companion to ts_anomaly_zscore for series whose mean/σ are
    // themselves corrupted by the outliers being hunted (z-scores mask
    // a 10× spike by inflating σ; the median absolute deviation
    // doesn't). Hourly sums are DECIMAL-exact then cast to double ONCE;
    // median/MAD are EXACT interpolated percentiles — both engines
    // average the same two middle doubles, so every derived value is
    // bit-identical with no rounding. The 1.4826 σ-consistency constant
    // folds identically (one IEEE multiply chain, same literal order).
    Q("ts_outlier_mad",
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |    CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS v
        |  FROM events GROUP BY 1, 2),
        |med AS (SELECT event_type, median(v) AS m
        |        FROM hourly GROUP BY 1),
        |dev AS (SELECT hourly.event_type, h, v, m, abs(v - m) AS dv
        |        FROM hourly JOIN med ON hourly.event_type = med.event_type),
        |mad AS (SELECT event_type, median(dv) AS md
        |        FROM dev GROUP BY 1)
        |SELECT dev.event_type AS event_type, h, v, m AS med, md AS mad
        |FROM dev JOIN mad ON dev.event_type = mad.event_type
        |WHERE dv > 3 * 1.4826 * md
        |ORDER BY dev.event_type, h""".stripMargin) { (s, d) =>
      val hourly = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(sum(col("value").cast("decimal(12,2)"))
          .cast("double").as("v"))
      madOutliersOf(hourly, "event_type", "v", k = 3.0)
        .orderBy("event_type", "h")
    },

    // Triangle count + global clustering coefficient on the bounded
    // co-purchase subgraph (parts < 2000 — motif counting is verified on
    // a subgraph the oracle can also enumerate; the operator shape is
    // what scales). Edges are ORIENTED u < v so each triangle is
    // enumerated exactly once as a<b<c — the same orientation trick that
    // makes distributed triangle counting tractable (at power-law scale
    // you orient low-degree → high-degree so wedge fan-out is bounded by
    // arboricity, not max degree). Wedges from integer degrees; the
    // clustering coefficient is ONE double division of two exact BIGINTs
    // — bit-identical cross-engine, no rounding.
    // Connected components of the thresholded co-purchase graph — the
    // min-label components come from the SAME large-star/small-star
    // kernel the dedup collapse uses (O(log n) rounds, hub-safe: no
    // per-component single task), re-exposed as a first-class graph
    // query so the family reads degree → triangles → PageRank → CC.
    // The recursive-CTE oracle recomputes the transitive closure
    // independently, pinning the fixpoint the sketch-free way.
    Q("graph_connected_components",
      """WITH RECURSIVE
        |li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |p AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb
        |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |        AND a.l_partkey < b.l_partkey
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |edges AS (SELECT pa AS src, pb AS dst FROM p
        |          UNION ALL SELECT pb, pa FROM p),
        |reach AS (
        |  SELECT src AS part_id, src AS r FROM edges
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.part_id)
        |SELECT part_id, component_id FROM (
        |  SELECT part_id, min(r) AS component_id FROM reach GROUP BY part_id)
        |ORDER BY part_id""".stripMargin) { (s, d) =>
      Dedup.collapseClustersLogN(
        thresholdedCopurchaseEdges(s, d, "doc_a", "doc_b"))
        .select(col("doc_id").as("part_id"),
          col("cluster_id").as("component_id"))
        .orderBy("part_id")
    },

    // k-CORE decomposition (k=3) of the thresholded co-purchase graph —
    // the dense-community filter: iteratively peel nodes of degree < k
    // until the survivor set is stable, then report each survivor's
    // degree WITHIN the core. The standard pre-step before expensive
    // community/motif analytics (peeling drops the long low-degree tail
    // that dominates a power-law graph). Each peel round is one degree
    // aggregation + two broadcast semi-joins over the shrinking edge
    // frame (survivor lists are node-sized, ≪ edges; past broadcast
    // range, drop the hint and the planner shuffles the semi-join on
    // the node key instead); convergence is
    // monotone, round counts are checked on checkpointed in-memory
    // frames, and shuffles run at the session setting (the edge frame
    // shrinks every round, so AQE coalesces the tails). The oracle
    // replays the identical peel as a DuckDB recursive CTE run to a
    // fixed 50 (= GraphMaxRounds) iterations — past convergence every
    // iteration re-emits the stable core, so level 50 IS the fixpoint
    // WHENEVER the Spark side answered at all (kCoreOf throws past the
    // same shared bound, so a >50-round pathology fails loudly instead
    // of silently comparing against a non-fixpoint oracle level); an
    // early-emptied core leaves level 50 empty in both engines.
    Q("graph_kcore_decompose",
      """WITH RECURSIVE
        |li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |p AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb
        |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |        AND a.l_partkey < b.l_partkey
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |core AS (
        |  SELECT 0 AS it, pa AS u, pb AS v FROM p
        |  UNION ALL
        |  SELECT cur.it + 1, cur.u, cur.v
        |  FROM (SELECT * FROM core
        |        WHERE it = (SELECT max(it) FROM core) AND it < 50) cur
        |  JOIN (SELECT n FROM (
        |          SELECT u AS n FROM core
        |          WHERE it = (SELECT max(it) FROM core)
        |          UNION ALL
        |          SELECT v FROM core
        |          WHERE it = (SELECT max(it) FROM core))
        |        GROUP BY n HAVING count(*) >= 3) ku ON cur.u = ku.n
        |  JOIN (SELECT n FROM (
        |          SELECT u AS n FROM core
        |          WHERE it = (SELECT max(it) FROM core)
        |          UNION ALL
        |          SELECT v FROM core
        |          WHERE it = (SELECT max(it) FROM core))
        |        GROUP BY n HAVING count(*) >= 3) kv ON cur.v = kv.n)
        |SELECT n AS part_id, count(*) AS core_degree FROM (
        |  SELECT u AS n FROM core WHERE it = 50
        |  UNION ALL
        |  SELECT v FROM core WHERE it = 50)
        |GROUP BY n
        |ORDER BY part_id""".stripMargin) { (s, d) =>
      kCoreOf(thresholdedCopurchaseEdges(s, d, "u", "v"), k = 3)
        .select(col("node").as("part_id"), col("core_degree"))
        .orderBy("part_id")
    },

    // Single-source SHORTEST HOPS (BFS) from the smallest part in the
    // thresholded co-purchase graph — the classic reachability kernel
    // next to CC/k-core: how many co-purchase steps from the anchor
    // part to every reachable part. Frontier expansion: each round
    // joins the (broadcast-gated, node-sized) frontier into the
    // symmetric edge frame, dedups, anti-joins visited, checkpoints —
    // O(E) total across rounds, integer-only. The oracle replays BFS
    // as a recursive CTE: UNION-dedup on (node, h) pairs bounds the
    // recursion, min(h) per node IS the BFS distance, and both sides
    // share the 30-hop radius cap so a pathological diameter truncates
    // identically rather than diverging.
    Q("graph_shortest_hops",
      """WITH RECURSIVE
        |li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |p AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb
        |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |        AND a.l_partkey < b.l_partkey
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT pa AS src, pb AS dst FROM p
        |      UNION ALL SELECT pb, pa FROM p),
        |reach AS (
        |  SELECT * FROM (SELECT (SELECT min(src) FROM e) AS node, 0 AS h)
        |  WHERE node IS NOT NULL
        |  UNION
        |  SELECT e.src, reach.h + 1 FROM e JOIN reach ON e.dst = reach.node
        |  WHERE reach.h < 30)
        |SELECT node AS part_id, CAST(min(h) AS BIGINT) AS hops
        |FROM reach GROUP BY node
        |ORDER BY part_id""".stripMargin) { (s, d) =>
      val edges = thresholdedCopurchaseEdges(s, d, "u", "v")
      // u < v on every thresholded edge, so min(u) is the global min
      // node; one bounded scalar read picks the deterministic anchor.
      // Empty thresholded graph → EMPTY result (the oracle seed drops
      // its NULL anchor the same way), never a fabricated (0, 0) row.
      val srcRow = edges.agg(min(col("u"))).head
      val hops = shortestHopsOf(edges,
        if (srcRow.isNullAt(0)) 0L else srcRow.getLong(0), maxHops = 30)
      (if (srcRow.isNullAt(0)) hops.where(lit(false)) else hops)
        .select(col("node").as("part_id"), col("hops"))
        .orderBy("part_id")
    },

    // WEIGHTED shortest cost (10-hop-bounded Bellman-Ford) from the
    // same anchor part: edge cost = 1000000 div support, so strongly
    // co-purchased pairs are cheap hops — the weighted companion to
    // graph_shortest_hops' BFS. Exactly 10 synchronous relaxation
    // rounds (fixed count = deterministic evolution, same rule as
    // label propagation; full SSSP needs diameter rounds and the
    // co-purchase diameter is ≤ 10 at fixture scales), all-integer
    // arithmetic, the oracle replaying each round as relax ∪ carry →
    // min per node.
    Q("graph_shortest_cost",
      """WITH RECURSIVE
        |li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |p AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb,
        |        count(*) AS n
        |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |        AND a.l_partkey < b.l_partkey
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT pa AS src, pb AS dst, 1000000 // n AS cost FROM p
        |      UNION ALL SELECT pb, pa, 1000000 // n FROM p),
        |bf AS (
        |  SELECT * FROM (SELECT 0 AS it, (SELECT min(src) FROM e) AS node,
        |    CAST(0 AS BIGINT) AS d)
        |  WHERE node IS NOT NULL
        |  UNION ALL
        |  SELECT it, node, min(d) AS d FROM (
        |    SELECT cur.it + 1 AS it, e.dst AS node, cur.d + e.cost AS d
        |    FROM e JOIN (SELECT * FROM bf
        |                 WHERE it = (SELECT max(it) FROM bf)
        |                   AND it < 10) cur
        |      ON e.src = cur.node
        |    UNION ALL
        |    SELECT it + 1, node, d FROM bf
        |    WHERE it = (SELECT max(it) FROM bf) AND it < 10)
        |  GROUP BY it, node)
        |SELECT node AS part_id, d AS cost FROM bf WHERE it = 10
        |ORDER BY part_id""".stripMargin) { (s, d) =>
      val edges = thresholdedCopurchaseEdges(s, d, "u", "v", Some("n"))
        .withColumn("cost", expr("1000000L div n"))
      val srcRow = edges.agg(min(col("u"))).head
      // empty graph → empty result, matching the oracle's NULL-dropping
      // seed (see graph_shortest_hops)
      val cost = shortestCostOf(edges,
        if (srcRow.isNullAt(0)) 0L else srcRow.getLong(0), rounds = 10)
      (if (srcRow.isNullAt(0)) cost.where(lit(false)) else cost)
        .select(col("node").as("part_id"), col("cost"))
        .orderBy("part_id")
    },

    // LABEL-PROPAGATION communities (5 synchronous rounds, min-label
    // tie-break) over the thresholded co-purchase graph — the community
    // side of the graph family next to the structural kernels. Every
    // node starts as its own label; each round re-labels to the most
    // frequent neighbor label (ties → smallest), all nodes in lockstep,
    // so the fixed-round evolution is fully deterministic and the
    // oracle replays it exactly: per iteration, neighbor-label counts
    // GROUP BY (node, label), row_number over (count DESC, label)
    // picks the winner. Fixed iteration count is the standard LPA
    // stopping rule at scale (oscillation makes convergence detection
    // a trap) — O(iters · E) total, label frames node-sized.
    Q("graph_label_propagation",
      """WITH RECURSIVE
        |li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |p AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb
        |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |        AND a.l_partkey < b.l_partkey
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT pa AS src, pb AS dst FROM p
        |      UNION ALL SELECT pb, pa FROM p),
        |lp AS (
        |  SELECT 0 AS it, src AS node, src AS lbl FROM e GROUP BY src
        |  UNION ALL
        |  SELECT it, node, lbl FROM (
        |    SELECT nv.it + 1 AS it, e.src AS node, nv.lbl AS lbl,
        |      row_number() OVER (PARTITION BY e.src
        |        ORDER BY count(*) DESC, nv.lbl) AS rn
        |    FROM e JOIN (SELECT * FROM lp
        |                 WHERE it = (SELECT max(it) FROM lp) AND it < 5) nv
        |      ON e.dst = nv.node
        |    GROUP BY nv.it, e.src, nv.lbl)
        |  WHERE rn = 1)
        |SELECT node AS part_id, CAST(lbl AS BIGINT) AS community_id
        |FROM lp WHERE it = 5
        |ORDER BY part_id""".stripMargin) { (s, d) =>
      labelPropagationOf(thresholdedCopurchaseEdges(s, d, "u", "v"),
          iters = 5)
        .select(col("node").as("part_id"),
          col("community").as("community_id"))
        .orderBy("part_id")
    },

    // MODULARITY of the LPA partition — the quality score that makes
    // the community detection above auditable (Q ≈ 0: labels explain
    // nothing beyond degree chance; Q ≳ 0.3: real structure), and the
    // standard stopping/comparison metric for any partitioner. Newman:
    // Q = e_within/M − Σ_c (D_c/M)² over the directed both-way edge
    // list (M = 2·|undirected|, D_c = total degree in c — exactly the
    // textbook undirected form). All counts exact BIGINTs; Q is one
    // identically-associated double expression. Plan: the SAME pinned
    // thresholded edge frame the LPA run iterates on (no second basket
    // fan-out), labels broadcast onto the edges once per endpoint
    // (node-sized), one combiner aggregate each for the within-count
    // and the per-community degree mass.
    Q("graph_modularity",
      """WITH RECURSIVE
        |li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |p AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb
        |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |        AND a.l_partkey < b.l_partkey
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT pa AS src, pb AS dst FROM p
        |      UNION ALL SELECT pb, pa FROM p),
        |lp AS (
        |  SELECT 0 AS it, src AS node, src AS lbl FROM e GROUP BY src
        |  UNION ALL
        |  SELECT it, node, lbl FROM (
        |    SELECT nv.it + 1 AS it, e.src AS node, nv.lbl AS lbl,
        |      row_number() OVER (PARTITION BY e.src
        |        ORDER BY count(*) DESC, nv.lbl) AS rn
        |    FROM e JOIN (SELECT * FROM lp
        |                 WHERE it = (SELECT max(it) FROM lp) AND it < 5) nv
        |      ON e.dst = nv.node
        |    GROUP BY nv.it, e.src, nv.lbl)
        |  WHERE rn = 1),
        |lbl AS (SELECT node, lbl FROM lp WHERE it = 5),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS dg
        |        FROM e GROUP BY 1),
        |j AS (SELECT ls.lbl AS cs, ld.lbl AS cd
        |      FROM e JOIN lbl ls ON e.src = ls.node
        |        JOIN lbl ld ON e.dst = ld.node),
        |es AS (SELECT CAST(count(*) AS BIGINT) AS m,
        |         CAST(sum(CASE WHEN cs = cd THEN 1 ELSE 0 END) AS BIGINT)
        |           AS ew
        |       FROM j),
        |dc AS (SELECT l.lbl, CAST(sum(d.dg) AS BIGINT) AS dcs
        |       FROM deg d JOIN lbl l ON d.src = l.node GROUP BY 1),
        |sq AS (SELECT CAST(count(*) AS BIGINT) AS ncomm,
        |         CAST(sum(dcs * dcs) AS BIGINT) AS sd2 FROM dc)
        |SELECT m AS m_directed, ncomm AS n_communities,
        |  ew AS e_within,
        |  CAST(ew AS DOUBLE) / CAST(m AS DOUBLE)
        |    - CAST(sd2 AS DOUBLE)
        |      / (CAST(m AS DOUBLE) * CAST(m AS DOUBLE)) AS modularity
        |FROM es, sq""".stripMargin) { (s, d) =>
      val eu = thresholdedCopurchaseEdges(s, d, "u", "v")
      val e = symmetrize(eu, "u", "v", "src", "dst")
      val lab = labelPropagationOf(eu, iters = 5)
      val deg = e.groupBy(col("src")).agg(count(lit(1)).as("dg"))
      val j = e
        .join(broadcast(lab.select(col("node"),
          col("community").as("cs"))), col("src") === col("node"))
        .drop("node")
        .join(broadcast(lab.select(col("node"),
          col("community").as("cd"))), col("dst") === col("node"))
        .drop("node")
      val es = j.agg(count(lit(1)).as("m"),
        sum(when(col("cs") === col("cd"), 1L).otherwise(0L)).as("ew"))
      val dc = deg
        .join(broadcast(lab), col("src") === col("node"))
        .groupBy("community").agg(sum(col("dg")).as("dcs"))
      val sq = dc.agg(count(lit(1)).as("ncomm"),
        sum(col("dcs") * col("dcs")).as("sd2"))
      es.crossJoin(broadcast(sq))
        .select(col("m").as("m_directed"),
          col("ncomm").as("n_communities"), col("ew").as("e_within"),
          (col("ew").cast("double") / col("m").cast("double")
            - col("sd2").cast("double")
              / (col("m").cast("double") * col("m").cast("double")))
            .as("modularity"))
    },

    Q("graph_triangle_count",
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |           WHERE l_partkey < 2000),
        |e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |        AND a.l_partkey < b.l_partkey),
        |tri AS (SELECT count(*) AS t
        |        FROM e ab JOIN e bc ON ab.v = bc.u
        |          JOIN e ac ON ac.u = ab.u AND ac.v = bc.v),
        |deg AS (SELECT x, count(*) AS dg FROM
        |          (SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e)
        |        GROUP BY 1),
        |w AS (SELECT CAST(sum(dg * (dg - 1) // 2) AS BIGINT) AS wedges
        |      FROM deg)
        |SELECT t AS n_triangles, wedges AS n_wedges,
        |  CASE WHEN wedges = 0 THEN 0.0
        |       ELSE CAST(3 * t AS DOUBLE) / wedges END AS clustering
        |FROM tri, w""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d).where(col("l_partkey") < 2000)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val e = li.join(li.select(col("l_orderkey").as("ok2"),
            col("l_partkey").as("pk2")),
          col("l_orderkey") === col("ok2")
            && col("l_partkey") < col("pk2"))
        .select(col("l_partkey").as("u"), col("pk2").as("v"))
      triangleStatsOf(e)
    },

    // Per-node LOCAL clustering coefficients on the same bounded
    // co-purchase subgraph — the node-level profile the global census
    // above summarizes: which parts sit in densely co-purchased
    // neighborhoods (high lcc = cliquish basket context, low lcc = hub
    // bridging unrelated baskets). Each a<b<c triangle credits its
    // three corners via an in-task explode riding the SAME two
    // wedge-closing equi-joins; lcc = 2·T/(d·(d−1)) is one double
    // division of exact BIGINTs — bit-identical cross-engine.
    Q("graph_local_clustering",
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |           WHERE l_partkey < 2000),
        |e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |        AND a.l_partkey < b.l_partkey),
        |tn AS (SELECT unnest([ab.u, ab.v, bc.v]) AS node
        |       FROM e ab JOIN e bc ON ab.v = bc.u
        |         JOIN e ac ON ac.u = ab.u AND ac.v = bc.v),
        |tri AS (SELECT node, count(*) AS tri FROM tn GROUP BY 1),
        |deg AS (SELECT x AS node, count(*) AS dg FROM
        |          (SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e)
        |        GROUP BY 1)
        |SELECT deg.node AS part_id, dg AS degree,
        |  COALESCE(tri, 0) AS triangles,
        |  CAST(2 * COALESCE(tri, 0) AS DOUBLE) / (dg * (dg - 1)) AS lcc
        |FROM deg LEFT JOIN tri ON deg.node = tri.node
        |WHERE dg >= 2
        |ORDER BY part_id""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d).where(col("l_partkey") < 2000)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val e = li.join(li.select(col("l_orderkey").as("ok2"),
            col("l_partkey").as("pk2")),
          col("l_orderkey") === col("ok2")
            && col("l_partkey") < col("pk2"))
        .select(col("l_partkey").as("u"), col("pk2").as("v"))
      localClusteringOf(e)
        .select(col("node").as("part_id"), col("degree"),
          col("triangles"), col("lcc"))
        .orderBy("part_id")
    },

    // Common-neighbor LINK PREDICTION on the thresholded co-purchase
    // graph — the "recommended next edge" primitive: every NON-adjacent
    // part pair sharing a neighbor, scored by common-neighbor count and
    // Jaccard (see commonNeighborsOf for the wedge-enumeration shape
    // and the hot-middle cap that bounds hub fan-out). Jaccard is one
    // double division of exact BIGINTs; top-100 under a total order.
    Q("graph_common_neighbors",
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |p AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb
        |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |        AND a.l_partkey < b.l_partkey
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT pa AS u, pb AS v FROM p UNION ALL SELECT pb, pa FROM p),
        |deg AS (SELECT u, count(*) AS dg FROM e GROUP BY 1),
        |cn AS (SELECT a.u AS part_a, b.u AS part_b, count(*) AS common
        |       FROM e a JOIN e b ON a.v = b.v AND a.u < b.u
        |       JOIN deg dw ON dw.u = a.v AND dw.dg <= 1000
        |       GROUP BY 1, 2),
        |nonadj AS (SELECT part_a, part_b, common FROM cn
        |           WHERE NOT EXISTS (SELECT 1 FROM p
        |             WHERE p.pa = cn.part_a AND p.pb = cn.part_b))
        |SELECT part_a, part_b, common,
        |  CAST(common AS DOUBLE) / (da.dg + db.dg - common) AS jaccard
        |FROM nonadj JOIN deg da ON part_a = da.u
        |            JOIN deg db ON part_b = db.u
        |ORDER BY common DESC, part_a, part_b
        |LIMIT 100""".stripMargin) { (s, d) =>
      commonNeighborsOf(thresholdedCopurchaseEdges(s, d, "u", "v"),
        topN = 100)
    },

    // Resource-allocation link prediction (see resourceAllocationOf):
    // the degree-weighted upgrade of graph_common_neighbors — a shared
    // neighbor that co-occurs with everything contributes 1/deg(w) ≈ 0,
    // a rare one contributes strongly. Exact integer scoring (10¹² div
    // deg) keeps the oracle hash-comparable; the pair space is the same
    // thresholded-edge CN join, never all-pairs.
    Q("graph_resource_allocation",
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |p AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb
        |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |        AND a.l_partkey < b.l_partkey
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT pa AS u, pb AS v FROM p UNION ALL SELECT pb, pa FROM p),
        |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS dg FROM e GROUP BY 1),
        |cn AS (SELECT a.u AS part_a, b.u AS part_b, a.v AS w
        |       FROM e a JOIN e b ON a.v = b.v AND a.u < b.u),
        |sc AS (SELECT part_a, part_b,
        |         CAST(sum(1000000000000 // dg) AS BIGINT) AS ra_scaled
        |       FROM cn JOIN deg ON cn.w = deg.u AND deg.dg <= 1000
        |       GROUP BY 1, 2),
        |nonadj AS (SELECT part_a, part_b, ra_scaled FROM sc
        |           WHERE NOT EXISTS (SELECT 1 FROM p
        |             WHERE p.pa = sc.part_a AND p.pb = sc.part_b))
        |SELECT part_a, part_b, ra_scaled,
        |  CAST(ra_scaled AS DOUBLE) / 1000000000000.0 AS ra_score
        |FROM nonadj
        |ORDER BY ra_scaled DESC, part_a, part_b
        |LIMIT 100""".stripMargin) { (s, d) =>
      resourceAllocationOf(thresholdedCopurchaseEdges(s, d, "u", "v"),
        topN = 100)
    },

    // Adamic–Adar link prediction over the thresholded co-purchase
    // graph — resource-allocation's log-damped sibling (1/ln(deg)
    // instead of 1/deg: hubs discount gently, the classic index for
    // "which products will be bought together next"). The ln is
    // quantized once per DEGREE VALUE (floor(ln·10⁶) BIGINT), each term
    // is the exact integer 10¹² div L, the pair score an exact BIGINT
    // sum — so the oracle reproduces the damping bit-for-bit without a
    // double SUM anywhere. Same scale shape as graph_resource_allocation:
    // neighbor-keyed candidate join, broadcast degree table, adjacency
    // anti-join, top-100.
    Q("graph_adamic_adar",
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |p AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb
        |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |        AND a.l_partkey < b.l_partkey
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT pa AS u, pb AS v FROM p UNION ALL SELECT pb, pa FROM p),
        |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS dg FROM e GROUP BY 1),
        |cn AS (SELECT a.u AS part_a, b.u AS part_b, a.v AS w
        |       FROM e a JOIN e b ON a.v = b.v AND a.u < b.u),
        |sc AS (SELECT part_a, part_b,
        |         CAST(sum(1000000000000 //
        |           CAST(floor(ln(CAST(dg AS DOUBLE)) * 1000000) AS BIGINT))
        |           AS BIGINT) AS aa_scaled
        |       FROM cn JOIN deg ON cn.w = deg.u AND deg.dg <= 1000
        |       GROUP BY 1, 2),
        |nonadj AS (SELECT part_a, part_b, aa_scaled FROM sc
        |           WHERE NOT EXISTS (SELECT 1 FROM p
        |             WHERE p.pa = sc.part_a AND p.pb = sc.part_b))
        |SELECT part_a, part_b, aa_scaled,
        |  CAST(aa_scaled AS DOUBLE) / 1000000.0 AS aa_score
        |FROM nonadj
        |ORDER BY aa_scaled DESC, part_a, part_b
        |LIMIT 100""".stripMargin) { (s, d) =>
      adamicAdarOf(thresholdedCopurchaseEdges(s, d, "u", "v"), topN = 100)
    },

    // Neighbor-set Jaccard link prediction — completes the classic index
    // trio (resource-allocation 1/deg, Adamic–Adar 1/ln deg, Jaccard
    // set overlap) over the same thresholded co-purchase graph, so the
    // three rankings can be compared side by side. Integer end-to-end:
    // cn/du/dv exact BIGINTs, the ranking key is cn·10¹² div (du+dv−cn)
    // (exact — no double ever ordered), jaccard itself ONE double
    // division carried for readability.
    Q("graph_jaccard_similarity",
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |p AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb
        |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |        AND a.l_partkey < b.l_partkey
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT pa AS u, pb AS v FROM p UNION ALL SELECT pb, pa FROM p),
        |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS dg FROM e GROUP BY 1),
        |cn AS (SELECT a.u AS part_a, b.u AS part_b,
        |         CAST(count(*) AS BIGINT) AS cn
        |       FROM e a JOIN e b ON a.v = b.v AND a.u < b.u
        |       JOIN deg dw ON dw.u = a.v AND dw.dg <= 1000
        |       GROUP BY 1, 2),
        |sc AS (SELECT part_a, part_b, cn,
        |         da.dg + db.dg - cn AS un
        |       FROM cn JOIN deg da ON cn.part_a = da.u
        |               JOIN deg db ON cn.part_b = db.u),
        |nonadj AS (SELECT * FROM sc
        |           WHERE NOT EXISTS (SELECT 1 FROM p
        |             WHERE p.pa = sc.part_a AND p.pb = sc.part_b))
        |SELECT part_a, part_b, cn, un,
        |  cn * 1000000000000 // un AS jac_scaled,
        |  CAST(cn AS DOUBLE) / CAST(un AS DOUBLE) AS jaccard
        |FROM nonadj
        |ORDER BY jac_scaled DESC, part_a, part_b
        |LIMIT 100""".stripMargin) { (s, d) =>
      jaccardLinksOf(thresholdedCopurchaseEdges(s, d, "u", "v"), topN = 100)
    },

    // Degree distribution of the co-purchase graph (parts < 5000 block):
    // the graph-health profile a pipeline inspects before running
    // PageRank/CC at full scale (a heavy power-law tail means the
    // adjacency formulations need salting). Width-5 degree buckets;
    // everything integer, one combiner-friendly shuffle per aggregate.
    Q("graph_degree_distribution",
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |           WHERE l_partkey < 5000),
        |e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |        AND a.l_partkey < b.l_partkey),
        |deg AS (SELECT x, count(*) AS dg FROM
        |          (SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e)
        |        GROUP BY 1)
        |SELECT dg // 5 AS bucket, CAST(count(*) AS BIGINT) AS n_nodes,
        |  min(dg) AS min_deg, max(dg) AS max_deg
        |FROM deg GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d).where(col("l_partkey") < 5000)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val e = li.join(li.select(col("l_orderkey").as("ok2"),
            col("l_partkey").as("pk2")),
          col("l_orderkey") === col("ok2")
            && col("l_partkey") < col("pk2"))
        .select(col("l_partkey").as("u"), col("pk2").as("v"))
        .distinct()
      e.select(col("u").as("x")).unionAll(e.select(col("v").as("x")))
        .groupBy(col("x")).agg(count(lit(1)).as("dg"))
        .groupBy(expr("dg div 5").as("bucket"))
        .agg(count(lit(1)).as("n_nodes"),
          min(col("dg")).as("min_deg"), max(col("dg")).as("max_deg"))
        .orderBy("bucket")
    },

    // Degree ASSORTATIVITY of the co-purchase graph — Newman's r: the
    // Pearson correlation of endpoint degrees across edges ("do popular
    // parts co-sell with popular parts, or do hubs bridge the tail?"),
    // the one-number mixing diagnostic that decides whether hub-salting
    // (graph_pagerank_salted's regime) is even needed: disassortative
    // graphs concentrate shuffle mass on hub rows, assortative ones
    // spread it. Both edge directions are kept so the endpoint-degree
    // moments are symmetric and r is the textbook undirected form. All
    // four moments (M, Σj, Σjk, Σj²) are EXACT BIGINTs — degrees are
    // integers and every product fits well under 2⁶³ at any plausible
    // co-purchase density — and r is one identically-associated double
    // expression (the >2⁶³ cross products M·Σjk happen in DOUBLE on
    // both engines). Plan: the same in-task basket fan-out as the
    // PageRank family (no pair self-join), pair-level codegen DISTINCT,
    // degree table = |parts| rows broadcast onto the edge list twice,
    // ONE combiner aggregate — no shuffle ever carries more than the
    // deduped edge list.
    Q("graph_assortativity",
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |        AND a.l_partkey <> b.l_partkey),
        |deg AS (SELECT u AS x, CAST(count(*) AS BIGINT) AS dg
        |        FROM e GROUP BY 1),
        |s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS m,
        |    CAST(sum(du.dg) AS BIGINT) AS sj,
        |    CAST(sum(du.dg * dv.dg) AS BIGINT) AS sjk,
        |    CAST(sum(du.dg * du.dg) AS BIGINT) AS sjj
        |  FROM e JOIN deg du ON e.u = du.x JOIN deg dv ON e.v = dv.x)
        |SELECT m AS m_directed, sj AS sum_deg,
        |  (CAST(m AS DOUBLE) * CAST(sjk AS DOUBLE)
        |     - CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE))
        |  / (CAST(m AS DOUBLE) * CAST(sjj AS DOUBLE)
        |     - CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE)) AS assortativity
        |FROM s""".stripMargin) { (s, d) =>
      val e = copurchaseEdgeFanout(s, d)
        .select(col("u"), col("v")).distinct()
      val deg = e.groupBy(col("u").as("x"))
        .agg(count(lit(1)).as("dg"))
      val st = e
        .join(broadcast(deg.select(col("x"), col("dg").as("du"))),
          col("u") === col("x")).drop("x")
        .join(broadcast(deg.select(col("x"), col("dg").as("dv"))),
          col("v") === col("x")).drop("x")
        .agg(count(lit(1)).as("m"), sum(col("du")).as("sj"),
          sum(col("du") * col("dv")).as("sjk"),
          sum(col("du") * col("du")).as("sjj"))
      def dd(c: Column) = c.cast("double")
      st.select(col("m").as("m_directed"), col("sj").as("sum_deg"),
        ((dd(col("m")) * dd(col("sjk")) - dd(col("sj")) * dd(col("sj")))
          / (dd(col("m")) * dd(col("sjj")) - dd(col("sj")) * dd(col("sj"))))
          .as("assortativity"))
    },

    // RICH-CLUB coefficient curve φ(k) — assortativity's distributional
    // companion: for each degree threshold k, the edge density among
    // nodes of degree > k ("do the hubs form their own clique, or do
    // they only touch the tail?"); φ(k) = E_club/(N_k·(N_k−1)) with the
    // directed both-direction edge count (= 2·E_undirected, exactly the
    // textbook 2E/(N(N−1))). Four fixed thresholds give the curve
    // shape; everything is exact BIGINT counts until ONE double
    // division per row. Plan: the SAME deduped edge frame and broadcast
    // degree table as graph_assortativity (both degree joins broadcast),
    // the 4-row threshold frame cross-joins IN-TASK before one combiner
    // aggregate — the edge list is scanned once for all four k, and the
    // club sizes come from the |parts|-sized degree table, never the
    // edges.
    Q("graph_rich_club",
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |        AND a.l_partkey <> b.l_partkey),
        |deg AS (SELECT u AS x, CAST(count(*) AS BIGINT) AS dg
        |        FROM e GROUP BY 1),
        |ks(k) AS (SELECT * FROM (VALUES (5), (10), (20), (40)) AS t(k)),
        |club AS (SELECT k, CAST(count(dg) AS BIGINT) AS nk
        |         FROM ks LEFT JOIN deg ON dg > k GROUP BY 1),
        |ec AS (SELECT ks.k, CAST(count(*) AS BIGINT) AS ek
        |       FROM e JOIN deg du ON e.u = du.x
        |         JOIN deg dv ON e.v = dv.x
        |       CROSS JOIN ks
        |       WHERE du.dg > ks.k AND dv.dg > ks.k
        |       GROUP BY 1)
        |SELECT club.k AS k, nk AS n_club,
        |  coalesce(ek, 0) AS e_club_directed,
        |  CASE WHEN nk >= 2 THEN CAST(coalesce(ek, 0) AS DOUBLE)
        |    / (CAST(nk AS DOUBLE) * CAST(nk - 1 AS DOUBLE))
        |  ELSE 0.0 END AS phi
        |FROM club LEFT JOIN ec ON club.k = ec.k
        |ORDER BY k""".stripMargin) { (s, d) =>
      val e = copurchaseEdgeFanout(s, d)
        .select(col("u"), col("v")).distinct()
      val deg = e.groupBy(col("u").as("x"))
        .agg(count(lit(1)).as("dg"))
      val ks = s.range(1).select(explode(array(
        lit(5), lit(10), lit(20), lit(40))).as("k"))
      val club = ks.join(broadcast(deg), col("dg") > col("k"), "left")
        .groupBy("k").agg(count(col("dg")).as("nk"))
      val ec = e
        .join(broadcast(deg.select(col("x"), col("dg").as("du"))),
          col("u") === col("x")).drop("x")
        .join(broadcast(deg.select(col("x"), col("dg").as("dv"))),
          col("v") === col("x")).drop("x")
        .crossJoin(broadcast(ks))
        .where(col("du") > col("k") && col("dv") > col("k"))
        .groupBy("k").agg(count(lit(1)).as("ek"))
      club.join(broadcast(ec), Seq("k"), "left")
        .select(col("k"), col("nk").as("n_club"),
          coalesce(col("ek"), lit(0L)).as("e_club_directed"),
          when(col("nk") >= 2, coalesce(col("ek"), lit(0L)).cast("double")
            / (col("nk").cast("double") * (col("nk") - 1).cast("double")))
            .otherwise(lit(0.0)).as("phi"))
        .orderBy("k")
    },

    // Pareto / Lorenz concentration of event traffic: users ranked by
    // activity, cut into deciles, cumulative share of all events per
    // decile — "what % of users generate 80% of the load", the capacity-
    // planning and abuse-screening view of the fact table. The ranking
    // window runs over the USER-LEVEL rollup (corpus-sublinear — the
    // fact scan collapses first); the decile cut is explicit integer
    // arithmetic ((rk−1)·10 div n_users), not ntile, so both engines
    // bucket identically. Counts exact BIGINT end-to-end; the share is
    // one double division. At 100 TB the user rollup still fits a
    // range-partitioned sort, and the decile boundaries can come from
    // approx percentiles of cnt instead of a global row_number.
    Q("events_power_users_pareto",
      """WITH uc AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
        |             CAST(sum(cnt) AS BIGINT) AS tot FROM uc),
        |r AS (SELECT cnt,
        |        CAST(row_number() OVER (ORDER BY cnt DESC, user_id)
        |             AS BIGINT) AS rk
        |      FROM uc),
        |dcl AS (SELECT ((rk - 1) * 10) // n_users + 1 AS decile, cnt, tot
        |        FROM r CROSS JOIN t),
        |g AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_users,
        |        CAST(sum(cnt) AS BIGINT) AS n_events, max(tot) AS tot
        |      FROM dcl GROUP BY 1)
        |SELECT decile, n_users, n_events,
        |  CAST(sum(n_events) OVER (ORDER BY decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cum_events,
        |  CAST(sum(n_events) OVER (ORDER BY decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS DOUBLE) / CAST(tot AS DOUBLE) AS cum_share
        |FROM g ORDER BY decile""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
      val uc = Tables.events(s, d).groupBy("user_id")
        .agg(count(lit(1)).as("cnt"))
      val tot = uc.agg(count(lit(1)).as("n_users"), sum("cnt").as("tot"))
      val cum = w.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      uc.withColumn("rk", row_number().over(
          w.orderBy(col("cnt").desc, col("user_id"))).cast("long"))
        .crossJoin(broadcast(tot))
        .select(expr("((rk - 1) * 10) div n_users + 1").as("decile"),
          col("cnt"), col("tot"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_users"), sum("cnt").as("n_events"),
          max("tot").as("tot"))
        .select(col("decile"), col("n_users"), col("n_events"),
          sum(col("n_events")).over(cum).as("cum_events"),
          (sum(col("n_events")).over(cum).cast("double")
            / col("tot").cast("double")).as("cum_share"))
        .orderBy("decile")
    },

    // Pairwise AUDIENCE OVERLAP between event types: |users(a)∩users(b)|
    // and Jaccard for every type pair — the segment-overlap report behind
    // campaign targeting and behavioral-cohort design. Basket
    // formulation (the co-purchase trick applied to (user → type-set)):
    // one user-keyed combiner shuffle builds the per-user distinct type
    // set, pairs explode IN TASK (bounded by the tiny type domain, never
    // by user count), and the per-pair count is map-side combinable —
    // no user×user or row×row self-join anywhere. Set sizes broadcast
    // back; Jaccard is one double division of exact BIGINTs.
    Q("events_audience_overlap",
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |s AS (SELECT event_type, count(*) AS n FROM ut GROUP BY event_type),
        |pairs AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |         count(*) AS n_both
        |  FROM ut a JOIN ut b ON a.user_id = b.user_id
        |    AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT p.type_a, p.type_b, p.n_both, sa.n AS n_a, sb.n AS n_b,
        |  CAST(p.n_both AS DOUBLE) / (sa.n + sb.n - p.n_both) AS jaccard
        |FROM pairs p JOIN s sa ON p.type_a = sa.event_type
        |             JOIN s sb ON p.type_b = sb.event_type
        |ORDER BY type_a, type_b""".stripMargin) { (s, d) =>
      setOverlapOf(Tables.events(s, d), "user_id", "event_type")
        .select(col("item_a").as("type_a"), col("item_b").as("type_b"),
          col("n_both"), col("n_a"), col("n_b"), col("jaccard"))
        .orderBy("type_a", "type_b")
    },

    // First-order Markov transition matrix over per-user event sequences
    // (arrival order = event_id — monotonic and engine-identical, never
    // the nanosecond ts both engines truncate differently). Linear: ONE
    // user-keyed shuffle for the lead() window, then two tiny aggregates;
    // the row-probability is a single division of two exact BIGINTs.
    // This is the session-modeling primitive (next-action prediction,
    // anomalous-flow detection) run ahead of any sequence-model training.
    Q("events_markov_transitions",
      """WITH seq AS (
        |  SELECT user_id, event_type AS ft,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY event_id)
        |      AS tt
        |  FROM events),
        |c AS (SELECT ft, tt, count(*) AS n FROM seq
        |      WHERE tt IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT ft, CAST(sum(n) AS BIGINT) AS tn FROM c GROUP BY 1)
        |SELECT c.ft AS from_type, c.tt AS to_type, c.n AS n_trans,
        |  CAST(c.n AS DOUBLE) / tot.tn AS p
        |FROM c JOIN tot ON c.ft = tot.ft
        |ORDER BY from_type, to_type""".stripMargin) { (s, d) =>
      markovTransitionsOf(Tables.events(s, d), "user_id", "event_type",
          "event_id")
        .orderBy("from_type", "to_type")
    },

    // Conditional next-event ENTROPY per state + the frequency-weighted
    // chain entropy rate — how PREDICTABLE is each point of the journey
    // (H(next|cur) ≈ 0 means a deterministic funnel step; ln(#types)
    // means anything can follow), the one-number sequencing diagnostic
    // next to the raw events_markov_transitions matrix. Micro-log
    // discipline: each transition's p(d|s) = n_sd/n_s is an EXACT
    // integer rational, so the per-state sum Σ n_sd·floor(1e6·ln(p)) is
    // an exact BIGINT and H = −sum/n_s/1e6 is ONE double cascade; the
    // weighted rate collapses algebraically to −Σ_s sum_s / Σ_s n_s (two
    // exact BIGINT totals, one division) — no per-state double Σ, no
    // accumulation-order hazard. Plan: one user-keyed lead window, one
    // (src,dst) combiner aggregate, then everything runs on the ≤k²
    // transition-cell frame.
    Q("events_markov_entropy",
      """WITH seq AS (
        |  SELECT user_id, event_type AS ft,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY event_id)
        |      AS tt
        |  FROM events),
        |c AS (SELECT ft, tt, CAST(count(*) AS BIGINT) AS n FROM seq
        |      WHERE tt IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT ft, CAST(sum(n) AS BIGINT) AS tn FROM c GROUP BY 1),
        |t AS (
        |  SELECT c.ft, tn,
        |    CAST(sum(n * CAST(floor(ln(CAST(n AS DOUBLE)
        |      / CAST(tn AS DOUBLE)) * 1000000) AS BIGINT)) AS BIGINT)
        |      AS hsum
        |  FROM c JOIN tot ON c.ft = tot.ft GROUP BY c.ft, tn),
        |g AS (SELECT CAST(sum(tn) AS BIGINT) AS gt,
        |             CAST(sum(hsum) AS BIGINT) AS gh FROM t)
        |SELECT ft AS from_type, tn AS n_trans,
        |  -CAST(hsum AS DOUBLE) / CAST(tn AS DOUBLE) / 1000000.0
        |    AS h_nats,
        |  -CAST(gh AS DOUBLE) / CAST(gt AS DOUBLE) / 1000000.0
        |    AS h_rate_nats
        |FROM t, g ORDER BY from_type""".stripMargin) { (s, d) =>
      val seq0 = Tables.events(s, d)
        .select(col("user_id"), col("event_type").as("ft"),
          lead(col("event_type"), 1).over(
            Window.partitionBy("user_id").orderBy("event_id")).as("tt"))
      val c = seq0.where(col("tt").isNotNull)
        .groupBy("ft", "tt").agg(count(lit(1)).as("n"))
      val tot = c.groupBy("ft").agg(sum(col("n")).as("tn"))
      val t = c.join(broadcast(tot), "ft")
        .groupBy("ft", "tn")
        .agg(sum(col("n") * floor(log(col("n").cast("double")
          / col("tn").cast("double")) * 1000000).cast("long")).as("hsum"))
      val g = t.agg(sum(col("tn")).as("gt"), sum(col("hsum")).as("gh"))
      t.crossJoin(broadcast(g))
        .select(col("ft").as("from_type"), col("tn").as("n_trans"),
          (negate(col("hsum").cast("double")) / col("tn").cast("double")
            / 1000000.0).as("h_nats"),
          (negate(col("gh").cast("double")) / col("gt").cast("double")
            / 1000000.0).as("h_rate_nats"))
        .orderBy("from_type")
    },

    // 2-D Pareto skyline (minimize price, maximize size): the classic
    // sort + running-max formulation, NOT the quadratic dominance
    // self-join. The global window is safe by construction: it runs over
    // the per-price best-size frame, whose cardinality is bounded by the
    // PRICE DOMAIN (TPC-H prices are cents in a fixed range), not the
    // row count — the groupBy reduction in front is what keeps the
    // global sort O(domain) at 100 TB. Parts tying the frontier (price,
    // size) pair are all non-dominated and all emitted.
    Q("skyline_price_size",
      """WITH best AS (SELECT p_retailprice AS price, max(p_size) AS sz
        |              FROM part GROUP BY 1),
        |r AS (SELECT price, sz, max(sz) OVER (ORDER BY price
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m
        |      FROM best),
        |f AS (SELECT price, sz FROM r WHERE m IS NULL OR sz > m)
        |SELECT p.p_partkey, p.p_retailprice, p.p_size
        |FROM part p JOIN f ON p.p_retailprice = f.price
        |  AND p.p_size = f.sz
        |ORDER BY p.p_retailprice, p.p_partkey""".stripMargin) { (s, d) =>
      skylineOf(Tables.part(s, d), "p_retailprice", "p_size")
        .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
        .orderBy(col("p_retailprice"), col("p_partkey"))
    },

    // MARKOV REMOVAL-EFFECT attribution — the data-driven fourth model
    // completing the heuristic trio (last-touch / linear / U-shaped):
    // build the first-order journey chain start→{touches}→purchase|drop
    // (each user's events ordered by (ts, event_id), truncated at the
    // FIRST purchase — purchase is absorbing), then a channel's credit
    // is its REMOVAL EFFECT: how much the chain's conversion
    // probability drops when every transition INTO that channel is
    // redirected to drop. Absorption probabilities come from K=8
    // fixed-point iterations in EXACT SCALED-INTEGER arithmetic
    // (p(purchase) ≡ 1e12; p_k(s) = ⌊Σ_t c(s,t)·p_{k−1}(t) / n(s)⌋ —
    // integer sums are order-independent, so both engines produce
    // bit-identical BIGINTs; K=8 bounds the walk the same way
    // graph_ppr_seeded bounds its rounds). Plan: the data-sized work is
    // ONE user-keyed window pass + a (src,dst) combiner aggregate; the
    // chain itself is ≤6×7 rows of bounded metadata (the k-row-centroid
    // collect precedent), so the iteration costs nothing at any scale —
    // at 100 TB the transition-count aggregate is the entire job.
    Q("attribution_markov_removal", markovRemovalOracle) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(col("tus"), col("event_id"))
      val pos = Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("tus"), col("event_id"))
        .withColumn("rn", row_number().over(w))
      val fp = pos.groupBy("user_id")
        .agg(min(when(col("event_type") === "purchase", col("rn")))
          .as("fpp"))
      val j = pos.join(fp, Seq("user_id"))
        .where(col("fpp").isNull || col("rn") <= col("fpp"))
      val wj = Window.partitionBy("user_id").orderBy("rn")
      val steps = j
        .withColumn("dst",
          coalesce(lead(col("event_type"), 1).over(wj), lit("drop")))
        .where(col("event_type") =!= "purchase")
        .select(col("event_type").as("src"), col("dst"))
      val starts = j.where(col("rn") === 1)
        .select(lit("start").as("src"), col("event_type").as("dst"))
      // ≤ 6×7 rows of bounded chain metadata (k-row-centroid precedent):
      // the iteration runs driver-side in exact BigInt arithmetic.
      val trans: Map[(String, String), Long] = steps.unionAll(starts)
        .groupBy("src", "dst").agg(count(lit(1)).as("c"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      val srcs = trans.keys.map(_._1).toSeq.distinct.sorted
      val nOut: Map[String, BigInt] = trans.toSeq
        .groupBy(_._1._1).map { case (k, v) =>
          k -> BigInt(v.map(_._2).sum) }
      val S = BigInt(1000000000000L)
      def absorb(removed: Option[String]): BigInt = {
        var p: Map[String, BigInt] = Map("purchase" -> S)
        for (_ <- 1 to 8) {
          p = srcs.map { src =>
            val num = trans.iterator.collect {
              case ((`src`, dst), cnt) if !removed.contains(dst) =>
                BigInt(cnt) * p.getOrElse(dst, BigInt(0))
            }.sum
            src -> num / nOut(src)
          }.toMap + ("purchase" -> S)
        }
        p.getOrElse("start", BigInt(0))
      }
      val base = absorb(None)
      val effs = MarkovChannels.map(ch => ch -> (base - absorb(Some(ch))))
      val tot = effs.map(_._2).sum
      import s.implicits._
      effs.map { case (ch, de) =>
        (ch, (base - de).toLong, base.toLong,
          if (base > 0) de.toDouble / base.toDouble else 0.0,
          if (tot > 0) de.toDouble / tot.toDouble else 0.0)
      }.toDF("channel", "p_removed_scaled", "p_base_scaled",
        "removal_effect", "credit_share")
        .orderBy("channel")
    },

    // Growth-accounting lifecycle states — the standard DAU decomposition
    // every growth team runs: each active (user, day) is NEW (first day
    // ever), RETAINED (also active the previous day), or RESURRECTED
    // (returning after a gap), and each day's CHURNED count is yesterday's
    // actives that did not return (active(d−1) − retained(d)). Exact
    // integer arithmetic end to end. Plan: one DISTINCT (user, day)
    // combiner shuffle, one user-keyed window for lag(day), then the
    // per-day classification collapses to |days| rows before the tiny
    // ordered lag — at 100 TB the distinct is the only data-sized
    // exchange, and it partial-aggregates map-side.
    Q("events_lifecycle_states",
      """WITH a AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |l AS (SELECT user_id, day,
        |        lag(day) OVER (PARTITION BY user_id ORDER BY day) AS pd
        |      FROM a),
        |cls AS (SELECT day,
        |    CAST(sum(CASE WHEN pd IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_new,
        |    CAST(sum(CASE WHEN date_diff('day', pd, day) = 1
        |             THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
        |    CAST(sum(CASE WHEN date_diff('day', pd, day) > 1
        |             THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected,
        |    CAST(count(*) AS BIGINT) AS n_active
        |  FROM l GROUP BY day)
        |SELECT strftime(day, '%Y-%m-%d') AS day, n_new, n_retained,
        |  n_resurrected, n_active,
        |  coalesce(lag(n_active) OVER (ORDER BY day), 0) - n_retained
        |    AS n_churned
        |FROM cls ORDER BY day""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val a = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
      val l = a.withColumn("pd",
        lag(col("day"), 1).over(
          Window.partitionBy("user_id").orderBy("day")))
      val cls = l.groupBy("day")
        .agg(
          sum(when(col("pd").isNull, 1L).otherwise(0L)).as("n_new"),
          sum(when(datediff(col("day"), col("pd")) === 1, 1L)
            .otherwise(0L)).as("n_retained"),
          sum(when(datediff(col("day"), col("pd")) > 1, 1L)
            .otherwise(0L)).as("n_resurrected"),
          count(lit(1)).as("n_active"))
      cls
        .withColumn("n_churned",
          coalesce(lag(col("n_active"), 1).over(Window.orderBy("day")),
            lit(0L)) - col("n_retained"))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("n_new"), col("n_retained"), col("n_resurrected"),
          col("n_active"), col("n_churned"))
        .orderBy("day")
    },

    // Croston's method for INTERMITTENT demand — the forecasting family
    // member Holt/SES mishandle: per-part weekly demand is mostly zero
    // weeks, and smoothing the zeros drives any EMA toward 0. Croston
    // smooths the NONZERO demand sizes (z) and the inter-demand
    // intervals (p) as two separate α=0.25 EMAs over demand POINTS
    // only; the demand-rate forecast is z/p per week. α is an exact
    // binary fraction and both engines fold the same per-part sorted
    // demand sequence in the same order, so every double is
    // bit-identical (the ts_ema_hourly discipline); weekly demand
    // itself sums as DECIMAL before ONE cast. Plan: one (part, week)
    // combiner aggregate, then one part-keyed fold over each part's
    // bounded demand-point array — series count scales out, series
    // length stays bounded by the calendar, the ts family's shape.
    Q("ts_croston_intermittent",
      """WITH RECURSIVE wk AS (
        |  SELECT l_partkey,
        |    CAST(date_diff('day', DATE '1970-01-05',
        |      CAST(l_shipdate AS DATE)) // 7 AS BIGINT) AS wk,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS q
        |  FROM lineitem GROUP BY 1, 2),
        |idx AS (
        |  SELECT l_partkey, wk, q,
        |    row_number() OVER (PARTITION BY l_partkey ORDER BY wk) AS i,
        |    count(*) OVER (PARTITION BY l_partkey) AS np
        |  FROM wk),
        |cro AS (
        |  SELECT l_partkey, wk, q, i, np, q AS z, CAST(NULL AS DOUBLE) AS p
        |  FROM idx WHERE i = 1
        |  UNION ALL
        |  SELECT x.l_partkey, x.wk, x.q, x.i, x.np,
        |    0.25 * x.q + 0.75 * c.z,
        |    CASE WHEN c.p IS NULL THEN CAST(x.wk - c.wk AS DOUBLE)
        |         ELSE 0.25 * CAST(x.wk - c.wk AS DOUBLE) + 0.75 * c.p END
        |  FROM idx x JOIN cro c
        |    ON x.l_partkey = c.l_partkey AND x.i = c.i + 1)
        |SELECT l_partkey, CAST(np AS BIGINT) AS n_demands, wk AS last_wk,
        |  z AS z_final, p AS p_final, z / p AS forecast_per_week
        |FROM cro WHERE i = np AND np >= 2
        |ORDER BY l_partkey""".stripMargin) { (s, d) =>
      val wkly = Tables.lineitem(s, d)
        .groupBy(col("l_partkey"),
          expr("CAST(datediff(CAST(l_shipdate AS DATE), " +
            "DATE '1970-01-05') div 7 AS BIGINT)").as("wk"))
        .agg(sum(col("l_quantity").cast("decimal(12,2)"))
          .cast("double").as("q"))
      wkly.groupBy("l_partkey")
        .agg(sort_array(collect_list(struct(col("wk"), col("q"))))
          .as("sarr"),
          count(lit(1)).as("n_demands"))
        .where(col("n_demands") >= 2)
        .select(col("l_partkey"), col("n_demands"),
          expr("element_at(sarr, -1).wk").as("last_wk"),
          expr("""aggregate(slice(sarr, 2, size(sarr) - 1),
            |  named_struct(
            |    'z', element_at(sarr, 1).q,
            |    'p', CAST(NULL AS DOUBLE),
            |    'w', element_at(sarr, 1).wk),
            |  (acc, x) -> named_struct(
            |    'z', 0.25D * x.q + 0.75D * acc.z,
            |    'p', CASE WHEN acc.p IS NULL
            |           THEN CAST(x.wk - acc.w AS DOUBLE)
            |           ELSE 0.25D * CAST(x.wk - acc.w AS DOUBLE)
            |                + 0.75D * acc.p END,
            |    'w', x.wk))""".stripMargin).as("cro"))
        .select(col("l_partkey"), col("n_demands"), col("last_wk"),
          col("cro.z").as("z_final"), col("cro.p").as("p_final"),
          (col("cro.z") / col("cro.p")).as("forecast_per_week"))
        .orderBy("l_partkey")
    },

    // HITS hubs/authorities over the customer→part purchase bipartite
    // graph (Kleinberg's mutual reinforcement, the bipartite cousin of
    // graph_pagerank): a part is AUTHORITATIVE when good hubs buy it, a
    // customer is a good HUB when they buy authoritative parts. Three
    // half-steps (a¹ ← h⁰, h¹ ← a¹, a² ← h¹) in the pagerank integer
    // discipline — scores scaled to 1e9 and L1-renormalized each
    // half-step by a truncating integer level (score div greatest(
    // Σscore div 1e9, 1)): integer sums are order-independent, so both
    // engines produce bit-identical BIGINTs (int64 headroom to ~1e9
    // edges; past that the sums swap to DECIMAL like the other graph
    // kernels). Plan: each half-step is ONE node-keyed equi-join +
    // combiner aggregate over the persisted edge frame; the
    // renormalization is a window over the node-sized score frame,
    // never the edges. Top-20 each side under a total order.
    Q("graph_hits_bipartite",
      """WITH e AS (
        |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |a1 AS (SELECT p, sum(CAST(1000000000 AS BIGINT)) AS a
        |       FROM e GROUP BY p),
        |a1n AS (SELECT p,
        |          a // greatest(sum(a) OVER () // 1000000000, 1) AS a
        |        FROM a1),
        |h1 AS (SELECT e.c, sum(a1n.a) AS h
        |       FROM e JOIN a1n ON e.p = a1n.p GROUP BY e.c),
        |h1n AS (SELECT c,
        |          h // greatest(sum(h) OVER () // 1000000000, 1) AS h
        |        FROM h1),
        |a2 AS (SELECT e.p, sum(h1n.h) AS a
        |       FROM e JOIN h1n ON e.c = h1n.c GROUP BY e.p),
        |a2n AS (SELECT p,
        |          a // greatest(sum(a) OVER () // 1000000000, 1) AS a
        |        FROM a2)
        |SELECT kind, id, score FROM (
        |  SELECT 'authority' AS kind, p AS id, CAST(a AS BIGINT) AS score,
        |    row_number() OVER (ORDER BY a DESC, p) AS rk FROM a2n
        |  UNION ALL
        |  SELECT 'hub' AS kind, c AS id, CAST(h AS BIGINT) AS score,
        |    row_number() OVER (ORDER BY h DESC, c) AS rk FROM h1n) u
        |WHERE rk <= 20
        |ORDER BY kind, score DESC, id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val e = Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
        .distinct().persist()
      def renorm(scores: org.apache.spark.sql.DataFrame, v: String) =
        scores.withColumn(v,
          expr(s"$v div greatest((sum($v) OVER ()) div 1000000000, 1)"))
      val a1n = renorm(e.groupBy("p")
        .agg(sum(lit(1000000000L)).as("a")), "a")
      val h1n = renorm(e.join(a1n, Seq("p"))
        .groupBy("c").agg(sum(col("a")).as("h")), "h")
      val a2n = renorm(e.join(h1n, Seq("c"))
        .groupBy("p").agg(sum(col("h")).as("a")), "a")
      // unpartitioned rank over the node domain: bounded here by the
      // top-20 LIMIT downstream — at 100 TB replace with orderBy+limit
      // BEFORE the rank (TakeOrdered heap) exactly like rag_hybrid_rrf,
      // whose 50-row-frame comment documents the identical-ranks proof
      val auth = a2n.select(lit("authority").as("kind"),
          col("p").as("id"), col("a").as("score"))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("score").desc, col("id"))))
      val hubs = h1n.select(lit("hub").as("kind"),
          col("c").as("id"), col("h").as("score"))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("score").desc, col("id"))))
      auth.unionAll(hubs)
        .where(col("rk") <= 20)
        .select(col("kind"), col("id"), col("score"))
        .orderBy(col("kind"), col("score").desc, col("id"))
    },

    // Herfindahl–Hirschman supplier-concentration index per nation —
    // the antitrust-style "is this market one supplier in a trench
    // coat" scalar next to orders_gini_segment (Gini ranks the whole
    // curve; HHI squares the shares, so it reacts to the top). Revenue
    // accumulates DECIMAL-exact per (nation, supplier); each squared
    // share is ONE double expression floored to 1e-8 units so the
    // cross-supplier sum is an exact BIGINT (the chi-square scaled-
    // contrib discipline); HHI reported on the 0–10000 points scale.
    // Plan: ONE (nation, supplier) combiner aggregate collapses the
    // fact scan; totals and the squared-share sum run on the
    // |suppliers|-row frame.
    Q("orders_hhi_supplier",
      """WITH rev AS (
        |  SELECT s_nationkey AS nk, l_suppkey AS sk,
        |    sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS r
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  GROUP BY 1, 2),
        |tot AS (SELECT nk, sum(r) AS tr, CAST(count(*) AS BIGINT) AS ns
        |        FROM rev GROUP BY 1),
        |sh AS (
        |  SELECT rev.nk AS nk, tot.ns,
        |    CAST(floor((CAST(r AS DOUBLE) / CAST(tr AS DOUBLE))
        |      * (CAST(r AS DOUBLE) / CAST(tr AS DOUBLE))
        |      * 100000000) AS BIGINT) AS s2
        |  FROM rev JOIN tot ON rev.nk = tot.nk)
        |SELECT nk AS nationkey, max(ns) AS n_suppliers,
        |  CAST(sum(s2) AS DOUBLE) / 10000.0 AS hhi
        |FROM sh GROUP BY nk ORDER BY nk""".stripMargin) { (s, d) =>
      hhiOf(
        Tables.lineitem(s, d)
          .join(broadcast(Tables.supplier(s, d)),
            col("l_suppkey") === col("s_suppkey")),
        "s_nationkey", "l_suppkey",
        col("l_extendedprice").cast("decimal(12,2)"))
        .select(col("grp").as("nationkey"),
          col("n_members").as("n_suppliers"), col("hhi"))
        .orderBy("nationkey")
    },

    // XYZ demand-variability classes per part — the planning companion
    // of parts_abc_classes (ABC ranks by value, XYZ by forecastability):
    // coefficient of variation of WEEKLY demand on the dense week
    // calendar (zero weeks count — that is exactly what makes demand
    // intermittent; they cost nothing because zero contributes nothing
    // to Σq/Σq², only to the calendar length). Class cuts 3.75/4.25 are
    // calibrated to the catalog's intermittent-demand regime (fixture
    // CV spans ~2.9–6.3; the textbook 0.5/1.0 cuts assume fast-movers
    // and would put every part in Z). Per-part CV is floored to micro
    // units ONCE, and both the class cuts and the per-class mean run on
    // that quantized BIGINT — a last-ulp sqrt/division difference
    // between engines at a cut boundary cannot flip a part's class.
    // The variance is clamped at 0 before sqrt (constant weekly demand
    // can land ss/nw-(s/nw)² a hair negative in FP; NaN would diverge
    // the engines). Plan: ONE (part, week) combiner aggregate collapses
    // the fact, then a part-level reduce; the class rollup is 3 rows.
    Q("parts_xyz_classes",
      """WITH wd AS (
        |  SELECT l_partkey AS pk, date_trunc('week', l_shipdate) AS wk,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
        |  FROM lineitem GROUP BY 1, 2),
        |cal AS (
        |  SELECT CAST(count(DISTINCT wk) AS BIGINT) AS nw FROM wd),
        |ps AS (
        |  SELECT pk, CAST(sum(q) AS BIGINT) AS s,
        |    CAST(sum(q * q) AS BIGINT) AS ss
        |  FROM wd GROUP BY 1),
        |cv AS (
        |  SELECT pk,
        |    CAST(floor(
        |      sqrt(greatest(CAST(ss AS DOUBLE) / nw
        |          - (CAST(s AS DOUBLE) / nw) * (CAST(s AS DOUBLE) / nw),
        |        0.0))
        |      / (CAST(s AS DOUBLE) / nw) * 1000000) AS BIGINT) AS cvm
        |  FROM ps CROSS JOIN cal),
        |cl AS (
        |  SELECT CASE WHEN cvm < 3750000 THEN 'X'
        |              WHEN cvm < 4250000 THEN 'Y' ELSE 'Z'
        |         END AS xyz_class, cvm
        |  FROM cv)
        |SELECT xyz_class, CAST(count(*) AS BIGINT) AS n_parts,
        |  CAST(sum(cvm) AS DOUBLE) / 1000000.0 / count(*) AS mean_cv
        |FROM cl GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      // the (part, week) frame feeds both the calendar length and the
      // per-part reduce; localCheckpoint pins it to ONE fact scan
      // (bounded: |parts|·|weeks| rows, dimensions not corpus)
      val wd = Tables.lineitem(s, d)
        .groupBy(col("l_partkey").as("pk"),
          date_trunc("week", col("l_shipdate")).as("wk"))
        .agg(sum(col("l_quantity").cast("long")).as("q"))
        .localCheckpoint(true)
      val cal = wd.agg(countDistinct(col("wk")).as("nw"))
      val ps = wd.groupBy("pk")
        .agg(sum(col("q")).as("s"), sum(col("q") * col("q")).as("ss"))
      val cv = ps.crossJoin(broadcast(cal))
        .select(col("pk"),
          floor(sqrt(greatest(col("ss").cast("double") / col("nw")
            - (col("s").cast("double") / col("nw"))
              * (col("s").cast("double") / col("nw")), lit(0.0)))
            / (col("s").cast("double") / col("nw")) * lit(1000000))
            .cast("long").as("cvm"))
      val cl = cv.select(
        when(col("cvm") < 3750000L, "X")
          .when(col("cvm") < 4250000L, "Y")
          .otherwise("Z").as("xyz_class"),
        col("cvm"))
      cl.groupBy("xyz_class")
        .agg(count(lit(1)).as("n_parts"),
          (sum(col("cvm")).cast("double") / lit(1000000.0)
            / count(lit(1))).as("mean_cv"))
        .orderBy("xyz_class")
    },

    // Normalized pointwise mutual information between event types over
    // user-day baskets — "which behaviors actually co-occur beyond
    // their base rates" (raw co-occurrence counts just rank popular
    // pairs; NPMI corrects for both marginals and lands in [-1, 1]).
    // All four probabilities enter as BIGINT micro-logs (floor(1e6·ln),
    // the text_zipf_slope discipline), so PMI and NPMI are single
    // double expressions over exact integers; the perfect-cooccurrence
    // pole (ln p_ab = ln N) NULL-guards the NPMI division. Plan: the
    // basket distinct is one combiner shuffle; the pair self-join is
    // keyed on (user, day) with ≤|types|² pairs per basket — linear in
    // baskets, never all-pairs across users; the NPMI algebra runs on
    // the |types|²-row frame.
    Q("events_type_npmi",
      """WITH base AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type
        |  FROM events),
        |bk AS (SELECT CAST(count(*) AS BIGINT) AS nb
        |       FROM (SELECT DISTINCT user_id, day FROM base) q),
        |ca AS (SELECT event_type AS t, CAST(count(*) AS BIGINT) AS c
        |       FROM base GROUP BY 1),
        |cab AS (
        |  SELECT a.event_type AS ta, b.event_type AS tb,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM base a JOIN base b ON a.user_id = b.user_id
        |    AND a.day = b.day AND a.event_type < b.event_type
        |  GROUP BY 1, 2),
        |mx AS (
        |  SELECT cab.ta, cab.tb, cab.c,
        |    CAST(floor(ln(CAST(cab.c AS DOUBLE)) * 1000000) AS BIGINT)
        |      AS xab,
        |    CAST(floor(ln(CAST(x1.c AS DOUBLE)) * 1000000) AS BIGINT)
        |      AS xa,
        |    CAST(floor(ln(CAST(x2.c AS DOUBLE)) * 1000000) AS BIGINT)
        |      AS xb,
        |    CAST(floor(ln(CAST(bk.nb AS DOUBLE)) * 1000000) AS BIGINT)
        |      AS xn
        |  FROM cab JOIN ca x1 ON cab.ta = x1.t
        |  JOIN ca x2 ON cab.tb = x2.t CROSS JOIN bk)
        |SELECT ta AS type_a, tb AS type_b, c AS n_cooccur,
        |  CAST(xab + xn - xa - xb AS DOUBLE) / 1000000.0 AS pmi_ln,
        |  CASE WHEN xn > xab THEN CAST(xab + xn - xa - xb AS DOUBLE)
        |    / CAST(xn - xab AS DOUBLE) END AS npmi
        |FROM mx ORDER BY ta, tb""".stripMargin) { (s, d) =>
      def mlog(c: Column) =
        floor(log(c.cast("double")) * lit(1000000)).cast("long")
      // ONE events pass: per-basket sorted type sets explode into
      // tagged (basket / single / pair) contribution rows IN-TASK, one
      // combiner aggregate collapses them to the ≤1+k+k² count frame,
      // and localCheckpoint pins that tiny frame so the three marginal
      // consumers never replay the scan. The sorted set also gives the
      // canonical a < b pair order for free.
      val baskets = Tables.events(s, d)
        .groupBy(col("user_id"), col("ts").cast("date").as("day"))
        .agg(sort_array(collect_set(col("event_type"))).as("ts"))
      val tags = baskets.select(explode(expr(
        """concat(
          |  array(named_struct('k', 'n', 'a', '', 'b', '')),
          |  transform(ts, x -> named_struct('k', 's', 'a', x, 'b', '')),
          |  flatten(transform(ts, (x, i) ->
          |    transform(slice(ts, i + 2, size(ts)),
          |      y -> named_struct('k', 'p', 'a', x, 'b', y)))))"""
          .stripMargin)).as("t"))
        .select(col("t.k").as("k"), col("t.a").as("a"),
          col("t.b").as("b"))
      val counts = tags.groupBy("k", "a", "b")
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(true)
      val bk = counts.where(col("k") === "n")
        .select(col("c").as("nb"))
      val ca = counts.where(col("k") === "s")
        .select(col("a").as("t"), col("c"))
      val cab = counts.where(col("k") === "p")
        .select(col("a").as("ta"), col("b").as("tb"), col("c"))
      val mx = cab
        .join(broadcast(ca.select(col("t"), col("c").as("c1"))),
          col("ta") === col("t")).drop("t")
        .join(broadcast(ca.select(col("t"), col("c").as("c2"))),
          col("tb") === col("t")).drop("t")
        .crossJoin(broadcast(bk))
        .select(col("ta"), col("tb"), col("c"),
          mlog(col("c")).as("xab"), mlog(col("c1")).as("xa"),
          mlog(col("c2")).as("xb"), mlog(col("nb")).as("xn"))
      mx.select(col("ta").as("type_a"), col("tb").as("type_b"),
          col("c").as("n_cooccur"),
          ((col("xab") + col("xn") - col("xa") - col("xb"))
            .cast("double") / lit(1000000.0)).as("pmi_ln"),
          when(col("xn") > col("xab"),
            (col("xab") + col("xn") - col("xa") - col("xb"))
              .cast("double")
              / (col("xn") - col("xab")).cast("double")).as("npmi"))
        .orderBy("type_a", "type_b")
    },

    // Hurst exponent of the daily order-arrival series by rescaled-
    // range (R/S) analysis — long-range dependence in one number
    // (H≈0.5 = memoryless, H→1 = persistent/trending demand; the
    // statistic behind "can this series be forecast at all", feeding
    // the SES/Holt kernels upstream). Blocks of 64/128/256 days on the
    // DENSE calendar; per block the range of cumulative deviations
    // (exact BIGINT prefix sums minus one double product) over the
    // population σ; per-size means floor-quantized; H = the micro-log
    // OLS slope of ln(R/S) on ln(w) (the text_zipf_slope discipline).
    // Plan: the fact collapses to |days| counts in one combiner
    // shuffle; blocks, prefix windows, and the 3-point fit all run on
    // the calendar-bounded frame (~2.4k rows regardless of corpus
    // size).
    Q("ts_hurst_rescaled_range",
      """WITH b AS (
        |  SELECT CAST(min(o_orderdate) AS DATE) AS d0,
        |         CAST(max(o_orderdate) AS DATE) AS d1 FROM orders),
        |cal AS (
        |  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
        |              AS DATE) AS day
        |  FROM b),
        |dc AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |         CAST(count(*) AS BIGINT) AS c
        |       FROM orders GROUP BY 1),
        |ser AS (
        |  SELECT CAST(cal.day - b.d0 AS BIGINT) AS t,
        |    coalesce(dc.c, 0) AS c
        |  FROM cal CROSS JOIN b LEFT JOIN dc ON dc.day = cal.day),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS ndays FROM ser),
        |ws AS (SELECT CAST(w AS BIGINT) AS w
        |       FROM (VALUES (64), (128), (256)) AS v(w)),
        |bx AS (
        |  SELECT ws.w, ser.t // ws.w AS blk, ser.t % ws.w AS i, ser.c
        |  FROM ser CROSS JOIN ws CROSS JOIN nd
        |  WHERE ser.t // ws.w < nd.ndays // ws.w),
        |st AS (SELECT w, blk, CAST(sum(c) AS BIGINT) AS s,
        |         CAST(sum(c * c) AS BIGINT) AS ss
        |       FROM bx GROUP BY 1, 2),
        |cm AS (SELECT w, blk, i,
        |         CAST(sum(c) OVER (PARTITION BY w, blk ORDER BY i)
        |              AS BIGINT) AS cum
        |       FROM bx),
        |dv AS (
        |  SELECT cm.w, cm.blk,
        |    CAST(cm.cum AS DOUBLE)
        |      - (cm.i + 1) * (CAST(st.s AS DOUBLE) / cm.w) AS dev
        |  FROM cm JOIN st ON cm.w = st.w AND cm.blk = st.blk),
        |rg AS (SELECT w, blk, max(dev) - min(dev) AS rng
        |       FROM dv GROUP BY 1, 2),
        |sd AS (
        |  SELECT st.w, st.blk, rg.rng,
        |    sqrt(CAST(st.ss AS DOUBLE) / st.w
        |      - (CAST(st.s AS DOUBLE) / st.w)
        |        * (CAST(st.s AS DOUBLE) / st.w)) AS sdev
        |  FROM st JOIN rg ON st.w = rg.w AND st.blk = rg.blk),
        |rs AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS n_blocks,
        |    CAST(sum(CAST(floor(rng / sdev * 1000000) AS BIGINT))
        |         AS BIGINT) AS f
        |  FROM sd WHERE sdev > 0 GROUP BY 1),
        |av AS (SELECT w, n_blocks,
        |         CAST(f AS DOUBLE) / 1000000.0 / n_blocks AS rs_avg
        |       FROM rs),
        |lg AS (SELECT
        |         CAST(floor(ln(CAST(w AS DOUBLE)) * 1000000) AS BIGINT)
        |           AS x,
        |         CAST(floor(ln(rs_avg) * 1000000) AS BIGINT) AS y
        |       FROM av),
        |ols AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx,
        |          sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
        |        FROM lg),
        |h AS (SELECT CAST(n * sxy - sx * sy AS DOUBLE)
        |        / CAST(n * sxx - sx * sx AS DOUBLE) AS hurst
        |      FROM ols)
        |SELECT av.w AS block_days, av.n_blocks, av.rs_avg, h.hurst
        |FROM av CROSS JOIN h ORDER BY av.w""".stripMargin) { (s, d) =>
      // ONE orders scan: the |days|-row count frame is checkpointed and
      // every later consumer (bounds, calendar join, block frames)
      // derives from it
      val dc = Tables.orders(s, d)
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(true)
      val b = dc.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      val cal = b.select(col("d0"),
        explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      val ser = cal.join(dc, Seq("day"), "left")
        .select(datediff(col("day"), col("d0")).cast("long").as("t"),
          coalesce(col("c"), lit(0L)).as("c"))
      val nd = ser.agg(count(lit(1)).as("ndays"))
      val ws = { import s.implicits._
        Seq(64L, 128L, 256L).toDF("w") }
      val bx = ser.crossJoin(broadcast(ws)).crossJoin(broadcast(nd))
        .where(expr("t div w < ndays div w"))
        .select(col("w"), expr("t div w").as("blk"),
          expr("t % w").as("i"), col("c"))
      val st = bx.groupBy("w", "blk")
        .agg(sum(col("c")).as("s"), sum(col("c") * col("c")).as("ss"))
      val cm = bx.select(col("w"), col("blk"), col("i"),
        sum(col("c")).over(Window.partitionBy("w", "blk").orderBy("i"))
          .as("cum"))
      val dv = cm.join(st, Seq("w", "blk"))
        .select(col("w"), col("blk"),
          (col("cum").cast("double")
            - (col("i") + 1) * (col("s").cast("double") / col("w")))
            .as("dev"))
      val rg = dv.groupBy("w", "blk")
        .agg((max(col("dev")) - min(col("dev"))).as("rng"))
      val sd = st.join(rg, Seq("w", "blk"))
        .select(col("w"), col("blk"), col("rng"),
          sqrt(col("ss").cast("double") / col("w")
            - (col("s").cast("double") / col("w"))
              * (col("s").cast("double") / col("w"))).as("sdev"))
      val rs = sd.where(col("sdev") > 0).groupBy("w")
        .agg(count(lit(1)).as("n_blocks"),
          sum(floor(col("rng") / col("sdev") * lit(1000000))
            .cast("long")).as("f"))
      val av = rs.select(col("w"), col("n_blocks"),
        (col("f").cast("double") / lit(1000000.0) / col("n_blocks"))
          .as("rs_avg"))
      val lg = av.select(
        floor(log(col("w").cast("double")) * lit(1000000)).cast("long")
          .as("x"),
        floor(log(col("rs_avg")) * lit(1000000)).cast("long").as("y"))
      val ols = lg.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      val h = ols.select(
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
          / (col("n") * col("sxx") - col("sx") * col("sx"))
            .cast("double")).as("hurst"))
      av.crossJoin(broadcast(h))
        .select(col("w").as("block_days"), col("n_blocks"),
          col("rs_avg"), col("hurst"))
        .orderBy("block_days")
    },

    // Theil–Sen robust trend of the weekly order-count series — the
    // median of all pairwise slopes (breakdown point 29%, where the
    // OLS trend in ts_linear_trend is moved by ONE corrupted week;
    // run both and a gap between them IS the outlier alarm). Every
    // pairwise slope is one double division of exact integers; the
    // median is an INDEX-SELECTED order statistic (lower-middle, ties
    // broken by the (i, j) pair id — a stored double, no
    // interpolation), so both engines pick the identical value. Plan:
    // the fact collapses to the |weeks| frame in one combiner
    // shuffle; the O(weeks²) pair join (~60k pairs on a 7-year
    // calendar) and the rank window are calendar-bounded — corpus
    // size changes the counts, never the pair volume.
    Q("ts_theil_sen_weekly",
      """WITH wk AS (
        |  SELECT date_trunc('week', o_orderdate) AS w,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM orders GROUP BY 1),
        |w0 AS (SELECT CAST(min(w) AS DATE) AS w0 FROM wk),
        |ix AS (SELECT CAST((CAST(w AS DATE) - w0) // 7 AS BIGINT) AS t,
        |         c
        |       FROM wk CROSS JOIN w0),
        |pr AS (
        |  SELECT a.t AS ti, b.t AS tj,
        |    CAST(b.c - a.c AS DOUBLE) / CAST(b.t - a.t AS DOUBLE)
        |      AS slope
        |  FROM ix a JOIN ix b ON b.t > a.t),
        |rk AS (SELECT slope, ti, tj,
        |         row_number() OVER (ORDER BY slope, ti, tj) AS r,
        |         CAST(count(*) OVER () AS BIGINT) AS np FROM pr),
        |med AS (SELECT slope AS sen_slope, np FROM rk
        |        WHERE r = (np + 1) // 2),
        |nw AS (SELECT CAST(count(*) AS BIGINT) AS n_weeks FROM ix)
        |SELECT nw.n_weeks, med.np AS n_pairs, med.sen_slope
        |FROM nw CROSS JOIN med""".stripMargin) { (s, d) =>
      // |weeks|-row frame feeds the origin lookup and the index join;
      // localCheckpoint pins it to one fact scan
      val wk = Tables.orders(s, d)
        .groupBy(date_trunc("week", col("o_orderdate")).as("w"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(true)
      val w0 = wk.agg(min(col("w")).cast("date").as("w0"))
      val ix = wk.crossJoin(broadcast(w0))
        .select(expr("CAST(datediff(CAST(w AS DATE), w0) div 7 AS LONG)")
          .as("t"), col("c"))
      theilSenOf(ix, "t", "c")
        .select(col("n_points").as("n_weeks"), col("n_pairs"),
          col("sen_slope"))
    },

    // Kaplan–Meier survival curve of customer LIFETIME (months from
    // first to last order) — the churn actuary's view the lifecycle-
    // state and retention kernels summarize pointwise: customers whose
    // last order falls in the final 6 catalog months are right-
    // CENSORED (still alive — counting them as churn is the classic
    // retention-analysis bias), enter the at-risk set but never the
    // event count. Duration lives on integer month indexes (y·12+m, no
    // interval arithmetic to disagree on); each hazard factor
    // ln((n−d)/n) is a micro-log BIGINT so cumulative ln S(t) is an
    // exact prefix sum (log-space — a cross-row double product is
    // accumulation-order-dependent; exp is a libm hazard, so the curve
    // ships in log space); the everyone-dies terminal pole contributes
    // 0 (plateau convention, keeps logs finite). Plan: orders collapse
    // to per-customer (first, last) in one combiner shuffle; cells,
    // the reverse at-risk window, and the survival prefix all run on
    // the ≤\|months\| duration frame.
    Q("orders_survival_km",
      """WITH life AS (
        |  SELECT o_custkey,
        |    CAST(year(min(o_orderdate)) * 12 + month(min(o_orderdate))
        |         AS BIGINT) AS m0,
        |    CAST(year(max(o_orderdate)) * 12 + month(max(o_orderdate))
        |         AS BIGINT) AS m1
        |  FROM orders GROUP BY 1),
        |mx AS (SELECT CAST(max(m1) AS BIGINT) AS mxm FROM life),
        |subj AS (
        |  SELECT m1 - m0 AS dur,
        |    CASE WHEN m1 >= mxm - 6 THEN 0 ELSE 1 END AS ev
        |  FROM life CROSS JOIN mx),
        |cell AS (
        |  SELECT dur, CAST(sum(ev) AS BIGINT) AS d,
        |    CAST(count(*) AS BIGINT) AS x,
        |    CAST(sum(1 - ev) AS BIGINT) AS cns
        |  FROM subj GROUP BY 1),
        |rk AS (
        |  SELECT dur, d, cns,
        |    CAST(sum(x) OVER (ORDER BY dur DESC) AS BIGINT) AS n_risk
        |  FROM cell),
        |lg AS (
        |  SELECT dur, d, cns, n_risk,
        |    CASE WHEN d > 0 AND d < n_risk THEN
        |      CAST(floor(ln(CAST(n_risk - d AS DOUBLE)
        |          / CAST(n_risk AS DOUBLE)) * 1000000) AS BIGINT)
        |    ELSE 0 END AS lnp
        |  FROM rk),
        |cm AS (
        |  SELECT dur, n_risk, d AS n_events, cns AS n_censored,
        |    CAST(sum(lnp) OVER (ORDER BY dur) AS BIGINT) AS lncum
        |  FROM lg)
        |SELECT dur AS months, n_risk, n_events, n_censored,
        |  CAST(lncum AS DOUBLE) / 1000000.0 AS ln_survival
        |FROM cm ORDER BY dur""".stripMargin) { (s, d) =>
      survivalKmOf(Tables.orders(s, d), "o_custkey", "o_orderdate")
    },
  )

  /** Herfindahl–Hirschman concentration of `value` mass over the
    * members of `keyCol` within each `groupCol` → (grp, n_members,
    * hhi on the 0–10000 points scale). `value` must be an exact
    * decimal/integer expression; squared shares are floor-quantized
    * before the cross-member sum — see the `orders_hhi_supplier`
    * query scaladoc.
    */
  private[graft] def hhiOf(df: DataFrame, groupCol: String,
      keyCol: String, value: Column): DataFrame = {
    // the member-level frame feeds both the totals and the share
    // algebra; localCheckpoint pins it to one fact scan (bounded:
    // |groups|·|members| rows)
    val rev = df.groupBy(col(groupCol).as("grp"),
        col(keyCol).as("mk"))
      .agg(sum(value).as("r"))
      .localCheckpoint(true)
    val tot = rev.groupBy("grp")
      .agg(sum(col("r")).as("tr"), count(lit(1)).as("ns"))
    val sh = rev.join(broadcast(tot), "grp")
      .select(col("grp"), col("ns"),
        floor((col("r").cast("double") / col("tr").cast("double"))
          * (col("r").cast("double") / col("tr").cast("double"))
          * lit(100000000)).cast("long").as("s2"))
    sh.groupBy("grp")
      .agg(max(col("ns")).as("n_members"),
        (sum(col("s2")).cast("double") / lit(10000.0)).as("hhi"))
  }

  /** Default ceiling on the Theil–Sen series length: the estimator
    * explodes n(n-1)/2 pairwise slopes and selects their median under
    * ONE global order (an unpartitioned sort), so the pair frame must
    * fit a single task comfortably. 2k points ≈ 2·10⁶ pairs keeps that
    * task in the tens-of-MB class; anything larger usually means the
    * caller skipped the calendar aggregation — fail loud instead. A
    * caller who KNOWS its aggregated series is longer can raise the
    * bound explicitly via `maxPoints` (the single-task sort grows
    * O(maxPoints²), ~5·10⁷ pairs ≈ GB-scale at 10k — size executors
    * accordingly).
    */
  private[graft] val TheilSenMaxPoints = 2000L

  /** Theil–Sen robust trend over an integer series (tCol, yCol) →
    * one row (n_points, n_pairs, sen_slope). The median of all
    * pairwise slopes, index-selected under a total order — see the
    * `ts_theil_sen_weekly` query scaladoc. The O(n²) pair join means
    * the series must be an AGGREGATED frame (calendar buckets, not
    * raw events) — enforced: series longer than `maxPoints` (default
    * [[TheilSenMaxPoints]]) fail fast before the pair explode.
    */
  private[graft] def theilSenOf(series: DataFrame, tCol: String,
      yCol: String, maxPoints: Long = TheilSenMaxPoints): DataFrame = {
    // the series is consumed three ways (both pair sides + the point
    // count); localCheckpoint pins the caller's lineage to one pass
    val ix = series.select(col(tCol).cast("long").as("t"),
      col(yCol).cast("long").as("c")).localCheckpoint(true)
    // the checkpoint is already materialized (eager), so this count is
    // a metadata-cheap job — the price of not OOMing on raw events
    val n = ix.count()
    require(n <= maxPoints,
      s"theilSen: series has $n points; the O(n²) pairwise-slope " +
        s"median is bounded at $maxPoints points — " +
        "aggregate the series to calendar buckets before calling, or " +
        "raise maxPoints explicitly if the series is already aggregated")
    val a = ix.select(col("t").as("ti"), col("c").as("ca"))
    val b = ix.select(col("t").as("tj"), col("c").as("cb"))
    val pr = a.join(broadcast(b), col("tj") > col("ti"))
      .select(col("ti"), col("tj"),
        ((col("cb") - col("ca")).cast("double")
          / (col("tj") - col("ti")).cast("double")).as("slope"))
    val rk = pr.select(col("slope"), col("ti"), col("tj"),
      row_number().over(Window.orderBy("slope", "ti", "tj")).as("r"),
      count(lit(1)).over(Window.partitionBy()).as("np"))
    val med = rk.where(col("r") === expr("(np + 1) div 2"))
      .select(col("slope").as("sen_slope"), col("np"))
    val nw = ix.agg(count(lit(1)).as("n_points"))
    nw.crossJoin(broadcast(med))
      .select(col("n_points"), col("np").as("n_pairs"),
        col("sen_slope"))
  }

  /** Right-censored Kaplan–Meier survival of subject lifetime for
    * (idCol, tsCol) event rows → per duration month (months, n_risk,
    * n_events, n_censored, ln_survival). Subjects last seen within
    * `censorMonths` of the corpus end are censored; the curve ships
    * in exact micro-log space — see the `orders_survival_km` query
    * scaladoc.
    */
  private[graft] def survivalKmOf(df: DataFrame, idCol: String,
      tsCol: String, censorMonths: Int = 6): DataFrame = {
    // the subject-level frame feeds both the censor horizon and the
    // duration cells; localCheckpoint pins it to ONE fact scan (the
    // frame is |subjects| rows of three longs — the alternative, an
    // unpartitioned max() window over it, single-partitions the same
    // rows for a worse constant)
    val life = df.groupBy(col(idCol)).agg(
      (year(min(col(tsCol))) * 12
        + month(min(col(tsCol)))).cast("long").as("m0"),
      (year(max(col(tsCol))) * 12
        + month(max(col(tsCol)))).cast("long").as("m1"))
      .localCheckpoint(true)
    val mx = life.agg(max(col("m1")).as("mxm"))
    val subj = life.crossJoin(broadcast(mx))
      .select((col("m1") - col("m0")).as("dur"),
        when(col("m1") >= col("mxm") - censorMonths, 0L).otherwise(1L)
          .as("ev"))
    val cell = subj.groupBy("dur").agg(sum(col("ev")).as("d"),
      count(lit(1)).as("x"), sum(lit(1L) - col("ev")).as("cns"))
    val rk = cell.select(col("dur"), col("d"), col("cns"),
      sum(col("x")).over(Window.orderBy(col("dur").desc)).as("n_risk"))
    val lg = rk.select(col("dur"), col("d"), col("cns"), col("n_risk"),
      when(col("d") > 0 && col("d") < col("n_risk"),
        floor(log((col("n_risk") - col("d")).cast("double")
          / col("n_risk").cast("double")) * lit(1000000))
          .cast("long")).otherwise(0L).as("lnp"))
    val cm = lg.select(col("dur"), col("n_risk"),
      col("d").as("n_events"), col("cns").as("n_censored"),
      sum(col("lnp")).over(Window.orderBy("dur")).as("lncum"))
    cm.select(col("dur").as("months"), col("n_risk"),
        col("n_events"), col("n_censored"),
        (col("lncum").cast("double") / lit(1000000.0))
          .as("ln_survival"))
      .orderBy("months")
  }
}
