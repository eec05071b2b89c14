package graft.api

import graft.Pin
import graft.functions.topKRows
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The library facade: the engine's composite operators as frame-
  * parametric functions over the CALLER's DataFrames — the surface a user
  * switching from the reference actually programs against (the
  * `SparkEntry.queries` map is the driver-contract view of the same
  * operators, bound to the test fixtures).
  *
  * Column contracts are positional-by-name and minimal:
  *   docs  — (doc_id LONG, text STRING)
  *   store — (id LONG, embedding ARRAY<FLOAT>)
  * Everything returns a DataFrame and nothing collects to the driver.
  *
  * Pinned blocks. Iterative and multi-consumer kernels pin bounded
  * intermediates (`graft.Pin`) so later stages don't replay them, and
  * the PQ family ([[pqTopK]], [[ivfpqTopK]]) runs its k-means training
  * collects (KB-sized codebooks) at CALL time. [[minhashNearDupPairs]],
  * [[simhashNearDupPairs]] and [[semanticDedup]] free their other pins
  * at return and hand their eager result checkpoint to the caller. A
  * lazy result leaves its pins with the caller: [[pageRank]] and
  * [[personalizedPageRank]] the cached adjacency and their round
  * checkpoints, the cluster collapses their last round, the graph walks
  * their edges and rounds, [[ivfpqTopK]] the cached assignment, and
  * [[ivfBuild]] the index (released by [[IvfIndex.unpersist]]) and its
  * k-means centroids. Wrap the calls and the actions over their results
  * in [[scoped]] to release everything they pinned, and only that.
  */
object Graft {

  /** `graft.Pin.scope`: run `body`, then release every block it pinned
    * on this thread, and no other, e.g.
    * `Graft.scoped { Graft.pageRank(edges).count() }`.
    */
  def scoped[T](body: => T): T = Pin.scope(body)

  /** Register the engine's SQL-callable kernels (cosine_sim, vector_dot,
    * l2_distance, vector_norm, quantize_i8, cosine_sim_i8, zorder_key)
    * on `spark` — after this, plain `spark.sql` can use them by name.
    * Alternative: set `spark.sql.extensions=graft.plans.GraftExtensions`
    * at session build time.
    */
  def register(spark: SparkSession): Unit = graft.functions.registerAll(spark)

  /** Exact cosine top-k of `store` (id, embedding) for every row of
    * `probes` (probe_id, probe): the probes side is broadcast (O(probes)
    * small by contract); the store streams through one scan and is
    * scored there. 100 TB shape: the store itself is never shuffled;
    * `graft.functions.top_k` keeps at most k scored rows per probe per
    * task, and only those cross one exchange on `probe_id`.
    */
  def cosineTopK(store: DataFrame, probes: DataFrame, k: Int): DataFrame =
    topKRows(store.crossJoin(broadcast(probes))
        .select(col("probe_id"), col("id"),
          graft.functions.cosine_sim(col("embedding"), col("probe")).as("score")),
        Seq("probe_id"), "score", "id", k, "rank")
      .drop("rank")

  /** All store vectors within `minScore` cosine of each probe — the
    * range-query twin of [[cosineTopK]] (dedup thresholds, retrieval
    * floors). Same broadcast/no-store-shuffle shape.
    */
  def cosineRange(store: DataFrame, probes: DataFrame,
      minScore: Double): DataFrame =
    store.crossJoin(broadcast(probes))
      .select(col("probe_id"), col("id"),
        graft.functions.cosine_sim(col("embedding"), col("probe")).as("score"))
      .where(col("score") >= minScore)

  /** A built IVF index over a caller store: `assign` carries every store
    * row plus its cell assignment (id, embedding, cell) — on a real table
    * `cell` is the partition/cluster key — and `centroids` is the k-row
    * routing table (cell, cent). Both are cached (probing must not
    * replay the k-means); release with [[IvfIndex.unpersist]] when done.
    */
  final case class IvfIndex(assign: DataFrame, centroids: DataFrame) {
    def unpersist(): Unit = Pin.release(assign, centroids)
  }

  /** Build an IVF index over `store` (id, embedding): distributed seeded
    * k-means into `k` cells (`vector_avg` UDAF recompute per round, no
    * driver collect — Ann.kmeansCells). This is the sub-linear ANN path
    * at scale: vectors partition by cell, probes read only their nprobe
    * nearest cells ([[ivfTopK]]).
    */
  def ivfBuild(store: DataFrame, k: Int, iters: Int = 3): IvfIndex = {
    val assign = Pin.cache(graft.operators.Ann.kmeansCells(
        store.select(col("id").as("vec_id"), col("embedding")), k, iters)
      .select(col("vec_id").as("id"), col("embedding"), col("cell")))
    val cents = Pin.cache(assign.groupBy("cell")
      .agg(graft.functions.vector_avg(col("embedding")).as("cent")))
    IvfIndex(assign, cents)
  }

  /** IVF top-k: route every `probes` row (probe_id, probe) to its
    * `nprobe` nearest cells by centroid cosine (a k×probes-row crossJoin
    * — metadata-sized), then score ONLY the routed cells' vectors. The
    * store side never shuffles: the routing table broadcasts onto the
    * cell-partitioned assignment (at 100 TB: partition pruning), and
    * only the candidate subset is scored, scan fraction ≈ nprobe/k. At
    * most k scored rows per probe per task cross one exchange on
    * `probe_id` (`graft.functions.top_k`). Recall/scan trade-off is the
    * caller's k/nprobe choice (ApiSpec proves ≥0.9 recall at 25% scan on
    * clustered data).
    */
  def ivfTopK(index: IvfIndex, probes: DataFrame, k: Int,
      nprobe: Int): DataFrame = {
    val routes = topKRows(index.centroids.crossJoin(broadcast(probes))
        .select(col("probe_id"), col("probe"), col("cell"),
          graft.functions.cosine_sim(col("cent"), col("probe")).as("cs")),
        Seq("probe_id"), "cs", "cell", nprobe, "rnk")
      .select("probe_id", "probe", "cell")
    topKRows(index.assign.join(broadcast(routes), "cell")
        .select(col("probe_id"), col("id"),
          graft.functions.cosine_sim(col("embedding"), col("probe")).as("score")),
        Seq("probe_id"), "score", "id", k, "rank")
      .drop("rank")
  }

  /** LSH top-k: OR-amplified random-hyperplane search — `tables`
    * independent `bits`-bit signatures per vector (seeded, scan-side
    * codegen'd expressions); a store row is a candidate for a probe if
    * ANY of its signatures lands within Hamming `maxHamming` of the
    * probe's, and only candidates pay the exact cosine. At most k scored
    * candidates per probe per task cross one exchange on `probe_id`
    * (`graft.functions.top_k`). At 100 TB each signature is its own
    * partition/cluster key and the disjunction becomes `tables`
    * bucket-joins unioned before the verify step.
    */
  def lshTopK(store: DataFrame, probes: DataFrame, k: Int, bits: Int = 12,
      tables: Int = 3, maxHamming: Int = 5): DataFrame = {
    val seeds = (0 until tables).map(i => 42L + i * 1299721L)
    val e = seeds.zipWithIndex.foldLeft(store) { case (df, (sd, i)) =>
      df.withColumn(s"b$i",
        graft.functions.lsh_bucket(col("embedding"), bits, sd))
    }
    val p = seeds.zipWithIndex.foldLeft(probes) { case (df, (sd, i)) =>
      df.withColumn(s"pb$i",
        graft.functions.lsh_bucket(col("probe"), bits, sd))
    }
    val anyTableHits = seeds.indices
      .map(i => bit_count(col(s"b$i").bitwiseXOR(col(s"pb$i"))) <= maxHamming)
      .reduce(_ || _)
    topKRows(e.crossJoin(broadcast(p))
        .where(anyTableHits)
        .select(col("probe_id"), col("id"),
          graft.functions.cosine_sim(col("embedding"), col("probe")).as("score")),
        Seq("probe_id"), "score", "id", k, "rank")
      .drop("rank")
  }

  /** Per-cell bounded-degree neighbor graphs over an IVF assignment
    * (the DiskANN/SPANN layout — see README "Vector-index architecture"):
    * `assign` is [[IvfIndex.assign]]-shaped (id, embedding, cell); each
    * cell's vectors get an exact `m`-NN adjacency built INSIDE the
    * cell's task (O(cell²) bounded by the cell-size design knob).
    * Returns (vec_id, embedding, neighbors, cell) — persist partitioned
    * by cell so [[cellGraphTopK]] reads only routed partitions.
    *
    * `stitchEps` > 0 closure-replicates boundary nodes (SPANN): a node
    * whose runner-up centroid similarity is within stitchEps of its
    * best also joins that cell's graph (≤1 replica per node, boundary
    * nodes only), so beam search can surface cross-boundary neighbors
    * at low nprobe; [[cellGraphTopK]] merges duplicate hits by id.
    */
  def cellGraphBuild(assign: DataFrame, m: Int = 12,
      stitchEps: Double = 0.0): DataFrame = {
    val base = assign.select(col("id").as("vec_id"), col("embedding"),
      col("cell"))
    graft.operators.Ann.buildCellGraphs(
      if (stitchEps > 0.0)
        graft.operators.Ann.stitchAssignment(base, stitchEps)
      else base, m)
  }

  /** Beam-search [[cellGraphBuild]] graphs for one probe vector: the
    * caller routes (filters `graph` to the probe's nprobe cells — at
    * scale, partition pruning), each routed cell is walked in ONE task
    * (ef-wide best-first from a deterministic entry) instead of scanned,
    * and the union of per-cell top-k (vec_id, score, visited) comes
    * back O(k·cells) small. `visited` is the per-cell scan-fraction
    * evidence. The probe is a plain float array — the same O(1)
    * driver-side probe contract as the IVF routing collect.
    */
  def cellGraphTopK(graph: DataFrame, probe: Array[Float], k: Int,
      ef: Int = 48): DataFrame =
    graft.operators.Ann.graphSearchOf(graph, probe, k, ef)

  /** MinHash(32) + LSH(8×4) near-duplicate pairs of `docs` (doc_id,
    * text), exact-Jaccard verified at `threshold`. Candidates come from
    * band-hash equi-buckets only — never a cross product; only candidate
    * docs pay the exact-shingle verification.
    */
  def minhashNearDupPairs(docs: DataFrame, threshold: Double): DataFrame =
    graft.operators.Dedup.minhashVerifiedPairsOf(docs, threshold)

  /** Connected components over an undirected (doc_a, doc_b) pair list:
    * (doc_id, cluster_id) with cluster_id = min reachable doc_id.
    * Join-based iterative min-label propagation, rounds = graph diameter.
    * The label frame is broadcast only while the graph has ≤20M nodes;
    * larger graphs fall back to shuffle joins (AQE-chosen), so arbitrary
    * caller pair lists cannot blow the broadcast/driver ceiling.
    *
    * `maxIter` bounds the propagation rounds; labels move one hop per
    * round, so convergence needs rounds = graph diameter (near-clique
    * dedup graphs: 2-3; a path graph of n nodes: n-1). If the graph has
    * not converged at `maxIter` the call THROWS rather than return
    * under-merged labels that would silently split clusters; pass
    * `failOnMaxIter = false` to accept best-effort labels knowingly.
    */
  def dedupClusters(pairs: DataFrame, maxIter: Int = 10,
      failOnMaxIter: Boolean = true): DataFrame =
    graft.operators.Dedup.collapseClusters(pairs, maxIter,
      failOnMaxIter = failOnMaxIter)

  /** [[dedupClusters]] by alternating large-star/small-star (Kiveris et
    * al.) — O(log n) rounds regardless of graph diameter, for pair
    * graphs with long chains where min-label propagation's
    * rounds-=-diameter bound is the bottleneck. Near-clique dedup
    * graphs (diameter 2-3) should prefer [[dedupClusters]]: fewer,
    * cheaper rounds. Same output contract; DedupSpec proves agreement.
    */
  def dedupClustersLogN(pairs: DataFrame): DataFrame =
    graft.operators.Dedup.collapseClustersLogN(pairs)

  /** SimHash near-duplicate pairs of `docs` (doc_id, text): 64-bit
    * sketch, 4×16-bit bands, Hamming ≤ `maxHamming` verification within
    * hash-equal buckets; buckets over 1000 members are dropped as
    * boilerplate (the same hot-bucket cap as [[minhashNearDupPairs]]).
    */
  def simhashNearDupPairs(docs: DataFrame, maxHamming: Int = 6): DataFrame =
    graft.operators.Dedup.simhashPairsOf(docs, maxHamming)

  /** End-to-end near-dup keep/drop list: [[minhashNearDupPairs]] →
    * [[dedupClusters]] → keep = "is the cluster representative".
    * Docs in no cluster are implicitly kept (absent from the output).
    */
  def nearDupKeepList(docs: DataFrame, threshold: Double): DataFrame =
    dedupClusters(minhashNearDupPairs(docs, threshold)
        .select("doc_a", "doc_b"))
      .select(col("doc_id"), col("cluster_id"),
        (col("doc_id") === col("cluster_id")).as("keep"))

  /** SCD2 validity intervals [valid_from, valid_to) + is_current from
    * (o_custkey, o_orderkey, o_orderdate)-shaped snapshots — one shuffle
    * on the entity key.
    */
  def scd2Intervals(base: DataFrame): DataFrame =
    graft.operators.Corpus.scd2Intervals(base)

  /** Greedy contiguous token-budget shards per `byCol` group (running
    * sums stay partitioned — no global-order window): adds (tokens,
    * shard) to `docs`.
    */
  def packTokenShards(docs: DataFrame, budget: Int,
      byCol: String = "source"): DataFrame = {
    val w = Window.partitionBy(byCol).orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("cum", sum(col("tokens")).over(w))
      .withColumn("shard", expr(s"(cum - tokens) div $budget"))
      .drop("cum")
  }

  /** Deterministic content-hash Bernoulli filter: keep rows whose
    * md5-hex bucket of `key` falls in [0, keepBuckets) of 16 — the same
    * rows on every run, every engine (md5 is the one cross-engine hash).
    */
  def hashSample(df: DataFrame, key: Column, keepBuckets: Int): DataFrame =
    df.where(conv(substring(md5(key.cast("string")), 1, 1), 16, 10)
      .cast("int") < keepBuckets)

  /** Deterministic weighted sampling-without-replacement (Efraimidis–
    * Spirakis A-ES priority sampling): the top-`k` rows by
    * u^(1/weight), u a content-hash uniform of `key` — inclusion
    * probability scales with `weight` (mixture weighting: sample long
    * or high-quality docs proportionally more), and the selection is
    * identical on every run because u is md5-derived, not RNG. Adds
    * `sample_key`; scan-side projection + top-k (TakeOrderedAndProject)
    * — `df` never shuffles.
    */
  def weightedSample(df: DataFrame, key: Column, weight: Column,
      k: Int): DataFrame = {
    val h = conv(substring(md5(key.cast("string")), 1, 8), 16, 10)
      .cast("double")
    df.withColumn("sample_key",
        pow((h + lit(1.0)) / lit(4294967296.0),
          lit(1.0) / weight.cast("double")))
      .orderBy(col("sample_key").desc, key)
      .limit(k)
  }

  /** Benchmark decontamination: per `corpus` doc (doc_id, text), the
    * fraction of its word n-grams appearing in ANY `eval` doc's grams,
    * plus a `contaminated` flag at `flagAt`. Eval grams broadcast (eval
    * sets are small by nature); the corpus never shuffles on gram.
    */
  def contaminationReport(corpus: DataFrame, eval: DataFrame,
      n: Int = 3, flagAt: Double = 0.05): DataFrame =
    graft.operators.Corpus.contaminationOf(corpus, eval, n, flagAt)

  /** Gopher-style quality-rule filter over (doc_id, text): per-rule
    * booleans + the `keep` conjunction — audit WHICH rule dropped a doc.
    * One codegen'd scan-side projection, zero shuffle.
    */
  def qualityRules(docs: DataFrame): DataFrame =
    graft.operators.Corpus.qualityRulesOf(docs)

  /** Sentence-boundary chunking over (doc_id, text) — the chunking real
    * RAG ingest uses, next to the fixed-width `graft.functions.chunks`
    * baseline: split on `splitPattern` (a sentence-terminator regex),
    * pack WHOLE sentences into ~`target`-char chunks by cumulative
    * offset, carry a one-sentence overlap from the previous chunk.
    * Returns (doc_id, chunk_idx, chunk, n_sentences, n_chars). ONE
    * doc-keyed shuffle; packing is a closed-form division over the
    * per-doc running character sum, never a sequential loop.
    */
  def sentenceChunks(docs: DataFrame, splitPattern: String = "\\. ",
      target: Int = 512): DataFrame =
    graft.operators.Text.sentenceChunksOf(docs, splitPattern, target)

  /** Downsample every `groupCol` group of `df` to the smallest group's
    * row count with a deterministic md5 coin on `idCol` (stable across
    * runs and engines); the group's (docs, rate) ride along. Row-local
    * keep decision — `df` itself never shuffles.
    */
  def rebalanceMix(df: DataFrame, groupCol: String, idCol: String): DataFrame =
    graft.operators.Corpus.rebalanceBy(df, groupCol, idCol)

  /** Temperature-based mixture resampling — the LLM data-recipe
    * counterpart to [[rebalanceMix]]'s uniform equalization: group l
    * with n_l rows keeps rows at rate (n_min/n_l)^(1-1/T), so the
    * smallest group keeps everything, larger groups are tempered rather
    * than truncated. T=1 keeps the natural mix; T→∞ approaches
    * [[rebalanceMix]]. Requires T ≥ 1 (T < 1 would mean upsampling).
    * Keep decisions are the deterministic row-local md5 coin on `idCol`
    * — stable under resampling, no corpus shuffle (scan → broadcast
    * rate join → filter).
    */
  def temperatureMix(df: DataFrame, groupCol: String, idCol: String,
      temperature: Double): DataFrame =
    graft.operators.Corpus.temperatureMixOf(df, groupCol, idCol,
      temperature)

  /** MERGE INTO / upsert without a table format: same-schema `target`
    * and `source`; matched `key` rows take the source's values, unmatched
    * source keys insert, untouched target rows carry — plus an `action`
    * audit column. One co-partitioned full-outer shuffle join on the key.
    * NULL-key source rows never equality-match, so they are emitted
    * value-intact as `insert` (SQL MERGE WHEN-NOT-MATCHED semantics).
    */
  def mergeUpsert(target: DataFrame, source: DataFrame, key: String): DataFrame =
    graft.operators.Pipeline.mergeUpsertOf(target, source, key)

  /** Gaps-and-islands: maximal runs of consecutive `ordCol` integers per
    * `partCol` → (partCol, grp, start, end, n).
    */
  def gapsIslands(df: DataFrame, partCol: String, ordCol: String): DataFrame =
    graft.operators.Windows.gapsIslandsOf(df, partCol, ordCol)

  /** MMR diversity re-rank: greedy λ-tradeoff selection of `k` from the
    * exact cosine top-`pool` of `store` (id, embedding) for the one-row
    * `probes` frame (probe). The pool is bounded by construction, so the
    * sequential greedy runs in ONE task — no driver collect.
    */
  def mmrRerank(store: DataFrame, probes: DataFrame, k: Int,
      pool: Int = 20, lambda: Double = 0.7): DataFrame = {
    val cand = store.crossJoin(broadcast(probes))
      .select(col("id").as("vec_id"), col("embedding"),
        graft.functions.cosine_sim(col("embedding"), col("probe")).as("rel"))
      .orderBy(col("rel").desc, col("vec_id"))
      .limit(pool)
    graft.operators.Rag.mmrSelect(cand, k, lambda)
  }

  /** Top-`k` most frequent whitespace tokens of `textCol`, computed
    * two-phase: per-partition Misra-Gries candidate summaries (the token
    * tail never shuffles) + an exact recount of candidates only.
    * Approximation regime, stated plainly: recounted counts are exact,
    * but a true top-k token can be MISSED if it survives MG yet is cut
    * by the per-partition top-`m` selection (ranked on residual MG
    * counts, which undercount) in every partition containing it. Tokens
    * whose global frequency clears the MG bound (> N_p/cap of some
    * partition's tokens) always surface; raise `m` (up to `cap`, which
    * removes the cut) or fall back to `agg_heavy_hitters`' one-shuffle
    * exact query when exactness is required. AnalyticsSpec proves
    * equality with the exact query on this corpus under forced eviction
    * pressure.
    */
  def heavyHitters(docs: DataFrame, textCol: String, k: Int,
      m: Int = 64, cap: Int = 256): DataFrame =
    graft.operators.Analytics.heavyHittersOf(docs, textCol, k, m, cap)

  /** Ordered-step funnel: `steps` is (eventType, maxGapHours from the
    * previous step; the gap is ignored for step 1). One row out:
    * `u_step1..u_stepN` distinct `userCol` counts that reached each step
    * in order. N steps cost ONE Exchange of `events` + N stacked Window
    * operators (never N self-joins).
    *
    * Semantics: EARLIEST-ANCHOR, a deliberate deviation from
    * MATCH_RECOGNIZE-style "any qualifying sequence" funnels — each
    * step's anchor is the user's EARLIEST qualifying event for that
    * step, and the next step's gap is measured from that anchor only.
    * A user with view@0h, view@5h, click@13h does NOT count as
    * view→click(≤12h): the anchor is view@0h and 13h exceeds the gap.
    * This is the one-Exchange formulation (any-sequence needs a
    * per-pair join or NFA state); counts are a lower bound on
    * any-sequence counts.
    */
  def funnel(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, steps: Seq[(String, Int)]): DataFrame =
    graft.operators.Analytics.funnelOf(events, userCol, typeCol, tsCol, steps)

  /** Edit-distance near-dup pairs over (doc_id, text): length-bucket
    * blocked (equi-join on (maxDist+1)-wide length buckets), exact
    * |Δlen| prefilter, Levenshtein DP only on admitted pairs. Returns
    * (doc_a, doc_b, d) with doc_a < doc_b and d <= maxDist. Length
    * buckets with more than `maxBucket` docs are dropped (broadcast
    * anti-join — the same hot-bucket cap as [[minhashNearDupPairs]]): a
    * length band shared by thousands of docs is template output whose
    * B² pair sweep would melt the join; route such corpora through
    * [[minhashNearDupPairs]] as the candidate source and use this DP as
    * the per-candidate verifier instead.
    */
  def editDistancePairs(docs: DataFrame, maxDist: Int,
      maxBucket: Int = 1000): DataFrame =
    graft.operators.Dedup.editDistancePairsOf(docs, maxDist, maxBucket)

  /** Verbatim shared-window pairs (the exact-substring dedup family —
    * Lee et al.'s training-data shape): pairs of `docs` (doc_id, text)
    * sharing ≥1 verbatim `w`-token window, with the count of distinct
    * shared windows → (doc_a, doc_b, shared_windows), doc_a < doc_b.
    * Candidates come from a window equi-join — never a cross product —
    * and windows appearing in more than `maxDocsPerWindow` docs are
    * dropped as boilerplate before the self-join (the hot-bucket cap).
    */
  def sharedWindowPairs(docs: DataFrame, w: Int = 8,
      maxDocsPerWindow: Int = 50): DataFrame =
    graft.operators.Dedup.sharedWindowPairsOf(docs, w, maxDocsPerWindow)

  /** Longest verbatim shared run per pair → (doc_a, doc_b,
    * longest_tokens): the statistic exact-substring dedup thresholds on
    * ("drop if ≥ N shared tokens"). Consecutive shared `w`-token windows
    * along a position diagonal form a run of run+w−1 tokens
    * (gaps-and-islands over positional window matches); same hot-window
    * cap as [[sharedWindowPairs]], by distinct doc count.
    */
  def longestSharedRun(docs: DataFrame, w: Int = 8,
      maxDocsPerWindow: Int = 50): DataFrame =
    graft.operators.Dedup.longestSharedRunOf(docs, w, maxDocsPerWindow)

  /** Zonemap (per-file min/max) file pruning over the parquet files of
    * `dir`, statistic column `valueCol`: the file paths whose
    * [min, max] zone intersects [lo, hi], plus the total file count.
    * The zonemap is O(files) metadata rows — at 100 TB this collect is
    * a catalog read (Delta/Iceberg file stats), not a data read. Pair
    * with a range-clustered layout ([[graft.operators.Pipeline]]'s
    * layout_range_sort / layout_zorder) — on a random layout every file
    * covers the full range and nothing prunes.
    */
  def zonemapPrunedFiles(spark: SparkSession, dir: String, valueCol: String,
      lo: Double, hi: Double): (Array[String], Long) =
    graft.operators.Analytics.zonemapPrunedFilesOf(spark, dir, valueCol, lo, hi)

  /** Compact the parquet files under `in` into ceil(bytes/targetBytes)
    * files at `out` — `coalesce`, never a shuffle (compaction moves
    * bytes, it must not repartition them). Returns
    * (filesBefore, filesAfter). Small-file compaction is the single
    * highest-leverage maintenance op at scale: a 100 TB table of 10 MB
    * files pays ~10M file-open round-trips per scan.
    */
  def compactParquet(spark: SparkSession, in: String, out: String,
      targetBytes: Long): (Int, Int) =
    graft.operators.Pipeline.compactParquet(spark, in, out, targetBytes)

  /** Integer PageRank over a directed edge frame (u LONG, v LONG); rank
    * mass flows u→v. Ranks are scaled to 1e9 and every step is BIGINT
    * arithmetic — deterministic under any summation order. Contract:
    * every node must appear as a source (an undirected graph — both
    * directions present — satisfies this); a target-only node
    * accumulates rank but contributes none. Returns (u, pr), lazy over
    * the cached adjacency (see the class note on pinned blocks).
    *
    * `saltDegree` > 0 enables the two-level SALTED adjacency for
    * power-law graphs: a node whose degree exceeds the threshold holds
    * its neighbor set across ≤`salts` rows (salt = hash(neighbor) mod
    * salts) instead of one unboundedly-wide row, with an extra
    * partial-sum reduce recovering total degrees; nodes at or below the
    * threshold re-merge to single rows. Ranks are bit-identical to the
    * unsalted layout — choose the threshold from the expected hub
    * degree (row-size bound), not from rank-accuracy concerns.
    */
  def pageRank(edges: DataFrame, iters: Int = 5, saltDegree: Long = 0L,
      salts: Int = 16): DataFrame =
    graft.operators.Analytics.pageRankOf(edges, iters, saltDegree, salts)

  /** PERSONALIZED PageRank (random walk with restart) from `seed`: the
    * recommendation primitive — ALL teleport mass returns to the seed,
    * so ranks measure walk proximity to it rather than global
    * centrality. Same integer-scaled recurrence, adjacency layouts
    * (including the salted hub split), and caller contract as
    * [[pageRank]]; the rank frame stays SPARSE (only nodes the walk has
    * reached carry rows — `iters` rounds touch the seed's `iters`-hop
    * ball, never the full node set). Returns (u, pr) for reached nodes.
    */
  def personalizedPageRank(edges: DataFrame, seed: Long, iters: Int = 3,
      saltDegree: Long = 0L, salts: Int = 16): DataFrame =
    graft.operators.Analytics.pprOf(edges, seed, iters, saltDegree, salts)

  /** Per-node LOCAL clustering coefficients over a canonical (u < v)
    * undirected edge frame: (node, degree, triangles, lcc) for every
    * node of degree ≥ 2, lcc = 2·T/(d·(d−1)) as one double division of
    * exact BIGINTs. Triangles enumerate once as a<b<c via two
    * wedge-closing equi-joins and credit their corners in-task; at
    * power-law scale pre-orient edges low-degree→high so wedge fan-out
    * is bounded by arboricity.
    */
  def localClustering(edges: DataFrame): DataFrame =
    graft.operators.Analytics.localClusteringOf(edges)

  /** Last-touch attribution: one row per `convType` event with the
    * latest strictly-prior `touchTypes` event by the same `userCol`
    * within `lookbackMicros` (column `touch`; 'none' when no touch
    * qualifies). Ordering is (tsMicrosCol, idCol) — pass a unique id.
    * Linear — one user-keyed shuffle — instead of the quadratic
    * conversion×touch self-join.
    */
  def lastTouch(events: DataFrame, userCol: String, typeCol: String,
      tsMicrosCol: String, idCol: String, touchTypes: Seq[String],
      convType: String, lookbackMicros: Long): DataFrame =
    graft.operators.Analytics.lastTouchOf(events, userCol, typeCol,
      tsMicrosCol, idCol, touchTypes, convType, lookbackMicros)

  /** Linear (multi-touch) attribution: each `convType` event splits one
    * unit of credit EQUALLY across all its strictly-prior `touchTypes`
    * events by the same `userCol` within `lookbackMicros`; conversions
    * with no qualifying touch credit 'none' in full. Returns one wide
    * row of per-type credits (`<type>_credit`), `none_credit`, and
    * `n_conversions`. Same ONE user-keyed shuffle as [[lastTouch]]
    * (RANGE-frame window counts, never the conversion×touch self-join);
    * credit shares are exact scaled-integer arithmetic, one double
    * division per output cell.
    */
  def linearTouch(events: DataFrame, userCol: String, typeCol: String,
      tsMicrosCol: String, touchTypes: Seq[String],
      convType: String, lookbackMicros: Long): DataFrame =
    graft.operators.Analytics.linearTouchOf(events, userCol, typeCol,
      tsMicrosCol, touchTypes, convType, lookbackMicros)

  /** Position-based (U-shaped) attribution: per `convType` event, the
    * first and last qualifying touches in the lookback get 40% of one
    * credit unit each and the middle touches split the remaining 20%
    * equally (one touch → 100%, two → 50/50, none → 'none' in full).
    * Same output shape, shuffle discipline, and exact scaled-integer
    * credit arithmetic as [[linearTouch]]. `tsMicrosCol` must be
    * non-negative; microsecond ties at the first/last position resolve
    * by touch-type name (documented model choice).
    */
  def positionTouch(events: DataFrame, userCol: String, typeCol: String,
      tsMicrosCol: String, touchTypes: Seq[String],
      convType: String, lookbackMicros: Long): DataFrame =
    graft.operators.Analytics.positionTouchOf(events, userCol, typeCol,
      tsMicrosCol, touchTypes, convType, lookbackMicros)

  /** Time-decay attribution: per `convType` event, one credit unit
    * splits across qualifying touches in proportion to recency weights
    * that halve per `halflifeMicros` of age, discretized into `buckets`
    * half-life-wide bands (band 0 freshest, weight 2^(buckets-1);
    * lookback = buckets·halflife) so the whole split stays in exact
    * integer arithmetic — see [[graft.operators.Analytics.timeDecayTouchOf]]
    * for the single-shuffle plan and the power-of-two discretization
    * rationale. Same output shape as [[linearTouch]].
    */
  def timeDecayTouch(events: DataFrame, userCol: String, typeCol: String,
      tsMicrosCol: String, touchTypes: Seq[String], convType: String,
      halflifeMicros: Long, buckets: Int = 4): DataFrame =
    graft.operators.Analytics.timeDecayTouchOf(events, userCol, typeCol,
      tsMicrosCol, touchTypes, convType, halflifeMicros, buckets)

  /** Exact sliding median of `valueCol` over the last `preceding`+1 rows
    * per `partCol`, ordered by `ordCols` (include a unique tie-break).
    * Adds column `med`; even counts interpolate as (lo+hi)·0.5. State is
    * O(frame) per row, never O(partition).
    */
  def slidingMedian(df: DataFrame, partCol: String, ordCols: Seq[Column],
      valueCol: String, preceding: Int = 6): DataFrame =
    graft.operators.Windows.slidingMedianOf(df, partCol, ordCols,
      valueCol, preceding)

  /** Top-`k` characteristic terms per `groupCol` by linearized TF-IDF
    * tf·(N/df) over whitespace tokens of `text`. `docs` needs
    * (doc_id LONG, groupCol STRING, text STRING); returns
    * (groupCol, term, tf, df, score).
    */
  def tfidfTopTerms(docs: DataFrame, groupCol: String, k: Int): DataFrame =
    graft.operators.Corpus.tfidfTopTermsOf(docs, groupCol, k)

  /** ANY-qualifying-sequence funnel (MATCH_RECOGNIZE semantics) — the
    * counterpart to [[funnel]]'s earliest-anchor formulation: a step
    * qualifies iff SOME qualified previous-step event lies within
    * `maxGapMicros` before it (witnessed by a carry-forward max, so a
    * user with view@0h, view@5h, click@13h converts on a 12 h gap).
    * `steps` = (eventType, maxGapMicros from the previous step; head
    * gap ignored); ordering is (`tusCol`, `idCol`) — pass a unique id.
    * One user Exchange + one sort for ALL steps. Returns one row
    * (u_step1..u_stepN).
    */
  def funnelAny(events: DataFrame, userCol: String, typeCol: String,
      tusCol: String, idCol: String, steps: Seq[(String, Long)]): DataFrame =
    graft.operators.Analytics.funnelAnyOf(events, userCol, typeCol,
      tusCol, idCol, steps)

  /** 2-D Pareto skyline: rows of `df` not dominated under (minimize
    * `minCol`, maximize `maxCol`); frontier ties all emitted. Sort +
    * running-max over the per-`minCol` best reduction — the global
    * window is bounded by the `minCol` DOMAIN, never the row count; no
    * quadratic dominance self-join.
    */
  def skyline(df: DataFrame, minCol: String, maxCol: String): DataFrame =
    graft.operators.Analytics.skylineOf(df, minCol, maxCol)

  /** First-order Markov transition matrix over per-`userCol` sequences
    * ordered by `ordCol` (pass a unique, engine-stable key — an id, not
    * a sub-µs timestamp): (from_type, to_type, n_trans, p) with p the
    * exact row probability. ONE user-keyed shuffle.
    */
  def markovTransitions(events: DataFrame, userCol: String,
      typeCol: String, ordCol: String): DataFrame =
    graft.operators.Analytics.markovTransitionsOf(events, userCol,
      typeCol, ordCol)

  /** Triangle census of an ORIENTED edge frame (u, v) with u < v: one
    * row (n_triangles, n_wedges, clustering). Orient by degree (low →
    * high) at power-law scale so wedge fan-out is bounded by
    * arboricity.
    */
  def triangleStats(edges: DataFrame): DataFrame =
    graft.operators.Analytics.triangleStatsOf(edges)

  /** Product-quantized top-k (ADC scoring) of `store` (id, embedding)
    * for every row of `probes` (probe_id, probe): per-subspace k-means
    * codebooks (`ksub` codewords × `m` subspaces), the store compressed
    * to m one-byte codes per vector (dim·4 B → m B), scored via a
    * broadcast (m × ksub) probe lookup table — stored floats are never
    * read at query time. Approximate by construction; recall gated in
    * ApiSpec on a clustered corpus, error bound in DedupSpec.
    */
  def pqTopK(store: DataFrame, probes: DataFrame, k: Int, m: Int = 8,
      ksub: Int = 16): DataFrame =
    graft.operators.Ann.pqTopKOf(store, probes, k, m, ksub)

  /** IVFPQ top-k (the FAISS-family workhorse layout): k-means routing
    * over `cells` cells + global PQ codebooks; each probe ADC-scores
    * only its `nprobe` routed cells' one-byte codes — nprobe/cells of
    * the store at m bytes per vector, stored floats never read at query
    * time. Codes quantize CELL RESIDUALS (vec − centroid(cell), the
    * FAISS IVFADC discipline — recovers within-cell recall at identical
    * bytes); pass `residual = false` for raw-vector codes. `store` =
    * (id, embedding), `probes` = (probe_id, probe).
    */
  def ivfpqTopK(store: DataFrame, probes: DataFrame, k: Int, cells: Int,
      nprobe: Int, m: Int = 8, ksub: Int = 16,
      residual: Boolean = true): DataFrame =
    graft.operators.Ann.ivfpqTopKOf(
      store, probes, k, cells, nprobe, m, ksub, residual)

  /** Robust median/MAD outliers: rows of `df` whose `valueCol` deviates
    * from its `seriesCol`-group median by more than k·1.4826·MAD; adds
    * (med, mad). Exact interpolated medians; the fact frame is never
    * reshuffled — both stats frames broadcast back.
    */
  def madOutliers(df: DataFrame, seriesCol: String, valueCol: String,
      k: Double = 3.0): DataFrame =
    graft.operators.Analytics.madOutliersOf(df, seriesCol, valueCol, k)

  /** ABC (Pareto 70/90) classification of `items` (keyCol, revCol) by
    * cumulative revenue share → (abc_class, n_items, class_revenue).
    * approx=false: exact running share — ONE single-partition sort over
    * O(items) rows; right while the item domain is bounded (parts, SKUs).
    * approx=true: the 100×-domain route — an `approx_percentile`
    * histogram buckets items map-side and the running share runs over
    * ≤`bins` bucket rows, so no task ever sorts the item domain; error
    * is at most one bucket's revenue at each class boundary.
    */
  def abcClasses(items: DataFrame, keyCol: String, revCol: String,
      approx: Boolean = false, bins: Int = 256): DataFrame =
    if (approx)
      graft.operators.Analytics.abcApproxOf(items, keyCol, revCol, bins)
    else graft.operators.Analytics.abcExactOf(items, keyCol, revCol)

  /** SemDeDup-style semantic dedup over `store` (id, embedding): k-means
    * the embedding space into `k` cells (the same distributed clustering
    * as [[ivfBuild]]), then test cosine near-duplication ONLY within each
    * cell — the cell assignment bounds the pair space exactly like the
    * MinHash band join bounds text dedup (no all-pairs anywhere).
    * Returns (id, cell, keep): a row keeps unless its cosine to a
    * LOWER-id row sharing a probed cell reaches `threshold`
    * (deterministic lowest-id survivor, the [[nearDupKeepList]]
    * convention). `probes` soft-assigns each row to its `probes` nearest
    * cells (LSH-style OR-amplification recovering boundary pairs classic
    * hard-assignment SemDeDup misses; pair space grows ≈ probes²-fold,
    * still cell-bounded — probes=1 is the classic trade-off). Size cells
    * via k ≈ n/target-cell so the within-cell quadratic stays bounded;
    * `maxCell` is the hot-cell safety valve (degenerate k-means,
    * boilerplate-heavy corpora): an oversized probed cell sub-salts by
    * id hash into ⌈size/maxCell⌉ blocks — pair work is bounded at
    * O(n·maxCell) and a split pair is missed, the LSH-band-cap contract.
    * The call is EAGER: the keep-list (O(n) narrow rows) is an eager
    * checkpoint, and the call releases the cached assignment and the
    * k-means centroid checkpoints before returning. The keep-list's
    * blocks pass to the caller: each call leaves exactly that one pin,
    * which [[scoped]] (or the frame's garbage collection) frees.
    */
  def semanticDedup(store: DataFrame, k: Int, threshold: Double,
      iters: Int = 3, probes: Int = 2, maxCell: Int = 10000): DataFrame =
    graft.operators.Dedup.semanticDedupOf(
      store, k, threshold, iters, probes, maxCell)

  /** Per-user RFM quintile scores over purchase events →
    * (user, r_score, f_score, m_score), each 1–5.
    * approx=false: `ntile(5)` over three global orderings (exact equal-
    * width quintiles; three single-partition sorts over O(users) rows).
    * approx=true: the 100×-user route — quintile boundaries from one
    * mergeable aggregate per metric, scored map-side against the
    * broadcast boundaries; no global sort, with ties landing in one
    * bucket instead of being force-split (scores can differ from
    * ntile by ±1 at bucket boundaries). The boundary estimator is the
    * `approx_percentile` sketch (fixed memory, unbounded cardinality)
    * or, with disc=true, EXACT `percentile_disc` boundaries — fully
    * deterministic, memory O(distinct metric values).
    */
  def rfmScores(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, valueCol: String,
      approx: Boolean = false, disc: Boolean = false): DataFrame =
    graft.operators.Analytics.rfmScoresOf(
      events, userCol, tsCol, typeCol, valueCol, exact = !approx, disc)

  /** Recall@k audit of ANY candidate search result against the exact
    * scan: `candidates` carries (probe_id, id) rows from whatever index
    * served the query (IVF, LSH, PQ, a graph, an external store); the
    * result is one (probe_id, hits, n_exact) row per probe — exact
    * integer counts, the index-health metric an operator monitors when
    * data drifts under a frozen index. Probes with zero surviving
    * candidates still report (hits 0), which is exactly the alert the
    * audit exists to raise. Cost: one exact [[cosineTopK]] pass plus an
    * O(probes·k) join — the candidate frame is never rescored.
    */
  def recallAudit(store: DataFrame, probes: DataFrame,
      candidates: DataFrame, k: Int): DataFrame =
    cosineTopK(store, probes, k).select(col("probe_id"), col("id")).as("x")
      .join(candidates.select(col("probe_id"), col("id")).as("a"),
        col("x.probe_id") === col("a.probe_id") &&
          col("x.id") === col("a.id"),
        "left_outer")
      .groupBy(col("x.probe_id").as("probe_id"))
      .agg(count(col("a.id")).as("hits"), count(lit(1)).as("n_exact"))

  /** Event-time timer sessionization of a STREAMING frame (user, ts):
    * per-user `gapMinutes`-gap sessions emitted once the watermark
    * proves the gap can't re-open, as (user_id, start_us, end_us,
    * n_events) in epoch-µs. Caller contract: `events` is a streaming
    * DataFrame with the watermark already set on `tsCol`, and the
    * session uses the RocksDB state-store provider (transformWithState
    * requires it). State per user is O(open sessions), not O(rows);
    * in-watermark late rows may BRIDGE two open sessions
    * (StreamingSpec pins the semantics).
    */
  def timerSessions(events: DataFrame, userCol: String, tsCol: String,
      gapMinutes: Int = 30): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    events
      .select(lit(0L).as("event_id"), col(tsCol).as("ts"),
        col(userCol).cast("long").as("user_id"),
        lit("").as("event_type"), lit(0.0).as("value"))
      .as[graft.operators.Streaming.Ev]
      .groupByKey(_.user_id)
      .transformWithState(
        new graft.operators.Streaming.TimerSessionProcessor(
          gapMinutes * 60L * 1000000L),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        org.apache.spark.sql.streaming.OutputMode.Update())
      .toDF()
  }

  /** Paragraph-level exact dedup with reassembly (the C4/RefinedWeb
    * boilerplate-removal step): segments each doc's text into
    * `segWords`-word paragraphs, keeps the globally-first occurrence of
    * each distinct segment, and reassembles the survivors per doc in
    * original order. `docs` needs (doc_id LONG, text STRING); returns
    * (doc_id, n_segs, n_dropped, kept_text). One content-keyed shuffle on
    * the segment text plus one doc_id reassembly shuffle — no driver
    * state, so a 100 TB corpus spreads by content.
    */
  def paragraphDedup(docs: DataFrame, segWords: Int = 20): DataFrame =
    graft.operators.Corpus.paragraphDedup(docs, segWords)

  /** CDC change-feed apply: compact `feed` to its highest-`seqCol` op per
    * key (ONE key shuffle, before touching the base), then apply over
    * `base` — last op `"D"` deletes the key, any other op takes the feed
    * value, untouched base rows carry. A delete followed by a later
    * upsert resurrects the key (last-write-wins). Returns
    * (k, action ∈ {carry, insert, update}, v).
    */
  def applyChanges(base: DataFrame, keyCol: String, valCol: String,
      feed: DataFrame, feedKeyCol: String, seqCol: String, opCol: String,
      feedValCol: String): DataFrame =
    graft.operators.Pipeline.applyChangesOf(
      base.select(col(keyCol).as("k"), col(valCol).as("v")),
      feed.select(col(feedKeyCol).as("k"), col(seqCol).as("seq"),
        col(opCol).as("op"), col(feedValCol).as("v")))

  /** k-core decomposition: iteratively peel nodes with degree < k from
    * the undirected (uCol, vCol) edge frame until stable; returns
    * (node, core_degree) for the surviving dense core. The edge frame is
    * pinned internally (each peel round and its convergence count
    * re-read it). See `Analytics.kCoreOf` for the per-round plan shape.
    */
  def kCore(edges: DataFrame, k: Int,
      uCol: String = "u", vCol: String = "v"): DataFrame =
    graft.operators.Analytics.kCoreOf(
      // canonicalize like the cluster-collapse kernel: symmetric or
      // duplicate representations of one undirected edge must count
      // ONCE toward degree, and self-loops never do — without this a
      // caller's {(a,b),(b,a)} doubling inflates every degree and
      // fabricates cores
      canonicalEdges(edges, uCol, vCol), k)

  private def canonicalEdges(edges: DataFrame, uCol: String,
      vCol: String): DataFrame =
    Pin.cut(edges.select(greatest(col(uCol), col(vCol)).as("u"),
        least(col(uCol), col(vCol)).as("v"))
      .where(col("u") =!= col("v"))
      .distinct())

  /** Single-source BFS hop counts over an undirected edge frame:
    * (node, hops) for every node reachable from `source` within
    * `maxHops` edges; unreachable nodes are absent. Frontier-expansion
    * rounds — per-round work O(frontier edges), O(E) total, frontier
    * and visited sets broadcast-gated. Edges are canonicalized like
    * [[kCore]] (symmetric duplicates collapse, self-loops drop).
    */
  def shortestHops(edges: DataFrame, source: Long, maxHops: Int = 30,
      uCol: String = "u", vCol: String = "v"): DataFrame =
    graft.operators.Analytics.shortestHopsOf(
      canonicalEdges(edges, uCol, vCol), source, maxHops)

  /** K-hop-bounded weighted shortest cost over an undirected weighted
    * edge frame: (node, cost) of the cheapest ≤`rounds`-edge path from
    * `source` (exactly `rounds` synchronous Bellman-Ford relaxations —
    * pick `rounds` from the expected diameter for full SSSP); nodes
    * not reached within the budget are absent. Costs must be
    * non-negative; duplicate/symmetric representations of one edge
    * collapse to their MINIMUM cost, self-loops drop. Per round: one
    * dist⋈edges join (dist node-sized, broadcast-gated) + a
    * min-combine — O(rounds · E), integer-exact when costs are.
    */
  def shortestCost(edges: DataFrame, source: Long, rounds: Int = 10,
      uCol: String = "u", vCol: String = "v",
      costCol: String = "cost"): DataFrame =
    graft.operators.Analytics.shortestCostOf(
      Pin.cut(edges.select(greatest(col(uCol), col(vCol)).as("u"),
          least(col(uCol), col(vCol)).as("v"), col(costCol).as("cost"))
        .where(col("u") =!= col("v"))
        .groupBy("u", "v").agg(min(col("cost")).as("cost"))), source, rounds)

  /** Common-neighbor link prediction over an undirected edge frame:
    * the top `topN` NON-adjacent pairs sharing >= 1 neighbor, as
    * (part_a, part_b, common, jaccard) with part_a < part_b, ordered by
    * (common DESC, part_a, part_b). Duplicate/symmetric edge
    * representations collapse, self-loops drop. Wedge-enumeration plan
    * — see [[graft.operators.Analytics.commonNeighborsOf]] for the
    * shape and the hot-middle cap that bounds hub fan-out: middles with
    * degree > `maxMiddleDegree` are dropped before the wedge self-join,
    * keeping candidate rows ≤ E·cap on power-law graphs.
    */
  def commonNeighbors(edges: DataFrame, topN: Int = 100,
      uCol: String = "u", vCol: String = "v",
      maxMiddleDegree: Int = 1000): DataFrame =
    graft.operators.Analytics.commonNeighborsOf(
      lowHighEdges(edges, uCol, vCol), topN, maxMiddleDegree)

  /** Synchronous label-propagation communities over an undirected edge
    * frame: exactly `iters` lockstep rounds, each re-labeling every
    * node with its neighbors' most frequent label (ties → smallest
    * label), starting from label = own id — fully deterministic.
    * Returns (node, community). Edges are canonicalized like
    * [[kCore]]; per-round cost is one edge⋈label join + a combiner
    * count, labels node-sized and broadcast-gated.
    */
  def labelPropagation(edges: DataFrame, iters: Int = 5,
      uCol: String = "u", vCol: String = "v"): DataFrame =
    graft.operators.Analytics.labelPropagationOf(
      canonicalEdges(edges, uCol, vCol), iters)

  /** Pairwise overlap of the member sets keyed by `keyCol`: for every
    * unordered pair of `itemCol` values, the number of keys containing
    * both, each item's key count, and Jaccard — (item_a, item_b, n_both,
    * n_a, n_b, jaccard). Basket formulation: the pair space is bounded
    * by per-key item counts, never by the key count.
    */
  def setOverlap(df: DataFrame, keyCol: String, itemCol: String): DataFrame =
    graft.operators.Analytics.setOverlapOf(df, keyCol, itemCol)

  /** Winsorized robust statistics: clip each `groupCol` group's
    * `valueCol` to its [loQ, hiQ] interpolated-percentile band, then
    * aggregate → (group, lo, hi, n, wmean). Deterministic: bounds
    * rounded before the clip, clipped values summed as DECIMAL.
    */
  def winsorizedStats(df: DataFrame, groupCol: String, valueCol: String,
      loQ: Double = 0.05, hiQ: Double = 0.95): DataFrame =
    graft.operators.Aggregations.winsorizedStatsOf(
      df, groupCol, valueCol, loQ, hiQ)

  /** Time-weighted average per key group over an irregularly-sampled
    * series: each value holds until the key's next sample (exact
    * integer-µs weights; the last sample per key drops). `df` needs the
    * key columns, `tsUsCol` (BIGINT µs), an order tiebreak column, and
    * an exact (decimal) value column → keyCols ++ (n_intervals, span_us,
    * twa).
    */
  def timeWeightedAvg(df: DataFrame, keyCols: Seq[String], tsUsCol: String,
      ordCol: String, vCol: String): DataFrame =
    graft.operators.Analytics.timeWeightedAvgOf(
      df, keyCols, tsUsCol, ordCol, vCol)

  /** LOW-HIGH canonicalization for the link-prediction kernels: their
    * adjacency anti-join matches candidate pairs generated with
    * part_a < part_b, so the edge frame must carry u < v (the
    * [[commonNeighbors]] orientation — NOT [[canonicalEdges]]', whose
    * greatest-first layout would silently skip the adjacency
    * exclusion).
    */
  private def lowHighEdges(edges: DataFrame, uCol: String,
      vCol: String): DataFrame =
    Pin.cut(edges.select(least(col(uCol), col(vCol)).as("u"),
        greatest(col(uCol), col(vCol)).as("v"))
      .where(col("u") =!= col("v"))
      .distinct())

  /** Resource-allocation link prediction over an undirected edge frame:
    * non-adjacent pairs scored Σ 1/deg(w) over common neighbors w,
    * exact integer-scaled (10¹² div deg) → (part_a, part_b, ra_scaled,
    * ra_score), top `topN`.
    */
  def resourceAllocationLinks(edges: DataFrame, topN: Int = 100,
      uCol: String = "u", vCol: String = "v",
      maxMiddleDegree: Int = 1000): DataFrame =
    graft.operators.Analytics.resourceAllocationOf(
      lowHighEdges(edges, uCol, vCol), topN, maxMiddleDegree)

  /** Adamic–Adar link prediction — [[resourceAllocationLinks]]'s
    * log-damped sibling (Σ 1/ln deg(w), ln quantized to exact integer
    * micro-units per degree value) → (part_a, part_b, aa_scaled,
    * aa_score), top `topN`.
    */
  def adamicAdarLinks(edges: DataFrame, topN: Int = 100,
      uCol: String = "u", vCol: String = "v",
      maxMiddleDegree: Int = 1000): DataFrame =
    graft.operators.Analytics.adamicAdarOf(
      lowHighEdges(edges, uCol, vCol), topN, maxMiddleDegree)

  /** Neighbor-set Jaccard link prediction — the third of the classic
    * trio: cn/(du+dv−cn) with an exact BIGINT ranking key → (part_a,
    * part_b, cn, un, jac_scaled, jaccard), top `topN`.
    */
  def jaccardLinks(edges: DataFrame, topN: Int = 100,
      uCol: String = "u", vCol: String = "v",
      maxMiddleDegree: Int = 1000): DataFrame =
    graft.operators.Analytics.jaccardLinksOf(
      lowHighEdges(edges, uCol, vCol), topN, maxMiddleDegree)

  /** Weekly cohort retention triangle: users cohort by first-active
    * week, each (cohort_week, week_offset) cell reports still-active
    * count and share → (cohort_week, week_offset, n_cohort, n_active,
    * retention). `df` needs a user column and an event-time column.
    */
  def retentionTriangle(df: DataFrame, userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame =
    graft.operators.Analytics.retentionTriangleOf(df, userCol, tsCol)

  /** Frequent 3-itemsets (Apriori level 3) over (basket, item) rows:
    * triples co-present in ≥ `minSupport` baskets → (part_a < part_b <
    * part_c, support), top `topN`. Baskets are pruned to frequent-pair
    * items before the cubic explode — support monotonicity makes the
    * prune lossless.
    */
  def aprioriTriples(df: DataFrame, basketCol: String, itemCol: String,
      minSupport: Int = 2, topN: Int = 100): DataFrame =
    graft.operators.Analytics.aprioriTriplesOf(
      df, basketCol, itemCol, minSupport, topN)

  /** Deterministic Poisson-bootstrap CI for the mean of `valueExpr` per
    * `groupCol` → (grp, n_rows, sample_mean, boot_lo, boot_hi).
    * `valueExpr` must be exact (decimal/integer); `keyExpr` must be a
    * row-unique string (the md5 seed). One hash per row, remixed per
    * replica; endpoints are index-selected order statistics.
    */
  def bootstrapCi(df: DataFrame, groupCol: String, valueExpr: Column,
      keyExpr: Column, replicas: Int = 50): DataFrame =
    graft.operators.Stats.bootstrapCiOf(
      df, groupCol, valueExpr, keyExpr, replicas)

  /** Spearman rank correlation over a BOUNDED joint value domain:
    * Pearson on tie-averaged ×2-integer ranks derived from the (x, y)
    * cell-count frame, moments in DECIMAL(38,0) → one row (n_rows,
    * spearman_rho). `df` needs the two columns; both must have bounded
    * distinct-value counts (the rank windows touch |distinct| rows).
    */
  def spearman(df: DataFrame, xCol: String, yCol: String): DataFrame =
    graft.operators.Stats.spearman(df, xCol, yCol)

  /** One-way ANOVA F of `value` (an exact decimal/integer column
    * expression) across the groups of `groupCol` → one row (n_total,
    * k_groups, ss_between, ss_within, f_stat, eta_sq). Cross-group
    * sums are integer-floored, so the result is shuffle-order-free.
    */
  def anovaF(df: DataFrame, groupCol: String, value: Column): DataFrame =
    graft.operators.Stats.anovaFOf(df, groupCol, value)

  /** Herfindahl–Hirschman concentration of `value` mass over the
    * members of `keyCol` within each `groupCol` → (grp, n_members,
    * hhi), HHI on the 0–10000 points scale.
    */
  def hhiConcentration(df: DataFrame, groupCol: String, keyCol: String,
      value: Column): DataFrame =
    graft.operators.Analytics.hhiOf(df, groupCol, keyCol, value)

  /** Theil–Sen robust trend of an integer series (tCol, yCol) → one
    * row (n_points, n_pairs, sen_slope): the median of all pairwise
    * slopes, index-selected deterministically. O(n²) pairs — feed an
    * AGGREGATED series (calendar buckets), not raw events; series
    * beyond `maxPoints` (default 2k ≈ 2·10⁶ pairs) fail fast before
    * the pair explode rather than OOMing an executor. Callers with a
    * legitimately longer aggregated series raise `maxPoints`
    * explicitly — the pair sort is a single task, O(maxPoints²).
    */
  def theilSenTrend(series: DataFrame, tCol: String, yCol: String,
      maxPoints: Long = graft.operators.Analytics.TheilSenMaxPoints)
      : DataFrame =
    graft.operators.Analytics.theilSenOf(series, tCol, yCol, maxPoints)

  /** Right-censored Kaplan–Meier survival of subject lifetime over
    * (idCol, tsCol) event rows → per duration month (months, n_risk,
    * n_events, n_censored, ln_survival). Subjects last seen within
    * `censorMonths` of the corpus end are censored; the curve ships
    * in exact micro-log space (apply exp downstream if needed).
    */
  def survivalKm(df: DataFrame, idCol: String, tsCol: String,
      censorMonths: Int = 6): DataFrame =
    graft.operators.Analytics.survivalKmOf(df, idCol, tsCol, censorMonths)

  /** Yule's K vocabulary-richness of (groupCol, tokenCol) token rows
    * → (grp, n_tokens, n_types, yule_k) — size-invariant, so corpora
    * of different volume compare honestly.
    */
  def yuleK(tokens: DataFrame, groupCol: String,
      tokenCol: String): DataFrame =
    graft.operators.Text.yuleKOf(tokens, groupCol, tokenCol)
}
