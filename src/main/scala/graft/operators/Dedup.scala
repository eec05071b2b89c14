package graft.operators

import graft.{Pin, Q, Tables}
import graft.functions.{cosine_sim, descending, minhash_shingles, simhash64,
  top_k, word_ngrams}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Near-duplicate detection suite (north-star LLM-data-pipeline surface):
  * exact n-gram Jaccard, MinHash+LSH, SimHash, and embedding-cosine — the
  * four standard corpus-dedup families, each with its 100 TB story:
  *
  *  - n-gram Jaccard is exact but O(n²); it runs here on a bounded block
  *    (doc_id < 200) as the verification oracle for the sketch methods.
  *  - MinHash+LSH is the scale path: signatures are scan-side, candidates
  *    come from a band-hash shuffle (equi-join, no cross product), and only
  *    candidates pay the exact-Jaccard verification.
  *  - SimHash reduces each doc to 64 bits; banding by 16-bit prefix keeps
  *    the pair search to hash-equal buckets.
  *  - Embedding-cosine finds semantic near-dups; blocking (here: `label`,
  *    in production: LSH/IVF cell) bounds the pair space.
  */
object Dedup {

  /** Distinct 3-word shingles of `text` (whitespace-tokenized) — the
    * codegen'd `word_ngrams` kernel (one split + one linear pass), NOT the
    * HOF-over-split formulation that re-evaluates `split` per element
    * reference (measured 12–40× slower on corpus scans). Same token
    * semantics as `string_split(text, ' ')`, so the DuckDB oracle twin
    * ([[OracleShingle]]) is unchanged.
    */
  private def shingles3: Column =
    array_distinct(word_ngrams(col("text"), 3))

  private def shingled(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .where(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"), shingles3.as("sh"))

  // UNROUNDED: |A∩B| and |A∪B| are exact ints, so the single IEEE
  // division is bit-identical cross-engine; a final round(...,4) was the
  // documented half-boundary trap (dyadic |A∪B|, e.g. 7/32, lands ON a
  // 4-dp half boundary where Spark and DuckDB rounding can disagree) —
  // and the rounded >= threshold compare could admit pairs the oracle's
  // unrounded compare rejects.
  private def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** DuckDB-side 3-shingle list (mirrors [[ShingleSql]]). */
  private val OracleShingle =
    """list_distinct(list_transform(
      |      generate_series(1, len(string_split(text, ' ')) - 2),
      |      i -> string_split(text, ' ')[i] || ' ' ||
      |           string_split(text, ' ')[i+1] || ' ' ||
      |           string_split(text, ' ')[i+2]))""".stripMargin

  /** Ground-truth component closure over the jac ≥ 0.5 pair graph — the
    * shared oracle of BOTH cluster-collapse queries (min-label and
    * large-star/small-star produce the same labeling by definition:
    * cluster_id = component minimum).
    */
  private val CollapseOracle =
    s"""WITH RECURSIVE
       |s AS (
       |  SELECT doc_id, $OracleShingle AS sh
       |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM s a JOIN s b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |        / len(list_distinct(a.sh || b.sh)) >= 0.5),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach AS (
       |  SELECT src AS doc_id, src AS r FROM edges
       |  UNION
       |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.doc_id)
       |SELECT doc_id, cluster_id, doc_id = cluster_id AS keep
       |FROM (SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id)
       |ORDER BY doc_id""".stripMargin

  /** MinHash(32)+LSH(8 bands × 4 rows) candidate pairs, exact-Jaccard
    * verified at `threshold`: the scale path for corpus dedup (candidates
    * from band-hash equi-buckets only — never a cross product).
    */
  private[graft] def minhashVerifiedPairs(s: SparkSession, d: String,
      threshold: Double): DataFrame =
    minhashVerifiedPairsOf(Tables.documents(s, d), threshold)

  /** Frame-parametric core (the library-user surface, re-exported as
    * `graft.api.Graft.minhashNearDupPairs`): `docs` needs (doc_id, text).
    */
  private[graft] def minhashVerifiedPairsOf(docs: DataFrame,
      threshold: Double, maxBucket: Int = 1000): DataFrame = Pin.scope {
    // scan-side signature: one string hash per shingle + 32 splitmix
    // lanes (the nested-HOF formulation recomputed ~1G string hashes at
    // sf0.1 — 100×+ slower than this kernel)
    val sig = docs
      .where(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"),
        minhash_shingles(col("text"), 32, 3).as("sig"))
    // three consumers (bucket count + both self-join sides) would each
    // recompute the scan + minhash kernel; pin the tiny (doc, band, bh)
    // frame once instead
    val rawBands = Pin.cache(sig.select(col("doc_id"),
        explode(expr(
          """transform(sequence(0, 7), b -> named_struct(
            |  'band', b,
            |  'bh', xxhash64(element_at(sig, 4*b + 1), element_at(sig, 4*b + 2),
            |                 element_at(sig, 4*b + 3), element_at(sig, 4*b + 4))))"""
            .stripMargin)).as("e"))
      .select(col("doc_id"), col("e.band").as("band"), col("e.bh").as("bh")))
    // hot-bucket cap — the 100 TB safety valve: a degenerate bucket with B
    // members yields B² candidate pairs (one boilerplate-heavy shingle
    // pattern can put millions of docs in one band bucket and melt the
    // self-join). Buckets over `maxBucket` are dropped, matching
    // production dedup practice (a pattern shared by >1000 docs is
    // boilerplate, not near-duplication — `text_boilerplate_ngrams` is
    // the operator that reports it). The HOT bucket list (size > cap) is
    // near-empty by construction, so it broadcasts and the bands frame is
    // filtered by a broadcast anti-join — never re-shuffled; the only
    // extra cost is one map-side-combined count of bucket keys. Fixture
    // buckets are far below any sane cap, so the oracled collapse
    // pipeline is unchanged (gate-checked).
    val hot = rawBands.groupBy("band", "bh")
      .agg(count(lit(1)).as("bn"))
      .where(col("bn") > maxBucket)
      .select("band", "bh")
    val bands = rawBands
      .join(broadcast(hot), Seq("band", "bh"), "left_anti")
    // candidates are O(dup clusters) tiny; caching stops the band join
    // from being recomputed for the id-list and the verification
    val cand = Pin.cache(bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct())
    // exact shingles ONLY for candidate docs (a semi-join first — the
    // shingle HOF over the full corpus costs more than the whole sketch)
    val candIds = cand
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    // join BEFORE the shingle projection — declared the other way round,
    // the HOF would run over the full corpus and only then be filtered
    val candSh = docs
      .join(broadcast(candIds), "doc_id")
      .where(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"), shingles3.as("sh"))
    val a = candSh.select(col("doc_id").as("doc_a"), col("sh").as("sha"))
    val b = candSh.select(col("doc_id").as("doc_b"), col("sh").as("shb"))
    // eager, O(verified pairs) rows: the scope releases `cand` and
    // `rawBands` on return instead of leaving them for the session
    Pin.now(cand.join(a, "doc_a").join(b, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        jaccard(col("sha"), col("shb")).as("jac"))
      .where(col("jac") >= threshold))
  }

  /** LSH BANDING SWEEP over one shared MinHash(32) signature — the
    * bands-vs-rows tuning table (the dedup analogue of the ANN
    * recall-vs-nprobe curve): for each banding (4×8, 8×4, 16×2) report
    * candidate volume, exact-Jaccard-verified pair count, recall vs the
    * finest banding, and candidate precision. Monotonicity is
    * STRUCTURAL: agreement on an r-row band implies agreement on both
    * its (r/2)-row halves, so each config's candidate set is contained
    * in the next-finer one — recall rises and precision falls as bands
    * narrow, and the 8×4 row reproduces the shipped
    * `dedup_minhash_lsh` config exactly (DedupSpec cross-gates the
    * counts). ONE signature pass feeds all three configs; each pair is
    * Jaccard-verified ONCE over the UNION candidate set (= the finest
    * config's set, by containment). The hot-bucket cap is computed at
    * the FINEST banding only (rpb=2 — the coarsest hash, so the largest
    * buckets) and the drop is PROPAGATED to the coarser configs: a band
    * row at rpb=r is dropped iff any of its covered rpb=2 sub-bands was
    * dropped for that doc. That keeps containment structural even past
    * the cap (a per-config cap would let an rpb=4 pair survive whose
    * rpb=2 bucket was dropped, pushing recall_vs_finest above 1.0), and
    * still melt-proofs every config: a surviving rpb=4/8 bucket is a
    * subset of its surviving rpb=2 sub-buckets, hence ≤ maxBucket.
    *
    * Plan shape (optimization r21): containment means the rpb=2
    * candidate set IS the union candidate set, so ONLY the finest
    * banding pays a band self-join; rpb=4/8 membership is decided PER
    * CANDIDATE PAIR from each doc's 8/4 coarser band-hash arrays
    * (zip-equality under a 16-bit dropped-sub-band mask — exactly the
    * old "row dropped iff any covered rpb=2 sub-band dropped for that
    * doc" rule), fused into the verification pass. This replaces the
    * former 3-config band union (28 rows/doc), two extra self-joins +
    * pair DISTINCTs, and the 48-rows/doc drop-propagation explode with
    * two broadcast joins over the candidate pairs and ONE global
    * aggregate — counts are pair-for-pair identical (same xxhash64 band
    * hashes, same cap rule; DedupSpec cross-gates the 8×4 row against
    * the shipped LSH pipeline and the monotone containment ordering).
    */
  private[graft] def bandSweepOf(docs: DataFrame, threshold: Double,
      maxBucket: Int = 1000): DataFrame = Pin.scope {
    val sig = Pin.cache(docs
      .where(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"),
        minhash_shingles(col("text"), 32, 3).as("sig")))
    // finest banding only (16 bands × 2 rows): the ONE band self-join
    val bands2 = Pin.cache(sig.select(col("doc_id"),
        explode(expr(
          """transform(sequence(0, 15), bi -> named_struct(
            |  'band', bi,
            |  'bh', xxhash64(element_at(sig, 2 * bi + 1),
            |                 element_at(sig, 2 * bi + 2))))""".stripMargin))
          .as("e"))
      .select(col("doc_id"), col("e.band").as("band"), col("e.bh").as("bh")))
    val hot2 = bands2.groupBy("band", "bh")
      .agg(count(lit(1)).as("bn"))
      .where(col("bn") > maxBucket)
      .select("band", "bh")
    // per-doc 16-bit mask of finest-band indices that fell into a hot
    // bucket (zero rows in the common no-hot-bucket case)
    val dropMask = bands2
      .join(broadcast(hot2), Seq("band", "bh"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(sum(expr("shiftleft(1L, cast(band AS int))")).as("dm"))
    val surviving = bands2.join(broadcast(hot2), Seq("band", "bh"),
      "left_anti")
    val pairs = Pin.cache(surviving.as("x").join(surviving.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct())
    val candIds = pairs
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    val candSh = docs
      .join(broadcast(candIds), "doc_id")
      .where(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"), shingles3.as("sh"))
    // per-doc coarser band-hash arrays + drop mask, restricted to
    // CANDIDATE docs (semi-join on candIds — the same discipline as
    // candSh) BEFORE the broadcast: only candidate-pair docs are ever
    // looked up below, and the unrestricted frame is O(corpus) — a
    // broadcast that dies at 100 TB (guide §3.1 / VERDICT r21 #1).
    // rpb=4/8 pair membership is decided from these arrays, never
    // from another self-join.
    val docFeat = sig
      .join(broadcast(candIds), Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        expr("""transform(sequence(0, 7), bi -> xxhash64(
               |  element_at(sig, 4 * bi + 1), element_at(sig, 4 * bi + 2),
               |  element_at(sig, 4 * bi + 3), element_at(sig, 4 * bi + 4)))"""
          .stripMargin).as("bh4"),
        expr("""transform(sequence(0, 3), bi -> xxhash64(
               |  element_at(sig, 8 * bi + 1), element_at(sig, 8 * bi + 2),
               |  element_at(sig, 8 * bi + 3), element_at(sig, 8 * bi + 4),
               |  element_at(sig, 8 * bi + 5), element_at(sig, 8 * bi + 6),
               |  element_at(sig, 8 * bi + 7), element_at(sig, 8 * bi + 8)))"""
          .stripMargin).as("bh8"))
      .join(dropMask, Seq("doc_id"), "left")
      .na.fill(0L, Seq("dm"))
    val verified = Pin.now(pairs
      .join(candSh.select(col("doc_id").as("doc_a"), col("sh").as("sha")),
        "doc_a")
      .join(candSh.select(col("doc_id").as("doc_b"), col("sh").as("shb")),
        "doc_b")
      .where(jaccard(col("sha"), col("shb")) >= threshold)
      .select("doc_a", "doc_b"))
    // a pair is an rpb=r candidate iff some band index agrees on the
    // r-row hash AND no covered rpb=2 sub-band was dropped for EITHER
    // doc (mask bits 2bi..2bi+1 for rpb=4, 4bi..4bi+3 for rpb=8) —
    // the exact drop-propagation rule of the 3-config join version
    val flagged = pairs
      .join(broadcast(docFeat.select(col("doc_id").as("doc_a"),
        col("bh4").as("bh4a"), col("bh8").as("bh8a"),
        col("dm").as("dma"))), "doc_a")
      .join(broadcast(docFeat.select(col("doc_id").as("doc_b"),
        col("bh4").as("bh4b"), col("bh8").as("bh8b"),
        col("dm").as("dmb"))), "doc_b")
      .join(verified.withColumn("v", lit(true)),
        Seq("doc_a", "doc_b"), "left")
      .select(
        expr("""exists(sequence(0, 7), bi ->
               |  element_at(bh4a, bi + 1) = element_at(bh4b, bi + 1)
               |  AND ((dma | dmb) & shiftleft(3L, 2 * bi)) = 0)"""
          .stripMargin).as("m4"),
        expr("""exists(sequence(0, 3), bi ->
               |  element_at(bh8a, bi + 1) = element_at(bh8b, bi + 1)
               |  AND ((dma | dmb) & shiftleft(15L, 4 * bi)) = 0)"""
          .stripMargin).as("m8"),
        coalesce(col("v"), lit(false)).as("v"))
    val counts = flagged.agg(
      count(lit(1)).as("c2"),
      count_if(col("m4")).as("c4"),
      count_if(col("m8")).as("c8"),
      count_if(col("v")).as("v2"),
      count_if(col("m4") && col("v")).as("v4"),
      count_if(col("m8") && col("v")).as("v8"))
    // one output row per config that HAS candidates (the 3-config
    // join version emitted no row for a candidate-less config);
    // recall is vs the finest config's verified count, as before
    Pin.now(counts
      .select(explode(array(
        struct(lit(4L).as("n_bands"), lit(8L).as("rows_per_band"),
          col("c8").as("n_candidates"), col("v8").as("n_verified"),
          col("v2").as("n_finest")),
        struct(lit(8L).as("n_bands"), lit(4L).as("rows_per_band"),
          col("c4").as("n_candidates"), col("v4").as("n_verified"),
          col("v2").as("n_finest")),
        struct(lit(16L).as("n_bands"), lit(2L).as("rows_per_band"),
          col("c2").as("n_candidates"), col("v2").as("n_verified"),
          col("v2").as("n_finest")))).as("r"))
      .select(col("r.*"))
      .where(col("n_candidates") > 0)
      .select(col("n_bands"), col("rows_per_band"),
        col("n_candidates"), col("n_verified"),
        (col("n_verified").cast("double") / col("n_finest"))
          .as("recall_vs_finest"),
        (col("n_verified").cast("double") / col("n_candidates"))
          .as("candidate_precision"))
      .orderBy("n_bands"))
  }

  /** SimHash near-dup pairs of `docs` (doc_id, text): 64-bit sketch per
    * doc, 4 bands × 16 bits, Hamming <= `maxHamming` verification within
    * hash-equal band buckets (equi-join — never a cross product). Same
    * hot-bucket cap as the MinHash path: short/templated docs collapse to
    * few sketch values, so one degenerate 16-bit band bucket with B
    * members would yield B² candidates and melt the self-join at corpus
    * scale; buckets over `maxBucket` are dropped (a band value shared by
    * >1000 docs is boilerplate, not near-duplication). The hot list is
    * near-empty by construction → broadcast anti-join; the only extra
    * cost is one map-side-combined count of bucket keys.
    */
  private[graft] def simhashPairsOf(docs: DataFrame, maxHamming: Int = 6,
      maxBucket: Int = 1000): DataFrame = Pin.scope {
    val sk = docs.select(col("doc_id"), simhash64(col("text")).as("sh"))
    // three consumers (bucket count + both self-join sides) would each
    // recompute the scan + simhash kernel; pin the small frame once
    val rawBands = Pin.cache(sk.select(col("doc_id"), col("sh"),
        explode(expr(
          """transform(sequence(0, 3), b -> named_struct(
            |  'band', b,
            |  'bv', (sh >> (16 * b)) & 65535))""".stripMargin)).as("e"))
      .select(col("doc_id"), col("sh"),
        col("e.band").as("band"), col("e.bv").as("bv")))
    val hot = rawBands.groupBy("band", "bv")
      .agg(count(lit(1)).as("bn"))
      .where(col("bn") > maxBucket)
      .select("band", "bv")
    val bands = rawBands.join(broadcast(hot), Seq("band", "bv"), "left_anti")
    // eager, O(verified pairs) rows: the scope releases rawBands on return
    Pin.now(bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.sh").bitwiseXOR(col("y.sh"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct())
  }

  /** Connected components over an undirected pair list by iterative
    * min-label propagation: every node's label converges to the minimum
    * doc_id reachable from it. Join-based — each round is one shuffle
    * join + aggregate, the standard Spark formulation; rounds needed =
    * graph diameter (dup clusters are near-cliques, so 2–3 in practice),
    * `maxIter` bounds pathological chains. `localCheckpoint` truncates
    * the growing lineage each round (on a cluster: checkpoint to durable
    * storage); convergence is detected by an empty changed-label diff.
    * Returns (doc_id, cluster_id) for every doc in >=1 pair.
    *
    * Broadcast posture at 100 TB: labels is O(nodes in the pair graph).
    * For dedup-cluster-sized graphs it is tiny next to edges and
    * broadcasting it keeps every round shuffle-free on the edge list —
    * but a corpus where hundreds of millions of docs sit in ≥1 near-dup
    * pair would blow the 8 GB broadcast ceiling. So the hint is
    * size-guarded: labels' row count (free — the frame is already
    * materialized by `localCheckpoint`) under `broadcastNodeLimit` →
    * broadcast; over → plain joins, and AQE picks the join strategy from
    * the actual sizes (shuffle-hash on the label key).
    *
    * Non-convergence is LOUD, never silent: min-label propagation moves
    * a label one hop per round, so a pair graph with diameter > maxIter
    * exits the loop with under-merged labels — a keep/drop list built
    * from them would split real clusters. With `failOnMaxIter` (default)
    * the exit throws IllegalStateException instead of returning the
    * partial labels; callers that knowingly want best-effort labels on a
    * pathological chain graph opt out and own the under-merge.
    */
  private[graft] def collapseClusters(pairs: DataFrame, maxIter: Int = 10,
      broadcastNodeLimit: Long = 20000000L,
      failOnMaxIter: Boolean = true): DataFrame = {
    val edges = Pin.cache(pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst"))))
    var labels = Pin.cut(edges.select(col("src").as("doc_id")).distinct()
      .withColumn("cluster_id", col("doc_id")))
    var pinned = labels
    // node count is fixed across rounds (labels keeps one row per node);
    // the count materializes the lazy checkpoint in the same job
    val smallGraph = labels.count() <= broadcastNodeLimit
    val hinted: DataFrame => DataFrame =
      if (smallGraph) broadcast(_) else identity
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      // labels/nbrMin are O(nodes) — under the size guard broadcast both
      // joins so a round never shuffles the edge list (its only shuffle
      // is the groupBy, map-side combined)
      val nbrMin = edges.join(hinted(labels), edges("dst") === labels("doc_id"))
        .groupBy(col("src"))
        .agg(min("cluster_id").as("nbr_min"))
      // one round job carries BOTH the new labels and the convergence
      // diff: the checkpoint is LAZY, so the isEmpty probe materializes
      // the blocks on its way (an early-exit probe that skips
      // partitions is completed by Spark's local-checkpoint finalizer,
      // which caches any missed partitions at job end — work the next
      // round needs anyway)
      val joined = Pin.cut(labels.join(hinted(nbrMin),
          labels("doc_id") === nbrMin("src"), "left")
        .select(col("doc_id"), col("cluster_id").as("old_cid"),
          least(col("cluster_id"),
            coalesce(col("nbr_min"), col("cluster_id"))).as("cluster_id")))
      converged = joined.where(col("cluster_id") =!= col("old_cid")).isEmpty
      // the probe materialized `joined`, so the round it read is dead
      Pin.release(pinned)
      pinned = joined
      labels = joined.select(col("doc_id"), col("cluster_id"))
      it += 1
    }
    if (!converged) {
      // the loop's LAST round observed a change, but that change may have
      // been the final one (in-loop detection needs an extra no-change
      // round: a diameter-d graph finishes propagating in round d and is
      // only DETECTED converged in round d+1). Probe once — diff only, no
      // label update — before declaring failure, so maxIter == diameter
      // returns the (correct) labels instead of throwing.
      val nbrMin = edges.join(hinted(labels), edges("dst") === labels("doc_id"))
        .groupBy(col("src"))
        .agg(min("cluster_id").as("nbr_min"))
      converged = labels.join(hinted(nbrMin),
          labels("doc_id") === nbrMin("src"), "left")
        .where(least(col("cluster_id"),
          coalesce(col("nbr_min"), col("cluster_id"))) =!= col("cluster_id"))
        .isEmpty
    }
    Pin.release(edges)
    if (!converged && failOnMaxIter)
      throw new IllegalStateException(
        s"collapseClusters did not converge in $maxIter rounds: the pair " +
          "graph's diameter exceeds maxIter and the labels are under-merged " +
          "(clusters would be silently split). Raise maxIter (rounds needed " +
          "= graph diameter; dedup graphs are near-cliques needing 2-3), " +
          "use collapseClustersLogN (O(log n) rounds) for long chains, or " +
          "pass failOnMaxIter=false to accept best-effort labels.")
    labels
  }

  /** Connected components by alternating large-star / small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    * the O(log n)-round alternative to [[collapseClusters]]'s
    * diameter-bounded min-label propagation, for pair graphs with long
    * chains (per-round cost is the same join+aggregate shape, but a path
    * graph of diameter 10^6 converges in ~20 rounds instead of 10^6).
    *
    *  - large-star: every node connects its LARGER neighbors to its
    *    current minimum neighbor (or itself) — halves long tails;
    *  - small-star: every node connects its smaller-or-equal neighbors
    *    (on the edge set oriented high→low) to its minimum — compacts
    *    stars onto their roots.
    *
    * Each round rewrites the edge list (one shuffle per star operation,
    * map-side combined aggregates for the per-node minimum) and a lazy
    * checkpoint truncates lineage; a superseded round is released once
    * a probe has materialized its successor, and the last round, which
    * the lazy result reads, stays with the caller. Convergence = the
    * edge set has stabilized into root stars: every source has exactly
    * ONE target AND no target has an outgoing edge. Both conditions are required — "all targets are
    * roots" alone fires early on graphs where a node still points at two
    * different roots (e.g. pairs {(7,5),(7,1),(8,5),(8,2)} after one
    * round: 5→1 and 5→2, components not yet merged). Star ops preserve
    * per-component connectivity, so the two conditions imply one star
    * per component, rooted at its minimum. Returns (doc_id, cluster_id)
    * for every doc in >= 1 pair — the same contract as
    * [[collapseClusters]] (self-pairs label themselves), and DedupSpec
    * proves the two agree on chains, cliques, and random graphs.
    */
  private[graft] def collapseClustersLogN(pairs: DataFrame,
      maxRounds: Int = 50): DataFrame = {
    // The round-1 convergence probe is skipped (see the loop comment), so
    // `converged` can never become true before a 1-round budget exits the
    // loop — maxRounds=1 would throw even on inputs that converge in one
    // round. The parameter is an O(log n) safety net, not a tuning knob;
    // 2 is the smallest budget the probe-skip supports.
    require(maxRounds >= 2,
      s"collapseClustersLogN: maxRounds=$maxRounds — the round-1 " +
        "convergence probe is elided, so budgets below 2 always throw; " +
        "use maxRounds >= 2")
    // every node ever seen — from the RAW pairs, BEFORE self-loops drop:
    // a doc whose only pair is (x, x) must still be labeled, and star
    // reduction can drop isolated-after-merge nodes from the edge list.
    // NOT checkpointed: callers pass an already-pinned `pairs` frame (the
    // contract this kernel documents), so deriving nodes at the final
    // join replans only a cheap in-memory scan — one fewer eager job.
    val nodes = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id")))
      .distinct()
    // canonical undirected edges, self-loops dropped, deduped; the
    // count below materializes them (at these graph sizes the per-round
    // JOB COUNT is the cost, not the rows)
    var edges = Pin.cut(pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct())
    // Size the per-round shuffles to the MATERIALIZED edge set: the
    // near-dup / co-purchase residual graph is orders of magnitude
    // smaller than the corpus (sf0.1 co-purchase: 3.6k edges), and an
    // O(log n)-round kernel at the session's partition count pays
    // (rounds × partitions) near-empty tasks of pure fixed overhead.
    // ~50k edges per partition (no floor: a residual graph that fits one
    // partition runs one task per stage, which is exactly what AQE's
    // coalescing produced under the old session-conf scoping), capped at
    // the session setting so a genuinely large graph keeps its
    // configured parallelism — the same size-to-data rule the streaming
    // state stores apply, applied to an iterative batch kernel. The
    // count is a cheap scan of the just-checkpointed in-memory blocks.
    // Scoping is PER-PLAN: each round frame carries an explicit
    // repartition(kernelParts, keys) whose Exchange the downstream
    // aggregate/join reuses (hash(keys, n) satisfies their clustered
    // distributions) — the sizing rides the kernel's own shuffles and
    // nothing leaks into the session: concurrent callers and unrelated
    // queries plan untouched (ADVICE r14).
    val sess = pairs.sparkSession
    val sessionParts = sess.conf.get("spark.sql.shuffle.partitions").toInt
    val kernelParts = math.min(sessionParts,
      (edges.count() / 50000L + 1L).toInt)
    // rounds whose successor no probe has materialized yet
    var superseded = List.empty[DataFrame]
    var converged = false
    var it = 0
    while (!converged && it < maxRounds) {
      // large-star: for each node u over its full neighborhood (both
      // orientations), attach strictly-larger neighbors to min(nbr, u)
      val nbrs = edges
        .union(edges.select(col("v").as("u"), col("u").as("v")))
        .repartition(kernelParts, col("u"))
      val mins = nbrs.groupBy("u")
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      // NOT checkpointed: its two consumers below land in ONE job, where
      // the trailing distinct's Exchange is reused (ReusedExchange), so
      // pinning it here would only add a materialization job per round
      // NOT deduped mid-round (one Exchange fewer per round): duplicate
      // (u, m) rows — two neighbors of u sharing a min — are harmless,
      // since min() below is duplicate-insensitive and the trailing
      // small.distinct() re-canonicalizes the round's output; row count
      // stays ≤ |E| either way (one row per swapped-orientation nbr)
      val large = nbrs.join(mins, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v"))
        .repartition(kernelParts, col("u"))
      // small-star: orient high->low, attach smaller-or-equal neighbors
      // (and u itself) to the minimum of the closed neighborhood
      val minsS = large.groupBy("u").agg(min(col("v")).as("m"))
      // the violations scan below is the round's ONLY job: its
      // aggregate consumes every partition of these blocks before
      // emitting, so nothing is left half-computed
      val small = Pin.cut(large.join(minsS, "u")
        .select(col("v"), col("m"), col("u"))
        .select(explode(array(
            struct(col("v").as("u"), col("m").as("v")),
            struct(col("u").as("u"), col("m").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .where(col("u") =!= col("v"))
        .repartition(kernelParts, col("u"), col("v"))
        .distinct())
      // fixed point (BOTH required — see scaladoc): one target per
      // source, and no target has an outgoing edge. ONE role-tagged
      // aggregation checks both — a node violates iff it sources two
      // edges (s > 1) or is both a source and a target (s, d >= 1) —
      // replacing the former distinct + groupBy + semi-join chain
      // (3 shuffles) with a single shuffle over the in-memory edges: at
      // round-overhead-dominated sizes the job shape per round IS the
      // cost, not the rows.
      superseded ::= edges
      edges = small
      // The ROUND-1 probe is skipped: star contraction converges in one
      // round only on an input that is already a min-labeled depth-1
      // star, and at the fixpoint both stars are IDEMPOTENT (they
      // re-derive the same edge set), so the cost of not noticing is
      // one cheap extra round on tiny pre-collapsed graphs — while
      // every real invocation saves a whole probe job + its per-round
      // plan/codegen (round 2's probe materializes both rounds' lazy
      // checkpoints as ONE cascade, the same fusion the fixed-round
      // kernels use).
      if (it >= 1) {
        val roles = edges.select(col("u").as("n"), lit(1L).as("s"),
            lit(0L).as("t"))
          .unionAll(edges.select(col("v").as("n"), lit(0L).as("s"),
            lit(1L).as("t")))
          .repartition(kernelParts, col("n"))
        val violations = roles.groupBy("n")
          .agg(sum(col("s")).as("s"), sum(col("t")).as("t"))
          .where(col("s") > 1 || (col("s") >= 1 && col("t") >= 1))
        converged = violations.isEmpty
        Pin.release(superseded: _*)
        superseded = Nil
      }
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"collapseClustersLogN did not stabilize in $maxRounds rounds " +
          "(expected O(log n)); the pair graph is adversarial or maxRounds " +
          "is set too low.")
    // depth-1 stars: u -> component min; roots label themselves
    nodes.join(edges.select(col("u").as("doc_id"), col("v").as("cid")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cid"), col("doc_id")).as("cluster_id"))
  }

  /** Frame-parametric edit-distance near-dup pairs (re-exported as
    * `graft.api.Graft.editDistancePairs`): `docs` needs (doc_id, text).
    * Length-bucket blocking (see the dedup_edit_distance comment): docs
    * equi-join on (maxDist+1)-wide length buckets (left side fans out to
    * self + adjacent buckets), the exact |Δlen| <= maxDist prefilter
    * re-checks inside the bucket, and only admitted pairs pay the
    * O(n·m) Levenshtein DP.
    *
    * Hot-bucket cap — same 100 TB safety valve as the MinHash/SimHash
    * paths: bucket key = floor(len/(maxDist+1)), so a templated corpus
    * where B docs share one length band yields B² admitted |Δlen| checks
    * (and near-B² DPs when lengths are equal). DOCS whose HOME bucket
    * exceeds `maxBucket` are removed before the fanout (broadcast
    * anti-join on the home key — the hot list is near-empty by
    * construction), so exclusion is symmetric: a hot-band doc
    * participates in no pair at all, in either join direction,
    * regardless of doc_id order. A length band shared by >1000 docs is
    * boilerplate/template output, not near-duplication, and at that
    * density the right pair source is the MinHash band join with this
    * DP as the per-candidate verifier. The only extra cost is one
    * map-side-combined count of bucket keys.
    */
  private[graft] def editDistancePairsOf(docs: DataFrame,
      maxDist: Int, maxBucket: Int = 1000): DataFrame = {
    val bw = maxDist + 1
    val raw = docs
      .select(col("doc_id"), col("text"), length(col("text")).as("n"),
        floor(length(col("text")) / bw).as("home"))
    val hot = raw
      .groupBy(col("home"))
      .agg(count(lit(1)).as("bn"))
      .where(col("bn") > maxBucket)
      .select("home")
    val base = raw.join(broadcast(hot), Seq("home"), "left_anti")
    val a = base.select(col("doc_id").as("doc_a"),
      col("text").as("ta"), col("n").as("na"),
      explode(array(col("home") - 1, col("home"), col("home") + 1)).as("bk"))
    val b = base.select(col("doc_id").as("doc_b"),
      col("text").as("tb"), col("n").as("nb"),
      col("home").as("bk"))
    a.join(b, Seq("bk"))
      .where(col("doc_a") < col("doc_b")
        && abs(col("na") - col("nb")) <= maxDist)
      // compute the DP once: a levenshtein in the filter AND the
      // projection would run the O(n·m) kernel twice per admitted pair
      .withColumn("d", levenshtein(col("ta"), col("tb")))
      .where(col("d") <= maxDist)
      .select(col("doc_a"), col("doc_b"), col("d"))
  }

  /** SemDeDup-style semantic dedup over `store` (id, embedding): k-means
    * the embedding space into `k` cells (the same distributed clustering
    * as the IVF index build), then test cosine near-duplication ONLY
    * within each cell — the cell assignment bounds the pair space exactly
    * like the MinHash band join bounds text dedup (no all-pairs anywhere;
    * cross-cell near-dups are missed by design — the published
    * recall/cost trade-off of the technique). Returns (id, cell, keep):
    * a row keeps unless its cosine to a LOWER-id row of the same cell
    * reaches `threshold` (deterministic lowest-id survivor). Size cells
    * via k ≈ n/target-cell so the within-cell quadratic stays bounded.
    *
    * `probes` > 1 turns on SOFT assignment — each row pair-tests inside
    * its `probes` nearest cells, not just its argmax cell. This is the
    * OR-amplification move (LSH's multi-table trick applied to the cell
    * space): a near-dup pair straddling a cell boundary is missed by
    * classic hard-assignment SemDeDup but co-locates here unless the two
    * rows' probe sets are fully disjoint. Cost is bounded and explicit:
    * the pair space grows ≤ probes² / (cells-per-row shrinkage) ≈ 4× at
    * probes=2 — still an equi-join on a cell key, never all-pairs.
    * EAGER: the O(n)-narrow keep-list is a `now` pin, and the call's
    * scope releases the cached assignment and the k-means centroid
    * checkpoints before returning; the keep-list passes to the caller.
    */
  private[graft] def semanticDedupOf(store: DataFrame, k: Int,
      threshold: Double, iters: Int = 3, probes: Int = 2,
      maxCell: Int = 10000): DataFrame = Pin.scope {
    val assign = Pin.cache(Ann.kmeansCells(
        store.select(col("id").as("vec_id"), col("embedding")), k, iters)
      .select(col("vec_id").as("id"), col("embedding"), col("cell")))
    // cell means of the final assignment — the routing table for the
    // soft probes (k rows, broadcast)
    val cents = assign.groupBy(col("cell"))
      .agg(graft.functions.vector_avg(col("embedding")).as("cent"))
    // top-`probes` cells per row: one vec-keyed combiner shuffle of n·k
    // tiny (score, cell) structs — k is user-bounded, so this is O(n)
    val soft = assign.select(col("id"), col("embedding"))
      .crossJoin(broadcast(cents))
      .select(col("id"), col("embedding"), col("cell"),
        cosine_sim(col("embedding"), col("cent")).as("cs"))
      .groupBy(col("id"))
      .agg(first(col("embedding")).as("embedding"),
        // cosine DESC, ties to the larger cell
        top_k(col("cs"), descending(col("cell")).as("cell_desc"), probes,
          col("cell")).as("top"))
      .select(col("id"), col("embedding"),
        explode(col("top.cell")).as("pcell"))
    val blocks = saltedCellBlocks(soft, maxCell)
    val dups = blocks
      .select(col("pcell"), col("id").as("a_id"),
        col("embedding").as("a_emb"))
      .join(blocks
        .select(col("pcell"), col("id").as("b_id"),
          col("embedding").as("b_emb")), Seq("pcell"))
      .where(col("a_id") < col("b_id") &&
        cosine_sim(col("a_emb"), col("b_emb")) >= threshold)
      .select(col("b_id").as("id"))
      .distinct()
    Pin.now(assign.join(dups.withColumn("dup", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cell"), col("dup").isNull.as("keep")))
  }

  /** Frame-parametric verbatim shared-window pairs (re-exported as
    * `graft.api.Graft.sharedWindowPairs`): `docs` needs (doc_id, text).
    * Pairs sharing ≥1 verbatim `w`-token window with the count of
    * distinct shared windows — the exact-substring dedup family's
    * candidate generator. Windows appearing in more than
    * `maxDocsPerWindow` docs are boilerplate and are dropped BEFORE the
    * self-join (the MinHash hot-bucket contract).
    */
  private[graft] def sharedWindowPairsOf(docs: DataFrame, w: Int,
      maxDocsPerWindow: Int): DataFrame = {
    val g = docs
      .where(size(split(col("text"), " ")) >= w)
      .select(col("doc_id"),
        explode(array_distinct(word_ngrams(col("text"), w))).as("g"))
    val hot = g.groupBy(col("g"))
      .agg(count(lit(1)).as("df"))
      .where(col("df") > maxDocsPerWindow)
      .select("g")
    val cool = g.join(broadcast(hot), Seq("g"), "left_anti")
    cool.select(col("g"), col("doc_id").as("doc_a"))
      .join(cool.select(col("g"), col("doc_id").as("doc_b")), Seq("g"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared_windows"))
  }

  /** Frame-parametric longest verbatim shared run (re-exported as
    * `graft.api.Graft.longestSharedRun`): per pair, the length in tokens
    * of the longest verbatim common span — consecutive shared `w`-token
    * windows along a position diagonal form a run of run+w−1 tokens
    * (gaps-and-islands; see the dedup_longest_shared_run query note).
    * The hot cap counts DISTINCT docs since windows repeat in a doc.
    */
  private[graft] def longestSharedRunOf(docs: DataFrame, w: Int,
      maxDocsPerWindow: Int): DataFrame = {
    val g = docs
      .where(size(split(col("text"), " ")) >= w)
      .select(col("doc_id"),
        posexplode(word_ngrams(col("text"), w)).as(Seq("pos", "g")))
    val hot = g.groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .where(col("df") > maxDocsPerWindow)
      .select("g")
    val cool = g.join(broadcast(hot), Seq("g"), "left_anti")
    val m = cool.select(col("g"), col("doc_id").as("doc_a"),
        col("pos").as("pa"))
      .join(cool.select(col("g"), col("doc_id").as("doc_b"),
        col("pos").as("pb")), Seq("g"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("pa"),
        (col("pb") - col("pa")).as("diag"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    m.withColumn("isl", col("pa") - row_number().over(win))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("isl"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg((max(col("cnt")) + lit(w - 1)).as("longest_tokens"))
  }

  /** Hot-cell safety valve for [[semanticDedupOf]] — the embedding
    * analogue of the MinHash hot-bucket cap: a probed cell larger than
    * `maxCell` (degenerate k-means, boilerplate-heavy corpora) would make
    * the within-cell self-join quadratic in the corpus, so oversized
    * cells SUB-SALT by a hash of the id into ⌈size/maxCell⌉ blocks and
    * pairs are tested within a block only. Trade-off is explicit and
    * documented: a near-dup pair split across sub-blocks of a hot cell
    * is missed (probability ≈ 1 − 1/blocks for a random pair), which is
    * the price of bounding worst-case pair work at O(n·maxCell) — the
    * same contract the LSH band cap makes. Cells at or under the cap
    * keep the single block (`salt` 0) and lose nothing.
    */
  private[graft] def saltedCellBlocks(soft: DataFrame, maxCell: Int)
      : DataFrame = {
    val sized = soft.withColumn("csz",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("pcell"))))
    sized
      .withColumn("blocks",
        ceil(col("csz") / lit(maxCell.toDouble)).cast("long"))
      .withColumn("pcell",
        concat(col("pcell").cast("string"), lit("#"),
          pmod(xxhash64(col("id")), greatest(col("blocks"), lit(1L)))))
      .drop("csz", "blocks")
  }

  val defs: Seq[Q] = Seq(

    // Exact pairwise n-gram Jaccard on a bounded block — the ground truth
    // the sketch methods are judged against.
    Q("dedup_ngram_jaccard",
      s"""WITH s AS (
         |  SELECT doc_id, $OracleShingle AS sh
         |  FROM documents
         |  WHERE doc_id < 200 AND len(string_split(text, ' ')) >= 3)
         |SELECT doc_a, doc_b, jac FROM (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |          / len(list_distinct(a.sh || b.sh)) AS jac
         |  FROM s a JOIN s b ON a.doc_id < b.doc_id)
         |WHERE jac >= 0.05
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      val sh = shingled(s, d).where(col("doc_id") < 200)
      val a = sh.select(col("doc_id").as("doc_a"), col("sh").as("sha"))
      val b = sh.select(col("doc_id").as("doc_b"), col("sh").as("shb"))
      // both predicates live IN the join condition, cheap one first: a
      // trailing .where(jac >= …) gets pushed into the BNLJ condition
      // ANDed in FRONT of doc_a < doc_b, evaluating the O(|sh|) jaccard
      // for every ORDERED pair (2× the work) instead of short-circuiting
      // on the id test; survivors (a handful) recompute jac in the
      // projection for free.
      a.join(b, col("doc_a") < col("doc_b") &&
          jaccard(col("sha"), col("shb")) >= 0.05)
        .select(col("doc_a"), col("doc_b"),
          jaccard(col("sha"), col("shb")).as("jac"))
        .orderBy("doc_a", "doc_b")
    },

    // Dedup threshold yield curve: decile histogram of pairwise Jaccard
    // over the same bounded verify block — what a curator reads BEFORE
    // committing to a near-dup threshold (is 0.8 a cliff or a slope on
    // this corpus?). floor(jac·10) is computed on the identical operand
    // chain both engines (one exact division, one multiply, one floor);
    // same block discipline as the ground-truth query above — at scale
    // the pair source is the MinHash band join and the histogram is the
    // same one combiner shuffle.
    Q("dedup_threshold_histogram",
      s"""WITH s AS (
         |  SELECT doc_id, $OracleShingle AS sh
         |  FROM documents
         |  WHERE doc_id < 200 AND len(string_split(text, ' ')) >= 3),
         |pairs AS (
         |  SELECT CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |          / len(list_distinct(a.sh || b.sh)) AS jac
         |  FROM s a JOIN s b ON a.doc_id < b.doc_id)
         |SELECT CAST(floor(jac * 10) AS BIGINT) AS jac_decile,
         |  CAST(count(*) AS BIGINT) AS n_pairs
         |FROM pairs
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val sh = shingled(s, d).where(col("doc_id") < 200)
      val a = sh.select(col("doc_id").as("doc_a"), col("sh").as("sha"))
      val b = sh.select(col("doc_id").as("doc_b"), col("sh").as("shb"))
      a.join(b, col("doc_a") < col("doc_b"))
        .select(floor(jaccard(col("sha"), col("shb")) * 10)
          .cast("long").as("jac_decile"))
        .groupBy("jac_decile")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("jac_decile")
    },

    // MinHash (32 hashes) + LSH (8 bands × 4 rows): candidates from
    // band-hash equi-buckets only, then exact-Jaccard verification of the
    // candidates. Hash-permutation-defined → no SQL oracle; recall vs the
    // exact method is property-tested in DedupSpec.
    Q.noOracle("dedup_minhash_lsh") { (s, d) =>
      minhashVerifiedPairs(s, d, 0.5).orderBy("doc_a", "doc_b")
    },

    // The LSH BANDING SWEEP — the bands×rows tuning table over one
    // shared MinHash(32) signature (the dedup analogue of
    // ann_recall_nprobe_curve): candidate volume, verified pairs,
    // recall vs the finest banding, and candidate precision for
    // 4×8 / 8×4 / 16×2. Containment is structural (an r-row band
    // agreement implies both (r/2)-row halves agree), the 8×4 row IS
    // the shipped dedup_minhash_lsh config, and DedupSpec cross-gates
    // that count plus the monotone recall/precision ordering.
    // Hash-permutation-defined → no SQL oracle.
    Q.noOracle("dedup_band_recall_curve") { (s, d) =>
      bandSweepOf(Tables.documents(s, d), threshold = 0.5)
    },

    // Verbatim shared-window dedup — the EXACT-SUBSTRING family
    // (the training-pipeline shape of Lee et al.'s "Deduplicating
    // Training Data Makes Language Models Better": two docs sharing a
    // long verbatim token window are near-dups even when global Jaccard
    // is low — a paragraph lifted into an otherwise-different page).
    // Pairs come from an 8-token-window equi-join (each doc's distinct
    // windows explode once; candidates share a window hash-bucket, never
    // a cross product), with the same hot-key cap as the MinHash path:
    // a window appearing in > 50 docs is boilerplate, not duplication,
    // and is dropped BEFORE the self-join so no degenerate window goes
    // quadratic. Emits (doc_a, doc_b, shared_windows); integer counts of
    // identical distinct-window sets — bit-identical cross-engine.
    Q("dedup_shared_ngram_window",
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents
        |  WHERE doc_id < 200 AND len(string_split(text, ' ')) >= 8),
        |g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(w) - 7),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
        |      || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6]
        |      || ' ' || w[i+7]))) AS g
        |  FROM t),
        |cool AS (
        |  SELECT g FROM (SELECT g, count(*) AS df FROM g GROUP BY 1)
        |  WHERE df <= 50)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       count(*) AS shared_windows
        |FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
        |WHERE a.g IN (SELECT g FROM cool)
        |GROUP BY 1, 2
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      sharedWindowPairsOf(
          Tables.documents(s, d).where(col("doc_id") < 200),
          w = 8, maxDocsPerWindow = 50)
        .orderBy("doc_a", "doc_b")
    },

    // Cluster collapse — the output a training-data pipeline actually
    // consumes: verified near-dup pairs → connected components (iterative
    // min-label propagation, join-based) → keep the min doc per cluster.
    // Oracled: on this corpus every jac>=0.5 pair sits at jac>=0.9, where
    // the 8x4-band LSH miss probability is <=1e-4 per pair and the seeded
    // sketch is deterministic — check.py proves candidate recall is exactly
    // 1 at every shipped SF, so the sketch pipeline hash-matches the exact
    // all-pairs oracle. The recursive CTE is the ground-truth component
    // closure; keep = "is the cluster representative".
    Q("dedup_minhash_collapse", CollapseOracle) { (s, d) =>
      collapseClusters(minhashVerifiedPairs(s, d, 0.5)
          .select("doc_a", "doc_b"))
        .select(col("doc_id"), col("cluster_id"),
          (col("doc_id") === col("cluster_id")).as("keep"))
        .orderBy("doc_id")
    },

    // The O(log n)-round large-star/small-star CC (the 100 TB diameter
    // path — min-label propagation needs O(diameter) rounds, star
    // contraction O(log n)) against the SAME recursive-CTE oracle:
    // component labeling is exact set equality, so the scale algorithm
    // is hash-proven per round, not only unit-tested on fixture graphs.
    Q("dedup_collapse_logn", CollapseOracle) { (s, d) =>
      collapseClustersLogN(minhashVerifiedPairs(s, d, 0.5)
          .select("doc_a", "doc_b"))
        .select(col("doc_id"), col("cluster_id"),
          (col("doc_id") === col("cluster_id")).as("keep"))
        .orderBy("doc_id")
    },

    // SimHash: 64-bit sketch per doc, 4 bands × 16 bits (pigeonhole: any
    // pair within Hamming distance 3 shares a band; distance 4-6 is caught
    // with high probability), Hamming <= 6 verification within buckets.
    // Sketch-defined → no SQL oracle.
    Q.noOracle("dedup_simhash") { (s, d) =>
      simhashPairsOf(Tables.documents(s, d)).orderBy("doc_a", "doc_b")
    },

    // Embedding-cosine near-dup on a blocked pair space (label = the
    // LSH/IVF-cell stand-in; vec_id bound keeps the pair count fixed
    // across scale factors).
    Q("dedup_embedding_cosine",
      """SELECT doc_a, doc_b, c FROM (
        |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
        |    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                                 CAST(b.embedding AS DOUBLE[])), 4) AS c
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND a.vec_id < b.vec_id
        |  WHERE a.vec_id < 2000 AND b.vec_id < 2000)
        |WHERE c >= 0.4
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d).where(col("vec_id") < 2000)
      val a = e.select(col("vec_id").as("doc_a"), col("label"),
        col("embedding").as("ea"))
      val b = e.select(col("vec_id").as("doc_b"),
        col("label").as("label_b"), col("embedding").as("eb"))
      a.join(b, col("label") === col("label_b") && col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          round(cosine_sim(col("ea"), col("eb")), 4).as("c"))
        .where(col("c") >= 0.4)
        .orderBy("doc_a", "doc_b")
    },

    // Edit-distance (fuzzy) near-dup verification — the fifth dedup
    // family: character-level Levenshtein catches small in-place edits
    // that shingle Jaccard dilutes and SimHash may miss. LENGTH-BUCKET
    // BLOCKING, not a cross product: |len(a)-len(b)| <= d lower-bounds
    // edit distance, so docs join only to their own and adjacent
    // (maxDist+1)-wide length buckets (left side fans out to 3 bucket
    // keys — an EQUI-join Catalyst hashes, never a BNLJ pair sweep),
    // the exact |Δlen| test re-checks inside the bucket, and only
    // admitted pairs pay the O(n·m) DP. The same (bucket -> prefilter ->
    // DP) cascade is the 100 TB shape; the doc_id < 300 block bounds the
    // oracle, not the join strategy. At corpus scale the pair source is
    // the MinHash band join with this verify per candidate.
    // Longest verbatim shared RUN — the statistic exact-substring dedup
    // actually thresholds on ("drop if ≥ N shared tokens"): consecutive
    // shared 8-token windows along a (pos_b − pos_a) DIAGONAL form a
    // verbatim common span of run + 7 tokens. Classic gaps-and-islands
    // over the matched window positions: windows keep their POSITIONS
    // (posexplode, not distinct), matches group by pair + diagonal,
    // islands key = pos − row_number. Both engines compute the identical
    // integer recurrence; position bases (0- vs 1-indexed) cancel in the
    // diagonal and island arithmetic. Same hot-window cap as
    // dedup_shared_ngram_window (by DISTINCT doc count, since windows
    // repeat within a doc here).
    Q("dedup_longest_shared_run",
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents
        |  WHERE doc_id < 200 AND len(string_split(text, ' ')) >= 8),
        |p AS (
        |  SELECT doc_id, w,
        |    unnest(generate_series(1, len(w) - 7)) AS pos
        |  FROM t),
        |g AS (
        |  SELECT doc_id, pos,
        |    w[pos] || ' ' || w[pos+1] || ' ' || w[pos+2] || ' ' || w[pos+3]
        |      || ' ' || w[pos+4] || ' ' || w[pos+5] || ' ' || w[pos+6]
        |      || ' ' || w[pos+7] AS g
        |  FROM p),
        |hot AS (
        |  SELECT g FROM (
        |    SELECT g, count(DISTINCT doc_id) AS df FROM g GROUP BY 1)
        |  WHERE df > 50),
        |m AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         a.pos AS pa, b.pos - a.pos AS diag
        |  FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
        |  WHERE a.g NOT IN (SELECT g FROM hot)),
        |r AS (
        |  SELECT doc_a, doc_b, diag,
        |    pa - row_number() OVER (
        |      PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS isl
        |  FROM m)
        |SELECT doc_a, doc_b, max(cnt) + 7 AS longest_tokens
        |FROM (SELECT doc_a, doc_b, diag, isl, count(*) AS cnt
        |      FROM r GROUP BY 1, 2, 3, 4)
        |GROUP BY 1, 2
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      longestSharedRunOf(
          Tables.documents(s, d).where(col("doc_id") < 200),
          w = 8, maxDocsPerWindow = 50)
        .orderBy("doc_a", "doc_b")
    },

    // SemDeDup-shape semantic dedup as an inventory query (facade:
    // `Graft.semanticDedup`): k-means cells bound the pair space — the
    // embedding analogue of the MinHash band join — and only WITHIN-cell
    // pairs pay the cosine test; the lowest id of a near-dup pair
    // survives. Sketch-defined (cell assignment comes from seeded
    // distributed k-means) → no SQL oracle; the rows-only check pins the
    // block size, and DedupSpec gates the keep-list's recall against the
    // ORACLED exact blocked method (`dedup_embedding_cosine`'s all-pairs
    // ground truth on the same bounded block). The vec_id bound fixes
    // the pair space across SFs, exactly as the exact twin does.
    Q.noOracle("dedup_semantic_cells") { (s, d) =>
      semanticDedupOf(
        Tables.embeddings(s, d).where(col("vec_id") < 2000)
          .select(col("vec_id").as("id"), col("embedding")),
        k = 8, threshold = 0.4, iters = 2)
        .orderBy("id")
    },

    Q("dedup_edit_distance",
      """WITH b AS (
        |  SELECT doc_id, text, length(text) AS n
        |  FROM documents WHERE doc_id < 300)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       levenshtein(a.text, b.text) AS d
        |FROM b a JOIN b b
        |  ON a.doc_id < b.doc_id AND abs(a.n - b.n) <= 5
        |WHERE levenshtein(a.text, b.text) <= 5
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      editDistancePairsOf(
          Tables.documents(s, d).where(col("doc_id") < 300), maxDist = 5)
        .orderBy("doc_a", "doc_b")
    },
  )
}
