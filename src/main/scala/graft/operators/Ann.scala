package graft.operators

import graft.{Pin, Q, Tables}
import graft.Harness.withConfs
import graft.functions._
import graft.streaming.Streams
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the embedding store
  * (north-star similarity-search surface). Exact brute-force top-k is
  * `rag_knn_topk`/`join_knn_topk`; these are the two standard scale paths:
  *
  *  - LSH: bucket every vector by random-hyperplane signature at write
  *    time; a probe scans only buckets within small Hamming distance of
  *    its own signature. At 100 TB the bucket column is a partition/
  *    cluster key, so the probe prunes partitions instead of filtering
  *    rows.
  *  - IVF: partition vectors into cells (here the fixture's `label` plays
  *    the k-means assignment), keep per-cell centroids (distributed
  *    `vector_avg` UDAF — no driver collect), probe the nprobe nearest
  *    cells exactly.
  *
  * The sketch paths are hash/assignment-defined → no SQL oracle (DedupSpec
  * asserts recall against the exact scan); the exact-scan family
  * (`ann_range_search`, `ann_filtered_topk`) is fully oracled, hash-
  * checking the cosine kernel itself against DuckDB.
  */
object Ann {

  val defs: Seq[Q] = Seq(

    Q.noOracle("ann_lsh_topk") { (s, d) =>
      // OR-amplification: L=3 independent signature tables (seeded
      // hyperplane sets); a vector is a candidate if ANY signature lands
      // within Hamming distance 5 of the probe's. Per-table recall on the
      // fixture's near-random embeddings is ~0.7 (cosine ~0.4 ⇒ ~0.34
      // per-plane flip; 5 of 12 planes), so three independent tables give
      // ~1-0.3^3 ≈ 0.97 — DedupSpec asserts >= 0.9 vs the exact scan. At
      // 100 TB each signature is its own partition/cluster key and the
      // disjunction becomes L bucket-joins unioned before the verify step;
      // here all signatures are scan-side codegen'd expressions, so one
      // pass computes all three.
      val seeds = Seq(42L, 1337L, 271828L)
      val e = seeds.zipWithIndex.foldLeft(Tables.embeddings(s, d)) {
        case (df, (sd, i)) =>
          df.withColumn(s"b$i", lsh_bucket(col("embedding"), 12, sd))
      }
      val probe = e.where(col("vec_id") === 0)
        .select(col("embedding").as("probe") +:
          seeds.indices.map(i => col(s"b$i").as(s"pb$i")): _*)
      val anyTableHits = seeds.indices
        .map(i => bit_count(col(s"b$i").bitwiseXOR(col(s"pb$i"))) <= 5)
        .reduce(_ || _)
      e.where(col("vec_id") =!= 0)
        .crossJoin(broadcast(probe))
        .where(anyTableHits)
        .select(col("vec_id"),
          round(cosine_sim(col("embedding"), col("probe")), 6).as("score"))
        .orderBy(col("score").desc, col("vec_id"))
        .limit(10)
    },

    // The optimizer-rule path (SURVEY §4.3 stretch goal): an EXACT top-k
    // program — no LSH in the user's query — rewritten by AnnTopKRewrite
    // into a bucket-pruned candidate scan because the session opted in.
    Q.noOracle("ann_rewrite_topk") { (s, d) =>
      import graft.plans.AnnTopKRewrite
      if (!s.experimental.extraOptimizations.contains(AnnTopKRewrite))
        s.experimental.extraOptimizations =
          s.experimental.extraOptimizations :+ AnnTopKRewrite
      val probe = Tables.embeddings(s, d).where(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).toArray
      val exact = Tables.embeddings(s, d)
        .where(col("vec_id") =!= 0)
        .select(col("vec_id"),
          cosine_sim(col("embedding"), lit_vector(probe)).as("score"))
        .orderBy(col("score").desc, col("vec_id"))
        .limit(10)
        .select(col("vec_id"), round(col("score"), 6).as("score"))
      // The rewrite fires at OPTIMIZATION time — i.e. when this frame is
      // executed, after this fn has returned — so the enable flag cannot
      // simply be set here and unset by the caller. Leaving it set leaked
      // session state: any later literal-probe cosine top-k in the same
      // session was silently rewritten to an approximate scan. Instead,
      // execute the k-row result eagerly under the flag (localCheckpoint
      // materializes the optimized — i.e. rewritten — plan distributedly;
      // k bounds the footprint) and restore the session's prior value.
      // ExtensionsSpec proves a subsequent exact top-k is NOT rewritten.
      withConfs(s, AnnTopKRewrite.EnabledKey -> "true")(
        Pin.now(exact))
    },

    // Self-contained IVF: cells come from a few distributed k-means
    // iterations (not the fixture's label column) — seeded deterministic
    // init, `vector_avg` UDAF recompute per round, no driver collect.
    // nprobe nearest cells are searched exactly. At 100 TB: `cell` is the
    // partition/cluster key, centroids (k rows) broadcast, and the
    // assignment crossJoin is n×k scan-side work.
    Q.noOracle("ann_ivf_topk") { (s, d) =>
      val e = Tables.embeddings(s, d)
      // k=4 cells, nprobe=3: the fixture's embeddings are near-random
      // (the probe's true top-10 sit at cosine ~0.3, barely above
      // background), which caps ANY sub-linear ANN's recall — measured:
      // k=8/nprobe=2 (~25% scanned) recalls only ~0.4 here. Real
      // embedding corpora cluster sharply and take k≫4 with small
      // nprobe; on this corpus ~0.9 recall costs ~75% scan, and k/nprobe
      // are the knobs that trade it.
      val assign = kmeansCells(e, k = 4, iters = 3)
      val cents = assign.groupBy("cell")
        .agg(vector_avg(col("embedding")).as("cent"))
      val probe = e.where(col("vec_id") === 0)
        .select(col("embedding").as("probe"))
      val topCells = cents.crossJoin(broadcast(probe))
        .select(col("cell"), cosine_sim(col("cent"), col("probe")).as("cs"))
        .orderBy(col("cs").desc, col("cell"))
        .limit(3)
      assign.join(broadcast(topCells.select("cell")), "cell")
        .where(col("vec_id") =!= 0)
        .crossJoin(broadcast(probe))
        .select(col("vec_id"),
          round(cosine_sim(col("embedding"), col("probe")), 6).as("score"))
        .orderBy(col("score").desc, col("vec_id"))
        .limit(10)
    },

    // Quantized scoring: the store carries int8-quantized vectors (4×
    // smaller — at 100 TB that is the difference between an in-memory and
    // a spilling store) and is scored DIRECTLY on the quantized bytes
    // with integer accumulators; cosine's per-vector scale invariance
    // means no dequantization and no stored scale. DedupSpec gates recall
    // and the quantization error bound vs exact float cosine.
    Q.noOracle("ann_quantized_topk") { (s, d) =>
      val q = Tables.embeddings(s, d)
        .select(col("vec_id"), quantize_i8(col("embedding")).as("qe"))
      val probe = q.where(col("vec_id") === 0)
        .select(col("qe").as("qprobe"))
      q.where(col("vec_id") =!= 0)
        .crossJoin(broadcast(probe))
        .select(col("vec_id"),
          round(cosine_sim_i8(col("qe"), col("qprobe")), 6).as("score"))
        .orderBy(col("score").desc, col("vec_id"))
        .limit(10)
    },

    // Product quantization — the other axis of store compression: int8
    // shrinks each DIMENSION to a byte (4×); PQ shrinks each SUBSPACE to
    // a one-byte codeword id (m=8 codes for dim=64 → 32×), and ADC
    // scoring reads only codes + an (m × ksub) probe lookup table. This
    // is the memory layout webscale vector stores (FAISS IVFPQ, SCANN)
    // run at; recall is gated in ApiSpec on the clustered corpus and the
    // approximation error bound vs exact cosine in DedupSpec.
    Q.noOracle("ann_pq_topk") { (s, d) =>
      val store = Tables.embeddings(s, d).where(col("vec_id") =!= 0)
        .select(col("vec_id").as("id"), col("embedding"))
      val probes = Tables.embeddings(s, d).where(col("vec_id") === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe"))
      pqTopKOf(store, probes, k = 10)
        .select(col("id").as("vec_id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("vec_id"))
    },

    // The persisted-index lifecycle: build the IVF index ONCE (cells as
    // parquet partition directories + a k-row centroid table), then every
    // probe reads only its nprobe cell partitions — static partition
    // pruning, PlanSpec-asserted by runtime scan metrics (3 of 4
    // partitions listed). The nprobe cell ids must be LITERALS for the
    // pruning to be static, so probe routing collects them — an O(nprobe)
    // driver read of a k-row table, the same bounded pattern as the
    // probe-vector head(); everything data-sized stays distributed.
    Q.noOracle("ann_ivf_persisted") { (s, d) =>
      val dir = ivfIndex(s, d)
      val probe = Tables.embeddings(s, d).where(col("vec_id") === 0)
        .select(col("embedding").as("probe"))
      val cells = routeCells(s, dir, probe, nprobe = 3)
      readLayer(s, s"${Streams.storeDataDir(dir)}/cells")
        .where(col("cell").isin(cells.toIndexedSeq: _*))
        .where(col("vec_id") =!= 0)
        .crossJoin(broadcast(probe))
        .select(col("vec_id"),
          round(cosine_sim(col("embedding"), col("probe")), 6).as("score"))
        .orderBy(col("score").desc, col("vec_id"))
        .limit(10)
    },

    // The DELETE/COMPACTION lifecycle as a query — the vector-store
    // maintenance operation production filtered-ANN needs (reference
    // analogue: the OpenSearch index CRUD surface,
    // OpenSearchConnection.java:21-36). A FRESH scratch index per run
    // (the lifecycle mutates it; the shared memoized index stays
    // immutable for the sibling queries): build cells + centroids,
    // tombstone every 7th vector — each routed to its cell by ONE
    // semi-join, ZERO data files rewritten at delete time — then
    // compact. Churn 1/7 ≈ 14% sits under the 20% rebuild threshold,
    // so only the cell partitions that HAVE tombstones are rewritten
    // into a new GENERATION dir (untouched cells hard-linked across,
    // atomic CURRENT cut-over — crash-safe publish) and the census
    // says so per cell. Deterministic because the k-means seeding is;
    // ApiSpec gates the post-delete census, both compaction paths,
    // crash-before-publish, and recall vs exact on the shrunken store.
    Q.noOracle("ann_ivf_delete_compact") { (s, d) =>
      val dir = Streams.scratchDir("ivf_life_")
      writeIndexLayers(s, dir,
        kmeansCells(Tables.embeddings(s, d), k = 4, iters = 3),
        withGraph = false, withPq = false)
      ivfDelete(s, dir,
        Tables.embeddings(s, d).where(col("vec_id") % 7 === 0)
          .select("vec_id"))
      ivfCompact(s, dir, rebuildChurn = 0.2)
    },

    // IVFPQ — the webscale layout both compressions compose into (the
    // FAISS index family's workhorse): the persisted index carries
    // cell-partitioned one-byte PQ CODES next to the float cells, a
    // probe routes through the k-row centroid table (static partition
    // pruning, same as ann_ivf_persisted) and ADC-scores ONLY its
    // routed cells' codes — the scoring scan reads nprobe/k of the
    // store at 1/32 the bytes per vector, floats never. Codes quantize
    // CELL RESIDUALS (FAISS IVFADC); scoring re-adds the centroid terms
    // from the k-row centroid table per routed cell (adcScoreResidual).
    Q.noOracle("ann_ivfpq_topk") { (s, d) =>
      val dir = ivfIndex(s, d)
      val probe = Tables.embeddings(s, d).where(col("vec_id") === 0)
        .select(lit(0L).as("probe_id"), col("embedding").as("probe"))
      val cells = routeCells(s, dir, probe, nprobe = 3)
      val root = Streams.storeDataDir(dir)
      val codes = readLayer(s, s"$root/pq_codes")
        .where(col("cell").isin(cells.toIndexedSeq: _*))
        .where(col("id") =!= 0)
      val cents = flatLayer(s, dir, root, "centroids")
        .where(col("cell").isin(cells.toIndexedSeq: _*))
      adcScoreResidual(codes, flatLayer(s, dir, root, "pq_codebook"),
          cents, probe, 8, 10)
        .select(col("id").as("vec_id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("vec_id"))
    },

    // Graph ANN inside the persisted IVF cells — the engine's answer to
    // the reference's OpenSearch k-NN = HNSW index (RAG.java:41-59,
    // OpenSearchConnection.java:21-36), re-expressed for a distributed
    // store the DiskANN/SPANN way: a coarse quantizer routes the probe to
    // nprobe cell PARTITIONS (static pruning, same as ann_ivf_persisted),
    // and within each routed cell a persisted bounded-degree neighbor
    // graph is beam-searched in ONE task instead of scanning the cell.
    // A monolithic HNSW is the wrong shape at 100 TB — one mutable
    // navigable small-world over 10^11 vectors can't shard, rebuild, or
    // broadcast; per-cell graphs partition-align, rebuild independently,
    // and bound both build memory and search fan-in (cell size is the
    // design knob). Search visits ~ef·degree of the cell instead of all
    // of it; DedupSpec gates recall vs the exact scan and asserts the
    // visited count stays below the cell population.
    Q.noOracle("ann_ivf_graph_topk") { (s, d) =>
      val dir = ivfIndex(s, d)
      val probeRow = Tables.embeddings(s, d).where(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).toArray
      val cells = routeCells(s, dir, Tables.embeddings(s, d)
        .where(col("vec_id") === 0).select(col("embedding").as("probe")),
        nprobe = 3)
      graphSearchCells(s, s"${Streams.storeDataDir(dir)}/graph",
          cells.toIndexedSeq, probeRow, k = 10, ef = 48)
        .where(col("vec_id") =!= 0)
        .select(col("vec_id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("vec_id"))
        .limit(10)
    },

    // Range search — the similarity family's other query shape: not the
    // k nearest but EVERYTHING above a similarity floor (the form dedup
    // thresholds and retrieval filters actually use). Exact scan, O(3)
    // probes broadcast against the store; fully SQL-expressible, so this
    // one carries a DuckDB oracle for the whole cosine kernel path.
    Q("ann_range_search",
      """SELECT probe_id, vec_id, c FROM (
        |  SELECT p.vec_id AS probe_id, e.vec_id AS vec_id,
        |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                 CAST(p.embedding AS DOUBLE[])), 4)
        |      AS c
        |  FROM embeddings e
        |  JOIN (SELECT vec_id, embedding FROM embeddings
        |        WHERE vec_id IN (0, 1, 2)) p
        |    ON e.vec_id <> p.vec_id)
        |WHERE c >= 0.3
        |ORDER BY probe_id, vec_id""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      val probes = e.where(col("vec_id").isin(0, 1, 2))
        .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
      e.crossJoin(broadcast(probes))
        .where(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          round(cosine_sim(col("embedding"), col("pe")), 4).as("c"))
        .where(col("c") >= 0.3)
        .orderBy("probe_id", "vec_id")
    },

    // Metadata-filtered vector search: top-5 per probe AMONG rows matching
    // a structured predicate (label = 1) — the "filtered ANN" shape every
    // production vector store serves (tenant / language / date filters).
    // The predicate is applied BEFORE scoring, pushed to the parquet scan
    // (PushedFilters), so the cosine kernel runs on the filtered subset
    // only; at 100 TB the filter column is a partition key and this
    // becomes partition pruning. Exact within the subset → SQL oracle.
    Q("ann_filtered_topk",
      """SELECT probe_id, rnk, vec_id, round(score, 6) AS score FROM (
        |  SELECT p.vec_id AS probe_id, e.vec_id AS vec_id,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                           CAST(p.embedding AS DOUBLE[])) AS score,
        |    row_number() OVER (
        |      PARTITION BY p.vec_id
        |      ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                 CAST(p.embedding AS DOUBLE[])) DESC, e.vec_id) AS rnk
        |  FROM (SELECT * FROM embeddings WHERE label = 1) e,
        |       (SELECT * FROM embeddings WHERE vec_id < 3) p
        |  WHERE e.vec_id <> p.vec_id)
        |WHERE rnk <= 5
        |ORDER BY probe_id, rnk""".stripMargin) { (s, d) =>
      val store = Tables.embeddings(s, d).where(col("label") === 1)
      val probes = Tables.embeddings(s, d).where(col("vec_id") < 3)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
      topKRows(store.crossJoin(broadcast(probes))
          .where(col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("vec_id"),
            cosine_sim(col("embedding"), col("pe")).as("score")),
          Seq("probe_id"), "score", "vec_id", 5, "rnk")
        .select(col("probe_id"), col("rnk"), col("vec_id"),
          round(col("score"), 6).as("score"))
        .orderBy("probe_id", "rnk")
    },

    // Index-health as a QUERY (not just a build-time spec gate): recall@10
    // of a routed cell search vs the exhaustive scan, per probe, emitted
    // as exact integer hit counts — what an operator monitors at 100 TB
    // where data drifts under a frozen index. This oracled variant uses
    // the one coarse quantizer a SQL oracle can reproduce: cells = the
    // `label` column, each cell represented by its min-vec_id member
    // vector (deterministic and float-exact — a mean centroid's partial-
    // sum ULPs could flip routing between engines). Route top-2 cells per
    // probe by representative cosine, search only those cells, count the
    // overlap with the exact top-10. All-integer output: nothing to
    // round, nothing to drift. The seeded-k-means twin below audits the
    // REAL persisted IVFPQ/graph index the same way (no SQL oracle — the
    // assignment is k-means-defined; ApiSpec cross-checks its numbers
    // against the inventory's own oracled exact and no-oracle IVFPQ
    // queries).
    Q("ann_recall_audit",
      """WITH probes AS (
        |  SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pe
        |  FROM embeddings WHERE vec_id < 8),
        |reps AS (
        |  SELECT label, CAST(min_by(embedding, vec_id) AS DOUBLE[]) AS rep
        |  FROM embeddings GROUP BY label),
        |routed AS (
        |  SELECT probe_id, label, pe FROM (
        |    SELECT p.probe_id, r.label, p.pe,
        |      row_number() OVER (PARTITION BY p.probe_id
        |        ORDER BY list_cosine_similarity(r.rep, p.pe) DESC, r.label)
        |        AS rn
        |    FROM reps r CROSS JOIN probes p)
        |  WHERE rn <= 2),
        |approx AS (
        |  SELECT probe_id, vec_id FROM (
        |    SELECT t.probe_id, e.vec_id,
        |      row_number() OVER (PARTITION BY t.probe_id
        |        ORDER BY list_cosine_similarity(
        |                   CAST(e.embedding AS DOUBLE[]), t.pe) DESC,
        |                 e.vec_id) AS rn
        |    FROM embeddings e JOIN routed t ON e.label = t.label
        |    WHERE e.vec_id <> t.probe_id)
        |  WHERE rn <= 10),
        |exact AS (
        |  SELECT probe_id, vec_id FROM (
        |    SELECT p.probe_id, e.vec_id,
        |      row_number() OVER (PARTITION BY p.probe_id
        |        ORDER BY list_cosine_similarity(
        |                   CAST(e.embedding AS DOUBLE[]), p.pe) DESC,
        |                 e.vec_id) AS rn
        |    FROM embeddings e CROSS JOIN probes p
        |    WHERE e.vec_id <> p.probe_id)
        |  WHERE rn <= 10)
        |SELECT x.probe_id, count(a.vec_id) AS hits, count(*) AS n_exact
        |FROM exact x LEFT JOIN approx a
        |  ON a.probe_id = x.probe_id AND a.vec_id = x.vec_id
        |GROUP BY x.probe_id
        |ORDER BY x.probe_id""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      val probes = e.where(col("vec_id") < 8)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
      val reps = e.groupBy("label")
        .agg(min_by(col("embedding"), col("vec_id")).as("rep"))
      val routed = topKRows(reps.crossJoin(broadcast(probes))
          .select(col("probe_id"), col("label"), col("pe"),
            cosine_sim(col("rep"), col("pe")).as("cs")),
          Seq("probe_id"), "cs", "label", 2, "rn")
        .select("probe_id", "label", "pe")
      // the routed search scans only 2 of the label cells per probe — at
      // scale `label` is the partition key and this is partition pruning
      val approx = top10(e.join(broadcast(routed), Seq("label")), "pe")
      val exact = top10(e.crossJoin(broadcast(probes)), "pe")
      exact.as("x")
        .join(approx.as("a"),
          col("x.probe_id") === col("a.probe_id") &&
            col("x.vec_id") === col("a.vec_id"),
          "left_outer")
        .groupBy(col("x.probe_id").as("probe_id"))
        .agg(count(col("a.vec_id")).as("hits"),
          count(lit(1)).as("n_exact"))
        .orderBy("probe_id")
    },

    // DIMENSION-TRUNCATION recall audit — the Matryoshka-representation
    // question every modern embedding deployment asks before cutting
    // its vector bill 4x: how much top-10 recall survives if search
    // reads only the FIRST 16 of 64 dimensions? Same integer-counts
    // discipline as ann_recall_audit (overlap of truncated-cosine
    // top-10 with full-dim top-10 per probe — nothing to round);
    // truncation is a pure prefix slice, so both engines score
    // IDENTICAL prefixes and the ranking arithmetic stays the shared
    // cosine kernel. At 100 TB the prefix lives as its OWN column (or
    // the leading bytes of a fixed ARRAY layout), so the truncated scan
    // is column pruning — reading 1/4 of the vector bytes — and the
    // full-dim vector is fetched only for the survivors' re-rank.
    Q("ann_dim_truncation_audit",
      """WITH probes AS (
        |  SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pe,
        |    CAST(embedding[1:16] AS DOUBLE[]) AS pe16
        |  FROM embeddings WHERE vec_id < 8),
        |trunc AS (
        |  SELECT probe_id, vec_id FROM (
        |    SELECT p.probe_id, e.vec_id,
        |      row_number() OVER (PARTITION BY p.probe_id
        |        ORDER BY list_cosine_similarity(
        |                   CAST(e.embedding[1:16] AS DOUBLE[]), p.pe16)
        |                   DESC,
        |                 e.vec_id) AS rn
        |    FROM embeddings e CROSS JOIN probes p
        |    WHERE e.vec_id <> p.probe_id)
        |  WHERE rn <= 10),
        |exact AS (
        |  SELECT probe_id, vec_id FROM (
        |    SELECT p.probe_id, e.vec_id,
        |      row_number() OVER (PARTITION BY p.probe_id
        |        ORDER BY list_cosine_similarity(
        |                   CAST(e.embedding AS DOUBLE[]), p.pe) DESC,
        |                 e.vec_id) AS rn
        |    FROM embeddings e CROSS JOIN probes p
        |    WHERE e.vec_id <> p.probe_id)
        |  WHERE rn <= 10)
        |SELECT x.probe_id, count(a.vec_id) AS hits, count(*) AS n_exact
        |FROM exact x LEFT JOIN trunc a
        |  ON a.probe_id = x.probe_id AND a.vec_id = x.vec_id
        |GROUP BY x.probe_id
        |ORDER BY x.probe_id""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      val probes = e.where(col("vec_id") < 8)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pe"),
          slice(col("embedding"), 1, 16).as("pe16"))
      val pairs = e.crossJoin(broadcast(probes))
        .withColumn("embedding16", slice(col("embedding"), 1, 16))
      val trunc = top10(pairs, "pe16", "embedding16")
      val exact = top10(pairs, "pe")
      exact.as("x")
        .join(trunc.as("a"),
          col("x.probe_id") === col("a.probe_id") &&
            col("x.vec_id") === col("a.vec_id"),
          "left_outer")
        .groupBy(col("x.probe_id").as("probe_id"))
        .agg(count(col("a.vec_id")).as("hits"),
          count(lit(1)).as("n_exact"))
        .orderBy("probe_id")
    },

    // The recall-vs-nprobe TUNING CURVE over the persisted IVF index —
    // the table every 100 TB ANN deployment needs before picking its
    // scan fraction: recall@10 at nprobe ∈ {1,2,3,4} against the exact
    // scan, in ONE pass. Every probe ranks ALL k centroids once
    // (k × probes broadcast rows), each candidate row fans out to the
    // nprobe levels that include its cell (sequence(cell_rank, k) — a
    // ≤k-way in-task explode, never a per-level rescan), and one
    // top_k per (probe, level) takes the top-10. Monotonicity is
    // structural (level n's candidate set ⊆ level n+1's) and AnnSpec
    // gates it plus the nprobe=k endpoint (full scan → recall 1.0).
    // No SQL oracle: cells are seeded-k-means-defined.
    Q.noOracle("ann_recall_nprobe_curve") { (s, d) =>
      val dir = ivfIndex(s, d)
      val e = Tables.embeddings(s, d)
      val w = org.apache.spark.sql.expressions.Window
      val probes = e.where(col("vec_id") < 4)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
      // rank all k=4 cells per probe by centroid cosine — the routing
      // table stays a DATAFRAME (no driver collect: the curve reads all
      // cells anyway, so static partition pruning buys nothing here)
      val root = Streams.storeDataDir(dir)
      val ranked = flatLayer(s, dir, root, "centroids")
        .crossJoin(broadcast(probes))
        .withColumn("cell_rank", row_number().over(
          w.partitionBy("probe_id")
            .orderBy(cosine_sim(col("cent"), col("pe")).desc, col("cell"))))
        .select("probe_id", "cell", "cell_rank", "pe")
      val topk = topKRows(readLayer(s, s"$root/cells")
          .join(broadcast(ranked), "cell")
          .where(col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("vec_id"),
            explode(sequence(col("cell_rank"), lit(4))).as("nprobe"),
            cosine_sim(col("embedding"), col("pe")).as("score")),
          Seq("probe_id", "nprobe"), "score", "vec_id", 10, "rn")
        .select("probe_id", "nprobe", "vec_id")
      val exact = top10(e.crossJoin(broadcast(probes)), "pe")
      val nEx = exact.agg(count(lit(1)).as("n_exact"))
      val hits = exact.join(topk, Seq("probe_id", "vec_id"))
        .groupBy("nprobe").agg(count(lit(1)).as("hits"))
      // left-join from the literal level frame so a level with ZERO
      // hits (legal at nprobe=1 on a hostile routing) still emits a row
      s.range(1, 5).select(col("id").cast("int").as("nprobe"))
        .join(hits, Seq("nprobe"), "left")
        .crossJoin(broadcast(nEx))
        .select(col("nprobe"),
          coalesce(col("hits"), lit(0L)).as("hits"), col("n_exact"),
          (coalesce(col("hits"), lit(0L)).cast("double")
            / col("n_exact")).as("recall_at_10"))
        .orderBy("nprobe")
    },

    // The persisted-index twin: recall@10 of the REAL seeded IVFPQ (ADC
    // over routed cells' byte codes) and per-cell graph search, vs the
    // exact scan, for probes 0-3 — the operational health check for the
    // index ann_ivf_persisted/ann_ivfpq_topk/ann_ivf_graph_topk serve
    // from. No SQL oracle (cells are seeded-k-means-defined); ApiSpec
    // cross-checks the probe-0 rows against the intersection of the
    // inventory's own ann_ivfpq_topk / ann_ivf_graph_topk outputs with
    // the oracled exact top-k.
    Q.noOracle("ann_recall_audit_persisted") { (s, d) =>
      import s.implicits._
      val dir = ivfIndex(s, d)
      val e = Tables.embeddings(s, d)
      val probeFrame = e.where(col("vec_id") < 4)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe"))
      // ONE routing pass for all probes (k centroid rows × 4 probes →
      // 12 bounded driver-side pairs, the routeCells precedent)
      val root = Streams.storeDataDir(dir)
      val routingRows = topKRows(flatLayer(s, dir, root, "centroids")
          .crossJoin(broadcast(probeFrame))
          .select(col("probe_id"), col("cell"),
            cosine_sim(col("cent"), col("probe")).as("cs")),
          Seq("probe_id"), "cs", "cell", 3, "rn")
        .select(col("probe_id"), col("cell"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val unionCells = routingRows.map(_._2).distinct.toIndexedSeq
      // ONE ADC pass for all probes: codes of the routed-cell UNION,
      // bound per probe through the r_pid channel (a code row joins only
      // the probes actually routed to its cell), self-matches excluded
      val routing = routingRows.toSeq.toDF("r_pid", "cell")
      val codes = readLayer(s, s"$root/pq_codes")
        .where(col("cell").isin(unionCells: _*))
        .join(broadcast(routing), "cell")
        .where(col("id") =!= col("r_pid"))
      val ivfpq = adcScoreResidual(codes,
          flatLayer(s, dir, root, "pq_codebook"),
          flatLayer(s, dir, root, "centroids")
            .where(col("cell").isin(unionCells: _*)),
          probeFrame, 8, 10)
        .select(col("probe_id"), lit("ivfpq").as("method"),
          col("id").as("vec_id"))
      // ONE graph pass for all probes: each cell task beam-searches only
      // the probes routed to it
      val pvecs = e.where(col("vec_id") < 4)
        .select(col("vec_id"), col("embedding"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
        .toMap
      val routedByProbe = routingRows.groupBy(_._1).toSeq
        .map { case (p, rs) => (p, pvecs(p), rs.map(_._2).toSet) }
        .sortBy(_._1)
      val graph = topKRows(graphSearchMulti(readLayer(s, s"$root/graph"),
            routedByProbe, k = 12, ef = 48)
          .where(col("vec_id") =!= col("probe_id")),
          Seq("probe_id"), "score", "vec_id", 10, "rn")
        .select(col("probe_id"), lit("graph").as("method"), col("vec_id"))
      val perProbe = ivfpq.unionByName(graph)
      val probes = e.where(col("vec_id") < 4)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
      val exact = top10(e.crossJoin(broadcast(probes)), "pe")
      exact.as("x")
        .join(broadcast(perProbe).as("a"),
          col("x.probe_id") === col("a.probe_id") &&
            col("x.vec_id") === col("a.vec_id"))
        .groupBy(col("a.probe_id").as("probe_id"), col("a.method"))
        .agg(count(lit(1)).as("hits"))
        .unionByName(
          // zero-hit (probe, method) pairs must still report: recall 0 is
          // exactly the alert the audit exists to raise
          perProbe.select("probe_id", "method").distinct()
            .withColumn("hits", lit(0L)),
          allowMissingColumns = false)
        .groupBy("probe_id", "method")
        .agg(max(col("hits")).as("hits"))
        .withColumn("n_exact", lit(10L))
        .orderBy("probe_id", "method")
    },
  )

  /** In-JVM cosine for the graph build/search kernels (the codegen'd
    * `cosine_sim` expression serves declarative plans; graph traversal is
    * genuinely imperative per-partition work — mapPartitions territory).
    */
  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var i = 0; var dot = 0.0; var na = 0.0; var nb = 0.0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i); i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** SPANN-style closure replication — the cross-cell stitch for the
    * per-cell graph ANN: a node whose runner-up centroid similarity is
    * within `eps` of its best gets a REPLICA row in that runner-up
    * cell, so each cell's graph also contains its geometric fringe from
    * adjacent cells and a beam search can surface near-boundary
    * neighbors a mis-routed (or under-probed) query would otherwise
    * lose entirely. Growth is bounded and local: at most one replica
    * per node (≤2× rows, only boundary nodes pay it), decided by an
    * O(n·k) broadcast scoring pass — no all-pairs, no cross-cell join
    * at search time. Search-side, [[graphSearchOf]] merges duplicate
    * hits by id, so replication is invisible in results.
    */
  private[graft] def stitchAssignment(
      assign: org.apache.spark.sql.DataFrame, eps: Double = 0.05)
      : org.apache.spark.sql.DataFrame = {
    val cents = assign.groupBy("cell")
      .agg(vector_avg(col("embedding")).as("cent"))
    val top2 = assign.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("cell"),
        cosine_sim(col("embedding"), col("cent")).as("cs"))
      .groupBy(col("vec_id"))
      .agg(first(col("embedding")).as("embedding"),
        // cosine DESC, ties to the larger cell
        top_k(col("cs"), descending(col("cell")).as("cell_desc"), 2,
          col("cell")).as("top"))
    val replicas = top2
      .where(size(col("top")) >= 2 &&
        col("top")(1)("cs") >= col("top")(0)("cs") - eps)
      .select(col("vec_id"), col("embedding"),
        col("top")(1)("cell").as("cell"))
    assign.select(col("vec_id"), col("embedding"), col("cell"))
      .unionByName(replicas)
  }

  /** Build the per-cell neighbor graphs for a (vec_id, embedding, cell)
    * assignment: each cell's vectors get a bounded-degree (`m`) exact
    * nearest-neighbor adjacency, computed INSIDE the cell's task after a
    * repartition on cell — O(cell²) pairwise work bounded by cell size
    * (the IVF design knob; a cell is sized to fit one task by
    * construction, the same contract DiskANN places on its shards).
    * Deterministic: ties break on neighbor id. Returns
    * (vec_id, embedding, neighbors, cell) — embeddings ride along so a
    * search reads ONE partition-pruned table.
    */
  private[graft] def buildCellGraphs(assign: org.apache.spark.sql.DataFrame,
      m: Int): org.apache.spark.sql.DataFrame = {
    val s = assign.sparkSession
    import s.implicits._
    // cell normalizes to string (callers pass long k-means ids or string
    // partition values; the graph table's partition column is string)
    assign.select(col("vec_id"), col("embedding"),
        col("cell").cast("string").as("cell"))
      .as[(Long, Array[Float], String)]
      .repartition(col("cell"))
      .mapPartitions { it =>
        // a hash partition may hold several cells: group, then graph each
        it.toSeq.groupBy(_._3).iterator.flatMap { case (cell, rows) =>
          val nodes = rows.sortBy(_._1).toArray
          nodes.iterator.map { case (id, emb, _) =>
            val nbrs = nodes.view
              .filter(_._1 != id)
              .map { case (oid, oemb, _) => (cos(emb, oemb), oid) }
              .toArray
              .sortBy { case (c, oid) => (-c, oid) }
              .take(m).map(_._2)
            (id, emb, nbrs, cell)
          }
        }
      }
      .toDF("vec_id", "embedding", "neighbors", "cell")
  }

  /** Beam-search the persisted per-cell graphs at `graphDir` for `probe`:
    * reads ONLY the `cells` partitions (static pruning — cell ids are
    * literals), then delegates to [[graphSearchOf]].
    */
  private[graft] def graphSearchCells(s: org.apache.spark.sql.SparkSession,
      graphDir: String, cells: Seq[String], probe: Array[Float],
      k: Int, ef: Int): org.apache.spark.sql.DataFrame =
    graphSearchOf(
      readLayer(s, graphDir).where(col("cell").isin(cells: _*)),
      probe, k, ef)

  /** The in-task beam kernel shared by the single- and multi-probe graph
    * searches: best-first beam of width `ef` from the deterministic
    * min-vec_id entry over one cell's adjacency map. Returns the top-k
    * (id, score, nVisited) rows.
    */
  private def beamSearch(byId: Map[Long, (Array[Float], Array[Long])],
      probe: Array[Float], k: Int, ef: Int): Iterator[(Long, Double, Long)] =
    if (byId.isEmpty) Iterator.empty
    else {
      val entry = byId.keysIterator.min
      // beam: best ef seen so far (min-heap on score); frontier:
      // unexpanded candidates (max-heap on score)
      val beam = scala.collection.mutable.PriorityQueue
        .empty[(Double, Long)](Ordering.by(t => (-t._1, t._2)))
      val frontier = scala.collection.mutable.PriorityQueue
        .empty[(Double, Long)](Ordering.by(t => (t._1, -t._2)))
      val visited = scala.collection.mutable.HashSet[Long](entry)
      val e0 = (cos(byId(entry)._1, probe), entry)
      beam.enqueue(e0); frontier.enqueue(e0)
      while (frontier.nonEmpty &&
          (beam.size < ef || frontier.head._1 >= beam.head._1)) {
        val (_, cur) = frontier.dequeue()
        byId(cur)._2.foreach { nb =>
          if (byId.contains(nb) && visited.add(nb)) {
            val sc = (cos(byId(nb)._1, probe), nb)
            if (beam.size < ef) { beam.enqueue(sc); frontier.enqueue(sc) }
            else if (sc._1 > beam.head._1) {
              beam.dequeue(); beam.enqueue(sc); frontier.enqueue(sc)
            }
          }
        }
      }
      val nVisited = visited.size.toLong
      beam.toSeq.sortBy(t => (-t._1, t._2)).take(k)
        .map { case (score, id) => (id, score, nVisited) }.iterator
    }

  /** Frame-parametric beam search over per-cell neighbor graphs (the
    * `Graft.cellGraphTopK` facade surface): `graph` carries
    * (vec_id, embedding, neighbors, cell) rows — [[buildCellGraphs]]
    * output, already cell-filtered by the caller's routing. ONE task per
    * cell walks its graph: best-first beam of width `ef` from a
    * deterministic entry (min vec_id); neighbors of the current best
    * expand until no frontier node can improve the beam. Emits each
    * searched cell's top-`k` (vec_id, score) plus the visited count —
    * the scan-fraction evidence the specs gate on. Per-cell results are
    * O(k·cells) rows; the global top-k is a TakeOrdered over them.
    */
  private[graft] def graphSearchOf(graph: org.apache.spark.sql.DataFrame,
      probe: Array[Float], k: Int, ef: Int): org.apache.spark.sql.DataFrame = {
    val s = graph.sparkSession
    import s.implicits._
    graph
      .select(col("vec_id"), col("embedding"), col("neighbors"),
        col("cell").cast("string").as("cell"))
      .as[(Long, Array[Float], Array[Long], String)]
      .repartition(col("cell"))
      .mapPartitions { it =>
        it.toSeq.groupBy(_._4).iterator.flatMap { case (_, rows) =>
          val byId = rows.map(r => r._1 -> (r._2, r._3)).toMap
          beamSearch(byId, probe, k, ef)
        }
      }
      .toDF("vec_id", "score", "visited")
      // closure replicas ([[stitchAssignment]]) can surface the same id
      // from two searched cells — merge to one row per id (scores are
      // identical by construction; visited keeps the max for the
      // scan-fraction gates). O(k·cells) rows, trivial shuffle.
      .groupBy("vec_id")
      .agg(max("score").as("score"), max("visited").as("visited"))
  }

  /** Multi-probe graph search in ONE pass (the recall audit's batch
    * shape): each probe carries its OWN routed-cell set; a cell's task
    * beam-searches only the probes routed to it, so per-probe candidate
    * restriction is preserved while the graph store is read once.
    */
  private def graphSearchMulti(graph: org.apache.spark.sql.DataFrame,
      probes: Seq[(Long, Array[Float], Set[String])], k: Int, ef: Int)
      : org.apache.spark.sql.DataFrame = {
    val s = graph.sparkSession
    import s.implicits._
    val wanted = probes.flatMap(_._3).distinct
    graph
      .where(col("cell").isin(wanted: _*))
      .select(col("vec_id"), col("embedding"), col("neighbors"),
        col("cell").cast("string").as("cell"))
      .as[(Long, Array[Float], Array[Long], String)]
      .repartition(col("cell"))
      .mapPartitions { it =>
        it.toSeq.groupBy(_._4).iterator.flatMap { case (cell, rows) =>
          val byId = rows.map(r => r._1 -> (r._2, r._3)).toMap
          probes.iterator.filter(_._3.contains(cell))
            .flatMap { case (pid, pv, _) =>
              beamSearch(byId, pv, k, ef).map(t => (pid, t._1, t._2))
            }
        }
      }
      .toDF("probe_id", "vec_id", "score")
      // stitch replicas merge per (probe, id), same as graphSearchOf
      .groupBy("probe_id", "vec_id")
      .agg(max("score").as("score"))
  }

  /** One-time persisted IVF index (a layout built once per (JVM, sf)):
    * the k-means assignment written as parquet PARTITIONED BY cell — on a
    * real table this is the cluster/partition key — plus the per-cell
    * centroid table (k rows) used for probe routing.
    */
  private[graft] def ivfIndex(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    Streams.layoutDir("ivf_idx", d)(writeIndexLayers(s, _,
      kmeansCells(Tables.embeddings(s, d), k = 4, iters = 3)))

  /** Read a cell-PARTITIONED index layer with partition-column type
    * inference OFF, so `cell` always comes back as the STRING it was
    * written as ([[writeIndexLayers]] pins the type before the write).
    * Without this, Spark infers `cell=3` back as int and every
    * lifecycle join (cells⋈tombstones, assignment⋈centroids — the
    * centroid table stores cell as a string DATA column) silently leans
    * on int/string comparison coercion. The conf is scoped to the one
    * eager `load()` and restored immediately. The data columns' schema
    * comes from the footer resolver, so the read runs no inference job.
    */
  private[graft] def readLayer(s: org.apache.spark.sql.SparkSession,
      path: String): org.apache.spark.sql.DataFrame =
    withConfs(s,
      "spark.sql.sources.partitionColumnTypeInference.enabled" -> "false")(
      Tables.readParquet(s, path))

  /** A flat layer (`centroids`, `pq_codebook`) of the index at `dir`, read
    * from generation `gen` through the footer resolver, with no inference
    * job. One cache root per (index, layer), so layers never evict each
    * other's footers.
    */
  private[graft] def flatLayer(s: org.apache.spark.sql.SparkSession, dir: String,
      gen: String, layer: String): org.apache.spark.sql.DataFrame =
    Tables.readMerged(s, s"$dir#$layer", s"$gen/$layer")

  /** Carry an UNTOUCHED layer (or single partition directory) from the
    * old generation into the new one without opening a single data
    * file: hard links where the filesystem allows, byte copies
    * otherwise. On an object store this is a manifest/pointer copy —
    * the point is that compaction's cost is proportional to the
    * AFFECTED cells, never the index size.
    */
  private def linkLayer(src: java.nio.file.Path,
      dst: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (!java.nio.file.Files.exists(src)) return
    scala.util.Using.resource(java.nio.file.Files.walk(src))(
      _.iterator().asScala.toSeq).foreach { p =>
      val rel = src.relativize(p)
      val tgt = dst.resolve(rel)
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(tgt)
      else {
        java.nio.file.Files.createDirectories(tgt.getParent)
        try java.nio.file.Files.createLink(tgt, p)
        catch { case _: Exception =>
          java.nio.file.Files.copy(p, tgt,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
      }
    }
  }

  /** Write one index GENERATION from a (vec_id, embedding, cell)
    * assignment: the cell-partitioned float cells, the k-row centroid
    * table, and (optionally) the derived graph and PQ layers. Shared by
    * [[ivfIndex]] (initial build) and [[ivfCompact]] (threshold
    * rebuild) so a rebuilt index is layer-for-layer identical in
    * layout to a fresh one. `assignIn` is evaluated inside the call's
    * pin scope, so the pins that build it (the k-means centroids) are
    * freed with the rest once the layers are written.
    */
  private[graft] def writeIndexLayers(s: org.apache.spark.sql.SparkSession,
      dir: String, assignIn: => org.apache.spark.sql.DataFrame,
      withGraph: Boolean = true, withPq: Boolean = true): Unit = Pin.scope {
    // pin the assignment: up to three consumers (cells write, centroid
    // agg, graph build) would otherwise each replay the full k-means —
    // and a compaction rebuild READS the very files it overwrites, so
    // the rows must be materialized before the first write
    val assign = Pin.now(assignIn
      .withColumn("cell", col("cell").cast("string"))) // stable partition-column type
    Streams.fileWriter(assign).mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/cells")
    val cents = assign.groupBy("cell")
      .agg(vector_avg(col("embedding")).as("cent"))
    Streams.fileWriter(cents.coalesce(1)).mode("overwrite")
      .parquet(s"$dir/centroids")
    writeDerivedLayers(dir, assign, cents, withGraph, withPq)
  }

  /** Write the DERIVED layers of the index generation at `dir` from its
    * (vec_id, embedding, cell) assignment and (cell, cent) centroids:
    * the per-cell graph when `withGraph` and the PQ codes and codebook
    * when `withPq`. Shared by [[writeIndexLayers]] and [[ivfCompact]]'s
    * per-cell rewrite, so a compacted index carries the same layers as
    * a built one. `cents` is read only for the PQ layer.
    */
  private def writeDerivedLayers(dir: String,
      assign: org.apache.spark.sql.DataFrame,
      cents: => org.apache.spark.sql.DataFrame,
      withGraph: Boolean, withPq: Boolean): Unit = {
    // per-cell neighbor graph (degree 12): the graph-ANN search
    // structure, partition-aligned with the cells (ann_ivf_graph_topk).
    // The assignment is closure-stitched first (stitchAssignment):
    // boundary nodes replicate into their runner-up cell so beam
    // search can escape a mis-routed cell — the graph table alone
    // carries the replicas; cells/ and pq_codes/ stay pure.
    if (withGraph)
      Streams.fileWriter(buildCellGraphs(stitchAssignment(assign), m = 12))
        .mode("overwrite").partitionBy("cell")
        .parquet(s"$dir/graph")
    // PQ layer (ann_ivfpq_topk): codebooks trained once at index
    // build, the store encoded to m one-byte codes per vector and
    // written PARTITION-ALIGNED with the cells — a probe's scoring
    // scan reads only its routed cells' codes, floats never.
    // Codes quantize CELL RESIDUALS (vec − centroid(cell)), the
    // FAISS IVFADC discipline: residuals concentrate near the
    // origin, so the same byte budget spends its codewords on the
    // within-cell detail the coarse quantizer already lost —
    // scoring adds the centroid terms back per routed cell.
    if (withPq) {
      val res = assign.join(broadcast(cents), "cell")
        .select(col("vec_id").as("id"), col("cell"),
          expr("zip_with(embedding, cent, (x, y) -> x - y)").as("res"))
      val cb = pqCodebooks(res.select(col("id"), col("res")),
        "id", "res", 8, 16, 3)
      Streams.fileWriter(subVectors(res, "id", "res", 8, carry = Seq("cell"))
        .select(col("id"), col("cell"), col("sub"),
          pq_argmin(col("sv"), col("sub"), cbLit(cb)).as("code")))
        .mode("overwrite").partitionBy("cell")
        .parquet(s"$dir/pq_codes")
      Streams.fileWriter(cbFrame(assign.sparkSession, cb).coalesce(1))
        .mode("overwrite").parquet(s"$dir/pq_codebook")
    }
  }

  /** Tombstone DELETES routed to their cells — the `stream_ann_ingest`
    * shape in reverse (reference analogue: document deletion against the
    * OpenSearch index, `OpenSearchConnection.java:21-36`). Deletes
    * arrive as a `vec_id` frame; routing is ONE semi-join against the
    * cell assignment (the cells table IS the id→cell map, and the join
    * is partition-aligned with it), and the tombstones append as a
    * cell-partitioned parquet table next to the cells so every reader
    * anti-joins within its routed partitions — a delete never rewrites
    * data files (that is [[ivfCompact]]'s job, amortized over churn).
    */
  private[graft] def ivfDelete(s: org.apache.spark.sql.SparkSession,
      dir: String, deleteIds: org.apache.spark.sql.DataFrame): Unit = {
    val root = Streams.storeDataDir(dir)
    Streams.fileWriter(readLayer(s, s"$root/cells")
      .join(deleteIds.select(col("vec_id")), Seq("vec_id"), "left_semi")
      .select(col("vec_id"), col("cell")))
      .mode("append").partitionBy("cell")
      .parquet(s"$root/tombstones")
  }

  /** Batch INGEST into the persisted index — `stream_ann_ingest`'s
    * per-micro-batch kernel pointed at the index itself (the reference's
    * document-add direction, `OpenSearchConnection.java:21-36`): new
    * vectors route to their nearest persisted centroid (broadcast k-row
    * table, one combiner shuffle) and APPEND to the live generation's
    * cell partitions — no rebuild, and every reader prunes to the same
    * cells over the grown store. Appends commit per Spark's file-commit
    * protocol (files surface only on task commit), so a killed ingest
    * leaves no partial rows visible.
    */
  private[graft] def ivfIngest(s: org.apache.spark.sql.SparkSession,
      dir: String, vecs: org.apache.spark.sql.DataFrame): Unit = {
    val root = Streams.storeDataDir(dir)
    Streams.fileWriter(assignToCentroids(vecs.select("vec_id", "embedding"),
        flatLayer(s, dir, root, "centroids")))
      .mode("append").partitionBy("cell")
      .parquet(s"$root/cells")
  }

  /** LIVE view of the persisted cells: tombstoned rows anti-joined out,
    * on (cell, vec_id) so the probe's partition pruning carries to the
    * tombstone side — a routed cell reads only its own tombstones.
    */
  private[graft] def ivfLiveCells(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val root = Streams.storeDataDir(dir)
    val cells = readLayer(s, s"$root/cells")
    if (!java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(root, "tombstones"))) cells
    else cells.join(
      readLayer(s, s"$root/tombstones").select("cell", "vec_id"),
      Seq("cell", "vec_id"), "left_anti")
  }

  /** COMPACTION with a churn threshold — the maintenance half of the
    * delete lifecycle. Returns the per-cell census the decision was made
    * from: (cell, n_before, n_tombstoned, n_live, action) — a k-row
    * DRIVER-LOCAL frame (the bounded-centroid-collect precedent), so it
    * survives any later reclamation of the index dir and pins no
    * checkpoint blocks.
    *
    * CRASH-SAFE PUBLISH: compaction never rewrites the live generation
    * in place. The index dir follows the generation protocol of every
    * file-backed store (`Streams.publishGeneration`): a fresh build is
    * generation 0 in the bare dir, every reader resolves the live
    * generation through `Streams.storeDataDir`, and every surviving
    * layer is written to `Streams.nextGeneration` (untouched cell
    * partitions carried over as hard links — zero data files opened).
    * The cut-over is the single atomic CURRENT flip. Tombstone
    * consumption is part of the commit: the new generation is born
    * without a tombstones directory, while the superseded one —
    * tombstones included — is retained until the NEXT publish, so a
    * reader that resolved it just before the flip still sees the exact
    * pre-publish live view. A crash anywhere before the flip leaves the
    * old generation fully live with its tombstones intact (the live
    * view is unchanged, and re-running compaction redoes the work
    * idempotently); a reader mid-compaction always sees one whole
    * generation.
    *
    * If total churn (tombstoned/total) exceeds `rebuildChurn`, the
    * k-means coarse quantizer itself is re-run on the surviving vectors
    * and every layer rewritten ([[writeIndexLayers]]) — high churn
    * shifts the data distribution under the frozen centroids, degrading
    * routing recall. Below the threshold only the cell partitions that
    * HAVE tombstones are rewritten into the new generation; a FULLY
    * tombstoned cell simply has no partition there (nothing to
    * resurrect — its centroid stays for routing and prunes to zero
    * rows); derived graph/PQ layers, when present, are rebuilt from the
    * live assignment (at 100 TB scope that rebuild to the affected
    * cells the same way — the boundary-stitch replicas are the only
    * cross-cell dependency).
    *
    * `publish = false` is the crash-injection hook: every layer of the
    * new generation is written but the CURRENT flip never happens —
    * exactly the state a kill between the last layer write and the
    * commit leaves behind (ApiSpec drives it and asserts the old
    * generation still serves).
    */
  private[graft] def ivfCompact(s: org.apache.spark.sql.SparkSession,
      dir: String, rebuildChurn: Double = 0.2, iters: Int = 3,
      publish: Boolean = true)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val root = Streams.storeDataDir(dir)
    val before = readLayer(s, s"$root/cells")
      .groupBy("cell").agg(count(lit(1)).as("n_before"))
    def censusFrame(rows: Seq[(String, Long, Long, Long, String)]) =
      rows.sortBy(_._1)
        .toDF("cell", "n_before", "n_tombstoned", "n_live", "action")
    val tombPath = java.nio.file.Paths.get(root, "tombstones")
    if (!java.nio.file.Files.isDirectory(tombPath))
      // k-row bounded collect, uniform with the main path: no lazily
      // file-bound frame escapes this function
      return censusFrame(before.collect().toSeq.map(r =>
        (r.getString(0), r.getLong(1), 0L, r.getLong(1), "kept")))
    val tomb = readLayer(s, s"$root/tombstones")
      .select("cell", "vec_id").distinct()
    // the census is k rows of bounded metadata — collect it and decide
    // everything driver-side (affected set, churn, action labels)
    val census = before
      .join(tomb.groupBy("cell").agg(count(lit(1)).as("n_tombstoned")),
        Seq("cell"), "left")
      .na.fill(0L, Seq("n_tombstoned"))
      .collect().toSeq.map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(1) - r.getLong(2)))
    val churn = census.map(_._3).sum.toDouble /
      math.max(1L, census.map(_._2).sum)
    val withGraph = java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(root, "graph"))
    val withPq = java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(root, "pq_codes"))
    val next = Streams.nextGeneration(dir)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(next))
    // materialize the survivors once: k-means (rebuild path) or the
    // three layer writes (rewrite path) would each replay the anti-join
    val live = Pin.now(ivfLiveCells(s, dir)
      .select("vec_id", "embedding", "cell"))
    val rebuilt = churn > rebuildChurn
    if (rebuilt) {
      val k = flatLayer(s, dir, root, "centroids").count().toInt
      writeIndexLayers(s, next,
        kmeansCells(live.select("vec_id", "embedding"), k, iters),
        withGraph, withPq)
    } else {
      // rewrite ONLY the tombstoned cells' survivors; hard-link every
      // untouched cell's files across (never opened); centroids are NOT
      // retrained below the threshold — carried verbatim
      val affected = census.filter(_._3 > 0).map(_._1)
      Streams.fileWriter(live.where(col("cell").isin(affected: _*)))
        .mode("overwrite").partitionBy("cell")
        .parquet(s"$next/cells")
      census.map(_._1).filterNot(affected.contains).foreach { c =>
        linkLayer(java.nio.file.Paths.get(root, "cells", s"cell=$c"),
          java.nio.file.Paths.get(next, "cells", s"cell=$c"))
      }
      linkLayer(java.nio.file.Paths.get(root, "centroids"),
        java.nio.file.Paths.get(next, "centroids"))
      writeDerivedLayers(next, live, flatLayer(s, dir, next, "centroids"),
        withGraph, withPq)
    }
    Pin.release(live)
    if (publish) Streams.publishGeneration(dir, next)
    censusFrame(census.map { case (c, nb, nt, nl) =>
      (c, nb, nt, nl,
        if (rebuilt) "rebuilt" else if (nt > 0) "rewritten" else "kept")
    })
  }

  /** The exact top 10 of (probe, store row) `pairs` per `probe_id` by the
    * cosine of `vec` to `probeVec`, then `vec_id`, self-matches excluded,
    * as (probe_id, vec_id): the search every recall audit scores against.
    */
  private def top10(pairs: org.apache.spark.sql.DataFrame, probeVec: String,
      vec: String = "embedding"): org.apache.spark.sql.DataFrame =
    topKRows(pairs.where(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          cosine_sim(col(vec), col(probeVec)).as("score")),
        Seq("probe_id"), "score", "vec_id", 10, "rn")
      .select("probe_id", "vec_id")

  /** nprobe nearest persisted cells for a probe frame exposing a
    * `probe` column: the shared routing step of every persisted-index
    * query — a bounded O(nprobe) driver collect of the k-row centroid
    * table (the ids must be literals for static partition pruning).
    */
  private def routeCells(s: org.apache.spark.sql.SparkSession, dir: String,
      probe: org.apache.spark.sql.DataFrame, nprobe: Int): Array[String] =
    flatLayer(s, dir, Streams.storeDataDir(dir), "centroids")
      .crossJoin(broadcast(probe.select(col("probe"))))
      .select(col("cell"), cosine_sim(col("cent"), col("probe")).as("cs"))
      .orderBy(col("cs").desc, col("cell"))
      .limit(nprobe)
      .select("cell").collect().map(_.getString(0))

  // ---- product quantization (PQ / ADC scoring) ----------------------

  /** Per-row subvector explode: (idCol, sub ∈ 0..m-1, sv = the sub-th
    * dim/m slice of `vecCol`). The split arithmetic runs per row on
    * size(vec), so no dimension constant is compiled in.
    */
  private def subVectors(df: org.apache.spark.sql.DataFrame, idCol: String,
      vecCol: String, m: Int, carry: Seq[String] = Nil)
      : org.apache.spark.sql.DataFrame =
    df.select(col(idCol) +: carry.map(col) :+ posexplode(expr(
        s"""transform(sequence(0, ${m - 1}),
           |  i -> slice($vecCol, i * (size($vecCol) div $m) + 1,
           |             size($vecCol) div $m))""".stripMargin))
      .as(Seq("sub", "sv")): _*)

  /** PQ codebooks via per-subspace distributed k-means (L2, the PQ
    * metric): returns the trained codebook as a driver-side nested array
    * (sub → code → codeword) — O(dim·ksub·4 B) ≈ KBs of bounded metadata
    * (the IVF nprobe-collect precedent), NOT data. All m subspaces train
    * SIMULTANEOUSLY: each round is ONE codegen'd `pq_argmin` scan of the
    * sample (the codebook rides along as a literal — no store×ksub join
    * fan-out) + one (sub, code)-keyed `vector_avg` combiner shuffle.
    * Training runs on a DETERMINISTIC 1-in-4 hash-sample of the store
    * (the FAISS discipline: a codebook is a statistic — only the single
    * ENCODE pass may cost a full-store scan). Init = the ksub
    * hash-smallest sampled rows per subspace. A codeword that loses all
    * members is dropped and codes re-densify (k may shrink). Determinism
    * scope: GIVEN a codebook, assignment/encode are fully deterministic
    * (fixed scan order, strict-< tie-break); the codebook floats
    * themselves come from `vector_avg` partial-buffer merges, which —
    * like any distributed float mean — can differ in low ULPs across
    * partitioning, so near-tie code assignments are not
    * partitioning-invariant (the integer/decimal invariance guarantees
    * elsewhere in the engine do NOT extend to PQ scores).
    */
  private[graft] def pqCodebooks(store: org.apache.spark.sql.DataFrame,
      idCol: String, vecCol: String, m: Int, ksub: Int, iters: Int)
      : Array[Array[Array[Float]]] = Pin.scope {
    // bad m fails loudly here, not as NaN scores downstream: dim must
    // split into m equal non-empty subspaces (O(1) head probe)
    val dim = store.select(size(col(vecCol))).head().getInt(0)
    require(m > 0 && dim >= m && dim % m == 0,
      s"pq: m=$m must evenly divide the embedding dim $dim")
    val sampled = store.where(pmod(xxhash64(col(idCol)), lit(4)) === 0)
    // a store small enough that the 1-in-4 sample can be empty trains on
    // everything (the O(1) emptiness probe reads one row, not a count)
    val train = if (sampled.limit(1).isEmpty) store else sampled
    // read by init + every k-means round
    val subs = Pin.cache(subVectors(train, idCol, vecCol, m)
      .select(col(idCol).as("id"), col("sub"), col("sv")))
    def nested(rows: Array[org.apache.spark.sql.Row])
        : Array[Array[Array[Float]]] = {
      val bySub = rows.map(r =>
          (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray))
        .groupBy(_._1)
      Array.tabulate(m)(s =>
        bySub.getOrElse(s, Array.empty).sortBy(_._2).map(_._3))
    }
    val w = org.apache.spark.sql.expressions.Window.partitionBy("sub")
      .orderBy(xxhash64(col("id")), col("id"))
    var cb = nested(subs
      .withColumn("code", row_number().over(w) - 1)
      .where(col("code") < ksub)
      .select(col("sub"), col("code"), col("sv")).collect())
    for (_ <- 1 to iters)
      cb = nested(subs
        .select(col("sub"),
          pq_argmin(col("sv"), col("sub"), cbLit(cb)).as("code"),
          col("sv"))
        .groupBy("sub", "code").agg(vector_avg(col("sv")).as("cw"))
        .select(col("sub"), col("code"), col("cw")).collect())
    cb
  }

  private def cbLit(cb: Array[Array[Array[Float]]])
      : org.apache.spark.sql.Column =
    typedLit(cb.map(_.map(_.toSeq).toSeq).toSeq)

  /** PQ-compressed top-k (asymmetric distance computation): the store
    * holds m one-byte codes per vector (m·1 B vs dim·4 B — 32× smaller
    * at dim=64/m=8), scoring never touches a stored float. A probe
    * builds an (m × ksub)-row lookup table — dot(probe_sub, codeword)
    * per (sub, code) — broadcasts it, and each stored vector's
    * approximate cosine is the sum of m LUT hits over its codes divided
    * by |probe|·√Σ|cw|². Returns (probe_id, id, score) top-k per probe.
    * Everything after encoding is one broadcast join + one (probe, id)
    * combiner shuffle; at most k candidates per probe per task cross
    * the top_k's exchange — never the raw store.
    */
  private[graft] def pqTopKOf(store: org.apache.spark.sql.DataFrame,
      probes: org.apache.spark.sql.DataFrame, k: Int, m: Int = 8,
      ksub: Int = 16, iters: Int = 3): org.apache.spark.sql.DataFrame = {
    val sp = store.sparkSession
    import sp.implicits._
    val cb = pqCodebooks(store, "id", "embedding", m, ksub, iters)
    // encode: ONE codegen'd scan — m codes per vector, zero joins
    val codes = subVectors(store, "id", "embedding", m)
      .select(col("id"), col("sub"),
        pq_argmin(col("sv"), col("sub"), cbLit(cb)).as("code"))
    // the same codebook as a tiny frame for the LUT join
    val cbDf = cbFrame(sp, cb)
    adcScore(codes, cbDf, probes, m, k)
  }

  /** Frame-parametric IVFPQ (re-exported as `graft.api.Graft.ivfpqTopK`):
    * k-means routing cells + PQ codes built in one call, every probe
    * ADC-scores only its `nprobe` routed cells' codes. The per-probe
    * candidate restriction happens BEFORE the LUT join (codes ⋈ routed
    * cells), so scoring work is nprobe/cells of the store at m bytes per
    * vector.
    *
    * `residual = true` (default) quantizes CELL RESIDUALS
    * (vec − centroid(cell)) — the FAISS IVFADC discipline: residuals
    * concentrate near the origin, so the same m·1 B budget encodes the
    * within-cell detail the coarse quantizer already captured the rest
    * of; at identical bytes this recovers recall raw-vector codes lose
    * inside cells. The codebook stays GLOBAL (one probe LUT, trained on
    * the pooled residuals); only O(cells·m·ksub) centroid-correction
    * terms shift per routed cell ([[adcScoreResidual]]).
    * `residual = false` keeps the raw-vector codes (the pre-refinement
    * behavior, retained for the recall A/B gate in ApiSpec).
    */
  private[graft] def ivfpqTopKOf(store: org.apache.spark.sql.DataFrame,
      probes: org.apache.spark.sql.DataFrame, k: Int, cells: Int,
      nprobe: Int, m: Int = 8, ksub: Int = 16, residual: Boolean = true)
      : org.apache.spark.sql.DataFrame = {
    val sp = store.sparkSession
    val assign = Pin.cache(kmeansCells(store
        .select(col("id").as("vec_id"), col("embedding")), cells, 3)
      .select(col("vec_id").as("id"), col("embedding"), col("cell")))
    val cents = assign.groupBy("cell")
      .agg(vector_avg(col("embedding")).as("cent"))
    val routed = topKRows(cents.crossJoin(broadcast(probes))
        .select(col("probe_id").as("r_pid"), col("cell"),
          cosine_sim(col("cent"), col("probe")).as("cs")),
        Seq("r_pid"), "cs", "cell", nprobe, "rn")
      .select(col("r_pid"), col("cell"))
    // the returned frame still reads `assign` lazily — releasing it here
    // would silently re-run the k-means assignment at execution time;
    // callers release blocks when done (the same contract as pageRank)
    if (residual) {
      val res = assign.join(broadcast(cents), "cell")
        .select(col("id"), col("cell"),
          expr("zip_with(embedding, cent, (x, y) -> x - y)").as("res"))
      val cb = pqCodebooks(res.select(col("id"), col("res")),
        "id", "res", m, ksub, 3)
      val codes = subVectors(res, "id", "res", m, carry = Seq("cell"))
        .select(col("id"), col("cell"), col("sub"),
          pq_argmin(col("sv"), col("sub"), cbLit(cb)).as("code"))
      val cand = codes.join(broadcast(routed), "cell")
      adcScoreResidual(cand, cbFrame(sp, cb), cents, probes, m, k)
    } else {
      val cb = pqCodebooks(store, "id", "embedding", m, ksub, 3)
      val codes = subVectors(assign.select(col("id"), col("cell"),
          col("embedding")), "id", "embedding", m, carry = Seq("cell"))
        .select(col("id"), col("cell"), col("sub"),
          pq_argmin(col("sv"), col("sub"), cbLit(cb)).as("code"))
      val cand = codes.join(broadcast(routed), "cell")
      adcScore(cand, cbFrame(sp, cb), probes, m, k)
    }
  }

  /** Codebook nested array → tiny (sub, code, cw, n2) frame. */
  private def cbFrame(sp: org.apache.spark.sql.SparkSession,
      cb: Array[Array[Array[Float]]]): org.apache.spark.sql.DataFrame = {
    import sp.implicits._
    cb.zipWithIndex.flatMap { case (cws, s) =>
        cws.zipWithIndex.map { case (cw, c) => (s, c, cw) } }.toSeq
      .toDF("sub", "code", "cw")
      .withColumn("n2", vector_dot(col("cw"), col("cw")))
  }

  /** ADC scoring of a PQ-coded frame (id, sub, code): per-probe lookup
    * table broadcast, one (probe, id) combiner shuffle, top-k per probe.
    */
  private def adcScore(codes: org.apache.spark.sql.DataFrame,
      cbDf: org.apache.spark.sql.DataFrame,
      probes: org.apache.spark.sql.DataFrame, m: Int, k: Int)
      : org.apache.spark.sql.DataFrame = {
    // per-probe LUT: dot(probe_sub, codeword) for every (sub, code)
    val psubs = subVectors(probes, "probe_id", "probe", m)
      .select(col("probe_id"), col("sub"), col("sv").as("ps"))
    val lut = psubs.join(broadcast(cbDf), "sub")
      .select(col("probe_id"), col("sub"), col("code"), col("n2"),
        vector_dot(col("ps"), col("cw")).as("dot"))
    val pnorm = probes.select(col("probe_id").as("pn_id"),
      vector_norm(col("probe")).as("pnorm"))
    // a codes frame carrying `r_pid` (IVFPQ's per-probe candidate
    // restriction) joins only its own probe's LUT rows; an unbound frame
    // scores against every probe
    val joinCond = {
      val base = codes("sub") === lut("sub") && codes("code") === lut("code")
      if (codes.columns.contains("r_pid"))
        base && codes("r_pid") === lut("probe_id")
      else base
    }
    // after the join, `probe_id` exists once (lut's; the bound codes
    // frame carries it as r_pid) — a plain name avoids the dataset-
    // tagged ref that trips DetectAmbiguousSelfJoin on the pnorm join
    val scored = codes.join(broadcast(lut), joinCond)
      .drop("r_pid")
      .groupBy(col("probe_id"), col("id"))
      .agg(sum(col("dot")).as("ds"), sum(col("n2")).as("nn"))
      .join(broadcast(pnorm), col("probe_id") === col("pn_id"))
      .select(col("probe_id"), col("id"),
        (col("ds") / (col("pnorm") * sqrt(col("nn")))).as("score"))
    topKRows(scored, Seq("probe_id"), "score", "id", k, "rn").drop("rn")
  }

  /** ADC scoring of RESIDUAL-coded candidates (id, cell, sub, code;
    * optionally r_pid-bound): the decoded vector is v̂ = centroid(cell) +
    * r̂(codes), so
    *   dot(p, v̂)  = dot(p, c)  + Σ_sub dot(p_sub, cw[sub][code])
    *   |v̂|²      = |c|² + 2·dot(c, r̂) + |r̂|²
    *              = Σ_sub (|c_sub|² + 2·dot(c_sub, cw) + |cw|²)
    * Everything beyond [[adcScore]]'s probe LUT is bounded metadata: a
    * per-cell correction table (cells·m·ksub rows — dot(c_sub, cw),
    * |c_sub|², |cw|² per (cell, sub, code)) and a probes×cells whole-
    * vector dot frame, both broadcast. Stored floats are still never
    * read at scoring time; the join shape (candidate restriction →
    * broadcast LUTs → one (probe, id) combiner shuffle → per-probe
    * top-k) is unchanged.
    */
  private[graft] def adcScoreResidual(codes: org.apache.spark.sql.DataFrame,
      cbDf: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame,
      probes: org.apache.spark.sql.DataFrame, m: Int, k: Int)
      : org.apache.spark.sql.DataFrame = {
    // per-probe LUT on the residual codebook — renamed keys so the
    // per-cell table can later join on the candidate's own (sub, code)
    val psubs = subVectors(probes, "probe_id", "probe", m)
      .select(col("probe_id"), col("sub"), col("sv").as("ps"))
    val lut = psubs.join(broadcast(cbDf), "sub")
      .select(col("probe_id"), col("sub").as("l_sub"),
        col("code").as("l_code"),
        vector_dot(col("ps"), col("cw")).as("dot"))
    // centroid-correction terms per (cell, sub, code)
    val csubs = subVectors(cents.select(col("cell"), col("cent")),
        "cell", "cent", m)
      .select(col("cell"), col("sub"), col("sv").as("cs"))
    val cellLut = csubs.join(broadcast(cbDf), "sub")
      .select(col("cell"), col("sub"), col("code"),
        vector_dot(col("cs"), col("cw")).as("ccw"),
        vector_dot(col("cs"), col("cs")).as("cn2"),
        col("n2"))
    // the non-residual half of dot(p, v̂): probe × centroid, whole-vector
    val pdotc = cents.crossJoin(broadcast(probes))
      .select(col("probe_id").as("pc_pid"), col("cell").as("pc_cell"),
        vector_dot(col("probe"), col("cent")).as("pc"))
    val pnorm = probes.select(col("probe_id").as("pn_id"),
      vector_norm(col("probe")).as("pnorm"))
    val joinCond = {
      val base = codes("sub") === lut("l_sub") &&
        codes("code") === lut("l_code")
      if (codes.columns.contains("r_pid"))
        base && codes("r_pid") === lut("probe_id")
      else base
    }
    val scored = codes.join(broadcast(lut), joinCond)
      .drop("r_pid", "l_sub", "l_code")
      .join(broadcast(cellLut), Seq("cell", "sub", "code"))
      // an id lives in exactly ONE cell, so grouping by cell too keeps
      // the key unique while carrying it to the pdotc join
      .groupBy(col("probe_id"), col("id"), col("cell"))
      .agg(sum(col("dot")).as("rds"), sum(col("ccw")).as("sccw"),
        sum(col("cn2")).as("scn2"), sum(col("n2")).as("sn2"))
      .join(broadcast(pdotc),
        col("probe_id") === col("pc_pid") && col("cell") === col("pc_cell"))
      .join(broadcast(pnorm), col("probe_id") === col("pn_id"))
      .select(col("probe_id"), col("id"),
        ((col("pc") + col("rds")) / (col("pnorm") *
          sqrt(col("scn2") + lit(2.0) * col("sccw") + col("sn2"))))
          .as("score"))
    topKRows(scored, Seq("probe_id"), "score", "id", k, "rn").drop("rn")
  }

  /** Nearest-centroid assignment of a (vec_id, embedding) frame against a
    * (cell, cent) centroid frame — the shared routing kernel of the
    * k-means iterations and the streaming index ingest
    * (`stream_ann_ingest`). Broadcast centroids, ONE vec_id-keyed
    * combiner shuffle; ties break toward the larger cell id (struct max).
    */
  private[graft] def assignToCentroids(e: org.apache.spark.sql.DataFrame,
      c: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = e
    .select(col("vec_id"), col("embedding"))
    .crossJoin(broadcast(c))
    .select(col("vec_id"), col("embedding"),
      struct(cosine_sim(col("embedding"), col("cent")).as("cs"),
        col("cell").as("cell")).as("sc"))
    .groupBy(col("vec_id"))
    .agg(first(col("embedding")).as("embedding"), max(col("sc")).as("m"))
    .select(col("vec_id"), col("embedding"), col("m.cell").as("cell"))

  /** Distributed k-means over the embedding column: returns the final
    * (vec_id, embedding, cell) assignment. Init takes the k
    * hash-smallest vectors as seed centroids (deterministic, spread by
    * the hash, no driver collect — a TakeOrderedAndProject of k rows);
    * each round broadcasts the k centroids, reassigns via argmax cosine
    * (struct-max for deterministic tie-break), and recomputes centroids
    * with the `vector_avg` UDAF. A `now` pin holds each round's tiny
    * centroid table so round r+1 doesn't replay rounds 1..r; the final
    * one, which the lazy result reads, stays with the caller.
    */
  private[graft] def kmeansCells(e: org.apache.spark.sql.DataFrame,
      k: Int, iters: Int): org.apache.spark.sql.DataFrame = {
    var cents = Pin.now(e
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(k)
      .select(col("vec_id").as("cell"), col("embedding").as("cent")))
    def assignTo(c: org.apache.spark.sql.DataFrame) = assignToCentroids(e, c)
    for (_ <- 1 until iters) {
      val prev = cents
      cents = Pin.now(assignTo(cents)
        .groupBy("cell").agg(vector_avg(col("embedding")).as("cent")))
      // round r+1 only needs the NEW centroid checkpoint — free the
      // previous round's k-row blocks (same discipline as the layer
      // writers: no checkpoint outlives its last consumer)
      Pin.release(prev)
    }
    assignTo(cents)
  }
}
