package graft

import org.apache.spark.sql.functions._

/** Dedup + ANN behavioral checks on sf0.001 and constructed fixtures. */
class DedupSpec extends SparkSuite {

  test("dedup_minhash_lsh finds the pairs exact ngram-jaccard rates >= 0.5") {
    val byName = SparkEntry.queries
    val lsh = byName("dedup_minhash_lsh")(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // ground truth on the same corpus, full pair space via the oracle block
    // is doc_id < 200 — recompute exact pairs >= 0.5 there
    val exact = byName("dedup_ngram_jaccard")(spark, sf)
      .where(col("jac") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain near-dup docs")
    val found = exact.intersect(lsh)
    assert(found.size.toDouble / exact.size >= 0.8,
      s"LSH recall ${found.size}/${exact.size} below 0.8")
  }

  test("dedup_semantic_cells: drops are real near-dups; recall vs exact block") {
    // the declared no-oracle pairing (SURVEY §2.3): the SemDeDup keep-list
    // is judged against exact ALL-PAIRS cosine ground truth on the same
    // vec_id < 2000 block the query runs on.
    val out = SparkEntry.queries("dedup_semantic_cells")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val e = Tables.embeddings(spark, sf).where(col("vec_id") < 2000)
    assert(out.size == e.count(), "one keep/drop verdict per block row")
    val a = e.select(col("vec_id").as("ia"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("ib"), col("embedding").as("eb"))
    val exactDrop = a.join(b, col("ia") < col("ib") &&
        graft.functions.cosine_sim(col("ea"), col("eb")) >= 0.4)
      .select(col("ib")).distinct()
      .collect().map(_.getLong(0)).toSet
    val dropped = out.collect { case (id, false) => id }.toSet
    // PRECISION is structural (a within-cell pair is a real pair — the
    // cosine test is exact), asserted anyway as the safety net:
    assert(dropped.subsetOf(exactDrop),
      s"dropped non-duplicates: ${dropped.diff(exactDrop).take(5)}")
    // RECALL: cross-cell near-dups outside both probe sets are missed by
    // design. Measured on this fixture: 0.42 under hard assignment, 0.855
    // with the soft top-2 probes — gate at 0.7 so a regression back to
    // hard assignment fails while seed sensitivity keeps headroom
    assert(exactDrop.nonEmpty, "fixture block should contain near-dups")
    val recall = dropped.size.toDouble / exactDrop.size
    assert(recall >= 0.7,
      s"semantic-cell recall $recall (${dropped.size}/${exactDrop.size})")
  }

  test("exact-substring family: run pairs = window pairs, spans >= window") {
    // the two queries share one pair space by construction (same block,
    // same 8-token windows, same hot cap), and their statistics are
    // mutually bounded: a longest run of L tokens contributes exactly
    // L-7 consecutive windows, so shared_windows >= longest-7, and any
    // run is at least one full window long
    val win = SparkEntry.queries("dedup_shared_ngram_window")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val runs = SparkEntry.queries("dedup_longest_shared_run")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(win.nonEmpty, "fixture should contain verbatim-overlap pairs")
    assert(runs.keySet == win.keySet,
      s"pair spaces diverge: ${runs.keySet.diff(win.keySet).take(3)} / " +
        s"${win.keySet.diff(runs.keySet).take(3)}")
    runs.foreach { case (pair, l) =>
      assert(l >= 8, s"$pair: span $l shorter than one window")
      // NOT win(pair) >= l-7: shared_windows counts DISTINCT window
      // strings while a run counts positions, so a periodic shared span
      // (several positional windows with identical text) legitimately
      // yields fewer distinct windows than run length - 7. The sound
      // mutual bound is only that any >=8-token run implies at least one
      // shared window.
      assert(win(pair) >= 1,
        s"$pair: a $l-token run must contribute at least one shared window")
    }
  }

  test("semanticDedup hot-cell cap: sub-salted blocks bound pair work") {
    import spark.implicits._
    import org.apache.spark.sql.functions.countDistinct
    // structural contract of the safety valve: after sub-salting, NO
    // block exceeds ~maxCell rows (hash splitting is uneven, allow 2x),
    // and an under-cap cell keeps exactly one block
    val soft = (0L until 300L).map(i =>
        (i, Array.fill(4)(0.1f), if (i < 280) "hot" else "cold"))
      .toDF("id", "embedding", "pcell")
    val blocks = operators.Dedup.saltedCellBlocks(soft, maxCell = 100)
    val sizes = blocks.groupBy("pcell").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes.keys.count(_.startsWith("hot#")) >= 3,
      s"hot cell did not split: ${sizes.keys.toSeq.sorted}")
    assert(sizes.values.max <= 200,
      s"a block exceeds 2x maxCell: $sizes")
    assert(sizes.keys.count(_.startsWith("cold#")) == 1,
      "under-cap cell must keep a single block")
    // every row keeps exactly one block membership (salting partitions,
    // never duplicates or drops)
    assert(blocks.count() == 300 &&
      blocks.select(countDistinct("id")).head().getLong(0) == 300)
    // end-to-end: with a cap far below the cluster size, dropped rows
    // are STILL only true near-dups (precision is cap-invariant; only
    // recall pays), on the same fixture block as the main gate
    val e = Tables.embeddings(spark, sf).where(col("vec_id") < 500)
      .select(col("vec_id").as("id"), col("embedding"))
    val out = api.Graft.semanticDedup(e, k = 4, threshold = 0.4, iters = 2,
      maxCell = 50).collect().map(r => r.getLong(0) -> r.getBoolean(2))
    val a = e.select(col("id").as("ia"), col("embedding").as("ea"))
    val b = e.select(col("id").as("ib"), col("embedding").as("eb"))
    val exactDrop = a.join(b, col("ia") < col("ib") &&
        graft.functions.cosine_sim(col("ea"), col("eb")) >= 0.4)
      .select(col("ib")).distinct().collect().map(_.getLong(0)).toSet
    val dropped = out.collect { case (id, false) => id }.toSet
    assert(dropped.subsetOf(exactDrop),
      s"capped run dropped non-duplicates: ${dropped.diff(exactDrop).take(5)}")
  }

  test("dedup_simhash: hamming<=6 pairs include high-jaccard duplicates") {
    val sim = SparkEntry.queries("dedup_simhash")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = SparkEntry.queries("dedup_ngram_jaccard")(spark, sf)
      .where(col("jac") >= 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    // recall >= 0.7: pairs beyond Hamming 6 are outside the sketch's
    // design radius (measured: one jac-0.91 pair sits at Hamming 10)
    val recall = exact.intersect(sim).size.toDouble / exact.size
    assert(recall >= 0.7, s"simhash recall $recall on jac>=0.9 pairs")
  }

  test("ann_lsh_topk and ann_ivf_topk recall vs exact brute force") {
    val exact = operators.Rag.knnTopK(spark, sf, 10)
      .collect().map(_.getLong(0)).toSet
    val lsh = SparkEntry.queries("ann_lsh_topk")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val ivf = SparkEntry.queries("ann_ivf_topk")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    // OR-amplified (3 signature tables): expected recall ~0.97, gate 0.9
    assert(exact.intersect(lsh).size >= 9,
      s"LSH recall ${exact.intersect(lsh).size}/10")
    // computed k-means cells (k=4, 3 iters), nprobe=3: gate 0.9 (the
    // near-random fixture embeddings cap recall — see Ann.scala comment)
    assert(exact.intersect(ivf).size >= 9,
      s"IVF recall ${exact.intersect(ivf).size}/10")
    // the persisted-index variant probes the same cells/nprobe
    val ivfP = SparkEntry.queries("ann_ivf_persisted")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    assert(exact.intersect(ivfP).size >= 9,
      s"persisted IVF recall ${exact.intersect(ivfP).size}/10")
    // int8-quantized scoring: full scan, only the scores are approximate
    val quant = SparkEntry.queries("ann_quantized_topk")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    assert(exact.intersect(quant).size >= 9,
      s"quantized recall ${exact.intersect(quant).size}/10")
  }

  test("dedup_band_recall_curve: structural containment, monotone " +
      "recall/precision, 8x4 row equals the shipped LSH config") {
    val rows = SparkEntry.queries("dedup_band_recall_curve")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5)))
    assert(rows.map(r => (r._1, r._2)).toSeq ==
      Seq((4L, 8L), (8L, 4L), (16L, 2L)), rows.mkString(", "))
    // finer bands can only ADD candidates/verified pairs (containment)
    val cands = rows.map(_._3); val ver = rows.map(_._4)
    assert(cands.zip(cands.tail).forall { case (a, b) => b >= a },
      s"candidates not monotone: ${cands.mkString(", ")}")
    assert(ver.zip(ver.tail).forall { case (a, b) => b >= a },
      s"verified not monotone: ${ver.mkString(", ")}")
    // recall endpoint: the finest banding is its own reference
    assert(rows.last._5 == 1.0, rows.mkString(", "))
    // precision can only fall as the net widens
    val prec = rows.map(_._6)
    assert(prec.zip(prec.tail).forall { case (a, b) => b <= a },
      s"precision not anti-monotone: ${prec.mkString(", ")}")
    // the 8x4 row reproduces the SHIPPED dedup_minhash_lsh pipeline
    // exactly — same signature, banding, cap, and threshold
    val shipped = SparkEntry.queries("dedup_minhash_lsh")(spark, sf).count()
    assert(rows(1)._4 == shipped,
      s"8x4 verified ${rows(1)._4} != shipped LSH pairs $shipped")
  }

  test("bandSweepOf hot-bucket cap propagation matches the 3-config " +
      "self-join reference (r21 fused-membership rewrite)") {
    // maxBucket=2 makes many finest-band buckets hot on the dup-heavy
    // fixture, producing PARTIAL per-doc drop masks — the case the fused
    // rpb=4/8 membership check must get right. Reference = the former
    // implementation (3-config band union, drop propagated by covered
    // sub-band explode, per-config self-join), computed inline.
    val docs = Tables.documents(spark, sf)
    val got = operators.Dedup.bandSweepOf(docs, threshold = 0.5,
        maxBucket = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq.sortBy(_._1)
    val sig = docs
      .where(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"),
        graft.functions.minhash_shingles(col("text"), 32, 3).as("sig"))
    def bandsFor(r: Int) = {
      val nb = 32 / r
      val args = (1 to r).map(i => s"element_at(sig, $r * bi + $i)")
        .mkString(", ")
      sig.select(lit(r).as("rpb"), col("doc_id"),
          explode(expr(
            s"""transform(sequence(0, ${nb - 1}), bi -> named_struct(
               |  'band', bi, 'bh', xxhash64($args)))""".stripMargin))
            .as("e"))
        .select(col("rpb"), col("doc_id"),
          col("e.band").as("band"), col("e.bh").as("bh"))
    }
    val rawBands = bandsFor(8).unionAll(bandsFor(4)).unionAll(bandsFor(2))
    val hot2 = rawBands.where(col("rpb") === 2)
      .groupBy("band", "bh").agg(count(lit(1)).as("bn"))
      .where(col("bn") > 2).select("band", "bh")
    assert(hot2.count() > 0, "fixture must produce hot buckets at cap=2")
    val dropped2 = rawBands.where(col("rpb") === 2)
      .join(hot2, Seq("band", "bh"), "left_semi")
      .select(col("doc_id"), col("band").as("band2"))
    val dropAny = rawBands
      .select(col("rpb"), col("doc_id"), col("band"),
        explode(expr("sequence((band * rpb) div 2, " +
          "((band + 1) * rpb) div 2 - 1)")).as("band2"))
      .join(dropped2, Seq("doc_id", "band2"), "left_semi")
      .select("rpb", "doc_id", "band").distinct()
    val bands = rawBands.join(dropAny,
      Seq("rpb", "doc_id", "band"), "left_anti")
    val refCand = bands.as("x").join(bands.as("y"),
        col("x.rpb") === col("y.rpb") && col("x.band") === col("y.band")
          && col("x.bh") === col("y.bh")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.rpb").as("rpb"), col("x.doc_id").as("doc_a"),
        col("y.doc_id").as("doc_b"))
      .distinct()
    val refCounts = refCand.groupBy("rpb")
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    // candidate counts pair-for-pair identical per config
    assert(got.map(r => (r._2, r._3)).toMap ==
      Map(8L -> refCounts.getOrElse(8L, 0L),
          4L -> refCounts.getOrElse(4L, 0L),
          2L -> refCounts.getOrElse(2L, 0L)).filter(_._2 > 0),
      s"got $got vs ref $refCounts")
    // verified counts: re-verify the reference candidate set exactly
    val sh = docs
      .where(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"),
        array_distinct(graft.functions.word_ngrams(col("text"), 3)).as("sh"))
    val refVer = refCand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sha")),
        "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("shb")),
        "doc_b")
      .where(size(array_intersect(col("sha"), col("shb"))).cast("double")
        / size(array_union(col("sha"), col("shb"))) >= 0.5)
      .groupBy("rpb").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    got.foreach { case (_, rpb, _, v) =>
      assert(v == refVer.getOrElse(rpb, 0L),
        s"verified mismatch at rpb=$rpb: $v vs ${refVer.getOrElse(rpb, 0L)}")
    }
  }

  test("ann_recall_nprobe_curve: recall monotone in nprobe, full-probe " +
      "endpoint exact") {
    val rows = SparkEntry.queries("ann_recall_nprobe_curve")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(rows.map(_._1).toSeq == Seq(1, 2, 3, 4), rows.mkString(", "))
    // 4 probes × top-10 each
    assert(rows.forall(_._3 == 40L), rows.mkString(", "))
    // level n's candidate set is a subset of level n+1's → recall can
    // never decrease; the curve is the nprobe tuning table
    val rec = rows.map(_._4)
    assert(rec.zip(rec.tail).forall { case (a, b) => b >= a },
      s"recall not monotone: ${rec.mkString(", ")}")
    // nprobe = k = 4 scans every cell — the exact scan, recall 1.0
    assert(rec.last == 1.0, s"full-probe endpoint ${rec.last} != 1.0")
    // and a strictly sub-full nprobe must already be useful: the shipped
    // nprobe=3 queries gate probe 0 at 0.9, but this curve AVERAGES
    // probes 0-3 on the near-random fixture (Ann.scala documents the
    // recall cap) — measured 0.875, gated at 0.8
    assert(rows(2)._4 >= 0.8, s"nprobe=3 recall ${rows(2)._4}")
  }

  test("ann_ivfpq_topk scores only ids from the probe's routed cells") {
    import org.apache.spark.sql.functions.col
    val got = SparkEntry.queries("ann_ivfpq_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.length == 10)
    assert(got.map(_._2).toSeq == got.map(_._2).sortBy(-_).toSeq,
      "scores must be descending")
    // candidate restriction: every returned id sits in one of the
    // routed (= persisted, partition-pruned) cells — the 25% of cells
    // NOT routed must contribute nothing
    val dir = operators.Ann.ivfIndex(spark, sf)
    // partition discovery re-infers the numeric cell dir names as ints
    val cellOf = spark.read.parquet(s"$dir/cells")
      .select(col("vec_id"), col("cell").cast("string")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val probeCells = got.map { case (id, _) => cellOf(id) }.toSet
    assert(probeCells.size <= 3, s"ids span ${probeCells.size} cells > nprobe")
  }

  test("pq ADC scores approximate exact cosine within a bounded error") {
    // PQ replaces every stored vector by its m codeword reconstructions;
    // the ADC score must track exact cosine over the WHOLE store (not
    // just the top-k) — mean |err| well under the fixture's score spread
    // (~[-0.3, 0.4]) or the compression is semantically lossy.
    val store = Tables.embeddings(spark, sf)
      .where(org.apache.spark.sql.functions.col("vec_id") =!= 0)
      .select(org.apache.spark.sql.functions.col("vec_id").as("id"),
        org.apache.spark.sql.functions.col("embedding"))
    val probes = Tables.embeddings(spark, sf)
      .where(org.apache.spark.sql.functions.col("vec_id") === 0)
      .select(org.apache.spark.sql.functions.col("vec_id").as("probe_id"),
        org.apache.spark.sql.functions.col("embedding").as("probe"))
    val n = store.count().toInt
    val approx = operators.Ann.pqTopKOf(store, probes, k = n)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    // knnTopK clips at score >= 0 (reference minScore) — compare on its
    // keys; `approx` covers the whole store so every lookup hits
    val exact = operators.Rag.knnTopK(spark, sf, n)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(exact.nonEmpty && approx.size >= exact.size)
    val errs = exact.map { case (id, s) => math.abs(approx(id) - s) }
    val mean = errs.sum / errs.size
    // near-random embeddings are PQ's worst case (nothing for codewords
    // to exploit): measured mean |err| ~0.085 here vs the fixture's
    // ~0.7-wide score spread; clustered corpora (ApiSpec) do far better.
    // Gate with headroom for k-means seed sensitivity.
    assert(mean < 0.12, s"mean ADC error $mean")
    assert(errs.max < 0.35, s"max ADC error ${errs.max}")
  }

  test("ann_ivf_graph_topk: beam search over per-cell graphs recalls the exact top-k") {
    val exact = operators.Rag.knnTopK(spark, sf, 10)
      .collect().map(_.getLong(0)).toSet
    val graph = SparkEntry.queries("ann_ivf_graph_topk")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    // ceiling = the IVF routing (same nprobe=3/k=4 cells as
    // ann_ivf_persisted, gated >= 9/10 above); the beam search inside the
    // routed cells must not lose more than one additional true neighbor
    // on the near-random fixture embeddings
    assert(exact.intersect(graph).size >= 8,
      s"graph recall ${exact.intersect(graph).size}/10")
    // the graph table is partition-aligned with the cells and every node
    // has bounded degree (build contract: m = 12)
    val dir = operators.Ann.ivfIndex(spark, sf)
    val g = spark.read.parquet(s"$dir/graph")
    assert(g.select("cell").distinct().count() == 4)
    val maxDeg = g.select(max(size(col("neighbors")))).head().getInt(0)
    assert(maxDeg <= 12, s"degree bound violated: $maxDeg")
  }

  test("collapseClusters: transitive closure + keep-min on a constructed graph") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3: exercises iteration, not just cliques),
    // clique {10,11,12}, isolated pair {20,21}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (10L, 12L),
      (11L, 12L), (20L, 21L)).toDF("doc_a", "doc_b")
    val got = operators.Dedup.collapseClusters(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L), got.toString)
  }

  test("dedup_minhash_collapse: one keeper per cluster, pairs co-clustered") {
    val rows = SparkEntry.queries("dedup_minhash_collapse")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(rows.nonEmpty)
    // exactly one keeper per cluster, and it is the cluster min
    rows.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.count(_._3) == 1, s"cluster $cid keepers != 1")
      assert(members.map(_._1).min == cid, s"cluster $cid id not min member")
    }
    // every verified pair ends up in one cluster
    val cluster = rows.map(r => r._1 -> r._2).toMap
    val pairs = operators.Dedup.minhashVerifiedPairs(spark, sf, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    pairs.foreach { case (a, b) =>
      assert(cluster(a) == cluster(b), s"pair ($a,$b) split across clusters") }
  }

  test("stream_minhash_dedup count equals the batch distinct-signature count") {
    val streamed = SparkEntry.queries("stream_minhash_dedup")(spark, sf)
      .head().getLong(0)
    val batch = Tables.documents(spark, sf)
      .where(size(split(col("text"), " ")) >= 3)
      .select(xxhash64(functions.minhash_shingles(col("text"), 32, 3))
        .as("sig_hash"))
      .distinct().count()
    assert(streamed == batch, s"stream $streamed vs batch $batch")
  }

  test("minhash hot-bucket cap drops degenerate buckets, keeps normal ones") {
    import spark.implicits._
    // 10 identical docs → identical signatures → every band bucket has
    // all 10 members; a cap below 10 must yield zero candidate pairs,
    // a cap above it the full 45
    val docs = (0L until 10L)
      .map(i => (i, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val capped = operators.Dedup
      .minhashVerifiedPairsOf(docs, 0.5, maxBucket = 5).count()
    assert(capped == 0, s"cap=5 should drop the size-10 bucket, got $capped")
    val uncapped = operators.Dedup
      .minhashVerifiedPairsOf(docs, 0.5, maxBucket = 100).count()
    assert(uncapped == 45, s"cap=100 keeps all 45 pairs, got $uncapped")
  }

  test("simhash hot-bucket cap drops degenerate buckets, keeps normal ones") {
    import spark.implicits._
    // 5k identical short docs → one simhash value → every band bucket
    // holds all 5000 members (25M candidate pairs without the cap); the
    // default cap of 1000 must drop them and finish in bounded time
    val degen = (0L until 5000L)
      .map(i => (i, "buy now limited time offer act fast"))
      .toDF("doc_id", "text")
    val capped = operators.Dedup.simhashPairsOf(degen).count()
    assert(capped == 0, s"default cap should drop the size-5000 bucket, got $capped")
    // the same duplicates below the cap are all found (45 hamming-0 pairs)
    val small = degen.where(col("doc_id") < 10)
    val kept = operators.Dedup.simhashPairsOf(small).count()
    assert(kept == 45, s"10 identical docs should give 45 pairs, got $kept")
  }

  test("collapseClusters: broadcast and shuffle-join paths agree on a chain") {
    import spark.implicits._
    // path graph 0-1-...-11: diameter 11 forces label propagation through
    // every round, not just the near-clique 2-3 rounds of dup clusters
    val pairs = (0L until 11L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val expected = (0L to 11L).map(_ -> 0L).toMap
    val bc = operators.Dedup.collapseClusters(pairs, maxIter = 15)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(bc == expected, s"broadcast path: $bc")
    // broadcastNodeLimit=0 forces the over-threshold posture: plain joins,
    // AQE picks the strategy — results must be identical
    val sh = operators.Dedup.collapseClusters(pairs, maxIter = 15,
        broadcastNodeLimit = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(sh == expected, s"shuffle path: $sh")
  }

  test("edit-distance hot-bucket cap drops degenerate length bands, keeps normal ones") {
    import spark.implicits._
    // 5k docs of IDENTICAL length collapse into one length bucket —
    // ~12.5M admitted |Δlen| checks (and as many DPs) without the cap;
    // the default cap of 1000 must drop the band and finish in bounded
    // time. Distinct text per doc so the cap, not dedup, is what bounds it.
    val degen = (0L until 5000L)
      .map(i => (i, f"buy now limited offer ${i}%06d"))
      .toDF("doc_id", "text")
    val capped = operators.Dedup.editDistancePairsOf(degen, maxDist = 5).count()
    assert(capped == 0, s"default cap should drop the size-5000 band, got $capped")
    // the same docs below the cap verify normally: every pair differs in
    // at most the 6 id digits → d <= 5 for pairs sharing a leading digit
    val small = degen.where(col("doc_id") < 10)
    val kept = operators.Dedup.editDistancePairsOf(small, maxDist = 5).count()
    assert(kept == 45, s"10 same-length docs with d<=5 should give 45 pairs, got $kept")
  }

  test("collapseClusters throws at maxIter instead of returning under-merged labels") {
    import spark.implicits._
    // path graph 0-1-...-7: diameter 7 > maxIter 3 — min-label propagation
    // cannot finish, and silent partial labels would split the cluster
    val chain = (0L until 7L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val ex = intercept[IllegalStateException] {
      operators.Dedup.collapseClusters(chain, maxIter = 3).collect()
    }
    assert(ex.getMessage.contains("did not converge"), ex.getMessage)
    // the explicit opt-out returns best-effort labels (still a valid
    // partial merge: every label is SOME reachable id, just not the min)
    val partial = operators.Dedup.collapseClusters(chain, maxIter = 3,
        failOnMaxIter = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(partial.size == 8 && partial.values.exists(_ != 0L),
      s"expected 8 partially-merged labels: $partial")
    // and the same graph converges cleanly when maxIter covers the diameter
    val full = operators.Dedup.collapseClusters(chain, maxIter = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(full == (0L to 7L).map(_ -> 0L).toMap, full.toString)
    // boundary: maxIter == diameter — propagation FINISHES in the last
    // round; the post-loop probe must recognize the converged labels
    // instead of throwing (in-loop detection alone needs diameter+1)
    val exact = operators.Dedup.collapseClusters(chain, maxIter = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(exact == (0L to 7L).map(_ -> 0L).toMap, exact.toString)
  }

  test("collapseClustersLogN agrees with label propagation; handles long chains") {
    import spark.implicits._
    def labelsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // a 60-node path (diameter 59 — propagation would need 59 rounds,
    // the star method O(log n)), a clique, an isolated pair, all at once
    val pairs = ((0L until 59L).map(i => (i, i + 1))
      ++ Seq((100L, 101L), (100L, 102L), (101L, 102L), (200L, 201L)))
      .toDF("doc_a", "doc_b")
    val logn = labelsOf(operators.Dedup.collapseClustersLogN(pairs))
    val expected = ((0L to 59L).map(_ -> 0L)
      ++ Seq(100L -> 100L, 101L -> 100L, 102L -> 100L,
        200L -> 200L, 201L -> 200L)).toMap
    assert(logn == expected, s"$logn")
    // the premature-fixed-point counterexample: after one star round the
    // edges are {(5,1),(7,1),(5,2),(8,2)} — all targets are roots, BUT
    // node 5 still points at two different roots; a convergence check on
    // "targets are roots" alone stops here and splits the component
    val trap = Seq((7L, 5L), (7L, 1L), (8L, 5L), (8L, 2L))
      .toDF("doc_a", "doc_b")
    val trapGot = labelsOf(operators.Dedup.collapseClustersLogN(trap))
    assert(trapGot == Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 7L -> 1L, 8L -> 1L),
      s"$trapGot")
    // self-pairs: the doc is still labeled (same contract as propagation)
    val selfp = Seq((42L, 42L), (1L, 2L)).toDF("doc_a", "doc_b")
    assert(labelsOf(operators.Dedup.collapseClustersLogN(selfp))
      == Map(42L -> 42L, 1L -> 1L, 2L -> 1L))
    // seeded random graphs: both algorithms label identically
    val rnd = new scala.util.Random(97)
    val rand = Seq.fill(300)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter { case (a, b) => a != b }
      .toDF("doc_a", "doc_b")
    val viaProp = labelsOf(operators.Dedup.collapseClusters(rand, maxIter = 40))
    val viaStar = labelsOf(operators.Dedup.collapseClustersLogN(rand))
    assert(viaStar == viaProp,
      s"algorithms disagree: ${viaStar.toSet.diff(viaProp.toSet)}")
  }

  test("collapseClustersLogN throws at its round cap instead of returning unsettled stars") {
    import spark.implicits._
    // a 60-node path needs more than 2 star rounds to settle into one
    // root star, so a 2-round budget must fail loudly
    val chain = (0L until 59L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val ex = intercept[IllegalStateException] {
      operators.Dedup.collapseClustersLogN(chain, maxRounds = 2)
    }
    assert(ex.getMessage.contains("did not stabilize"), ex.getMessage)
  }

  /** Persistent RDDs `body` leaves pinned that were not pinned before.
    * What `body` returns stays reachable until they are counted, so the
    * context cleaner cannot free what it still reads.
    */
  private def pinsLeftBy(body: => Any): Int = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val result = body
    try (spark.sparkContext.getPersistentRDDs.keySet -- before).size
    finally java.lang.ref.Reference.reachabilityFence(result)
  }

  private def counted(df: org.apache.spark.sql.DataFrame) = { df.count(); df }

  test("kmeansCells leaves one pin: the final centroids its lazy result reads") {
    val e = Tables.embeddings(spark, sf)
    // four rounds make four centroid checkpoints; each superseded one
    // is released once its successor is materialized
    assert(pinsLeftBy(counted(operators.Ann.kmeansCells(e, 4, iters = 4))) == 1)
  }

  test("writeIndexLayers leaves no pin, the k-means that feeds it included") {
    val e = Tables.embeddings(spark, sf)
    val dir = streaming.Streams.scratchDir("ivf_pins_")
    assert(pinsLeftBy(operators.Ann.writeIndexLayers(spark, dir,
      operators.Ann.kmeansCells(e, 4, iters = 3))) == 0)
  }

  test("the dedup loops release superseded rounds: the pins a converged " +
      "run leaves do not grow with its round count") {
    import spark.implicits._
    def path(n: Long) = (0L until n - 1).map(i => (i, i + 1))
      .toDF("doc_a", "doc_b")
    // the 60-node path takes several star rounds, the 3-node path the
    // minimum two; each run leaves only the round its lazy result reads
    val logShort = pinsLeftBy(
      counted(operators.Dedup.collapseClustersLogN(path(3))))
    val logLong = pinsLeftBy(
      counted(operators.Dedup.collapseClustersLogN(path(60))))
    assert(logShort == 1 && logLong == 1, s"3 nodes: $logShort, 60: $logLong")
    // propagation needs diameter + 1 rounds: 3 on the short path, 12 on
    // the long one
    val propShort = pinsLeftBy(
      counted(operators.Dedup.collapseClusters(path(3), maxIter = 15)))
    val propLong = pinsLeftBy(
      counted(operators.Dedup.collapseClusters(path(12), maxIter = 15)))
    assert(propShort == 1 && propLong == 1,
      s"3 nodes: $propShort, 12: $propLong")
  }

  test("dedup_exact is idempotent") {
    val q = SparkEntry.queries("dedup_exact")
    val once = q(spark, sf)
    assert(once.count() == once.distinct().count())
  }
}
