package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The `graft.api.Graft` facade: frame-parametric operators over
  * caller-shaped DataFrames (not the fixture readers) — the surface a
  * library user programs against.
  */
class ApiSpec extends SparkSuite {
  import graft.api.Graft

  private lazy val store = Tables.embeddings(spark, sf)
    .select(col("vec_id").as("id"), col("embedding"))
  private lazy val probes = Tables.embeddings(spark, sf)
    .where(col("vec_id").isin(0, 1))
    .select(col("vec_id").as("probe_id"), col("embedding").as("probe"))

  test("cosineTopK returns k rows per probe, ranked, matching exact scan") {
    val top = Graft.cosineTopK(store.where(col("id") > 1), probes, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(top.count(_._1 == 0L) == 5 && top.count(_._1 == 1L) == 5)
    // scores are non-increasing within each probe's list
    top.groupBy(_._1).values.foreach { g =>
      val scores = g.sortBy(t => (-t._3, t._2)).map(_._3)
      assert(scores.sorted.reverse.toSeq == scores.toSeq)
    }
    // spot-check vs the exact rag_knn_topk query for probe 0 (same store)
    val expect = SparkEntry.queries("rag_knn_topk")(spark, sf)
      .collect().map(_.getLong(0)).take(5).toSet
    assert(top.filter(_._1 == 0L).sortBy(t => (-t._3, t._2))
      .map(_._2).toSet == expect)
  }

  test("cosineRange matches ann_range_search on shared probes") {
    // the query rounds to 4 decimals BEFORE the floor test (oracle
    // parity); mirror that here, and restrict to this spec's probe set
    val rng = Graft.cosineRange(store, probes, 0.0)
      .where(col("id") =!= col("probe_id") && round(col("score"), 4) >= 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaQuery = SparkEntry.queries("ann_range_search")(spark, sf)
      .where(col("probe_id").isin(0, 1))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rng == viaQuery)
  }

  test("nearDupKeepList marks exactly one keeper per cluster") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val keep = Graft.nearDupKeepList(docs, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    if (keep.nonEmpty) {
      keep.groupBy(_._2).values.foreach { cluster =>
        assert(cluster.count(_._3) == 1)
        assert(cluster.filter(_._3).head._1 == cluster.map(_._1).min)
      }
    }
  }

  test("packTokenShards/hashSample/scd2Intervals work on caller frames") {
    val docs = Tables.documents(spark, sf)
    val packed = Graft.packTokenShards(docs, 1000)
    assert(packed.columns.contains("shard") &&
      packed.where(col("shard") < 0).isEmpty)
    val n = docs.count().toDouble
    val sampled = Graft.hashSample(docs, col("doc_id"), 4).count().toDouble
    assert(sampled / n > 0.1 && sampled / n < 0.4, s"rate ${sampled / n}")
    val scd2 = Graft.scd2Intervals(Tables.orders(spark, sf)
      .where(col("o_custkey") < 50))
    assert(scd2.where(col("is_current")).count() ==
      Tables.orders(spark, sf).where(col("o_custkey") < 50)
        .select("o_custkey").distinct().count())
  }

  test("contaminationReport flags a planted duplicate; clean docs score low") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven")).toDF("doc_id", "text")
    // eval doc 10 shares doc 1's text exactly; doc 2 is disjoint
    val eval = Seq((10L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val rep = Graft.contaminationReport(corpus, eval).collect()
      .map(r => r.getLong(0) -> (r.getDouble(3), r.getBoolean(4))).toMap
    assert(rep(1L) == ((1.0, true)), rep.toString)
    assert(rep(2L) == ((0.0, false)), rep.toString)
  }

  test("qualityRules/rebalanceMix/gapsIslands on caller frames") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val q = Graft.qualityRules(docs)
    assert(q.count() == docs.count() && q.columns.contains("keep"))
    val reb = Graft.rebalanceMix(docs, "lang", "doc_id")
    val kept = reb.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val orig = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept.keySet == orig.keySet)
    kept.foreach { case (l, k) => assert(k <= orig(l)) }
    val isl = Graft.gapsIslands(
      Seq((1L, 10L), (1L, 11L), (1L, 13L), (2L, 5L)).toDF("k", "o"), "k", "o")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(t => (t._1, t._2))
    assert(isl.toSeq == Seq((1L, 10L, 11L, 2L), (1L, 13L, 13L, 1L),
      (2L, 5L, 5L, 1L)))
  }

  test("mergeUpsert: matched update, unmatched insert, untouched carry") {
    import spark.implicits._
    val target = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
    val source = Seq((2L, 99.0), (3L, 30.0)).toDF("k", "v")
    val out = Graft.mergeUpsert(target, source, "k").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).sortBy(_._1)
    assert(out.toSeq == Seq((1L, 10.0, "carry"), (2L, 99.0, "update"),
      (3L, 30.0, "insert")))
    // a matched source row's NULL is a legitimate update (MERGE ... UPDATE
    // SET semantics) — it must override the target's old value, not be
    // coalesced away
    val nullSrc = Seq((2L, Option.empty[Double])).toDF("k", "v")
    val out2 = Graft.mergeUpsert(target, nullSrc, "k").collect()
      .map(r => (r.getLong(0), Option(r.get(1)), r.getString(2))).sortBy(_._1)
    assert(out2.toSeq == Seq((1L, Some(10.0), "carry"),
      (2L, None, "update")))
    // a NULL-key source row never equality-matches: it must come through
    // value-intact as an insert, NOT as an all-NULL row
    val nullKey = Seq((Option.empty[Long], Option(55.0))).toDF("k", "v")
    val out3 = Graft.mergeUpsert(target, nullKey, "k").collect()
      .map(r => (Option(r.get(0)), Option(r.get(1)), r.getString(2)))
      .sortBy(_._1.map(_.asInstanceOf[Long]).getOrElse(Long.MinValue))
    assert(out3.toSeq == Seq((None, Some(55.0), "insert"),
      (Some(1L), Some(10.0), "carry"), (Some(2L), Some(20.0), "carry")), out3.toSeq)
  }

  test("ivfTopK/lshTopK: recall >= 0.9 at bounded scan on a clustered corpus") {
    import spark.implicits._
    // The sf fixtures' embeddings are near-random, which caps ANY
    // sub-linear ANN's recall (Ann.scala documents the measurement) — so
    // the recall/scan-fraction trade-off is proven here on a corpus with
    // real cluster structure: 16 well-separated Gaussian clusters in
    // 32-dim (intra-cluster cosine ~0.99, cross-cluster ~0), 100 points
    // each, deterministic seed.
    val rnd = new scala.util.Random(7)
    val (dim, nClusters, per) = (32, 16, 100)
    def unit(v: Array[Double]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val centers = Array.fill(nClusters)(Array.fill(dim)(rnd.nextGaussian()))
    val pts = for (c <- 0 until nClusters; i <- 0 until per) yield
      ((c * per + i).toLong,
        unit(centers(c).map(_ + 0.15 * rnd.nextGaussian())))
    val cstore = pts.toDF("id", "embedding")
    val cprobes = cstore.where(col("id").isin(0L, 505L, 1010L))
      .select(col("id").as("probe_id"), col("embedding").as("probe"))
    def topSets(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = topSets(Graft.cosineTopK(cstore, cprobes, 10))
    val idx = Graft.ivfBuild(cstore, k = nClusters)
    try {
      val ivf = topSets(Graft.ivfTopK(idx, cprobes, 10, nprobe = 4))
      exact.foreach { case (p, ex) =>
        val rec = ex.intersect(ivf(p)).size / 10.0
        assert(rec >= 0.9, s"IVF recall $rec for probe $p")
      }
      // scan-fraction bound: a probe reads its nprobe routed cells only;
      // even the 4 LARGEST cells must stay well under the full store
      // (balanced k-means ⇒ ~25%; gate at 40% to absorb imbalance)
      val sizes = idx.assign.groupBy("cell").count()
        .collect().map(_.getLong(1)).sortBy(-_)
      val scanned = sizes.take(4).sum.toDouble / (nClusters * per)
      assert(scanned <= 0.4, s"IVF scan fraction $scanned")
    } finally idx.unpersist()
    val lsh = topSets(Graft.lshTopK(cstore, cprobes, 10))
    exact.foreach { case (p, ex) =>
      val rec = ex.intersect(lsh(p)).size / 10.0
      assert(rec >= 0.9, s"LSH recall $rec for probe $p")
    }
  }

  test("pqTopK: 32x-compressed ADC search stays in the probe's cluster") {
    import spark.implicits._
    // same clustered-corpus design as the IVF test. PQ distorts WITHIN-
    // cluster distances (all near-ties there), so the meaningful recall
    // claim for a code-compressed store is cluster membership: every
    // top-10 hit must come from the probe's own cluster — the compressed
    // store must never route a probe into a wrong cluster.
    val rnd = new scala.util.Random(11)
    val (dim, nClusters, per) = (32, 16, 100)
    def unit(v: Array[Double]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val centers = Array.fill(nClusters)(Array.fill(dim)(rnd.nextGaussian()))
    val pts = for (c <- 0 until nClusters; i <- 0 until per) yield
      ((c * per + i).toLong,
        unit(centers(c).map(_ + 0.15 * rnd.nextGaussian())))
    val cstore = pts.toDF("id", "embedding")
    val cprobes = cstore.where(col("id").isin(0L, 505L, 1010L))
      .select(col("id").as("probe_id"), col("embedding").as("probe"))
    val pq = Graft.pqTopK(cstore, cprobes, 10, m = 8, ksub = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pq.length == 30, s"expected 3 probes x 10, got ${pq.length}")
    pq.foreach { case (p, id) =>
      assert(id / per == p / per,
        s"probe $p (cluster ${p / per}) hit $id (cluster ${id / per})")
    }
    // IVFPQ: routing must take each probe to its own cluster's cell and
    // the code-only scoring must stay there too
    val ivfpq = Graft.ivfpqTopK(cstore, cprobes, 10, cells = nClusters,
        nprobe = 4).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ivfpq.length == 30, s"expected 3x10, got ${ivfpq.length}")
    ivfpq.foreach { case (p, id) =>
      assert(id / per == p / per,
        s"ivfpq probe $p (cluster ${p / per}) hit $id (${id / per})")
    }
    // residual codes must beat-or-match raw codes at IDENTICAL bytes
    // (same m, ksub): within a cluster all distances are near-ties, so
    // this is exactly where residual encoding earns its keep — compare
    // top-10 recall vs the exact scan for both encodings
    val exact = Graft.cosineTopK(cstore, cprobes, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def recallOf(hits: Array[(Long, Long)]): Double = {
      val by = hits.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      exact.map { case (p, ex) =>
        ex.intersect(by.getOrElse(p, Set.empty)).size / 10.0
      }.sum / exact.size
    }
    val rawHits = Graft.ivfpqTopK(cstore, cprobes, 10, cells = nClusters,
        nprobe = 4, residual = false)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val resRecall = recallOf(ivfpq)
    val rawRecall = recallOf(rawHits)
    assert(resRecall >= rawRecall,
      s"residual recall $resRecall below raw-code recall $rawRecall")
  }

  test("cellGraphBuild/cellGraphTopK: graph beam search recalls on a clustered corpus") {
    import spark.implicits._
    // same clustered-corpus design as the IVF test: graph ANN's recall
    // claim must hold where cluster structure exists, with the visited
    // count proving the beam walked a FRACTION of each routed cell
    val rnd = new scala.util.Random(11)
    val (dim, nClusters, per) = (32, 8, 200)
    def unit(v: Array[Double]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val centers = Array.fill(nClusters)(Array.fill(dim)(rnd.nextGaussian()))
    val pts = for (c <- 0 until nClusters; i <- 0 until per) yield
      ((c * per + i).toLong,
        unit(centers(c).map(_ + 0.15 * rnd.nextGaussian())))
    val cstore = pts.toDF("id", "embedding")
    val probeVec = pts.find(_._1 == 0L).get._2
    val cprobes = cstore.where(col("id") === 0L)
      .select(col("id").as("probe_id"), col("embedding").as("probe"))
    val exact = Graft.cosineTopK(cstore, cprobes, 10)
      .collect().map(_.getLong(1)).toSet
    val idx = Graft.ivfBuild(cstore, k = nClusters)
    try {
      val graph = Graft.cellGraphBuild(idx.assign, m = 10).persist()
      // route to the probe's 2 nearest cells by centroid, like ivfTopK
      val cells = idx.centroids
        .select(col("cell"),
          functions.cosine_sim(col("cent"),
            functions.lit_vector(probeVec)).as("cs"))
        .orderBy(col("cs").desc, col("cell"))
        .limit(2).collect().map(_.getLong(0))
      val routed = graph.where(col("cell").isin(cells.toIndexedSeq: _*))
      val got = Graft.cellGraphTopK(routed, probeVec, 10, ef = 32)
        .orderBy(col("score").desc, col("vec_id")).limit(10)
      val ids = got.collect().map(_.getLong(0)).toSet
      assert(exact.intersect(ids).size >= 9,
        s"graph recall ${exact.intersect(ids).size}/10")
      // beam efficiency: visited stays below the routed cells' population
      val visited = got.select(max("visited")).head().getLong(0)
      val routedPop = routed.count()
      assert(visited < routedPop,
        s"beam visited $visited of $routedPop routed rows")
      graph.unpersist()
    } finally idx.unpersist()
  }

  test("cellGraph stitch: replicas recover split-cluster recall at nprobe=1") {
    import spark.implicits._
    // 4 true clusters OVER-partitioned into 16 k-means cells: the coarse
    // quantizer must split every cluster (~4 ways), so a probe routed to
    // ONE cell (nprobe=1) loses the cluster-mates living in sibling
    // cells. The closure stitch replicates boundary nodes across the
    // split, recovering those neighbors without a second probe.
    val rnd = new scala.util.Random(13)
    val (dim, nClusters, per) = (32, 4, 200)
    def unit(v: Array[Double]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val centers = Array.fill(nClusters)(Array.fill(dim)(rnd.nextGaussian()))
    val pts = for (c <- 0 until nClusters; i <- 0 until per) yield
      ((c * per + i).toLong,
        unit(centers(c).map(_ + 0.15 * rnd.nextGaussian())))
    val cstore = pts.toDF("id", "embedding")
    val probeVec = pts.find(_._1 == 0L).get._2
    val cprobes = cstore.where(col("id") === 0L)
      .select(col("id").as("probe_id"), col("embedding").as("probe"))
    val exact = Graft.cosineTopK(cstore, cprobes, 10)
      .collect().map(_.getLong(1)).toSet
    val idx = Graft.ivfBuild(cstore, k = 4 * nClusters)
    try {
      val cell1 = idx.centroids
        .select(col("cell"),
          functions.cosine_sim(col("cent"),
            functions.lit_vector(probeVec)).as("cs"))
        .orderBy(col("cs").desc, col("cell"))
        .limit(1).collect().map(_.getLong(0))
      def recallAndVisited(g: org.apache.spark.sql.DataFrame)
          : (Int, Long, Long) = {
        val routed = g.where(col("cell").isin(cell1.toIndexedSeq: _*))
          .persist()
        val got = Graft.cellGraphTopK(routed, probeVec, 10, ef = 48)
          .orderBy(col("score").desc, col("vec_id")).limit(10)
        val rows = got.collect()
        val r = (exact.intersect(rows.map(_.getLong(0)).toSet).size,
          rows.map(_.getLong(2)).max, routed.count())
        routed.unpersist()
        r
      }
      val plainG = Graft.cellGraphBuild(idx.assign, m = 10)
      val stitchG = Graft.cellGraphBuild(idx.assign, m = 10,
        stitchEps = 0.05)
      val (rPlain, _, popPlain) = recallAndVisited(plainG)
      val (rStitch, vStitch, popStitch) = recallAndVisited(stitchG)
      assert(rStitch >= rPlain,
        s"stitch lost recall: $rStitch/10 vs plain $rPlain/10")
      // the split must actually have cost the plain graph something and
      // the stitch must recover it — otherwise this fixture proves nothing
      assert(rPlain < 10, s"fixture did not split the probe's cluster")
      assert(rStitch > rPlain,
        s"stitch recovered nothing: $rStitch/10 vs $rPlain/10")
      // bounded growth (≤1 replica per node) and bounded scan: the beam
      // still visits a fraction of ONE stitched cell, not the store
      assert(popStitch <= 2 * popPlain,
        s"replica growth $popPlain -> $popStitch exceeds 2x")
      assert(vStitch < popStitch,
        s"beam visited $vStitch of $popStitch stitched rows")
      // duplicate-id merge: results are one row per id
      val ids = Graft.cellGraphTopK(stitchG
          .where(col("cell").isin(cell1.toIndexedSeq: _*)),
          probeVec, 10, ef = 48)
        .select("vec_id").collect().map(_.getLong(0))
      assert(ids.distinct.length == ids.length, "duplicate ids in results")
    } finally idx.unpersist()
  }

  test("sharedWindowPairs/longestSharedRun: exact spans on constructed docs") {
    import spark.implicits._
    // doc 1 and doc 2 share exactly one verbatim 10-token span
    // ("s1..s10") embedded in different surroundings; doc 3 shares
    // nothing. w=4 → the span yields 10-4+1 = 7 consecutive windows on
    // one diagonal → longest run = 7 + 3 = 10 tokens, 7 shared windows.
    val span = (1 to 10).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta gamma $span delta epsilon"),
      (2L, s"one two $span three four five six"),
      (3L, "totally unrelated words with no overlap at all here"))
      .toDF("doc_id", "text")
    val pairs = Graft.sharedWindowPairs(docs, w = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(pairs.keySet == Set((1L, 2L)), pairs.toString)
    assert(pairs((1L, 2L)) == 7L, pairs.toString)
    val runs = Graft.longestSharedRun(docs, w = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(runs == Map((1L, 2L) -> 10L), runs.toString)
    // the hot cap silences a window shared by too many docs: with the
    // span in THREE docs and maxDocsPerWindow = 2, all span windows are
    // boilerplate and no pair survives
    val boiler = docs.union(Seq((4L, s"seven eight $span nine ten"))
      .toDF("doc_id", "text"))
    assert(Graft.sharedWindowPairs(boiler, w = 4, maxDocsPerWindow = 2)
      .count() == 0)
  }

  test("editDistancePairs: bucket blocking finds cross-bucket neighbors") {
    import spark.implicits._
    // d("abcdef","abcdxx")=2 same bucket; "abcdefgh" vs "abcdef" d=2 with
    // lengths 8 vs 6 — adjacent buckets (bw=3: 2 vs 2? lengths 6,8 ->
    // floor(6/3)=2, floor(8/3)=2) and 9-char "abcdefghi" d=3 (bucket 3,
    // adjacent) must still pair; far docs must not
    val docs = Seq((1L, "abcdef"), (2L, "abcdxx"), (3L, "abcdefgh"),
      (4L, "abcdefghi"), (5L, "zzzzzzzzzzzzzzzzzzzz"))
      .toDF("doc_id", "text")
    val got = Graft.editDistancePairs(docs, maxDist = 2)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 2L)), s"same-bucket pair missed: $got")
    assert(got.contains((1L, 3L)), s"adjacent-bucket pair missed: $got")
    assert(!got.exists(p => p._1 == 5L || p._2 == 5L), s"far doc paired: $got")
  }

  test("heavyHitters on a caller frame equals the exact one-pass top-k") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select(col("text"))
    val got = Graft.heavyHitters(docs, "text", 5)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val exact = docs.select(explode(split(col("text"), " ")).as("tok"))
      .where(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(5)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == exact, s"$got != $exact")
  }

  test("mmrRerank picks k diverse rows from the pool; rank 1 is top-1") {
    val probe = Tables.embeddings(spark, sf).where(col("vec_id") === 0)
      .select(col("embedding").as("probe"))
    val out = Graft.mmrRerank(store.where(col("id") =!= 0), probe, 3)
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(out.length == 3 && out.map(_._2).distinct.length == 3)
    val top1 = operators.Rag.knnTopK(spark, sf, 1).collect().head.getLong(0)
    assert(out.head._2 == top1)
  }

  test("weightedSample skews to heavy rows and is run-stable") {
    import spark.implicits._
    // 1000 light (w=1) + 1000 heavy (w=100) rows: P(a light row outranks
    // a heavy one) = 1/101 per pair, so the top-50 is overwhelmingly
    // heavy — and the md5-derived keys make the selection identical on
    // every evaluation (the property rand()-based sampling lacks)
    val rows = (0L until 2000L)
      .map(i => (i, if (i < 1000) 1 else 100)).toDF("id", "w")
    def sample() = Graft.weightedSample(rows, col("id"), col("w"), 50)
      .collect().map(_.getLong(0)).toSeq
    val s1 = sample()
    assert(s1.count(_ >= 1000L) >= 45, s"heavy rows: ${s1.count(_ >= 1000L)}/50")
    assert(sample() == s1, "selection changed across evaluations")
  }

  test("link-prediction trio: closed-form scores on a triangle+tail, " +
      "adjacency excluded, reversed-orientation edges canonicalized") {
    import graft.api.Graft
    import spark.implicits._
    // triangle 1-2-3 plus tail 3-4, fed DELIBERATELY as (high, low)
    // pairs to exercise the low-high canonicalization the kernels'
    // adjacency anti-join depends on
    val edges = Seq((2L, 1L), (3L, 1L), (3L, 2L), (4L, 3L)).toDF("u", "v")
    // degrees: d1=2 d2=2 d3=3 d4=1; non-adjacent common-neighbor pairs:
    // (1,4) and (2,4), both via w=3
    val ra = Graft.resourceAllocationLinks(edges).collect()
    assert(ra.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 4L), (2L, 4L)), ra.mkString(", "))
    // RA = 1/deg(3) = 1/3, integer-scaled: 10^12 div 3
    assert(ra.forall(_.getLong(2) == 1000000000000L / 3), ra.mkString(", "))
    val aa = Graft.adamicAdarLinks(edges).collect()
    assert(aa.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 4L), (2L, 4L)), aa.mkString(", "))
    // AA = 1/ln(deg(3)): 10^12 div floor(ln(3)*1e6)
    val expAa = 1000000000000L / math.floor(math.log(3.0) * 1e6).toLong
    assert(aa.forall(_.getLong(2) == expAa), aa.mkString(", "))
    val jc = Graft.jaccardLinks(edges).collect()
    assert(jc.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 4L), (2L, 4L)), jc.mkString(", "))
    // J(1,4) = cn/(d1+d4-cn) = 1/2, J(2,4) likewise
    assert(jc.forall(r => r.getLong(2) == 1L && r.getLong(3) == 2L
      && r.getDouble(5) == 0.5), jc.mkString(", "))
    // the adjacent pairs with common neighbors ((1,2),(1,3),(2,3))
    // never surface — the whole point of link PREDICTION
    val all = ra ++ aa ++ jc
    assert(!all.exists(r => Set((1L, 2L), (1L, 3L), (2L, 3L))
      .contains((r.getLong(0), r.getLong(1)))))
  }

  test("zonemapPrunedFiles prunes on a clustered layout; empty probe keeps nothing") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_api_zm_").toString
    try {
      (0L until 800L).map(i => (i, i.toDouble)).toDF("id", "v")
        .repartitionByRange(8, col("v")).sortWithinPartitions("v")
        .write.mode("overwrite").parquet(dir)
      val (keep, total) = Graft.zonemapPrunedFiles(spark, dir, "v", 100.0, 150.0)
      assert(total == 8 && keep.length < 8 && keep.nonEmpty,
        s"kept ${keep.length}/$total")
      // skipping must not change the answer
      val pruned = spark.read.parquet(keep.toIndexedSeq: _*)
        .where(col("v").between(100.0, 150.0)).count()
      assert(pruned == 51, s"pruned-scan count $pruned")
      // a probe outside every zone keeps zero files (the guarded case)
      val (none, _) = Graft.zonemapPrunedFiles(spark, dir, "v", 5000.0, 6000.0)
      assert(none.isEmpty)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator()
        .asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("compactParquet coalesces small files without changing rows") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_api_cp_").toString
    val in = s"$root/in"; val out = s"$root/out"
    try {
      (0L until 1000L).toDF("id").repartition(10)
        .write.mode("overwrite").parquet(in)
      val (before, after) = Graft.compactParquet(spark, in, out, 1L << 20)
      assert(before == 10 && after < before, s"$before -> $after")
      assert(spark.read.parquet(out).count() == 1000L)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(root)).iterator()
        .asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("pageRank: hub of a star graph outranks leaves; closed-form check") {
    import spark.implicits._
    // undirected star: hub 0 <-> leaves 1..4. n=5, base pr = 2e8.
    // iter1: hub gets 15% base + 85% * sum(leaf pr/1) = 30000000 + 4*2e8*85/100
    val edges = (1L to 4L).flatMap(l => Seq((0L, l), (l, 0L))).toDF("u", "v")
    val pr = Graft.pageRank(edges, iters = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val base = (15L * (1000000000L / 5)) / 100
    // hub: four leaves contribute pr/deg = 2e8/1 each; leaf: hub splits
    // its 2e8 across deg=4 outgoing edges
    assert(pr(0L) == base + (85L * (4L * 200000000L)) / 100, pr.toString)
    (1L to 4L).foreach { l =>
      assert(pr(l) == base + (85L * (200000000L / 4)) / 100, pr.toString)
      assert(pr(0L) > pr(l))
    }
    // deeper run exercises the between-iteration checkpoint path; compare
    // against a plain-Scala fold of the same integer recurrence
    val deg = Map(0L -> 4L, 1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L)
    val es = (1L to 4L).flatMap(l => Seq((0L, l), (l, 0L)))
    var exp = (0L to 4L).map(_ -> 200000000L).toMap
    (1 to 3).foreach { _ =>
      exp = es.groupBy(_._2).map { case (v, in) =>
        v -> (base + (85L * in.map { case (u, _) => exp(u) / deg(u) }.sum) / 100)
      }
    }
    val pr3 = Graft.pageRank(edges, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pr3 == exp, s"$pr3 vs $exp")
    // empty edge frame fails loudly, not with a driver arithmetic error
    val err = intercept[IllegalArgumentException] {
      Graft.pageRank(Seq.empty[(Long, Long)].toDF("u", "v"), iters = 1)
    }
    assert(err.getMessage.contains("no source nodes"))
  }

  test("pageRank salted adjacency: bit-identical ranks, hub rows split") {
    import spark.implicits._
    // power-law-ish fixture: hub 0 touches 1..40 (degree 40), the tail
    // is a ring (degree 2 each) — both directions so every node sources.
    // Duplicate edges included: the salted build must still set-dedup.
    val ring = (1L to 40L).flatMap(l =>
      Seq((l, l % 40 + 1), (l % 40 + 1, l)))
    val star = (1L to 40L).flatMap(l => Seq((0L, l), (l, 0L)))
    val edges = (star ++ ring ++ star.take(10)).toDF("u", "v")
    val plain = Graft.pageRank(edges, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // threshold 8 splits ONLY the hub (degree 41 > 8; tail degree 3)
    val salted = Graft.pageRank(edges, iters = 3, saltDegree = 8).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(salted == plain, s"salted ranks diverge: $salted vs $plain")
    // the salted layout really is two-level: the hub's neighbor set
    // occupies >1 adjacency row, tail nodes exactly 1
    val adj = operators.Analytics.pageRankAdjacency(
      edges, saltDegree = 8, salts = 16)
    val rowsPerNode = adj.groupBy("u").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rowsPerNode(0L) > 1, s"hub not split: ${rowsPerNode(0L)} row(s)")
    (1L to 40L).foreach(l => assert(rowsPerNode(l) == 1L,
      s"tail node $l split into ${rowsPerNode(l)} rows"))
    // and the split rows cover the hub's full deduped neighbor set with
    // the TOTAL degree on every partial row
    val hubRows = adj.where(col("u") === 0L)
      .select("vs", "d").collect()
    val union = hubRows.flatMap(_.getSeq[Long](0)).sorted
    assert(union.toSeq == (1L to 40L), s"hub neighbor union: ${union.toSeq}")
    hubRows.foreach(r => assert(r.getLong(1) == 40L,
      s"partial row carries d=${r.getLong(1)}, want total 40"))
  }

  test("lastTouch/slidingMedian/tfidfTopTerms on caller frames") {
    import spark.implicits._
    val ev = Seq(
      (1L, "view", 100L, 1L), (1L, "purchase", 200L, 2L),
      (2L, "click", 10L, 3L), (2L, "view", 20L, 4L),
      (2L, "purchase", 30L, 5L),
      (3L, "purchase", 50L, 6L), // no touch at all
      (4L, "view", 0L, 7L), (4L, "purchase", 1000L, 8L) // outside lookback
    ).toDF("u", "t", "tus", "id")
    val att = Graft.lastTouch(ev, "u", "t", "tus", "id",
        Seq("view", "click"), "purchase", lookbackMicros = 500L)
      .select("u", "touch").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(att == Map(1L -> "view", 2L -> "view", 3L -> "none",
      4L -> "none"), att.toString)

    val med = Graft.slidingMedian(
        Seq(("a", 1L, 5.0), ("a", 2L, 1.0), ("a", 3L, 3.0), ("a", 4L, 9.0))
          .toDF("p", "o", "value"),
        "p", Seq(col("o")), "value", preceding = 2)
      .orderBy("o").collect().map(_.getDouble(3)).toSeq
    // frames: [5], [5,1], [5,1,3], [1,3,9] -> 5, 3, 3, 3
    assert(med == Seq(5.0, 3.0, 3.0, 3.0), med.toString)

    val docs = Seq(
      (1L, "g1", "apple apple rare"), (2L, "g1", "apple common"),
      (3L, "g2", "common common zebra")
    ).toDF("doc_id", "grp", "text")
    val top = Graft.tfidfTopTerms(docs, "grp", 1).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // g1: apple tf=3 df=2 -> 4.5; rare tf=1 df=1 -> 3; g2: zebra 3 > common 3 (tie term order)
    assert(top == Map("g1" -> "apple", "g2" -> "common"), top.toString)
  }

  test("shortestHops frontier walk + labelPropagation planted communities") {
    import spark.implicits._
    // path 1-2-3-4 with branch 2-5; component {9,10} unreachable
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (2L, 5L), (9L, 10L))
      .toDF("u", "v")
    val hops = Graft.shortestHops(e, source = 1L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hops == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 2L),
      hops.toString)
    // radius cap truncates the walk, never relabels it
    val capped = Graft.shortestHops(e, source = 1L, maxHops = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(capped == Map(1L -> 0L, 2L -> 1L), capped.toString)

    // weighted: direct 1-3 costs 5, the two-hop detour 1-2-3 costs 2 —
    // one relaxation round sees only the direct edge, two find the detour
    val we = Seq((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 5L))
      .toDF("u", "v", "cost")
    val one = Graft.shortestCost(we, source = 1L, rounds = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one == Map(1L -> 0L, 2L -> 1L, 3L -> 5L), one.toString)
    val two = Graft.shortestCost(we, source = 1L, rounds = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(two == Map(1L -> 0L, 2L -> 1L, 3L -> 2L), two.toString)

    // two planted triangles bridged by 3-5: sync LPA with min-label
    // tie-break settles each triangle on its own community (traced by
    // hand: {1,2,3} -> 1 by round 2; {5,6,7} -> 3 by round 4)
    val tri = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (5L, 6L), (5L, 7L), (6L, 7L), (3L, 5L)).toDF("u", "v")
    val comm = Graft.labelPropagation(tri, iters = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comm == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      5L -> 3L, 6L -> 3L, 7L -> 3L), comm.toString)
  }

  test("sentenceChunks/linearTouch/temperatureMix on caller frames") {
    import spark.implicits._
    // 4 sentences of 4 chars; cum offsets 0,5,10,15; target 10 packs
    // two per chunk; chunk 1 carries "bbbb" as the overlap sentence
    val docs = Seq((1L, "aaaa. bbbb. cccc. dddd")).toDF("doc_id", "text")
    val ch = Graft.sentenceChunks(docs, "\\. ", target = 10)
      .orderBy("chunk_idx").collect()
      .map(r => (r.getLong(1), r.getString(2), r.getLong(3), r.getInt(4)))
    assert(ch.toSeq == Seq((0L, "aaaa bbbb", 2L, 9),
      (1L, "bbbb cccc dddd", 2L, 14)), ch.toSeq.toString)

    // u1: purchase with 1 view + 1 click -> half credit each; u2:
    // purchase with nothing in lookback -> none; u3: 2 views only
    val ev = Seq(
      (1L, "view", 100L), (1L, "click", 150L), (1L, "purchase", 200L),
      (2L, "purchase", 1000L), (2L, "view", 1000L), // tie ts: not prior
      (3L, "view", 10L), (3L, "view", 20L), (3L, "purchase", 30L)
    ).toDF("u", "t", "tus")
    val att = Graft.linearTouch(ev, "u", "t", "tus",
      Seq("view", "click"), "purchase", lookbackMicros = 500L).collect()(0)
    assert(att.getDouble(0) == 1.5, "view: 0.5 + 1.0")
    assert(att.getDouble(1) == 0.5, "click")
    assert(att.getDouble(2) == 1.0, "none")
    assert(att.getLong(3) == 3L, "n_conversions")

    // U-shaped: u1 has view(100) click(150) view(180) before purchase —
    // first/last are views (0.4+0.4), click is the lone middle (0.2);
    // u2 one view -> 1.0; u3 ties click/view at tus 10, first resolves
    // to 'click' by type-name byte order -> 0.5 each; u4 none
    val pev = Seq(
      (1L, "view", 100L), (1L, "click", 150L), (1L, "view", 180L),
      (1L, "purchase", 200L),
      (2L, "view", 600L), (2L, "purchase", 1000L),
      (3L, "click", 10L), (3L, "view", 10L), (3L, "purchase", 20L),
      (4L, "purchase", 50L)
    ).toDF("u", "t", "tus")
    val pos = Graft.positionTouch(pev, "u", "t", "tus",
      Seq("view", "click"), "purchase", lookbackMicros = 500L).collect()(0)
    assert(pos.getDouble(0) == 2.3, s"view ${pos.getDouble(0)}")
    assert(pos.getDouble(1) == 0.7, s"click ${pos.getDouble(1)}")
    assert(pos.getDouble(2) == 1.0, "none")
    assert(pos.getLong(3) == 4L, "n_conversions")

    // time-decay, hl=100 buckets=2 (lookback 200): u1 view age 50
    // (band 0, w=2) + click age 180 (band 1, w=1) -> 2/3 vs 1/3 split
    // via truncating scaled-integer division; u2 nothing in lookback ->
    // none; u3 view at EXACTLY age 200 (the lookback edge) stays in
    // band 1 -> full credit
    val dev = Seq(
      (1L, "click", 820L), (1L, "view", 950L), (1L, "purchase", 1000L),
      (2L, "view", 100L), (2L, "purchase", 500L),
      (3L, "view", 800L), (3L, "purchase", 1000L)
    ).toDF("u", "t", "tus")
    val dec = Graft.timeDecayTouch(dev, "u", "t", "tus",
      Seq("view", "click"), "purchase",
      halflifeMicros = 100L, buckets = 2).collect()(0)
    // view sum = 666666666666 (u1) + 1000000000000 (u3) scaled units,
    // ONE double division at readout
    assert(dec.getDouble(0) == 1666666666666L.toDouble / 1e12,
      s"view ${dec.getDouble(0)}")
    assert(dec.getDouble(1) == (1000000000000L / 3).toDouble / 1e12,
      s"click ${dec.getDouble(1)}")
    assert(dec.getDouble(2) == 1.0, "none")
    assert(dec.getLong(3) == 3L, "n_conversions")

    // common neighbors on triangle {1,2,3} + pendant 3-4: the adjacent
    // pairs are excluded; (1,4) and (2,4) share only node 3 ->
    // common=1, jaccard = 1/(2+1-1) = 0.5
    val lpEdges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
      .toDF("u", "v")
    val cnb = Graft.commonNeighbors(lpEdges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(cnb.toSeq == Seq((1L, 4L, 1L, 0.5), (2L, 4L, 1L, 0.5)),
      cnb.toSeq.toString)

    // T=2 on an 8:2 mix: big group's rate is sqrt(2/8) = 0.5 exactly
    val mix = Seq.tabulate(8)(i => ("big", i.toLong)) ++
      Seq(("small", 100L), ("small", 101L))
    val rates = Graft.temperatureMix(mix.toDF("lang", "doc_id"),
        "lang", "doc_id", temperature = 2.0)
      .select("lang", "rate").distinct().collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rates("small") == 1.0, rates.toString)
    assert(rates.get("big").forall(_ == 0.5), rates.toString)
    intercept[IllegalArgumentException] {
      Graft.temperatureMix(mix.toDF("lang", "doc_id"), "lang", "doc_id", 0.5)
    }
  }

  test("funnelAny: later-anchor chains convert; gaps and order still bind") {
    import spark.implicits._
    val H = 3600000000L
    val ev = Seq(
      // u1: ADVICE counter-example — converts only under any-sequence
      (1L, "view", 0L * H, 1L), (1L, "view", 5L * H, 2L),
      (1L, "click", 13L * H, 3L),
      // u2: click BEFORE any view — order must still bind
      (2L, "click", 1L * H, 4L), (2L, "view", 2L * H, 5L),
      // u3: full 3-step chain through the SECOND view
      (3L, "view", 0L * H, 6L), (3L, "view", 10L * H, 7L),
      (3L, "click", 20L * H, 8L), (3L, "purchase", 30L * H, 9L),
      // u4: chain broken by gap (click 20h after the only view)
      (4L, "view", 0L * H, 10L), (4L, "click", 20L * H, 11L)
    ).toDF("u", "t", "tus", "id")
    val r = Graft.funnelAny(ev, "u", "t", "tus", "id",
      Seq(("view", 0L), ("click", 12L * H), ("purchase", 24L * H)))
      .collect().head
    // views: u1,u2,u3,u4; qualified clicks: u1,u3; purchases: u3
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((4L, 2L, 1L)),
      r.toString)
  }

  test("skyline/markovTransitions/triangleStats/madOutliers on caller frames") {
    import spark.implicits._

    // frontier: (1,10) dominated by (1,20); (2,20) dominated by (1,20)
    // on price with equal size; (3,30) and (1,20) survive; the (3,30)
    // tie twin (id 5) also survives
    val sky = Graft.skyline(
        Seq((1, 1.0, 10), (2, 1.0, 20), (3, 2.0, 20), (4, 3.0, 30),
          (5, 3.0, 30)).toDF("id", "price", "size"),
        "price", "size")
      .collect().map(_.getInt(0)).toSet
    assert(sky == Set(2, 4, 5), sky.toString)

    // a->b twice, a->c once from user 1; b->a once from user 2
    val mk = Graft.markovTransitions(
        Seq((1L, "a", 1L), (1L, "b", 2L), (1L, "a", 3L), (1L, "b", 4L),
          (1L, "a", 5L), (1L, "c", 6L), (2L, "b", 1L), (2L, "a", 2L))
          .toDF("u", "t", "o"),
        "u", "t", "o")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    // from a: b,b,c -> p(b)=2/3, p(c)=1/3; from b: a,a (+ user 2's
    // b->a) -> p(a)=1
    assert(mk(("a", "b")) == ((2L, 2.0 / 3)) && mk(("a", "c")) == ((1L, 1.0 / 3)))
    assert(mk(("b", "a")) == ((3L, 1.0)), mk.toString)

    // K4 minus edge (1,4): triangles {1,2,3} and {2,3,4}; wedges:
    // deg(1)=deg(4)=2, deg(2)=deg(3)=3 -> 1+1+3+3=8; cc = 6/8
    val tri = Graft.triangleStats(
        Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
          .toDF("u", "v"))
      .collect().head
    assert((tri.getLong(0), tri.getLong(1), tri.getDouble(2)) ==
      ((2L, 8L, 0.75)), tri.toString)

    // empty edge frame: the wedge sum over zero degree rows is NULL
    // pre-coalesce — the census must still read (0, 0, 0.0), not NULLs
    val tri0 = Graft.triangleStats(
        Seq.empty[(Long, Long)].toDF("u", "v"))
      .collect().head
    assert((tri0.getLong(0), tri0.getLong(1), tri0.getDouble(2)) ==
      ((0L, 0L, 0.0)), tri0.toString)

    // 9 flat values + one spike: MAD=0 -> only the spike flags
    val out = Graft.madOutliers(
        (1 to 9).map(i => ("s", i, 5.0)).:+(("s", 10, 50.0))
          .toDF("series", "i", "v"),
        "series", "v")
      .collect()
    assert(out.map(_.getInt(1)).toSeq == Seq(10), out.toSeq.toString)
    assert(out.head.getDouble(3) == 5.0 && out.head.getDouble(4) == 0.0)
  }

  test("abcClasses approx route matches exact at fixture scale") {
    val pr = Tables.lineitem(spark, sf)
      .groupBy(col("l_partkey"))
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("rev"))
    def byClass(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2))).toMap
    val exact = byClass(Graft.abcClasses(pr, "l_partkey", "rev"))
    val approx = byClass(
      Graft.abcClasses(pr, "l_partkey", "rev", approx = true))
    // conservation: both routes partition the SAME items and revenue
    assert(exact.values.map(_._1).sum == approx.values.map(_._1).sum)
    val revE = exact.values.map(_._2).sum
    val revA = approx.values.map(_._2).sum
    assert(math.abs(revE - revA) / revE < 1e-9, s"$revE vs $revA")
    // per-class: with bins >= items the histogram boundaries resolve
    // nearly every item — classes agree within one boundary bucket
    Seq("A", "B", "C").foreach { c =>
      val (ne, re) = exact(c); val (na, ra) = approx(c)
      assert(math.abs(ne - na) <= math.max(3L, ne / 10),
        s"class $c counts: exact $ne approx $na")
      assert(math.abs(re - ra) / revE < 0.05,
        s"class $c revenue: exact $re approx $ra")
    }
  }

  test("semanticDedup removes within-cell near-dups, keeps distinct rows") {
    import spark.implicits._
    // 4 well-separated Gaussian clusters in 16-dim with WIDE intra-
    // cluster spread (noise 0.5 → cluster-mate cosine ≈ 0.8), plus ten
    // true near-duplicates (noise 0.01 → cosine ≈ 0.9999 to their
    // originals). threshold 0.99 sits between the two bands with margin.
    val rnd = new scala.util.Random(11)
    val (dim, nClusters, per) = (16, 4, 50)
    def unit(v: Array[Double]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val centers = Array.fill(nClusters)(Array.fill(dim)(rnd.nextGaussian()))
    val originals = for (c <- 0 until nClusters; i <- 0 until per) yield
      ((c * per + i).toLong,
        centers(c).map(_ + 0.5 * rnd.nextGaussian()))
    val copies = originals.take(10).map { case (id, v) =>
      (10000L + id, v.map(_ + 0.01 * rnd.nextGaussian()))
    }
    val store = (originals ++ copies)
      .map { case (id, v) => (id, unit(v)) }.toDF("id", "embedding")
    val out = Graft.semanticDedup(store, k = nClusters, threshold = 0.99)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out.size == originals.size + copies.size)
    // every injected copy has a lower-id near-identical partner → dropped
    copies.foreach { case (id, _) =>
      assert(!out(id), s"copy $id should be keep=false")
    }
    // every original survives: its only >=0.99 neighbours are the
    // HIGHER-id copies, and cluster-mates sit far below the threshold
    originals.foreach { case (id, _) =>
      assert(out(id), s"original $id should be keep=true")
    }
  }

  test("rfmScores approx route stays within one quintile of ntile") {
    val ev = Tables.events(spark, sf)
    val exact = Graft.rfmScores(ev, "user_id", "ts", "event_type", "value")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3))).toMap
    val approx = Graft.rfmScores(ev, "user_id", "ts", "event_type",
        "value", approx = true)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3))).toMap
    assert(exact.keySet == approx.keySet)
    assert(exact.nonEmpty)
    // ties are force-split by ntile but pooled by the boundary route, so
    // individual scores may differ — bounded by one quintile for nearly
    // all users, and every score stays in 1..5
    def close(a: Int, b: Int) = math.abs(a - b) <= 1
    val offByMoreThan1 = exact.count { case (u, (r1, f1, m1)) =>
      val (r2, f2, m2) = approx(u)
      Seq(r2, f2, m2).foreach(s => assert(s >= 1 && s <= 5))
      !(close(r1, r2) && close(f1, f2) && close(m1, m2))
    }
    assert(offByMoreThan1 <= math.max(1, exact.size / 5),
      s"$offByMoreThan1 of ${exact.size} users off by >1 quintile")
  }

  test("recallAudit counts hand-checkable hits; empty candidates report 0") {
    import spark.implicits._
    // 6 store vectors on two axes: probe (1,0) ranks ids 1,2 (x-axis)
    // above 3,4 (diagonal) above 5,6 (y-axis)
    val store = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.7f, 0.7f)), (4L, Array(0.6f, 0.8f)),
      (5L, Array(0.1f, 0.9f)), (6L, Array(0f, 1f)))
      .toDF("id", "embedding")
    val probes = Seq((0L, Array(1f, 0f))).toDF("probe_id", "probe")
    // candidate set found ids 1 and 3 (2 of the exact top-3 {1,2,3})
    val cands = Seq((0L, 1L), (0L, 3L)).toDF("probe_id", "id")
    val audit = api.Graft.recallAudit(store, probes, cands, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(audit == Seq((0L, 2L, 3L)), audit.toString)
    // a probe whose index returned nothing must still report hits=0
    val none = api.Graft.recallAudit(store, probes,
        Seq.empty[(Long, Long)].toDF("probe_id", "id"), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(none == Seq((0L, 0L, 3L)), none.toString)
  }

  test("timerSessions facade sessionizes a caller stream frame") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def t(hhmm: String) = java.sql.Timestamp.valueOf(s"2026-01-01 $hhmm:00")
    val prev =
      spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[(Long, java.sql.Timestamp)]
      val sessions = api.Graft.timerSessions(
        ms.toDF().toDF("uid", "when").withWatermark("when", "10 minutes"),
        "uid", "when", gapMinutes = 30)
      val name = "facadesess"
      streaming.Streams.withStatePartitions(spark, 2) {
        val q = sessions.writeStream.format("memory").queryName(name)
          .outputMode("update").start()
        try {
          ms.addData((7L, t("09:00")), (7L, t("09:10")))
          q.processAllAvailable()
          ms.addData((8L, t("11:00"))) // watermark -> 10:50, closes uid 7
          q.processAllAvailable()
        } finally q.stop()
      }
      val rows = spark.table(name)
        .select("user_id", "n_events").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(rows == Seq((7L, 2L)), rows.toString)
    } finally prev match {
      case Some(p) =>
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None =>
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("ann_recall_audit_persisted counts match the inventory's own top-k") {
    // The audit's (probe 0, method) hit counts must equal the
    // intersection of the inventory's OWN ann_ivfpq_topk /
    // ann_ivf_graph_topk outputs (same seeded index, same session cache)
    // with the exact top-10 — the audit is a counter over those search
    // paths, not a third algorithm. Also pins shape: 4 probes x 2
    // methods, hits within [0, n_exact].
    import graft.functions._
    val audit = SparkEntry.queries("ann_recall_audit_persisted")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(audit.size == 8, s"4 probes x 2 methods expected: ${audit.keySet}")
    audit.foreach { case (k, (hits, nExact)) =>
      assert(nExact == 10L && hits >= 0L && hits <= nExact, s"$k -> $hits/$nExact")
    }
    val e = Tables.embeddings(spark, sf)
    val probe0 = e.where(col("vec_id") === 0).select(col("embedding").as("pe"))
    val exact0 = e.where(col("vec_id") =!= 0)
      .crossJoin(broadcast(probe0))
      .select(col("vec_id"), cosine_sim(col("embedding"), col("pe")).as("s"))
      .orderBy(col("s").desc, col("vec_id"))
      .limit(10).collect().map(_.getLong(0)).toSet
    def topIds(q: String): Set[Long] =
      SparkEntry.queries(q)(spark, sf).collect().map(_.getLong(0)).toSet
    val wantIvfpq = (topIds("ann_ivfpq_topk") & exact0).size.toLong
    val wantGraph = (topIds("ann_ivf_graph_topk") & exact0).size.toLong
    assert(audit((0L, "ivfpq"))._1 == wantIvfpq,
      s"ivfpq audit ${audit((0L, "ivfpq"))._1} != recomputed $wantIvfpq")
    assert(audit((0L, "graph"))._1 == wantGraph,
      s"graph audit ${audit((0L, "graph"))._1} != recomputed $wantGraph")
  }

  test("stream_ann_ingest census equals the batch nearest-centroid route") {
    // The ingest path must put every streamed vector in exactly the cell
    // a batch recompute against the SAME persisted centroids chooses —
    // per-cell (count, id-checksum) equality catches any misrouted row.
    val got = SparkEntry.queries("stream_ann_ingest")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val dir = graft.operators.Ann.ivfIndex(spark, sf)
    val want = graft.operators.Ann.assignToCentroids(
        Tables.embeddings(spark, sf),
        spark.read.parquet(s"$dir/centroids"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), sum(col("vec_id")).as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want, s"ingested census $got != batch recompute $want")
  }

  test("applyChanges: delete wins by seq, later upsert resurrects") {
    import spark.implicits._
    val base = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "bal")
    val feed = Seq(
      (2L, 1L, "U", 21.0), (2L, 2L, "D", 0.0),   // update then delete → gone
      (3L, 1L, "D", 0.0), (3L, 2L, "U", 31.0),   // delete then upsert → back
      (4L, 1L, "U", 40.0)                         // unseen key → insert
    ).toDF("id", "seq", "op", "bal")
    val out = graft.api.Graft
      .applyChanges(base, "id", "bal", feed, "id", "seq", "op", "bal")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSet
    assert(out == Set((1L, "carry", 10.0), (3L, "update", 31.0),
      (4L, "insert", 40.0)), s"got $out")
  }

  test("paragraphDedup drops only the repeated span, keeps the rest") {
    import spark.implicits._
    // 4-word segments: doc 0 = A B; doc 1 = A C (A is shared boilerplate);
    // doc 2 = short tail (< segWords) unique — must survive untouched.
    val A = "the same legal boilerplate"
    val B = "unique content of doc0"
    val C = "unique content of doc1"
    val docs = Seq(
      (0L, s"$A $B"),
      (1L, s"$A $C"),
      (2L, "tiny tail")).toDF("doc_id", "text")
    val out = graft.api.Graft.paragraphDedup(docs, segWords = 4)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out(0) == ((0L, 2L, 0L, s"$A $B")),
      s"doc 0 is first occurrence — keeps everything: ${out(0)}")
    assert(out(1) == ((1L, 2L, 1L, C)),
      s"doc 1 loses the shared span, keeps its unique segment: ${out(1)}")
    assert(out(2) == ((2L, 1L, 0L, "tiny tail")),
      s"sub-segment doc unchanged: ${out(2)}")
  }

  test("kCore peels the tail, keeps the clique; input is canonicalized") {
    import spark.implicits._
    // 4-clique {1,2,3,4} + a pendant chain 4-5-6: at k=3 the chain peels
    // (5 and 6 never reach degree 3) and every clique member keeps
    // exactly its 3 in-core neighbors. The edge list is deliberately
    // DIRTY — symmetric duplicates (2,1), an exact duplicate (3,4), and
    // a self-loop (5,5) — none of which may inflate a degree: an
    // uncanonicalized count would keep the chain alive or double the
    // clique degrees
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (1L, 4L), (2L, 3L),
      (2L, 4L), (3L, 4L), (3L, 4L), (4L, 5L), (5L, 5L), (5L, 6L))
      .toDF("u", "v")
    val got = graft.api.Graft.kCore(edges, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == Seq((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)), got.toString)
  }

  test("setOverlap counts co-membership; pairs never co-present are absent") {
    import spark.implicits._
    val m = Seq(("k1", "a"), ("k1", "b"), ("k2", "a"), ("k2", "b"),
      ("k3", "b"), ("k3", "c"), ("k3", "b")).toDF("k", "item")
    val got = graft.api.Graft.setOverlap(m, "k", "item")
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(got(("a", "b")) == ((2L, 2L, 3L, 2.0 / 3.0)), got.toString)
    assert(got(("b", "c")) == ((1L, 3L, 1L, 1.0 / 3.0)), got.toString)
    assert(!got.contains(("a", "c")), "never co-present => absent")
  }

  test("timeWeightedAvg holds each value to the next sample, drops the last") {
    import spark.implicits._
    // v=1 held 10 s, v=3 held 20 s, v=5 drops (no next sample):
    // twa = (1*10e6 + 3*20e6) / 30e6 = 7/3
    val df = Seq(("g", 0L, 1L, BigDecimal("1.00")),
      ("g", 10000000L, 2L, BigDecimal("3.00")),
      ("g", 30000000L, 3L, BigDecimal("5.00")))
      .toDF("grp", "tus", "eid", "v")
      .select(col("grp"), col("tus"), col("eid"),
        col("v").cast("decimal(12,2)").as("v"))
    val r = graft.api.Graft.timeWeightedAvg(df, Seq("grp"), "tus", "eid", "v")
      .collect().head
    assert(r.getLong(1) == 2L && r.getLong(2) == 30000000L, r.toString)
    assert(math.abs(r.getDouble(3) - 7.0 / 3.0) < 1e-12, r.toString)
  }

  test("winsorizedStats excludes NULLs; mean stays inside the clip band") {
    import spark.implicits._
    // one group, values 1..10 plus two NULLs: NULL rows must appear in
    // neither n nor the sum (an unfiltered greatest/least would clip
    // them to the LOWER bound and bias wmean down)
    val df = ((1 to 10).map(i => ("g", Some(i.toDouble))) ++
      Seq(("g", Option.empty[Double]), ("g", Option.empty[Double])))
      .toDF("grp", "v")
    val r = graft.api.Graft.winsorizedStats(df, "grp", "v",
      loQ = 0.1, hiQ = 0.9).collect().head
    val (lo, hi, n, wm) =
      (r.getDouble(1), r.getDouble(2), r.getLong(3), r.getDouble(4))
    assert(n == 10L, s"NULLs must not count: n=$n")
    assert(lo <= wm && wm <= hi, s"lo=$lo wm=$wm hi=$hi")
    // interpolated p10/p90 of 1..10 are 1.9 and 9.1; clipped mean is
    // (1.9 + 2..9 + 9.1) / 10 = 5.5
    assert(math.abs(wm - 5.5) < 1e-9, s"wm=$wm")
  }

  test("retentionTriangle / aprioriTriples / bootstrapCi facade kernels " +
      "on hand-checkable frames") {
    import spark.implicits._
    // retention: both users first-active in the week of Mon 2024-01-01,
    // only user 1 returns the following week
    val ev = Seq((1L, "2024-01-01 10:00:00"), (2L, "2024-01-02 10:00:00"),
      (1L, "2024-01-08 10:00:00")).toDF("user_id", "s")
      .select(col("user_id"), col("s").cast("timestamp").as("ts"))
    val rt = Graft.retentionTriangle(ev).collect()
    assert(rt.length == 2, rt.mkString(", "))
    assert(rt(0).getLong(1) == 0L && rt(0).getLong(2) == 2L &&
      rt(0).getLong(3) == 2L && rt(0).getDouble(4) == 1.0)
    assert(rt(1).getLong(1) == 1L && rt(1).getLong(3) == 1L &&
      rt(1).getDouble(4) == 0.5)
    // apriori: {1,2,3} twice and {1,2,4} once → only (1,2,3) at support 2
    // (items 1,2 are in frequent pairs; 4 is pruned before the explode)
    val b = Seq((10L, 1L), (10L, 2L), (10L, 3L), (11L, 1L), (11L, 2L),
      (11L, 3L), (12L, 1L), (12L, 2L), (12L, 4L)).toDF("bk", "it")
    val tr = Graft.aprioriTriples(b, "bk", "it").collect()
    assert(tr.length == 1 && tr(0).getLong(0) == 1L &&
      tr(0).getLong(1) == 2L && tr(0).getLong(2) == 3L &&
      tr(0).getLong(3) == 2L, tr.mkString(", "))
    // bootstrap of a CONSTANT column: every replica mean is exactly the
    // constant, so the CI collapses to a point — pins the weighting and
    // order-statistic plumbing without distributional assumptions
    val c = (1 to 200).map(i => ("g", BigDecimal("5.00"), i.toString))
      .toDF("grp", "v", "k")
    val ci = Graft.bootstrapCi(c, "grp",
      col("v").cast("decimal(12,2)"), col("k")).collect().head
    assert(ci.getLong(1) == 200L && ci.getDouble(2) == 5.0 &&
      ci.getDouble(3) == 5.0 && ci.getDouble(4) == 5.0, ci.toString)
  }

  test("persisted-IVF delete/compaction: census balances, live view and " +
      "search exclude deletes, both compaction paths, recall holds on " +
      "the shrunken store") {
    import graft.operators.Ann
    val emb = Tables.embeddings(spark, sf)
    val n = emb.count()
    def freshIndex(): String = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_ivf_lifespec_").toString
      Ann.writeIndexLayers(spark, dir,
        Ann.kmeansCells(emb, k = 4, iters = 3),
        withGraph = false, withPq = false)
      dir
    }

    // --- low churn (every 7th id ≈ 14% < 20%) → per-cell REWRITE path
    val dir1 = freshIndex()
    val dels1 = emb.where(col("vec_id") % 7 === 0).select("vec_id")
    val nDel1 = dels1.count()
    Ann.ivfDelete(spark, dir1, dels1)
    // delete is tombstone-only: the cells table still has every row,
    // the LIVE view already excludes the deleted ids
    assert(spark.read.parquet(s"$dir1/cells").count() == n)
    val live1 = Ann.ivfLiveCells(spark, dir1)
    assert(live1.count() == n - nDel1)
    assert(live1.join(dels1, Seq("vec_id"), "left_semi").count() == 0)
    val census1 = Ann.ivfCompact(spark, dir1, rebuildChurn = 0.2).collect()
    // census balances: Σ n_before = n, Σ n_tombstoned = deletes,
    // n_live = n_before − n_tombstoned per cell
    assert(census1.map(_.getLong(1)).sum == n)
    assert(census1.map(_.getLong(2)).sum == nDel1)
    assert(census1.forall(r => r.getLong(3) == r.getLong(1) - r.getLong(2)))
    assert(census1.forall(r =>
      r.getString(4) == (if (r.getLong(2) > 0) "rewritten" else "kept")),
      census1.mkString(", "))
    // compaction consumed the tombstones as part of the generation
    // commit: the published generation has no tombstones dir; the
    // superseded bare layers (including their tombstones) are GRACE-
    // RETAINED until the next publish so in-flight readers complete
    val root1 = streaming.Streams.storeDataDir(dir1)
    assert(root1 != dir1, "compaction must publish a new generation")
    assert(!java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(root1, "tombstones")))
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(dir1, "tombstones")))
    assert(spark.read.parquet(s"$root1/cells").count() == n - nDel1)
    assert(spark.read.parquet(s"$root1/cells")
      .join(dels1, Seq("vec_id"), "left_semi").count() == 0)
    // centroids NOT retrained on this path
    assert(spark.read.parquet(s"$root1/centroids").count() == 4)

    // --- high churn (every 3rd id ≈ 33% > 20%) → k-means REBUILD path
    val dir2 = freshIndex()
    val dels2 = emb.where(col("vec_id") % 3 === 0).select("vec_id")
    val nDel2 = dels2.count()
    Ann.ivfDelete(spark, dir2, dels2)
    val census2 = Ann.ivfCompact(spark, dir2, rebuildChurn = 0.2).collect()
    assert(census2.forall(_.getString(4) == "rebuilt"),
      census2.mkString(", "))
    val root2 = streaming.Streams.storeDataDir(dir2)
    val cells2 = spark.read.parquet(s"$root2/cells")
    assert(cells2.count() == n - nDel2)
    assert(cells2.join(dels2, Seq("vec_id"), "left_semi").count() == 0)
    assert(spark.read.parquet(s"$root2/centroids").count() == 4)

    // --- recall vs exact on the shrunken store: route the standard
    // probe through the rebuilt centroids, search 3 of 4 cells, compare
    // with the brute-force top-10 over the SURVIVORS
    import graft.functions.cosine_sim
    val probe = emb.where(col("vec_id") === 1) // vec 0 is deleted (÷3)
      .select(col("embedding").as("probe"))
    val pv = probe.head().getSeq[Float](0)
    val routed = spark.read.parquet(s"$root2/centroids")
      .crossJoin(broadcast(probe))
      .select(col("cell"), cosine_sim(col("cent"), col("probe")).as("cs"))
      .orderBy(col("cs").desc, col("cell"))
      .limit(3).select("cell").collect().map(_.getString(0))
    val approx = cells2
      .where(col("cell").isin(routed.toIndexedSeq: _*))
      .where(col("vec_id") =!= 1)
      .crossJoin(broadcast(probe))
      .select(col("vec_id"), cosine_sim(col("embedding"), col("probe"))
        .as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(10).collect().map(_.getLong(0)).toSet
    val exact = emb.join(dels2, Seq("vec_id"), "left_anti")
      .where(col("vec_id") =!= 1)
      .crossJoin(broadcast(probe))
      .select(col("vec_id"), cosine_sim(col("embedding"), col("probe"))
        .as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(10).collect().map(_.getLong(0)).toSet
    assert(pv.nonEmpty && approx.size == 10 && exact.size == 10)
    assert(approx.forall(id => id % 3 != 0),
      "a deleted id surfaced in post-compaction search")
    val recall = approx.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall@10 on the shrunken store: $recall")

    // the shipped query runs the whole lifecycle end-to-end
    val qr = SparkEntry.queries("ann_ivf_delete_compact")(spark, sf)
      .collect()
    assert(qr.map(_.getLong(1)).sum > 0 &&
      qr.forall(r => r.getLong(3) == r.getLong(1) - r.getLong(2)))
  }

  test("compaction below the rebuild churn rewrites the graph and PQ " +
      "layers to exactly the live ids, and ADC search still serves") {
    import graft.operators.Ann
    val emb = Tables.embeddings(spark, sf)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_derived_").toString
    Ann.writeIndexLayers(spark, dir, Ann.kmeansCells(emb, k = 4, iters = 3))
    Ann.ivfDelete(spark, dir,
      emb.where(col("vec_id") % 7 === 0).select("vec_id"))
    val census = Ann.ivfCompact(spark, dir, rebuildChurn = 0.2).collect()
    assert(census.exists(_.getString(4) == "rewritten") &&
      census.forall(_.getString(4) != "rebuilt"), census.mkString(", "))
    val root = streaming.Streams.storeDataDir(dir)
    assert(root != dir, "compaction must publish a new generation")
    val live = emb.where(col("vec_id") % 7 =!= 0).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    def ids(layer: String, idCol: String): Set[Long] =
      Ann.readLayer(spark, s"$root/$layer").select(idCol).distinct()
        .collect().map(_.getLong(0)).toSet
    // the graph's boundary replicas repeat an id in a second cell, so
    // the layers are compared as id sets
    assert(ids("graph", "vec_id") == live)
    assert(ids("pq_codes", "id") == live)
    // ADC-score every code of the compacted index against one probe
    val probe = emb.where(col("vec_id") === 1)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe"))
    val hits = Ann.adcScoreResidual(Ann.readLayer(spark, s"$root/pq_codes"),
        Ann.flatLayer(spark, dir, root, "pq_codebook"),
        Ann.flatLayer(spark, dir, root, "centroids"), probe, 8, 50)
      .select("id").collect().map(_.getLong(0))
    assert(hits.length == 50, hits.mkString(", "))
    assert(hits.forall(live), hits.filterNot(live).mkString(", "))
  }

  test("stream_ann_delete census equals the batch tombstone recompute") {
    val emb = Tables.embeddings(spark, sf)
    val nDel = emb.where(col("vec_id") % 5 === 0).count()
    val n = emb.count()
    val rows = SparkEntry.queries("stream_ann_delete")(spark, sf).collect()
    // per-cell live + tombstoned must cover the store exactly, with
    // every %5 id tombstoned and none of them in the live checksum
    assert(rows.map(_.getLong(2)).sum == nDel,
      s"tombstoned ${rows.map(_.getLong(2)).sum} != $nDel")
    assert(rows.map(_.getLong(1)).sum == n - nDel)
    val liveIdSum = rows.map(_.getLong(3)).sum
    val expectedLiveIdSum = emb.where(col("vec_id") % 5 =!= 0)
      .agg(sum(col("vec_id"))).head().getLong(0)
    assert(liveIdSum == expectedLiveIdSum,
      s"live id checksum $liveIdSum != $expectedLiveIdSum — a deleted " +
        "id survived in the live view or a live one was dropped")
  }

  test("compaction publish is crash-safe: an unpublished generation " +
      "leaves the old one fully live, and a fully-tombstoned cell does " +
      "not resurrect after publish") {
    import graft.operators.Ann
    val emb = Tables.embeddings(spark, sf)
    val n = emb.count()
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_crash_").toString
    Ann.writeIndexLayers(spark, dir,
      Ann.kmeansCells(emb, k = 4, iters = 3),
      withGraph = false, withPq = false)
    // tombstone EVERY vector of the smallest cell — the case the
    // in-place dynamic-overwrite design silently resurrected (zero live
    // rows => no partition rewrite => old files stayed)
    val cellsDf = Ann.readLayer(spark, s"$dir/cells")
    val smallest = cellsDf.groupBy("cell").agg(count(lit(1)).as("n"))
      .orderBy(col("n"), col("cell")).head()
    val victim = smallest.getString(0)
    val nVictim = smallest.getLong(1)
    // pin the delete set: the old generation's files are GC'd at publish
    val dels = cellsDf.where(col("cell") === victim).select("vec_id")
      .localCheckpoint(true)
    Ann.ivfDelete(spark, dir, dels)
    // CRASH INJECTION: every layer of gen-1 is written, CURRENT never
    // flips (rebuildChurn 0.9 forces the per-cell rewrite path so the
    // fully-tombstoned case is the one exercised)
    val census = Ann.ivfCompact(spark, dir, rebuildChurn = 0.9,
      publish = false).collect()
    assert(streaming.Streams.storeDataDir(dir) == dir,
      "unpublished compaction must not move the live root")
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(dir, "gen-1", "cells")))
    // the old generation still serves the exact pre-crash live view:
    // tombstones intact, anti-join still applied
    val live0 = Ann.ivfLiveCells(spark, dir)
    assert(live0.count() == n - nVictim)
    assert(live0.where(col("cell") === victim).count() == 0)
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(dir, "tombstones")))
    // recovery: publish the written generation (re-running ivfCompact
    // would redo it idempotently)
    streaming.Streams.publishGeneration(dir,
      streaming.Streams.nextGeneration(dir))
    val root = streaming.Streams.storeDataDir(dir)
    assert(root == s"$dir/gen-1")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(
      root, "cells", s"cell=$victim")),
      "fully-tombstoned cell resurrected in the published generation")
    val after = Ann.readLayer(spark, s"$root/cells")
    assert(after.count() == n - nVictim)
    assert(after.join(dels, Seq("vec_id"), "left_semi").count() == 0)
    assert(Ann.ivfLiveCells(spark, dir).count() == n - nVictim)
    // tombstones were consumed as part of the commit: the PUBLISHED
    // generation is born without them...
    assert(!java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(root, "tombstones")))
    // ...while the superseded generation is GRACE-RETAINED in full
    // (cells AND tombstones) so a reader that resolved the old root
    // just before the flip still completes against intact files
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(dir, "tombstones")))
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(dir, "cells")))
    // the census named the outcome: victim fully rewritten to zero rows
    val vrow = census.find(_.getString(0) == victim).get
    assert(vrow.getLong(3) == 0L && vrow.getString(4) == "rewritten")
    // centroids carried verbatim below the rebuild threshold — the
    // empty cell still routes (and prunes to zero rows)
    assert(spark.read.parquet(s"$root/centroids").count() == 4)
  }

  test("generation GC grace: a reader resolved before publish " +
      "completes against the retained generation; the next publish " +
      "reclaims it") {
    import graft.operators.Ann
    val emb = Tables.embeddings(spark, sf)
    val n = emb.count()
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_grace_").toString
    Ann.writeIndexLayers(spark, dir,
      Ann.kmeansCells(emb, k = 4, iters = 3),
      withGraph = false, withPq = false)
    // an in-flight reader: resolves the (implicit generation-0) root
    // and lists its files NOW; the scan itself runs after the publish
    val oldRoot = streaming.Streams.storeDataDir(dir)
    assert(oldRoot == dir)
    val reader = Ann.readLayer(spark, s"$oldRoot/cells")
    val dels = reader.where(col("vec_id") % 4 === 0)
      .select("vec_id").localCheckpoint(true)
    val nDel = dels.count()
    Ann.ivfDelete(spark, dir, dels)
    Ann.ivfCompact(spark, dir, rebuildChurn = 0.9)
    assert(streaming.Streams.storeDataDir(dir) == s"$dir/gen-1")
    // the in-flight read completes and still sees the ENTIRE
    // superseded generation — the flip deleted nothing it holds
    assert(reader.count() == n,
      "reader resolved pre-publish lost files to generation GC")
    // the pre-publish LIVE view (old cells minus old tombstones) is
    // still reconstructible off the retained root
    val oldLive = reader.join(
      Ann.readLayer(spark, s"$oldRoot/tombstones").select("vec_id"),
      Seq("vec_id"), "left_anti")
    assert(oldLive.count() == n - nDel)
    // new readers resolve gen-1 and see the compacted live view
    assert(Ann.ivfLiveCells(spark, dir).count() == n - nDel)
    // the NEXT publish reclaims the two-publish-old bare generation
    // and grace-retains gen-1 in its place
    val dels2 = Ann.ivfLiveCells(spark, dir)
      .where(col("vec_id") % 5 === 1)
      .select("vec_id").localCheckpoint(true)
    val nDel2 = dels2.count()
    Ann.ivfDelete(spark, dir, dels2)
    Ann.ivfCompact(spark, dir, rebuildChurn = 0.9)
    assert(streaming.Streams.storeDataDir(dir) == s"$dir/gen-2")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "cells")),
      "two-publish-old bare generation must be reclaimed")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "tombstones")))
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(dir, "gen-1", "cells")),
      "the superseded gen-1 must be grace-retained")
    assert(Ann.ivfLiveCells(spark, dir).count() == n - nDel - nDel2)
  }

  test("mixed-churn ANN lifecycle: two ingest-delete-compact-ingest " +
      "cycles keep the live view exact and recall@10 vs exact after " +
      "every phase") {
    import graft.operators.Ann
    import graft.functions.cosine_sim
    val emb = Tables.embeddings(spark, sf) // 500 vectors at this sf
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_churn_").toString
    Ann.writeIndexLayers(spark, dir,
      Ann.kmeansCells(emb.where(col("vec_id") < 300), k = 4, iters = 3),
      withGraph = false, withPq = false)
    // the driver-side model of the live id set — the oracle every
    // phase's live view and exact top-10 are checked against
    var liveIds = (0L until 300L).toSet
    val probe = emb.where(col("vec_id") === 1)
      .select(col("embedding").as("probe"))
    def ingest(from: Long, until: Long): Unit = {
      Ann.ivfIngest(spark, dir,
        emb.where(col("vec_id") >= from && col("vec_id") < until))
      liveIds ++= (from until until)
    }
    def delete(mod: Long): Set[Long] = {
      val ids = liveIds.filter(id => id % mod == 0 && id != 1)
      Ann.ivfDelete(spark, dir,
        emb.where(col("vec_id").isInCollection(ids)).select("vec_id"))
      liveIds --= ids
      ids
    }
    def checkPhase(phase: String): Unit = {
      val live = Ann.ivfLiveCells(spark, dir)
      val got = live.select("vec_id").collect().map(_.getLong(0)).toSet
      assert(got == liveIds, s"$phase: live view diverged from the " +
        s"model (missing=${(liveIds -- got).take(5)}, " +
        s"extra=${(got -- liveIds).take(5)})")
      def top10(df: org.apache.spark.sql.DataFrame) = df
        .where(col("vec_id") =!= 1)
        .crossJoin(broadcast(probe))
        .select(col("vec_id"),
          cosine_sim(col("embedding"), col("probe")).as("s"))
        .orderBy(col("s").desc, col("vec_id"))
        .limit(10).collect().map(_.getLong(0)).toSet
      val routed = spark.read
        .parquet(s"${streaming.Streams.storeDataDir(dir)}/centroids")
        .crossJoin(broadcast(probe))
        .select(col("cell"), cosine_sim(col("cent"), col("probe")).as("cs"))
        .orderBy(col("cs").desc, col("cell"))
        .limit(3).select("cell").collect().map(_.getString(0))
      val approx = top10(live.where(col("cell")
        .isin(routed.toIndexedSeq: _*)))
      val exact = top10(emb.where(col("vec_id").isInCollection(liveIds)))
      val recall = approx.intersect(exact).size.toDouble / exact.size
      assert(recall >= 0.6, s"$phase: recall@10 $recall")
    }
    def compactAndCheck(phase: String, expectAction: String): Unit = {
      val nBefore = liveIds.size
      val census = Ann.ivfCompact(spark, dir, rebuildChurn = 0.2).collect()
      assert(census.map(_.getLong(3)).sum == nBefore,
        s"$phase: census n_live != model live count")
      assert(census.forall(r => r.getLong(3) ==
        r.getLong(1) - r.getLong(2)), s"$phase: census does not balance")
      assert(census.exists(_.getString(4) == expectAction),
        s"$phase: expected a '$expectAction' cell, got " +
          census.map(_.getString(4)).mkString(","))
      checkPhase(phase)
    }
    checkPhase("build")
    // ---- cycle 1: grow, churn under the threshold, compact, grow again
    ingest(300, 400); checkPhase("ingest-1a")
    val d1 = delete(7); checkPhase("delete-1")
    assert(d1.nonEmpty && d1.size.toDouble / (liveIds.size + d1.size) < 0.2)
    compactAndCheck("compact-1", "rewritten")
    ingest(400, 450); checkPhase("ingest-1b")
    // ---- cycle 2: churn OVER the threshold -> full k-means rebuild
    val d2 = delete(3); checkPhase("delete-2")
    assert(d2.size.toDouble / (liveIds.size + d2.size) > 0.2)
    compactAndCheck("compact-2", "rebuilt")
    ingest(450, 500); checkPhase("ingest-2")
    // two full cycles later the index is on its second published
    // generation and the store holds exactly the surviving ids
    assert(streaming.Streams.storeDataDir(dir) == s"$dir/gen-2")
    assert(Ann.ivfLiveCells(spark, dir).count() == liveIds.size)
  }

  test("anovaF recovers the closed form on a two-group fixture") {
    import spark.implicits._
    val df = Seq(("a", 1), ("a", 3), ("b", 5), ("b", 7))
      .toDF("g", "x")
    val r = Graft.anovaF(df, "g", col("x").cast("decimal(12,2)")).head()
    assert(r.getAs[Long]("n_total") == 4 && r.getAs[Long]("k_groups") == 2)
    // means 2 and 6, grand mean 4: SSB = 2*4 + 2*4 = 16, SSW = 2 + 2
    assert(r.getAs[Double]("ss_between") == 16.0)
    assert(r.getAs[Double]("ss_within") == 4.0)
    assert(r.getAs[Double]("f_stat") == 8.0)
    assert(r.getAs[Double]("eta_sq") == 0.8)
  }

  test("theilSenTrend ignores the outlier OLS would chase") {
    import spark.implicits._
    val series = Seq((0L, 1L), (1L, 3L), (2L, 5L), (3L, 100L))
      .toDF("t", "y")
    val r = Graft.theilSenTrend(series, "t", "y").head()
    assert(r.getAs[Long]("n_points") == 4)
    assert(r.getAs[Long]("n_pairs") == 6)
    // slopes sorted: [2, 2, 2, 33, 48.5, 95] -> lower median = 2
    assert(r.getAs[Double]("sen_slope") == 2.0)
  }

  test("theilSenTrend fails fast on an unaggregated series instead " +
      "of exploding O(n²) pairs") {
    import spark.implicits._
    val raw = spark.range(
      graft.operators.Analytics.TheilSenMaxPoints + 1)
      .select(col("id").as("t"), (col("id") * 2).as("y"))
    val ex = intercept[IllegalArgumentException] {
      Graft.theilSenTrend(raw, "t", "y")
    }
    assert(ex.getMessage.contains("aggregate the series"),
      s"guard message should steer the caller: ${ex.getMessage}")
    // at the bound itself the estimator still runs (no off-by-one
    // lockout of a legitimately large aggregated series): probe the
    // guard with the count check only — a full max-length pair
    // explode is a bench job, not a unit test
    val ok = Seq((0L, 0L), (1L, 2L), (2L, 4L)).toDF("t", "y")
    assert(Graft.theilSenTrend(ok, "t", "y").head()
      .getAs[Double]("sen_slope") == 2.0)
    // a caller who KNOWS its series is aggregated raises the bound
    // explicitly and the same over-default series runs
    val r = Graft.theilSenTrend(raw, "t", "y",
      maxPoints = graft.operators.Analytics.TheilSenMaxPoints + 1).head()
    assert(r.getAs[Long]("n_points") ==
      graft.operators.Analytics.TheilSenMaxPoints + 1)
    assert(r.getAs[Double]("sen_slope") == 2.0)
  }

  test("survivalKm censors the tail and books the lone event") {
    import spark.implicits._
    val ev = Seq(
      (1L, "2020-01-15"), (1L, "2020-06-20"),   // event, dur 5
      (2L, "2020-01-01"), (2L, "2021-06-01"),   // censored, dur 17
      (3L, "2021-05-02"), (3L, "2021-06-30"))   // censored, dur 1
      .toDF("id", "d")
      .select(col("id"), to_timestamp(col("d")).as("ts"))
    val rows = Graft.survivalKm(ev, "id", "ts").collect()
    assert(rows.map(_.getAs[Long]("months")).toSeq == Seq(1L, 5L, 17L))
    assert(rows.map(_.getAs[Long]("n_risk")).toSeq == Seq(3L, 2L, 1L))
    assert(rows.map(_.getAs[Long]("n_events")).toSeq == Seq(0L, 1L, 0L))
    assert(rows.map(_.getAs[Long]("n_censored")).toSeq ==
      Seq(1L, 0L, 1L))
    val ln = rows.map(_.getAs[Double]("ln_survival"))
    assert(ln(0) == 0.0)
    // ln(1/2) floored to micro units
    assert(ln(1) == -0.693148 && ln(2) == -0.693148)
  }

  test("hhi poles: monopoly group at 10000, even split near 10000/n") {
    import spark.implicits._
    val df = Seq(("g1", "a", 10), ("g2", "a", 5), ("g2", "b", 5))
      .toDF("g", "k", "v")
    val rows = Graft
      .hhiConcentration(df, "g", "k", col("v").cast("decimal(12,2)"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_members"), r.getAs[Double]("hhi"))).toMap
    assert(rows("g1") == (1L, 10000.0))
    assert(rows("g2")._1 == 2L && rows("g2")._2 == 5000.0)
  }

  test("yuleK: zero on all-distinct tokens, positive under repetition") {
    import spark.implicits._
    val tok = Seq(("d", "x"), ("d", "y"), ("d", "z"),
      ("r", "x"), ("r", "x"), ("r", "x"))
      .toDF("g", "t")
    val rows = Graft.yuleK(tok, "g", "t").collect()
      .map(r => r.getString(0) -> r.getAs[Double]("yule_k")).toMap
    assert(rows("d") == 0.0, "hapax-only vocabulary has K = 0")
    // one type occurring n=3 times: K = 1e4*(9-3)/9
    assert(rows("r") == 10000.0 * 6.0 / 9.0)
  }

  test("scoped: repeated pinning calls come back to the caller's baseline " +
      "each time, and the caller's own blocks stay") {
    import spark.implicits._
    Harness.release(spark)
    val mine = spark.sparkContext.parallelize(1 to 10).persist()
    mine.count()
    def pinned = spark.sparkContext.getPersistentRDDs.keySet
    val baseline = pinned
    // a path with a branch, a chord and a separate pair; both directions
    // present so every node is a PageRank source
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (2L, 5L), (1L, 3L), (9L, 10L))
      .toDF("u", "v")
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val pairs = e.select(col("u").as("doc_a"), col("v").as("doc_b"))
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val small = store.where(col("id") < 400)
    val probe = probes.where(col("probe_id") === 0).select("probe")
    val calls: Seq[(String, () => DataFrame)] = Seq(
      "pageRank" -> (() => Graft.pageRank(sym, iters = 4)),
      "personalizedPageRank" ->
        (() => Graft.personalizedPageRank(sym, 1L, iters = 4)),
      "shortestHops" -> (() => Graft.shortestHops(e, 1L)),
      "shortestCost" ->
        (() => Graft.shortestCost(e.withColumn("cost", lit(1L)), 1L)),
      "labelPropagation" -> (() => Graft.labelPropagation(e)),
      "kCore" -> (() => Graft.kCore(e, k = 2)),
      "commonNeighbors" -> (() => Graft.commonNeighbors(e)),
      "dedupClusters" -> (() => Graft.dedupClusters(pairs)),
      "dedupClustersLogN" -> (() => Graft.dedupClustersLogN(pairs)),
      "minhashNearDupPairs" ->
        (() => Graft.minhashNearDupPairs(docs, 0.5)),
      "simhashNearDupPairs" -> (() => Graft.simhashNearDupPairs(docs)),
      "nearDupKeepList" -> (() => Graft.nearDupKeepList(docs, 0.5)),
      "semanticDedup" ->
        (() => Graft.semanticDedup(small, k = 4, threshold = 0.99)),
      "pqTopK" -> (() => Graft.pqTopK(small, probes, 5)),
      "mmrRerank" -> (() => Graft.mmrRerank(small, probe, 3)))
    // the calls that hand pins to their caller, seen from inside the scope
    val handed = calls.collect { case (name, call) =>
      (1 to 3).map { i =>
        var inside = scala.collection.Set.empty[Int]
        Graft.scoped {
          val df = call()
          val n = df.count()
          inside = pinned -- baseline
          java.lang.ref.Reference.reachabilityFence(df)
          n
        }
        assert(pinned == baseline, s"$name call $i left ${pinned -- baseline}")
        assert(spark.sharedState.cacheManager.isEmpty,
          s"$name call $i left a cached frame")
        inside.nonEmpty
      }.reduce(_ && _) match { case true => Some(name); case _ => None }
    }.flatten
    assert(handed.toSet == calls.map(_._1).toSet -- Set("pqTopK", "mmrRerank"),
      handed)
    assert(mine.getStorageLevel.useMemory, "the caller's own RDD was freed")
    mine.unpersist()
  }

  test("scoped refuses to return a lazy frame over a block it would free, " +
      "and passes an eager result out") {
    import spark.implicits._
    def pinned = spark.sparkContext.getPersistentRDDs.keySet
    val before = pinned
    val e = Seq((1L, 2L), (2L, 3L)).toDF("u", "v")
    // shortestHops' result is lazy over its last round's `cut` pin
    val ex = intercept[IllegalStateException](
      Graft.scoped(Graft.shortestHops(e, 1L)))
    assert(ex.getMessage.contains("Pin.scope"), ex.getMessage)
    assert(pinned == before, pinned -- before)
    // the verified pairs are an eager checkpoint: the result keeps it
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val n = Graft.scoped(Graft.minhashNearDupPairs(docs, 0.5).count())
    val nd = Graft.scoped(Graft.minhashNearDupPairs(docs, 0.5))
    assert((pinned -- before).size == 1 && nd.count() == n)
    Pin.release(nd)
    assert(pinned == before, pinned -- before)
  }
}
