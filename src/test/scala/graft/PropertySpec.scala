package graft

import graft.functions._
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** ScalaCheck-generator property tests over the custom kernels
  * (SURVEY.md §5.2 item 3). No scalatestplus bridge ships in this
  * environment, so cases are drawn deterministically from seeded
  * generators — same coverage, reproducible failures.
  */
class PropertySpec extends SparkSuite {

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val vecGen: Gen[Array[Float]] =
    Gen.choose(2, 16).flatMap(n =>
      Gen.listOfN(n, Gen.choose(-100.0f, 100.0f)).map(_.toArray))

  private val textGen: Gen[String] =
    Gen.choose(1, 60).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("spark", "flink", "query", "row", "batch",
        "stream", "join", "agg", "scan", "sort")).map(_.mkString(" ")))

  test("cosine_sim ∈ [-1,1], symmetric, 1 on self (30 sampled cases)") {
    import spark.implicits._
    val pairs = samples(Gen.zip(vecGen, vecGen), 30)
    val selfs = samples(vecGen, 30).filter(_.exists(_ != 0f))
    val dfSelf = selfs.map(v => (v, v)).toDF("a", "b")
      .select(cosine_sim(col("a"), col("b"))).collect()
    dfSelf.foreach(r => assert(math.abs(r.getDouble(0) - 1.0) < 1e-6))
    val same = pairs.collect { case (a, b) if a.length == b.length => (a, b) }
    if (same.nonEmpty) {
      val rows = same.toDF("a", "b").select(
        cosine_sim(col("a"), col("b")), cosine_sim(col("b"), col("a"))).collect()
      rows.foreach { r =>
        assert(r.getDouble(0) == r.getDouble(1))
        assert(r.getDouble(0) >= -1.0 - 1e-9 && r.getDouble(0) <= 1.0 + 1e-9)
      }
    }
  }

  test("feature_hash_embed unit-norm + permutation-invariant (30 cases)") {
    import spark.implicits._
    val texts = samples(textGen, 30)
    val rows = texts.map(t => (t, t.split(" ").reverse.mkString(" ")))
      .toDF("a", "b")
      .select(feature_hash_embed(col("a"), 32).as("ea"),
        feature_hash_embed(col("b"), 32).as("eb"))
      .select(vector_norm(col("ea")), cosine_sim(col("ea"), col("eb")))
      .collect()
    rows.foreach { r =>
      assert(math.abs(r.getDouble(0) - 1.0) < 1e-6 || r.getDouble(0) == 0.0)
      if (r.getDouble(0) > 0) assert(math.abs(r.getDouble(1) - 1.0) < 1e-6)
    }
  }

  test("chunks always reassemble to the original text (60 cases)") {
    import spark.implicits._
    val caseGen = for {
      t <- Gen.alphaNumStr.suchThat(_.nonEmpty)
      sz <- Gen.choose(2, 30)
      ov <- Gen.choose(0, sz - 1)
    } yield (t, sz, ov)
    samples(caseGen, 60).foreach { case (t, sz, ov) =>
      val cs = Seq(t).toDF("t").select(chunks(col("t"), sz, ov))
        .head().getSeq[String](0)
      val rebuilt = cs.head + cs.tail.map(c => c.drop(math.min(ov, c.length)))
        .mkString
      assert(rebuilt == t, s"size=$sz ov=$ov text='$t'")
    }
  }

  test("word_ngrams: count, arity, and reconstruction hold (40 cases)") {
    import spark.implicits._
    val caseGen = for {
      t <- textGen
      n <- Gen.choose(1, 6)
    } yield (t, n)
    samples(caseGen, 40).foreach { case (t, n) =>
      val toks = t.split(" ", -1)
      val gs = Seq(t).toDF("t").select(word_ngrams(col("t"), n))
        .head().getSeq[String](0)
      assert(gs.length == math.max(0, toks.length - n + 1), s"n=$n '$t'")
      gs.zipWithIndex.foreach { case (g, i) =>
        // each gram is exactly tokens i..i+n-1 rejoined
        assert(g == toks.slice(i, i + n).mkString(" "), s"n=$n i=$i '$t'")
      }
    }
  }

  test("minhash: identical text ⇒ identical signature; tail edit keeps lanes (30 cases)") {
    import spark.implicits._
    samples(textGen.suchThat(_.split(" ").length >= 3), 30).foreach { t =>
      val sigs = Seq(t, t, t + " extra tail words here").toDF("t")
        .select(minhash_shingles(col("t"), 32, 3).as("s"))
        .collect().map(_.getSeq[Long](0))
      assert(sigs(0) == sigs(1))
      assert(sigs(0).zip(sigs(2)).count { case (x, y) => x == y } >= 1)
    }
  }

  test("simhash of a superset text moves monotonically with edit size") {
    import spark.implicits._
    val base = samples(textGen.suchThat(_.split(" ").length >= 20), 5)
    base.foreach { t =>
      val toks = t.split(" ")
      val small = (toks.take(toks.length - 2) ++ Seq("tailword")).mkString(" ")
      val large = toks.take(toks.length / 2).mkString(" ") + " totally different ending content now"
      val hs = Seq(t, small, large).toDF("t")
        .select(simhash64(col("t"))).collect().map(_.getLong(0))
      def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
      assert(ham(hs(0), hs(1)) <= ham(hs(0), hs(2)) + 8,
        s"small edit ${ham(hs(0), hs(1))} vs large ${ham(hs(0), hs(2))}")
    }
  }

  test("approx_count_distinct within 5% of exact on events.user_id") {
    val df = Tables.events(spark, sf)
    val r = df.agg(
      countDistinct(col("user_id")).as("exact"),
      approx_count_distinct(col("user_id")).as("approx")).head()
    val (exact, approx) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
    assert(math.abs(approx - exact) / exact <= 0.05,
      s"approx=$approx exact=$exact")
  }

  test("partitioning invariance: order-sensitive queries are bit-identical " +
      "under a different shuffle partitioning") {
    // the engine's core determinism claim: integer PageRank, MG heavy
    // hitters, and MAD outliers promise results independent of physical
    // parallelism. Re-run each under a coprime partition count and
    // demand row-for-row equality (toString covers every column incl.
    // doubles bit-exactly via their shortest-decimal rendering).
    val names = Seq("graph_pagerank_copurchase", "agg_heavy_hitters_twopass",
      "ts_outlier_mad", "events_markov_transitions")
    // drop every cached/persisted block between passes: pageRank persists
    // its adjacency, and CacheManager plan-matching would otherwise serve
    // the FIRST pass's materialization to the second — silently skipping
    // the re-shuffle this test exists to exercise
    def rows(name: String): Seq[String] = {
      Harness.release(spark)
      SparkEntry.queries(name)(spark, sf).collect().map(_.toString).toSeq
    }
    val conf = spark.conf
    val prev = conf.get("spark.sql.shuffle.partitions")
    val base = names.map(n => n -> rows(n)).toMap
    try {
      conf.set("spark.sql.shuffle.partitions", "7")
      names.foreach { n =>
        assert(rows(n) == base(n), s"$n differs under 7 partitions")
      }
    } finally {
      conf.set("spark.sql.shuffle.partitions", prev)
      Harness.release(spark)
    }
  }

  test("skyline == brute-force dominance on random point sets (10 cases)") {
    import spark.implicits._
    // small coordinate domains force duplicate prices/sizes, exercising
    // the per-minCol reduction and frontier-tie emission paths
    val ptsGen = Gen.choose(5, 40).flatMap(n =>
      Gen.listOfN(n, Gen.zip(Gen.choose(1, 8), Gen.choose(1, 8))))
    samples(ptsGen, 10).zipWithIndex.foreach { case (pts, ci) =>
      val df = pts.zipWithIndex
        .map { case ((p, s), i) => (i.toLong, p.toDouble, s) }
        .toDF("id", "mn", "mx")
      val got = operators.Analytics.skylineOf(df, "mn", "mx")
        .collect().map(_.getLong(0)).toSet
      val arr = pts.zipWithIndex
        .map { case ((p, s), i) => (i.toLong, p.toDouble, s) }
      val brute = arr.filter { case (_, p, sz) =>
        !arr.exists { case (_, p2, sz2) =>
          (p2 <= p && sz2 >= sz) && (p2 < p || sz2 > sz) }
      }.map(_._1).toSet
      assert(got == brute, s"case $ci: $got vs $brute pts=$pts")
    }
  }

  test("abcApproxOf conserves items and revenue; exact twin agrees on " +
      "totals (8 random revenue distributions)") {
    import spark.implicits._
    // skewed (power-law-ish) revenue frames: the interesting regime for
    // a Pareto classifier — a handful of items carry most revenue
    val revGen = Gen.choose(20, 120).flatMap(n =>
      Gen.listOfN(n, Gen.choose(1, 1000).map(x => (x.toDouble / 10) *
        (x.toDouble / 10))))
    samples(revGen, 8).zipWithIndex.foreach { case (revs, ci) =>
      val df = revs.zipWithIndex
        .map { case (r, i) => (i.toLong, r) }.toDF("k", "rev")
      def sums(res: org.apache.spark.sql.DataFrame) = {
        val rows = res.collect()
        (rows.map(_.getLong(1)).sum, rows.map(_.getDouble(2)).sum)
      }
      val (nA, revA) =
        sums(operators.Analytics.abcApproxOf(df, "k", "rev", bins = 64))
      val (nE, revE) = sums(operators.Analytics.abcExactOf(df, "k", "rev"))
      // conservation: both routes partition ALL items and ALL revenue —
      // nothing dropped at bin or class boundaries
      assert(nA == revs.size.toLong && nE == revs.size.toLong,
        s"case $ci: item counts $nA/$nE vs ${revs.size}")
      val total = revs.sum
      assert(math.abs(revA - total) / total < 1e-9, s"case $ci: $revA")
      assert(math.abs(revE - total) / total < 1e-9, s"case $ci: $revE")
    }
  }
}
