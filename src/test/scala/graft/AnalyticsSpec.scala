package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Analytics family (round 7): heavy hitters, funnel, interpolation,
  * zonemap skipping, entropy. The oracled queries are hash-gated by the
  * driver; these cases cover what the oracle can't see — the two-pass
  * pruning's exactness under Misra-Gries eviction pressure, the zonemap
  * actually skipping files, funnel step ordering, and the entropy
  * kernel's closed-form values.
  */
class AnalyticsSpec extends SparkSuite {

  import operators.Analytics

  test("two-pass heavy hitters == exact under MG eviction pressure") {
    import spark.implicits._
    // 10 heavy tokens (1k–10k occurrences) over a 500-token light tail
    // (20 each): 510 distinct >> cap=128 counters, so the MG decrement
    // path runs, while every heavy token's per-partition frequency sits
    // WELL above the N_p/cap retention bound (~63) — survival is
    // guaranteed by the MG theorem, not by luck (an earlier zipf fixture
    // had top-10 tokens BELOW the bound and flaked). Seeded shuffle:
    // the test must be deterministic.
    val rows = (1 to 10).flatMap(i => Seq.fill(1000 * (11 - i))(s"tok$i")) ++
      (1 to 500).flatMap(j => Seq.fill(20)(s"tail$j"))
    val docs = new scala.util.Random(42).shuffle(rows).grouped(50)
      .map(_.mkString(" ")).toSeq.toDF("text").repartition(8)
    val got = Analytics.heavyHittersOf(docs, "text", 10, m = 32, cap = 128)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val exact = docs.select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(10)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == exact.toSeq,
      s"two-pass ${got.mkString(",")} != exact ${exact.mkString(",")}")
  }

  test("zonemap prunes files and skipping preserves the answer") {
    val dir = Analytics.zonemapLayout(spark, sf)
    val (files, total) = Analytics.zonemapPrunedFiles(spark, dir, 240.0, 250.0)
    assert(files.length < total,
      s"zonemap kept all $total files — range layout gave no pruning power")
    assert(files.nonEmpty, "pruning dropped every file for an in-range probe")
    val skipped = spark.read.parquet(files.toIndexedSeq: _*)
      .where(col("value").between(240, 250)).count()
    val full = Tables.events(spark, sf)
      .where(col("value").between(240, 250)).count()
    assert(skipped == full, s"file skipping changed the answer: $skipped != $full")
  }

  test("zonemapScan keeps the keep-set in the plan (broadcast semi, no " +
      "driver collect) and preserves the answer") {
    val dir = Analytics.zonemapLayout(spark, sf)
    val scan = Analytics.zonemapScan(spark, dir, "value", 240.0, 250.0)
      .where(col("value").between(240, 250))
    // the zone keep-set must ride the plan as a LeftSemi join against
    // input_file_name(), not as a driver-materialized path list — the
    // 100 TB shape (the VERDICT r16 'what's wrong' item 3)
    val lp = scan.queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    val semis = lp.collect { case j: Join if j.joinType == LeftSemi => j }
    assert(semis.nonEmpty, "zone keep-set not a semi-join:\n" +
      lp.toString.take(2000))
    assert(lp.toString.contains("input_file_name"),
      "semi-join key is not input_file_name():\n" + lp.toString.take(2000))
    val full = Tables.events(spark, sf)
      .where(col("value").between(240, 250)).count()
    assert(scan.count() == full, "zonemapScan changed the answer")
    // an out-of-range probe yields the empty frame, no zero-path read
    assert(Analytics.zonemapScan(spark, dir, "value", 1.0e9, 2.0e9)
      .count() == 0L)
  }

  test("funnel honors step order and time windows") {
    import spark.implicits._
    def t(min: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusMinutes(min))
    // u1 completes in-window; u2 clicks 13 h after view (> 12 h window);
    // u3 purchases before clicking (order violated); u4 never views
    val ev = Seq(
      (1L, "view", t(0)), (1L, "click", t(60)), (1L, "purchase", t(120)),
      (2L, "view", t(0)), (2L, "click", t(13 * 60)), (2L, "purchase", t(14 * 60)),
      (3L, "view", t(0)), (3L, "purchase", t(30)), (3L, "click", t(60)),
      (4L, "click", t(0)), (4L, "purchase", t(30))
    ).toDF("user_id", "event_type", "ts")
    val r = Analytics.funnelOf(ev, "user_id", "event_type", "ts",
      Seq(("view", 0), ("click", 12), ("purchase", 24))).head()
    // u3's click at +60 min is in-window, and its LATER purchase is not
    // required — only u3's pre-click purchase must not count; u3 has no
    // purchase after t2, so the full funnel is u1 alone
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((3L, 2L, 1L)),
      r.toString)
  }

  test("interpolation grid: full spine, known cells exact, gaps bounded") {
    val out = SparkEntry.queries("ts_interpolate_linear")(spark, sf)
      .collect()
    val types = Tables.events(spark, sf).select("event_type")
      .distinct().count()
    assert(out.length % types == 0,
      s"grid ${out.length} not a multiple of $types types")
    // every interpolated value lies within the series' known range
    val vals = out.map(_.getDouble(2))
    assert(vals.forall(v => v >= 0.0 && v <= 100000.0))
    // spine is dense: hours are consecutive within each type
    val perType = out.groupBy(_.getString(0)).values
    perType.foreach { rows =>
      val hours = rows.map(_.getString(1)).sorted
      assert(hours.distinct.length == hours.length, "duplicate spine hour")
    }
  }

  test("funnel stacks all three step windows on ONE user Exchange") {
    val plan = SparkEntry.queries("funnel_view_click_purchase")(spark, sf)
      .queryExecution.executedPlan.toString
    val userExchanges =
      "hashpartitioning\\(user_id".r.findAllIn(plan).length
    assert(userExchanges == 1,
      s"expected 1 user_id Exchange, saw $userExchanges:\n${plan.take(3000)}")
    assert("Window".r.findAllIn(plan).length >= 3,
      "three stacked Window operators expected")
  }

  test("interval overlap broadcasts the window set (no shuffle of facts)") {
    val plan = SparkEntry.queries("join_interval_overlap")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("OHLC shares one hash Exchange across both window passes") {
    val plan = SparkEntry.queries("ts_downsample_ohlc")(spark, sf)
      .queryExecution.executedPlan.toString
    val groupExchanges =
      "hashpartitioning\\(event_type".r.findAllIn(plan).length
    assert(groupExchanges == 1,
      s"expected 1 (event_type, day) Exchange, saw $groupExchanges:\n${plan.take(3000)}")
  }

  test("edit-distance blocking plans a hash equi-join on the bucket key") {
    val plan = SparkEntry.queries("dedup_edit_distance")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin")
        && !plan.contains("CartesianProduct"),
      s"length-bucket blocking degenerated to a pair sweep:\n${plan.take(3000)}")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"expected an equi-join on bk:\n${plan.take(3000)}")
  }

  test("anomaly z-scores are standardized: no flags on a flat series") {
    // a constant series has zero variance -> z is NaN/undefined; the
    // fixture query must simply not flag anything ridiculous: every
    // flagged |z| is >= 2.5 by construction and v lies outside mean
    // +/- 2.5 sigma of ITS OWN series
    val out = SparkEntry.queries("ts_anomaly_zscore")(spark, sf).collect()
    assert(out.forall(r => math.abs(r.getDouble(3)) >= 2.5))
    val perType = out.groupBy(_.getString(0)).view.mapValues(_.length).toMap
    assert(perType.values.forall(_ < 100),
      s"z >= 2.5 flagged implausibly many cells: $perType")
  }

  test("cohort retention shuffles the fact once, on user_id") {
    val plan = SparkEntry.queries("cohort_retention")(spark, sf)
      .queryExecution.executedPlan.toString
    val userEx = "hashpartitioning\\(user_id".r.findAllIn(plan).length
    assert(userEx == 1,
      s"expected exactly 1 user_id Exchange, saw $userEx:\n${plan.take(3000)}")
    assert(!plan.contains("Join"), "cohort must not join back to the fact")
  }

  test("scan_count_metadata reads zero columns (footer-count plan)") {
    val plan = SparkEntry.queries("scan_count_metadata")(spark, sf)
      .queryExecution.executedPlan.toString
    val read = "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(read.contains("struct<>"),
      s"count(*) should read no columns; $read\n${plan.take(1500)}")
  }

  test("char entropy: closed forms (uniform=2 bits, constant=0)") {
    import spark.implicits._
    val df = Seq("abcd", "aaaa", "aabb").toDF("text")
      .withColumn("ch", split(col("text"), ""))
      .select(round(-Analytics.charEntropyNeg("ch"), 4).as("e"))
    assert(df.collect().map(_.getDouble(0)).toSeq == Seq(2.0, 0.0, 1.0))
  }

  test("Holt fold matches a driver-side recomputation of the recurrences") {
    // independent check of the engine's array-fold wiring for all three
    // folds (EMA, Holt linear, Holt-Winters): recompute the hourly sums
    // + each recurrence in plain Scala and demand bit-identical doubles
    // (the folds use the same IEEE ops in the same order, so == on
    // doubles is the correct assertion, not a tolerance). The hourly
    // rollup is written out here, not taken from the engine's builder.
    val hourly = Tables.events(SparkSpec.spark, sf)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(sum(col("value").cast("decimal(12,2)")).cast("double").as("v"))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2.getTime).map(_._3)).toMap
    // (series, point index) -> the per-point outputs of `fold`
    def expected(fold: Seq[Double] => Seq[Seq[Double]]) =
      hourly.toSeq.flatMap { case (et, vs) =>
        fold(vs.toSeq).zipWithIndex.map { case (o, i) => (et, i) -> o }
      }.toMap
    def got(query: String, cols: Int) =
      SparkEntry.queries(query)(spark, sf).collect()
        .groupBy(_.getString(0)).toSeq.flatMap { case (et, rows) =>
          rows.sortBy(_.getString(1)).zipWithIndex.map { case (r, i) =>
            (et, i) -> (2 until 2 + cols).map(r.getDouble)
          }
        }.toMap
    def check(query: String, cols: Int)(
        fold: Seq[Double] => Seq[Seq[Double]]): Unit = {
      val (g, e) = (got(query, cols), expected(fold))
      assert(g.size == e.size, query)
      g.foreach { case (k, v) => assert(e(k) == v, s"$query at $k") }
    }
    check("ts_ema_hourly", 1) { vs =>
      vs.tail.scanLeft(vs.head)((e, x) => 0.25d * x + 0.75d * e).map(Seq(_))
    }
    check("ts_holt_linear", 2) { vs =>
      val b0 = if (vs.length > 1) vs(1) - vs.head else 0d
      vs.tail.scanLeft((vs.head, b0)) { case ((l, b), x) =>
        val nl = 0.5d * x + 0.5d * (l + b)
        (nl, 0.25d * (nl - l) + 0.75d * b)
      }.map { case (l, b) => Seq(l, b) }
    }
    check("ts_holt_winters", 3) { vs =>
      // seasonals start at zero; the ring's head is this hour's season
      val b0 = if (vs.length > 1) vs(1) - vs.head else 0d
      vs.tail.scanLeft((vs.head, b0, 0d, Vector.fill(24)(0d))) {
        case ((l, b, _, ring), x) =>
          val nl = 0.5d * (x - ring.head) + 0.5d * (l + b)
          val nk = 0.25d * (x - nl) + 0.75d * ring.head
          (nl, 0.25d * (nl - l) + 0.75d * b, nk, ring.tail :+ nk)
      }.map { case (l, b, k, _) => Seq(l, b, k) }
    }
  }

  test("last-touch attribution == join-based reformulation") {
    // the query uses an ignore-nulls carry-forward window; re-derive the
    // same answer with the O(n²/user) purchase×touch join it replaces
    val ev = Tables.events(SparkSpec.spark, sf)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tus"), col("event_id"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("tus").as("ptus"),
        col("event_id").as("pid"))
    val touches = ev.where(col("event_type").isin("view", "click"))
      .select(col("user_id").as("tu"), col("tus").as("ttus"),
        col("event_id").as("tid"), col("event_type").as("ttype"))
    // latest touch strictly before the purchase in (tus, event_id) order
    val joined = purchases.join(touches,
        col("pu") === col("tu") && (col("ttus") < col("ptus") ||
          (col("ttus") === col("ptus") && col("tid") < col("pid"))), "left")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("pid")
          .orderBy(col("ttus").desc_nulls_last, col("tid").desc_nulls_last)))
      .where(col("rn") === 1)
      .select(when(col("ttus").isNotNull &&
          col("ptus") - col("ttus") <= 86400000000L, col("ttype"))
        .otherwise("none").as("touch"))
      .groupBy("touch").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = SparkEntry.queries("attribution_last_touch")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == joined, s"window=$got join=$joined")
  }

  test("linear attribution == brute-force per-purchase share recount") {
    // the query counts qualifying touches with RANGE-frame windows and
    // sums exact scaled-integer shares; re-derive from first principles
    // on collected events with the purchase-local counting loop
    val SC = 1000000000000L
    val LB = 86400000000L
    val ev = Tables.events(SparkSpec.spark, sf)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byUser = ev.groupBy(_._1)
    var vSum, cSum = BigInt(0)
    var none = 0L
    var nConv = 0L
    byUser.values.foreach { es =>
      es.filter(_._2 == "purchase").foreach { case (_, _, pt) =>
        nConv += 1
        val q = es.filter(e => e._3 >= pt - LB && e._3 <= pt - 1)
        val nv = q.count(_._2 == "view").toLong
        val nc = q.count(_._2 == "click").toLong
        val n = nv + nc
        if (n == 0) none += 1
        else {
          vSum += nv * SC / n
          cSum += nc * SC / n
        }
      }
    }
    val r = SparkEntry.queries("attribution_linear")(spark, sf).collect()(0)
    assert(r.getDouble(0) == BigDecimal(vSum).toDouble / 1.0e12, "view")
    assert(r.getDouble(1) == BigDecimal(cSum).toDouble / 1.0e12, "click")
    assert(r.getDouble(2) == none.toDouble, "none")
    assert(r.getLong(3) == nConv, "n_conversions")
    // shares are a conserved quantity: truncation loses < 2 ulp-scaled
    // units per crediting conversion, nothing more
    val total = r.getDouble(0) + r.getDouble(1) + r.getDouble(2)
    assert(total <= nConv + 1e-9 &&
      total >= nConv - 2.0e-12 * nConv - 1e-9, s"credit total $total")
  }

  test("sliding median == brute force over every 7-row frame") {
    val rows = SparkEntry.queries("win_sliding_median")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ev = Tables.events(SparkSpec.spark, sf)
      .select(col("event_type"), unix_micros(col("ts")).as("tus"),
        col("event_id"), col("value"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    ev.groupBy(_._1).foreach { case (et, es) =>
      val ordered = es.sortBy(e => (e._2, e._3))
      ordered.indices.foreach { i =>
        val frame = ordered.slice(math.max(0, i - 6), i + 1).map(_._4).sorted
        val n = frame.length
        val exp =
          if (n % 2 == 1) frame((n + 1) / 2 - 1)
          else (frame(n / 2 - 1) + frame(n / 2)) * 0.5d
        assert(rows((et, ordered(i)._3)) == exp, s"$et ${ordered(i)._3}")
      }
    }
  }

  test("co-purchase pairs: ordered keys, counts verified against brute force") {
    val got = SparkEntry.queries("graph_copurchase_pairs")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.forall { case (a, b, n) => a < b && n >= 1 })
    val li = Tables.lineitem(SparkSpec.spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val counts = li.groupBy(_._1).values.flatMap { lines =>
      val ps = lines.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    got.foreach { case (a, b, n) => assert(counts((a, b)) == n, s"($a,$b)") }
  }

  test("integer PageRank == driver-side recomputation, ranks bounded") {
    // recompute both iterations with plain Scala Long arithmetic on the
    // same edge set; integer ops are exact, so demand equality
    val li = Tables.lineitem(SparkSpec.spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = li.groupBy(_._1).values.toSeq.flatMap { lines =>
      val ps: Seq[Long] = lines.map(_._2).distinct.toSeq
      for (a <- ps; b <- ps if a != b) yield (a, b)
    }.toSet
    val nodes = edges.map(_._1)
    val n = nodes.size.toLong
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val base = (15L * (1000000000L / n)) / 100L
    def step(pr: Map[Long, Long]): Map[Long, Long] =
      edges.groupBy(_._2).map { case (v, es) =>
        v -> (base + (85L * es.iterator.map { case (u, _) =>
          pr(u) / deg(u)
        }.sum) / 100L)
      }
    val p0 = nodes.map(u => u -> 1000000000L / n).toMap
    val p2 = step(step(p0))
    val expected = p2.toSeq.sortBy { case (u, pr) => (-pr, u) }.take(20)
    val got = SparkEntry.queries("graph_pagerank_copurchase")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expected.map { case (u, pr) => (u, pr) },
      s"got=${got.take(3)} expected=${expected.take(3)}")
    assert(got.forall(_._2 > 0))
  }

  test("lag-1 autocorrelation lies in [-1, 1] and matches Pearson directly") {
    val hourly = Tables.events(SparkSpec.spark, sf)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(sum(col("value").cast("decimal(12,2)")).cast("double").as("v"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2.getTime).map(_._3).toVector).toMap
    val got = SparkEntry.queries("ts_autocorrelation")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    hourly.foreach { case (et, vs) =>
      val (a, b) = (vs.dropRight(1), vs.drop(1))
      val n = a.length.toDouble
      val (sa, sb) = (a.sum, b.sum)
      val sab = a.zip(b).map { case (x, y) => x * y }.sum
      val (saa, sbb) = (a.map(x => x * x).sum, b.map(x => x * x).sum)
      val r = (n * sab - sa * sb) /
        math.sqrt((n * saa - sa * sa) * (n * sbb - sb * sb))
      // driver-side Σ accumulate in doubles (not exact decimals), so
      // compare with a tolerance; the engine pair is hash-gated exactly
      assert(math.abs(got(et) - r) < 1e-9, s"$et ${got(et)} vs $r")
      assert(got(et) >= -1.0 && got(et) <= 1.0)
    }
  }

  test("triangle count == brute-force enumeration on the subgraph") {
    val row = SparkEntry.queries("graph_triangle_count")(spark, sf)
      .collect().head
    val (tri, wedges, cc) = (row.getLong(0), row.getLong(1), row.getDouble(2))
    // brute force: same oriented edge set, count closed wedges in Scala
    val li = Tables.lineitem(SparkSpec.spark, sf)
      .where(col("l_partkey") < 2000)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = li.groupBy(_._1).values.flatMap { lines =>
      val ps = lines.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.toSet
    val nbrs = (edges.toSeq ++ edges.toSeq.map { case (u, v) => (v, u) })
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val triBf = edges.toSeq.map { case (u, v) =>
      (nbrs(u) & nbrs(v)).count(w => w > v) // a<b<c orientation
    }.sum.toLong
    val wedgesBf = nbrs.values.map(s => s.size.toLong * (s.size - 1) / 2).sum
    assert(tri == triBf, s"triangles $tri vs brute $triBf")
    assert(wedges == wedgesBf, s"wedges $wedges vs brute $wedgesBf")
    if (wedgesBf > 0) assert(cc == 3.0 * triBf / wedgesBf)
  }

  test("markov transition probabilities: rows sum to 1 per from_type") {
    val rows = SparkEntry.queries("events_markov_transitions")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (ft, grp) =>
      val psum = grp.map(_._3).sum
      assert(math.abs(psum - 1.0) < 1e-9, s"$ft p-sum $psum")
      val tot = grp.map(_._2).sum
      grp.foreach { case (_, n, p) =>
        assert(p == n.toDouble / tot) } // single exact division
    }
  }

  test("any-sequence funnel converts the later-anchor chain the " +
      "earliest-anchor funnel misses") {
    import spark.implicits._
    // ADVICE's counter-example: view@0h, view@5h, click@13h — within
    // 12 h of the SECOND view only. Earliest-anchor (funnelOf) rejects;
    // any-sequence accepts.
    val H = 3600000000L // µs per hour
    val ev = Seq(
      (1L, "view", 0L * H, 1L), (1L, "view", 5L * H, 2L),
      (1L, "click", 13L * H, 3L)
    ).toDF("user_id", "event_type", "tus", "event_id")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
      .orderBy($"tus", $"event_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    val q2 = ev.withColumn("lv",
        max(when($"event_type" === "view", $"tus")).over(w))
      .where($"event_type" === "click" && $"lv".isNotNull
        && $"tus" - $"lv" <= 12L * H)
    assert(q2.count() == 1, "any-sequence must accept the 5h-anchored click")
    // the earliest-anchor formulation rejects the same fixture
    val anchored = operators.Analytics.funnelOf(
      ev.select($"user_id", $"event_type",
        ($"tus" / 1000000L).cast("timestamp").as("ts"), $"event_id"),
      "user_id", "event_type", "ts", Seq(("view", 0), ("click", 12)))
      .collect().head
    assert(anchored.getLong(1) == 0,
      s"earliest-anchor should reject: $anchored")
  }

  test("MAD outliers: flat series stays silent, a spike is flagged") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{broadcast => bc}
    // 48 flat hours + one 10× spike: z-score σ is inflated by the spike
    // itself, MAD is not — the spike must flag, nothing else may
    val base = (0 until 48).map(h => ("s1", h, 10.0))
    val rows = base :+ (("s1", 48, 100.0))
    val hourly = rows.toDF("event_type", "h", "v")
    val med = hourly.groupBy($"event_type".as("et1"))
      .agg(expr("median(v)").as("m"))
    val dev = hourly.join(bc(med), $"event_type" === $"et1")
      .select($"event_type", $"h", $"v", $"m", abs($"v" - $"m").as("dv"))
    val mad = dev.groupBy($"event_type".as("et2"))
      .agg(expr("median(dv)").as("md"))
    val flagged = dev.join(bc(mad), $"event_type" === $"et2")
      .where($"dv" > lit(3) * lit(1.4826) * $"md").collect()
    // MAD of a majority-flat series is 0 → any deviation flags; only
    // the spike deviates
    assert(flagged.map(_.getInt(1)).toSeq == Seq(48), flagged.toSeq.toString)
    val none = dev.join(bc(mad), $"event_type" === $"et2")
      .where($"h" < 48 && $"dv" > lit(3) * lit(1.4826) * $"md").count()
    assert(none == 0)
  }

  test("length quartiles: closed form on a known distribution") {
    import spark.implicits._
    // 5 lengths per lang → p25/p50/p75 hit exact ranks (n-1)*d = 1,2,3
    val docs = Seq.tabulate(5)(i => ("aa", (i + 1) * 10L)) // 10..50
      .toDF("lang", "n_chars")
    val r = docs.groupBy($"lang")
      .agg(expr("percentile(n_chars, 0.25D)").as("p25"),
        expr("percentile(n_chars, 0.50D)").as("p50"),
        expr("percentile(n_chars, 0.75D)").as("p75")).collect().head
    assert((r.getDouble(1), r.getDouble(2), r.getDouble(3)) ==
      ((20.0, 30.0, 40.0)))
  }

  test("skyline == brute-force dominance filter") {
    val got = SparkEntry.queries("skyline_price_size")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSet
    val parts = Tables.part(SparkSpec.spark, sf)
      .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    val frontier = parts.filter { case (_, pr, sz) =>
      !parts.exists { case (_, pr2, sz2) =>
        (pr2 <= pr && sz2 >= sz) && (pr2 < pr || sz2 > sz) }
    }.toSet
    assert(got == frontier,
      s"skyline ${got.size} rows vs brute ${frontier.size}")
  }

  test("kcore members all carry in-core degree >= k; core is edge-closed") {
    // the k-core invariant the oracle's fixpoint can't state directly:
    // every reported survivor has degree >= 3 WITHIN the survivor set
    val rows = SparkEntry.queries("graph_kcore_decompose")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.nonEmpty)
    assert(rows.forall(_._2 >= 3L),
      rows.filter(_._2 < 3L).take(5).mkString(", "))
  }

  test("winsorized mean lies inside its group's clip band") {
    val rows = SparkEntry.queries("agg_winsorized_stats")(spark, sf)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getLong(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (t, lo, hi, n, wm) =>
      assert(n > 0 && lo <= hi && wm >= lo - 1e-9 && wm <= hi + 1e-9,
        s"$t: lo=$lo hi=$hi wmean=$wm") }
  }

  test("audience overlap: intersection bounded by set sizes, jaccard in (0,1]") {
    val rows = SparkEntry.queries("events_audience_overlap")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(rows.nonEmpty)
    rows.foreach { case (a, b, nBoth, nA, nB, j) =>
      assert(a < b && nBoth <= math.min(nA, nB) && j > 0.0 && j <= 1.0,
        s"($a,$b): both=$nBoth a=$nA b=$nB j=$j") }
  }

  test("personalized PageRank: restart mass stays at the seed, near " +
      "neighbors outrank the planted far hub, salted == unsalted") {
    import spark.implicits._
    // planted fixture: seed 1 has two neighbors {2, 3}; node 9 is a hub
    // (degree 5, globally dominant for PLAIN PageRank) but sits THREE
    // hops from the seed — PPR must rank the seed's 1-hop ball above it
    val und = Seq((1L, 2L), (1L, 3L), (3L, 4L), (4L, 9L), (9L, 5L),
      (9L, 6L), (9L, 7L), (9L, 8L))
    val edges = (und ++ und.map(_.swap)).toDF("u", "v")
    val got = operators.Analytics.pprOf(edges, seed = 1L, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the seed keeps its teleport floor every round (the one-row union)
    assert(got(1L) >= 150000000L, s"seed rank ${got.get(1L)}")
    // 1-hop neighbors outrank the 3-hop hub; global PageRank would not
    assert(got(2L) > got(9L) && got(3L) > got(9L), got.toString)
    // sparse frame: nodes 5-8 are 4 hops out, unreached in 3 rounds
    assert(!got.contains(5L) && !got.contains(8L), got.keySet.toString)
    // salted layout (threshold 2 triggers on the planted hub) is
    // bit-identical — the pageRank salting contract holds for PPR too
    val salted = operators.Analytics
      .pprOf(edges, seed = 1L, iters = 3, saltDegree = 2L, salts = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(salted == got, s"salted $salted != unsalted $got")
  }

  test("HLL active-users sketch matches the exact coverage-explode twin " +
      "within 5% (DAU, WAU, and the 30-day MAU the exact route can't afford)") {
    val est = SparkEntry.queries("events_active_users_sketch")(spark, sf)
      .collect()
      .map(r => r.getTimestamp(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // exact DAU/WAU from the oracled exact query
    val exact = SparkEntry.queries("events_active_users_rolling")(spark, sf)
      .collect()
      .map(r => r.getTimestamp(0) -> (r.getLong(1), r.getLong(2))).toMap
    // exact 30-day MAU recomputed here (the ×30 explode the production
    // path avoids is fine at spec scale)
    val ud = Tables.events(spark, sf)
      .select(col("user_id"), col("ts").cast("date").as("a")).distinct()
    val mxa = ud.agg(max(col("a"))).head.getDate(0)
    val mau = ud
      .select(col("user_id"),
        explode(expr("sequence(a, date_add(a, 29))")).as("day"))
      .where(col("day") <= lit(mxa))
      .distinct()
      .groupBy("day").agg(count(lit(1)).as("mau"))
      .collect()
      .map(r => java.sql.Timestamp.valueOf(
        r.getDate(0).toLocalDate.atStartOfDay()) -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet,
      s"day sets differ: ${est.keySet.size} vs ${exact.keySet.size}")
    def within5(e: Long, x: Long): Boolean =
      math.abs(e.toDouble - x) <= 0.05 * x
    est.foreach { case (day, (dauE, wauE, mauE)) =>
      val (dau, wau) = exact(day)
      assert(within5(dauE, dau), s"$day dau: est $dauE exact $dau")
      assert(within5(wauE, wau), s"$day wau: est $wauE exact $wau")
      assert(within5(mauE, mau(day)), s"$day mau: est $mauE exact ${mau(day)}")
    }
  }

  test("link-prediction trio: hot-middle cap bounds hub fan-out to " +
      "O(E·cap), not O(hub²), on a one-hub power-law fixture") {
    import spark.implicits._
    // star K(1,n) with hub degree n ≫ cap, plus one low-degree path
    // 10001–10002–10003 whose (10001, 10003) prediction must survive.
    // Every leaf pair's ONLY shared neighbor is the hub: uncapped, the
    // exact candidate (and result) set is n(n−1)/2 ≈ 4.5M pairs — the
    // O(hub²) blowup the cap exists to stop.
    val n = 3000
    val edges = ((1 to n).map(i => (0L, i.toLong)) ++
      Seq((10001L, 10002L), (10002L, 10003L))).toDF("u", "v")
      .repartition(4).localCheckpoint(true)
    val rec = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted)
          : Unit =
        rec.addAndGet(
          s.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    spark.sparkContext.addSparkListener(listener)
    val rows =
      try {
        val r = Analytics.commonNeighborsOf(edges, topN = 10000).collect()
        var last = -1L; var spins = 0
        while (rec.get() != last && spins < 50) {
          last = rec.get(); Thread.sleep(100); spins += 1
        }
        r
      } finally spark.sparkContext.removeSparkListener(listener)
    // semantic: hub-mediated leaf pairs are dropped (the hub is
    // boilerplate co-occurrence); the low-degree prediction survives
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((10001L, 10003L)), s"got ${rows.length} pairs")
    // physical: total shuffle records stay O(E·cap) — uncapped, the
    // wedge-pair aggregate alone would shuffle ≥ n(n−1)/2 ≈ 4.5M rows
    assert(rec.get() < 100000L,
      s"shuffled ${rec.get()} records — hub fan-out is not being capped")
    // the other three kernels share the wedge shape: same semantic gate
    for ((kern, scoreCol) <- Seq[
        ((DataFrame, Int) => DataFrame, String)](
        ((e, k) => Analytics.resourceAllocationOf(e, k), "ra_scaled"),
        ((e, k) => Analytics.adamicAdarOf(e, k), "aa_scaled"),
        ((e, k) => Analytics.jaccardLinksOf(e, k), "jac_scaled"))) {
      val out = kern(edges, 10000).select("part_a", "part_b").collect()
      assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet ==
        Set((10001L, 10003L)), s"$scoreCol kernel leaked hub pairs")
    }
    // and the cap is SEMANTIC, not a bug: below the cap the hub pairs
    // are genuine predictions and must all appear
    val small = (1 to 50).map(i => (0L, i.toLong)).toDF("u", "v")
    assert(Analytics.commonNeighborsOf(small, topN = 5000).count() ==
      50L * 49 / 2)
    assert(Analytics.commonNeighborsOf(small, topN = 5000,
      maxMiddleDegree = 10).count() == 0L)
  }

  test("apriori triples: basket formulation carries no pre-distinct") {
    val df = SparkEntry.queries("orders_basket_triples")(spark, sf)
    // the (basket, item) pre-DISTINCT was a data-sized Exchange that
    // collect_set's own set semantics already subsume; its shape is an
    // Aggregate grouping two columns and emitting exactly those two —
    // no aggregate in the plan may look like that (pair/triple counts
    // emit a count on top of their keys; the frequent-item distinct is
    // single-column)
    val preDistinct = df.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
          if a.groupingExpressions.length == 2 &&
            a.aggregateExpressions.forall(
              _.isInstanceOf[org.apache.spark.sql.catalyst.expressions
                .AttributeReference]) => a
    }
    assert(preDistinct.isEmpty,
      "a (basket, item) pre-distinct crept back in:\n" +
        preDistinct.map(_.toString).mkString("\n").take(2000))
  }

  test("markov removal: effects in [0,1], removal never helps, shares sum") {
    val rows = SparkEntry.queries("attribution_markov_removal")(spark, sf)
      .collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("click", "error", "signup", "view"))
    val base = rows.map(_.getLong(2)).distinct
    assert(base.length == 1 && base.head > 0,
      s"one positive base conversion expected, got ${base.toSeq}")
    rows.foreach { r =>
      val (rem, b) = (r.getLong(1), r.getLong(2))
      assert(rem >= 0 && rem <= b,
        s"${r.getString(0)}: removal must not raise conversion ($rem > $b)")
      val eff = r.getDouble(3)
      assert(eff >= 0.0 && eff <= 1.0, s"effect $eff out of range")
      // removal_effect is exactly (base - removed)/base, bit-for-bit
      assert(eff == (b - rem).toDouble / b.toDouble)
    }
    val shares = rows.map(_.getDouble(4))
    if (shares.exists(_ > 0))
      assert(math.abs(shares.sum - 1.0) < 1e-9,
        s"credit shares must sum to 1, got ${shares.sum}")
  }

  test("lifecycle states: per-day identity and conservation laws") {
    val rows = SparkEntry.queries("events_lifecycle_states")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    // per day: new + retained + resurrected == active
    rows.foreach { r =>
      assert(r.getLong(1) + r.getLong(2) + r.getLong(3) == r.getLong(4),
        s"day ${r.getString(0)}: state classes must partition actives")
    }
    // day 1: everyone is new, nobody churned out of a nonexistent day 0
    assert(rows.head.getLong(1) == rows.head.getLong(4))
    assert(rows.head.getLong(5) == -rows.head.getLong(2) &&
      rows.head.getLong(2) == 0)
    // churn conservation: churned(d) = active(d-1) - retained(d) >= 0
    rows.sliding(2).foreach { case Array(prev, cur) =>
      assert(cur.getLong(5) == prev.getLong(4) - cur.getLong(2))
      assert(cur.getLong(5) >= 0)
    case _ => ()
    }
    // total new across days == distinct users ever active
    val users = Tables.events(spark, sf).select("user_id")
      .distinct().count()
    assert(rows.map(_.getLong(1)).sum == users)
  }

  test("hits: 20 hubs + 20 authorities, positive, rank-ordered per side") {
    val rows = SparkEntry.queries("graph_hits_bipartite")(spark, sf)
      .collect()
    val (auth, hubs) = rows.partition(_.getString(0) == "authority")
    assert(auth.length == 20 && hubs.length == 20, s"got ${rows.length}")
    for (side <- Seq(auth, hubs)) {
      val scores = side.map(_.getLong(2))
      assert(scores.forall(_ > 0), "renormalized scores must be positive")
      assert(scores.sameElements(scores.sortBy(-_)),
        "each side must arrive score-descending")
    }
  }

  test("croston: z/p bounds on intermittent weekly demand") {
    val rows = SparkEntry.queries("ts_croston_intermittent")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) >= 2, "n_demands >= 2 after the filter")
      val (z, p, f) = (r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(z > 0.0, s"smoothed demand size must be positive, got $z")
      assert(p >= 1.0,
        s"smoothed inter-demand interval is an EMA of gaps >= 1, got $p")
      assert(f == z / p && f > 0.0)
    }
  }

  test("assortativity: Pearson bounds and symmetric-moment structure") {
    val r = SparkEntry.queries("graph_assortativity")(spark, sf).head()
    val m = r.getAs[Long]("m_directed")
    assert(m > 0 && m % 2 == 0,
      s"both directions of every undirected edge must be present: m=$m")
    val a = r.getAs[Double]("assortativity")
    assert(a >= -1.0 - 1e-12 && a <= 1.0 + 1e-12, s"r=$a")
    // sum_deg over directed edges = sum of squared degrees >= m (every
    // endpoint has degree >= 1)
    assert(r.getAs[Long]("sum_deg") >= m)
  }

  test("ses alpha select: grid shape, driver-side fold replay, argmin") {
    val rows = SparkEntry.queries("ts_ses_alpha_select")(spark, sf)
      .collect()
    val byType = rows.groupBy(_.getString(0))
    byType.foreach { case (et, rs) =>
      assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to 7), s"$et grid")
      assert(rs.count(_.getAs[Boolean]("is_best")) >= 1, s"$et argmin")
      val minSse = rs.map(_.getAs[Double]("sse")).min
      rs.filter(_.getAs[Boolean]("is_best"))
        .foreach(r => assert(r.getAs[Double]("sse") == minSse))
      rs.foreach { r =>
        assert(r.getAs[Double]("alpha") == r.getInt(1) / 8.0)
        assert(r.getAs[Double]("sse") >= 0.0)
      }
    }
    // replay one series' k=2 fold driver-side from the hourly frame
    val et = byType.keys.min
    val vs = Tables.events(spark, sf)
      .where(col("event_type") === et)
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(sum(col("value").cast("decimal(12,2)")).cast("double").as("v"))
      .orderBy("h").collect().map(_.getDouble(1))
    var e = vs.head; var sse = 0.0
    vs.tail.foreach { x => sse += (x - e) * (x - e); e += 0.25 * (x - e) }
    val got = rows.find(r => r.getString(0) == et && r.getInt(1) == 2).get
    assert(got.getAs[Long]("n_points") == vs.length)
    assert(got.getAs[Double]("sse") == sse,
      s"fold replay: ${got.getAs[Double]("sse")} vs $sse")
  }

  test("retention halflife: censored bases shrink, fit constants agree") {
    val rows = SparkEntry.queries("events_retention_halflife")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val bases = rows.map(_.getAs[Long]("base"))
    assert(bases.sliding(2).forall { case Array(a, b) => b <= a
      case _ => true }, "right-censoring can only shrink the base")
    rows.foreach { r =>
      val ret = r.getAs[Double]("retention_pooled")
      assert(ret > 0.0 && ret <= 1.0 + 1e-12, s"retention=$ret")
      assert(r.getAs[Long]("retained") <= r.getAs[Long]("base"))
    }
    val slopes = rows.map(_.getAs[Double]("slope_scaled")).distinct
    assert(slopes.length == 1, "one pooled slope")
    val hl = rows.map(r => Option(r.getAs[java.lang.Double]
      ("half_life_weeks"))).distinct
    assert(hl.length == 1)
    hl.head.foreach(h => assert(h > 0.0, s"half-life must be positive: $h"))
  }

  test("modularity: bounds, symmetric edges, chance term direction") {
    val r = SparkEntry.queries("graph_modularity")(spark, sf).head()
    val m = r.getAs[Long]("m_directed")
    val ew = r.getAs[Long]("e_within")
    val q = r.getAs[Double]("modularity")
    assert(m > 0 && m % 2 == 0, s"directed both-way edge list: m=$m")
    assert(ew >= 0 && ew <= m)
    assert(r.getAs[Long]("n_communities") >= 1)
    assert(q >= -0.5 - 1e-12 && q <= 1.0, s"Q=$q out of Newman bounds")
    // Q = within-fraction minus the nonnegative degree-chance term
    assert(q <= ew.toDouble / m + 1e-12, "chance term must subtract")
  }

  test("promo DiD: identity between cells, positive SE, t consistency") {
    val r = SparkEntry.queries("orders_promo_lift_did")(spark, sf).head()
    Seq("n_treat_pre", "n_treat_post", "n_ctrl_pre", "n_ctrl_post")
      .foreach(c => assert(r.getAs[Long](c) > 1, s"$c must exceed 1"))
    val did = r.getAs[Double]("did")
    assert(did == r.getAs[Double]("d_treat") - r.getAs[Double]("d_ctrl"))
    val se = r.getAs[Double]("se")
    assert(se > 0.0 && !se.isNaN)
    assert(r.getAs[Double]("t_stat") == did / se)
  }

  test("demand correlation: full pair grid on the dense calendar") {
    val rows = SparkEntry.queries("orders_demand_correlation")(spark, sf)
      .collect()
    assert(rows.length == 300, "C(25,2) ordered brand pairs")
    assert(rows.forall(r => r.getString(0) < r.getString(1)))
    val weeks = rows.map(_.getAs[Long]("n_weeks")).distinct
    assert(weeks.length == 1,
      s"dense calendar: every pair sees the same week count, got $weeks")
    rows.foreach { r =>
      val c = r.getAs[Double]("demand_corr")
      assert(!c.isNaN && c >= -1.0 - 1e-12 && c <= 1.0 + 1e-12,
        s"${r.getString(0)}x${r.getString(1)}: corr=$c")
    }
  }

  test("degree gini: bounds and cross-gate against assortativity's m") {
    val g = SparkEntry.queries("graph_degree_gini")(spark, sf).head()
    val gini = g.getAs[Double]("gini_degree")
    assert(gini >= 0.0 && gini < 1.0, s"gini=$gini")
    assert(g.getAs[Long]("sum_deg") % 2 == 0,
      "directed degree mass is even (both directions present)")
    // the degree table here and assortativity's edge list describe the
    // SAME graph: total degree == directed edge count
    val a = SparkEntry.queries("graph_assortativity")(spark, sf).head()
    assert(g.getAs[Long]("sum_deg") == a.getAs[Long]("m_directed"),
      "degree mass must equal the directed edge count")
  }

  test("price index: base month is exactly 1.0, Fisher between L and P") {
    val rows = SparkEntry.queries("orders_price_index")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val base = rows.head // ordered by month; first is the base
    assert(base.getAs[Double]("laspeyres") == 1.0 &&
      base.getAs[Double]("paasche") == 1.0 &&
      base.getAs[Double]("fisher") == 1.0,
      "matched basket against itself must index to exactly 1")
    rows.foreach { r =>
      val l = r.getAs[Double]("laspeyres"); val p = r.getAs[Double]("paasche")
      val f = r.getAs[Double]("fisher")
      assert(l > 0.0 && p > 0.0 && f > 0.0)
      assert(r.getAs[Long]("n_brands") >= 1 &&
        r.getAs[Long]("n_brands") <= 25)
      // the geometric mean sits between its factors
      assert(f >= math.min(l, p) - 1e-12 && f <= math.max(l, p) + 1e-12,
        s"fisher $f outside [$l, $p]")
    }
  }

  test("abc migration: cells partition the sold parts, no N->N cell") {
    val rows = SparkEntry.queries("parts_abc_migration")(spark, sf)
      .collect()
    val classes = Set("A", "B", "C", "N")
    rows.foreach { r =>
      assert(classes(r.getString(0)) && classes(r.getString(1)))
      assert(r.getAs[Long]("n_parts") > 0)
    }
    assert(!rows.exists(r =>
      r.getString(0) == "N" && r.getString(1) == "N"),
      "a part absent from BOTH periods cannot appear")
    // every part sold in either period lands in exactly one cell
    val sold = Tables.lineitem(spark, sf)
      .select(col("l_partkey")).distinct().count()
    assert(rows.map(_.getAs[Long]("n_parts")).sum == sold,
      "matrix must partition the sold-part universe")
  }

  test("diameter 2-sweep: second eccentricity dominates the first") {
    val r = SparkEntry.queries("graph_diameter_2sweep")(spark, sf).head()
    val ecc1 = r.getAs[Long]("ecc_sweep1")
    val dia = r.getAs[Long]("diameter_lb")
    // dist(far, seed) == ecc_sweep1, so far's eccentricity >= ecc_sweep1
    assert(dia >= ecc1, s"sweep-2 ecc $dia < sweep-1 ecc $ecc1")
    assert(dia >= 1 && r.getAs[Long]("n_reached") >= 2)
    assert(r.getAs[Long]("seed_node") != r.getAs[Long]("peripheral_node")
      || ecc1 == 0)
  }

  test("newsvendor: q_star is the 0.8-fractile order statistic per brand") {
    val rows = SparkEntry.queries("orders_newsvendor_level")(spark, sf)
      .collect()
    assert(rows.length == 25, "one stocking level per brand")
    // recompute the weekly demand frame and check the fractile property
    val wk = Tables.lineitem(spark, sf)
      .join(Tables.part(spark, sf), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), date_trunc("week", col("l_shipdate")))
      .agg(sum(col("l_quantity").cast("decimal(12,2)"))
        .cast("double").as("dem"))
      .select("p_brand", "dem").collect()
      .groupBy(_.getString(0)).map { case (b, rs) =>
        b -> rs.map(_.getDouble(1)).sorted }
    rows.foreach { r =>
      val dems = wk(r.getString(0))
      val nW = r.getAs[Long]("n_weeks")
      assert(nW == dems.length)
      val q = r.getAs[Double]("q_star")
      val atMost = dems.count(_ <= q)
      val target = (8 * nW + 9) / 10
      assert(atMost >= target,
        s"${r.getString(0)}: only $atMost of $nW weeks <= q_star")
      assert(r.getAs[Double]("safety_ratio") ==
        q / r.getAs[Double]("mean_weekly"))
    }
  }

  test("rich club: monotone club sizes, phi is a valid density") {
    val rows = SparkEntry.queries("graph_rich_club")(spark, sf).collect()
    assert(rows.map(_.getAs[Int]("k")).toSeq == Seq(5, 10, 20, 40))
    val sizes = rows.map(_.getAs[Long]("n_club"))
    // raising the degree bar can only shrink the club
    assert(sizes.sliding(2).forall { case Array(a, b) => b <= a
      case _ => true }, sizes.toSeq.toString)
    rows.foreach { r =>
      val nk = r.getAs[Long]("n_club")
      val ek = r.getAs[Long]("e_club_directed")
      val phi = r.getAs[Double]("phi")
      assert(ek % 2 == 0, "directed club edges come in symmetric pairs")
      if (nk >= 2) {
        assert(ek <= nk * (nk - 1), s"k=${r.getInt(0)}: $ek > max")
        assert(phi >= 0.0 && phi <= 1.0 + 1e-12, s"phi=$phi")
      } else assert(ek == 0 && phi == 0.0)
    }
  }

  test("markov entropy: bounds per state and collapsed weighted rate") {
    val rows = SparkEntry.queries("events_markov_entropy")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val nTypes = rows.length // states with at least one outgoing edge
    val hRate = rows.map(_.getAs[Double]("h_rate_nats")).distinct
    assert(hRate.length == 1, "rate must be one global constant")
    var num = 0.0; var den = 0.0
    rows.foreach { r =>
      val h = r.getAs[Double]("h_nats")
      // micro-log floors can push H a hair past the exact ceiling
      assert(h >= 0.0 && h <= math.log(nTypes + 1.0) + 1e-3,
        s"${r.getString(0)}: h=$h")
      num += h * r.getAs[Long]("n_trans"); den += r.getAs[Long]("n_trans")
    }
    // the collapsed -gh/gt form must equal the per-state weighted mean
    assert(math.abs(hRate.head - num / den) < 1e-9,
      s"rate ${hRate.head} vs weighted mean ${num / den}")
  }

  test("pacf: lag-1 equals rho1, all lags bounded, AR(1) cuts off") {
    val r = SparkEntry.queries("ts_pacf_levinson")(spark, sf).head()
    assert(r.getAs[Long]("n_days") > 10)
    Seq("rho1", "rho2", "rho3", "pacf1", "pacf2", "pacf3").foreach { c =>
      val v = r.getAs[Double](c)
      assert(v >= -1.0 - 1e-9 && v <= 1.0 + 1e-9, s"$c=$v")
    }
    assert(r.getAs[Double]("pacf1") == r.getAs[Double]("rho1"))
    // Durbin-Levinson closed form on a synthetic exact-AR(1) ACF:
    // rho_k = rho^k makes pacf2 = pacf3 = 0
    val rho = 0.5
    val (r1, r2, r3) = (rho, rho * rho, rho * rho * rho)
    val phi22 = (r2 - r1 * r1) / (1.0 - r1 * r1)
    val phi21 = r1 * (1.0 - phi22)
    val phi33 = (r3 - phi21 * r2 - phi22 * r1) /
      (1.0 - phi21 * r1 - phi22 * r2)
    assert(math.abs(phi22) < 1e-15 && math.abs(phi33) < 1e-15,
      "recursion must zero out beyond lag 1 on an AR(1) ACF")
  }

  test("hhi: per-nation bounds and the uniform/monopoly poles") {
    val rows = SparkEntry.queries("orders_hhi_supplier")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val ns = r.getAs[Long]("n_suppliers")
      val hhi = r.getAs[Double]("hhi")
      assert(ns >= 1)
      // HHI on the 0-10000 scale: floor quantization can only lose
      // mass, so uniform-shares 10000/ns is the exact lower pole
      assert(hhi <= 10000.0 + 1e-9, s"hhi=$hhi")
      assert(hhi >= 10000.0 / ns - 1e-4, s"hhi=$hhi below uniform pole")
      if (ns == 1) assert(math.abs(hhi - 10000.0) < 1e-4)
    }
  }

  test("xyz classes: partition of parts-with-sales, ordered class CV") {
    val rows = SparkEntry.queries("parts_xyz_classes")(spark, sf)
      .collect()
    assert(rows.map(_.getString(0)).toSet.subsetOf(Set("X", "Y", "Z")))
    val sold = Tables.lineitem(spark, sf)
      .select("l_partkey").distinct().count()
    assert(rows.map(_.getAs[Long]("n_parts")).sum == sold,
      "classes must partition the parts that ever sold")
    // class means must respect the cut order X < Y < Z
    val mean = rows.map(r => r.getString(0) ->
      r.getAs[Double]("mean_cv")).toMap
    for (Seq(a, b) <- Seq("X", "Y", "Z").filter(mean.contains)
        .sliding(2) if a != b)
      assert(mean(a) < mean(b), s"mean_cv($a) must be < mean_cv($b)")
  }

  test("npmi: bounds, canonical pair order, and marginal consistency") {
    val rows = SparkEntry.queries("events_type_npmi")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getString(0) < r.getString(1), "pairs must be canonical")
      assert(r.getAs[Long]("n_cooccur") > 0)
      val npmi = r.getAs[Double]("npmi")
      // micro-log floors can push the ratio a hair past the poles
      assert(npmi >= -1.0 - 1e-3 && npmi <= 1.0 + 1e-3, s"npmi=$npmi")
    }
  }

  test("kaplan-meier: at-risk accounting, monotone log-survival") {
    val rows = SparkEntry.queries("orders_survival_km")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val nCust = Tables.orders(spark, sf)
      .select("o_custkey").distinct().count()
    assert(rows.head.getAs[Long]("n_risk") == nCust,
      "everyone is at risk at duration 0")
    // at-risk must shrink by exactly the events + censors seen so far
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getAs[Long]("n_risk") == a.getAs[Long]("n_risk")
          - a.getAs[Long]("n_events") - a.getAs[Long]("n_censored"))
      case _ =>
    }
    val ln = rows.map(_.getAs[Double]("ln_survival"))
    assert(ln.forall(_ <= 0.0), "log-survival can never be positive")
    assert(ln.reverse.sameElements(ln.reverse.sorted),
      "survival must be nonincreasing in duration")
  }

  test("hurst: R/S grows with block size, exponent in the open interval") {
    val rows = SparkEntry.queries("ts_hurst_rescaled_range")(spark, sf)
      .collect()
    assert(rows.map(_.getAs[Long]("block_days")).toSeq ==
      Seq(64L, 128L, 256L))
    val rsAvg = rows.map(_.getAs[Double]("rs_avg"))
    assert(rsAvg.forall(_ > 0))
    assert(rsAvg.sameElements(rsAvg.sorted),
      "mean R/S must be monotone in block size")
    val h = rows.map(_.getAs[Double]("hurst")).distinct
    assert(h.length == 1)
    assert(h.head > 0.0 && h.head < 1.0, s"hurst=${h.head}")
  }
}
