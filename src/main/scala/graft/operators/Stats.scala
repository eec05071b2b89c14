package graft.operators

import graft.{Pin, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistical-test / distribution-diagnostic operators: the checks a
  * pipeline runs to DECIDE (is this A/B delta real? did the corpus
  * distribution drift? is this ledger column fabricated?) rather than to
  * report. Welch's t, the two-sample Kolmogorov–Smirnov statistic, a
  * Benford first-digit screen, per-segment Gini concentration, and a
  * Zipf rank–frequency fit over the token distribution.
  *
  * No reference equivalent (zonbloop/flink-rag has no analytics surface);
  * these extend the SURVEY §2.2 [EXT] quality/diagnostics story.
  *
  * Oracle-parity discipline (see [[graft.Q]] scaladoc): every statistic
  * is computed from EXACT accumulators — BIGINT counts, DECIMAL sums,
  * integer-scaled logs — with one final double expression written with
  * identical association on both engines, so the driver's bit-exact hash
  * compare holds without any round() (whose half-boundary semantics
  * differ across engines).
  *
  * Scale shapes:
  *  - welch/benford/ks: full-scan map-side partial aggregates collapsing
  *    to |groups| ≤ 11 rows; the tiny frames then pivot/window locally.
  *  - gini: the rank window is PER SEGMENT over the customer-level
  *    aggregate (|customers| rows, not the fact table) — the fact scan
  *    collapses first.
  *  - zipf: one combiner shuffle for token counts, TakeOrdered top-100,
  *    then a 100-row window — the regression never sees the corpus.
  */
object Stats {
  // Staged rollout: `defs` joins SparkEntry.all together with the round's
  // full-coverage baseline recommit — the BenchGuardSpec ≥95%-coverage
  // gate ties inventory growth to a freshly committed clean denominator,
  // and the current window is steal-contended (BASELINE.md discipline).
  // The kernels below are StatsSpec-exercised either way.

  /** Welch's unequal-variance t statistic between two groups.
    *
    * Input: (grp: String, x: Decimal(12,2)). Accumulates n/Σx/Σx² exactly
    * (the x² products in DECIMAL(28,4)), then evaluates mean, standard
    * error, t and the Welch–Satterthwaite df in ONE double expression per
    * output column — bit-identical cross-engine given identical sums.
    */
  private[graft] def welchT(g: DataFrame, g1: String, g2: String): DataFrame = {
    val st = g.groupBy("grp").agg(
      count(lit(1)).as("n"),
      sum(col("x")).cast("double").as("s"),
      sum((col("x") * col("x")).cast("decimal(28,4)")).cast("double").as("ss"))
    def pick(grp: String, c: String, as: String) =
      max(when(col("grp") === grp, col(c))).as(as)
    val w = st.agg(
      pick(g1, "n", "n1"), pick(g2, "n", "n2"),
      pick(g1, "s", "s1"), pick(g2, "s", "s2"),
      pick(g1, "ss", "ss1"), pick(g2, "ss", "ss2"))
    val m1 = col("s1") / col("n1")
    val m2 = col("s2") / col("n2")
    // per-group squared standard error: ((Σx² − Σx·mean) / (n−1)) / n
    val se1 = ((col("ss1") - col("s1") * (col("s1") / col("n1")))
      / (col("n1") - 1)) / col("n1")
    val se2 = ((col("ss2") - col("s2") * (col("s2") / col("n2")))
      / (col("n2") - 1)) / col("n2")
    w.select(col("n1"), col("n2"), m1.as("mean1"), m2.as("mean2"),
      ((m1 - m2) / sqrt(se1 + se2)).as("t_stat"),
      (((se1 + se2) * (se1 + se2))
        / (se1 * se1 / (col("n1") - 1) + se2 * se2 / (col("n2") - 1)))
        .as("welch_df"))
  }

  /** Two-sample KS: per distinct value, both ECDFs and their gap, plus
    * the sweep-wide max gap (the KS statistic) on every row.
    *
    * Input: (grp: String, x: any orderable). The global ECDF window runs
    * AFTER the value-level aggregate — |distinct x| rows (11 for the
    * discount domain), never the fact table; the two scalar totals and
    * the max gap broadcast back as one-row frames.
    */
  private[graft] def ksStatistic(df: DataFrame, g1: String, g2: String)
      : DataFrame = {
    val c = df.where(col("grp").isin(g1, g2))
      .groupBy("x")
      .agg(sum(when(col("grp") === g1, 1L).otherwise(0L)).as("ca"),
        sum(when(col("grp") === g2, 1L).otherwise(0L)).as("cb"))
    val tot = c.agg(sum("ca").as("ta"), sum("cb").as("tb"))
    val w = Window.orderBy("x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val e = c.crossJoin(broadcast(tot))
      .select(col("x"),
        (sum(col("ca")).over(w).cast("double") / col("ta")).as("fa"),
        (sum(col("cb")).over(w).cast("double") / col("tb")).as("fb"))
      .withColumn("gap", abs(col("fa") - col("fb")))
    val ks = e.agg(max(col("gap")).as("ks_stat"))
    e.crossJoin(broadcast(ks))
      .select(col("x").as("at_value"), col("fa").as("cdf_a"),
        col("fb").as("cdf_b"), col("gap"), col("ks_stat"))
      .orderBy("at_value")
  }

  /** Benford first-significant-digit screen over a positive money column:
    * observed digit shares vs the Benford expectation (hard-coded 17-sig-
    * digit literals — both engines parse the same decimal string to the
    * same double, where a cross-engine log10() call could differ in the
    * last ulp). Digit extraction goes through the DECIMAL(12,2) string
    * rendering, identical on both engines for values ≥ 1.
    */
  private[graft] def benfordDigits(df: DataFrame, valueCol: String)
      : DataFrame = {
    val digit = substring(
      col(valueCol).cast("decimal(12,2)").cast("string"), 1, 1).cast("int")
    val c = df.where(col(valueCol) >= 1)
      .groupBy(digit.as("digit")).agg(count(lit(1)).as("n"))
    val t = c.agg(sum("n").as("total"))
    val d = col("digit")
    val expected =
      when(d === 1, 0.3010299956639812)
        .when(d === 2, 0.17609125905568124)
        .when(d === 3, 0.12493873660829992)
        .when(d === 4, 0.09691001300805642)
        .when(d === 5, 0.07918124604762482)
        .when(d === 6, 0.06694678963061322)
        .when(d === 7, 0.05799194697768673)
        .when(d === 8, 0.05115252244738129)
        .when(d === 9, 0.04575749056067514)
    c.crossJoin(broadcast(t))
      .select(col("digit"), col("n"),
        (col("n").cast("double") / col("total")).as("observed"),
        expected.as("expected"))
      .withColumn("deviation", col("observed") - col("expected"))
      .orderBy("digit")
  }

  /** Per-segment Gini concentration over an entity-level DECIMAL(18,2)
    * amount: G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx) with xᵢ ascending, rank
    * ties broken by the entity key. The rank window partitions BY
    * SEGMENT over the already-aggregated entity frame; Σi·xᵢ stays exact
    * in DECIMAL until the single final double expression.
    */
  private[graft] def giniBySegment(cr: DataFrame): DataFrame = {
    val w = Window.partitionBy("seg").orderBy(col("rev"), col("ck"))
    val r = cr.select(col("seg"), col("rev"),
      row_number().over(w).cast("long").as("i"))
    val a = r.groupBy("seg").agg(count(lit(1)).as("n"),
      sum(col("rev")).as("sr"),
      sum(col("i").cast("decimal(10,0)") * col("rev")).as("sir"))
    a.select(col("seg"), col("n").as("n_entities"),
      col("sr").cast("double").as("total_amount"),
      ((lit(2.0) * col("sir").cast("double")
        - (col("n") + 1) * col("sr").cast("double"))
        / (col("n") * col("sr").cast("double"))).as("gini"))
      .orderBy("seg")
  }

  /** Zipf rank–frequency fit over the top-`topN` tokens: OLS slope of
    * ln(freq) on ln(rank) — ≈ −1 for natural text. The logs are
    * quantized to integer micro-units (floor(ln·10⁶) as BIGINT) so every
    * regression accumulator is an exact integer sum; slope survives the
    * common scale unchanged, the intercept divides it back out. Bounds:
    * y ≤ ln(2⁶³)·10⁶ ≈ 4.4e7 and x ≤ ln(topN)·10⁶, so the largest
    * accumulator n·Σxy ≤ n²·ln(n)·10⁶·4.4e7 crosses int64 near
    * n ≈ 200 (n = 1000 reaches ~3e20); topN ≤ 150 keeps n·Σxy, n·Σxx
    * and Σx·Σy all under ~5e18 with margin. Spark's non-ANSI long
    * arithmetic would wrap SILENTLY past that while DuckDB errors —
    * the require makes an out-of-contract topN fail loudly on both
    * engines instead of diverging.
    */
  private[graft] def zipfSlope(tokens: DataFrame, topN: Int): DataFrame = {
    require(topN <= 150,
      s"zipfSlope: topN=$topN exceeds the int64-exact regression bound " +
        "(150) — the n*sum(x*y) accumulator would overflow for " +
        "worst-case token counts; widen the accumulators to DECIMAL " +
        "before raising it")
    val f = tokens.where(col("t") =!= "")
      .groupBy("t").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("t")).limit(topN)
    val w = Window.orderBy(col("cnt").desc, col("t"))
    val rk = f.select(
      floor(log(row_number().over(w).cast("double")) * 1000000)
        .cast("long").as("x"),
      floor(log(col("cnt").cast("double")) * 1000000).cast("long").as("y"))
    val st = rk.agg(count(lit(1)).as("n"), sum("x").as("sx"),
      sum("y").as("sy"), sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"))
    val slope = (col("n") * col("sxy") - col("sx") * col("sy"))
      .cast("double") /
      (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    st.select(col("n").as("n_tokens"), slope.as("zipf_slope"),
      ((col("sy").cast("double") - slope * col("sx").cast("double"))
        / col("n") / 1000000.0).as("intercept_ln"))
  }

  /** Pearson chi-square independence test over a two-way contingency
    * table. Input: (a, b) category pair per observation row. Observed
    * counts, row/column totals and N are exact BIGINTs; each cell's
    * (O−E)²/E term is ONE identically-associated double expression,
    * then quantized to integer nano-units (floor(contrib·10⁹), fenced
    * by a raise_error past the int64 bound) and summed exactly in
    * DECIMAL(38,0) — DuckDB's HUGEINT sum(BIGINT) twin; a raw double
    * SUM would be accumulation-order nondeterministic across engines.
    * Cramér's V normalizes by N·min(r−1, c−1).
    */
  private[graft] def chiSquare(obs: DataFrame): DataFrame = {
    val cells = obs.groupBy("a", "b").agg(count(lit(1)).as("o"))
    val rt = cells.groupBy("a").agg(sum("o").as("rt"))
    val ct = cells.groupBy("b").agg(sum("o").as("ct"))
    val nt = cells.agg(sum("o").as("n_total"),
      countDistinct("a").as("r_cats"), countDistinct("b").as("c_cats"))
    val e = (col("rt") * col("ct")).cast("double") / col("n_total")
    val withE = cells
      .join(broadcast(rt), "a").join(broadcast(ct), "b")
      .crossJoin(broadcast(nt))
      .withColumn("e", e)
    val contrib = (col("o").cast("double") - col("e")) *
      (col("o").cast("double") - col("e")) / col("e")
    // Per-cell overflow fence (the linearTouchOf MAXN pattern): past
    // ~9.2e9 a cell's nano-scaled contribution no longer fits int64 —
    // DuckDB's CAST errors there while Spark's non-ANSI double→long
    // cast saturates SILENTLY, so without this guard the two engines
    // diverge instead of failing identically. Plausible at 100 TB
    // (O=1e9 observations against E=1e3 expected is contrib ~1e15);
    // raise_error keeps the fail-identically contract. The cross-cell
    // total then accumulates in DECIMAL(38,0) — exact for any cell
    // count, matching DuckDB's HUGEINT sum(BIGINT).
    val maxContrib = Long.MaxValue / 1e9
    val scored = withE.withColumn("contrib", contrib)
      .withColumn("contrib_scaled",
        when(col("contrib") > maxContrib, raise_error(lit(
          "chiSquare: a cell's (O-E)^2/E contribution exceeds the " +
            "int64 nano-unit bound (~9.2e9) — the exact-sum contract " +
            "cannot hold; rescale or fall back to a double total")))
          .otherwise(floor(col("contrib") * 1000000000).cast("long")))
    val tot = scored.agg(
      (sum(col("contrib_scaled").cast("decimal(38,0)")).cast("double")
        / 1000000000.0).as("chi_square"),
      max(col("n_total")).as("nt2"),
      max(least(col("r_cats") - 1, col("c_cats") - 1)).as("dof_min"))
      .select(col("chi_square"),
        sqrt(col("chi_square") / (col("nt2") * col("dof_min"))
          .cast("double")).as("cramers_v"))
    scored.crossJoin(broadcast(tot))
      .select(col("a"), col("b"), col("o"), col("e"), col("contrib"),
        col("chi_square"), col("cramers_v"))
      .orderBy("a", "b")
  }

  /** Mann–Whitney U over a BOUNDED value domain (the rank-sum test that
    * needs no normality assumption). Ranks come from the value-level
    * count frame — cumulative counts give each tie group's average rank,
    * kept exact by the ×2 scaling (2·avgrank = 2·cumBefore + t + 1 is
    * always an integer). U, the tie-corrected variance and z are then
    * one double expression each from exact BIGINT accumulators. The
    * ECDF-style window touches |distinct values| rows, never the fact.
    */
  private[graft] def mannWhitney(df: DataFrame, g1: String, g2: String)
      : DataFrame = {
    val c = df.where(col("grp").isin(g1, g2))
      .groupBy("x")
      .agg(sum(when(col("grp") === g1, 1L).otherwise(0L)).as("na"),
        sum(when(col("grp") === g2, 1L).otherwise(0L)).as("nb"))
      .withColumn("t", col("na") + col("nb"))
    val ranked = c.withColumn("cb",
      coalesce(sum(col("t")).over(
        Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("rank2", lit(2L) * col("cb") + col("t") + 1L)
    val st = ranked.agg(
      sum(col("na")).as("n1"), sum(col("nb")).as("n2"),
      sum(col("na") * col("rank2")).as("r1x2"),
      sum(col("t") * col("t") * col("t") - col("t")).as("ties"))
    val u1x2 = col("r1x2") - col("n1") * (col("n1") + 1)
    val bigN = col("n1") + col("n2")
    val sigma2 = (col("n1").cast("double") * col("n2") / 12.0) *
      ((bigN + 1) - col("ties").cast("double")
        / (bigN.cast("double") * (bigN - 1)))
    st.select(col("n1"), col("n2"),
      (u1x2.cast("double") / 2.0).as("u1"),
      (col("n1").cast("double") * col("n2")
        - u1x2.cast("double") / 2.0).as("u2"),
      ((u1x2.cast("double") / 2.0 - col("n1").cast("double") * col("n2") / 2.0)
        / sqrt(sigma2)).as("z_stat"))
  }

  /** Deterministic Poisson BOOTSTRAP confidence interval for the mean of
    * `valueExpr` per `groupCol` (re-exported as
    * `graft.api.Graft.bootstrapCi`): `replicas` resamples, each
    * weighting every row by a Poisson(1)-distributed integer derived
    * from md5(`keyExpr`) — ONE hash per row, remixed per replica with
    * odd-multiplier integer maps mod 2^16 (the Poisson-bootstrap
    * discipline at scan cost instead of replicas× hash cost; the remix
    * is LCG-style, documented as such). Weights follow the exact
    * Poisson(1) pmf cutoffs scaled to 65536; replica means are
    * DECIMAL-exact sums with ONE double division; CI endpoints are
    * INDEX-SELECTED order statistics (2nd and (replicas−1)-th — no
    * interpolation, so both engines pick the same stored double).
    * `valueExpr` must be an exact (decimal/integer) column. Returns
    * (grp, n_rows, sample_mean, boot_lo, boot_hi).
    */
  private[graft] def bootstrapCiOf(df: DataFrame, groupCol: String,
      valueExpr: Column, keyExpr: Column, replicas: Int = 50)
      : DataFrame = {
    require(replicas >= 4, s"bootstrapCiOf: replicas=$replicas < 4 — " +
      "the 2nd/(n-1)th order statistics need at least 4 replicas")
    val li = df.select(col(groupCol).as("grp"), valueExpr.as("q"),
      conv(substring(md5(keyExpr), 1, 8), 16, 10).cast("long").as("h32"))
    val weighted = li
      .select(col("grp"), col("q"), col("h32"),
        explode(expr(s"sequence(0, ${replicas - 1})")).as("b"))
      .select(col("grp"), col("q"), col("b"),
        ((col("h32") * (lit(2) * col("b") + 1) + lit(131071L) * col("b"))
          % 65536L).as("hv"))
      .select(col("grp"), col("q"), col("b"),
        when(col("hv") < 24109, 0L).when(col("hv") < 48219, 1L)
          .when(col("hv") < 60274, 2L).when(col("hv") < 64292, 3L)
          .when(col("hv") < 65296, 4L).when(col("hv") < 65497, 5L)
          .otherwise(6L).as("w"))
    val reps = weighted.groupBy("grp", "b")
      .agg((sum(col("q") * col("w")).cast("double")
        / sum(col("w")).cast("double")).as("m"))
    val wnd = Window.partitionBy("grp").orderBy(col("m"), col("b"))
    val ci = reps
      .select(col("grp"), col("m"), row_number().over(wnd).as("rnk"))
      .groupBy("grp")
      .agg(max(when(col("rnk") === 2, col("m"))).as("boot_lo"),
        max(when(col("rnk") === replicas - 1, col("m"))).as("boot_hi"))
    val base = li.groupBy("grp")
      .agg(count(lit(1)).as("n_rows"),
        (sum(col("q")).cast("double") / count(lit(1))).as("sample_mean"))
    base.join(broadcast(ci), "grp")
      .select(col("grp"), col("n_rows"), col("sample_mean"),
        col("boot_lo"), col("boot_hi"))
      .orderBy("grp")
  }

  /** Spearman rank correlation over a BOUNDED joint value domain: rho =
    * Pearson on tie-averaged ranks, with the ranks derived from the
    * (x, y) cell-count frame — the same ECDF trick as [[mannWhitney]].
    * Doubled average ranks (2·avgrank = 2·cumBefore + t + 1) stay exact
    * integers; Pearson is invariant to the common ×2 scale. Every
    * moment accumulates in DECIMAL(38,0) — cnt·rx·ry reaches ~4n³,
    * far past int64 at 100 TB row counts, and DuckDB's HUGEINT sum is
    * the exact twin — then rho is ONE double expression from the six
    * exact accumulators, identically associated on both engines. The
    * rank windows touch |distinct x| + |distinct y| rows, never the
    * fact table.
    */
  private[graft] def spearman(df: DataFrame, xc: String, yc: String)
      : DataFrame = {
    val cells = df.groupBy(col(xc).as("x"), col(yc).as("y"))
      .agg(count(lit(1)).as("c"))
    def rank2Of(key: String) = {
      val m = cells.groupBy(col(key)).agg(sum("c").as("t"))
      m.withColumn("cb",
        coalesce(sum(col("t")).over(Window.orderBy(col(key))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col(key), (lit(2L) * col("cb") + col("t") + 1L)
          .as(s"r2_$key"))
    }
    val j = cells.join(broadcast(rank2Of("x")), "x")
      .join(broadcast(rank2Of("y")), "y")
    val cDec = col("c").cast("decimal(38,0)")
    val st = j.agg(sum(col("c")).as("n"),
      sum(cDec * col("r2_x")).as("sx"),
      sum(cDec * col("r2_y")).as("sy"),
      sum(cDec * col("r2_x") * col("r2_y")).as("sxy"),
      sum(cDec * col("r2_x") * col("r2_x")).as("sxx"),
      sum(cDec * col("r2_y") * col("r2_y")).as("syy"))
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    st.select(col("n").as("n_rows"),
      ((d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy")))
        / sqrt((d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx")))
          * (d(col("n")) * d(col("syy")) - d(col("sy")) * d(col("sy")))))
        .as("spearman_rho"))
  }

  /** Kendall's tau-b over two bounded-domain columns via the joint-cell
    * frame (the [[spearman]] collapse): concordant/discordant pair mass
    * from the O(cells²) self-join of the ≤|dom(x)|·|dom(y)| cell counts,
    * tie terms from the marginal totals. Returns one row
    * (n_rows, concordant, discordant, kendall_tau_b). All five cell
    * consumers share the cell aggregate's canonical exchange, so the
    * input is scanned once (exchange reuse; plan-gated in StatsSpec).
    */
  private[graft] def kendallTau(df: DataFrame, xc: String, yc: String)
      : DataFrame = {
    val cells = df.groupBy(col(xc).as("x"), col(yc).as("y"))
      .agg(count(lit(1)).as("c"))
    val a = cells.select(col("x").as("xa"), col("y").as("ya"),
      col("c").as("ca"))
    val b = cells.select(col("x").as("xb"), col("y").as("yb"),
      col("c").as("cb"))
    val pp = a.join(broadcast(b), col("xa") < col("xb"))
      .agg(
        coalesce(sum(when(col("ya") < col("yb"), col("ca") * col("cb"))),
          lit(0L)).as("conc"),
        coalesce(sum(when(col("ya") > col("yb"), col("ca") * col("cb"))),
          lit(0L)).as("disc"))
    val nt = cells.agg(sum(col("c")).as("n"))
    val tx = cells.groupBy("x").agg(sum(col("c")).as("t"))
      .agg(sum(col("t") * (col("t") - 1)).as("tx2"))
    val ty = cells.groupBy("y").agg(sum(col("c")).as("t"))
      .agg(sum(col("t") * (col("t") - 1)).as("ty2"))
    pp.crossJoin(nt).crossJoin(tx).crossJoin(ty)
      .select(col("n").as("n_rows"), col("conc").as("concordant"),
        col("disc").as("discordant"),
        (((col("conc") - col("disc")) * 2).cast("double")
          / sqrt((col("n") * (col("n") - 1) - col("tx2")).cast("double")
            * (col("n") * (col("n") - 1) - col("ty2")).cast("double")))
          .as("kendall_tau_b"))
  }

  /** Kruskal–Wallis H over (g: String, x) for a FIXED known group list
    * (required: per-group terms pivot into one row so the cross-group
    * sum is a fixed-association double expression, not an accumulation-
    * order-dependent double Σ). Doubled midranks (2·cb + t + 1) stay
    * integer; H and its tie-corrected form are the only doubles.
    */
  private[graft] def kruskalWallis(df: DataFrame, groups: Seq[String])
      : DataFrame = {
    val cells = df.groupBy(col("g"), col("x"))
      .agg(count(lit(1)).as("c"))
    val m = cells.groupBy("x").agg(sum(col("c")).as("t"))
    val r = m.withColumn("cb",
        coalesce(sum(col("t")).over(Window.orderBy(col("x"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("x"), (lit(2L) * col("cb") + col("t") + 1L).as("r2"))
    val tie = m.agg(sum(col("t") * col("t") * col("t") - col("t"))
      .as("ties"))
    val picks = Seq(sum(col("c")).as("n")) ++
      groups.zipWithIndex.map { case (gv, i) =>
        sum(when(col("g") === gv, col("c") * col("r2")))
          .as(s"r2${i + 1}") } ++
      groups.zipWithIndex.map { case (gv, i) =>
        sum(when(col("g") === gv, col("c"))).as(s"n${i + 1}") }
    val st = cells.join(broadcast(r), "x").agg(picks.head, picks.tail: _*)
    val hExpr = groups.indices
      .map { i =>
        col(s"r2${i + 1}").cast("double") * col(s"r2${i + 1}").cast("double") /
          col(s"n${i + 1}").cast("double")
      }
      .reduceLeft(_ + _)
    val hs = st.select(col("n"),
      (lit(3.0) / (col("n") * (col("n") + 1)).cast("double") * hExpr
        - lit(3.0) * (col("n") + 1).cast("double")).as("h"))
    hs.crossJoin(tie)
      .select(col("n").as("n_total"), col("h").as("h_stat"),
        (col("h") / (lit(1.0) - col("ties").cast("double")
          / (col("n") * col("n") * col("n") - col("n")).cast("double")))
          .as("h_tie_corrected"))
  }

  /** Closed-form two-regressor OLS per key over (key, x1, x2, y) with
    * INTEGER (cent-unit) inputs: one combiner aggregate of the nine
    * exact integer moments (products summed as DECIMAL(38,0) —
    * HUGEINT's twin — so the one cast to double is a single correctly-
    * rounded int→double on both engines), then the 2×2 normal-equation
    * solve as a fixed cascade of double expressions. Betas and R² are
    * scale-invariant; the intercept converts cents→natural with one
    * exact /100. Returns (key, n, beta_qty, beta_disc, intercept,
    * r_squared) ordered by key.
    */
  private[graft] def olsTwoFactor(df: DataFrame, key: String): DataFrame = {
    def sd(e: Column, as: String) =
      sum(e.cast("decimal(38,0)")).cast("double").as(as)
    val st = df.groupBy(key).agg(
      count(lit(1)).as("n"),
      sum(col("x1")).cast("double").as("s1"),
      sum(col("x2")).cast("double").as("s2"),
      sum(col("y")).cast("double").as("sy"),
      sd(col("x1") * col("x1"), "s11"),
      sd(col("x1") * col("x2"), "s12"),
      sd(col("x2") * col("x2"), "s22"),
      sd(col("x1") * col("y"), "s1y"),
      sd(col("x2") * col("y"), "s2y"),
      sd(col("y") * col("y"), "syy"))
    val c = st
      .withColumn("v11", col("s11") - col("s1") * col("s1") / col("n"))
      .withColumn("v12", col("s12") - col("s1") * col("s2") / col("n"))
      .withColumn("v22", col("s22") - col("s2") * col("s2") / col("n"))
      .withColumn("v1y", col("s1y") - col("s1") * col("sy") / col("n"))
      .withColumn("v2y", col("s2y") - col("s2") * col("sy") / col("n"))
      .withColumn("vyy", col("syy") - col("sy") * col("sy") / col("n"))
      .withColumn("det", col("v11") * col("v22") - col("v12") * col("v12"))
      .withColumn("beta_qty",
        (col("v22") * col("v1y") - col("v12") * col("v2y")) / col("det"))
      .withColumn("beta_disc",
        (col("v11") * col("v2y") - col("v12") * col("v1y")) / col("det"))
    c.select(col(key), col("n"), col("beta_qty"), col("beta_disc"),
        ((col("sy") - col("beta_qty") * col("s1")
          - col("beta_disc") * col("s2")) / col("n") / 100.0)
          .as("intercept"),
        ((col("beta_qty") * col("v1y") + col("beta_disc") * col("v2y"))
          / col("vyy")).as("r_squared"))
      .orderBy(key)
  }

  val defs: Seq[Q] = Seq(

    // Welch's t between URGENT and LOW order totals — the "is the A/B
    // delta real" primitive. Two exact pass-collapsing aggregates, one
    // pivoted row; the fact table is read once.
    Q("stats_welch_ttest",
      """WITH g AS (
        |  SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 'urgent'
        |              ELSE 'low' END AS grp,
        |         CAST(o_totalprice AS DECIMAL(12,2)) AS x
        |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
        |st AS (
        |  SELECT grp, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(x) AS DOUBLE) AS s,
        |         CAST(sum(CAST(x * x AS DECIMAL(28,4))) AS DOUBLE) AS ss
        |  FROM g GROUP BY 1),
        |w AS (
        |  SELECT max(CASE WHEN grp = 'urgent' THEN n END) AS n1,
        |         max(CASE WHEN grp = 'low' THEN n END) AS n2,
        |         max(CASE WHEN grp = 'urgent' THEN s END) AS s1,
        |         max(CASE WHEN grp = 'low' THEN s END) AS s2,
        |         max(CASE WHEN grp = 'urgent' THEN ss END) AS ss1,
        |         max(CASE WHEN grp = 'low' THEN ss END) AS ss2
        |  FROM st),
        |v AS (
        |  SELECT n1, n2, s1 / n1 AS m1, s2 / n2 AS m2,
        |    ((ss1 - s1 * (s1 / n1)) / (n1 - 1)) / n1 AS se1,
        |    ((ss2 - s2 * (s2 / n2)) / (n2 - 1)) / n2 AS se2
        |  FROM w)
        |SELECT n1, n2, m1 AS mean1, m2 AS mean2,
        |  (m1 - m2) / sqrt(se1 + se2) AS t_stat,
        |  ((se1 + se2) * (se1 + se2))
        |    / (se1 * se1 / (n1 - 1) + se2 * se2 / (n2 - 1)) AS welch_df
        |FROM v""".stripMargin) { (s, d) =>
      welchT(
        Tables.orders(s, d)
          .where(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
          .select(
            when(col("o_orderpriority") === "1-URGENT", "urgent")
              .otherwise("low").as("grp"),
            col("o_totalprice").cast("decimal(12,2)").as("x")),
        "urgent", "low")
    },

    // Two-sample KS over the discount distribution of returned (R) vs
    // accepted (A) lines — the distribution-drift test behind
    // dq_profile_drift's summary deltas. The ECDF window touches 11 rows.
    Q("stats_ks_discount",
      """WITH c AS (
        |  SELECT l_discount AS x,
        |    CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS cb
        |  FROM lineitem WHERE l_returnflag IN ('A', 'R') GROUP BY 1),
        |t AS (SELECT CAST(sum(ca) AS BIGINT) AS ta,
        |             CAST(sum(cb) AS BIGINT) AS tb FROM c),
        |e AS (
        |  SELECT x,
        |    CAST(sum(ca) OVER (ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS DOUBLE) / ta AS fa,
        |    CAST(sum(cb) OVER (ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS DOUBLE) / tb AS fb
        |  FROM c, t),
        |g AS (SELECT x, fa, fb, abs(fa - fb) AS gap FROM e)
        |SELECT x AS at_value, fa AS cdf_a, fb AS cdf_b, gap,
        |  (SELECT max(gap) FROM g) AS ks_stat
        |FROM g ORDER BY at_value""".stripMargin) { (s, d) =>
      ksStatistic(
        Tables.lineitem(s, d)
          .select(col("l_returnflag").as("grp"), col("l_discount").as("x")),
        "A", "R")
    },

    // Benford first-digit screen on order totals — the fraud/fabrication
    // smoke test for any ledger column. One combiner shuffle to 9 rows.
    Q("dq_benford_totalprice",
      """WITH c AS (
        |  SELECT CAST(substring(CAST(CAST(o_totalprice AS DECIMAL(12,2))
        |                             AS VARCHAR), 1, 1) AS INT) AS digit,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM orders WHERE o_totalprice >= 1 GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c),
        |o AS (
        |  SELECT digit, n, CAST(n AS DOUBLE) / total AS observed,
        |    CASE digit
        |      WHEN 1 THEN 0.3010299956639812
        |      WHEN 2 THEN 0.17609125905568124
        |      WHEN 3 THEN 0.12493873660829992
        |      WHEN 4 THEN 0.09691001300805642
        |      WHEN 5 THEN 0.07918124604762482
        |      WHEN 6 THEN 0.06694678963061322
        |      WHEN 7 THEN 0.05799194697768673
        |      WHEN 8 THEN 0.05115252244738129
        |      WHEN 9 THEN 0.04575749056067514
        |    END AS expected
        |  FROM c, t)
        |SELECT digit, n, observed, expected,
        |  observed - expected AS deviation
        |FROM o ORDER BY digit""".stripMargin) { (s, d) =>
      benfordDigits(Tables.orders(s, d), "o_totalprice")
    },

    // Gini concentration of customer revenue per market segment — "do 20%
    // of customers carry 80% of the segment" as one number per segment.
    Q("orders_gini_segment",
      """WITH cr AS (
        |  SELECT c.c_mktsegment AS seg, c.c_custkey AS ck,
        |    CAST(sum(CAST(o.o_totalprice AS DECIMAL(12,2)))
        |         AS DECIMAL(18,2)) AS rev
        |  FROM orders o, customer c WHERE o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT seg, rev,
        |    CAST(row_number() OVER (PARTITION BY seg ORDER BY rev, ck)
        |         AS BIGINT) AS i
        |  FROM cr),
        |a AS (
        |  SELECT seg, CAST(count(*) AS BIGINT) AS n, sum(rev) AS sr,
        |         sum(CAST(i AS DECIMAL(10,0)) * rev) AS sir
        |  FROM r GROUP BY 1)
        |SELECT seg, n AS n_entities, CAST(sr AS DOUBLE) AS total_amount,
        |  (2.0 * CAST(sir AS DOUBLE) - (n + 1) * CAST(sr AS DOUBLE))
        |    / (n * CAST(sr AS DOUBLE)) AS gini
        |FROM a ORDER BY seg""".stripMargin) { (s, d) =>
      giniBySegment(
        Tables.orders(s, d)
          .join(Tables.customer(s, d),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment").as("seg"), col("c_custkey").as("ck"))
          .agg(sum(col("o_totalprice").cast("decimal(12,2)"))
            .cast("decimal(18,2)").as("rev")))
    },

    // Zipf rank–frequency slope over the corpus token distribution —
    // natural text sits near −1; a flat slope flags synthetic/boilerplate
    // corpora before they enter a training mix.
    Q("text_zipf_slope",
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS t FROM documents),
        |f AS (
        |  SELECT t, CAST(count(*) AS BIGINT) AS cnt FROM tok
        |  WHERE t <> '' GROUP BY 1
        |  ORDER BY cnt DESC, t LIMIT 100),
        |rk AS (
        |  SELECT
        |    CAST(floor(ln(CAST(row_number() OVER (ORDER BY cnt DESC, t)
        |                       AS DOUBLE)) * 1000000) AS BIGINT) AS x,
        |    CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1000000) AS BIGINT) AS y
        |  FROM f),
        |st AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx,
        |         sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
        |  FROM rk),
        |sl AS (
        |  SELECT n, sx, sy,
        |    CAST(n * sxy - sx * sy AS DOUBLE)
        |      / CAST(n * sxx - sx * sx AS DOUBLE) AS slope
        |  FROM st)
        |SELECT n AS n_tokens, slope AS zipf_slope,
        |  (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
        |    / n / 1000000.0 AS intercept_ln
        |FROM sl""".stripMargin) { (s, d) =>
      zipfSlope(
        Tables.documents(s, d)
          .select(explode(split(col("text"), " ")).as("t")),
        topN = 100)
    },

    // Chi-square independence of market segment × order priority — "does
    // segment drive priority mix". Cell contributions quantized to nano-
    // units so the total is an exact BIGINT sum (see chiSquare scaladoc).
    Q("stats_chi_square",
      """WITH obs AS (
        |  SELECT c.c_mktsegment AS a, o.o_orderpriority AS b
        |  FROM orders o, customer c WHERE o.o_custkey = c.c_custkey),
        |cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS o
        |          FROM obs GROUP BY 1, 2),
        |rt AS (SELECT a, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
        |ct AS (SELECT b, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
        |nt AS (SELECT CAST(sum(o) AS BIGINT) AS n_total,
        |              CAST(count(DISTINCT a) AS BIGINT) AS r_cats,
        |              CAST(count(DISTINCT b) AS BIGINT) AS c_cats
        |       FROM cells),
        |sc AS (
        |  SELECT a, b, o, CAST(rt * ct AS DOUBLE) / n_total AS e,
        |    n_total, r_cats, c_cats
        |  FROM cells JOIN rt USING (a) JOIN ct USING (b) CROSS JOIN nt),
        |sc2 AS (
        |  SELECT a, b, o, e,
        |    (CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e
        |      AS contrib,
        |    CAST(floor((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e)
        |               / e * 1000000000) AS BIGINT) AS contrib_scaled,
        |    n_total, r_cats, c_cats
        |  FROM sc),
        |tot AS (
        |  SELECT CAST(sum(contrib_scaled) AS DOUBLE) / 1000000000.0
        |           AS chi_square,
        |         max(n_total) AS nt2,
        |         max(least(r_cats - 1, c_cats - 1)) AS dof_min
        |  FROM sc2),
        |tv AS (SELECT chi_square,
        |         sqrt(chi_square / CAST(nt2 * dof_min AS DOUBLE))
        |           AS cramers_v
        |       FROM tot)
        |SELECT a, b, o, e, contrib, chi_square, cramers_v
        |FROM sc2 CROSS JOIN tv
        |ORDER BY a, b""".stripMargin) { (s, d) =>
      chiSquare(
        Tables.orders(s, d)
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment").as("a"),
            col("o_orderpriority").as("b")))
    },

    // Mann–Whitney U over line quantities of returned (R) vs accepted
    // (A) lines — the rank-sum "did the distribution shift" test that
    // needs no normality assumption; quantity's bounded integer domain
    // keeps the rank frame at ≤50 rows.
    Q("stats_mann_whitney",
      """WITH c AS (
        |  SELECT l_quantity AS x,
        |    CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS na,
        |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS nb
        |  FROM lineitem WHERE l_returnflag IN ('A', 'R') GROUP BY 1),
        |r AS (
        |  SELECT x, na, nb, na + nb AS t,
        |    coalesce(CAST(sum(na + nb) OVER (ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS cb
        |  FROM c),
        |st AS (
        |  SELECT CAST(sum(na) AS BIGINT) AS n1,
        |         CAST(sum(nb) AS BIGINT) AS n2,
        |         CAST(sum(na * (2 * cb + t + 1)) AS BIGINT) AS r1x2,
        |         CAST(sum(t * t * t - t) AS BIGINT) AS ties
        |  FROM r)
        |SELECT n1, n2,
        |  CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u1,
        |  CAST(n1 AS DOUBLE) * n2
        |    - CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u2,
        |  (CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2.0
        |     - CAST(n1 AS DOUBLE) * n2 / 2.0)
        |    / sqrt((CAST(n1 AS DOUBLE) * n2 / 12.0)
        |           * ((n1 + n2 + 1) - CAST(ties AS DOUBLE)
        |              / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1))))
        |    AS z_stat
        |FROM st""".stripMargin) { (s, d) =>
      mannWhitney(
        Tables.lineitem(s, d)
          .select(col("l_returnflag").as("grp"), col("l_quantity").as("x")),
        "A", "R")
    },

    // Spearman rank correlation of quantity × discount — "does discount
    // depth track order size" asked rank-wise (robust to the skewed
    // price scales Pearson chokes on). Both columns are bounded domains
    // (50 × 11 values → ≤550 joint cells), so ranks come from the
    // cell-count frame and the fact table is touched ONCE.
    Q("stats_spearman_rho",
      """WITH cells AS (
        |  SELECT l_quantity AS x, l_discount AS y,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |rx AS (
        |  SELECT x, 2 * COALESCE(SUM(t) OVER (ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + t + 1 AS r2_x
        |  FROM (SELECT x, sum(c) AS t FROM cells GROUP BY 1)),
        |ry AS (
        |  SELECT y, 2 * COALESCE(SUM(t) OVER (ORDER BY y
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + t + 1 AS r2_y
        |  FROM (SELECT y, sum(c) AS t FROM cells GROUP BY 1)),
        |st AS (
        |  SELECT sum(c) AS n,
        |    sum(CAST(c AS HUGEINT) * r2_x) AS sx,
        |    sum(CAST(c AS HUGEINT) * r2_y) AS sy,
        |    sum(CAST(c AS HUGEINT) * r2_x * r2_y) AS sxy,
        |    sum(CAST(c AS HUGEINT) * r2_x * r2_x) AS sxx,
        |    sum(CAST(c AS HUGEINT) * r2_y * r2_y) AS syy
        |  FROM cells JOIN rx USING (x) JOIN ry USING (y))
        |SELECT CAST(n AS BIGINT) AS n_rows,
        |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |  / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |         * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |    AS spearman_rho
        |FROM st""".stripMargin) { (s, d) =>
      spearman(Tables.lineitem(s, d)
        .select(col("l_quantity"), col("l_discount")),
        "l_quantity", "l_discount")
    },

    // Poisson BOOTSTRAP confidence interval for the mean quantity per
    // return flag — the resampling machine every metrics pipeline wants
    // and most engines fake with rand(): 50 replicas, each weighting
    // every row by a DETERMINISTIC Poisson(1)-distributed integer, so
    // the whole CI is reproducible and cross-engine bit-exact. One md5
    // per ROW (32-bit uniform, the Sampling-family idiom), remixed per
    // replica with an odd-multiplier integer map mod 2^16 — the Poisson
    // bootstrap discipline at one-hash-per-row scan cost instead of B×
    // hash cost (exactly the trade a 100 TB pass makes; the remix is an
    // LCG-style mix, documented as such — adjacent replicas share the
    // row hash but their weight draws decorrelate under the odd
    // multipliers). Weights follow the exact Poisson(1) pmf cutoffs
    // scaled to 65536; replica means are DECIMAL-exact sums with ONE
    // double division; the CI endpoints are INDEX-SELECTED order
    // statistics (2nd and 49th of 50 — no percentile interpolation, so
    // both engines pick the same stored double bit-for-bit).
    Q("stats_bootstrap_ci",
      """WITH r AS (
        |  SELECT l_returnflag, CAST(l_quantity AS DECIMAL(12,2)) AS q,
        |    md5(CAST(l_orderkey AS VARCHAR) || ':'
        |        || CAST(l_linenumber AS VARCHAR)) AS hx
        |  FROM lineitem),
        |h AS (SELECT l_returnflag, q,
        |    (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 268435456
        |  + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) * 16777216
        |  + (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1) * 1048576
        |  + (strpos('0123456789abcdef', substr(hx, 4, 1)) - 1) * 65536
        |  + (strpos('0123456789abcdef', substr(hx, 5, 1)) - 1) * 4096
        |  + (strpos('0123456789abcdef', substr(hx, 6, 1)) - 1) * 256
        |  + (strpos('0123456789abcdef', substr(hx, 7, 1)) - 1) * 16
        |  + (strpos('0123456789abcdef', substr(hx, 8, 1)) - 1) AS h32
        |  FROM r),
        |w AS (SELECT l_returnflag, q, b,
        |    CASE WHEN hv < 24109 THEN 0 WHEN hv < 48219 THEN 1
        |         WHEN hv < 60274 THEN 2 WHEN hv < 64292 THEN 3
        |         WHEN hv < 65296 THEN 4 WHEN hv < 65497 THEN 5
        |         ELSE 6 END AS w
        |  FROM (SELECT l_returnflag, q, b,
        |          (h32 * (2 * b + 1) + 131071 * b) % 65536 AS hv
        |        FROM h, (SELECT unnest(range(0, 50)) AS b))),
        |reps AS (SELECT l_returnflag, b,
        |           CAST(sum(q * w) AS DOUBLE) / CAST(sum(w) AS DOUBLE)
        |             AS m
        |         FROM w GROUP BY 1, 2),
        |rk AS (SELECT l_returnflag, m, b,
        |         row_number() OVER (PARTITION BY l_returnflag
        |                            ORDER BY m, b) AS rnk
        |       FROM reps),
        |ci AS (SELECT l_returnflag,
        |         max(CASE WHEN rnk = 2 THEN m END) AS boot_lo,
        |         max(CASE WHEN rnk = 49 THEN m END) AS boot_hi
        |       FROM rk GROUP BY 1),
        |base AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
        |             / count(*) AS sample_mean
        |         FROM lineitem GROUP BY 1)
        |SELECT base.l_returnflag AS l_returnflag, n_rows, sample_mean,
        |  boot_lo, boot_hi
        |FROM base JOIN ci USING (l_returnflag)
        |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      bootstrapCiOf(Tables.lineitem(s, d), "l_returnflag",
        col("l_quantity").cast("decimal(12,2)"),
        concat_ws(":", col("l_orderkey").cast("string"),
          col("l_linenumber").cast("string")))
        .withColumnRenamed("grp", "l_returnflag")
    },

    // Poisson overdispersion of daily event arrivals per type: the
    // variance-to-mean ratio of daily counts — ≈1 for a Poisson process,
    // ≫1 = bursty (bot traffic, incident spikes). dispersion =
    // (nΣc²−(Σc)²)/(n·Σc) is ONE double division of exact BIGINTs.
    Q("events_poisson_dispersion",
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |st AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |         CAST(sum(c) AS BIGINT) AS s,
        |         CAST(sum(c * c) AS BIGINT) AS ss
        |  FROM daily GROUP BY 1)
        |SELECT event_type, n_days, s AS total_events,
        |  CAST(n_days * ss - s * s AS DOUBLE)
        |    / CAST(n_days * s AS DOUBLE) AS dispersion
        |FROM st ORDER BY event_type""".stripMargin) { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
      val st = daily.groupBy("event_type")
        .agg(count(lit(1)).as("n_days"), sum(col("c")).as("s"),
          sum(col("c") * col("c")).as("ss"))
      st.select(col("event_type"), col("n_days"), col("s").as("total_events"),
          ((col("n_days") * col("ss") - col("s") * col("s")).cast("double")
            / (col("n_days") * col("s")).cast("double")).as("dispersion"))
        .orderBy("event_type")
    },

    // Benjamini–Hochberg FDR control over a FAMILY of hypothesis tests —
    // the multiple-testing step every per-segment screening pipeline
    // needs (run one test per brand and 5% of brands are "significant"
    // by luck; BH step-up bounds the expected FALSE-DISCOVERY fraction
    // at q instead of the per-test error). Family: one two-proportion
    // z-test per p_brand of its return rate vs the pooled rate. The
    // z-statistic uses only +,−,×,÷,sqrt on exact integer aggregates —
    // every op is IEEE-correctly-rounded, so z is bit-identical
    // cross-engine (deliberately no erf/exp: the p-value surrogate is
    // the ALGEBRAIC normal-tail approximation 1 − |z|/sqrt(z² + π/2),
    // slope-matched to Φ at 0, documented max abs err < 2% — the BH
    // procedure itself is then EXACT given the surrogate). Step-up:
    // rank p ascending, k_max = max{k : p_(k) ≤ k·q/m}, reject all
    // k ≤ k_max (q = 0.10). Plan: one brand-keyed combiner aggregate
    // over the lineitem⋈part join (build side broadcast), then the
    // whole procedure runs on the m-row family — window functions over
    // m = |brands| rows, nothing data-sized past the first aggregate;
    // at 100 TB the family table is KBs regardless of corpus size.
    Q("stats_benjamini_hochberg",
      """WITH br AS (
        |  SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS r
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY p_brand),
        |g AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
        |             CAST(sum(r) AS BIGINT) AS rr FROM br),
        |z AS (
        |  SELECT p_brand, n, r,
        |    (CAST(r AS DOUBLE) / CAST(n AS DOUBLE)
        |      - CAST(rr AS DOUBLE) / CAST(nn AS DOUBLE))
        |    / sqrt((CAST(rr AS DOUBLE) / CAST(nn AS DOUBLE))
        |        * (1 - CAST(rr AS DOUBLE) / CAST(nn AS DOUBLE))
        |        / CAST(n AS DOUBLE)) AS z
        |  FROM br, g),
        |p AS (SELECT p_brand, n, r, z,
        |        1 - abs(z) / sqrt(z * z + 1.5707963267948966) AS pval
        |      FROM z),
        |k AS (SELECT p_brand, n, r, z, pval,
        |        row_number() OVER (ORDER BY pval, p_brand) AS k,
        |        count(*) OVER () AS m FROM p),
        |s AS (SELECT p_brand, n, r, z, pval, k, m,
        |        CASE WHEN pval <= CAST(k AS DOUBLE) * 0.1
        |                          / CAST(m AS DOUBLE)
        |             THEN k ELSE 0 END AS hit FROM k)
        |SELECT p_brand, n, r, z, pval, k,
        |  k <= max(hit) OVER () AS significant
        |FROM s ORDER BY k""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val br = Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("r"))
      val g = br.agg(sum(col("n")).as("nn"), sum(col("r")).as("rr"))
      val p0 = col("rr").cast("double") / col("nn").cast("double")
      val z = br.crossJoin(broadcast(g))
        .select(col("p_brand"), col("n"), col("r"),
          ((col("r").cast("double") / col("n").cast("double") - p0)
            / sqrt(p0 * (lit(1) - p0) / col("n").cast("double"))).as("z"))
      val p = z.withColumn("pval",
        lit(1) - abs(col("z")) / sqrt(col("z") * col("z")
          + lit(1.5707963267948966)))
      val k = p
        .withColumn("k", row_number().over(
          Window.orderBy(col("pval"), col("p_brand"))))
        .withColumn("m", count(lit(1)).over(
          Window.partitionBy()))
      val hit = k.withColumn("hit",
        when(col("pval") <= col("k").cast("double") * lit(0.1)
          / col("m").cast("double"), col("k")).otherwise(lit(0L)))
      hit
        .withColumn("kmax", max(col("hit")).over(Window.partitionBy()))
        .select(col("p_brand"), col("n"), col("r"), col("z"), col("pval"),
          col("k"), (col("k") <= col("kmax")).as("significant"))
        .orderBy("k")
    },

    // Brown–Forsythe test (the median-centered Levene): do order totals
    // have EQUAL SPREAD across order priorities? — the variance-
    // homogeneity check that gates every pooled-variance test upstream
    // (Welch exists precisely because this often fails). Robust center:
    // each group's LOWER-MIDDLE order statistic (position (n+1)//2 —
    // a stored value, never an interpolated average, so the center is
    // an exact DECIMAL on both engines); deviations z = |x − med| stay
    // exact DECIMAL, and the one-way ANOVA F over z uses the
    // stats_chi_square quantization discipline: each group's S²/n term
    // is floored to an exact BIGINT before the cross-group sum (a raw
    // double Σ over groups is accumulation-order nondeterministic),
    // then F is ONE identically-ordered double expression. Plan: one
    // rank window + one group aggregate over the k-row frame; the fact
    // table collapses to k groups map-side after the median join.
    Q("stats_brown_forsythe",
      """WITH x AS (
        |  SELECT o_orderpriority AS g,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS x, o_orderkey
        |  FROM orders),
        |rk AS (
        |  SELECT g, x,
        |    row_number() OVER (PARTITION BY g ORDER BY x, o_orderkey)
        |      AS i,
        |    count(*) OVER (PARTITION BY g) AS n
        |  FROM x),
        |med AS (SELECT g, x AS med FROM rk WHERE i = (n + 1) // 2),
        |z AS (
        |  SELECT x.g, abs(x.x - med.med) AS z
        |  FROM x JOIN med ON x.g = med.g),
        |grp AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(z) AS DOUBLE) AS s
        |  FROM z GROUP BY g),
        |gq AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(n) AS BIGINT) AS nn,
        |    CAST(sum(CAST(floor(s * s / n) AS BIGINT)) AS BIGINT) AS bq
        |  FROM grp),
        |gl AS (
        |  SELECT CAST(sum(z) AS DOUBLE) AS ss,
        |    CAST(sum(CAST(z * z AS DECIMAL(28,4))) AS DOUBLE) AS qq
        |  FROM z)
        |SELECT k, nn AS n_total,
        |  (CAST(bq AS DOUBLE) - ss * ss / nn) / (k - 1)
        |    / ((qq - CAST(bq AS DOUBLE)) / (nn - k)) AS f_stat
        |FROM gq, gl""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val x = Tables.orders(s, d)
        .select(col("o_orderpriority").as("g"),
          col("o_totalprice").cast("decimal(12,2)").as("x"),
          col("o_orderkey"))
      val rk = x
        .withColumn("i", row_number().over(
          Window.partitionBy("g").orderBy(col("x"), col("o_orderkey"))))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("g")))
      val med = rk.where(col("i") === expr("(n + 1) div 2"))
        .select(col("g"), col("x").as("med"))
      val z = x.join(broadcast(med), Seq("g"))
        .select(col("g"), abs(col("x") - col("med")).as("z"))
      val grp = z.groupBy("g")
        .agg(count(lit(1)).as("n"), sum(col("z")).cast("double").as("s"))
      val gq = grp.agg(count(lit(1)).as("k"), sum(col("n")).as("nn"),
        sum(floor(col("s") * col("s") / col("n")).cast("long")).as("bq"))
      val gl = z.agg(sum(col("z")).cast("double").as("ss"),
        sum((col("z") * col("z")).cast("decimal(28,4)"))
          .cast("double").as("qq"))
      gq.crossJoin(gl)
        .select(col("k"), col("nn").as("n_total"),
          (((col("bq").cast("double") - col("ss") * col("ss") / col("nn"))
            / (col("k") - 1))
            / ((col("qq") - col("bq").cast("double"))
              / (col("nn") - col("k")))).as("f_stat"))
    },

    // Deterministic 1-D k-means (K=4, three unrolled Lloyd iterations)
    // over order totals — the scalar QUANTIZER primitive (price-band
    // discovery; the 1-D ancestor of the IVF coarse quantizer and the
    // int8 embedding quantizer, learned from the data instead of fixed
    // percentiles). Every step is cross-engine bit-exact: init
    // centroids are min + span·{1,3,5,7}/8 (exact binary fractions of
    // two stored order statistics); assignment is a fixed <=-chain of
    // abs distances (ties to the LOWER cluster id, same CASE both
    // engines); the update mean is a DECIMAL-exact sum with ONE double
    // division; an emptied cluster keeps its previous centroid.
    // Inertia is quantized per row (floor(100·(x−c)²) BIGINT) so the
    // final sum is exact (DECIMAL(38)/HUGEINT twins). Plan: each
    // iteration is one combiner-friendly conditional aggregate over the
    // scan with the 1-row centroid frame BROADCAST — no shuffle ever
    // carries data, and iterations are a fixed constant (3).
    Q("stats_kmeans_1d", kmeans1dOracle) { (s, d) =>
      val x = Tables.orders(s, d).select(
        col("o_totalprice").cast("double").as("xd"),
        col("o_totalprice").cast("decimal(12,2)").as("xc"))
      val init = x.agg(min(col("xd")).as("mn"), max(col("xd")).as("mx"))
        .select(
          (col("mn") + (col("mx") - col("mn")) * 0.125).as("c0"),
          (col("mn") + (col("mx") - col("mn")) * 0.375).as("c1"),
          (col("mn") + (col("mx") - col("mn")) * 0.625).as("c2"),
          (col("mn") + (col("mx") - col("mn")) * 0.875).as("c3"))
      def assignCl(df: org.apache.spark.sql.DataFrame) = df.withColumn("cl",
        when(abs(col("xd") - col("c0")) <= abs(col("xd") - col("c1")) &&
             abs(col("xd") - col("c0")) <= abs(col("xd") - col("c2")) &&
             abs(col("xd") - col("c0")) <= abs(col("xd") - col("c3")), 0)
        .when(abs(col("xd") - col("c1")) <= abs(col("xd") - col("c2")) &&
              abs(col("xd") - col("c1")) <= abs(col("xd") - col("c3")), 1)
        .when(abs(col("xd") - col("c2")) <= abs(col("xd") - col("c3")), 2)
        .otherwise(3))
      def centOf(j: Int) = coalesce(
        sum(when(col("cl") === j, col("xc"))).cast("double")
          / count(when(col("cl") === j, col("xc"))),
        max(col(s"c$j"))).as(s"c$j")
      var cent = init
      for (_ <- 1 to 3) {
        val a = assignCl(x.crossJoin(broadcast(cent)))
        cent = a.agg(centOf(0), centOf(1), centOf(2), centOf(3))
      }
      val fin = assignCl(x.crossJoin(broadcast(cent)))
        .withColumn("c",
          when(col("cl") === 0, col("c0")).when(col("cl") === 1, col("c1"))
            .when(col("cl") === 2, col("c2")).otherwise(col("c3")))
      fin.groupBy("cl")
        .agg(count(lit(1)).as("n"), max(col("c")).as("centroid"),
          sum(floor(lit(100) * (col("xd") - col("c"))
            * (col("xd") - col("c"))).cast("decimal(38,0)"))
            .cast("double").as("inertia_scaled"))
        .select(col("cl").as("cluster"), col("n"), col("centroid"),
          col("inertia_scaled"))
        .orderBy("cluster")
    },

    // Kendall's tau-b of quantity × discount — the PAIR-CONCORDANCE
    // rank correlation next to stats_spearman_rho (Spearman correlates
    // ranks; Kendall counts inversions, so it is the one robust to the
    // heavy joint-tie structure of two bounded domains). Same cell
    // trick as Spearman: both columns have bounded domains (50 × 11 →
    // ≤550 joint cells), so the fact table collapses to the cell frame
    // in ONE combiner shuffle and the O(cells²) concordance join runs
    // over ≤550 rows — never over row pairs (an all-pairs tau on 100 TB
    // is impossible; the cell form is exact and corpus-size-free).
    // Every count is an exact BIGINT (concordant/discordant sums of
    // c_a·c_b products; tie terms Σt(t−1) avoid the /2 by carrying the
    // doubled form); tau-b is ONE identically-associated double
    // expression. All five cell-frame consumers sit on the same
    // canonical aggregate exchange, so Spark's exchange reuse scans
    // the fact table once (plan-asserted in StatsSpec).
    Q("stats_kendall_tau",
      """WITH cells AS (
        |  SELECT l_quantity AS x, l_discount AS y,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |pp AS (
        |  SELECT
        |    CAST(coalesce(sum(CASE WHEN a.y < b.y THEN a.c * b.c END), 0)
        |      AS BIGINT) AS conc,
        |    CAST(coalesce(sum(CASE WHEN a.y > b.y THEN a.c * b.c END), 0)
        |      AS BIGINT) AS disc
        |  FROM cells a JOIN cells b ON a.x < b.x),
        |nt AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
        |tx AS (SELECT CAST(sum(t * (t - 1)) AS BIGINT) AS tx2
        |       FROM (SELECT x, sum(c) AS t FROM cells GROUP BY 1)),
        |ty AS (SELECT CAST(sum(t * (t - 1)) AS BIGINT) AS ty2
        |       FROM (SELECT y, sum(c) AS t FROM cells GROUP BY 1))
        |SELECT n AS n_rows, conc AS concordant, disc AS discordant,
        |  CAST((conc - disc) * 2 AS DOUBLE)
        |    / sqrt(CAST(n * (n - 1) - tx2 AS DOUBLE)
        |           * CAST(n * (n - 1) - ty2 AS DOUBLE)) AS kendall_tau_b
        |FROM pp, nt, tx, ty""".stripMargin) { (s, d) =>
      kendallTau(Tables.lineitem(s, d)
        .select(col("l_quantity"), col("l_discount")),
        "l_quantity", "l_discount")
    },

    // Kruskal–Wallis H across all five order priorities — the k-group
    // generalization of stats_mann_whitney (same rank-sum machinery,
    // same tie correction) answering "did quantity's DISTRIBUTION shift
    // anywhere among the groups" without normality or equal-variance
    // assumptions (the rank-based sibling of stats_brown_forsythe's F).
    // The priority domain is FIXED (5 known values), so the per-group
    // rank sums pivot into one row and H is ONE identically-associated
    // double expression over exact BIGINTs — a raw double Σ over groups
    // would be accumulation-order nondeterministic cross-engine. Rank
    // frame: quantity's 50-value domain (≤250 group cells); doubled
    // ranks (2·cb + t + 1) keep midranks integer. Plan: the fact join
    // collapses to the cell frame in one combiner shuffle; everything
    // after runs on ≤250 rows.
    Q("stats_kruskal_wallis",
      """WITH j AS (
        |  SELECT o_orderpriority AS g, l_quantity AS x
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |cells AS (SELECT g, x, CAST(count(*) AS BIGINT) AS c
        |          FROM j GROUP BY 1, 2),
        |m AS (SELECT x, sum(c) AS t FROM cells GROUP BY 1),
        |r AS (SELECT x,
        |        2 * coalesce(sum(t) OVER (ORDER BY x
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |        + t + 1 AS r2
        |      FROM m),
        |tie AS (SELECT CAST(sum(t * t * t - t) AS BIGINT) AS ties FROM m),
        |st AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN g = '1-URGENT' THEN c * r2 END) AS BIGINT)
        |      AS r21,
        |    CAST(sum(CASE WHEN g = '2-HIGH' THEN c * r2 END) AS BIGINT)
        |      AS r22,
        |    CAST(sum(CASE WHEN g = '3-MEDIUM' THEN c * r2 END) AS BIGINT)
        |      AS r23,
        |    CAST(sum(CASE WHEN g = '4-NOT SPECIFIED' THEN c * r2 END)
        |      AS BIGINT) AS r24,
        |    CAST(sum(CASE WHEN g = '5-LOW' THEN c * r2 END) AS BIGINT)
        |      AS r25,
        |    CAST(sum(CASE WHEN g = '1-URGENT' THEN c END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN g = '2-HIGH' THEN c END) AS BIGINT) AS n2,
        |    CAST(sum(CASE WHEN g = '3-MEDIUM' THEN c END) AS BIGINT) AS n3,
        |    CAST(sum(CASE WHEN g = '4-NOT SPECIFIED' THEN c END)
        |      AS BIGINT) AS n4,
        |    CAST(sum(CASE WHEN g = '5-LOW' THEN c END) AS BIGINT) AS n5
        |  FROM cells JOIN r USING (x)),
        |hs AS (
        |  SELECT n,
        |    3.0 / CAST(n * (n + 1) AS DOUBLE)
        |      * (CAST(r21 AS DOUBLE) * CAST(r21 AS DOUBLE)
        |           / CAST(n1 AS DOUBLE)
        |         + CAST(r22 AS DOUBLE) * CAST(r22 AS DOUBLE)
        |           / CAST(n2 AS DOUBLE)
        |         + CAST(r23 AS DOUBLE) * CAST(r23 AS DOUBLE)
        |           / CAST(n3 AS DOUBLE)
        |         + CAST(r24 AS DOUBLE) * CAST(r24 AS DOUBLE)
        |           / CAST(n4 AS DOUBLE)
        |         + CAST(r25 AS DOUBLE) * CAST(r25 AS DOUBLE)
        |           / CAST(n5 AS DOUBLE))
        |    - 3.0 * CAST(n + 1 AS DOUBLE) AS h
        |  FROM st)
        |SELECT n AS n_total, h AS h_stat,
        |  h / (1.0 - CAST(ties AS DOUBLE)
        |             / CAST(n * n * n - n AS DOUBLE)) AS h_tie_corrected
        |FROM hs, tie""".stripMargin) { (s, d) =>
      kruskalWallis(
        Tables.lineitem(s, d)
          .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .select(col("o_orderpriority").as("g"), col("l_quantity").as("x")),
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
    },

    // Two-factor OLS per brand: extendedprice ~ quantity + discount via
    // the closed-form 2×2 normal equations — MULTIPLE regression next
    // to the single-regressor trend/elasticity kernels (the partial
    // effect of discount holding quantity fixed is exactly what the
    // one-factor elasticity slope confounds). Nine exact accumulators
    // per brand in INTEGER CENT UNITS (×100 kills the fractional scale,
    // so every accumulator is a pure integer and its one cast to DOUBLE
    // is a SINGLE correctly-rounded int→double conversion on both
    // engines — a DECIMAL(·,4) sum whose raw value tops 2⁵³ is NOT
    // enough: DuckDB's decimal→double is (double)raw·10⁻ᵏ, two
    // roundings, while Spark's BigDecimal cast rounds once, and the y²
    // moment crosses 2⁵³ raw already at sf0.01). Then centered moments,
    // determinant, betas, intercept and R² as a fixed cascade of double
    // expressions written identically on both engines (betas and R² are
    // invariant under the common ×100; the intercept converts back with
    // one exact /100 at the end) — no matrix library, no iteration,
    // bit-exact. Plan: ONE brand-keyed combiner aggregate over the
    // lineitem⋈broadcast(part) join collapses the fact table to
    // |brands| = 25 rows; the algebra runs on the tiny frame. At 100 TB
    // nothing but the scan grows (DECIMAL(38,0) keeps the big moments
    // exact to ~sf10⁶).
    Q("stats_ols_two_factor",
      """WITH b AS (
        |  SELECT p_brand,
        |    CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS x1,
        |    CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT) AS x2,
        |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      AS y
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |s AS (
        |  SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x1) AS DOUBLE) AS s1,
        |    CAST(sum(x2) AS DOUBLE) AS s2,
        |    CAST(sum(y) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(x1 * x1 AS HUGEINT)) AS DOUBLE) AS s11,
        |    CAST(sum(CAST(x1 * x2 AS HUGEINT)) AS DOUBLE) AS s12,
        |    CAST(sum(CAST(x2 * x2 AS HUGEINT)) AS DOUBLE) AS s22,
        |    CAST(sum(CAST(x1 * y AS HUGEINT)) AS DOUBLE) AS s1y,
        |    CAST(sum(CAST(x2 * y AS HUGEINT)) AS DOUBLE) AS s2y,
        |    CAST(sum(CAST(y * y AS HUGEINT)) AS DOUBLE) AS syy
        |  FROM b GROUP BY 1),
        |c AS (
        |  SELECT p_brand, n, s1, s2, sy,
        |    s11 - s1 * s1 / n AS v11,
        |    s12 - s1 * s2 / n AS v12,
        |    s22 - s2 * s2 / n AS v22,
        |    s1y - s1 * sy / n AS v1y,
        |    s2y - s2 * sy / n AS v2y,
        |    syy - sy * sy / n AS vyy
        |  FROM s),
        |dt AS (SELECT p_brand, n, s1, s2, sy, v1y, v2y, vyy,
        |         v11 * v22 - v12 * v12 AS det, v11, v12, v22
        |       FROM c),
        |e AS (
        |  SELECT p_brand, n, s1, s2, sy, v1y, v2y, vyy,
        |    (v22 * v1y - v12 * v2y) / det AS beta_qty,
        |    (v11 * v2y - v12 * v1y) / det AS beta_disc
        |  FROM dt)
        |SELECT p_brand, n, beta_qty, beta_disc,
        |  (sy - beta_qty * s1 - beta_disc * s2) / n / 100.0 AS intercept,
        |  (beta_qty * v1y + beta_disc * v2y) / vyy AS r_squared
        |FROM e ORDER BY p_brand""".stripMargin) { (s, d) =>
      def cents(c: Column) =
        (c.cast("decimal(12,2)") * 100).cast("long")
      olsTwoFactor(
        Tables.lineitem(s, d)
          .join(broadcast(Tables.part(s, d)),
            col("l_partkey") === col("p_partkey"))
          .select(col("p_brand"),
            cents(col("l_quantity")).as("x1"),
            cents(col("l_discount")).as("x2"),
            cents(col("l_extendedprice")).as("y")),
        "p_brand")
    },

    // Randomization (approximate permutation) test for the R-vs-A mean
    // quantity gap — the nonparametric p-value machine completing the
    // resampling pair with stats_bootstrap_ci (bootstrap answers "how
    // wide", permutation answers "is it real"): 50 pseudo-relabelings,
    // each row reassigned to R with the EMPIRICAL rate via the same
    // deterministic md5-h32 + odd-multiplier remix as the bootstrap
    // (cutoff = (65536·n_R) div n, an exact integer), so the whole
    // null distribution is reproducible and cross-engine bit-exact.
    // Replica statistics are DECIMAL-exact conditional sums with one
    // double division per side; p = (1 + #{|T_b| ≥ |T_obs|})/(B+1),
    // the add-one permutation p-value. Plan: one hash per row, the
    // replica explode happens IN-TASK before a 100-group combiner
    // aggregate — scan cost, not B× cost, the only shape a 100 TB
    // pass tolerates.
    Q("stats_permutation_test",
      """WITH r AS (
        |  SELECT l_returnflag AS g, CAST(l_quantity AS DECIMAL(12,2)) AS q,
        |    md5(CAST(l_orderkey AS VARCHAR) || ':'
        |        || CAST(l_linenumber AS VARCHAR)) AS hx
        |  FROM lineitem WHERE l_returnflag IN ('A', 'R')),
        |h AS (SELECT g, q,
        |    (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 268435456
        |  + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) * 16777216
        |  + (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1) * 1048576
        |  + (strpos('0123456789abcdef', substr(hx, 4, 1)) - 1) * 65536
        |  + (strpos('0123456789abcdef', substr(hx, 5, 1)) - 1) * 4096
        |  + (strpos('0123456789abcdef', substr(hx, 6, 1)) - 1) * 256
        |  + (strpos('0123456789abcdef', substr(hx, 7, 1)) - 1) * 16
        |  + (strpos('0123456789abcdef', substr(hx, 8, 1)) - 1) AS h32
        |  FROM r),
        |base AS (
        |  SELECT
        |    CAST(sum(CASE WHEN g = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS nr,
        |    CAST(sum(CASE WHEN g = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN g = 'R' THEN q END) AS DOUBLE)
        |      / CAST(sum(CASE WHEN g = 'R' THEN 1 ELSE 0 END) AS DOUBLE)
        |    - CAST(sum(CASE WHEN g = 'A' THEN q END) AS DOUBLE)
        |      / CAST(sum(CASE WHEN g = 'A' THEN 1 ELSE 0 END) AS DOUBLE)
        |      AS t_obs
        |  FROM h),
        |cut AS (SELECT (65536 * nr) // n AS c FROM base),
        |lab AS (
        |  SELECT b, q,
        |    CASE WHEN (h32 * (2 * b + 1) + 131071 * b) % 65536 < c
        |         THEN 1 ELSE 0 END AS isr
        |  FROM h, (SELECT unnest(range(0, 50)) AS b), cut),
        |reps AS (
        |  SELECT b,
        |    CAST(sum(CASE WHEN isr = 1 THEN q END) AS DOUBLE)
        |      / CAST(sum(CASE WHEN isr = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    - CAST(sum(CASE WHEN isr = 0 THEN q END) AS DOUBLE)
        |      / CAST(sum(CASE WHEN isr = 0 THEN 1 ELSE 0 END) AS DOUBLE)
        |      AS t
        |  FROM lab GROUP BY b),
        |ex AS (
        |  SELECT CAST(sum(CASE WHEN abs(t) >= abs(t_obs) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS ne
        |  FROM reps, base)
        |SELECT na AS n_a, nr AS n_r, t_obs,
        |  CAST(50 AS BIGINT) AS b_replicas, ne AS n_extreme,
        |  CAST(1 + ne AS DOUBLE) / 51.0 AS p_value
        |FROM base, ex""".stripMargin) { (s, d) =>
      val r = Tables.lineitem(s, d)
        .where(col("l_returnflag").isin("A", "R"))
        .select(col("l_returnflag").as("g"),
          col("l_quantity").cast("decimal(12,2)").as("q"),
          conv(substring(md5(concat_ws(":",
            col("l_orderkey").cast("string"),
            col("l_linenumber").cast("string"))), 1, 8), 16, 10)
            .cast("long").as("h32"))
      val base = r.agg(
        sum(when(col("g") === "R", 1L).otherwise(0L)).as("nr"),
        sum(when(col("g") === "A", 1L).otherwise(0L)).as("na"),
        count(lit(1)).as("n"),
        (sum(when(col("g") === "R", col("q"))).cast("double")
          / sum(when(col("g") === "R", 1L).otherwise(0L)).cast("double")
          - sum(when(col("g") === "A", col("q"))).cast("double")
          / sum(when(col("g") === "A", 1L).otherwise(0L)).cast("double"))
          .as("t_obs"))
      val cut = base.select(expr("(65536 * nr) div n").as("c"))
      val lab = r
        .select(col("q"), col("h32"),
          explode(expr("sequence(0, 49)")).as("b"))
        .crossJoin(broadcast(cut))
        .select(col("b"), col("q"),
          when((col("h32") * (lit(2) * col("b") + 1)
            + lit(131071L) * col("b")) % 65536L < col("c"), 1L)
            .otherwise(0L).as("isr"))
      val reps = lab.groupBy("b")
        .agg((sum(when(col("isr") === 1, col("q"))).cast("double")
          / sum(when(col("isr") === 1, 1L).otherwise(0L)).cast("double")
          - sum(when(col("isr") === 0, col("q"))).cast("double")
          / sum(when(col("isr") === 0, 1L).otherwise(0L)).cast("double"))
          .as("t"))
      val ex = reps.crossJoin(broadcast(base))
        .agg(sum(when(abs(col("t")) >= abs(col("t_obs")), 1L)
          .otherwise(0L)).as("ne"))
      base.crossJoin(broadcast(ex))
        .select(col("na").as("n_a"), col("nr").as("n_r"), col("t_obs"),
          lit(50L).as("b_replicas"), col("ne").as("n_extreme"),
          ((lit(1) + col("ne")).cast("double") / 51.0).as("p_value"))
    },

    // Exact DECISION STUMP on the bounded quantity domain — the 1-node
    // CART split search ("which single quantity threshold best
    // separates returned lines?"), the ML-primitive counterpart of the
    // chi-square association test: weighted Gini impurity of every
    // x ≤ t / x > t split from the CUMULATIVE class counts over the
    // ≤50-value cell frame. Every count is an exact BIGINT (squared
    // class masses stay under 2⁶³ at any per-threshold row count that
    // fits one engine anyway — DECIMAL swap documented past that); each
    // split's impurity is ONE identically-associated double expression,
    // and the argmin is an exact double-equality flag against the
    // window min (identical doubles both engines, threshold ties both
    // flagged). Plan: the fact collapses to the cell frame in one
    // combiner shuffle; the split search is two windows over ≤50 rows.
    Q("stats_decision_stump",
      """WITH cells AS (
        |  SELECT l_quantity AS x,
        |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS pos,
        |    CAST(count(*) AS BIGINT) AS tot
        |  FROM lineitem GROUP BY 1),
        |cum AS (
        |  SELECT x,
        |    CAST(sum(pos) OVER (ORDER BY x) AS BIGINT) AS pl,
        |    CAST(sum(tot) OVER (ORDER BY x) AS BIGINT) AS nl,
        |    CAST(sum(pos) OVER () AS BIGINT) AS p,
        |    CAST(sum(tot) OVER () AS BIGINT) AS n
        |  FROM cells),
        |spl AS (
        |  SELECT x AS threshold, nl AS n_left, pl AS pos_left,
        |    (CAST(nl AS DOUBLE)
        |       - CAST(pl * pl + (nl - pl) * (nl - pl) AS DOUBLE)
        |         / CAST(nl AS DOUBLE)
        |     + CAST(n - nl AS DOUBLE)
        |       - CAST((p - pl) * (p - pl)
        |              + (n - nl - p + pl) * (n - nl - p + pl) AS DOUBLE)
        |         / CAST(n - nl AS DOUBLE))
        |    / CAST(n AS DOUBLE) AS gini
        |  FROM cum WHERE nl < n),
        |best AS (SELECT min(gini) AS g FROM spl)
        |SELECT threshold, n_left, pos_left, gini, gini = g AS is_best
        |FROM spl, best ORDER BY threshold""".stripMargin) { (s, d) =>
      val cells = Tables.lineitem(s, d)
        .groupBy(col("l_quantity").as("x"))
        .agg(sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
          .as("pos"), count(lit(1)).as("tot"))
      val wc = Window.orderBy("x")
      val wg = Window.partitionBy()
      val cum = cells.select(col("x"),
        sum(col("pos")).over(wc).as("pl"),
        sum(col("tot")).over(wc).as("nl"),
        sum(col("pos")).over(wg).as("p"),
        sum(col("tot")).over(wg).as("n"))
      val spl = cum.where(col("nl") < col("n"))
        .select(col("x").as("threshold"), col("nl").as("n_left"),
          col("pl").as("pos_left"),
          ((col("nl").cast("double")
            - (col("pl") * col("pl")
              + (col("nl") - col("pl")) * (col("nl") - col("pl")))
              .cast("double") / col("nl").cast("double")
            + (col("n") - col("nl")).cast("double")
            - ((col("p") - col("pl")) * (col("p") - col("pl"))
              + (col("n") - col("nl") - col("p") + col("pl"))
                * (col("n") - col("nl") - col("p") + col("pl")))
              .cast("double") / (col("n") - col("nl")).cast("double"))
            / col("n").cast("double")).as("gini"))
      val best = spl.agg(min(col("gini")).as("g"))
      spl.crossJoin(broadcast(best))
        .select(col("threshold"), col("n_left"), col("pos_left"),
          col("gini"), (col("gini") === col("g")).as("is_best"))
        .orderBy("threshold")
    },

    // Experiment-design SAMPLE SIZE — the question asked BEFORE the
    // Welch/permutation tests run: how many lines per arm would an A/B
    // test need to detect the observed R-vs-A quantity gap at α = 0.05
    // (two-sided) with 80% power? n = ceil(2·σ²_pooled·(z_α+z_β)²/δ²)
    // with the z quantiles as 16-digit LITERALS (the Benford rule —
    // both engines parse the same decimal to the same double, where a
    // cross-engine erf⁻¹ would drift), σ² from exact BIGINT/DECIMAL
    // accumulators, δ the observed mean gap; everything after the one
    // aggregate is a fixed double cascade + one ceil→BIGINT. Plan: ONE
    // conditional combiner aggregate over the scan — the power analysis
    // itself is frame-free.
    Q("stats_sample_size",
      """WITH st AS (
        |  SELECT
        |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nr,
        |    CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS na,
        |    CAST(sum(CASE WHEN l_returnflag = 'R'
        |      THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE)
        |      AS sr,
        |    CAST(sum(CASE WHEN l_returnflag = 'A'
        |      THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE)
        |      AS sa,
        |    CAST(sum(CASE WHEN l_returnflag = 'R'
        |      THEN CAST(CAST(l_quantity AS DECIMAL(12,2))
        |        * CAST(l_quantity AS DECIMAL(12,2)) AS DECIMAL(28,4))
        |      END) AS DOUBLE) AS qr,
        |    CAST(sum(CASE WHEN l_returnflag = 'A'
        |      THEN CAST(CAST(l_quantity AS DECIMAL(12,2))
        |        * CAST(l_quantity AS DECIMAL(12,2)) AS DECIMAL(28,4))
        |      END) AS DOUBLE) AS qa
        |  FROM lineitem WHERE l_returnflag IN ('A', 'R')),
        |d AS (
        |  SELECT nr, na, sr / nr - sa / na AS delta,
        |    ((qr - sr * sr / nr) + (qa - sa * sa / na))
        |      / CAST(nr + na - 2 AS DOUBLE) AS var_pooled
        |  FROM st)
        |SELECT nr AS n_r, na AS n_a, delta, var_pooled,
        |  CAST(ceil(2.0 * var_pooled
        |    * (1.9599639845400545 + 0.8416212335729143)
        |    * (1.9599639845400545 + 0.8416212335729143)
        |    / (delta * delta)) AS BIGINT) AS n_per_arm
        |FROM d""".stripMargin) { (s, d) =>
      val q = col("l_quantity").cast("decimal(12,2)")
      val st = Tables.lineitem(s, d)
        .where(col("l_returnflag").isin("A", "R"))
        .agg(
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
            .as("nr"),
          sum(when(col("l_returnflag") === "A", 1L).otherwise(0L))
            .as("na"),
          sum(when(col("l_returnflag") === "R", q)).cast("double")
            .as("sr"),
          sum(when(col("l_returnflag") === "A", q)).cast("double")
            .as("sa"),
          sum(when(col("l_returnflag") === "R",
            (q * q).cast("decimal(28,4)"))).cast("double").as("qr"),
          sum(when(col("l_returnflag") === "A",
            (q * q).cast("decimal(28,4)"))).cast("double").as("qa"))
      val dd = st.select(col("nr"), col("na"),
        (col("sr") / col("nr") - col("sa") / col("na")).as("delta"),
        (((col("qr") - col("sr") * col("sr") / col("nr"))
          + (col("qa") - col("sa") * col("sa") / col("na")))
          / (col("nr") + col("na") - 2).cast("double")).as("var_pooled"))
      val zsum = lit(1.9599639845400545) + lit(0.8416212335729143)
      dd.select(col("nr").as("n_r"), col("na").as("n_a"), col("delta"),
        col("var_pooled"),
        ceil(lit(2.0) * col("var_pooled") * zsum * zsum
          / (col("delta") * col("delta"))).cast("long").as("n_per_arm"))
    },

    // TOST EQUIVALENCE test — the inverse question of every test above:
    // not "is there a difference" but "can we certify the R-vs-A mean
    // quantity gap is WITHIN ±1.0 units" (the two-one-sided-tests
    // procedure: reject difference ≤ −δ AND difference ≥ +δ; failing to
    // reject a plain t-test is NOT evidence of equivalence). Welch SE
    // from exact accumulators; the one-sided p surrogate is the same
    // algebraic tail as stats_benjamini_hochberg halved
    // (0.5·(1 − t/√(t²+π/2)), monotone, no erf/exp libm hazard);
    // p_tost = max of the two one-sided p's, equivalent ⇔ p ≤ 0.05.
    // Plan: ONE conditional combiner aggregate, then a 1-row cascade.
    Q("stats_tost_equivalence",
      """WITH st AS (
        |  SELECT
        |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nr,
        |    CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS na,
        |    CAST(sum(CASE WHEN l_returnflag = 'R'
        |      THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE)
        |      AS sr,
        |    CAST(sum(CASE WHEN l_returnflag = 'A'
        |      THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE)
        |      AS sa,
        |    CAST(sum(CASE WHEN l_returnflag = 'R'
        |      THEN CAST(CAST(l_quantity AS DECIMAL(12,2))
        |        * CAST(l_quantity AS DECIMAL(12,2)) AS DECIMAL(28,4))
        |      END) AS DOUBLE) AS qr,
        |    CAST(sum(CASE WHEN l_returnflag = 'A'
        |      THEN CAST(CAST(l_quantity AS DECIMAL(12,2))
        |        * CAST(l_quantity AS DECIMAL(12,2)) AS DECIMAL(28,4))
        |      END) AS DOUBLE) AS qa
        |  FROM lineitem WHERE l_returnflag IN ('A', 'R')),
        |d AS (
        |  SELECT nr, na, sr / nr - sa / na AS diff,
        |    sqrt((qr - sr * sr / nr) / (nr - 1) / nr
        |         + (qa - sa * sa / na) / (na - 1) / na) AS se
        |  FROM st),
        |t AS (
        |  SELECT nr, na, diff, se,
        |    (diff + 1.0) / se AS t_lower,
        |    (1.0 - diff) / se AS t_upper
        |  FROM d),
        |p AS (
        |  SELECT nr, na, diff, se, t_lower, t_upper,
        |    greatest(
        |      0.5 * (1 - t_lower / sqrt(t_lower * t_lower
        |        + 1.5707963267948966)),
        |      0.5 * (1 - t_upper / sqrt(t_upper * t_upper
        |        + 1.5707963267948966))) AS p_tost
        |  FROM t)
        |SELECT nr AS n_r, na AS n_a, diff, se, t_lower, t_upper,
        |  p_tost, p_tost <= 0.05 AS equivalent
        |FROM p""".stripMargin) { (s, d) =>
      val q = col("l_quantity").cast("decimal(12,2)")
      val st = Tables.lineitem(s, d)
        .where(col("l_returnflag").isin("A", "R"))
        .agg(
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
            .as("nr"),
          sum(when(col("l_returnflag") === "A", 1L).otherwise(0L))
            .as("na"),
          sum(when(col("l_returnflag") === "R", q)).cast("double")
            .as("sr"),
          sum(when(col("l_returnflag") === "A", q)).cast("double")
            .as("sa"),
          sum(when(col("l_returnflag") === "R",
            (q * q).cast("decimal(28,4)"))).cast("double").as("qr"),
          sum(when(col("l_returnflag") === "A",
            (q * q).cast("decimal(28,4)"))).cast("double").as("qa"))
      val dd = st.select(col("nr"), col("na"),
        (col("sr") / col("nr") - col("sa") / col("na")).as("diff"),
        sqrt((col("qr") - col("sr") * col("sr") / col("nr"))
          / (col("nr") - 1) / col("nr")
          + (col("qa") - col("sa") * col("sa") / col("na"))
            / (col("na") - 1) / col("na")).as("se"))
      val t = dd.select(col("nr"), col("na"), col("diff"), col("se"),
        ((col("diff") + 1.0) / col("se")).as("t_lower"),
        ((lit(1.0) - col("diff")) / col("se")).as("t_upper"))
      def pOne(tc: Column) =
        lit(0.5) * (lit(1) - tc / sqrt(tc * tc + 1.5707963267948966))
      t.select(col("nr").as("n_r"), col("na").as("n_a"), col("diff"),
          col("se"), col("t_lower"), col("t_upper"),
          greatest(pOne(col("t_lower")), pOne(col("t_upper")))
            .as("p_tost"))
        .withColumn("equivalent", col("p_tost") <= 0.05)
    },

    // Wald–Wolfowitz RUNS test — is the weekly order-count series
    // RANDOM around its median, or does it trend/oscillate (too few
    // runs = momentum/regime, too many = alternation)? The randomness
    // screen run before any i.i.d.-assuming test upstream. Weekly
    // granularity keeps both sides of the median populated at every
    // fixture sf (daily counts at sf0.001 are almost all 1, and the
    // classical drop-ties rule would empty the below side). Median =
    // the lower-middle order statistic (a stored BIGINT, the
    // Brown–Forsythe center discipline); weeks AT the median are
    // dropped; the run count is one lag comparison; z uses the exact
    // integer mean/variance formulas as ONE identically-associated
    // double cascade, NULL when either side is empty (σ = 0 — an
    // unguarded /0 trips ANSI). Plan: the fact collapses to the
    // |weeks| frame in one combiner shuffle; rank/lag windows run on
    // the calendar-bounded frame.
    Q("stats_runs_test",
      """WITH wkc AS (
        |  SELECT date_trunc('week', o_orderdate) AS w,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM orders GROUP BY 1),
        |rkm AS (SELECT c, row_number() OVER (ORDER BY c, w) AS i,
        |          count(*) OVER () AS n
        |        FROM wkc),
        |med AS (SELECT c AS m FROM rkm WHERE i = (n + 1) // 2),
        |sgn AS (SELECT w, c > m AS up FROM wkc, med WHERE c <> m),
        |r AS (SELECT up, lag(up) OVER (ORDER BY w) AS pu FROM sgn),
        |st AS (
        |  SELECT
        |    CAST(sum(CASE WHEN up THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN up THEN 0 ELSE 1 END) AS BIGINT) AS n2,
        |    CAST(1 + sum(CASE WHEN pu IS NOT NULL AND up <> pu
        |      THEN 1 ELSE 0 END) AS BIGINT) AS runs
        |  FROM r),
        |z AS (SELECT n1, n2, runs, n1 + n2 AS n,
        |        1.0 + CAST(2 * n1 * n2 AS DOUBLE)
        |          / CAST(n1 + n2 AS DOUBLE) AS mu
        |      FROM st)
        |SELECT n1 AS n_above, n2 AS n_below, runs AS n_runs,
        |  mu AS mu_runs,
        |  CASE WHEN n1 > 0 AND n2 > 0 THEN
        |    (CAST(runs AS DOUBLE) - mu)
        |      / sqrt(CAST(2 * n1 * n2 AS DOUBLE)
        |             * CAST(2 * n1 * n2 - n AS DOUBLE)
        |             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |                * CAST(n - 1 AS DOUBLE))) END AS z_stat
        |FROM z""".stripMargin) { (s, d) =>
      val wkc = Tables.orders(s, d)
        .groupBy(date_trunc("week", col("o_orderdate")).as("w"))
        .agg(count(lit(1)).as("c"))
      val rkm = wkc
        .withColumn("i", row_number().over(
          Window.orderBy(col("c"), col("w"))))
        .withColumn("n", count(lit(1)).over(Window.partitionBy()))
      val med = rkm.where(col("i") === expr("(n + 1) div 2"))
        .select(col("c").as("m"))
      val sgn = wkc.crossJoin(broadcast(med))
        .where(col("c") =!= col("m"))
        .select(col("w"), (col("c") > col("m")).as("up"))
      val r = sgn.select(col("up"),
        lag(col("up"), 1).over(Window.orderBy("w")).as("pu"))
      val st = r.agg(
        sum(when(col("up"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("up"), 0L).otherwise(1L)).as("n2"),
        (lit(1L) + sum(when(col("pu").isNotNull
          && col("up") =!= col("pu"), 1L).otherwise(0L))).as("runs"))
      val z = st.select(col("n1"), col("n2"), col("runs"),
        (col("n1") + col("n2")).as("n"),
        (lit(1.0) + (lit(2) * col("n1") * col("n2")).cast("double")
          / (col("n1") + col("n2")).cast("double")).as("mu"))
      z.select(col("n1").as("n_above"), col("n2").as("n_below"),
        col("runs").as("n_runs"), col("mu").as("mu_runs"),
        when(col("n1") > 0 && col("n2") > 0,
          (col("runs").cast("double") - col("mu"))
            / sqrt((lit(2) * col("n1") * col("n2")).cast("double")
              * (lit(2) * col("n1") * col("n2") - col("n")).cast("double")
              / (col("n").cast("double") * col("n").cast("double")
                * (col("n") - 1).cast("double")))).as("z_stat"))
    },

    // One-way ANOVA F across the five order priorities on order value —
    // "does priority class shift mean spend at all", the k-group
    // generalization of the Welch pair test upstream. Per-group n/Σx/Σx²
    // accumulate DECIMAL-exact; the five per-group SSB/SSW contributions
    // are integer-FLOORED before the cross-group sum (double addition is
    // order-dependent, floored BIGINTs are not — the chi-square scaled-
    // contrib discipline; the ≤1-unit floor error is noise at SS ~1e14).
    // Plan: one combiner shuffle collapses the fact scan to 5 rows; the
    // grand totals re-aggregate the 5-row frame, never the fact table.
    Q("stats_anova_f",
      """WITH g AS (
        |  SELECT o_orderpriority AS grp,
        |    CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(o_totalprice AS DECIMAL(12,2))) AS s,
        |    sum(CAST(o_totalprice AS DECIMAL(12,2))
        |        * CAST(o_totalprice AS DECIMAL(12,2))) AS ss
        |  FROM orders GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS nt, sum(s) AS st,
        |        CAST(count(*) AS BIGINT) AS k FROM g),
        |c AS (
        |  SELECT g.n, g.s, g.ss, t.nt, t.k,
        |    CAST(g.s AS DOUBLE) / g.n AS m,
        |    CAST(t.st AS DOUBLE) / t.nt AS gm
        |  FROM g CROSS JOIN t),
        |sc AS (
        |  SELECT nt, k,
        |    CAST(floor(CAST(ss AS DOUBLE)
        |      - CAST(s AS DOUBLE) * m) AS BIGINT) AS ssw_s,
        |    CAST(floor(n * (m - gm) * (m - gm)) AS BIGINT) AS ssb_s
        |  FROM c),
        |f AS (
        |  SELECT max(nt) AS n_total, max(k) AS k_groups,
        |    CAST(sum(ssb_s) AS DOUBLE) AS ss_between,
        |    CAST(sum(ssw_s) AS DOUBLE) AS ss_within
        |  FROM sc)
        |SELECT n_total, k_groups, ss_between, ss_within,
        |  (ss_between / (k_groups - 1))
        |    / (ss_within / (n_total - k_groups)) AS f_stat,
        |  ss_between / (ss_between + ss_within) AS eta_sq
        |FROM f""".stripMargin) { (s, d) =>
      anovaFOf(Tables.orders(s, d), "o_orderpriority",
        col("o_totalprice").cast("decimal(12,2)"))
    },

    // Jarque–Bera normality screen on line quantity — skewness and
    // excess kurtosis from the first four RAW moments, all BIGINT-exact
    // (quantity is integral ≤50, so Σx⁴ ≤ 6.25e6·n stays in BIGINT up to
    // ~1e12 rows), converted to central moments in one double cascade.
    // The "is this column even test-able with moment methods" gate run
    // before any z-based screen. Plan: a single map-side combine to ONE
    // row; no shuffle wider than the 5 partial sums.
    Q("stats_jarque_bera",
      """WITH x AS (SELECT CAST(l_quantity AS BIGINT) AS v FROM lineitem),
        |s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(v) AS BIGINT) AS s1,
        |    CAST(sum(v * v) AS BIGINT) AS s2,
        |    CAST(sum(v * v * v) AS BIGINT) AS s3,
        |    CAST(sum(v * v * v * v) AS BIGINT) AS s4
        |  FROM x),
        |m AS (
        |  SELECT n, CAST(s1 AS DOUBLE) / n AS mu,
        |    CAST(s2 AS DOUBLE) / n AS r2,
        |    CAST(s3 AS DOUBLE) / n AS r3,
        |    CAST(s4 AS DOUBLE) / n AS r4
        |  FROM s),
        |c AS (
        |  SELECT n, mu, r2 - mu * mu AS m2,
        |    r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3,
        |    r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2
        |      - 3.0 * mu * mu * mu * mu AS m4
        |  FROM m),
        |k AS (
        |  SELECT n, mu, m2,
        |    m3 / sqrt(m2 * m2 * m2) AS skewness,
        |    m4 / (m2 * m2) - 3.0 AS kurtosis_excess
        |  FROM c)
        |SELECT n, mu AS mean_qty, skewness, kurtosis_excess,
        |  CAST(n AS DOUBLE) / 6.0 * (skewness * skewness
        |    + kurtosis_excess * kurtosis_excess / 4.0) AS jb_stat
        |FROM k""".stripMargin) { (s, d) =>
      val st = Tables.lineitem(s, d)
        .select(col("l_quantity").cast("long").as("v")).agg(
          count(lit(1)).as("n"), sum(col("v")).as("s1"),
          sum(col("v") * col("v")).as("s2"),
          sum(col("v") * col("v") * col("v")).as("s3"),
          sum(col("v") * col("v") * col("v") * col("v")).as("s4"))
      val m = st.select(col("n"),
        (col("s1").cast("double") / col("n")).as("mu"),
        (col("s2").cast("double") / col("n")).as("r2"),
        (col("s3").cast("double") / col("n")).as("r3"),
        (col("s4").cast("double") / col("n")).as("r4"))
      val c = m.select(col("n"), col("mu"),
        (col("r2") - col("mu") * col("mu")).as("m2"),
        (col("r3") - lit(3.0) * col("mu") * col("r2")
          + lit(2.0) * col("mu") * col("mu") * col("mu")).as("m3"),
        (col("r4") - lit(4.0) * col("mu") * col("r3")
          + lit(6.0) * col("mu") * col("mu") * col("r2")
          - lit(3.0) * col("mu") * col("mu") * col("mu") * col("mu"))
          .as("m4"))
      val k = c.select(col("n"), col("mu"), col("m2"),
        (col("m3") / sqrt(col("m2") * col("m2") * col("m2")))
          .as("skewness"),
        (col("m4") / (col("m2") * col("m2")) - lit(3.0))
          .as("kurtosis_excess"))
      k.select(col("n"), col("mu").as("mean_qty"), col("skewness"),
        col("kurtosis_excess"),
        (col("n").cast("double") / lit(6.0)
          * (col("skewness") * col("skewness")
            + col("kurtosis_excess") * col("kurtosis_excess") / lit(4.0)))
          .as("jb_stat"))
    },

    // Cohen's d (+ the small-sample Hedges g correction) between
    // returned (R) and accepted (A) line quantities — the EFFECT-SIZE
    // companion to the Welch/Mann–Whitney significance tests: a 0.02-σ
    // difference can be "significant" at 6e8 rows and still not matter.
    // Pooled variance from BIGINT-exact n/Σx/Σx² per group (quantity is
    // integral), one double cascade. Plan: single combine to one row.
    Q("stats_cohens_d",
      """WITH g AS (
        |  SELECT l_returnflag AS grp, CAST(l_quantity AS BIGINT) AS v
        |  FROM lineitem WHERE l_returnflag IN ('A', 'R')),
        |s AS (
        |  SELECT
        |    CAST(sum(CASE WHEN grp = 'A' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n1,
        |    CAST(sum(CASE WHEN grp = 'R' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n2,
        |    CAST(sum(CASE WHEN grp = 'A' THEN v ELSE 0 END) AS BIGINT)
        |      AS s1,
        |    CAST(sum(CASE WHEN grp = 'R' THEN v ELSE 0 END) AS BIGINT)
        |      AS s2,
        |    CAST(sum(CASE WHEN grp = 'A' THEN v * v ELSE 0 END) AS BIGINT)
        |      AS q1,
        |    CAST(sum(CASE WHEN grp = 'R' THEN v * v ELSE 0 END) AS BIGINT)
        |      AS q2
        |  FROM g),
        |m AS (
        |  SELECT n1, n2,
        |    CAST(s1 AS DOUBLE) / n1 AS m1, CAST(s2 AS DOUBLE) / n2 AS m2,
        |    (CAST(q1 AS DOUBLE)
        |       - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) / n1)
        |     + CAST(q2 AS DOUBLE)
        |       - CAST(s2 AS DOUBLE) * (CAST(s2 AS DOUBLE) / n2))
        |      / (n1 + n2 - 2) AS varp
        |  FROM s)
        |SELECT n1 AS n_a, n2 AS n_r, m1 AS mean_a, m2 AS mean_r,
        |  (m1 - m2) / sqrt(varp) AS cohens_d,
        |  (m1 - m2) / sqrt(varp)
        |    * (1.0 - 3.0 / (4.0 * (n1 + n2) - 9.0)) AS hedges_g
        |FROM m""".stripMargin) { (s, d) =>
      val base = Tables.lineitem(s, d)
        .where(col("l_returnflag").isin("A", "R"))
        .select(col("l_returnflag").as("grp"),
          col("l_quantity").cast("long").as("v"))
      val st = base.agg(
        sum(when(col("grp") === "A", 1L).otherwise(0L)).as("n1"),
        sum(when(col("grp") === "R", 1L).otherwise(0L)).as("n2"),
        sum(when(col("grp") === "A", col("v")).otherwise(0L)).as("s1"),
        sum(when(col("grp") === "R", col("v")).otherwise(0L)).as("s2"),
        sum(when(col("grp") === "A", col("v") * col("v")).otherwise(0L))
          .as("q1"),
        sum(when(col("grp") === "R", col("v") * col("v")).otherwise(0L))
          .as("q2"))
      val m = st.select(col("n1"), col("n2"),
        (col("s1").cast("double") / col("n1")).as("m1"),
        (col("s2").cast("double") / col("n2")).as("m2"),
        ((col("q1").cast("double")
          - col("s1").cast("double")
            * (col("s1").cast("double") / col("n1"))
          + col("q2").cast("double")
          - col("s2").cast("double")
            * (col("s2").cast("double") / col("n2")))
          / (col("n1") + col("n2") - 2)).as("varp"))
      m.select(col("n1").as("n_a"), col("n2").as("n_r"),
        col("m1").as("mean_a"), col("m2").as("mean_r"),
        ((col("m1") - col("m2")) / sqrt(col("varp"))).as("cohens_d"),
        ((col("m1") - col("m2")) / sqrt(col("varp"))
          * (lit(1.0) - lit(3.0)
            / (lit(4.0) * (col("n1") + col("n2")) - lit(9.0))))
          .as("hedges_g"))
    },

    // Point-biserial correlation between the "returned" indicator and
    // line quantity — the Pearson r specialization for one binary
    // variable: how much of quantity's variance does return status
    // actually explain (the screening form of "is returns-vs-size a
    // real axis"). All five accumulators BIGINT-exact; population σ.
    // Plan: single map-side combine to one row, zero wide shuffles.
    Q("stats_point_biserial",
      """WITH x AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS v,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS b
        |  FROM lineitem),
        |s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(b) AS BIGINT) AS n1,
        |    CAST(sum(v) AS BIGINT) AS sv,
        |    CAST(sum(v * v) AS BIGINT) AS qv,
        |    CAST(sum(b * v) AS BIGINT) AS s1
        |  FROM x),
        |m AS (
        |  SELECT n, n1, n - n1 AS n0,
        |    CAST(s1 AS DOUBLE) / n1 AS m1,
        |    CAST(sv - s1 AS DOUBLE) / (n - n1) AS m0,
        |    sqrt(CAST(qv AS DOUBLE) / n
        |      - (CAST(sv AS DOUBLE) / n) * (CAST(sv AS DOUBLE) / n)) AS sn
        |  FROM s)
        |SELECT n, n1 AS n_returned, n0 AS n_kept,
        |  m1 AS mean_returned, m0 AS mean_kept,
        |  (m1 - m0) / sn
        |    * sqrt(CAST(n1 AS DOUBLE) * n0
        |           / (CAST(n AS DOUBLE) * n)) AS r_pb
        |FROM m""".stripMargin) { (s, d) =>
      val base = Tables.lineitem(s, d).select(
        col("l_quantity").cast("long").as("v"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("b"))
      val st = base.agg(count(lit(1)).as("n"), sum(col("b")).as("n1"),
        sum(col("v")).as("sv"), sum(col("v") * col("v")).as("qv"),
        sum(col("b") * col("v")).as("s1"))
      val m = st.select(col("n"), col("n1"),
        (col("n") - col("n1")).as("n0"),
        (col("s1").cast("double") / col("n1")).as("m1"),
        ((col("sv") - col("s1")).cast("double")
          / (col("n") - col("n1"))).as("m0"),
        sqrt(col("qv").cast("double") / col("n")
          - (col("sv").cast("double") / col("n"))
            * (col("sv").cast("double") / col("n"))).as("sn"))
      m.select(col("n"), col("n1").as("n_returned"),
        col("n0").as("n_kept"), col("m1").as("mean_returned"),
        col("m0").as("mean_kept"),
        ((col("m1") - col("m0")) / col("sn")
          * sqrt(col("n1").cast("double") * col("n0")
            / (col("n").cast("double") * col("n")))).as("r_pb"))
    },

    // McNemar's paired test (Edwards continuity correction) on customer
    // activity across the catalog's two eras (pre/post 1998-01-01): did
    // significantly more customers TURN active than went quiet? The
    // paired analogue of the chi-square independence test — the
    // statistic only sees the discordant cells of the per-customer 2×2.
    // Plan: orders collapse to |customers| flags in one combiner
    // shuffle; the customer left join keeps never-ordered customers in
    // the n_neither cell; the 2×2 reduce is map-side.
    Q("stats_mcnemar_halves",
      """WITH act AS (
        |  SELECT o_custkey,
        |    max(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
        |        THEN 1 ELSE 0 END) AS h1,
        |    max(CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01'
        |        THEN 1 ELSE 0 END) AS h2
        |  FROM orders GROUP BY 1),
        |j AS (
        |  SELECT coalesce(a.h1, 0) AS h1, coalesce(a.h2, 0) AS h2
        |  FROM customer c LEFT JOIN act a ON c.c_custkey = a.o_custkey),
        |ct AS (
        |  SELECT
        |    CAST(sum(CASE WHEN h1 = 1 AND h2 = 1 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_both,
        |    CAST(sum(CASE WHEN h1 = 1 AND h2 = 0 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_h1_only,
        |    CAST(sum(CASE WHEN h1 = 0 AND h2 = 1 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_h2_only,
        |    CAST(sum(CASE WHEN h1 = 0 AND h2 = 0 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_neither
        |  FROM j)
        |SELECT n_both, n_h1_only, n_h2_only, n_neither,
        |  CASE WHEN n_h1_only + n_h2_only > 0 THEN
        |    CAST((abs(n_h1_only - n_h2_only) - 1)
        |         * (abs(n_h1_only - n_h2_only) - 1) AS DOUBLE)
        |      / (n_h1_only + n_h2_only) END AS chi2_cc
        |FROM ct""".stripMargin) { (s, d) =>
      val cut = lit("1998-01-01").cast("timestamp")
      val act = Tables.orders(s, d).groupBy(col("o_custkey")).agg(
        max(when(col("o_orderdate") < cut, 1).otherwise(0)).as("h1"),
        max(when(col("o_orderdate") >= cut, 1).otherwise(0)).as("h2"))
      val j = Tables.customer(s, d)
        .join(act, col("c_custkey") === col("o_custkey"), "left")
        .select(coalesce(col("h1"), lit(0)).as("h1"),
          coalesce(col("h2"), lit(0)).as("h2"))
      val ct = j.agg(
        sum(when(col("h1") === 1 && col("h2") === 1, 1L).otherwise(0L))
          .as("n_both"),
        sum(when(col("h1") === 1 && col("h2") === 0, 1L).otherwise(0L))
          .as("n_h1_only"),
        sum(when(col("h1") === 0 && col("h2") === 1, 1L).otherwise(0L))
          .as("n_h2_only"),
        sum(when(col("h1") === 0 && col("h2") === 0, 1L).otherwise(0L))
          .as("n_neither"))
      ct.select(col("n_both"), col("n_h1_only"), col("n_h2_only"),
        col("n_neither"),
        when(col("n_h1_only") + col("n_h2_only") > 0,
          ((abs(col("n_h1_only") - col("n_h2_only")) - 1)
            * (abs(col("n_h1_only") - col("n_h2_only")) - 1))
            .cast("double")
            / (col("n_h1_only") + col("n_h2_only"))).as("chi2_cc"))
    },

    // Mood's MEDIAN test of line quantity across the three return
    // flags — the coarsest (and most outlier-proof) k-group location
    // test: only above/below the grand median counts enter, so a
    // single corrupt extreme value cannot move it (Kruskal–Wallis
    // ranks everything; Mood just dichotomizes). Grand median = the
    // lower-middle order statistic off the ≤50-cell quantity marginal
    // (the Brown–Forsythe center discipline); ties AT the median drop
    // per the classical rule; each group's two (O−E)²/E terms are one
    // double expression quantized to nano-units so the cross-group
    // chi-square total is an exact BIGINT sum. Plan: the fact
    // collapses to ≤150 (group, value) cells in one combiner shuffle;
    // the median scan, cells, and chi-square all run on that frame.
    Q("stats_mood_median",
      """WITH c AS (
        |  SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS v,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM lineitem GROUP BY 1, 2),
        |marg AS (SELECT v, CAST(sum(cnt) AS BIGINT) AS t
        |         FROM c GROUP BY 1),
        |cum AS (SELECT v, t,
        |          coalesce(CAST(sum(t) OVER (ORDER BY v
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |            AS BIGINT), 0) AS cb,
        |          CAST(sum(t) OVER () AS BIGINT) AS n
        |        FROM marg),
        |med AS (SELECT min(v) AS m FROM cum
        |        WHERE cb + t >= (n + 1) // 2),
        |cells AS (
        |  SELECT g,
        |    CAST(sum(CASE WHEN v > m THEN cnt ELSE 0 END) AS BIGINT)
        |      AS na,
        |    CAST(sum(CASE WHEN v < m THEN cnt ELSE 0 END) AS BIGINT)
        |      AS nb
        |  FROM c CROSS JOIN med GROUP BY 1),
        |tots AS (SELECT CAST(sum(na) AS BIGINT) AS ta,
        |           CAST(sum(nb) AS BIGINT) AS tb,
        |           CAST(sum(na + nb) AS BIGINT) AS n FROM cells),
        |sc AS (
        |  SELECT g, na, nb,
        |    CAST(ta * (na + nb) AS DOUBLE) / n AS ea,
        |    CAST(tb * (na + nb) AS DOUBLE) / n AS eb
        |  FROM cells CROSS JOIN tots),
        |sc2 AS (
        |  SELECT g, na, nb, ea, eb,
        |    CAST(floor(((CAST(na AS DOUBLE) - ea)
        |        * (CAST(na AS DOUBLE) - ea) / ea
        |      + (CAST(nb AS DOUBLE) - eb)
        |        * (CAST(nb AS DOUBLE) - eb) / eb)
        |      * 1000000000) AS BIGINT) AS cs
        |  FROM sc),
        |t2 AS (SELECT CAST(sum(cs) AS DOUBLE) / 1000000000.0 AS chi2
        |       FROM sc2)
        |SELECT g AS grp, na AS n_above, nb AS n_below,
        |  ea AS e_above, eb AS e_below, chi2 AS chi2_stat
        |FROM sc2 CROSS JOIN t2 ORDER BY g""".stripMargin) { (s, d) =>
      // the ≤150-cell frame feeds the median scan AND the split cells;
      // localCheckpoint pins it to one fact scan (see anovaFOf)
      val c = Pin.now(Tables.lineitem(s, d)
        .groupBy(col("l_returnflag").as("g"),
          col("l_quantity").cast("long").as("v"))
        .agg(count(lit(1)).as("cnt")))
      val marg = c.groupBy("v").agg(sum(col("cnt")).as("t"))
      val cum = marg.select(col("v"), col("t"),
        coalesce(sum(col("t")).over(Window.orderBy("v")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
          .as("cb"),
        sum(col("t")).over(Window.partitionBy()).as("n"))
      val med = cum.where(col("cb") + col("t")
          >= expr("(n + 1) div 2"))
        .agg(min(col("v")).as("m"))
      val cells = c.crossJoin(broadcast(med)).groupBy("g").agg(
        sum(when(col("v") > col("m"), col("cnt")).otherwise(0L))
          .as("na"),
        sum(when(col("v") < col("m"), col("cnt")).otherwise(0L))
          .as("nb"))
      val tots = cells.agg(sum(col("na")).as("ta"),
        sum(col("nb")).as("tb"), sum(col("na") + col("nb")).as("n"))
      val sc = cells.crossJoin(broadcast(tots))
        .select(col("g"), col("na"), col("nb"),
          ((col("ta") * (col("na") + col("nb"))).cast("double")
            / col("n")).as("ea"),
          ((col("tb") * (col("na") + col("nb"))).cast("double")
            / col("n")).as("eb"))
      val sc2 = sc.select(col("g"), col("na"), col("nb"), col("ea"),
        col("eb"),
        floor(((col("na").cast("double") - col("ea"))
          * (col("na").cast("double") - col("ea")) / col("ea")
          + (col("nb").cast("double") - col("eb"))
            * (col("nb").cast("double") - col("eb")) / col("eb"))
          * lit(1000000000)).cast("long").as("cs"))
      val t2 = sc2.agg(
        (sum(col("cs")).cast("double") / lit(1000000000.0)).as("chi2"))
      sc2.crossJoin(broadcast(t2))
        .select(col("g").as("grp"), col("na").as("n_above"),
          col("nb").as("n_below"), col("ea").as("e_above"),
          col("eb").as("e_below"), col("chi2").as("chi2_stat"))
        .orderBy("grp")
    },

    // Cochran's Q across THREE catalog eras (1995–96 / 97–98 / 99–01)
    // on per-customer activity — the k-treatment generalization of
    // McNemar: did the share of active customers CHANGE across eras,
    // accounting for it being the same customers each time (a plain
    // chi-square would treat the eras as independent samples and
    // overstate n)? Q = (k−1)/k · Σ(k·C_j − S)² / (k·S − ΣR²) with
    // every accumulator an exact BIGINT (column totals C_j, grand
    // total S, per-customer row-sum squares ΣR²) and ONE double
    // division; the degenerate all-rows-identical pole NULL-guards.
    // Plan: orders collapse to per-customer era flags in one combiner
    // shuffle; Q is a map-side reduce of the flag frame to one row.
    Q("stats_cochran_q",
      """WITH f AS (
        |  SELECT o_custkey,
        |    max(CASE WHEN o_orderdate < TIMESTAMP '1997-01-01'
        |        THEN 1 ELSE 0 END) AS e1,
        |    max(CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01'
        |          AND o_orderdate < TIMESTAMP '1999-01-01'
        |        THEN 1 ELSE 0 END) AS e2,
        |    max(CASE WHEN o_orderdate >= TIMESTAMP '1999-01-01'
        |        THEN 1 ELSE 0 END) AS e3
        |  FROM orders GROUP BY 1),
        |s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(e1) AS BIGINT) AS c1, CAST(sum(e2) AS BIGINT) AS c2,
        |    CAST(sum(e3) AS BIGINT) AS c3,
        |    CAST(sum((e1 + e2 + e3) * (e1 + e2 + e3)) AS BIGINT) AS r2
        |  FROM f),
        |q AS (SELECT n, c1, c2, c3, c1 + c2 + c3 AS s, r2 FROM s)
        |SELECT n AS n_customers, c1 AS n_era1, c2 AS n_era2,
        |  c3 AS n_era3,
        |  CASE WHEN 3 * s - r2 > 0 THEN
        |    2.0 * CAST((3 * c1 - s) * (3 * c1 - s)
        |         + (3 * c2 - s) * (3 * c2 - s)
        |         + (3 * c3 - s) * (3 * c3 - s) AS DOUBLE)
        |      / 3.0 / CAST(3 * s - r2 AS DOUBLE) END AS q_stat
        |FROM q""".stripMargin) { (s, d) =>
      val t1 = lit("1997-01-01").cast("timestamp")
      val t2 = lit("1999-01-01").cast("timestamp")
      val f = Tables.orders(s, d).groupBy(col("o_custkey")).agg(
        max(when(col("o_orderdate") < t1, 1L).otherwise(0L)).as("e1"),
        max(when(col("o_orderdate") >= t1
          && col("o_orderdate") < t2, 1L).otherwise(0L)).as("e2"),
        max(when(col("o_orderdate") >= t2, 1L).otherwise(0L)).as("e3"))
      val st = f.agg(count(lit(1)).as("n"), sum(col("e1")).as("c1"),
        sum(col("e2")).as("c2"), sum(col("e3")).as("c3"),
        sum((col("e1") + col("e2") + col("e3"))
          * (col("e1") + col("e2") + col("e3"))).as("r2"))
      val q = st.select(col("n"), col("c1"), col("c2"), col("c3"),
        (col("c1") + col("c2") + col("c3")).as("s"), col("r2"))
      q.select(col("n").as("n_customers"), col("c1").as("n_era1"),
        col("c2").as("n_era2"), col("c3").as("n_era3"),
        when(lit(3) * col("s") - col("r2") > 0,
          lit(2.0) * ((lit(3) * col("c1") - col("s"))
              * (lit(3) * col("c1") - col("s"))
            + (lit(3) * col("c2") - col("s"))
              * (lit(3) * col("c2") - col("s"))
            + (lit(3) * col("c3") - col("s"))
              * (lit(3) * col("c3") - col("s"))).cast("double")
            / lit(3.0) / (lit(3) * col("s") - col("r2")).cast("double"))
          .as("q_stat"))
    },

    // Cohen's kappa between two deterministic document-quality raters —
    // the agreement statistic every labeling/filtering pipeline needs
    // before trusting a cheap rater as a proxy for an expensive one
    // (raw percent agreement rewards agreeing on the majority class;
    // kappa subtracts the agreement two INDEPENDENT raters with these
    // marginals would reach by chance). Rater A passes docs of ≥ 300
    // chars, rater B docs of ≥ 55 whitespace tokens — correlated but
    // not identical signals, so the fixture exercises all four
    // confusion cells. Exactness: kappa = (po−pe)/(1−pe) clears its
    // denominators into pure BIGINT arithmetic —
    // (n·(n11+n00) − pe_num) / (n² − pe_num) with
    // pe_num = a1·b1 + a0·b0 — so the only double op is ONE final
    // division of identical integers on both engines. Plan: one
    // map-side combine collapses the corpus to a single confusion row.
    Q("stats_cohen_kappa",
      """WITH r AS (
        |  SELECT CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS ra,
        |    CASE WHEN len(string_split(text, ' ')) >= 55
        |         THEN 1 ELSE 0 END AS rb
        |  FROM documents),
        |ct AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN ra = 1 AND rb = 1 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n11,
        |    CAST(sum(CASE WHEN ra = 1 AND rb = 0 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n10,
        |    CAST(sum(CASE WHEN ra = 0 AND rb = 1 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n01,
        |    CAST(sum(CASE WHEN ra = 0 AND rb = 0 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n00
        |  FROM r),
        |k AS (
        |  SELECT n, n11, n10, n01, n00,
        |    (n11 + n10) * (n11 + n01)
        |      + (n01 + n00) * (n10 + n00) AS pe_num
        |  FROM ct)
        |SELECT n AS n_docs, n11, n10, n01, n00,
        |  CASE WHEN n * n - pe_num > 0 THEN
        |    CAST(n * (n11 + n00) - pe_num AS DOUBLE)
        |      / CAST(n * n - pe_num AS DOUBLE) END AS kappa
        |FROM k""".stripMargin) { (s, d) =>
      val r = Tables.documents(s, d).select(
        when(col("n_chars") >= 300, 1L).otherwise(0L).as("ra"),
        when(size(split(col("text"), " ")) >= 55, 1L).otherwise(0L)
          .as("rb"))
      val ct = r.agg(count(lit(1)).as("n"),
        sum(when(col("ra") === 1 && col("rb") === 1, 1L).otherwise(0L))
          .as("n11"),
        sum(when(col("ra") === 1 && col("rb") === 0, 1L).otherwise(0L))
          .as("n10"),
        sum(when(col("ra") === 0 && col("rb") === 1, 1L).otherwise(0L))
          .as("n01"),
        sum(when(col("ra") === 0 && col("rb") === 0, 1L).otherwise(0L))
          .as("n00"))
      val k = ct.select(col("n"), col("n11"), col("n10"), col("n01"),
        col("n00"),
        ((col("n11") + col("n10")) * (col("n11") + col("n01"))
          + (col("n01") + col("n00")) * (col("n10") + col("n00")))
          .as("pe_num"))
      k.select(col("n").as("n_docs"), col("n11"), col("n10"),
        col("n01"), col("n00"),
        when(col("n") * col("n") - col("pe_num") > 0,
          (col("n") * (col("n11") + col("n00")) - col("pe_num"))
            .cast("double")
            / (col("n") * col("n") - col("pe_num")).cast("double"))
          .as("kappa"))
    },

    // Population stability index of the event-value distribution
    // between the corpus's early and late halves — THE production
    // drift monitor (PSI < 0.1 stable, 0.1–0.25 moderate, > 0.25 act):
    // a pipeline retraining on "the same" stream needs to know when
    // the feature distribution quietly moved. Fixed-width bins
    // (value/50, clamped to 10) so binning is a single identical FP op
    // on both engines — never engine-computed quantiles; bins empty in
    // either half are excluded (the standard finite-PSI convention,
    // declared in n_bins). Exactness: each bin's ln(p_ref/p_cur)
    // enters as a BIGINT micro-log difference (the text_zipf/NPMI
    // discipline), the ratio difference is one double expression over
    // exact BIGINTs, and the per-bin product is floored to nano units
    // so the cross-bin total is an exact BIGINT sum — shuffle-order-
    // free. Plan: ONE combiner aggregate collapses the fact to ≤10
    // (bin, half) cells; the localCheckpoint pins the two consumers
    // (totals + terms) to that single scan.
    Q("stats_psi_drift",
      """WITH b AS (
        |  SELECT least(CAST(floor(value / 50.0) AS BIGINT), 9) AS bin,
        |    CASE WHEN ts < TIMESTAMP '2024-01-16'
        |         THEN 1 ELSE 0 END AS isr
        |  FROM events),
        |c AS (
        |  SELECT bin, CAST(sum(isr) AS BIGINT) AS n_ref,
        |    CAST(sum(1 - isr) AS BIGINT) AS n_cur
        |  FROM b GROUP BY 1),
        |t AS (
        |  SELECT CAST(sum(n_ref) AS BIGINT) AS tr,
        |    CAST(sum(n_cur) AS BIGINT) AS tc FROM c),
        |m AS (
        |  SELECT tr, tc,
        |    CAST(floor(
        |      (CAST(n_ref AS DOUBLE) / tr - CAST(n_cur AS DOUBLE) / tc)
        |      * CAST(
        |          CAST(floor(ln(CAST(n_ref AS DOUBLE)) * 1000000)
        |               AS BIGINT)
        |        - CAST(floor(ln(CAST(tr AS DOUBLE)) * 1000000)
        |               AS BIGINT)
        |        - CAST(floor(ln(CAST(n_cur AS DOUBLE)) * 1000000)
        |               AS BIGINT)
        |        + CAST(floor(ln(CAST(tc AS DOUBLE)) * 1000000)
        |               AS BIGINT) AS DOUBLE)
        |      * 1000.0) AS BIGINT) AS t9
        |  FROM c CROSS JOIN t
        |  WHERE n_ref > 0 AND n_cur > 0)
        |SELECT max(tr) AS n_ref, max(tc) AS n_cur,
        |  CAST(count(*) AS BIGINT) AS n_bins,
        |  CAST(sum(t9) AS DOUBLE) / 1000000000.0 AS psi
        |FROM m""".stripMargin) { (s, d) =>
      def mlog(c: Column) =
        floor(log(c.cast("double")) * lit(1000000)).cast("long")
      val cut = lit("2024-01-16").cast("timestamp")
      val cells = Pin.now(Tables.events(s, d)
        .select(least(floor(col("value") / 50.0), lit(9L)).as("bin"),
          when(col("ts") < cut, 1L).otherwise(0L).as("isr"))
        .groupBy("bin")
        .agg(sum(col("isr")).as("n_ref"),
          sum(lit(1L) - col("isr")).as("n_cur")))
      val tot = cells.agg(sum(col("n_ref")).as("tr"),
        sum(col("n_cur")).as("tc"))
      val m = cells.where(col("n_ref") > 0 && col("n_cur") > 0)
        .crossJoin(broadcast(tot))
        .select(col("tr"), col("tc"),
          floor((col("n_ref").cast("double") / col("tr")
            - col("n_cur").cast("double") / col("tc"))
            * (mlog(col("n_ref")) - mlog(col("tr"))
              - mlog(col("n_cur")) + mlog(col("tc"))).cast("double")
            * lit(1000.0)).cast("long").as("t9"))
      m.agg(max(col("tr")).as("n_ref"), max(col("tc")).as("n_cur"),
        count(lit(1)).as("n_bins"),
        (sum(col("t9")).cast("double") / lit(1000000000.0)).as("psi"))
    },
  )

  /** One-way ANOVA F of `value` (an EXACT decimal/integer column
    * expression over `df`) across the groups of `groupCol` →
    * (n_total, k_groups, ss_between, ss_within, f_stat, eta_sq).
    * Per-group contributions are integer-floored before the
    * cross-group sum so the result is accumulation-order-free; see
    * the `stats_anova_f` query scaladoc.
    */
  private[graft] def anovaFOf(df: DataFrame, groupCol: String,
      value: Column): DataFrame = {
    // the k-row group frame feeds both the grand totals and the SS
    // cells; localCheckpoint pins it so neither consumer replays the
    // fact scan (exchange reuse is not guaranteed across an aggregate
    // boundary — measured: without this the plan scans the fact twice)
    val g = Pin.now(df.groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).as("n"), sum(value).as("s"),
        sum(value * value).as("ss")))
    val t = g.agg(sum(col("n")).cast("long").as("nt"),
      sum(col("s")).as("st"), count(lit(1)).as("k"))
    val c = g.crossJoin(broadcast(t))
      .select(col("n"), col("s"), col("ss"), col("nt"), col("k"),
        (col("s").cast("double") / col("n")).as("m"),
        (col("st").cast("double") / col("nt")).as("gm"))
    val sc = c.select(col("nt"), col("k"),
      floor(col("ss").cast("double")
        - col("s").cast("double") * col("m")).cast("long").as("ssw_s"),
      floor(col("n") * (col("m") - col("gm"))
        * (col("m") - col("gm"))).cast("long").as("ssb_s"))
    val f = sc.agg(max(col("nt")).as("n_total"),
      max(col("k")).as("k_groups"),
      sum(col("ssb_s")).cast("double").as("ss_between"),
      sum(col("ssw_s")).cast("double").as("ss_within"))
    f.select(col("n_total"), col("k_groups"), col("ss_between"),
      col("ss_within"),
      ((col("ss_between") / (col("k_groups") - 1))
        / (col("ss_within") / (col("n_total") - col("k_groups"))))
        .as("f_stat"),
      (col("ss_between") / (col("ss_between") + col("ss_within")))
        .as("eta_sq"))
  }

  /** Generated oracle for `stats_kmeans_1d`: the three Lloyd iterations
    * unrolled as assignment/update CTE pairs — the exact mirror of the
    * Spark side's loop (same CASE chain, same coalesce-on-empty, same
    * decimal-exact means), so all doubles are bit-identical.
    */
  private def kmeans1dOracle: String = {
    def caseCl(src: String) =
      s"""CASE WHEN abs(xd - $src.c0) <= abs(xd - $src.c1)
         |       AND abs(xd - $src.c0) <= abs(xd - $src.c2)
         |       AND abs(xd - $src.c0) <= abs(xd - $src.c3) THEN 0
         |     WHEN abs(xd - $src.c1) <= abs(xd - $src.c2)
         |       AND abs(xd - $src.c1) <= abs(xd - $src.c3) THEN 1
         |     WHEN abs(xd - $src.c2) <= abs(xd - $src.c3) THEN 2
         |     ELSE 3 END""".stripMargin
    def cent(j: Int) =
      s"""coalesce(CAST(sum(CASE WHEN cl = $j THEN xc END) AS DOUBLE)
         |      / count(CASE WHEN cl = $j THEN xc END), max(c$j)) AS c$j"""
        .stripMargin
    def step(k: Int): String = {
      val prev = if (k == 1) "c0i" else s"u${k - 1}"
      s"""a$k AS (
         |  SELECT x.xd, x.xc, $prev.c0, $prev.c1, $prev.c2, $prev.c3,
         |    ${caseCl(prev)} AS cl
         |  FROM x, $prev),
         |u$k AS (
         |  SELECT ${cent(0)}, ${cent(1)}, ${cent(2)}, ${cent(3)}
         |  FROM a$k)"""
        .stripMargin
    }
    s"""WITH x AS (
       |  SELECT CAST(o_totalprice AS DOUBLE) AS xd,
       |         CAST(o_totalprice AS DECIMAL(12,2)) AS xc FROM orders),
       |mm AS (SELECT min(xd) AS mn, max(xd) AS mx FROM x),
       |c0i AS (SELECT mn + (mx - mn) * 0.125 AS c0,
       |               mn + (mx - mn) * 0.375 AS c1,
       |               mn + (mx - mn) * 0.625 AS c2,
       |               mn + (mx - mn) * 0.875 AS c3 FROM mm),
       |${(1 to 3).map(step).mkString(",\n")},
       |fin AS (
       |  SELECT x.xd, x.xc,
       |    ${caseCl("u3")} AS cl,
       |    u3.c0, u3.c1, u3.c2, u3.c3
       |  FROM x, u3),
       |fc AS (
       |  SELECT xd, cl,
       |    CASE WHEN cl = 0 THEN c0 WHEN cl = 1 THEN c1
       |         WHEN cl = 2 THEN c2 ELSE c3 END AS c
       |  FROM fin)
       |SELECT cl AS cluster, CAST(count(*) AS BIGINT) AS n,
       |  max(c) AS centroid,
       |  CAST(sum(CAST(floor(100 * (xd - c) * (xd - c)) AS BIGINT))
       |    AS DOUBLE) AS inertia_scaled
       |FROM fc GROUP BY cl ORDER BY cl""".stripMargin
  }
}
