package graft

import org.scalatest.funsuite.AnyFunSuite

/** Unit tests for the bench regression adjudicator (Bench.guardFlags) —
  * the r8 verdict's acceptance criterion verbatim: a replayed CONTENDED
  * run must produce zero false flags on untouched queries, while a
  * deliberate 2× code slowdown in one query must still flag.
  */
class BenchGuardSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.1"

  /** Committed-baseline artifact with three queries (wall 1.0/2.0/0.5 s,
    * cpu 2.0/4.0/1.0 s), idle calib 0.45, loaded calib 0.50.
    */
  private val prior =
    """{"metric":"total","value":3.5,"unit":"sec","cpu":7.0,"gc":0.1,""" +
      """"calib":0.45,"calib_loaded":0.50,"iowait":0.1,"steal":0.2,""" +
      """"queries":{"qa":1.000,"qb":2.000,"qc":0.500},""" +
      """"queries_cpu":{"qa":2.000,"qb":4.000,"qc":1.000},""" +
      """"errors":{},"failed":0,"sf":"/root/testdata/sf0.1"}"""

  private def flagsOf(results: Seq[(String, Double, Double)],
      calib: Double, loaded: Double,
      artifact: String = prior): Seq[String] =
    Bench.guardFlags(artifact, results, calib, loaded, sf)._1

  test("contended replay of untouched code: zero false flags") {
    // the r8 pathology: idle calib barely moves (0.45 -> 0.62, ratio
    // 1.38) while the loaded probe and every query's wall+cpu inflate
    // 3x under SMT/steal pressure — placement, not code
    val now = Seq(("qa", 3.0, 6.0), ("qb", 6.0, 12.0), ("qc", 1.5, 3.0))
    assert(flagsOf(now, calib = 0.62, loaded = 1.50).isEmpty)
  }

  test("contention beyond what the loaded probe sees: fleet median covers") {
    // r8's bimodal case: the probes under-correct (loaded ratio only
    // 2.0) but the fleet-wide cpu inflation is 3.2x on every query —
    // the median cpu ratio identifies it as placement, zero flags
    val now =
      Seq(("qa", 3.2, 6.4), ("qb", 6.4, 12.8), ("qc", 1.6, 3.2))
    assert(flagsOf(now, calib = 0.62, loaded = 1.00).isEmpty)
  }

  test("BIMODAL load-triggered steal: inflated minority under the fleet " +
      "p90 envelope, zero false flags") {
    // the r9 replay pathology: steal appears only under load and hits a
    // MINORITY of queries 3x while the rest run flat — the median can't
    // see it (1.0) and the probes barely move (1.4), but the fleet p90
    // widens the cpu gate past the inflated tail
    val prior6 =
      """{"metric":"total","value":6.0,"unit":"sec","cpu":12.0,"gc":0.1,""" +
        """"calib":0.45,"calib_loaded":0.50,""" +
        """"queries":{"qa":1.000,"qb":1.000,"qc":1.000,"qd":1.000,""" +
        """"qe":1.000,"qf":1.000},""" +
        """"queries_cpu":{"qa":2.000,"qb":2.000,"qc":2.000,"qd":2.000,""" +
        """"qe":2.000,"qf":2.000},""" +
        """"errors":{},"failed":0,"sf":"/root/testdata/sf0.1"}"""
    val now = Seq(("qa", 1.0, 2.0), ("qb", 1.0, 2.0), ("qc", 1.0, 2.0),
      ("qd", 1.0, 2.0), ("qe", 3.0, 6.0), ("qf", 3.0, 6.0))
    assert(flagsOf(now, calib = 0.63, loaded = 0.70,
      artifact = prior6).isEmpty)
  }

  test("deliberate 2.2x slowdown in one query on a clean host: flags it") {
    val now = Seq(("qa", 1.0, 2.0), ("qb", 4.4, 8.8), ("qc", 0.5, 1.0))
    val flags = flagsOf(now, calib = 0.45, loaded = 0.50)
    assert(flags.size == 1 && flags.head.contains("qb"), flags.toString)
  }

  test("deliberate slowdown still flags UNDER 3x contention") {
    // every query 3x from placement, qb an ADDITIONAL 2.2x from code
    val now = Seq(("qa", 3.0, 6.0), ("qb", 13.2, 26.4), ("qc", 1.5, 3.0))
    val flags = flagsOf(now, calib = 0.62, loaded = 1.50)
    assert(flags.size == 1 && flags.head.contains("qb"), flags.toString)
  }

  test("fast host vs slow-placement baseline: no >=1.0 clamp, regression " +
      "within the placement factor still flags") {
    // ADVICE r8 (medium): baseline committed from a 1.65x-slow placement.
    // Current host is ~1.67x FASTER (ratios 0.6); a query whose
    // normalized cost doubled reads 1.32x the inflated baseline — under
    // the old max(1.0, ratio) clamp that sat below the 1.5x threshold
    // and was silently masked; unclamped, the 0.9x-tightened threshold
    // catches it
    val now = Seq(("qa", 0.6, 1.2), ("qb", 2.64, 5.28), ("qc", 0.3, 0.6))
    val flags = flagsOf(now, calib = 0.27, loaded = 0.30)
    assert(flags.size == 1 && flags.head.contains("qb"), flags.toString)
  }

  test("no calib_loaded in the committed artifact: falls back to idle " +
      "calib without error") {
    val legacy = prior.replace(""""calib_loaded":0.50,""", "")
    val now = Seq(("qa", 1.0, 2.0), ("qb", 4.4, 8.8), ("qc", 0.5, 1.0))
    val flags = flagsOf(now, calib = 0.45, loaded = 0.50, artifact = legacy)
    assert(flags.size == 1 && flags.head.contains("qb"), flags.toString)
  }

  test("different sf or missing queries block: guard stays silent") {
    val now = Seq(("qa", 9.0, 18.0))
    assert(Bench.guardFlags(prior, now, 0.45, 0.50,
      "/root/testdata/sf0.01")._1.isEmpty)
    assert(Bench.guardFlags("""{"metric":"total","value":1.0}""",
      now, 0.45, 0.50, sf)._1.isEmpty)
  }

  test("severe wall blow-up flags even when cpu stays flat (no cpu veto)") {
    // the r15 miss: q22_quiet_customers ran 3.36x its committed wall on
    // a quiet host but its cpu barely moved (scheduling-delay
    // signature), so the cpu gate absolved it and no flag fired. Any
    // >=2x HOST-NORMALIZED wall ratio must flag regardless of cpu —
    // flags are adjudication inputs, not verdicts. Here qc runs 3.36x
    // wall (0.5 -> 1.68 s) with cpu 1.0 -> 1.2 (under the 0.3 s cpu
    // delta floor) on a clean host: old gate silent, severe gate flags.
    val now = Seq(("qa", 1.0, 2.0), ("qb", 2.0, 4.0), ("qc", 1.68, 1.2))
    val flags = flagsOf(now, calib = 0.45, loaded = 0.50)
    assert(flags.size == 1 && flags.head.contains("qc"), flags.toString)
    // below 2x host-normalized (1.8x) with the same flat cpu: the cpu
    // veto still holds — the severe gate is for outliers only
    val mild = Seq(("qa", 1.0, 2.0), ("qb", 2.0, 4.0), ("qc", 0.9, 1.2))
    assert(flagsOf(mild, calib = 0.45, loaded = 0.50).isEmpty)
  }

  test("severe gate normalizes by the fleet p90 contention envelope") {
    // the r9 bimodal-steal pathology must STAY unflagged: a minority of
    // untouched queries 3x-inflated while the fleet p90 cpu ratio
    // documents contention wide enough to explain them — the severe
    // gate's host normalization includes that envelope, so placement
    // bimodality doesn't resurface as false severe flags
    val prior6 =
      """{"metric":"total","value":6.0,"unit":"sec","cpu":12.0,"gc":0.1,""" +
        """"calib":0.45,"calib_loaded":0.50,""" +
        """"queries":{"qa":1.000,"qb":1.000,"qc":1.000,"qd":1.000,""" +
        """"qe":1.000,"qf":1.000},""" +
        """"queries_cpu":{"qa":2.000,"qb":2.000,"qc":2.000,"qd":2.000,""" +
        """"qe":2.000,"qf":2.000},""" +
        """"errors":{},"failed":0,"sf":"/root/testdata/sf0.1"}"""
    val now = Seq(("qa", 1.0, 2.0), ("qb", 1.0, 2.0), ("qc", 1.0, 2.0),
      ("qd", 1.0, 2.0), ("qe", 3.0, 6.0), ("qf", 3.0, 6.0))
    assert(flagsOf(now, calib = 0.63, loaded = 0.70,
      artifact = prior6).isEmpty)
  }

  test("sub-threshold absolute deltas never flag (scheduler noise floor)") {
    // qc doubles but only by 0.5 -> 1.1 s wall... wait, that's >0.3 —
    // use a genuinely tiny query: +0.2 s absolute stays under the floor
    val tiny = prior
      .replace(""""qc":0.500},""", """"qc":0.200},""")
    val now = Seq(("qa", 1.0, 2.0), ("qb", 2.0, 4.0), ("qc", 0.4, 0.8))
    assert(flagsOf(now, calib = 0.45, loaded = 0.50,
      artifact = tiny).isEmpty)
  }

  test("high-steal CURRENT run: unadjudicable note, zero per-query flags") {
    // the r10 pathology: 28% of wall lost to steal — six untouched
    // queries flagged. The guard must refuse to adjudicate per-query
    // instead of presenting noise as signal, even with a genuine-looking
    // 9x slowdown in the inputs.
    val now = Seq(("qa", 9.0, 18.0), ("qb", 2.0, 4.0), ("qc", 0.5, 1.0))
    val (flags, notes) =
      Bench.guardFlags(prior, now, 0.45, 0.50, sf, currentStealFrac = 0.28)
    assert(flags.isEmpty)
    assert(notes.exists(_.contains("unadjudicable")))
  }

  test("low-steal current run still adjudicates: slowdown flags normally") {
    val now = Seq(("qa", 2.2, 4.4), ("qb", 2.0, 4.0), ("qc", 0.5, 1.0))
    val (flags, notes) =
      Bench.guardFlags(prior, now, 0.45, 0.50, sf, currentStealFrac = 0.05)
    assert(flags.exists(_.contains("qa")))
    assert(!notes.exists(_.contains("unadjudicable")))
  }

  test("truncated committed snapshot (no closing brace): silent no-baseline") {
    // a bounded stdout tail once produced a detail file cut mid-block —
    // block() must treat it as no baseline, not throw out of main. The
    // sf field is placed BEFORE the cut so the sameSf gate passes and
    // the truncated-queries path is the one actually exercised.
    val cut = """{"metric":"total","sf":"/root/testdata/sf0.1",""" +
      """"calib":0.45,"queries":{"qa":1.0"""
    val now = Seq(("qa", 9.0, 18.0))
    val (flags, notes) = Bench.guardFlags(cut, now, 0.45, 0.50, sf)
    assert(flags.isEmpty && notes.isEmpty)
  }

  test("streaming queries get the 1.6x min-of-samples wall gate") {
    // five-query fleet, majority stable so the host normalization stays
    // at 1: a 1.55x wall + 3x cpu inflation flags a BATCH query
    // (repeated-min measurement, 1.5x gate) but not a STREAMING one —
    // streaming walls are min-of-samples on the current side (Bench
    // re-samples any streaming query above its committed wall) vs a
    // single committed draw, so the gate is 1.6x, wider than batch but
    // far tighter than the old single-vs-single 2x
    val art =
      """{"metric":"total","value":5.0,"unit":"sec","cpu":10.0,"gc":0.1,""" +
        """"calib":0.45,"calib_loaded":0.50,""" +
        """"queries":{"qa":1.000,"qb":1.000,"qc":1.000,"qd":1.000,""" +
        """"stream_x":1.000},""" +
        """"queries_cpu":{"qa":2.000,"qb":2.000,"qc":2.000,"qd":2.000,""" +
        """"stream_x":2.000},""" +
        """"errors":{},"failed":0,"sf":"/root/testdata/sf0.1"}"""
    val stable = Seq(("qb", 1.0, 2.0), ("qc", 1.0, 2.0), ("qd", 1.0, 2.0))
    // batch at 1.55x wall / 3x cpu: flags
    val f1 = flagsOf(stable :+ (("qa", 1.55, 6.0)) :+ (("stream_x", 1.0, 2.0)),
      calib = 0.45, loaded = 0.50, artifact = art)
    assert(f1.exists(_.contains("qa")) && !f1.exists(_.contains("stream_x")),
      f1.mkString("; "))
    // streaming at the SAME 1.55x/3x: inside the 1.6x min-of-samples gate
    val f2 = flagsOf(stable :+ (("qa", 1.0, 2.0)) :+ (("stream_x", 1.55, 6.0)),
      calib = 0.45, loaded = 0.50, artifact = art)
    assert(!f2.exists(_.contains("stream_x")), f2.mkString("; "))
    // a genuine 1.8x streaming slowdown with matching cpu now flags
    // (would have hidden inside the old 2x gate)
    val f3 = flagsOf(stable :+ (("qa", 1.0, 2.0)) :+ (("stream_x", 1.8, 6.5)),
      calib = 0.45, loaded = 0.50, artifact = art)
    assert(f3.exists(_.contains("stream_x")), f3.mkString("; "))
  }

  test("min-of-3 baseline (stream_min3 marker) tightens streaming to 1.5x") {
    // ADVICE r13: once the committed baseline itself was produced with
    // min-of-3 streaming samples (SPARK_GRAFT_BASELINE=1 writes the
    // "stream_min3":1 marker), the comparison is min-of-samples vs
    // min-of-samples and streaming holds the same 1.5x gate as batch —
    // the 1.55x/3x case that hid inside the legacy 1.6x gate now flags.
    val art =
      """{"metric":"total","value":5.0,"unit":"sec","cpu":10.0,"gc":0.1,""" +
        """"calib":0.45,"calib_loaded":0.50,"stream_min3":1,""" +
        """"queries":{"qa":1.000,"qb":1.000,"qc":1.000,"qd":1.000,""" +
        """"stream_x":1.000},""" +
        """"queries_cpu":{"qa":2.000,"qb":2.000,"qc":2.000,"qd":2.000,""" +
        """"stream_x":2.000},""" +
        """"errors":{},"failed":0,"sf":"/root/testdata/sf0.1"}"""
    val stable = Seq(("qb", 1.0, 2.0), ("qc", 1.0, 2.0), ("qd", 1.0, 2.0))
    val f = flagsOf(stable :+ (("qa", 1.0, 2.0)) :+ (("stream_x", 1.55, 6.0)),
      calib = 0.45, loaded = 0.50, artifact = art)
    assert(f.exists(_.contains("stream_x")), f.mkString("; "))
  }

  test("streaming gate never normalizes below 1 on a faster host") {
    // An un-resampled single streaming draw can legitimately sit up to
    // 1.35x its committed min (below the sweep's resample trigger); a
    // sub-1 host ratio must not tighten the 1.5x gate into that region —
    // streaming wall is init cost, which a faster placement does not
    // shrink the way compute does. Host 10% faster (ratios 0.9),
    // stream_x single draw at 1.45x with co-tripping cpu: no flag.
    val art =
      """{"metric":"total","value":5.0,"unit":"sec","cpu":10.0,"gc":0.1,""" +
        """"calib":0.50,"calib_loaded":0.50,"stream_min3":1,""" +
        """"queries":{"qa":1.000,"qb":1.000,"qc":1.000,"qd":1.000,""" +
        """"stream_x":1.000},""" +
        """"queries_cpu":{"qa":2.000,"qb":2.000,"qc":2.000,"qd":2.000,""" +
        """"stream_x":2.000},""" +
        """"errors":{},"failed":0,"sf":"/root/testdata/sf0.1"}"""
    val stable = Seq(("qb", 0.9, 1.8), ("qc", 0.9, 1.8), ("qd", 0.9, 1.8))
    val f = flagsOf(stable :+ (("qa", 0.9, 1.8)) :+ (("stream_x", 1.45, 6.0)),
      calib = 0.45, loaded = 0.45, artifact = art)
    assert(!f.exists(_.contains("stream_x")), f.mkString("; "))
    // the same draw at 1.55x (beyond any single-draw band) still flags
    val f2 = flagsOf(stable :+ (("qa", 0.9, 1.8)) :+ (("stream_x", 1.55, 6.0)),
      calib = 0.45, loaded = 0.45, artifact = art)
    assert(f2.exists(_.contains("stream_x")), f2.mkString("; "))
  }

  test("state-rows gate: growth flags placement-independently, noise and " +
      "missing priors don't") {
    val art = prior.replace(
      """"queries_cpu":{"qa":2.000,"qb":4.000,"qc":1.000},""",
      """"queries_cpu":{"qa":2.000,"qb":4.000,"qc":1.000},""" +
        """"state_rows":{"stream_j":200,"stream_k":500},""")
    val now = Seq(("qa", 1.0, 2.0), ("qb", 2.0, 4.0), ("qc", 0.5, 1.0))
    // 200 -> 400 rows: ratio 2.0 > 1.3 and +200 > +100 — flags, even on a
    // host whose walls would be absolved (state owes nothing to placement)
    val (f1, _) = Bench.guardFlags(art, now, calib = 0.45, calibLoaded = 0.50,
      sf, stateRows = Map("stream_j" -> 400L, "stream_k" -> 500L))
    assert(f1.exists(f => f.contains("[bench-state]") &&
      f.contains("stream_j")), f1.mkString("; "))
    assert(!f1.exists(_.contains("stream_k")), f1.mkString("; "))
    // 200 -> 250 (ratio 1.25) and 200 -> 330 (+130 but would need ratio):
    // ratio AND absolute must both trip
    val (f2, _) = Bench.guardFlags(art, now, calib = 0.45, calibLoaded = 0.50,
      sf, stateRows = Map("stream_j" -> 250L))
    assert(!f2.exists(_.contains("[bench-state]")), f2.mkString("; "))
    // tiny-state query tripling from 30 to 90: ratio huge but under the
    // +100 absolute floor — micro-batch boundary noise, not retention
    val (f3, _) = Bench.guardFlags(art, now, calib = 0.45, calibLoaded = 0.50,
      sf, stateRows = Map("stream_j" -> 90L))
    assert(!f3.exists(_.contains("[bench-state]")), f3.mkString("; "))
    // a query with no committed state prior never flags
    val (f4, _) = Bench.guardFlags(art, now, calib = 0.45, calibLoaded = 0.50,
      sf, stateRows = Map("stream_new" -> 100000L))
    assert(!f4.exists(_.contains("[bench-state]")), f4.mkString("; "))
  }

  test("committed BENCH_DETAIL carries state telemetry for the " +
      "stream-stream join family") {
    // r17 verdict ask #8 acceptance: state growth regressions for the
    // stateful join family must be guardable like wall regressions,
    // which requires the committed denominator to carry their
    // state_rows priors.
    val p = new ProcessBuilder("git", "show", "HEAD:BENCH_DETAIL.json")
      .redirectErrorStream(true).start()
    val committed = scala.io.Source.fromInputStream(p.getInputStream)
      .mkString
    assert(p.waitFor() == 0, "HEAD has no BENCH_DETAIL.json")
    val i = committed.indexOf("\"state_rows\":{")
    val end = if (i < 0) -1 else committed.indexOf("}", i)
    assert(i >= 0 && end > i, "no state_rows block in the committed detail")
    val block = committed.substring(i, end + 1)
    val joinFamily = Seq("stream_stream_join", "stream_stream_left_outer",
      "stream_stream_full_outer", "stream_stream_left_semi")
    val present = joinFamily.filter(q => block.contains("\"" + q + "\":"))
    assert(present.size >= 3,
      s"stream-stream join family state priors missing: only $present " +
        "carry state_rows — re-commit the denominator from a sweep with " +
        "the state listener active")
    // and the priors are non-trivial (a joined row set holds real state)
    val vals = """"stream_stream_[a-z_]+":([0-9]+)""".r
      .findAllMatchIn(block).map(_.group(1).toLong).toSeq
    assert(vals.nonEmpty && vals.max > 0, block.take(500))
  }

  test("committed BENCH_DETAIL is the clean full-inventory gate denominator") {
    // BASELINE.md (round 12): the operative 2x-gate denominator is the
    // git-committed BENCH_DETAIL.json, which must itself honor the
    // baseline-cleanliness conditions — failed:0, steal+iowait under 10%
    // of wall, sf0.1, and near-full coverage of the declared inventory.
    // A contended or partial artifact silently poisons every subsequent
    // round's adjudication; this pins the contract in CI.
    val p = new ProcessBuilder("git", "show", "HEAD:BENCH_DETAIL.json")
      .redirectErrorStream(true).start()
    val committed = scala.io.Source.fromInputStream(p.getInputStream)
      .mkString
    assert(p.waitFor() == 0, "HEAD has no BENCH_DETAIL.json")
    def scalar(key: String): Option[Double] =
      ("\"" + key + "\":([0-9.]+)").r.findFirstMatchIn(committed)
        .map(_.group(1).toDouble)
    val wall = scalar("value").getOrElse(0.0)
    assert(wall > 0.0, "committed artifact has no total")
    assert(scalar("failed").contains(0.0),
      s"baseline committed from a run with failures: ${scalar("failed")}")
    val contention =
      scalar("steal").getOrElse(0.0) + scalar("iowait").getOrElse(0.0)
    assert(contention < 0.10 * wall,
      f"baseline committed from a contended run: $contention%.1f s " +
      f"steal+iowait on $wall%.1f s wall")
    assert(committed.contains(""""sf":"/root/testdata/sf0.1""""),
      "baseline must be the driver's sf0.1 sweep")
    // bound the scan to the queries OBJECT (up to its closing brace):
    // an end-of-string scan would also count queries_cpu / errors keys,
    // so a query missing its wall entry could still read as "covered"
    val qStart = committed.indexOf("\"queries\":{")
    val qEnd = committed.indexOf("}", qStart)
    assert(qStart >= 0 && qEnd > qStart, "no queries block in baseline")
    val covered = """"([a-z0-9_]+)":[0-9.]+""".r
      .findAllMatchIn(committed.substring(qStart, qEnd + 1))
      .map(_.group(1)).toSet
    val declared = SparkEntry.all.map(_.name).toSet
    val coverage = declared.count(covered).toDouble / declared.size
    assert(coverage >= 0.95,
      f"committed baseline covers $coverage%.2f of the declared " +
      "inventory — re-commit from a full clean sweep")
  }

  test("detailWriteEligible: denominator-protection gate (r20 task #1)") {
    def elig(p: Option[String], steal: Double, loaded: Double,
        total: Double, force: Boolean = false) =
      Bench.detailWriteEligible(p, steal, loaded, total, force)._1
    // no committed baseline: only the 10% dirty rule applies
    assert(elig(None, 0.08, 9.9, 999.0))
    assert(!elig(None, 0.12, 0.50, 3.5))
    // committed baseline present: the r20 failure mode (8.4% steal,
    // slower total) now routes to the sidecar
    assert(!elig(Some(prior), 0.084, 0.50, 244.0))
    // quiet window, comparable placement: overwrite allowed even slower
    // (a genuine code regression must still be able to land)
    assert(elig(Some(prior), 0.02, 0.52, 4.0))
    // slower placement (loaded calib 1.8x) measuring a slower sweep:
    // placement, not code — sidecar
    assert(!elig(Some(prior), 0.02, 0.90, 4.0))
    // same slow placement but a FASTER total: better denominators
    // always land
    assert(elig(Some(prior), 0.02, 0.90, 3.0))
    // deliberate re-baseline overrules everything
    assert(elig(Some(prior), 0.084, 0.90, 244.0, force = true))
    // ineligible paths say why (stderr note present)
    assert(Bench.detailWriteEligible(Some(prior), 0.084, 0.50, 244.0,
      force = false)._2.exists(_.contains("overwrite bar")))
    assert(Bench.detailWriteEligible(Some(prior), 0.02, 0.90, 4.0,
      force = false)._2.exists(_.contains("placement")))
  }

  test("detailWriteEligible: committed total parse is anchored to the " +
      "top-level prefix, not the first \"value\" occurrence") {
    // A decoy "value" nested inside an earlier object must not be read as
    // the committed total (it would corrupt the slower-placement
    // comparison): the match may only cross top-level keys, never enter a
    // nested object. prior total here is 244.0 with a 0.001 decoy first —
    // a 4.0 s sweep on a 1.8x-loaded placement is FASTER than the real
    // committed total, so it stays eligible; misreading the decoy would
    // make it "slower" and route it to the sidecar.
    val decoy =
      """{"metric":"total","host":{"value":0.001},"value":244.0,""" +
        """"unit":"sec","calib":0.45,"calib_loaded":0.50,"failed":0}"""
    assert(Bench.detailWriteEligible(Some(decoy), 0.02, 0.90, 4.0,
      force = false)._1)
    // and the anchored parse still reads the real leading format
    assert(!Bench.detailWriteEligible(Some(prior), 0.02, 0.90, 4.0,
      force = false)._1)
  }

  test("detailWriteEligible: an sf-mismatched sweep routes to the sidecar") {
    // prior is an sf0.1 denominator; a clean, fast sf0.001 dev sweep must
    // not replace it (its total is trivially faster, which the
    // faster-always-lands rule would otherwise accept)
    val r = Bench.detailWriteEligible(Some(prior), 0.01, 0.45, 2.0,
      force = false, sfDir = "/root/testdata/sf0.001")
    assert(!r._1 && r._2.exists(_.contains("differs")))
    // same sf: unaffected
    assert(Bench.detailWriteEligible(Some(prior), 0.01, 0.45, 2.0,
      force = false, sfDir = "/root/testdata/sf0.1")._1)
    // force overrules a deliberate re-baseline at a new sf
    assert(Bench.detailWriteEligible(Some(prior), 0.01, 0.45, 2.0,
      force = true, sfDir = "/root/testdata/sf0.001")._1)
  }

  test("detailWriteEligible: an unparseable committed total or calib " +
      "says the slower-placement guard is off") {
    // a slower sweep on a 1.8x-loaded placement would route to the
    // sidecar if the prior parsed; without its calib_loaded or its
    // anchored total the guard cannot decide, so the run lands — but
    // not silently
    val noCalib = prior.replace(""""calib_loaded":0.50,""", "")
    val noTotal = prior.replace(""""metric":"total",""", "")
    for ((p, key) <- Seq(noCalib -> "calib_loaded", noTotal -> "value")) {
      val (ok, note) = Bench.detailWriteEligible(Some(p), 0.02, 0.90, 4.0,
        force = false)
      assert(ok)
      assert(note.exists(n => n.contains(key) && n.contains("guard is off")),
        note.toString)
    }
    // a prior that parses stays quiet when eligible
    assert(Bench.detailWriteEligible(Some(prior), 0.02, 0.52, 4.0,
      force = false) == ((true, None)))
  }

  test("sf comparison uses the normalized sf token, not the raw string") {
    val rel = prior.replace("/root/testdata/sf0.1", "sf0.1")
    val slow = Seq(("qa", 1.0, 2.0), ("qb", 4.4, 8.8), ("qc", 0.5, 1.0))
    for (dir <- Seq("sf0.1", "sf0.1/", "sf0.1//", "/root/testdata/sf0.1/")) {
      // the same sf still adjudicates (the slowdown flags) ...
      val flags = Bench.guardFlags(rel, slow, 0.45, 0.50, dir)._1
      assert(flags.size == 1 && flags.head.contains("qb"), s"$dir: $flags")
      // ... and still may overwrite its own denominator
      assert(Bench.detailWriteEligible(Some(rel), 0.01, 0.45, 2.0,
        force = false, sfDir = dir)._1, dir)
    }
    // a different sf is still told apart
    assert(Bench.guardFlags(rel, slow, 0.45, 0.50, "sf0.01/")._1.isEmpty)
    assert(!Bench.detailWriteEligible(Some(rel), 0.01, 0.45, 2.0,
      force = false, sfDir = "sf0.01/")._1)
  }
}
