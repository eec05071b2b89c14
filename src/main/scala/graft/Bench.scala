package graft
object Bench {

  /** Fixed pure-JVM integer workload (no Spark, no IO, no allocation) —
    * the calibration probe. Public-in-graft so both calibrations and the
    * guard spec share the identical kernel.
    */
  private def probePass(n: Int): Long = {
    var acc = 0L; var j = 0
    while (j < n) { acc += (j * 2654435761L) ^ (acc >>> 13); j += 1 }
    acc
  }

  /** Seconds for `threads` concurrent copies of the fixed probe to ALL
    * complete. threads=1 is the idle single-thread calibration (host
    * single-thread speed — varies ~1.8× across VM boots/placements).
    * threads=N is the LOADED calibration: the same probe under full-width
    * concurrency, which is the condition the sweep actually runs in.
    * r8 showed the idle probe under-correcting loaded sweeps (calib ratio
    * 1.39 while untouched-query process-CPU inflated 2.4–3.4× under the
    * 32-thread sweep — SMT-sibling/throttle pressure only visible under
    * load); the loaded probe measures exactly that pressure.
    */
  private def calibrate(threads: Int): Double = {
    var sink = probePass(20000000) // JIT warm-up pass
    val t0 = System.nanoTime()
    if (threads <= 1) sink ^= probePass(400000000)
    else {
      val acc = new java.util.concurrent.atomic.AtomicLong(sink)
      val ts = (1 to threads).map { _ =>
        new Thread(() => { acc.addAndGet(probePass(400000000)); () })
      }
      ts.foreach(_.start()); ts.foreach(_.join())
      sink ^= acc.get()
    }
    val dt = (System.nanoTime() - t0) / 1e9
    if (sink == 42) System.err.println("") // defeat dead-code elim
    dt
  }

  /** Cross-round regression adjudication, pure and unit-testable
    * (BenchGuardSpec). Inputs: the committed BENCH_DETAIL artifact and the
    * current run's (name, wall, cpu) triples + calibrations. Returns
    * (flags, notes): flags are per-query `[bench-regress]` lines, notes are
    * informational host-adjudication lines.
    *
    * Decision rule (r8 verdict ask #1): a query flags only when BOTH its
    * wall AND its process-CPU regressed beyond what the host explains.
    * Host speed is estimated from THREE signals, the largest of which wins:
    *  - idle calib ratio (single-thread placement speed),
    *  - loaded calib ratio (full-width SMT/throttle pressure — what the
    *    idle probe provably misses),
    *  - the FLEET-MEDIAN per-query cpu ratio (cpu_now/cpu_committed over
    *    every query): placement pressure inflates every query's cpu
    *    together, while a code regression is per-query — the median is
    *    robust to a handful of genuine regressions.
    * No >=1.0 clamp (ADVICE r8): on a faster host than the committed
    * baseline the ratio drops BELOW 1 and the thresholds tighten, so a
    * baseline committed from a slow placement no longer masks real
    * regressions up to the placement factor.
    */
  /** Streaming queries run ONCE per sweep (init-dominated wall that
    * repeats identically — min-of-two buys nothing, see BASELINE.md), so
    * BOTH their committed baseline and any current value are single
    * samples of a noisy per-job init cost (measured spread: 0.90–1.46 s
    * for the same query on identical code within one session). The guard
    * widens their wall gate accordingly.
    */
  private[graft] def isStreamingQuery(name: String): Boolean =
    name.startsWith("stream_") || name == "source_rate_stream"

  private[graft] def guardFlags(prior: String,
      results: Seq[(String, Double, Double)],
      calib: Double, calibLoaded: Double,
      sfDir: String,
      currentStealFrac: Double = 0.0,
      stateRows: Map[String, Long] = Map.empty)
      : (Seq[String], Seq[String]) = {
    def sec(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val sameSf = priorSf(prior).contains(sfToken(sfDir))
    def block(key: String): Map[String, Double] = {
      val i = prior.indexOf("\"" + key + "\":{")
      val end = if (i < 0) -1 else prior.indexOf("}", i)
      // end < 0: the committed snapshot was truncated mid-block (the driver
      // captures a bounded stdout tail; a hand-committed partial file has
      // happened) — treat as no baseline rather than throwing out of main.
      if (i < 0 || end < 0) Map.empty
      else {
        val b = prior.substring(i + key.length + 4, end)
        """"([^"]+)":([0-9.]+)""".r.findAllMatchIn(b)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    }
    def scalar(key: String): Option[Double] =
      ("\"" + key + "\":([0-9.]+)").r.findFirstMatchIn(prior)
        .map(_.group(1).toDouble)
    // r10 lesson: a 28%-steal run produced six per-query flags on untouched
    // code — noise presented as signal. When the CURRENT run is provably
    // contended, per-query adjudication is impossible; say so once and emit
    // no flags at all (the TOTAL + steal fields still ride in the artifact).
    if (currentStealFrac > 0.10)
      (Nil, Seq(f"[bench-host] unadjudicable: current run lost " +
        f"${currentStealFrac * 100}%.0f%% of wall to steal/iowait — " +
        "skipping per-query regression flags (re-run on a quieter host)"))
    else if (!sameSf) (Nil, Nil)
    else {
      val priorWall = block("queries")
      val priorCpu = block("queries_cpu")
      if (priorWall.isEmpty) (Nil, Nil)
      else {
        val idleRatio = scalar("calib").map(calib / _).getOrElse(1.0)
        val loadedRatio = scalar("calib_loaded").map(calibLoaded / _)
          .getOrElse(idleRatio)
        // fleet-median cpu inflation: only queries big enough for the
        // ratio to be signal (>=0.05 s committed cpu)
        val cpuRatios = results.flatMap { case (n, _, c) =>
          priorCpu.get(n).filter(_ >= 0.05).map(pc => c / pc)
        }.sorted
        val fleetRatio =
          if (cpuRatios.isEmpty) 1.0 else cpuRatios(cpuRatios.size / 2)
        // load-triggered steal inflates queries BIMODALLY (r8/r9: some
        // 0.7×, some 3× in the same sweep), so the fleet's p90 bounds the
        // contention envelope a single median can't: the cpu gate widens
        // to 1.4×p90 when the distribution is wide, and collapses to the
        // plain 1.5× threshold on a quiet host where p90 ≈ 1. Tradeoff: a
        // code regression touching >10% of queries shifts the envelope
        // itself and is adjudicated by the TOTAL, not per-query flags.
        val fleetP90 =
          if (cpuRatios.isEmpty) 1.0
          else cpuRatios(math.min(cpuRatios.size - 1,
            (0.9 * (cpuRatios.size - 1)).toInt))
        val hostRatio = math.max(idleRatio, math.max(loadedRatio, fleetRatio))
        val notes = Seq.newBuilder[String]
        if (hostRatio > 1.3 || hostRatio < 0.77)
          notes += f"[bench-host] host-speed ratio vs committed baseline: " +
            f"idle-calib $idleRatio%.2f, loaded-calib $loadedRatio%.2f, " +
            f"fleet-median-cpu $fleetRatio%.2f — normalizing by " +
            f"$hostRatio%.2f (placement, not code)"
        val flags = results.flatMap { case (name, t, c) =>
          priorWall.get(name).flatMap { p =>
            // streaming init wall is noisy per-sample (measured spread
            // 0.90-1.46 s on identical code), but the sweep RE-SAMPLES a
            // streaming query whose first run exceeds its committed wall
            // and reports the min (see main). Against a baseline that
            // was itself committed from a min-of-3 run (self-described
            // by its "stream_min3":1 marker, written under
            // SPARK_GRAFT_BASELINE=1) the comparison is min-of-samples
            // vs min-of-samples and streaming holds the SAME tight 1.5x
            // as batch (ADVICE r13); a legacy single-draw baseline keeps
            // the wider 1.6x. Repeated-min batch measurements are always
            // 1.5x.
            val minSampledBaseline = prior.contains("\"stream_min3\":1")
            val wallFactor =
              if (isStreamingQuery(name) && !minSampledBaseline) 1.6
              else 1.5
            // Streaming walls never normalize BELOW 1: their cost is
            // per-job init, which does not speed up with a faster
            // placement the way compute does — a sub-1 hostRatio would
            // tighten the gate into the region where an UN-resampled
            // single draw can sit (the sweep's resample trigger fires at
            // 1.35x, below the floored 1.5x/1.6x gate, so any flaggable
            // streaming draw was re-sampled and min-vs-min holds).
            val wallHostRatio =
              if (isStreamingQuery(name)) math.max(hostRatio, 1.0)
              else hostRatio
            val wallRegress =
              t > wallFactor * wallHostRatio * p && t - p > 0.3
            // cpu gate: placement-sensitive but code-sensitive too — a
            // real slowdown burns more cpu beyond the host normalization;
            // absent a cpu baseline, fall back to the wall verdict alone
            val cpuRegress = priorCpu.get(name) match {
              case Some(pc) if pc > 0.0 =>
                c > math.max(1.5 * hostRatio, 1.4 * fleetP90) * pc &&
                  c - pc > 0.3
              case _ => true
            }
            // SEVERE gate (r15 miss): a wall past 2x even after
            // normalizing by the WIDEST credible contention estimate
            // (host probes, fleet median, fleet p90) flags with NO cpu
            // veto — q22 slipped through at 3.36x because its cpu
            // barely moved (a scheduling-delay signature the cpu gate
            // absolves by design, but 2x host-normalized is past what
            // placement alone explains on a quiet host). Flags are
            // adjudication inputs, not verdicts — the clean-sweep
            // protocol decides placement vs code.
            val sevNorm = math.max(wallHostRatio, fleetP90)
            val severeRegress = t > 2.0 * sevNorm * p && t - p > 0.3
            // the flag names the normalization that actually admitted
            // it: a severe-only flag normalized by the p90 envelope must
            // not read as an ordinary host-ratio flag, or the clean-
            // sweep adjudication starts from an understated contention
            // estimate
            if (severeRegress && !(wallRegress && cpuRegress))
              Some(s"[bench-regress] $name: ${sec(p)} -> ${sec(t)} s " +
                f"(SEVERE: >2x after max(host $wallHostRatio%.2f, " +
                f"fleet-p90 $fleetP90%.2f) normalization; no cpu veto)")
            else if (wallRegress && cpuRegress)
              Some(s"[bench-regress] $name: ${sec(p)} -> ${sec(t)} s " +
                f"(host ratio $hostRatio%.2f applied)")
            else None
          }
        }
        // STATE-ROWS gate (r17 verdict ask #8): per-operator state totals
        // for the stateful streaming jobs are fixture-deterministic —
        // unlike walls they owe NOTHING to placement, so no host
        // normalization applies. Growth vs the committed baseline means a
        // retention change (a watermark that stopped clearing, a TTL that
        // stopped firing), which a wall gate alone can miss entirely: at
        // fixture scale leaked state is cheap, at 100 TB it is the OOM.
        // Gate: >1.3x AND +100 rows absolute (micro-batch boundaries can
        // shift which intermediate total the listener observes; the final
        // totals themselves are deterministic).
        val priorState = block("state_rows")
        val stateFlags = stateRows.toSeq.sortBy(_._1).flatMap {
          case (name, rows) => priorState.get(name).collect {
            case p if rows > 1.3 * p && rows - p > 100 =>
              s"[bench-state] $name: state rows ${p.toLong} -> $rows " +
                "(state growth is placement-independent — a retention " +
                "regression, not host noise)"
          }
        }
        (flags ++ stateFlags, notes.result())
      }
    }
  }

  /** Denominator-protection gate (r20 verdict task #1, made structural
    * in r21): may THIS run's detail overwrite the clean
    * BENCH_DETAIL.json path? The r16 sidecar rule (>10% of wall lost to
    * steal/iowait → dirty) protects against unadjudicable runs; r20
    * showed it is not enough — the round driver's 8.4%-steal sweep
    * passed it, landed on the clean path, and was auto-committed,
    * poisoning 11 priors at 2–15×. When a committed clean baseline
    * EXISTS, overwriting it demands a window at least as good:
    *   - steal+iowait ≤ 5% of wall (half the adjudication bar), AND
    *   - not a provably slower placement measuring a slower sweep
    *     (loaded calib > 1.25× the committed run's AND total above the
    *     committed total — a faster total is always allowed to land:
    *     better denominators tighten the guard).
    * A deliberate re-baseline on a changed placement class overrules
    * with SPARK_GRAFT_FORCE_DETAIL=1. Pure and unit-tested
    * (BenchGuardSpec); returns (eligible, optional stderr note).
    */
  private[graft] def detailWriteEligible(prior: Option[String],
      stealFrac: Double, calibLoaded: Double, total: Double,
      force: Boolean, sfDir: String = ""): (Boolean, Option[String]) = {
    // "value" is anchored to the document prefix: the committed detail
    // artifact leads with {"metric":"total","value":...} by construction,
    // and an unanchored first-occurrence match would silently misread a
    // future format that nests another "value" key earlier. Other keys
    // (calib_loaded) are top-level-unique, first occurrence is fine.
    def scalar(p: String, key: String): Option[Double] =
      (if (key == "value") "^\\{\"metric\":\"total\",[^{}]*?\"value\":([0-9.]+)"
       else "\"" + key + "\":([0-9.]+)").r
        .findFirstMatchIn(p).map(_.group(1).toDouble)
    if (force) (true, None)
    else if (stealFrac > 0.10)
      (false, Some(f"[bench-detail] run lost ${stealFrac * 100}%.1f%% of " +
        "wall to steal/iowait — writing BENCH_DETAIL.dirty.json"))
    else prior match {
      case None => (true, None)
      case Some(p) =>
        // a committed denominator at a DIFFERENT scale factor must never
        // be overwritten by a small-sf dev sweep: its total is trivially
        // "faster", which the faster-always-lands rule would otherwise
        // wave through (r22: an sf0.001 smoke run from the repo cwd was
        // one eligible write away from replacing the sf0.1 baseline)
        if (sfDir.nonEmpty && priorSf(p).exists(_ != sfToken(sfDir)))
          (false, Some("[bench-detail] run sf " + sfDir + " differs from " +
            "the committed denominator's — writing BENCH_DETAIL.dirty.json " +
            "(SPARK_GRAFT_FORCE_DETAIL=1 overrules)"))
        else if (stealFrac > 0.05)
          (false, Some(f"[bench-detail] steal+iowait " +
            f"${stealFrac * 100}%.1f%% of wall exceeds the 5%% " +
            "overwrite bar while a committed clean denominator exists — " +
            "writing BENCH_DETAIL.dirty.json (the committed artifact " +
            "stays the guard baseline; SPARK_GRAFT_FORCE_DETAIL=1 " +
            "overrules)"))
        else (scalar(p, "calib_loaded"), scalar(p, "value")) match {
          case (Some(pc), Some(pt)) =>
            if (calibLoaded > 1.25 * pc && total > pt)
              (false, Some(f"[bench-detail] loaded calib $calibLoaded%.3f " +
                "is >1.25x the committed denominator's and the sweep is " +
                "slower — placement, not code; writing " +
                "BENCH_DETAIL.dirty.json (SPARK_GRAFT_FORCE_DETAIL=1 " +
                "overrules)"))
            else (true, None)
          case (pc, pt) =>
            // an unparseable prior must not switch the guard off quietly
            val missing = Seq("value" -> pt, "calib_loaded" -> pc)
              .collect { case (k, None) => k }
            (true, Some("[bench-detail] committed denominator has no " +
              s"parseable ${missing.mkString(" or ")} — the " +
              "slower-placement guard is off for this run"))
        }
    }
  }

  /** The scale factor an sf directory names: its basename with trailing
    * slashes stripped, so `sf0.1`, `sf0.1/` and `/data/sf0.1` compare
    * equal.
    */
  private[graft] def sfToken(sfDir: String): String = {
    val t = sfDir.replaceAll("/+$", "")
    t.substring(t.lastIndexOf('/') + 1)
  }

  /** The [[sfToken]] of the `"sf"` a committed artifact was recorded at. */
  private[graft] def priorSf(prior: String): Option[String] =
    "\"sf\":\"([^\"]*)\"".r.findFirstMatchIn(prior)
      .map(m => sfToken(m.group(1)))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    Harness.warmUp(spark, sfDir)
    // one-time table layouts (bucketed warehouse write, partitioned events
    // rewrite) are storage preparation a real deployment does once, not
    // per-query cost — build them here so join_bucketed / the pruning
    // queries time the join/scan, not the layout. A failure is reported,
    // not thrown: its cost would otherwise land silently on the first
    // timed query.
    try {
      operators.Extended.bucketedJoin(spark, sfDir).limit(1).count()
      operators.ScaleOps.partitionedEvents(spark, sfDir)
    } catch { case t: Throwable =>
      System.err.println(s"[bench-warmup] layout failed: $t") }
    // process CPU + cumulative GC time: the self-diagnosis channel for a
    // host-contended run (r7's official artifact measured 131 s while a
    // standalone re-run measured 66 s — IO/CPU contention, not code). A
    // query whose wall ≫ its process-CPU share is host noise, not engine
    // cost; the per-run (wall, cpu, gc) triple makes that readable from
    // the artifact alone.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def gcMillis: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    }
    // idle + loaded calibrations (see calibrate): idle first so its probe
    // warms the JIT for the threaded copies
    val calib = calibrate(1)
    val calibLoaded =
      calibrate(math.max(2, spark.sparkContext.defaultParallelism))
    // host-level iowait/steal jiffies (/proc/stat cpu line, fields 5+8):
    // process-CPU telemetry can't see time the whole GUEST lost to disk
    // waits or the hypervisor; the sweep-wide deltas ride in the artifact
    // so a contended run is provable from the JSON alone. Option-typed
    // (ADVICE r8): if EITHER read fails the delta is meaningless, so the
    // fields and the contention flag are omitted rather than computed
    // from absolute counters.
    def hostJiffies(): Option[(Long, Long)] =
      try {
        val f = scala.io.Source.fromFile("/proc/stat")
        try {
          val p = f.getLines().next().trim.split("\\s+")
          Some((p(5).toLong, p(8).toLong))
        } finally f.close()
      } catch { case _: Throwable => None }
    val j0 = hostJiffies()
    // declared (SURVEY §2.2) order, NOT Map hash-order: per-query timings
    // are attributable and comparable round-over-round. Batch queries run
    // TWICE and report the min: a single transient stall (page-cache miss,
    // GC, JIT deopt) burned ~10 s of round-4's artifact; the first pass
    // warms OS/file caches, the second is the measurement. STREAMING
    // queries normally run ONCE: their wall is dominated by fixed per-job
    // init (incremental planner, state-store setup), and unconditional
    // min-of-two cost ~18 s of the 65 s budget across the 18 real
    // streaming executions. Only a streaming sample that exceeds its
    // committed wall re-samples (min-of-3, capped), which is what lets
    // guardFlags hold a 1.6x streaming gate instead of 2x.
    def isStreaming(name: String): Boolean = Bench.isStreamingQuery(name)
    // The comparison baseline is the COMMITTED snapshot (git HEAD), not
    // the working file: the working copy can hold a host-contended driver
    // run, and comparing against it would poison the next round's guard.
    def committedDetail(): Option[String] =
      try {
        val p = new ProcessBuilder("git", "show", "HEAD:BENCH_DETAIL.json")
          .redirectErrorStream(false).start()
        val out = new String(p.getInputStream.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        if (p.waitFor() == 0 && out.contains("\"queries\"")) Some(out) else None
      } catch { case _: Throwable => None }
    // Committed streaming walls, parsed up-front: a streaming query whose
    // FIRST sample exceeds its committed wall gets re-sampled (min of up
    // to 3 runs) so the guard can hold a 1.6x gate instead of the old
    // single-sample-vs-single-sample 2x (ADVICE r12). The trigger sits
    // below the flag gate (1.35x and 0.25 s) so borderline draws re-sample
    // too; re-runs are capped sweep-wide so a contended host can't turn
    // the whole streaming family into triple runs.
    val committedForResample = committedDetail().getOrElse("")
    val priorStreamWall: Map[String, Double] = {
      val i = committedForResample.indexOf("\"queries\":{")
      val end = if (i < 0) -1 else committedForResample.indexOf("}", i)
      if (i < 0 || end < 0) Map.empty
      else """"([a-z0-9_]+)":([0-9.]+)""".r
        .findAllMatchIn(committedForResample.substring(i, end + 1))
        .collect { case m if isStreaming(m.group(1)) =>
          m.group(1) -> m.group(2).toDouble }
        .toMap
    }
    // Baseline-producing runs (SPARK_GRAFT_BASELINE=1) take EVERY
    // streaming query as min-of-3, uncapped: the committed denominator is
    // then a min-of-samples draw, which is what lets guardFlags hold the
    // tight 1.5x streaming gate against it (the artifact self-describes
    // via "stream_min3":1). Official sweeps keep the cheap
    // suspicion-triggered re-sampling below.
    val baselineMode = sys.env.get("SPARK_GRAFT_BASELINE").contains("1")
    // Per-query STATE telemetry (r17 verdict ask #8): a streaming-query
    // listener accumulates the max total state rows/bytes any progress
    // event reports while a given bench query is the one running (the
    // sweep is serial; a short quiescence wait between streaming queries
    // keeps late async events from crediting the next query). State
    // totals are fixture-deterministic, so the guard can hold a
    // placement-independent gate on them — a watermark/TTL retention
    // regression shows up here before it shows up in any wall.
    val stateRowsByQuery =
      new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val stateBytesByQuery =
      new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val currentQuery = new java.util.concurrent.atomic.AtomicReference("")
    val lastStateEvent = new java.util.concurrent.atomic.AtomicLong(0L)
    val stateListener =
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(
            e: org.apache.spark.sql.streaming.StreamingQueryListener
              .QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: org.apache.spark.sql.streaming.StreamingQueryListener
              .QueryProgressEvent): Unit = {
          lastStateEvent.set(System.nanoTime())
          val name = currentQuery.get()
          val ops = e.progress.stateOperators
          if (name.nonEmpty && ops != null && ops.nonEmpty) {
            val rows = ops.map(_.numRowsTotal).sum
            val bytes = ops.map(_.memoryUsedBytes).sum
            stateRowsByQuery.merge(name, rows, math.max(_, _))
            stateBytesByQuery.merge(name, bytes, math.max(_, _))
          }
        }
        override def onQueryTerminated(
            e: org.apache.spark.sql.streaming.StreamingQueryListener
              .QueryTerminatedEvent): Unit =
          lastStateEvent.set(System.nanoTime())
      }
    spark.streams.addListener(stateListener)
    // wait until listener events have been quiet for 150 ms (cap 1 s):
    // called AFTER a streaming query's timed window, so attribution is
    // exact and the wait never lands in any measurement
    def quiesceListener(): Unit = {
      val deadline = System.nanoTime() + 1000000000L
      var done = false
      while (!done && System.nanoTime() < deadline) {
        Thread.sleep(50)
        val le = lastStateEvent.get()
        done = le == 0L || System.nanoTime() - le > 150000000L
      }
    }
    var streamResamples = 0
    // cap = the whole streaming family: the 1.5x gate's min-vs-min
    // premise requires EVERY flaggable draw to have been re-sampled, so
    // the cap exists only to bound the absolute worst case (a host bad
    // enough to trip every trigger pays ~2 extra runs per streaming
    // query, ~1 min — cheaper than a false regression verdict)
    val maxStreamResamples = SparkEntry.all.count(q => isStreaming(q.name))
    val results = SparkEntry.all.map { q =>
      currentQuery.set(q.name)
      def once(): (Double, Double, Double, Option[String]) = {
        val t0 = System.nanoTime()
        val c0 = osBean.getProcessCpuTime
        val g0 = gcMillis
        val err: Option[String] =
          try { q.fn(spark, sfDir).count(); None }
          catch { case t: Throwable =>
            Some(t.getClass.getSimpleName + ": " +
              Option(t.getMessage).getOrElse("").take(120)) }
        ((System.nanoTime() - t0) / 1e9,
          math.max(0L, osBean.getProcessCpuTime - c0) / 1e9,
          (gcMillis - g0) / 1e3, err)
      }
      val (t1, c1, g1, e1) = once()
      val out =
        if (e1.isDefined) (q.name, t1, c1, g1, e1)
        else if (isStreaming(q.name)) {
          // single sample unless it looks regressed vs the committed wall
          // (or this is a baseline-producing run: always min-of-3). The
          // trigger sits BELOW the guard's floored 1.5x/1.6x flag gate
          // (1.35x wall and 0.25 s absolute vs the gate's 1.5x/0.3 s),
          // so every draw that could flag has been re-sampled and the
          // guard's min-vs-min premise holds.
          val suspicious = priorStreamWall.get(q.name)
            .exists(p => t1 > 1.35 * p && t1 - p > 0.25)
          if (!baselineMode &&
              (!suspicious || streamResamples >= maxStreamResamples))
            (q.name, t1, c1, g1, e1)
          else {
            if (!baselineMode) streamResamples += 1
            val samples = (t1, c1, g1, e1) +: Seq.fill(2)(once())
            samples.filter(_._4.isEmpty).minByOption(_._1)
              .map { case (t, c, g, e) => (q.name, t, c, g, e) }
              .getOrElse((q.name, t1, c1, g1, e1))
          }
        } else {
          val (t2, c2, g2, e2) = once()
          if (t2 <= t1) (q.name, t2, c2, g2, e2) else (q.name, t1, c1, g1, e2)
        }
      Harness.release(spark)
      // drain async listener events before the next query takes the name
      if (isStreaming(q.name)) quiesceListener()
      out
    }
    currentQuery.set("")
    spark.streams.removeListener(stateListener)
    val failed = results.collect { case (n, _, _, _, Some(e)) => (n, e) }
    // 3-decimal seconds keep the whole line ~3 KB for 100+ queries: the
    // round driver captures only a bounded stdout tail, and a longer line
    // (9+ digits per value) overflowed it in round 3 → unparseable bench.
    def sec(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // failures are null here (numeric consumers can sum/plot) and carry the
    // message in "errors"
    val qs = results.map { case (k, v, _, _, err) =>
      "\"" + k + "\":" + (if (err.isDefined) "null" else sec(v))
    }.mkString("{", ",", "}")
    // per-query process-CPU seconds of the MEASURED run: wall ≫ cpu on a
    // 32-thread local session (and low gc) reads as host contention
    val qsCpu = results.map { case (k, _, c, _, err) =>
      "\"" + k + "\":" + (if (err.isDefined) "null" else sec(c))
    }.mkString("{", ",", "}")
    val errJson = failed.map { case (n, e) =>
      "\"" + n + "\":\"" + e.replace("\\", "\\\\").replace("\"", "'")
        .replaceAll("[\\x00-\\x1F]", " ") + "\""
    }.mkString("{", ",", "}")
    val total = results.collect { case (_, v, _, _, None) => v }.sum
    val totalCpu = results.collect { case (_, _, c, _, None) => c }.sum
    val totalGc = results.collect { case (_, _, _, g, None) => g }.sum
    val busy = for ((i0, s0) <- j0; (i1, s1) <- hostJiffies())
      yield ((i1 - i0) / 100.0, (s1 - s0) / 100.0)
    // loud, human-readable flag when the host provably interfered (r8f:
    // 140 s of steal during a 140 s sweep — same commit ran 94.6 s with
    // 1.2 s steal): consumers of the truncated stdout tail see it too
    for ((ioSec, stSec) <- busy if stSec + ioSec > 0.1 * total)
      System.err.println(f"[bench-host] elevated steal ${stSec}%.1f s / " +
        f"iowait ${ioSec}%.1f s against ${total}%.1f s wall — " +
        "this run measures host contention, not engine cost")
    val hostBusy = busy
      .map { case (i, s) => s""""iowait":${sec(i)},"steal":${sec(s)},""" }
      .getOrElse("")
    val calibs =
      s""""calib":${sec(calib)},"calib_loaded":${sec(calibLoaded)}"""
    // baseline-mode runs self-describe their min-of-3 streaming sampling
    // so guardFlags knows a committed copy supports the 1.5x gate
    val min3 = if (baselineMode) """"stream_min3":1,""" else ""
    // per-operator state telemetry for the stateful jobs (rows observed /
    // bytes in the state stores): deterministic at a fixed sf, so the
    // guard holds a placement-independent growth gate on the rows
    import scala.jdk.CollectionConverters._
    val stateRowsMap = stateRowsByQuery.asScala.toMap
    val stateJson = stateRowsMap.toSeq.sorted
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val stateBytesJson = stateBytesByQuery.asScala.toSeq.sorted
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val detail = s"""{"metric":"total","value":${sec(total)},"unit":"sec","cpu":${sec(totalCpu)},"gc":${sec(totalGc)},$calibs,$hostBusy$min3"queries":$qs,"queries_cpu":$qsCpu,"state_rows":$stateJson,"state_bytes":$stateBytesJson,"errors":$errJson,"failed":${failed.size},"sf":"$sfDir"}"""
    println(detail)
    // Cross-round regression guard + full-detail artifact: the driver's
    // 2000-char stdout tail keeps only ~90 of the per-query timings, so
    // the complete map is persisted to BENCH_DETAIL.json (repo cwd). The
    // comparison baseline is the COMMITTED snapshot (git HEAD), not the
    // working file: the working copy can hold a host-contended driver run
    // (r7: 131 s of IO noise on unchanged code), and comparing against it
    // would poison the next round's guard — a builder commits a detail
    // file only after a sane standalone run. Falls back to the working
    // file outside a git checkout. Adjudication lives in guardFlags
    // (unit-tested in BenchGuardSpec): wall AND cpu must both regress
    // beyond the idle-calib / loaded-calib / fleet-median-cpu host
    // normalization before a query flags.
    // A quality-degraded run must never become the guard's committed
    // input: r16's driver sweep lost 59% of wall to steal and was one
    // `git add` away from poisoning every later round's denominator;
    // r20's driver sweep PASSED the old 10% gate at 8.4% and did poison
    // it (reverted in r21). Eligibility now lives in detailWriteEligible
    // (unit-tested): >10% steal is always dirty, and overwriting an
    // EXISTING committed denominator additionally demands ≤5% steal and
    // no slower-placement-measuring-a-slower-sweep signature. Dirty
    // runs persist to the sidecar; the comparison baseline is ALWAYS
    // the clean file, so a dirty run can never adjudicate against a
    // previous dirty run.
    val stealFrac = busy match {
      case Some((i, s)) if total > 0 => (i + s) / total
      case _ => 0.0
    }
    val committedPrior = committedDetail()
    val (detailEligible, detailNote) = detailWriteEligible(
      committedPrior, stealFrac, calibLoaded, total,
      sys.env.get("SPARK_GRAFT_FORCE_DETAIL").contains("1"), sfDir)
    detailNote.foreach(System.err.println)
    val detailPath = java.nio.file.Paths.get(
      if (detailEligible) "BENCH_DETAIL.json" else "BENCH_DETAIL.dirty.json")
    val cleanPath = java.nio.file.Paths.get("BENCH_DETAIL.json")
    try {
      val baseline = committedPrior.orElse {
        if (java.nio.file.Files.isRegularFile(cleanPath))
          Some(new String(java.nio.file.Files.readAllBytes(cleanPath),
            java.nio.charset.StandardCharsets.UTF_8))
        else None
      }
      for (prior <- baseline) {
        val triples = results.collect {
          case (n, t, c, _, None) => (n, t, c)
        }
        val (flags, notes) =
          guardFlags(prior, triples, calib, calibLoaded, sfDir, stealFrac,
            stateRowsMap)
        (notes ++ flags).foreach(System.err.println)
      }
      java.nio.file.Files.write(detailPath,
        detail.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case t: Throwable =>
      System.err.println(s"[bench-detail] persist/compare failed: $t") }
    // The LAST line is the driver contract line. It now carries the
    // per-query seconds map (r21 verdict ask #7): a driver that captures
    // only this line can still compute per-query round-over-round deltas
    // (r20's capture kept only the last line and produced a blind
    // n_common:0 PERF artifact). The leading fields ("value" first,
    // cpu/gc/steal next) keep the historical property that even a
    // truncated HEAD of this line parses the total and self-diagnoses a
    // host-contended run (wall ≫ cpu); the queries map rides at the end.
    // Additions-only vs the pre-r22 format.
    println(s"""{"metric":"total","value":${sec(total)},"unit":"sec","cpu":${sec(totalCpu)},"gc":${sec(totalGc)},$calibs,$hostBusy"failed":${failed.size},"sf":"$sfDir","queries":$qs}""")
    spark.stop()
  }
}
