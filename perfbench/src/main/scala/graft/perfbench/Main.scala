package graft.perfbench

import org.apache.spark.sql.SparkSession

/** A query's recorded result (row count, digest) and cost in seconds. */
final case class Recorded(rows: Long, digest: Option[String], seconds: Double)

/** The benchmark's JVM side. `perfbench/run.py` builds it and runs
  *
  * {{{
  * Main --workload <rag_ingest|analytics_mix> --seed <n>
  *      --seconds <s> --trace <0|1> --bench-dir perfbench
  *      --work <scratch dir> --trace-out <spans.json> [--tiny]
  * Main record-digests <dataDir> <out.json> <cores> <scratch dir>
  * }}}
  *
  * A run sets up three times (setup_s is the median), warms up untimed,
  * then runs a fixed mix of ops, sized to take about `--seconds`, in a
  * closed loop with one client thread. Outputs are checked outside the timed
  * region; after every op the cache and persistent RDDs are released.
  * With `--trace 1` the same ops run in consecutive pairs, one op of each
  * pair traced; the traced op adds layer spans and probes, and the pairs
  * give the tracing overhead. The last stdout line is the result object.
  */
object Main {
  private val SetupReps = 3
  /** Stop taking new ops past this much wall time, whatever `--seconds`
    * says, so a slow or contended run still ends in time.
    */
  private val LoopWallCapS = 120.0
  /** An op whose timed region lost more than this share of the machine's
    * CPU time to steal and iowait is run again, up to a third of the run's
    * ops: on a shared host the neighbours' load comes and goes within a
    * run, and a cycle that lost 17% ran 1.8x as long as a quiet one.
    */
  private val MaxLostShare = 0.03

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("record-digests")) {
      recordDigests(argv(1), argv(2), argv(3).toInt, argv(4)); return
    }
    val a = argv.sliding(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val tiny = argv.contains("--tiny")
    val benchDir = a("bench-dir")
    val work = a("work")
    val data = s"$benchDir/data/sf0.01"
    val nproc = Runtime.getRuntime.availableProcessors
    // Spark gets one core less than the machine: the driver thread, the
    // JIT compiler and GC keep the last one busy (a timed query's JIT
    // compiling came to 0.3 to 4.5 s of CPU), and on all cores they would
    // queue behind the tasks.
    val cores = math.max(1, nproc - 1)
    val start = System.nanoTime()
    def phase(name: String): Unit =
      System.err.println(f"[phase] $name done at ${(System.nanoTime() - start) / 1e9}%.1f s")

    val spark = session(cores, work)
    phase("session")
    try {
      val w: Workload = workload match {
        case "rag_ingest" =>
          new RagIngest(spark, new Gen(seed, Gen.vocabulary(spark, data)), work, tiny)
        case "analytics_mix" =>
          // draws only the query sample and order: no vocabulary needed
          new AnalyticsMix(spark, new Gen(seed, IndexedSeq.empty), work, data,
            readDigests(s"$benchDir/digests.json"), seconds)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val tracer = if (trace) Some(new Tracer(spark)) else None
      phase("inputs")
      val setups = (1 to SetupReps).map { _ =>
        val t0 = System.nanoTime()
        w.setup()
        val t = (System.nanoTime() - t0) / 1e9
        release(spark)
        t
      }
      phase("setup")
      w.warmup()
      release(spark)
      phase("warm-up")

      val calib0 = (Host.calibrate(1), Host.calibrate(nproc))
      val (io0, st0) = Host.iowaitSteal()
      val cpu0 = Host.cpuNs
      val wall0 = System.nanoTime()
      val outs = Seq.newBuilder[(OpOutcome, Boolean, Double)]
      val ops = w.opsPerRun(seconds)
      var i = 0
      var retried = 0
      while (i < ops && (System.nanoTime() - wall0) / 1e9 < LoopWallCapS) {
        // traced runs pair consecutive ops, one traced and one not,
        // alternating which goes first so warmer caches favour neither side
        val traced = trace && (i + i / 2) % 2 == 1
        val o =
          try w.op(i, tracer.filter(_ => traced))
          catch { case e: Exception =>
            System.err.println(s"[op] $i failed: $e")
            OpOutcome(0.0, 0.0, 0.0, 0.0, failed = true)
          }
        val pinned = spark.sparkContext.getPersistentRDDs.size.toDouble
        release(spark)
        if (!o.failed && o.lost > MaxLostShare * o.latency * nproc && retried < ops / 3) {
          System.err.println(f"[op] $i lost ${o.lost}%.2f s of CPU to the host: run again")
          retried += 1
        } else {
          outs += ((o, traced, pinned))
          i += 1
        }
      }
      val wall = (System.nanoTime() - wall0) / 1e9
      val cpu = (Host.cpuNs - cpu0) / 1e9
      val (io1, st1) = Host.iowaitSteal()
      val retained = Host.retainedHeapMb()
      val calib = (calib0._1 + Host.calibrate(1)) / 2
      val calibLoaded = (calib0._2 + Host.calibrate(nproc)) / 2
      phase(s"$i ops")
      val host = Map(
        "wall_s" -> wall, "cores" -> nproc.toDouble, "spark_cores" -> cores.toDouble,
        "process_cpu_s" -> cpu,
        "iowait_s" -> (io1 - io0), "steal_s" -> (st1 - st0),
        "retained_heap_mb" -> retained, "retried_ops" -> retried.toDouble,
        "calib_s" -> calib, "calib_loaded_s" -> calibLoaded,
        "lost_share" -> (io1 - io0 + st1 - st0) / (wall * nproc))
      val all = outs.result()
      val res = Report(workload, w, setups, all, host, tracer, cores)
      tracer.foreach(_.writeJson(a("trace-out")))
      println(res.detail)
      println(res.result(trace))
    } finally spark.stop()
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Drop every cached frame and persistent RDD, waiting for the blocks to
    * go, so one op's pinned data never lands in the next op's time.
    */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** `{"name": [rows, "digest" or null, seconds], ...}`: null marks a query
    * whose rows are not reproducible run to run, checked by row count only;
    * seconds is the recorded cost that places the query in a cost stratum.
    */
  def readDigests(path: String): Map[String, Recorded] = {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8)
    """"([a-z0-9_]+)":\s*\[(\d+),\s*(null|"(-?\d+)"),\s*([0-9.]+)\]""".r
      .findAllMatchIn(txt)
      .map(m => m.group(1) ->
        Recorded(m.group(2).toLong, Option(m.group(4)), m.group(5).toDouble))
      .toMap
  }

  /** Digest every analytics query once; `run.py --record-digests` merges
    * several of these runs into `digests.json`.
    */
  private def recordDigests(data: String, out: String, cores: Int,
      work: String): Unit = {
    val spark = session(cores, work)
    try {
      val queries = Gen.analyticsQueries.sortBy(_.name)
      // untimed warm-up, so JVM start-up is not booked to the first query
      Digest.of(queries.head.fn(spark, data))
      release(spark)
      val lines = queries.map { q =>
        val t0 = System.nanoTime()
        val r = scala.util.Try(Digest.of(q.fn(spark, data)))
        val secs = (System.nanoTime() - t0) / 1e9
        release(spark)
        r match {
          case scala.util.Success((n, d)) => s"""  "${q.name}": [$n, "$d", $secs]"""
          case scala.util.Failure(e) =>
            System.err.println(s"[record] ${q.name} failed: $e")
            s"""  "${q.name}": "failed""""
        }
      }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
        lines.mkString("{\n", ",\n", "\n}\n"))
    } finally spark.stop()
  }
}
