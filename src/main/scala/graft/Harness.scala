package graft
import org.apache.spark.sql.SparkSession

/** The one driver setup every entry point (Bench, ScalingBench, Profile,
  * Verify, Smoke, ScaleGen) shares: the session, the untimed warm-up and
  * the block release between measured queries. [[withConfs]] is the one
  * scoped session-conf change every operator uses.
  *
  * The session is `local[cpus]` with `cpus` shuffle partitions, where
  * `cpus` is `SPARK_GRAFT_CPUS` (the driver exports it) or else the
  * number of cores. Its time zone is pinned to UTC: the events readers
  * normalize `ts` via a TIMESTAMP_NTZ cast that is value-identical to the
  * stored instant only under a UTC session.
  */
object Harness {

  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Untimed warm-up: JVM/codegen/parquet-reader init otherwise lands on
    * whichever query runs first (~3 s of non-operator cost). A failure is
    * reported, not thrown, so it stays attributable: its cost would
    * otherwise land silently on the first timed query. `lineitem` is read
    * through [[Tables]], as the queries read it, so no schema-inference
    * job runs here either.
    */
  def warmUp(spark: SparkSession, sfDir: String): Unit =
    try {
      Tables.lineitem(spark, sfDir).limit(100).count()
      spark.range(10).select(org.apache.spark.sql.functions.sum("id")).count()
      // streaming machinery (incremental planner, state-store managers,
      // RocksDB native library) is also one-time init, not operator cost.
      // Every stream starts on the executor's one classloader
      // (Streams.start), so the code this stream generates stays compiled
      // for the later streams that share it
      withConfs(spark, "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
        val w = spark.readStream.format("rate-micro-batch")
          .option("rowsPerBatch", "10").load()
          .groupBy("value").count()
        graft.streaming.Streams.runToTable(w, "complete", 2).count()
      }
    } catch { case t: Throwable =>
      System.err.println(s"[warmup] failed: $t") }

  /** Run `body` with each `key -> value` set on the session, then put
    * every key back as it was: its prior value, or unset if it had none
    * (a key left at its default is unset, not pinned to the default).
    * The restore runs in `finally`, so a throwing body leaks no conf.
    */
  def withConfs[T](spark: SparkSession, confs: (String, String)*)(
      body: => T): T = {
    val set = spark.conf.getAll
    val prior = confs.map { case (k, _) => k -> set.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Release every block a query pinned (persist + localCheckpoint).
    * Leaked blocks otherwise crowd the unified-memory storage region and
    * later queries pay in spills: r05's dedup_minhash_collapse measured
    * 7.3 s in-sweep vs 2.7 s isolated. Dataset.unpersist can't reach
    * localCheckpoint blocks (RDD-level, not CacheManager), hence the
    * getPersistentRDDs sweep. The removal BLOCKS: async eviction
    * otherwise overlaps the next query's timed window (r8 saw an
    * in-sweep-only 7 s on a query that measures 1 s isolated), so paying
    * the removal wall here keeps it out of every measurement. Everything
    * the queries wrote under `Streams.scratchDir` (run outputs, scratch
    * stores, checkpoints) is deleted too, so nothing read lazily from
    * there may outlive the release.
    */
  def release(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    graft.streaming.Streams.deleteTree(graft.streaming.Streams.scratchRoot)
  }
}
