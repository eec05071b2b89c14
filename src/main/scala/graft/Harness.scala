package graft
import org.apache.spark.sql.SparkSession

/** The one driver setup every entry point (Bench, ScalingBench, Profile,
  * Verify, Smoke, ScaleGen) shares: the session, the untimed warm-up and
  * the block release between measured queries.
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
    * otherwise land silently on the first timed query.
    */
  def warmUp(spark: SparkSession, sfDir: String): Unit =
    try {
      spark.read.parquet(s"$sfDir/lineitem.parquet").limit(100).count()
      spark.range(10).select(org.apache.spark.sql.functions.sum("id")).count()
      // streaming machinery (incremental planner, state-store managers,
      // RocksDB native library) is also one-time init, not operator cost
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val w = spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", "10").load()
        .groupBy("value").count()
      graft.streaming.Streams.runToTable(w, "complete", 2).count()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    } catch { case t: Throwable =>
      System.err.println(s"[warmup] failed: $t") }

  /** Release every block a query pinned (persist + localCheckpoint).
    * Leaked blocks otherwise crowd the unified-memory storage region and
    * later queries pay in spills: r05's dedup_minhash_collapse measured
    * 7.3 s in-sweep vs 2.7 s isolated. Dataset.unpersist can't reach
    * localCheckpoint blocks (RDD-level, not CacheManager), hence the
    * getPersistentRDDs sweep. The removal BLOCKS: async eviction
    * otherwise overlaps the next query's timed window (r8 saw an
    * in-sweep-only 7 s on a query that measures 1 s isolated), so paying
    * the removal wall here keeps it out of every measurement.
    */
  def release(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }
}
