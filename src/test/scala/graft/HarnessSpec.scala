package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

class HarnessSpec extends SparkSuite {

  test("release frees every block a query pinned") {
    // label propagation both persists its edge frame and localCheckpoints
    // its rounds: both kinds must be gone after one release
    SparkEntry.queries("graph_label_propagation")(spark, sf).collect()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "the query pinned nothing, so this test proves nothing")
    Harness.release(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      spark.sparkContext.getPersistentRDDs.values.mkString(", "))
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("withConfs restores a set key and unsets an unset key when the " +
      "body throws") {
    val (set, unset) = ("graft.test.confs.set", "graft.test.confs.unset")
    // a Spark conf with a default reads as set, yet unset it stays
    val defaulted = "spark.sql.artifact.isolation.enabled"
    assert(spark.conf.getAll.get(defaulted).isEmpty)
    spark.conf.set(set, "prior")
    try {
      intercept[IllegalStateException] {
        Harness.withConfs(spark, set -> "scoped", unset -> "scoped",
            defaulted -> "false") {
          assert(spark.conf.get(set) == "scoped")
          assert(spark.conf.get(unset) == "scoped")
          assert(spark.conf.get(defaulted) == "false")
          throw new IllegalStateException("body failed")
        }
      }
      assert(spark.conf.get(set) == "prior")
      assert(spark.conf.getOption(unset).isEmpty)
      assert(spark.conf.getAll.get(defaulted).isEmpty)
    } finally spark.conf.unset(set)
  }

  private val mainRoot = Paths.get("src/main/scala")

  /** Lines of code (not comments) in each Scala file under `dir`. */
  private def codeLines(dir: Path): Seq[(Path, String)] =
    Files.walk(dir).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala")).sorted
      .flatMap(f => Files.readAllLines(f).asScala.map(l => (f, l.trim)))
      .filterNot { case (_, l) =>
        l.startsWith("//") || l.startsWith("*") || l.startsWith("/*") }

  test("only Harness builds a SparkSession") {
    val hits = codeLines(mainRoot).collect {
      case (f, l) if l.contains("SparkSession.builder") => f.toString }
    assert(hits == Seq("src/main/scala/graft/Harness.scala"), hits)
  }

  test("the generation pointer flip and conf save/restore live only in " +
      "their shared helpers") {
    def filesWith(needle: String): Set[String] = codeLines(mainRoot).collect {
      case (f, l) if l.contains(needle) => f.toString }.toSet
    assert(filesWith("CURRENT.tmp") ==
      Set("src/main/scala/graft/streaming/Streams.scala"))
    // Tables reads its inference confs into a file-version key
    assert(filesWith("conf.getOption") ==
      Set("src/main/scala/graft/Tables.scala"))
    assert(filesWith("conf.getAll") == Set("src/main/scala/graft/Harness.scala"))
  }

  test("table and store reads take their schema from the footer resolver") {
    // the read-backs of what a query wrote itself included
    val lines = codeLines(mainRoot).filter { case (f, _) =>
      Set("src/main/scala/graft/Tables.scala",
        "src/main/scala/graft/streaming/Streams.scala")(f.toString) ||
        f.toString.startsWith("src/main/scala/graft/operators/") }
    val merging = lines.collect {
      case (f, l) if l.contains("\"mergeSchema\"") => s"$f: $l" }
    assert(merging.isEmpty, merging.mkString("\n"))
    val parquetRead = """\.read(\.option\([^)]*\))*\.parquet\(""".r
    val inferring = lines.collect {
      case (f, l) if parquetRead.findFirstIn(l).nonEmpty &&
        !l.contains(".schema(") => s"$f: $l" }
    // the one schemaless read is the resolver's no-data-file fallback
    // (there is nothing to infer from, and Spark words the error)
    assert(inferring == Seq(
      "src/main/scala/graft/Tables.scala: case None => spark.read.parquet(path)"),
      inferring.mkString("\n"))
    val footerReads = codeLines(mainRoot).collect {
      case (f, l) if l.contains("ParquetFileReader.open") => f.toString }
    assert(footerReads == Seq("src/main/scala/graft/Tables.scala"), footerReads)
  }

  test("no hand-written per-key top-k cut: every one goes through top_k") {
    // a row_number/rank column cut at a fixed k is a per-key top-k, which
    // graft.functions.top_k computes with a bounded heap; a cut against a
    // per-row bound (rn <= fpp) is a prefix filter and is not matched
    val cut = """(col\("|\$")(rn|rnk|rank|rk)"\)?\s*<=\s*(\d+|[A-Za-z_]\w*)\b(?!\s*\()""".r
    // so is the first n of a descending-sorted per-key list, which
    // holds every entry of the key before it cuts
    val sortedPrefix = """slice\(\s*sort_array\(\s*collect_list\(""".r
    val hits = codeLines(mainRoot).collect {
      case (f, l) if cut.findFirstIn(l).nonEmpty ||
        sortedPrefix.findFirstIn(l).nonEmpty => s"$f: $l" }
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  /** `file: line` for each code line under src/main containing `needle`. */
  private def linesWith(needle: String): Seq[String] =
    codeLines(mainRoot).collect {
      case (f, l) if l.contains(needle) => s"$f: $l" }

  test("the stream band join and the link-prediction hot-middle cap are " +
      "each written once, in their builder") {
    assert(linesWith("expr(\"INTERVAL 5 MINUTES\")") == Seq(
      "src/main/scala/graft/operators/Streaming.scala: " +
        "col(\"ts_b\") <= col(\"ts_a\") + expr(\"INTERVAL 5 MINUTES\"),"),
      linesWith("expr(\"INTERVAL 5 MINUTES\")").mkString("\n"))
    assert(linesWith("> maxMiddleDegree") == Seq(
      "src/main/scala/graft/operators/Analytics.scala: " +
        "val hotMid = deg.where(col(\"dg\") > maxMiddleDegree)"),
      linesWith("> maxMiddleDegree").mkString("\n"))
  }

  test("the ts_* hourly rollup and its series arrays are each written " +
      "once, in their builder") {
    val analytics = "src/main/scala/graft/operators/Analytics.scala: "
    val rollup = "date_trunc(\"hour\", col(\"ts\"))"
    assert(linesWith(rollup) == Seq(
      // Analytics.hourlySeries, the one (event_type, h, v) rollup
      analytics + ".groupBy(col(\"event_type\"), " + rollup + ".as(\"h\"))",
      // ts_interpolate_linear: sums only the values above 150, so its
      // hours with none stay NULL for the interpolation
      analytics + ".groupBy(col(\"event_type\"), " + rollup + ".as(\"h\"))",
      // win_tumbling_batch: the streaming tumbling window's batch twin,
      // a count and a double sum per (window start, type)
      "src/main/scala/graft/operators/Windows.scala: .groupBy(" + rollup +
        ".as(\"win_start\"), col(\"event_type\"))"),
      linesWith(rollup).mkString("\n"))
    val arrays = "sort_array(collect_list(struct(col(\"h\")"
    assert(linesWith(arrays) == Seq(analytics +
      ".agg(" + arrays + ", col(\"v\")))).as(\"sr\"))"),
      linesWith(arrays).mkString("\n"))
  }

  test("every run-to-completion stream goes through Streams.drain, and no " +
      "memory sink holds results on the driver") {
    val memory = linesWith("format(\"memory\")")
    assert(memory.isEmpty, memory.mkString("\n"))
    assert(linesWith("awaitTermination") == Seq(
      "src/main/scala/graft/streaming/Streams.scala: q.awaitTermination()"),
      linesWith("awaitTermination").mkString("\n"))
  }

  test("every streaming query starts through Streams.start") {
    val helper = Seq("src/main/scala/graft/streaming/Streams.scala: " +
      "val q = writer(df.writeStream).start()")
    // Bench's own starts are its worker threads and its subprocess, and
    // Profile's is its JFR recording of process starts
    val starts = linesWith(".start()")
      .filterNot(_.startsWith("src/main/scala/graft/Bench.scala: "))
      .filterNot(_ == "src/main/scala/graft/Profile.scala: rec.start()")
    assert(starts == helper, starts.mkString("\n"))
    assert(linesWith("writeStream") == helper,
      linesWith("writeStream").mkString("\n"))
  }

  test("the isolation conf and the checkpoint file manager are set only " +
      "in Streams.start") {
    for ((conf, line) <- Seq(
        "spark.sql.artifact.isolation.enabled" ->
          "\"spark.sql.artifact.isolation.enabled\" -> \"false\",",
        "checkpointFileManagerClass" ->
          "\"spark.sql.streaming.checkpointFileManagerClass\" ->"))
      assert(linesWith(conf) ==
        Seq(s"src/main/scala/graft/streaming/Streams.scala: $line"),
        linesWith(conf).mkString("\n"))
  }

  test("the local filesystem is named in one conf pair, applied only by " +
      "Streams.start and the store writer") {
    assert(linesWith("fs.file.impl") == Seq(
      "src/main/scala/graft/streaming/LocalFiles.scala: " +
        "\"fs.file.impl\" -> classOf[LocalFiles].getName,",
      "src/main/scala/graft/streaming/LocalFiles.scala: " +
        "\"fs.file.impl.disable.cache\" -> \"true\")"),
      linesWith("fs.file.impl").mkString("\n"))
    assert(linesWith("LocalFiles.confs") == Seq(
      "src/main/scala/graft/streaming/Streams.scala: " +
        "classOf[LocalCheckpointFiles].getName) ++ LocalFiles.confs: _*) {",
      "src/main/scala/graft/streaming/Streams.scala: " +
        "df.write.options(LocalFiles.confs.toMap)"),
      linesWith("LocalFiles.confs").mkString("\n"))
  }

  test("query scratch lives under the one scratch root; only the memoized " +
      "cross-query layouts make their own temp directories") {
    // Streams makes every local directory the engine writes: per-query
    // scratch under the scratch root, layouts under the layout root
    val dirs = linesWith("createTempDirectory")
    assert(dirs == Seq(
      "src/main/scala/graft/streaming/Streams.scala: " +
        "java.nio.file.Files.createTempDirectory(\"graft_scratch_\")",
      "src/main/scala/graft/streaming/Streams.scala: " +
        "java.nio.file.Files.createTempDirectory(scratchRoot, prefix).toString",
      "src/main/scala/graft/streaming/Streams.scala: " +
        "val root = java.nio.file.Files.createTempDirectory(\"graft_layouts_\")",
      "src/main/scala/graft/streaming/Streams.scala: " +
        "val dir = java.nio.file.Files.createTempDirectory(layoutRoot, s\"${name}_\")"),
      dirs.mkString("\n"))
    // no query builds a path of its own from the local dir or a random tag
    val paths = codeLines(mainRoot.resolve("graft").resolve("operators"))
      .collect { case (f, l) if l.contains("spark.local.dir") ||
        l.contains("randomUUID") => s"$f: $l" }
    assert(paths.isEmpty, paths.mkString("\n"))
  }

  test("every engine file write outside a stream's batches goes through " +
      "Streams.fileWriter") {
    val write = """\.write(To)?\b(?!\s*\()""".r
    val raw = codeLines(mainRoot).collect {
      case (f, l) if write.findFirstIn(l).nonEmpty => s"$f: $l" }
    val main = "src/main/scala/graft"
    assert(raw == Seq(
      // ScaleGen's fixture copies, outside the query paths
      s"$main/ScaleGen.scala: df.repartition(parts).write.mode(\"overwrite\")",
      s"$main/ScaleGen.scala: df.coalesce(1).write.mode(\"overwrite\").parquet(tmp)",
      // bucketedJoin's catalog tables: write options would be stored in
      // the tables' storage properties
      s"$main/operators/Extended.scala: " +
        "Tables.orders(s, d).write.mode(\"overwrite\")",
      s"$main/operators/Extended.scala: " +
        "Tables.lineitem(s, d).select(\"l_orderkey\").write.mode(\"overwrite\")",
      s"$main/operators/Extended.scala: " +
        ".write.mode(\"overwrite\").format(\"jdbc\")",
      s"$main/operators/Pipeline.scala: " +
        ".write.format(\"noop\").mode(\"overwrite\").save()",
      // foreachBatch sinks: Streams.start's confs serve their file: writes
      s"$main/operators/Streaming.scala: " +
        "batch.where(gate).write.mode(\"overwrite\")",
      s"$main/operators/Streaming.scala: " +
        "batch.where(!coalesce(gate, lit(false))).write.mode(\"overwrite\")",
      s"$main/operators/Streaming.scala: " +
        "batch.write.format(\"noop\").mode(\"overwrite\").save()",
      s"$main/operators/Streaming.scala: " +
        "batch.write.format(\"noop\").mode(\"overwrite\").save()",
      s"$main/operators/Streaming.scala: " +
        ".write.mode(\"append\").partitionBy(\"cell\")",
      s"$main/operators/Streaming.scala: " +
        "batch.write.mode(\"append\").parquet(out)",
      s"$main/streaming/Streams.scala: batch.write.mode(write).parquet(dir)",
      // the writer itself
      s"$main/streaming/Streams.scala: df.write.options(LocalFiles.confs.toMap)",
      s"$main/streaming/Streams.scala: " +
        "batch.coalesce(filesPerBatch).write.mode(\"append\")",
      s"$main/streaming/Streams.scala: " +
        "answers.write.mode(\"append\").parquet(outDir)",
      s"$main/streaming/Streams.scala: " +
        "answers.write.mode(\"overwrite\").parquet(s\"$outDir/epoch=$batchId\")",
      s"$main/streaming/Streams.scala: .write.format(\"kafka\")"),
      raw.mkString("\n"))
  }

  /** The scratch root's entries, empty when it does not exist. */
  private def scratchEntries: Seq[Path] =
    if (!Files.isDirectory(streaming.Streams.scratchRoot)) Nil
    else scala.util.Using.resource(Files.list(streaming.Streams.scratchRoot))(
      _.iterator().asScala.toSeq)

  test("release leaves no temp view and no run directory behind") {
    def tempViews = spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).toSet
    val before = tempViews
    Seq("stream_tumbling_agg", "stream_state_reader", "stream_late_data",
      "source_rate_stream").foreach { q =>
      assert(SparkEntry.queries(q)(spark, sf).collect().nonEmpty, q)
    }
    assert(scratchEntries.nonEmpty, "the queries wrote no run directory")
    Harness.release(spark)
    assert(tempViews.diff(before).isEmpty, tempViews.diff(before))
    assert(scratchEntries.isEmpty, scratchEntries.mkString(", "))
  }

  /** `graft_*` entries directly under the local dir and the temp dir. */
  private def tempEntries: Set[Path] =
    Seq(spark.conf.get("spark.local.dir", "/tmp"),
        System.getProperty("java.io.tmpdir"))
      .map(Paths.get(_)).filter(Files.isDirectory(_)).flatMap { d =>
        scala.util.Using.resource(Files.list(d))(_.iterator().asScala
          .filter(_.getFileName.toString.startsWith("graft_")).toSeq)
      }.toSet

  test("queries that write and read back fork no chmod and leave nothing " +
      "outside the scratch and layout roots after release") {
    Harness.release(spark)
    val before = tempEntries
    val (_, forks) = Profile.processStarts(Seq("maintenance_compact_files",
      "agg_partial_reaggregate", "sink_parquet_roundtrip",
      "layout_range_sort", "sink_partitioned_overwrite",
      "source_json_roundtrip").foreach { q =>
      assert(SparkEntry.queries(q)(spark, sf).collect().nonEmpty, q)
    })
    val chmods = forks.filter(_.split(" ").head.endsWith("chmod"))
    assert(chmods.size == 0, chmods.take(5).mkString("\n"))
    Harness.release(spark)
    val left = tempEntries -- before --
      Seq(streaming.Streams.scratchRoot, streaming.Streams.layoutRoot)
    assert(left.isEmpty, left.mkString(", "))
  }

  test("processStarts reads only process starts while another JFR " +
      "recording runs") {
    val other = new jdk.jfr.Recording()
    other.enable("jdk.ThreadStart")
    other.start()
    try {
      val (_, forks) = Profile.processStarts {
        val t = new Thread(() => ())
        t.start(); t.join()
        new ProcessBuilder("true").start().waitFor()
      }
      assert(forks.contains("true"), forks)
    } finally other.close()
  }

  test("release drops the footer-cache roots of the scratch stores it " +
      "deletes") {
    Seq("ann_ivf_delete_compact", "stream_incremental_rollup",
      "stream_scd2_upsert").foreach { q =>
      assert(SparkEntry.queries(q)(spark, sf).collect().nonEmpty, q)
    }
    // a store is cached under its root, an index layer under root#layer;
    // the lifecycle's compaction keeps its centroids, so read them here
    scratchEntries.map(_.toString).filter(_.contains("ivf_life_")).foreach {
      d => operators.Ann.flatLayer(spark, d, streaming.Streams.storeDataDir(d),
        "centroids").count()
    }
    val roots = scratchEntries.map(_.toString).flatMap(d =>
      Seq(d, s"$d#centroids", s"$d#pq_codebook"))
    def cached = roots.filter(r => Tables.cachedFiles(r).nonEmpty)
    assert(cached.exists(_.endsWith("#centroids")) &&
      cached.count(!_.contains("#")) >= 2, cached)
    Harness.release(spark)
    assert(cached.isEmpty, cached)
  }

  test("every persist and local checkpoint goes through Pin, and so does " +
      "every release but the harness sweep") {
    val hits = Seq(".persist(", ".cache()", ".localCheckpoint(",
        ".checkpoint(", ".unpersist(").flatMap(linesWith)
      .filterNot(_.startsWith("src/main/scala/graft/Pin.scala: "))
    assert(hits == Seq("src/main/scala/graft/Harness.scala: " +
      ".foreach(_.unpersist(blocking = true))"), hits.mkString("\n"))
  }

  test("Pin.release frees a checkpoint's own blocks and a cache; a frame " +
      "that is not a pin is an error") {
    Harness.release(spark)
    def pinned = spark.sparkContext.getPersistentRDDs.keySet
    val before = pinned
    val eager = Pin.now(spark.range(100).toDF("x"))
    val lazyCut = Pin.cut(spark.range(100).toDF("x"))
    val cached = Pin.cache(spark.range(100).toDF("y"))
    assert(lazyCut.count() == 100 && cached.count() == 100)
    assert((pinned -- before).size == 3, pinned -- before)
    // Dataset.unpersist reaches the cache manager only: a checkpoint
    // keeps its blocks
    eager.unpersist(blocking = true)
    assert((pinned -- before).size == 3, pinned -- before)
    Pin.release(eager, lazyCut, cached)
    assert(pinned == before, pinned -- before)
    assert(cached.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    intercept[IllegalArgumentException](Pin.release(eager))
    intercept[IllegalArgumentException](
      Pin.release(spark.range(3).toDF("x")))
  }

  test("Pin.scope frees what its body pinned, passes an eager result out, " +
      "and refuses a lazy one") {
    Harness.release(spark)
    def pinned = spark.sparkContext.getPersistentRDDs.keySet
    val before = pinned
    val out = Pin.scope {
      val c = Pin.cache(spark.range(50).toDF("x"))
      val inner = Pin.scope(Pin.now(c.where("x % 2 = 0")))
      Pin.now(inner.where("x < 10"))
    }
    // the outer result is the only pin left; the nested scope's eager
    // result and the cache it read are freed
    assert(out.count() == 5 && (pinned -- before).size == 1, pinned -- before)
    assert(spark.sharedState.cacheManager.isEmpty)
    Pin.release(out)
    assert(pinned == before)
    val ex = intercept[IllegalStateException](Pin.scope(
      Pin.cut(spark.range(50).toDF("x")).where("x > 3")))
    assert(ex.getMessage.contains("Pin.scope"), ex.getMessage)
    intercept[IllegalStateException](Pin.scope(
      (1L, Pin.cache(spark.range(50).toDF("x")).select("x"))))
    intercept[ArithmeticException](Pin.scope {
      Pin.now(spark.range(50).toDF("x")); 1 / 0 })
    assert(pinned == before && spark.sharedState.cacheManager.isEmpty)
  }

  test("operators, api, functions and streaming read no environment") {
    val hits = Seq("operators", "api", "functions", "streaming")
      .flatMap(d => codeLines(mainRoot.resolve("graft").resolve(d)))
      .collect { case (f, l)
        if l.contains("sys.env") || l.contains("getenv") => s"$f: $l" }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
