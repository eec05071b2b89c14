package graft.streaming

import graft.Tables
import graft.functions._
import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Dataset,
  Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery,
  StreamingQueryProgress, Trigger}

/** Streaming sources + the two reference-parity pipelines
  * (SURVEY.md §2.1 / §3.4), Spark-first:
  *
  *  - reference `AiJob` (Kafka questions → per-record RAG map → Kafka
  *    answers, `AiJob.java:16-57`) → [[AnswerPipeline]]: a streaming
  *    DataFrame of questions answered per micro-batch against a
  *    parquet-backed vector store — set-oriented retrieval instead of one
  *    network round-trip per record.
  *  - reference `StreamingStoreKnowledge` (Kafka knowledge_updates →
  *    per-record embed → per-record OpenSearch write,
  *    `StreamingStoreKnowledge.java:28-76`) → [[IngestPipeline]]:
  *    embed in the scan stage (codegen'd expression, no per-record client)
  *    and append whole partitions to the parquet store per batch.
  *
  * Delivery: Spark's Kafka sink and file sink under checkpointing are
  * at-least-once — the same guarantee the reference declares
  * (`DeliveryGuarantee.AT_LEAST_ONCE`, `AiJob.java:32`).
  */
object Streams {

  /** Kafka-shaped source (A1/A2): value-only string payloads, mirroring
    * `SimpleStringSchema` + `setValueOnlyDeserializer` (`AiJob.java:19-24`).
    * Never started in tests (zero-egress environment); the plan shape and
    * options are what parity requires.
    */
  def kafkaLines(s: SparkSession, servers: String, topic: String,
      startingOffsets: String = "latest"): DataFrame =
    s.readStream.format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .load()
      .selectExpr("CAST(value AS STRING) AS line")

  /** File-backed stand-in for a Kafka topic of value-only strings. */
  def fileLines(s: SparkSession, dir: String): DataFrame =
    s.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("line",
          org.apache.spark.sql.types.StringType))))
      .parquet(dir)

  /** A base table as a file stream. The file source wants a directory,
    * and the fixture is a single file — a layout directory with one
    * symlink bridges that. The schema is the table's [[Tables.table]]
    * resolution, so a warm build runs no job.
    */
  private def tableStream(s: SparkSession, sfDir: String,
      name: String): DataFrame = {
    val schema = Tables.table(s, sfDir, name).schema
    val dir = layoutDir(s"stream_$name", sfDir) { d =>
      java.nio.file.Files.createSymbolicLink(
        java.nio.file.Paths.get(d, s"$name.parquet"),
        // toAbsolutePath: a RELATIVE sfDir would otherwise become a
        // relative symlink TARGET, which resolves against the watch dir
        // (not the cwd) — a broken link the file source silently reads
        // as an EMPTY stream
        java.nio.file.Paths.get(s"$sfDir/$name.parquet").toAbsolutePath)
    }
    s.readStream.schema(schema).parquet(dir)
  }

  /** The events table as a file stream, with the same type-adaptive ts
    * handling as Tables.events.
    */
  def eventsStream(s: SparkSession, sfDir: String): DataFrame =
    Tables.normalizeEventsTs(tableStream(s, sfDir, "events"))

  /** The documents table as a file stream. */
  def documentsStream(s: SparkSession, sfDir: String): DataFrame =
    tableStream(s, sfDir, "documents")

  /** The orders table as a file stream (`o_orderdate` is µs parquet, no
    * rebuild needed).
    */
  def ordersStream(s: SparkSession, sfDir: String): DataFrame =
    tableStream(s, sfDir, "orders")

  /** The embeddings table as a file stream (list<float> column streams
    * as-is).
    */
  def embeddingsStream(s: SparkSession, sfDir: String): DataFrame =
    tableStream(s, sfDir, "embeddings")

  /** Run `body` with a reduced shuffle-partition count — stateful
    * streaming ops allocate one state store per shuffle partition, and at
    * test scale 32 near-empty stores cost more than the data. (At 100 TB
    * the inverse applies: size state partitions to the key space.)
    */
  def withStatePartitions[T](s: SparkSession, n: Int)(body: => T): T =
    graft.Harness.withConfs(s, "spark.sql.shuffle.partitions" -> n.toString)(body)

  /** Run `df` to completion: start it with `trigger` (AvailableNow by
    * default), hand every micro-batch to `body`, await termination and
    * return the run's progress (its last
    * `spark.sql.streaming.numRecentProgressUpdates` batches, 100 by
    * default). The one place a streaming query in `src/main` is awaited
    * (it starts through [[start]]); a failed batch rethrows here. Results
    * go where `body` writes them, never into the driver.
    */
  def drain(df: DataFrame, mode: String,
      trigger: Trigger = Trigger.AvailableNow(),
      checkpoint: Option[String] = None)(body: (DataFrame, Long) => Unit)
      : Seq[StreamingQueryProgress] = {
    val q = start(df) { w0 =>
      val w = w0.outputMode(mode).trigger(trigger)
      checkpoint.fold(w)(c => w.option("checkpointLocation", c))
        .foreachBatch(body)
    }
    q.awaitTermination()
    q.recentProgress.toSeq
  }

  /** Start the streaming query that `writer` configures on `df`'s writer:
    * the one place a streaming query in `src/main` is started.
    *
    * Spark keys its generated-code cache on (context classloader, source).
    * Every start clones the session, and under artifact isolation
    * (`spark.sql.artifact.isolation.enabled`, on by default) the clone
    * gets a fresh artifact state, so its tasks run under a fresh
    * executor classloader and every generated class of the query is
    * compiled again at every start. The clone copies the session conf
    * when it is made, so turning isolation off around `start()` alone
    * lets every stream reuse the executor's one loader, and so each
    * generated class compiles once per JVM, while the caller's session
    * keeps its own setting. Results cannot change: the engine adds no
    * session artifacts (no jars, files or classes), so isolation has
    * nothing to keep apart.
    *
    * The clone's conf also names [[LocalCheckpointFiles]] as the
    * checkpoint file manager, so the stream's offset, commit and source
    * logs and its state-store files are written without forking a
    * process per file on a local disk, and serves `file:` with
    * [[LocalFiles]], so what its batches write (a store append, a run's
    * output, an answer sink) sets file modes without forking either. A
    * file source builds its log on the caller's session when the stream
    * thread initializes the query, after `start()` returns, so the confs
    * stay set until the query has initialized its sources.
    */
  private[graft] def start(df: DataFrame)(
      writer: DataStreamWriter[Row] => DataStreamWriter[Row]): StreamingQuery =
    graft.Harness.withConfs(df.sparkSession, Seq(
      "spark.sql.artifact.isolation.enabled" -> "false",
      "spark.sql.streaming.checkpointFileManagerClass" ->
        classOf[LocalCheckpointFiles].getName) ++ LocalFiles.confs: _*) {
      val q = writer(df.writeStream).start()
      q match {
        case w: StreamingQueryWrapper =>
          w.streamingQuery.awaitInitialization(Long.MaxValue)
        case _ => ()
      }
      q
    }

  /** Run `df` to completion into a fresh scratch directory and read the
    * result back as a batch DataFrame. Per mode, as Spark's sinks keep a
    * result table: `complete` rewrites the directory with each batch,
    * `append` and `update` append (an update-mode reader takes the last
    * update per key itself). The read uses the stream's own schema, so it
    * runs no inference job and is empty when no batch ran.
    */
  def runToTable(df: DataFrame, mode: String, statePartitions: Int = 8,
      trigger: Trigger = Trigger.AvailableNow()): DataFrame = {
    val dir = scratchDir("run_")
    val write = if (mode == "complete") "overwrite" else "append"
    withStatePartitions(df.sparkSession, statePartitions) {
      drain(df, mode, trigger) { (batch, _) =>
        batch.write.mode(write).parquet(dir)
      }
    }
    df.sparkSession.read.schema(df.schema).parquet(dir)
  }

  /** The per-JVM parent of every [[scratchDir]]; `Harness.release`
    * deletes it, and the next [[scratchDir]] makes it again.
    */
  private[graft] lazy val scratchRoot: java.nio.file.Path =
    java.nio.file.Files.createTempDirectory("graft_scratch_")

  /** A fresh directory for what one query writes (a run's output, a
    * scratch store, a checkpoint), under [[scratchRoot]]: it lives until
    * the next `Harness.release`.
    */
  def scratchDir(prefix: String): String = {
    java.nio.file.Files.createDirectories(scratchRoot)
    java.nio.file.Files.createTempDirectory(scratchRoot, prefix).toString
  }

  /** The per-JVM parent of every [[layoutDir]]. It outlives
    * `Harness.release` and is deleted when the JVM exits.
    */
  private[graft] lazy val layoutRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft_layouts_")
    sys.addShutdownHook(deleteTree(root))
    root
  }

  private val layouts =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()

  /** The directory of the layout `name` of the tables under `sfDir` (a
    * partitioned or sorted copy, an index, a stream's watch directory):
    * `build` fills a fresh directory under [[layoutRoot]] once per JVM,
    * and every later call returns that directory. Storage preparation
    * shared across queries, so `Harness.release` leaves it in place.
    */
  private[graft] def layoutDir(name: String, sfDir: String)(
      build: String => Unit): String =
    layouts.computeIfAbsent((name, sfDir), { _ =>
      val dir = java.nio.file.Files.createTempDirectory(layoutRoot, s"${name}_")
        .toString
      build(dir)
      dir
    })

  // ---- the generation protocol every file-backed store shares (the
  // vector store, the rollup and SCD2 views, the IVF index): the flat
  // root is generation 0; later generations are `gen-N` directories
  // named by an atomic CURRENT pointer ----

  private val Utf8 = java.nio.charset.StandardCharsets.UTF_8

  /** Directory holding the store's LIVE data: the generation named by the
    * `CURRENT` pointer once a generation has been published, else the
    * flat root (generation 0 — ingest's plain append layout or a fresh
    * index build — needs no pointer). Every reader resolves through this
    * once, at plan time.
    */
  def storeDataDir(storeDir: String): String = {
    val root = java.nio.file.Paths.get(storeDir)
    val cur = root.resolve("CURRENT")
    if (java.nio.file.Files.exists(cur))
      root.resolve(new String(java.nio.file.Files.readAllBytes(cur), Utf8).trim)
        .toString
    else storeDir
  }

  /** The directory the next generation is written to: `gen-(N+1)` for a
    * live `gen-N`, `gen-1` over the flat root. Nothing there is live or
    * retained, so a writer may overwrite what a crashed writer left.
    */
  private[graft] def nextGeneration(storeDir: String): String = {
    val live = storeDataDir(storeDir)
    val n =
      if (live == storeDir) 0
      else java.nio.file.Paths.get(live).getFileName.toString
        .stripPrefix("gen-").toInt
    java.nio.file.Paths.get(storeDir).resolve(s"gen-${n + 1}").toString
  }

  /** Publish the fully written generation `genDir` (from
    * [[nextGeneration]]): write `CURRENT.tmp`, ATOMIC_MOVE it onto
    * `CURRENT`, then apply the one retention rule. A reader resolves
    * `CURRENT` once at plan time, so a reader concurrent with the flip
    * sees EITHER the old or the new generation, never a mix.
    *
    * Retention keeps `CURRENT`, the new generation and the one it
    * superseded — a reader planned just before the flip still scans
    * intact files — and reclaims every other root entry. While the
    * superseded generation is the flat root, its entries ARE that
    * retained generation, so only stray `gen-N` directories go; once it
    * is a `gen-N` directory, generation 0's files and directories go
    * too, `_SUCCESS` and `.crc` files included.
    *
    * A crash before the move leaves the old generation live; a crash
    * after it leaves only garbage that the next publish reclaims.
    */
  private[graft] def publishGeneration(storeDir: String,
      genDir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(storeDir)
    val superseded = java.nio.file.Paths.get(storeDataDir(storeDir))
    val gen = java.nio.file.Paths.get(genDir).getFileName.toString
    val tmp = root.resolve("CURRENT.tmp")
    java.nio.file.Files.write(tmp, gen.getBytes(Utf8))
    java.nio.file.Files.move(tmp, root.resolve("CURRENT"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    val retained = Set(root.resolve("CURRENT"), root.resolve(gen), superseded)
    scala.util.Using.resource(java.nio.file.Files.list(root))(
      _.iterator().asScala.toSeq).foreach { p =>
      val name = p.getFileName.toString
      val isGen =
        name.startsWith("gen-") && name.stripPrefix("gen-").forall(_.isDigit)
      if (!retained(p) && (isGen || superseded != root)) deleteTree(p)
    }
  }

  /** `df.write` with [[LocalFiles]] serving `file:` for that write alone
    * (a write's options join its Hadoop conf): the one writer of the
    * engine's files outside a stream's batches (store generations,
    * layouts, query scratch, `Verify`'s dump), so a local write forks no
    * `chmod` per directory and file. No session conf changes, so a store
    * write inside a batch leaves the caller's session as it is.
    */
  private[graft] def fileWriter(df: DataFrame): DataFrameWriter[Row] =
    df.write.options(LocalFiles.confs.toMap)

  /** Read the store's live generation (resolved at plan time — a reader
    * holds one consistent generation for its whole lifetime).
    *
    * The schema merges every data file's footer: a store generation is
    * normally schema-uniform, but an old pre-metadata store that took
    * metadata-era appends before its next compaction holds mixed footers —
    * unmerged, which columns surface would depend on WHICH file footer is
    * sampled, so `metadata` could silently vanish based on file order.
    * Merged, pre-metadata rows surface metadata=NULL and retrieveBatch
    * restores the TextSegment empty-map default. Footers are read once per
    * file version and cached under the store root ([[Tables.resolve]]),
    * so a read runs no Spark job.
    */
  def storeRead(s: SparkSession, storeDir: String): DataFrame =
    Tables.readMerged(s, storeDir, storeDataDir(storeDir))

  /** Regular files under `p` ending in `suffix`; empty for a non-dir.
    * (Files.list must be closed — it holds a directory handle.)
    */
  private[graft] def listFiles(p: java.nio.file.Path, suffix: String)
      : Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    if (!java.nio.file.Files.isDirectory(p)) Seq.empty
    else scala.util.Using.resource(java.nio.file.Files.list(p)) { st =>
      st.iterator().asScala.filter(f =>
        java.nio.file.Files.isRegularFile(f) &&
          f.getFileName.toString.endsWith(suffix)).toSeq
    }
  }

  /** Delete `p` and everything under it, best-effort; a no-op when `p`
    * does not exist. The walk stream is closed — it holds directory
    * handles. The footer resolver forgets every read root at or under
    * `p`, so a deleted store leaves no cache entry behind.
    */
  private[graft] def deleteTree(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(p)) {
      val all = scala.util.Using.resource(java.nio.file.Files.walk(p))(
        _.iterator().asScala.toSeq)
      all.reverse.foreach(f =>
        try java.nio.file.Files.deleteIfExists(f) catch { case _: Exception => () })
    }
    Tables.forgetUnder(p)
  }

  /** IngestPipeline (A2–A4): lines → deterministic embedding →
    * append-only parquet vector store, batched per micro-batch (replaces
    * the reference's one-HTTP-call-per-record sink,
    * `StreamingStoreKnowledge.java:68-71`). Appends land in the store's
    * live generation so a compacted store keeps ingesting correctly.
    */
  def ingest(lines: DataFrame, storeDir: String, dim: Int = 64,
      filesPerBatch: Int = 1): Unit = {
    // TextSegment parity ({text, metadata} — langchain4j's segment shape,
    // StreamingStoreKnowledge.java:93): a `metadata` MAP<STRING,STRING>
    // column on the input rides into the store verbatim; absent, rows
    // carry the empty map `TextSegment.from(value)` defaults to. A
    // generation that mixes pre-metadata and metadata-era files is read
    // with the merged schema (storeRead), so the union schema always surfaces
    // and old rows resolve to the empty-map default in retrieveBatch.
    val withMeta =
      if (lines.columns.contains("metadata")) lines
      else lines.withColumn("metadata",
        map().cast("map<string,string>"))
    val rows = withMeta.select(
      xxhash64(col("line")).as("vec_id"),
      col("line").as("text"),
      feature_hash_embed(col("line"), dim).as("embedding"),
      col("metadata").cast("map<string,string>").as("metadata"))
    // one file-set per micro-batch still accumulates forever; coalesce
    // bounds files-per-batch (micro-batches are small relative to the
    // store by definition) and compactStore bounds the long-run total
    drain(rows, "append") { (batch, _) =>
      batch.coalesce(filesPerBatch).write.mode("append")
        .parquet(storeDataDir(storeDir))
    }
  }

  /** Rewrite the store into ~`targetFileBytes` files — the OPTIMIZE/
    * compaction step a per-micro-batch append store needs so scan cost
    * stays O(data), not O(batches). The reference's OpenSearch store
    * self-compacts (Lucene segment merges); a parquet store must do it
    * explicitly.
    *
    * Swap protocol (the local analogue of a table-format commit): the
    * compacted generation is written to [[nextGeneration]] and published
    * by [[publishGeneration]]'s atomic pointer flip, which also retains
    * the superseded generation one cycle for already-planned readers.
    * Returns the new file count (0 = empty store, nothing to do).
    *
    * Known limit (by design, stated honestly): an ingest micro-batch that
    * resolved the OLD generation and lands its files after compaction has
    * already read its input is not carried into the new generation — the
    * lost-append race every file-level swap has. Serialize compaction
    * with ingest (both are owner-side maintenance here), or use a table
    * format with optimistic-commit transactions on a real deployment.
    */
  def compactStore(s: SparkSession, storeDir: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    val dataDir = storeDataDir(storeDir)
    val parquets = listFiles(java.nio.file.Paths.get(dataDir), ".parquet")
    if (parquets.isEmpty) return 0 // empty store: no schema to resolve, no-op
    val totalBytes = parquets.map(java.nio.file.Files.size).sum
    val nFiles =
      math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
    val nextDir = nextGeneration(storeDir)
    // the merged schema: a mixed-footer generation keeps every column
    fileWriter(storeRead(s, storeDir).repartition(nFiles))
      .mode("overwrite").parquet(nextDir)
    publishGeneration(storeDir, nextDir)
    nFiles
  }

  /** Incremental materialized-view upsert: replace the store's live table
    * with `next(current)` — `None` on the first call — under the same
    * generation protocol as [[compactStore]]: readers see either the old
    * or the new generation, never a mix, and the previous generation is
    * retained one cycle for already-planned readers. The caller's `next`
    * does rollup-sized work (old rollup ∪ micro-batch partial,
    * re-grouped), NOT raw-data-sized work — that asymmetry is what makes
    * a streaming materialized view affordable at 100 TB.
    *
    * Exactly-once with `batchId` (the foreachBatch epoch): it is written
    * as a `_COMMIT_BATCHID` marker INSIDE the new generation dir before
    * the atomic pointer swap, so the marker becomes visible exactly when
    * the generation does. A replayed batch (crash AFTER the merge's
    * pointer swap but BEFORE the streaming checkpoint committed — the
    * window where a non-idempotent merge double-counts) finds its own id
    * already committed in the live generation and SKIPS — the batchId
    * fence that upgrades foreachBatch's at-least-once to exactly-once on
    * a plain file store, no transactional sink required. Spark's scans
    * ignore underscore-prefixed files, so the marker never pollutes
    * reads.
    */
  def upsertGeneration(s: SparkSession, storeDir: String,
      batchId: Option[Long] = None)(
      next: Option[DataFrame] => DataFrame): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(storeDir))
    val dataDir = java.nio.file.Paths.get(storeDataDir(storeDir))
    val committed: Option[Long] = {
      val marker = dataDir.resolve("_COMMIT_BATCHID")
      if (java.nio.file.Files.isRegularFile(marker))
        new String(java.nio.file.Files.readAllBytes(marker), Utf8)
          .trim.toLongOption
      else None
    }
    val replayed = (batchId, committed) match {
      case (Some(id), Some(c)) => c >= id
      case _                   => false
    }
    if (replayed)
      return // replayed epoch: the live generation already contains it
    val cur =
      if (listFiles(dataDir, ".parquet").nonEmpty)
        Some(storeRead(s, storeDir))
      else None
    val nextDir = nextGeneration(storeDir)
    fileWriter(next(cur)).mode("overwrite").parquet(nextDir)
    batchId.foreach(id => java.nio.file.Files.write(
      java.nio.file.Paths.get(nextDir, "_COMMIT_BATCHID"),
      id.toString.getBytes(Utf8)))
    publishGeneration(storeDir, nextDir)
  }

  /** One micro-batch of RAG answering (A5–A11) as a reusable batch
    * transform: embed questions → cosine vs store → top-k per question →
    * context assembly → prompt render → extractive mock answer
    * (deterministic stand-in for the chat call, `RAG.java:87-98`). The
    * store is scored in its scan and never shuffled; at most k scored rows
    * per question per task cross one exchange on `question` (`top_k`).
    */
  def answerBatch(batch: DataFrame, storeDir: String,
      k: Int = 10, dim: Int = 64): DataFrame =
    graft.operators.Rag.answerTail(
      matches(batch, storeRead(batch.sparkSession, storeDir), dim, carry = Nil)
        .groupBy(col("question"))
        .agg(top_k(col("score"), col("text"), k).as("top")))

  /** Shared retrieval core (A7–A8): each batch question embedded and
    * scored against every `store` row at minScore ≥ 0.0, as (question,
    * text, carry…, score); callers cut the top k by (score, text).
    */
  private def matches(batch: DataFrame, store: DataFrame, dim: Int,
      carry: Seq[Column]): DataFrame = {
    val qs = batch.select(col("line").as("question"),
      feature_hash_embed(col("line"), dim).as("qvec"))
    store.crossJoin(broadcast(qs))
      .select(col("question") +: col("text") +: carry :+
        cosine_sim(col("embedding"), col("qvec")).as("score"): _*)
      .where(col("score") >= 0.0) // minScore(0.0), RAG.java:54
  }

  /** The retriever surface itself (the reference's
    * `EmbeddingStoreContentRetriever` returns whole TextSegments — text
    * PLUS metadata — even though the answer chain consumes only text):
    * top-k matches per question as (question, text, metadata, score,
    * rank), scored as in [[answerBatch]]. A store written before the
    * metadata column existed yields empty maps, the `TextSegment.from`
    * default.
    */
  def retrieveBatch(batch: DataFrame, storeDir: String,
      k: Int = 10, dim: Int = 64): DataFrame = {
    val store = storeRead(batch.sparkSession, storeDir)
    val hasMeta = store.columns.contains("metadata")
    // top_k orders full ties by the carry, and a MAP is not orderable
    val m = topKRows(matches(batch, store, dim,
        carry = if (hasMeta) Seq(map_entries(col("metadata")).as("metadata"))
                else Nil),
      Seq("question"), "score", "text", k, "rank")
    // pre-metadata rows in a mixed-generation store arrive as NULL under
    // the merged schema — restore the `TextSegment.from` empty-map default
    (if (hasMeta) m.withColumn("metadata", coalesce(
       map_from_entries(col("metadata")), map().cast("map<string,string>")))
     else m.withColumn("metadata", map().cast("map<string,string>")))
      .select(col("question"), col("text"), col("metadata"),
        col("score"), col("rank"))
  }

  private def runAnswer(questions: DataFrame, storeDir: String, k: Int,
      dim: Int, checkpointDir: Option[String])
      (sink: (DataFrame, Long) => Unit): Unit =
    drain(questions, "append", checkpoint = checkpointDir) { (batch, batchId) =>
      sink(answerBatch(batch, storeDir, k, dim), batchId)
    }

  /** AnswerPipeline (A5–A12), parquet sink: per micro-batch, answer every
    * question in the batch against the parquet vector store with ONE
    * set-oriented plan; results append to `outDir` as parquet.
    */
  def answer(questions: DataFrame, storeDir: String, outDir: String,
      k: Int = 10, dim: Int = 64): Unit =
    runAnswer(questions, storeDir, k, dim, None) { (answers, _) =>
      answers.write.mode("append").parquet(outDir)
    }

  /** AnswerPipeline with an EFFECTIVELY-EXACTLY-ONCE parquet answers
    * sink — the documented upgrade over the reference's AT_LEAST_ONCE
    * answer delivery (`AiJob.java:25-33`: checkpointed offsets + a
    * non-transactional producer re-SEND a crash-replayed epoch;
    * RagParitySpec pins the same append-again behavior for [[answer]]).
    * foreachBatch replays whole EPOCHS, and the epoch id is stable
    * across a replay, so an idempotent batchId-keyed overwrite (the
    * `stream_route_split` pattern) makes the replay converge instead of
    * duplicating: each epoch writes to `outDir/epoch=<batchId>` with
    * overwrite — a crash between the write and the checkpoint commit
    * re-runs the SAME epoch into the SAME directory. Readers see one
    * logical table at `outDir` (hive-style partition discovery; the
    * `epoch` column rides along as lineage).
    */
  def answerExactlyOnce(questions: DataFrame, storeDir: String,
      outDir: String, checkpointDir: String, k: Int = 10, dim: Int = 64)
      : Unit =
    runAnswer(questions, storeDir, k, dim, Some(checkpointDir)) {
      (answers, batchId) =>
        answers.write.mode("overwrite").parquet(s"$outDir/epoch=$batchId")
    }

  /** AnswerPipeline with the reference's Kafka answers sink (A12):
    * answers are produced to `topic` at-least-once — checkpointed source
    * offsets + a non-transactional producer give exactly the
    * `DeliveryGuarantee.AT_LEAST_ONCE` contract of `AiJob.java:25-33,53-55`
    * (a batch retried after a crash between produce and checkpoint
    * re-sends, never drops). Value-only string payloads mirror
    * `SimpleStringSchema`.
    */
  def answerToKafka(questions: DataFrame, storeDir: String, servers: String,
      topic: String, checkpointDir: String, k: Int = 10, dim: Int = 64)
      : Unit =
    runAnswer(questions, storeDir, k, dim, Some(checkpointDir)) {
      (answers, _) =>
      answers.select(col("answer").cast("string").as("value"))
        .write.format("kafka")
        .option("kafka.bootstrap.servers", servers)
        .option("topic", topic)
        .save()
    }

  /** Generic streaming Kafka sink (A12 surface): any streaming DataFrame
    * with a string-castable `valueCol` → `topic`, at-least-once under
    * `checkpointDir` — the direct `writeStream.format("kafka")` counterpart
    * of [[kafkaLines]]. Never started in tests (zero-egress environment);
    * StreamingSpec proves the real kafka sink is requested by its
    * connector-lookup error.
    */
  def kafkaSink(df: DataFrame, servers: String, topic: String,
      checkpointDir: String, valueCol: String = "answer")
      : StreamingQuery =
    start(df.select(col(valueCol).cast("string").as("value"))) {
      _.format("kafka")
        .option("kafka.bootstrap.servers", servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpointDir)
    }
}
