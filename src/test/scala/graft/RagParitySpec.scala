package graft

import org.apache.spark.sql.SQLContext
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Layer-A golden test (FIXTURES.md §2): the reference README's freshness
  * scenario — ingest a fact, ask the matching question, expect the fact
  * in the answer (`README.md:241-267`) — through the full ingest + answer
  * pipelines on memory streams.
  */
class RagParitySpec extends SparkSuite {

  private def withTmp(prefix: String)(body: String => Unit): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory(prefix)
    try body(tmp.toString)
    finally { // best-effort recursive cleanup so repeated runs don't accumulate
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(java.nio.file.Files.walk(tmp))(
        _.iterator().asScala.toSeq).reverse
        .foreach(p => try java.nio.file.Files.deleteIfExists(p)
          catch { case _: Exception => () })
    }
  }

  test("ingest then answer returns the ingested fact (README freshness scenario)") {
    import spark.implicits._
    implicit val sq: SQLContext = spark.sqlContext
    withTmp("graft_parity_") { tmp =>
      val store = s"$tmp/store"; val out = s"$tmp/answers"

      val knowledge = MemoryStream[String]
      knowledge.addData(
        "The capital of France is Paris.",
        "Spark plans queries with the Catalyst optimizer.",
        "Flink processes unbounded streams with low latency.")
      streaming.Streams.ingest(knowledge.toDF().toDF("line"), store)

      val stored = spark.read.parquet(store)
      assert(stored.count() == 3)
      assert(stored.columns.toSet ==
        Set("vec_id", "text", "embedding", "metadata"))
      // TextSegment.from default: ingest without a metadata column
      // stores the EMPTY map, typed MAP<STRING,STRING>
      assert(stored.schema("metadata").dataType ==
        org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.StringType, valueContainsNull = true)
        || stored.schema("metadata").dataType ==
        org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.StringType, valueContainsNull = false))
      assert(stored.select(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.col("metadata"))).collect()
        .forall(_.getInt(0) == 0))

      val questions = MemoryStream[String]
      questions.addData("What is the capital of France?")
      streaming.Streams.answer(questions.toDF().toDF("line"), store, out, k = 2)

      val rows = spark.read.parquet(out).collect()
      assert(rows.length == 1)
      val r = rows.head
      val answer = r.getAs[String]("answer")
      assert(answer.contains("Paris"), s"answer was: $answer")
      val prompt = r.getAs[String]("prompt")
      assert(prompt.contains("What is the capital of France?"))
      assert(!prompt.contains("{{question}}") && !prompt.contains("{{information}}"))
      // template fidelity golden (RAG.java:67-74): the persona + refusal
      // preamble is carried verbatim, curly quotes and all — the LLM-visible
      // answer-style contract a reference user depends on
      assert(prompt.startsWith("You are Blip-Blop, an expert home-care " +
        "assistant. Strictly follow ALL provided context. If the context " +
        "is insufficient, answer “I don’t know:\n"), prompt.take(200))
      // determinism: running the same question again appends an identical row
      val questions2 = MemoryStream[String]
      questions2.addData("What is the capital of France?")
      streaming.Streams.answer(questions2.toDF().toDF("line"), store, out, k = 2)
      val again = spark.read.parquet(out).collect()
      assert(again.length == 2 && again.map(_.toString).distinct.length == 1)
    }
  }

  test("replayed ingest batch: store is at-least-once (duplicates kept, " +
      "no silent dedup), answers unchanged") {
    // The reference sink is at-least-once PER RECORD (AiJob.java:32,
    // StreamingStoreKnowledge.java:68-71: a non-transactional per-record
    // store call replayed after a crash re-adds the segment under a fresh
    // random id — duplicates survive). Our foreachBatch parquet append has
    // exactly the same contract: a batch replayed after a crash between
    // the append and the checkpoint commit appends AGAIN. This pins that
    // parity: the store must NOT dedup on replay (that would be a
    // stronger guarantee than documented, silently masking double-writes
    // the exactly-once fence — upsertGeneration's _COMMIT_BATCHID, pinned
    // in StreamingSpec — exists to catch), duplicates are VISIBLE to
    // retrieval, and the extractive answer is replay-invariant.
    import spark.implicits._
    implicit val sq: SQLContext = spark.sqlContext
    withTmp("graft_replay_") { tmp =>
      val store = s"$tmp/store"
      val facts = Seq(
        "The capital of France is Paris.",
        "Spark plans queries with the Catalyst optimizer.")
      val first = MemoryStream[String]
      first.addData(facts: _*)
      streaming.Streams.ingest(first.toDF().toDF("line"), store)
      val before = streaming.Streams.answerBatch(
        Seq("What is the capital of France?").toDF("line"), store, k = 2)
        .select("answer").head().getString(0)
      // the replay: a fresh checkpoint re-delivers the SAME lines — the
      // sink-side effect is identical to a crash-replayed epoch
      val replay = MemoryStream[String]
      replay.addData(facts: _*)
      streaming.Streams.ingest(replay.toDF().toDF("line"), store)
      val stored = spark.read.parquet(streaming.Streams.storeDataDir(store))
      assert(stored.count() == 4, "at-least-once append must keep replays")
      // every (vec_id, text) appears exactly twice — duplicated, not mixed
      val dupCounts = stored.groupBy("vec_id", "text").count().collect()
      assert(dupCounts.length == 2 && dupCounts.forall(_.getLong(2) == 2L),
        dupCounts.mkString(", "))
      // retrieval SEES the duplicates (ranks 1 and 2 share the best text):
      // at-least-once is an honest, visible contract, not a hidden dedup
      val hits = streaming.Streams.retrieveBatch(
        Seq("What is the capital of France?").toDF("line"), store, k = 2)
        .orderBy("rank").collect()
      assert(hits.length == 2 &&
        hits(0).getAs[String]("text") == hits(1).getAs[String]("text"),
        hits.mkString(" | "))
      // and the answer is replay-invariant — duplicate context rows never
      // change the best match (same text, same score)
      val after = streaming.Streams.answerBatch(
        Seq("What is the capital of France?").toDF("line"), store, k = 2)
        .select("answer").head().getString(0)
      assert(after == before, s"replay changed the answer: $before -> $after")
      assert(after.contains("Paris"), after)
    }
  }

  test("a second knowledge micro-batch CHANGES the answer to the same " +
      "question (the reference's incremental-freshness claim)") {
    // README.md:24-31 freshness contract: answers reflect knowledge
    // ingested AFTER the question was first answerable — not a frozen
    // index. Ask the same question before and after a second knowledge
    // micro-batch lands in the store; the answer must flip to the new
    // fact, deterministically both times.
    import spark.implicits._
    implicit val sq: SQLContext = spark.sqlContext
    withTmp("graft_fresh_") { tmp =>
      val store = s"$tmp/store"
      val out1 = s"$tmp/answers1"; val out2 = s"$tmp/answers2"

      // batch 1: distractors only — the store cannot answer the question
      val k1 = MemoryStream[String]
      k1.addData(
        "Spark plans queries with the Catalyst optimizer.",
        "Flink processes unbounded streams with low latency.")
      streaming.Streams.ingest(k1.toDF().toDF("line"), store)

      val q1 = MemoryStream[String]
      q1.addData("What is the capital of France?")
      streaming.Streams.answer(q1.toDF().toDF("line"), store, out1, k = 2)
      val a1 = spark.read.parquet(out1).collect()
      assert(a1.length == 1)
      val before = a1.head.getAs[String]("answer")
      assert(!before.contains("Paris"), s"premature: $before")

      // batch 2: the fact arrives as a LATER micro-batch into the SAME
      // store (ingest appends; the store is the accumulated generations)
      val k2 = MemoryStream[String]
      k2.addData("The capital of France is Paris.")
      streaming.Streams.ingest(k2.toDF().toDF("line"), store)
      assert(spark.read.parquet(store).count() == 3)

      val q2 = MemoryStream[String]
      q2.addData("What is the capital of France?")
      streaming.Streams.answer(q2.toDF().toDF("line"), store, out2, k = 2)
      val a2 = spark.read.parquet(out2).collect()
      assert(a2.length == 1)
      val after = a2.head.getAs[String]("answer")
      assert(after.contains("Paris"), s"stale after ingest: $after")
      assert(after != before, "second batch did not change the answer")
      // the new fact also entered the prompt context the LLM would see
      assert(a2.head.getAs[String]("prompt")
        .contains("The capital of France is Paris."))
    }
  }

  test("TextSegment metadata round-trips: ingest -> store -> retrieved matches") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, map, lit}
    implicit val sq: SQLContext = spark.sqlContext
    withTmp("graft_meta_") { tmp =>
      val store = s"$tmp/store"
      // segments with per-document metadata (langchain4j {text, metadata})
      val knowledge = MemoryStream[String]
      knowledge.addData(
        "The capital of France is Paris.",
        "Spark plans queries with the Catalyst optimizer.")
      streaming.Streams.ingest(
        knowledge.toDF().toDF("line")
          .withColumn("metadata", map(
            lit("source"), lit("unit-test"),
            lit("lang"), lit("en"))),
        store)
      // the store carries the typed map verbatim
      val stored = spark.read.parquet(store)
      assert(stored.columns.contains("metadata"))
      val metas = stored.select("metadata").collect()
        .map(_.getMap[String, String](0))
      assert(metas.length == 2 &&
        metas.forall(m => m("source") == "unit-test" && m("lang") == "en"))
      // ...and retrieval hands it back on every match, reference-shaped
      val questions = MemoryStream[String]
      questions.addData("What is the capital of France?")
      var out: Array[org.apache.spark.sql.Row] = Array.empty
      val q = questions.toDF().toDF("line").writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          out = streaming.Streams.retrieveBatch(b, store, k = 2).collect()
        }
        .start()
      q.awaitTermination()
      assert(out.length == 2, s"expected 2 matches, got ${out.length}")
      out.foreach { r =>
        val m = r.getMap[String, String](r.fieldIndex("metadata"))
        assert(m("source") == "unit-test" && m("lang") == "en", r.toString)
      }
      assert(out.map(_.getAs[Int]("rank")).sorted.toSeq == Seq(1, 2))
      // top match is the ingested fact
      assert(out.minBy(_.getAs[Int]("rank")).getAs[String]("text")
        .contains("Paris"))
    }
  }

  test("retrieveBatch on a pre-metadata store yields empty maps") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, xxhash64}
    implicit val sq: SQLContext = spark.sqlContext
    withTmp("graft_oldstore_") { tmp =>
      val store = s"$tmp/store"
      // a store generation written BEFORE the metadata column existed:
      // three columns only, the shape every pre-round-12 ingest produced
      Seq("The capital of France is Paris.", "Catalyst optimizes plans.")
        .toDF("text")
        .select(xxhash64(col("text")).as("vec_id"), col("text"),
          graft.functions.feature_hash_embed(col("text"), 64)
            .as("embedding"))
        .write.parquet(store)
      val questions = MemoryStream[String]
      questions.addData("What is the capital of France?")
      var out: Array[org.apache.spark.sql.Row] = Array.empty
      val q = questions.toDF().toDF("line").writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          out = streaming.Streams.retrieveBatch(b, store, k = 2).collect()
        }
        .start()
      q.awaitTermination()
      assert(out.length == 2)
      // the TextSegment.from default surfaces as the EMPTY map, typed
      out.foreach { r =>
        assert(r.getMap[String, String](r.fieldIndex("metadata")).isEmpty,
          r.toString)
      }
    }
  }

  test("compaction keeps metadata on a mixed-footer store whose first " +
      "file is pre-metadata") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, map, xxhash64}
    implicit val sq: SQLContext = spark.sqlContext
    withTmp("graft_mixed_compact_") { tmp =>
      val store = s"$tmp/store"
      // a pre-metadata file that sorts before every ingest file
      val old = s"$tmp/old"
      Seq("Catalyst optimizes plans.").toDF("text")
        .select(xxhash64(col("text")).as("vec_id"), col("text"),
          graft.functions.feature_hash_embed(col("text"), 64).as("embedding"))
        .coalesce(1).write.parquet(old)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(store))
      val part = new java.io.File(old).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      java.nio.file.Files.move(part,
        java.nio.file.Paths.get(store, "a-old.parquet"))
      val knowledge = MemoryStream[String]
      knowledge.addData("The capital of France is Paris.",
        "Spark plans queries with the Catalyst optimizer.")
      streaming.Streams.ingest(
        knowledge.toDF().toDF("line")
          .withColumn("metadata", map(lit("source"), lit("unit-test"))),
        store)
      assert(streaming.Streams.compactStore(spark, store) == 1)
      val compacted = spark.read.parquet(streaming.Streams.storeDataDir(store))
      assert(compacted.columns.contains("metadata"), compacted.schema.treeString)
      val metas = compacted.select("text", "metadata").collect()
        .map(r => r.getString(0) -> Option(r.getMap[String, String](1)))
        .toMap
      assert(metas.size == 3)
      assert(metas("Catalyst optimizes plans.").isEmpty)
      assert(metas.removed("Catalyst optimizes plans.").values
        .forall(_.contains(Map("source" -> "unit-test"))), metas.toString)
    }
  }

  test("compactStore publishes atomically: a concurrent reader sees one whole generation") {
    import spark.implicits._
    implicit val sq: SQLContext = spark.sqlContext
    withTmp("graft_compact_t_") { tmp =>
      val store = s"$tmp/store"

      // three ingest runs = three appended file generations in the flat root
      Seq("The capital of France is Paris.",
          "Spark plans queries with the Catalyst optimizer.",
          "Flink processes unbounded streams with low latency.").foreach { fact =>
        val ms = MemoryStream[String]
        ms.addData(fact)
        streaming.Streams.ingest(ms.toDF().toDF("line"), store)
      }
      def flatParquetCount = new java.io.File(store).listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(flatParquetCount >= 3, s"expected >=3 file generations")
      def sortedRows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toString).sorted.toSeq
      val rowsBefore = sortedRows(streaming.Streams.storeRead(spark, store))

      // a reader PLANNED before the swap (its file listing is resolved now)
      val preSwapReader = streaming.Streams.storeRead(spark, store)

      val n = streaming.Streams.compactStore(spark, store)
      assert(n == 1, s"expected 1 compacted file, got $n")
      val live = streaming.Streams.storeDataDir(store)
      assert(live != store, "CURRENT pointer should name a generation dir")
      assert(new java.io.File(live).listFiles()
        .count(_.getName.endsWith(".parquet")) == 1)

      // the pre-swap reader still executes against its (retained) old
      // generation — no FileNotFound, no partial store
      assert(sortedRows(preSwapReader) == rowsBefore)
      // a post-swap reader sees identical rows from the new generation
      assert(sortedRows(streaming.Streams.storeRead(spark, store)) == rowsBefore)

      // ingest after compaction lands in the live generation
      val ms4 = MemoryStream[String]
      ms4.addData("DuckDB is the oracle engine for this test suite.")
      streaming.Streams.ingest(ms4.toDF().toDF("line"), store)
      assert(streaming.Streams.storeRead(spark, store).count() == 4)

      // a second compaction purges the now-two-generations-old flat files
      val n2 = streaming.Streams.compactStore(spark, store)
      assert(n2 == 1)
      assert(flatParquetCount == 0,
        "flat-root generation should be purged after the second compaction")
      // one retention rule: CURRENT plus the live and the superseded
      // generation — generation 0's _SUCCESS and .crc files are gone too
      assert(new java.io.File(store).list().toSet ==
        Set("CURRENT", "gen-1", "gen-2"))
      assert(streaming.Streams.storeRead(spark, store).count() == 4)

      // retrieval against the compacted store is unchanged
      val questions = MemoryStream[String]
      questions.addData("What is the capital of France?")
      val outDir = s"$tmp/answers"
      streaming.Streams.answer(questions.toDF().toDF("line"), store, outDir, k = 2)
      val answer = spark.read.parquet(outDir).collect().head.getAs[String]("answer")
      assert(answer.contains("Paris"), s"answer was: $answer")
    }
  }

  test("replayed answer epoch: the batchId-keyed overwrite sink is " +
      "effectively exactly-once (no duplicate answers)") {
    // Complements the ingest-replay case above on the ANSWER path. The
    // reference's answers sink is AT_LEAST_ONCE (AiJob.java:25-33:
    // checkpointed offsets + non-transactional producer re-SEND a
    // crash-replayed epoch), and our plain `answer` parquet append has
    // the same contract — pinned in the first test ("running the same
    // question again appends an identical row"). answerExactlyOnce is
    // the documented upgrade: foreachBatch epoch ids are stable across
    // a replay, so writing each epoch to outDir/epoch=<batchId> with
    // OVERWRITE makes the replayed epoch converge to the same bytes
    // instead of appending a duplicate.
    import spark.implicits._
    implicit val sq: SQLContext = spark.sqlContext
    withTmp("graft_eo_") { tmp =>
      val store = s"$tmp/store"; val out = s"$tmp/answers"
      val k = MemoryStream[String]
      k.addData(
        "The capital of France is Paris.",
        "Spark plans queries with the Catalyst optimizer.")
      streaming.Streams.ingest(k.toDF().toDF("line"), store)

      val q1 = MemoryStream[String]
      q1.addData("What is the capital of France?")
      streaming.Streams.answerExactlyOnce(
        q1.toDF().toDF("line"), store, out, s"$tmp/ckpt1", k = 2)
      val first = spark.read.parquet(out).collect()
      assert(first.length == 1)
      assert(first.head.getAs[String]("answer").contains("Paris"))

      // the replay: a FRESH checkpoint re-delivers the same question as
      // the same epoch 0 — sink-side this is identical to a crash
      // between the epoch write and the checkpoint commit
      val q2 = MemoryStream[String]
      q2.addData("What is the capital of France?")
      streaming.Streams.answerExactlyOnce(
        q2.toDF().toDF("line"), store, out, s"$tmp/ckpt2", k = 2)
      val after = spark.read.parquet(out).collect()
      assert(after.length == 1,
        s"replayed epoch appended instead of overwriting: ${after.length}")
      assert(after.head.toString == first.head.toString,
        s"replay changed the row: ${first.head} -> ${after.head}")

      // contrast: the at-least-once sink DOES duplicate under the same
      // replay (the honest reference-parity contract, not a bug)
      val alo = s"$tmp/answers_alo"
      for (_ <- 1 to 2) {
        val q = MemoryStream[String]
        q.addData("What is the capital of France?")
        streaming.Streams.answer(q.toDF().toDF("line"), store, alo, k = 2)
      }
      assert(spark.read.parquet(alo).count() == 2)
    }
  }
}
