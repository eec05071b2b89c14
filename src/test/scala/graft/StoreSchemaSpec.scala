package graft

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, lit, map, xxhash64}
import graft.streaming.Streams

/** The file-backed stores' schemas come from their parquet footers
  * ([[Tables.resolve]]): no Spark job per read, the schema `mergeSchema`
  * inference would give, and a footer cache that follows the live
  * generation.
  */
class StoreSchemaSpec extends SparkSuite {
  import spark.implicits._
  implicit private def sq: SQLContext = spark.sqlContext

  private def withStore(body: String => Unit): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_store_schema_")
    try body(tmp.resolve("store").toString)
    finally Streams.deleteTree(tmp)
  }

  private def ingest(store: String, lines: String*): Unit = {
    val ms = MemoryStream[String]
    ms.addData(lines: _*)
    Streams.ingest(ms.toDF().toDF("line")
      .withColumn("metadata", map(lit("source"), lit("spec"))), store)
  }

  /** A pre-metadata file named to sort before every ingest file. */
  private def writePreMetadataFile(store: String): Unit = {
    val old = java.nio.file.Files.createTempDirectory("graft_old_")
    try {
      Seq("Catalyst optimizes plans.").toDF("text")
        .select(xxhash64(col("text")).as("vec_id"), col("text"),
          graft.functions.feature_hash_embed(col("text"), 64).as("embedding"))
        .coalesce(1).write.mode("overwrite").parquet(old.toString)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(store))
      val part = old.toFile.listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(store, "a-old.parquet"))
    } finally Streams.deleteTree(old)
  }

  private def rollup(store: String): Unit = {
    def ts(hhmm: String) = java.sql.Timestamp.valueOf(s"2026-01-01 $hhmm:00")
    Seq(Seq((ts("10:00"), "click", 1.5), (ts("10:10"), "view", 2.0)),
        Seq((ts("11:00"), "click", 0.5)))
      .foreach(b => operators.Streaming.mergeRollupBatch(
        b.toDF("ts", "event_type", "value"), store))
  }

  private def scd2(store: String): Unit = {
    val orders = Tables.orders(spark, sf).where(col("o_custkey") < 50)
    Seq(0, 1).foreach(p => operators.Streaming.mergeScd2Batch(
      orders.where(col("o_orderkey") % 2 === p), store))
  }

  private def inferred(store: String): DataFrame =
    spark.read.option("mergeSchema", "true")
      .parquet(Streams.storeDataDir(store))

  test("cold and warm storeRead launch no Spark job, on the vector store " +
      "and a rollup store") {
    withStore { store =>
      ingest(store, "The capital of France is Paris.")
      ingest(store, "Spark plans queries with the Catalyst optimizer.")
      assert(jobsOf(Streams.storeRead(spark, store).schema) == 0, "cold")
      assert(jobsOf(Streams.storeRead(spark, store).schema) == 0, "warm")
      assert(Streams.storeRead(spark, store).count() == 2)
    }
    withStore { store =>
      rollup(store)
      assert(jobsOf(Streams.storeRead(spark, store).schema) == 0, "cold")
      assert(jobsOf(Streams.storeRead(spark, store).schema) == 0, "warm")
      assert(Streams.storeRead(spark, store).count() == 2)
    }
  }

  test("the resolved store schema is what mergeSchema inference gives") {
    withStore { store =>
      ingest(store, "The capital of France is Paris.")
      ingest(store, "Spark plans queries with the Catalyst optimizer.")
      assert(Streams.storeRead(spark, store).schema == inferred(store).schema,
        "vector store")
    }
    withStore { store =>
      writePreMetadataFile(store)
      ingest(store, "The capital of France is Paris.")
      val got = Streams.storeRead(spark, store).schema
      assert(got == inferred(store).schema, "mixed pre-metadata store")
      assert(got.fieldNames.toSeq == Seq("vec_id", "text", "embedding", "metadata"))
    }
    withStore { store =>
      rollup(store)
      assert(Streams.storeRead(spark, store).schema == inferred(store).schema,
        "rollup store")
    }
    withStore { store =>
      scd2(store)
      assert(Streams.storeRead(spark, store).schema == inferred(store).schema,
        "SCD2 store")
    }
  }

  test("after ingest/compact cycles the footer cache holds only live files") {
    withStore { store =>
      def cached = Tables.cachedFiles(store)
        .map(p => new org.apache.hadoop.fs.Path(p).toUri.getPath)
      (1 to 6).foreach { i =>
        ingest(store, s"Fact number $i is stored.")
        assert(Streams.storeRead(spark, store).count() == i)
        Streams.compactStore(spark, store)
        assert(cached.nonEmpty && cached.forall(new java.io.File(_).isFile),
          s"cycle $i: $cached")
      }
      assert(Streams.storeRead(spark, store).count() == 6)
      val live = new java.io.File(Streams.storeDataDir(store)).listFiles()
        .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
        .map(_.getAbsolutePath).toSet
      assert(cached == live)
    }
  }
}
