package graft

import org.apache.spark.sql.types._

/** FIXTURES.md-as-code gate: pins the driver-generated parquet dtypes so a
  * fixture regeneration that changes a type fails HERE, loudly, with the
  * table/column/expected/found in one line — instead of surfacing as dozens
  * of opaque analysis errors downstream (the round-10 `events.ts`
  * TIMESTAMP(NANOS)→timestamp[us] regeneration killed 57 queries that way).
  */
class FixtureSchemaSpec extends SparkSuite {

  test("every fixture table passes the Tables contract at every sf") {
    // resolution reads one footer per table and file version (30 at
    // first read here), cheap at these sizes; checking all three scale
    // dirs catches a partial regeneration (one sf updated, the others
    // stale)
    Seq("sf0.001", "sf0.01", "sf0.1").foreach { sfn =>
      val dir = s"/root/testdata/$sfn"
      Tables.names.foreach { t =>
        // table() itself asserts the contract on first read and throws a
        // one-line IllegalStateException on drift.
        val df = Tables.table(spark, dir, t)
        assert(df.schema.fields.nonEmpty, s"$sfn/$t read an empty schema")
      }
    }
  }

  test("events.ts arrives as a supported encoding and normalizes to TIMESTAMP") {
    val raw = Tables.table(spark, sf, "events").schema("ts").dataType
    assert(
      raw == TimestampType || raw == TimestampNTZType || raw == LongType,
      s"events.ts scanned as ${raw.simpleString} — reader has no branch for this")
    // Whatever the fixture era, the normalized reader must always hand
    // downstream queries a session-TZ TIMESTAMP named ts.
    assert(Tables.events(spark, sf).schema("ts").dataType == TimestampType)
    // and the streaming twin must agree (it shares the branch logic)
    assert(graft.streaming.Streams.eventsStream(spark, sf)
      .schema("ts").dataType == TimestampType)
  }

  test("contract violation names table, column, expected and found types") {
    val bad = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", IntegerType),      // drifted: STRING -> INT
      StructField("lang", StringType),
      StructField("source", StringType),
      StructField("n_chars", LongType)))
    val ex = intercept[IllegalStateException] {
      // package-private test hook — same code path table() runs on first read
      Tables.assertContractForTest("documents", bad, "<synthetic>/documents.parquet")
    }
    assert(ex.getMessage.contains("documents.parquet"))
    assert(ex.getMessage.contains("'text'"))
    assert(ex.getMessage.contains("int"))
    assert(ex.getMessage.contains("string"))
  }

  test("missing column is reported by name") {
    val bad = StructType(Seq(StructField("r_regionkey", IntegerType)))
    val ex = intercept[IllegalStateException] {
      Tables.assertContractForTest("region", bad, "<synthetic>/region.parquet")
    }
    assert(ex.getMessage.contains("'r_name'"))
    assert(ex.getMessage.contains("missing"))
  }

  test("nanos footer sweep descends into nested group types") {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.schema.Type.Repetition
    def ts(name: String, unit: LogicalTypeAnnotation.TimeUnit): PrimitiveType =
      Types.primitive(PrimitiveTypeName.INT64, Repetition.OPTIONAL)
        .as(LogicalTypeAnnotation.timestampType(true, unit))
        .named(name)
    val msg = Types.buildMessage()
      .addField(ts("top_us", LogicalTypeAnnotation.TimeUnit.MICROS))
      .addField(ts("top_ns", LogicalTypeAnnotation.TimeUnit.NANOS))
      .addField(Types.optionalGroup()
        .addField(ts("inner_us", LogicalTypeAnnotation.TimeUnit.MICROS))
        .addField(Types.optionalGroup()
          .addField(ts("deep_ns", LogicalTypeAnnotation.TimeUnit.NANOS))
          .named("lvl2"))
        .named("meta"))
      .named("root")
    import scala.jdk.CollectionConverters._
    val hits = msg.getFields.asScala.toSeq
      .flatMap(f => Tables.nanosFields(f, ""))
    // the nested hit surfaces with its full dotted path; µs fields don't
    assert(hits == Seq("top_ns", "meta.lvl2.deep_ns"), hits.toString)
  }

  /** Every table read once; events first, since its read turns the
    * session-wide nanosAsLong conf on, and that conf is part of every
    * table's resolved version.
    */
  private def warmAll(dir: String): Unit =
    ("events" +: Tables.names).foreach(t => Tables.table(spark, dir, t))

  test("warm table reads and query construction launch no Spark job") {
    warmAll(sf)
    Tables.names.foreach { t =>
      assert(jobsOf(Tables.table(spark, sf, t).schema) == 0,
        s"warm Tables.table($t) launched a job")
    }
    val q = SparkEntry.all.find(_.name == "dedup_exact").get
    q.fn(spark, sf)
    assert(jobsOf(q.fn(spark, sf)) == 0, "warm dedup_exact q.fn launched a job")
    // the probe itself does see a job
    assert(jobsOf(spark.range(1).count()) >= 1)
    // and a cold resolution, of a fresh copy, reads footers without one
    val dir = java.nio.file.Files.createTempDirectory("graft_jobs_").toString
    try {
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/region.parquet"),
        java.nio.file.Paths.get(s"$dir/region.parquet"))
      assert(jobsOf(Tables.table(spark, dir, "region")) == 0)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("reads through the resolved schema return the rows a plain read does") {
    warmAll(sf)
    Tables.names.foreach { t =>
      val cached = Tables.table(spark, sf, t)
      val plain = spark.read.parquet(s"$sf/$t.parquet")
      assert(cached.schema == plain.schema, t)
      assert(cached.collect().map(_.toString).sorted.toSeq ==
        plain.collect().map(_.toString).sorted.toSeq, t)
    }
  }

  test("resolved schema follows spark.sql.parquet.inferTimestampNTZ.enabled") {
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val prev = spark.conf.getOption(key)
    // a local-time (isAdjustedToUTC=false) timestamp column, written
    // without Spark's schema metadata (which would pin the type): the
    // encoding whose inferred type the conf flips. `ticks` has no
    // contract, so only the resolution itself is under test.
    val dir = java.nio.file.Files.createTempDirectory("graft_ntz_").toString
    try {
      import org.apache.parquet.example.data.simple.SimpleGroupFactory
      import org.apache.parquet.hadoop.example.ExampleParquetWriter
      import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64
      val msg = Types.buildMessage()
        .required(INT64).named("id")
        .required(INT64).as(LogicalTypeAnnotation.timestampType(false,
          LogicalTypeAnnotation.TimeUnit.MICROS)).named("ts")
        .named("ticks")
      val w = ExampleParquetWriter.builder(
          new org.apache.hadoop.fs.Path(s"$dir/ticks.parquet"))
        .withType(msg).build()
      try w.write(new SimpleGroupFactory(msg).newGroup()
        .append("id", 1L).append("ts", 1700000000000000L))
      finally w.close()
      // each toggle: the first read re-resolves, the second is served from
      // the cache; a cache blind to the conf would serve the old schema
      val schemas = Seq("true", "false", "true").map { v =>
        spark.conf.set(key, v)
        for ((d, t) <- Tables.names.map(sf -> _) :+ (dir -> "ticks"); _ <- 1 to 2)
          assert(Tables.table(spark, d, t).schema ==
            spark.read.parquet(s"$d/$t.parquet").schema, s"$d/$t with $key=$v")
        Tables.table(spark, dir, "ticks").schema("ts").dataType
      }
      assert(schemas == Seq(TimestampNTZType, TimestampType, TimestampNTZType))
    } finally {
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("resolved schema equals spark.read.parquet for every fixture under " +
      "each inference conf toggle") {
    // inferTimestampNTZ has its own test above, with a table it flips
    val keys = Seq("spark.sql.legacy.parquet.nanosAsLong",
      "spark.sql.parquet.binaryAsString", "spark.sql.parquet.int96AsTimestamp",
      "spark.sql.parquet.mergeSchema")
    for (key <- keys; v <- Seq("true", "false", "true"))
      Harness.withConfs(spark, key -> v) {
        ("events" +: Tables.names).foreach { t =>
          val got = Tables.table(spark, sf, t).schema
          assert(got == spark.read.parquet(s"$sf/$t.parquet").schema,
            s"$t with $key=$v")
        }
      }
  }

  test("a TIMESTAMP(NANOS) column outside events fails with the drift error") {
    // written without Spark's schema metadata, as pyarrow writes nanos;
    // nanosAsLong on (as after any events read) makes Spark's conversion
    // accept the column as LONG, so only the footer check can catch it
    val dir = java.nio.file.Files.createTempDirectory("graft_nanos_").toString
    try {
      import org.apache.parquet.example.data.simple.SimpleGroupFactory
      import org.apache.parquet.hadoop.example.ExampleParquetWriter
      import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, INT32, INT64}
      val msg = Types.buildMessage()
        .required(INT32).named("r_regionkey")
        .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("r_name")
        .required(INT64).as(LogicalTypeAnnotation.timestampType(true,
          LogicalTypeAnnotation.TimeUnit.NANOS)).named("updated_ns")
        .named("region")
      val w = ExampleParquetWriter.builder(
          new org.apache.hadoop.fs.Path(s"$dir/region.parquet"))
        .withType(msg).build()
      try w.write(new SimpleGroupFactory(msg).newGroup()
        .append("r_regionkey", 0).append("r_name", "AFRICA")
        .append("updated_ns", 1700000000000000000L))
      finally w.close()
      Harness.withConfs(spark, "spark.sql.legacy.parquet.nanosAsLong" -> "true") {
        val ex = intercept[IllegalStateException](Tables.table(spark, dir, "region"))
        assert(ex.getMessage.contains("TIMESTAMP(NANOS)") &&
          ex.getMessage.contains("updated_ns"), ex.getMessage)
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("a table rewritten in place is checked again") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_rewrite_").toString
    try {
      Seq((0, "AFRICA"), (1, "AMERICA")).toDF("r_regionkey", "r_name")
        .write.parquet(s"$dir/region.parquet")
      assert(Tables.table(spark, dir, "region").count() == 2)
      Seq((0, 7), (1, 8)).toDF("r_regionkey", "r_name")
        .write.mode("overwrite").parquet(s"$dir/region.parquet")
      val ex = intercept[IllegalStateException](Tables.table(spark, dir, "region"))
      assert(ex.getMessage.contains("'r_name'") && ex.getMessage.contains("int"),
        ex.getMessage)
      assert(!ex.getMessage.contains("\n"), "drift error spans lines")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
