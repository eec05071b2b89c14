package graft

import org.apache.spark.sql.SQLContext
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Multi-batch streaming semantics that the single-pass driver queries
  * can't exercise: watermark late-drop, session merging across batches,
  * dedup across batches, stateful running counts across batches.
  */
class StreamingSpec extends SparkSuite {

  private def t(hhmm: String) =
    java.sql.Timestamp.valueOf(s"2026-01-01 $hhmm:00")

  test("watermark drops late rows across micro-batches") {
    import spark.implicits._
    implicit val sq: SQLContext = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, Long)]
    val agg = ms.toDF().toDF("ts", "uid")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("n"))
    val q = agg.writeStream.format("memory").queryName("wmtest")
      .outputMode("append").start()
    try {
      ms.addData((t("10:00"), 1L), (t("10:05"), 1L))
      q.processAllAvailable()
      ms.addData((t("10:20"), 1L), (t("09:00"), 2L)) // 09:00 beyond watermark
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("wmtest").orderBy("win_start").collect()
    assert(rows.map(_.getLong(1)).toSeq == Seq(2L),
      "only the closed 10:00 window, n=2 (late 09:00 row dropped)")
    assert(rows.head.getTimestamp(0) == t("10:00"))
  }

  test("session window merges within gap and splits beyond it across batches") {
    import spark.implicits._
    implicit val sq: SQLContext = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, Long)]
    val agg = ms.toDF().toDF("ts", "uid")
      .withWatermark("ts", "1 minute")
      .groupBy(session_window(col("ts"), "30 minutes"), col("uid"))
      .agg(count(lit(1)).as("n"))
      .select(col("uid"), col("session_window.start").as("ss"), col("n"))
    val q = agg.writeStream.format("memory").queryName("sesstest")
      .outputMode("complete").start()
    try {
      // gaps: 5 min (merge), 10 min (merge), 40 min (split) — FIXTURES.md
      ms.addData((t("09:00"), 7L), (t("09:05"), 7L))
      q.processAllAvailable()
      ms.addData((t("09:15"), 7L), (t("09:55"), 7L))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("sesstest").orderBy("ss").collect()
    assert(rows.length == 2, rows.mkString(";"))
    assert(rows(0).getLong(2) == 3L && rows(1).getLong(2) == 1L)
  }

  test("dropDuplicates suppresses re-deliveries across batches") {
    import spark.implicits._
    implicit val sq: SQLContext = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, Long)]
    val dd = ms.toDF().toDF("ts", "eid")
      .withWatermark("ts", "10 minutes")
      .dropDuplicates("eid")
      .select("eid")
    val q = dd.writeStream.format("memory").queryName("deduptest")
      .outputMode("append").start()
    try {
      ms.addData((t("10:00"), 1L), (t("10:00"), 2L))
      q.processAllAvailable()
      ms.addData((t("10:01"), 1L), (t("10:01"), 3L)) // eid 1 re-delivered
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("deduptest").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 2L, 3L))
  }

  test("flatMapGroupsWithState carries running counts across batches") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val sq: SQLContext = spark.sqlContext
    val ms = MemoryStream[Long]
    val updates = ms.toDS().groupByKey(identity)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[Long], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          Iterator((uid, n))
      }.toDF("uid", "n")
    val q = updates.writeStream.format("memory").queryName("statetest")
      .outputMode("update").start()
    try {
      ms.addData(1L, 1L, 2L); q.processAllAvailable()
      ms.addData(1L, 2L, 2L); q.processAllAvailable()
    } finally q.stop()
    val last = spark.table("statetest").groupBy("uid").agg(max("n").as("n"))
      .orderBy("uid").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(last == Seq((1L, 3L), (2L, 3L)), last.toString)
  }

  test("kafka answers sink requests the real kafka writer (A12 parity)") {
    // No spark-sql-kafka connector ships in this environment; the sink must
    // request the REAL kafka format (proven by the connector-lookup error),
    // carrying the topic + checkpoint options of the reference's
    // at-least-once answers producer (AiJob.java:25-33,53-55).
    import spark.implicits._
    implicit val sq: SQLContext = spark.sqlContext
    val ms = MemoryStream[String]
    val chkDir = java.nio.file.Files.createTempDirectory("graft_kchk_")
    try {
      val thrown =
        try {
          val q = streaming.Streams.kafkaSink(ms.toDF().toDF("answer"),
            "broker:9092", "answers", chkDir.toString)
          q.stop()
          None
        } catch { case e: Exception => Some(e) }
      // this environment ships no kafka connector, so a started query means
      // the sink silently bound to something other than the real writer
      assert(thrown.isDefined, "kafka sink started without a connector on " +
        "the classpath — it did not request the real kafka format")
      assert(thrown.flatMap(e => Option(e.getMessage))
          .exists(_.toLowerCase.contains("kafka")),
        s"unexpected failure: ${thrown.get}")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(chkDir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("answerToKafka runs the RAG batch and requests the real kafka producer (A12)") {
    // Symmetric to the kafkaSink test: the full answers pipeline under a
    // checkpoint must hand its per-batch output to the REAL kafka batch
    // writer (AiJob.java:25-33) — proven, in this connector-less
    // environment, by the kafka lookup error surfacing through the
    // checkpointed foreachBatch run.
    import spark.implicits._
    implicit val sq: SQLContext = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_a2k_")
    try {
      val store = s"$tmp/store"
      val ingest = MemoryStream[String]
      ingest.addData("The capital of France is Paris.")
      streaming.Streams.ingest(ingest.toDF().toDF("line"), store)

      val questions = MemoryStream[String]
      questions.addData("What is the capital of France?")
      val thrown =
        try {
          streaming.Streams.answerToKafka(questions.toDF().toDF("line"),
            store, "broker:9092", "answers", s"$tmp/chk")
          None
        } catch { case e: Exception => Some(e) }
      assert(thrown.isDefined, "answerToKafka completed without a kafka " +
        "connector on the classpath — it did not request the real producer")
      def chain(t: Throwable): Seq[String] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
          .flatMap(c => Option(c.getMessage)).toSeq
      assert(chain(thrown.get).exists(_.toLowerCase.contains("kafka")),
        s"unexpected failure: ${chain(thrown.get).mkString(" | ")}")
      // the run was checkpointed: the source offsets were committed under
      // the caller's checkpoint dir before the sink attempt
      assert(new java.io.File(s"$tmp/chk/offsets").exists(),
        "checkpointLocation was not used")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("dropDuplicatesWithinWatermark lets a key recur after the horizon") {
    // THE semantic line between dropDuplicates (key state never expires —
    // unbounded at 100 TB) and dropDuplicatesWithinWatermark (state
    // released once the watermark passes the key's event time + delay,
    // after which the key legitimately re-emits). Same feed through both
    // operators; only the within-watermark one re-emits uid 1.
    import spark.implicits._
    implicit val sq: SQLContext = spark.sqlContext
    def run(name: String)(op: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame): Seq[Long] = {
      val ms = MemoryStream[(java.sql.Timestamp, Long)]
      val dd = op(ms.toDF().toDF("ts", "uid")
        .withWatermark("ts", "10 minutes")).select("uid")
      val q = dd.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        ms.addData((t("10:00"), 1L), (t("10:01"), 1L)) // in-horizon dup
        q.processAllAvailable()
        ms.addData((t("11:00"), 9L)) // watermark -> 10:50: uid-1 state expires
        q.processAllAvailable()
        ms.addData((t("11:05"), 1L)) // recurrence AFTER the horizon
        q.processAllAvailable()
      } finally q.stop()
      spark.table(name).as[Long].collect().toSeq
    }
    val wm = run("ddwm")(_.dropDuplicatesWithinWatermark("uid"))
    assert(wm.count(_ == 1L) == 2,
      s"post-horizon recurrence must survive dropDuplicatesWithinWatermark: $wm")
    assert(wm.count(_ == 9L) == 1, wm.toString)
    val plain = run("ddplain")(_.dropDuplicates("uid"))
    assert(plain.count(_ == 1L) == 1,
      s"plain dropDuplicates must suppress the recurrence forever: $plain")
  }

  test("timer sessions: bridge via late row, emit only after closure") {
    // The event-time-timer path of transformWithState
    // (TimerSessionProcessor): (a) nothing emits while a session's
    // 30-min gap could still re-open; (b) an in-watermark late row
    // BRIDGES two intervals that would otherwise be separate sessions;
    // (c) handleExpiredTimer emits exactly the closed sessions once the
    // watermark passes end + gap.
    import spark.implicits._
    implicit val sq: SQLContext = spark.sqlContext
    val prev =
      spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
      val evs = ms.toDF().toDF("event_id", "ts", "user_id", "event_type",
          "value")
        .withWatermark("ts", "10 minutes")
        .as[operators.Streaming.Ev]
      val sessions = evs.groupByKey(_.user_id)
        .transformWithState(
          new operators.Streaming.TimerSessionProcessor(
            gapUs = 30L * 60L * 1000000L),
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          org.apache.spark.sql.streaming.OutputMode.Update())
        .toDF()
      val name = "timersess"
      streaming.Streams.withStatePartitions(spark, 2) {
        val q = sessions.writeStream.format("memory").queryName(name)
          .outputMode("update").start()
        try {
          // uid 1: one 2-row session; uid 3: rows 31 min apart (would be
          // TWO sessions unless bridged)
          ms.addData((1L, t("10:00"), 1L, "e", 0.0),
            (2L, t("10:05"), 1L, "e", 0.0),
            (3L, t("10:00"), 3L, "e", 0.0),
            (4L, t("10:31"), 3L, "e", 0.0))
          q.processAllAvailable()
          assert(spark.table(name).isEmpty,
            "no session may emit while its gap can re-open")
          // late (in-watermark) bridge row for uid 3: watermark after
          // batch 1 is 10:21 (max ts 10:31 - 10 min), so 10:25 is late
          // relative to uid 3's own rows but still inside the watermark
          ms.addData((5L, t("10:25"), 3L, "e", 0.0))
          q.processAllAvailable()
          assert(spark.table(name).isEmpty,
            "bridge batch must not emit either (watermark unchanged)")
          // advance the watermark to 11:50: everything closes
          ms.addData((6L, t("12:00"), 9L, "e", 0.0))
          q.processAllAvailable()
        } finally q.stop()
      }
      val rows = spark.table(name)
        .select("user_id", "start_us", "end_us", "n_events")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).sortBy(r => (r._1, r._2)).toSeq
      def us(hhmm: String) = t(hhmm).getTime * 1000L
      assert(rows == Seq(
        (1L, us("10:00"), us("10:05"), 2L),
        (3L, us("10:00"), us("10:31"), 3L)),
        s"expected uid1 closed + uid3 BRIDGED single session, got $rows")
    } finally prev match {
      case Some(p) =>
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None =>
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("left outer stream join emits null-padded row only after expiry") {
    // The state-expiry emission path the inner join never exercises: an
    // unmatched left row must NOT appear while a match could still
    // arrive, and MUST appear (null-padded) once the watermark proves it
    // cannot.
    import spark.implicits._
    implicit val sq: SQLContext = spark.sqlContext
    val lm = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val rm = MemoryStream[(java.sql.Timestamp, Long, Long)]
    // the shipped band join's sides: event ids are distinct across the
    // two streams, so its eid_a <> eid_b term never drops a pair here
    val l = lm.toDF().toDF("ts_a", "uid_a", "eid_a")
      .withWatermark("ts_a", "10 minutes")
    val r = rm.toDF().toDF("ts_b", "uid_b", "eid_b")
      .withWatermark("ts_b", "10 minutes")
    val j = operators.Streaming.bandJoin(l, r, "left_outer")
      .select(col("eid_a"), col("eid_b"))
    val q = j.writeStream.format("memory").queryName("ssloj")
      .outputMode("append").start()
    def emitted(): Set[(Long, Long)] =
      spark.table("ssloj").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
        .toSet
    try {
      lm.addData((t("10:00"), 7L, 100L)) // never matched
      lm.addData((t("10:00"), 8L, 101L)) // matched in-band
      rm.addData((t("10:02"), 8L, 201L))
      q.processAllAvailable()
      assert(emitted() == Set((101L, 201L)),
        s"unmatched left row must not emit while a match can arrive: ${emitted()}")
      // advance both watermarks past ts_a + band + delay (10:00+5m+10m)
      lm.addData((t("10:30"), 9L, 102L))
      rm.addData((t("10:30"), 9L, 202L))
      q.processAllAvailable()
      assert(emitted() == Set((101L, 201L), (102L, 202L), (100L, -1L)),
        s"expired unmatched left row must emit null-padded: ${emitted()}")
    } finally q.stop()
  }

  test("stream_state_metrics surfaces non-zero state telemetry for the " +
      "full-outer join job") {
    // VERDICT r16 task 6: the state-store size signal must actually
    // flow — a symmetric-hash stream-stream join buffers BOTH sides, so
    // the job must report a join operator with rows updated, rows
    // expired by the watermark, and non-zero store memory.
    val rows = SparkEntry.queries("stream_state_metrics")(spark, sf)
      .collect()
    assert(rows.nonEmpty, "no stateful operator reported progress")
    val join = rows.find(_.getString(0).contains("symmetricHashJoin"))
      .orElse(rows.headOption).get
    assert(join.getLong(2) > 0L, s"zero rows_updated: $join")
    assert(join.getBoolean(4), s"state store reported zero memory: $join")
    // end-of-run retained rows must be ZERO: the terminal AvailableNow
    // watermark passes every buffered row's expiry, and Spark 4 books
    // symmetric-hash-join eviction directly into numRowsTotal (observed:
    // numRowsRemoved stays 0 for this operator) — a non-zero tail here
    // is exactly the unbounded-state-growth signal the query exists to
    // surface
    assert(join.getLong(1) == 0L,
      s"join state not fully evicted by the terminal watermark: $join")
    assert(join.getLong(3) >= 0L)
  }

  test("left semi stream join emits a left row at most once, only on match") {
    // The two guarantees the batch oracle can't see: (1) an unmatched left
    // row NEVER emits (no expiry emission, unlike left outer); (2) a left
    // row with MULTIPLE matches — including matches arriving in later
    // micro-batches — emits exactly once, on its first match.
    import spark.implicits._
    implicit val sq: SQLContext = spark.sqlContext
    val lm = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val rm = MemoryStream[(java.sql.Timestamp, Long, Long)]
    // the shipped band join's sides: event ids are distinct across the
    // two streams, so its eid_a <> eid_b term never drops a pair here
    val l = lm.toDF().toDF("ts_a", "uid_a", "eid_a")
      .withWatermark("ts_a", "10 minutes")
    val r = rm.toDF().toDF("ts_b", "uid_b", "eid_b")
      .withWatermark("ts_b", "10 minutes")
    val j = operators.Streaming.bandJoin(l, r, "left_semi")
      .select(col("eid_a"))
    val q = j.writeStream.format("memory").queryName("sslsj")
      .outputMode("append").start()
    def emitted(): Seq[Long] =
      spark.table("sslsj").collect().map(_.getLong(0)).toSeq.sorted
    try {
      lm.addData((t("10:00"), 7L, 100L)) // no match yet
      lm.addData((t("10:00"), 8L, 101L)) // matched in-band, same batch
      rm.addData((t("10:02"), 8L, 201L))
      q.processAllAvailable()
      assert(emitted() == Seq(101L),
        s"only the matched left row may emit: ${emitted()}")
      // a SECOND match for uid 8 must not re-emit 101; a first match for
      // uid 7 (arriving a batch later) must emit 100 exactly once
      rm.addData((t("10:03"), 8L, 202L))
      rm.addData((t("10:02"), 7L, 300L))
      q.processAllAvailable()
      assert(emitted() == Seq(100L, 101L),
        s"each matched left row must emit exactly once: ${emitted()}")
      // advance watermarks far past every band: no expiry emissions exist
      lm.addData((t("11:00"), 9L, 102L))
      rm.addData((t("11:30"), 10L, 203L))
      q.processAllAvailable()
      assert(emitted() == Seq(100L, 101L),
        s"unmatched left rows must never emit, even on expiry: ${emitted()}")
    } finally q.stop()
  }

  test("recency list/map state merges across batches; TTL expires silent keys") {
    // The ListState/MapState + TTL surface (VERDICT r13 #4): (a) a second
    // batch MERGES with surviving state — the list re-sorts by recency
    // across batches, the map's per-key counts accumulate; (b) after the
    // processing-time TTL elapses with no input for a key, its state
    // reads back EMPTY, so the next snapshot restarts from scratch —
    // the state-bounding contract for ever-growing key domains.
    import spark.implicits._
    implicit val sq: SQLContext = spark.sqlContext
    val prev =
      spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // generous TTL: pass 1 AND pass 2 must complete inside it even
      // though each pass pays a RocksDB query restart (~1-2 s each, more
      // on a loaded CI host) — 15 s gives several multiples of headroom;
      // the expiry sleep exceeds the TTL with margin either way
      val ttlMs = 15000L
      val ms = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
      val evs = ms.toDF().toDF("event_id", "ts", "user_id", "event_type",
          "value")
        .as[operators.Streaming.Ev]
      val out = evs.groupByKey(_.user_id)
        .transformWithState(
          new operators.Streaming.RecencyProcessor(3,
            java.time.Duration.ofMillis(ttlMs)),
          org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
          org.apache.spark.sql.streaming.OutputMode.Update())
        .toDF("user_id", "n_seen", "last3", "type_counts", "snap_ms",
          "snap_seq")
      // processing-time TTL keeps shouldRunAnotherBatch true forever
      // (processAllAvailable never latches, AvailableNow never reaches
      // its termination condition — measured), so each phase is a
      // single-batch Trigger.Once pass over a SHARED checkpoint — state
      // persists across restarts, and each pass's output dir holds
      // exactly that pass's emissions
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_ttl_").toString
      val ck = s"$tmp/chk"
      var passNo = 0
      // memory sink refuses checkpoint recovery, so each pass appends its
      // batch to a fresh parquet dir via foreachBatch (recovery-capable)
      @annotation.nowarn("cat=deprecation")
      def pass(): Map[Long, (Long, String, String)] =
        streaming.Streams.withStatePartitions(spark, 2) {
          passNo += 1
          val outDir = s"$tmp/pass$passNo"
          val q = out.writeStream
            .outputMode("update")
            .option("checkpointLocation", ck)
            .trigger(org.apache.spark.sql.streaming.Trigger.Once())
            .foreachBatch {
              (b: org.apache.spark.sql.DataFrame, _: Long) =>
                b.write.mode("append").parquet(outDir)
            }
            .start()
          try q.awaitTermination() finally q.stop()
          spark.read.parquet(outDir).collect().map(r => r.getLong(0) ->
            ((r.getLong(1), r.getString(2), r.getString(3)))).toMap
        }
      // pass 1: uid 1 gets 3 events out of ts order; uid 2 one
      val wall0 = System.nanoTime()
      ms.addData((2L, t("10:05"), 1L, "x", 0.0),
        (1L, t("10:00"), 1L, "x", 0.0),
        (3L, t("10:07"), 1L, "y", 0.0),
        (4L, t("10:00"), 2L, "x", 0.0))
      val p1 = pass()
      assert(p1 == Map(1L -> ((3L, "3,2,1", "x:2,y:1")),
        2L -> ((1L, "4", "x:1"))), s"pass-1 snapshots: $p1")
      // pass 2 (within TTL): list trims to K=3 most recent across both
      // passes, map accumulates; silent uid 2 emits nothing
      ms.addData((5L, t("10:09"), 1L, "y", 0.0))
      val p2 = pass()
      // wall-clock guard: the merge assertion is only meaningful if both
      // passes provably fit inside the TTL (the state-relevant interval
      // is a subset of the measured window) — on a pathologically loaded
      // host the test CANCELS rather than failing on an expiry that the
      // TTL contract says must happen
      val wallMs = (System.nanoTime() - wall0) / 1000000L
      assume(wallMs < ttlMs * 2 / 3,
        s"host too slow for the in-TTL merge phase: ${wallMs}ms")
      assert(p2 == Map(1L -> ((4L, "5,3,2", "x:2,y:2"))),
        s"cross-batch merge: $p2")
      // sleep past the TTL: BOTH uids' state expires; uid 1's next
      // snapshot restarts from scratch (surviving state would have
      // emitted (5, "6,5,3", "x:2,y:2,z:1") instead)
      Thread.sleep(ttlMs + 800L)
      ms.addData((6L, t("10:30"), 1L, "z", 0.0))
      val p3 = pass()
      assert(p3 == Map(1L -> ((1L, "6", "z:1"))),
        s"post-TTL snapshot must restart from empty state: $p3")
    } finally prev match {
      case Some(p) =>
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None =>
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("chained window aggs: two stateful operators, hour emits only closed") {
    // Multiple-stateful-operator path: a 10-minute count whose window
    // column feeds a 1-hour rollup, both in ONE query. The outer hour
    // must stay unemitted while its inner buckets can still change, and
    // emit exactly once after the watermark passes its end.
    import spark.implicits._
    implicit val sq: SQLContext = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String)]
    val inner = ms.toDF().toDF("ts", "k")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("k"))
      .agg(count(lit(1)).as("n"))
    val outer = inner
      .groupBy(window(col("window"), "1 hour"), col("k"))
      .agg(sum(col("n")).as("n_events"), count(lit(1)).as("n_buckets"))
      .select(col("window.start").as("hour_start"), col("k"),
        col("n_events"), col("n_buckets"))
    val q = outer.writeStream.format("memory").queryName("chained")
      .outputMode("append").start()
    try {
      ms.addData((t("10:00"), "a"), (t("10:05"), "a"),
        (t("10:25"), "a"), (t("10:59"), "a"))
      q.processAllAvailable()
      assert(spark.table("chained").count() == 0,
        "hour 10:00 must not emit while the watermark can still admit rows")
      ms.addData((t("12:30"), "a")) // wm → 12:20, closes hour [10:00, 11:00)
      q.processAllAvailable()
      val rows = spark.table("chained").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(rows == Set((t("10:00"), "a", 4L, 3L)),
        s"hour 10:00 = 4 events over 3 closed buckets, got $rows")
      assert(q.lastProgress.stateOperators.size == 2,
        s"two stateful operators expected, got " +
          s"${q.lastProgress.stateOperators.size}")
    } finally q.stop()
  }

  test("mid-stream failure: restart replays the uncommitted batch once") {
    // Harder than the graceful-restart tests above: the first run DIES
    // mid-stream (injected failure in batch 1, after batch 0 committed),
    // leaving an in-flight batch whose side effect never ran. The
    // restarted query must resume AT the failed batch — replaying it
    // exactly once — then drain the rest. mergeRollupBatch is not
    // replay-idempotent, so store == batch afterwards proves both no-loss
    // (the crashed batch was re-run) and no-double-count (batch 0 wasn't).
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_crash_").toString
    val src = s"$root/src"; val chk = s"$root/chk"; val store = s"$root/store"
    val injected = new java.util.concurrent.atomic.AtomicBoolean(false)
    def feed(rows: (java.sql.Timestamp, String, Double)*): Unit =
      rows.toSeq.toDF("ts", "event_type", "value")
        .coalesce(1).write.mode("append").parquet(src)
    def runOnce(crashAtBatch: Long): Unit = {
      val q = spark.readStream
        .schema("ts TIMESTAMP, event_type STRING, value DOUBLE")
        .option("maxFilesPerTrigger", "1") // one micro-batch per file
        .parquet(src)
        .writeStream
        .option("checkpointLocation", chk)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          if (id == crashAtBatch && injected.compareAndSet(false, true))
            throw new RuntimeException("injected mid-stream failure")
          operators.Streaming.mergeRollupBatch(b, store)
        }
        .start()
      try q.awaitTermination()
      catch {
        case _: org.apache.spark.sql.streaming.StreamingQueryException => ()
      }
    }
    try {
      feed((t("10:00"), "click", 1.5), (t("10:10"), "view", 2.0))
      feed((t("11:00"), "click", 0.5))
      feed((t("12:00"), "view", 4.0))
      runOnce(crashAtBatch = 1) // batch 0 commits, batch 1 dies in-flight
      assert(injected.get, "failure injection never fired")
      runOnce(crashAtBatch = -1) // restart: batch 1 replays, then batch 2
      val got = streaming.Streams.storeRead(spark, store)
        .orderBy("day", "event_type")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getDecimal(3).doubleValue())).toSeq
      val want = spark.read.parquet(src)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sv"))
        .orderBy("day", "event_type")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getDouble(3))).toSeq
      assert(got == want, s"recovered store $got vs batch $want")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(root)).iterator()
        .asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("post-merge crash: the batchId fence makes replay exactly-once") {
    // The failure window the previous test deliberately avoids: the
    // crash lands AFTER the merge's atomic pointer swap but BEFORE the
    // streaming checkpoint commits the epoch. foreachBatch semantics are
    // at-least-once, so the restart REPLAYS that batch — without the
    // _COMMIT_BATCHID fence a non-idempotent merge would double-count
    // it. With the fence armed (batchId flows into upsertGeneration),
    // the replay finds its own id in the live generation and skips, so
    // store == batch even though the side effect ran before the crash.
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_fence_").toString
    val src = s"$root/src"; val chk = s"$root/chk"; val store = s"$root/store"
    val injected = new java.util.concurrent.atomic.AtomicBoolean(false)
    def feed(rows: (java.sql.Timestamp, String, Double)*): Unit =
      rows.toSeq.toDF("ts", "event_type", "value")
        .coalesce(1).write.mode("append").parquet(src)
    def runOnce(crashAfterBatch: Long): Unit = {
      val q = spark.readStream
        .schema("ts TIMESTAMP, event_type STRING, value DOUBLE")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream
        .option("checkpointLocation", chk)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          operators.Streaming.mergeRollupBatch(b, store, Some(id))
          if (id == crashAfterBatch && injected.compareAndSet(false, true))
            throw new RuntimeException("injected post-merge failure")
        }
        .start()
      try q.awaitTermination()
      catch {
        case _: org.apache.spark.sql.streaming.StreamingQueryException => ()
      }
    }
    try {
      feed((t("10:00"), "click", 1.5), (t("10:10"), "view", 2.0))
      feed((t("11:00"), "click", 0.5))
      feed((t("12:00"), "view", 4.0))
      runOnce(crashAfterBatch = 1) // batch 1 MERGES, then the epoch dies
      assert(injected.get, "failure injection never fired")
      runOnce(crashAfterBatch = -1) // restart replays batch 1: fence skips
      val got = streaming.Streams.storeRead(spark, store)
        .orderBy("day", "event_type")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getDecimal(3).doubleValue())).toSeq
      val want = spark.read.parquet(src)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sv"))
        .orderBy("day", "event_type")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getDouble(3))).toSeq
      assert(got == want,
        s"fenced store $got vs batch $want — replay double-counted")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(root)).iterator()
        .asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("restart from checkpoint resumes where the stopped query left off") {
    // The reference's savepoint story (AiJob.java:41): stop, new data
    // arrives, restart from the SAME checkpoint — no loss, no duplicates.
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_ckpt_").toString
    val src = s"$root/src"; val out = s"$root/out"; val chk = s"$root/chk"
    Seq(1L, 2L, 3L).toDF("v").write.mode("append").parquet(src)
    def runOnce(): Unit = {
      val q = spark.readStream.schema("v LONG").parquet(src)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .outputMode("append").start()
      q.awaitTermination()
    }
    runOnce()
    Seq(4L, 5L).toDF("v").write.mode("append").parquet(src)
    runOnce()
    val got = spark.read.parquet(out).as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L, 3L, 4L, 5L), got.toString)
  }

  test("rollup MV survives stop + checkpoint restart: no replay double-count") {
    // The stateful twin of the stateless restart test above — the
    // reference's operational claim (Flink checkpoint recovery,
    // docker-compose.yml:78-121) mapped to Spark's contract: a foreachBatch
    // MV maintained under a checkpointLocation is stopped mid-stream, new
    // data arrives, a NEW query restarts from the same checkpoint dir.
    // mergeRollupBatch is deliberately NOT replay-idempotent (a replayed
    // batch double-counts into the store), so store == batch after the
    // resumed run proves the restart consumed each committed file exactly
    // once — real checkpoint recovery, not merge idempotence.
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_mvckpt_").toString
    val src = s"$root/src"; val chk = s"$root/chk"
    val store = s"$root/store"
    def feed(rows: (java.sql.Timestamp, String, Double)*): Unit =
      rows.toSeq.toDF("ts", "event_type", "value")
        .coalesce(1).write.mode("append").parquet(src)
    def runOnce(): Unit = {
      val q = spark.readStream
        .schema("ts TIMESTAMP, event_type STRING, value DOUBLE")
        .option("maxFilesPerTrigger", "1") // one micro-batch per file
        .parquet(src)
        .writeStream
        .option("checkpointLocation", chk)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          operators.Streaming.mergeRollupBatch(b, store)
        }
        .start()
      q.awaitTermination()
    }
    try {
      feed((t("10:00"), "click", 1.5), (t("10:10"), "view", 2.0))
      feed((t("11:00"), "click", 0.5))
      runOnce() // 2 files → 2 committed micro-batches, then the query stops
      feed((t("10:30"), "click", 3.25))
      feed((t("12:00"), "view", 4.0))
      runOnce() // restart from chk: must process ONLY the 2 new files
      val got = streaming.Streams.storeRead(spark, store)
        .orderBy("day", "event_type")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getDecimal(3).doubleValue())).toSeq
      val want = spark.read.parquet(src)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sv"))
        .orderBy("day", "event_type")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getDouble(3))).toSeq
      assert(got == want, s"restarted store $got vs batch $want")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(root)).iterator()
        .asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("incremental rollup store equals the batch answer after EVERY batch") {
    import spark.implicits._
    implicit val sq: SQLContext = spark.sqlContext
    val store = java.nio.file.Files.createTempDirectory("graft_mv_t").toString
    val ms = MemoryStream[(java.sql.Timestamp, String, Double)]
    val q = ms.toDF().toDF("ts", "event_type", "value").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        operators.Streaming.mergeRollupBatch(b, store)
      }
      .start()
    val batches = Seq(
      Seq((t("10:00"), "click", 1.5), (t("10:10"), "view", 2.0)),
      Seq((t("11:00"), "click", 0.5)), // same day, new hour
      Seq((t("10:30"), "click", 3.25))) // merges back into existing keys
    var fed = Seq.empty[(java.sql.Timestamp, String, Double)]
    try {
      batches.foreach { b =>
        fed = fed ++ b
        ms.addData(b: _*)
        q.processAllAvailable()
        val got = streaming.Streams.storeRead(spark, store)
          .orderBy("day", "event_type")
          .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
            r.getDecimal(3).doubleValue())).toSeq
        val want = fed.toDF("ts", "event_type", "value")
          .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"),
            col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("sv"))
          .orderBy("day", "event_type")
          .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
            r.getDouble(3))).toSeq
        assert(got == want, s"after ${fed.size} rows: $got vs $want")
      }
    } finally q.stop()
    try {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(store)).iterator()
        .asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    } catch { case _: Exception => () }
  }

  test("rollup upserts retain exactly the live and the superseded generation") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("graft_mv_gc_")
    val batches = Seq(
      Seq((t("10:00"), "click", 1.5), (t("10:10"), "view", 2.0)),
      Seq((t("11:00"), "click", 0.5)),
      Seq((t("10:30"), "click", 3.25)))
    try {
      batches.foreach(b => operators.Streaming.mergeRollupBatch(
        b.toDF("ts", "event_type", "value"), store.toString))
      assert(store.toFile.list().toSet == Set("CURRENT", "gen-2", "gen-3"))
      val got = streaming.Streams.storeRead(spark, store.toString)
        .orderBy("day", "event_type")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getDecimal(3).doubleValue())).toSeq
      val want = batches.flatten.toDF("ts", "event_type", "value")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sv"))
        .orderBy("day", "event_type")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getDouble(3))).toSeq
      assert(got == want, s"store $got vs batch $want")
    } finally streaming.Streams.deleteTree(store)
  }

  test("streaming HLL DAU sketch: incremental estimate == batch sketch " +
      "exactly, within the HLL bound of exact distinct") {
    import org.apache.spark.sql.functions._
    val est = SparkEntry.queries("stream_active_users_hll")(spark, sf)
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    // HLL register state is a per-bucket max — order-independent — so
    // the micro-batch-merged streaming estimate must equal the batch
    // recompute's estimate EXACTLY, not just approximately
    val batchSk = Tables.events(spark, sf)
      .groupBy(window(col("ts"), "1 day"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("e"))
      .select(col("window.start").as("day"), col("e"))
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    assert(est == batchSk, s"streaming $est != batch sketch $batchSk")
    // and each day's estimate sits within 5% of the exact distinct
    val exact = Tables.events(spark, sf)
      .groupBy(col("ts").cast("date").as("day"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => java.sql.Timestamp.valueOf(
        r.getDate(0).toLocalDate.atStartOfDay()) -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet)
    est.foreach { case (day, e) =>
      val x = exact(day)
      assert(math.abs(e.toDouble - x) <= 0.05 * x, s"$day: est $e exact $x")
    }
  }

  test("runToTable keeps the memory sink's result table in every output " +
      "mode across micro-batches") {
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft_rtt_").toString
    try {
      // two files, one per micro-batch: key 1 is updated by both
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v").coalesce(1)
        .write.mode("append").parquet(src)
      Seq((1L, 5L), (3L, 30L)).toDF("k", "v").coalesce(1)
        .write.mode("append").parquet(src)
      def stream = spark.readStream.schema("k BIGINT, v BIGINT")
        .option("maxFilesPerTrigger", "1").parquet(src)
      def agg = stream.groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("sv"))
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
      for ((df, mode) <- Seq((stream.select($"k", $"v" * 2), "append"),
          (agg, "update"), (agg, "complete"))) {
        val got = canon(streaming.Streams.runToTable(df, mode, 2))
        // the memory sink is the reference, kept here only
        val name = "rtt_" + java.util.UUID.randomUUID().toString.replace("-", "")
        val q = df.writeStream.format("memory").queryName(name)
          .outputMode(mode)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        try {
          q.awaitTermination()
          assert(q.recentProgress.count(_.numInputRows > 0) == 2, mode)
          assert(got == canon(spark.table(name)), mode)
        } finally spark.catalog.dropTempView(name)
      }
      // update mode appends: key 1 keeps both of its updates
      assert(canon(streaming.Streams.runToTable(agg, "update", 2)) ==
        Seq("1|1|10", "1|2|15", "2|1|20", "3|1|30"))
    } finally streaming.Streams.deleteTree(java.nio.file.Paths.get(src))
  }

  test("kafka-shaped source builds the value-only string plan (A1 parity)") {
    // This environment ships no spark-sql-kafka connector; the builder must
    // request the REAL kafka data source (proven by the lookup error).
    // Where the connector is on the classpath, the value-only string
    // projection applies.
    try {
      val df = streaming.Streams.kafkaLines(spark, "broker:9092", "questions")
      assert(df.isStreaming)
      assert(df.columns.toSeq == Seq("line"))
    } catch {
      case e: Exception =>
        assert(Option(e.getMessage).exists(_.toLowerCase.contains("kafka")),
          s"unexpected failure: $e")
    }
  }

  test("a restarted ingest compiles no generated code again, its batch " +
      "jobs keep their task classloader, and the caller's isolation conf " +
      "is left as it was") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    implicit val sq: SQLContext = spark.sqlContext
    val iso = "spark.sql.artifact.isolation.enabled"
    def explicit = spark.conf.getAll.get(iso)
    val prior = explicit
    // the checkpoint file manager is scoped to the start the same way
    val cfm = "spark.sql.streaming.checkpointFileManagerClass"
    def manager = spark.conf.getAll.get(cfm)
    assert(manager.isEmpty)
    val root = java.nio.file.Files.createTempDirectory("graft_restart_")
    try {
      val lines = s"$root/lines"
      Seq("The capital of France is Paris.", "Spark plans with Catalyst.",
        "Flink streams with low latency.").toDF("line").coalesce(1)
        .write.parquet(lines)
      // the identity of the context classloader each ingest task runs under
      val probe = udf { (l: String) =>
        StreamingSpec.loaders.add(
          System.identityHashCode(Thread.currentThread.getContextClassLoader))
        l
      }
      def run(): (Long, Set[Int]) = {
        StreamingSpec.loaders.clear()
        val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        streaming.Streams.ingest(streaming.Streams.fileLines(spark, lines)
          .select(probe(col("line")).as("line")), s"$root/store")
        (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles,
          StreamingSpec.loaders.asScala.toSet)
      }
      val (_, first) = run()
      val (compiled, second) = run()
      assert(first.nonEmpty, "the probe saw no ingest task")
      assert(compiled == 0, s"the second run compiled $compiled classes")
      assert(second == first, s"task classloaders $first, then $second")
      assert(spark.read.parquet(s"$root/store").count() == 6)
      assert(explicit == prior)
      assert(manager.isEmpty, manager)
      // a start that throws (no kafka connector ships here) restores the
      // caller's setting too: an explicit value, and unset
      for (setting <- Seq(Some("true"), None)) {
        setting.fold(spark.conf.unset(iso))(spark.conf.set(iso, _))
        val e = intercept[Exception](streaming.Streams.kafkaSink(
          MemoryStream[String].toDF().toDF("answer"), "broker:9092",
          "answers", s"$root/chk"))
        assert(e.getMessage.toLowerCase.contains("kafka"), e)
        assert(explicit == setting)
        assert(manager.isEmpty, manager)
      }
    } finally {
      prior.fold(spark.conf.unset(iso))(spark.conf.set(iso, _))
      streaming.Streams.deleteTree(root)
    }
  }

  test("a checkpointed drain forks no process on its checkpoint and " +
      "leaves no .crc there") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(streaming.Streams.scratchDir("forks_"))
    val chk = root.resolve("chk").toString
    try {
      Seq("a", "b", "c").toDF("line").coalesce(1)
        .write.parquet(s"$root/src")
      val rows = new java.util.concurrent.atomic.AtomicLong
      val (_, forks) = Profile.processStarts {
        streaming.Streams.drain(
          streaming.Streams.fileLines(spark, s"$root/src"), "append",
          checkpoint = Some(chk)) { (b, _) => rows.addAndGet(b.count()) }
      }
      assert(rows.get == 3)
      // without the native libhadoop, Spark's default manager forks a
      // readlink per rename and a chmod per file and directory here
      val onCheckpoint = forks.filter(_.contains(chk))
      assert(onCheckpoint.isEmpty, s"${onCheckpoint.size} processes: " +
        onCheckpoint.groupBy(_.split(" ").head).map { case (c, n) =>
          s"$c x${n.size}" }.mkString(", "))
      val crcs = scala.util.Using.resource(java.nio.file.Files.walk(
        java.nio.file.Paths.get(chk)))(_.iterator().asScala
        .filter(_.toString.endsWith(".crc")).toSeq)
      assert(crcs.isEmpty, crcs.mkString(", "))
    } finally streaming.Streams.deleteTree(root)
  }

  test("a stateful drain restarted on its checkpoint counts nothing twice") {
    import spark.implicits._
    val root = streaming.Streams.scratchDir("restart_")
    val (src, out, chk) = (s"$root/src", s"$root/out", s"$root/chk")
    def feed(lines: String*): Unit =
      lines.toDF("line").coalesce(1).write.mode("append").parquet(src)
    def run(): Unit = streaming.Streams.withStatePartitions(spark, 2) {
      streaming.Streams.drain(
        streaming.Streams.fileLines(spark, src).groupBy("line").count(),
        "complete", checkpoint = Some(chk)) { (b, _) =>
        b.write.mode("overwrite").parquet(out)
      }
    }
    try {
      feed("a", "b", "a")
      run()
      feed("a", "c")
      run() // resumes from the committed offsets and state
      val got = spark.read.parquet(out).as[(String, Long)].collect()
        .sorted.toSeq
      assert(got == Seq(("a", 3L), ("b", 1L), ("c", 1L)), got)
      assert(java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(chk, "state", "0")), "no state was stored")
    } finally streaming.Streams.deleteTree(java.nio.file.Paths.get(root))
  }

  test("the local checkpoint manager keeps the no-overwrite check and " +
      "overwrites a file whose .crc the default manager wrote") {
    import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
    import org.apache.spark.sql.execution.streaming.checkpointing
      .CheckpointFileManager
    import scala.jdk.CollectionConverters._
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val root = java.nio.file.Paths.get(streaming.Streams.scratchDir("cfm_"))
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(root.resolve("chk").toUri)
    val local = new streaming.LocalCheckpointFiles(dir, conf)
    // the caller's session names no manager: this is Spark's default
    val default = CheckpointFileManager.create(dir, conf)
    assert(!default.isInstanceOf[streaming.LocalCheckpointFiles])
    def write(fm: CheckpointFileManager, p: Path, text: String,
        overwrite: Boolean): Unit = {
      val o = fm.createAtomic(p, overwrite)
      o.write(text.getBytes(utf8))
      o.close()
    }
    def read(fm: CheckpointFileManager, p: Path): String =
      scala.util.Using.resource(fm.open(p))(in =>
        new String(in.readAllBytes(), utf8))
    val file = new Path(dir, "0")
    val crc = root.resolve("chk").resolve(".0.crc")
    try {
      local.createCheckpointDirectory()
      write(default, file, "written by the default manager", false)
      assert(java.nio.file.Files.exists(crc))
      write(local, file, "local", true)
      assert(!java.nio.file.Files.exists(crc), "a stale .crc survived")
      assert(read(local, file) == "local")
      assert(read(default, file) == "local")
      // the overwrite published its temp file rather than leave it behind
      val left = scala.util.Using.resource(java.nio.file.Files.list(
        root.resolve("chk")))(_.iterator().asScala
        .map(_.getFileName.toString).toSeq)
      assert(left == Seq("0"), left)
      intercept[FileAlreadyExistsException](write(local, file, "again", false))
      assert(read(local, file) == "local")
    } finally streaming.Streams.deleteTree(root)
  }

  test("an ingest and a compaction fork no process on the store") {
    import spark.implicits._
    val root = java.nio.file.Paths.get(streaming.Streams.scratchDir("storeforks_"))
    val store = root.resolve("store").toString
    try {
      Seq("The capital of France is Paris.", "Spark plans with Catalyst.",
        "Flink streams with low latency.").toDF("line").coalesce(1)
        .write.parquet(s"$root/src")
      // without the native libhadoop, Hadoop's local filesystem forks a
      // chmod per directory and file the output committer makes here
      def onStore(forks: Seq[String]): Seq[String] = forks.filter(_.contains(store))
      def tally(forks: Seq[String]): String = s"${forks.size} processes: " +
        forks.groupBy(_.split(" ").head).map { case (c, n) =>
          s"$c x${n.size}" }.mkString(", ")
      val (_, ingest) = Profile.processStarts(streaming.Streams.ingest(
        streaming.Streams.fileLines(spark, s"$root/src"), store))
      assert(onStore(ingest).isEmpty, "ingest: " + tally(onStore(ingest)))
      val (files, compact) =
        Profile.processStarts(streaming.Streams.compactStore(spark, store))
      assert(files == 1)
      assert(onStore(compact).isEmpty, "compaction: " + tally(onStore(compact)))
      assert(streaming.Streams.storeRead(spark, store).count() == 3)
    } finally streaming.Streams.deleteTree(root)
  }

  /** The POSIX mode of every entry under `root`, by its path relative to
    * `root` with the per-job ids in file names masked.
    */
  private def modes(root: java.nio.file.Path): Seq[(String, Int)] = {
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(java.nio.file.Files.walk(root))(
      _.iterator().asScala.toSeq).map { p =>
      root.relativize(p).toString
        .replaceAll("part-\\d+-[0-9a-f-]+", "part") ->
        (java.nio.file.Files.getAttribute(p, "unix:mode")
          .asInstanceOf[Int] & 0xfff)
    }.sorted
  }

  test("LocalFiles writes the modes Spark's default file: filesystem " +
      "writes, under the default umask and under 077") {
    import spark.implicits._
    val root = java.nio.file.Paths.get(streaming.Streams.scratchDir("modes_"))
    val df = Seq((1, "a"), (2, "b"), (3, "a")).toDF("id", "cell").coalesce(1)
    try {
      for ((umask, i) <- Seq(None, Some("077")).zipWithIndex) {
        val confs = umask.map("fs.permissions.umask-mode" -> _).toSeq
        // a fresh instance of the default class: a cached one keeps the
        // umask of the conf it was first made with
        val (_, viaDefault) = Profile.processStarts(Harness.withConfs(spark,
          confs :+ ("fs.file.impl.disable.cache" -> "true"): _*)(
          df.write.partitionBy("cell")
            .parquet(root.resolve(s"default$i").toString)))
        val (_, viaNio) = Profile.processStarts(Harness.withConfs(spark,
          confs: _*)(streaming.Streams.fileWriter(df).partitionBy("cell")
            .parquet(root.resolve(s"nio$i").toString)))
        val (expected, got) = (modes(root.resolve(s"default$i")),
          modes(root.resolve(s"nio$i")))
        assert(expected.map(_._1).exists(_.endsWith(".crc")) &&
          expected.map(_._1).contains("cell=a"), expected)
        assert(got == expected, umask)
        // the default filesystem forked its chmods; the file writer's
        // LocalFiles served the second write and forked none
        assert(viaDefault.exists(_.contains(s"default$i")), umask)
        assert(!viaNio.exists(_.contains(s"nio$i")), viaNio)
        if (umask.nonEmpty)
          assert(got.forall { case (_, m) => (m & 0x3f) == 0 }, got) // 077
      }
    } finally streaming.Streams.deleteTree(root)
  }

  test("LocalFiles sets a sticky bit it is asked for") {
    import org.apache.hadoop.fs.Path
    import org.apache.hadoop.fs.permission.FsPermission
    val root = java.nio.file.Paths.get(streaming.Streams.scratchDir("sticky_"))
    val fs = new streaming.LocalFiles
    try {
      fs.initialize(java.net.URI.create("file:///"),
        spark.sessionState.newHadoopConf())
      val dir = new Path(root.resolve("d").toUri)
      assert(fs.mkdirs(dir))
      def mode = java.nio.file.Files.getAttribute(root.resolve("d"),
        "unix:mode").asInstanceOf[Int] & 0xfff
      fs.setPermission(dir, new FsPermission(Integer.parseInt("1777", 8).toShort))
      assert(mode == Integer.parseInt("1777", 8), mode.toOctalString)
      fs.setPermission(dir, new FsPermission(Integer.parseInt("750", 8).toShort))
      assert(mode == Integer.parseInt("750", 8), mode.toOctalString)
    } finally streaming.Streams.deleteTree(root)
  }
}

object StreamingSpec {
  /** Written by the tasks of a local-mode job, read by the test. */
  val loaders = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
}
