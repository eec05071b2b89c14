package graft.perfbench

import graft.Tables
import graft.functions.{cosine_sim, feature_hash_embed}
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** What one timed op produced. `latency` and `cpu` cover the timed region
  * only; `items` is the op's unit of work (ingested lines or queries) and
  * `itemSeconds` the time that work took. `failed` is true when the op
  * threw or its output check did not pass. Ops with the same `key` ran
  * the same input and count as one latency sample, their median. `lost`
  * is the machine's steal and iowait seconds during the timed region.
  */
final case class OpOutcome(latency: Double, cpu: Double, items: Double,
    itemSeconds: Double, failed: Boolean,
    extra: Map[String, Double] = Map.empty, key: Option[String] = None,
    lost: Double = 0.0)

/** A benchmark workload. `setup` is timed and repeated; `op(k, tr)` runs
  * the run's `k`-th op, traced when `tr` is set; `k` is also its op id.
  */
trait Workload {
  def setup(): Unit
  def warmup(): Unit
  def op(k: Int, tr: Option[Tracer]): OpOutcome
  /** Ops in one run: a fixed mix sized so that its timed ops take about
    * `seconds` on a 4-core host. A fixed mix, not a time limit, ends the
    * run, so every run holds the same kinds of ops in the same shares.
    */
  def opsPerRun(seconds: Double): Int
  /** Names and units of the items the throughput metric counts. */
  def itemName: (String, String)
  def extraUnits: Map[String, String] = Map.empty
}

object Workload {
  /** Run `body` as a span when tracing, plainly otherwise. */
  def span[T](tr: Option[Tracer], name: String, op: Int)(body: => T): T =
    tr.fold(body)(_.span(name, op)(body))

  /** Time the timed region of an op: (result, wall seconds, CPU seconds,
    * machine steal and iowait seconds).
    */
  def timed[T](body: => T): (T, Double, Double, Double) = {
    val l0 = Host.lostSeconds()
    val c0 = Host.cpuNs
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9, (Host.cpuNs - c0) / 1e9,
      Host.lostSeconds() - l0)
  }

  def writeLines(spark: SparkSession, dir: String, lines: Seq[String]): Unit = {
    import spark.implicits._
    lines.toDF("line").coalesce(1).write.parquet(dir)
  }

  def linesDf(spark: SparkSession, lines: Seq[String]): DataFrame = {
    import spark.implicits._
    lines.toDF("line")
  }

  def liveParquet(store: String): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(java.nio.file.Files.list(
      java.nio.file.Paths.get(Streams.storeDataDir(store)))) {
      _.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
    }
  }
}

/** rag_ingest: each cycle lands a file of new knowledge lines with planted
  * facts, ingests it, asks about the new facts, and compacts the store
  * every third cycle. The answer call, its output check and the traced
  * layer probes beside it cover the `AiJob` read path on the same store.
  */
final class RagIngest(spark: SparkSession, gen: Gen, work: String, tiny: Boolean)
    extends Workload {
  import Workload._
  private val (initial, _) =
    if (tiny) gen.corpus(200, 20) else gen.corpus(1000, 100)
  private val initialDir = s"$work/initial"
  writeLines(spark, initialDir, initial)
  private val cycleLines = if (tiny) 30 else 100
  private val cycleFacts = if (tiny) 2 else 5
  private val compactEvery = 3
  private var reps = 0
  private var cycles = 0
  private var store: String = _

  def itemName: (String, String) = ("lines_ingested_per_s", "lines/s")

  /** Whole compaction periods; a period of three cycles takes about 3.6 s
    * of timed ops on 4 cores.
    */
  def opsPerRun(seconds: Double): Int =
    compactEvery * math.max(1, math.round(seconds / 3.6).toInt)

  override def extraUnits: Map[String, String] = Map(
    "fresh_lag_s" -> "s", "store_bytes_per_line" -> "bytes/line")

  def setup(): Unit = {
    reps += 1
    store = s"$work/store-$reps"
    Streams.ingest(Streams.fileLines(spark, initialDir), store)
    Streams.compactStore(spark, store)
  }

  /** Two untimed cycles, the second compacting. After one, the first
    * three timed cycles still answered up to 1.6x slower than later ones.
    */
  def warmup(): Unit = {
    cycle(None, -1, compact = false)
    cycle(None, -1, compact = true)
    ()
  }

  /** Op `k` compacts when it ends a period: ops 2, 5, 8, ... */
  def op(k: Int, tr: Option[Tracer]): OpOutcome =
    cycle(tr, k, compact = k % compactEvery == compactEvery - 1)

  private def cycle(tr: Option[Tracer], opId: Int, compact: Boolean): OpOutcome = {
    cycles += 1
    val (lines, facts) = gen.corpus(cycleLines, cycleFacts)
    val qs = facts.map(f => Question(f.question, Some(f.line))) ++
      gen.questions(3, IndexedSeq.empty)
    val dir = s"$work/in/cycle-$cycles"
    writeLines(spark, dir, lines) // the file has landed once this returns
    val l0 = Host.lostSeconds()
    val c0 = Host.cpuNs
    val tLand = System.nanoTime()
    span(tr, "streaming.ingest", opId)(
      Streams.ingest(Streams.fileLines(spark, dir), store))
    val tIngested = System.nanoTime()
    val rows = answer(qs, tr, opId)
    val tAnswered = System.nanoTime()
    if (compact)
      span(tr, "streaming.compact", opId)(Streams.compactStore(spark, store))
    val tEnd = System.nanoTime()
    val cpu = (Host.cpuNs - c0) / 1e9
    val lost = Host.lostSeconds() - l0
    System.err.println(f"[op] cycle $cycles ingest ${(tIngested - tLand) / 1e9}%.4f" +
      f" answer ${(tAnswered - tIngested) / 1e9}%.4f compact ${(tEnd - tAnswered) / 1e9}%.4f s")
    val now = storeRows()
    val bad = check(qs, rows, now)
    val storeLines = now.length.toDouble
    val storeBytes = liveParquet(store).map(java.nio.file.Files.size).sum.toDouble
    val probed = tr.fold(Map.empty[String, Double])(probes(_, opId, qs, lines))
    OpOutcome((tEnd - tLand) / 1e9, cpu, lines.size,
      (tIngested - tLand) / 1e9, bad > 0,
      probed ++ Map("fresh_lag_s" -> (tAnswered - tLand) / 1e9,
        "store_bytes_per_line" -> storeBytes / storeLines), lost = lost)
  }

  /** `Streams.answerBatch` on `qs`, collected. */
  private def answer(qs: Seq[Question], tr: Option[Tracer], opId: Int)
      : Array[Row] = {
    val batch = linesDf(spark, qs.map(_.text))
    span(tr, "streaming.answer", opId) {
      val df = Streams.answerBatch(batch, store)
      span(tr, "exec", opId)(df.collect())
    }
  }

  /** Check every answer against a brute-force top-10 over the store's
    * vectors, with question vectors from `feature_hash_embed`: the context
    * must be the top texts in rank order, every planted fact must be in its
    * question's context, and the answer must be `[extractive] ` plus the
    * first sentence of the best text. Returns the number of mismatches.
    */
  private def check(qs: Seq[Question], got: Array[Row],
      storeRows: Array[(String, Array[Float])]): Int = {
    val qvec = linesDf(spark, qs.map(_.text))
      .select(col("line"), feature_hash_embed(col("line")))
      .collect().map(r => r.getString(0) -> r.getSeq[Float](1).toArray).toMap
    val byQ = got.map(r => r.getAs[String]("question") -> r).toMap
    var bad = 0
    def fail(msg: String): Unit = { bad += 1; System.err.println(s"[check] $msg") }
    if (byQ.size != got.length) fail("duplicate questions in the answer set")
    qs.foreach { q =>
      val top = storeRows.iterator
        .map { case (t, v) => (t, cosine(v, qvec(q.text))) }
        .filter(_._2 >= 0.0).toSeq
        .sortBy { case (t, s) => (-s, t) }.take(10)
      (byQ.get(q.text), top.isEmpty) match {
        case (None, true) => ()
        case (None, false) => fail(s"no answer for '${q.text}'")
        case (Some(_), true) => fail(s"answer for '${q.text}' with no match")
        case (Some(r), false) =>
          val ctx = r.getAs[String]("context")
          if (ctx != top.map(_._1).mkString("\n\n"))
            fail(s"context of '${q.text}' differs from the brute-force top-k")
          q.fact.foreach(f =>
            if (!ctx.split("\n\n").contains(f))
              fail(s"fact '$f' missing from the context of '${q.text}'"))
          val best = top.maxBy { case (t, s) => (s, t) }._1
          val i = best.indexOf('.')
          val want = "[extractive] " + (if (i < 0) best else best.substring(0, i))
          if (r.getAs[String]("answer") != want)
            fail(s"answer of '${q.text}' is not the best text's first sentence")
      }
    }
    bad
  }

  /** The store's (text, embedding) rows, for the check. */
  private def storeRows(): Array[(String, Array[Float])] =
    Streams.storeRead(spark, store).select("text", "embedding")
      .collect().map(r => (r.getString(0), r.getSeq[Float](1).toArray))

  /** `graft.functions.VectorKernels.cosine`, restated for the check. */
  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val d = math.sqrt(na) * math.sqrt(nb)
    if (d == 0.0) 0.0 else dot / d
  }

  /** Traced-only probes beside an op: each layer's public call on the
    * op's inputs, timed on its own. Returns rows the functions scanned.
    */
  private def probes(tr: Tracer, opId: Int, qs: Seq[Question],
      lines: Seq[String]): Map[String, Double] = {
    val batch = linesDf(spark, qs.map(_.text))
    val storeDf = tr.span("streaming.store_read", opId) {
      val d = Streams.storeRead(spark, store); d.schema; d
    }
    tr.span("streaming.retrieve", opId)(
      Streams.retrieveBatch(batch, store).collect())
    val embedIn = linesDf(spark, lines)
    tr.span("functions.embed", opId)(
      embedIn.select(feature_hash_embed(col("line"))).write
        .format("noop").mode("overwrite").save())
    val storeN = storeDf.count().toDouble
    tr.span("functions.cosine", opId)(
      storeDf.crossJoin(broadcast(
          batch.select(feature_hash_embed(col("line")).as("q"))))
        .select(cosine_sim(col("embedding"), col("q")))
        .write.format("noop").mode("overwrite").save())
    Map("embed_rows" -> lines.size.toDouble,
      "cosine_rows" -> storeN * qs.size,
      "store_files" -> liveParquet(store).size.toDouble)
  }
}

/** analytics_mix: a cost-stratified sample of the non-streaming declared
  * queries, each written in full to the `noop` sink.
  */
final class AnalyticsMix(spark: SparkSession, gen: Gen, work: String,
    data: String, recorded: Map[String, Recorded], seconds: Double)
    extends Workload {
  import Workload._
  /** Timed runs of each sampled query, back to back; its latency is
    * their median.
    */
  private val Repeats = 2
  /** The sample, in seeded order, is sized so that its timed runs take
    * about `seconds`: an even number of queries, at least 4, at the 1.25 s
    * a timed run of a sampled query took on average on 4 cores.
    */
  private val sample = {
    val (known, unknown) = Gen.analyticsQueries
      .partition(q => recorded.contains(q.name))
    if (unknown.nonEmpty) System.err.println(
      s"[sample] no recorded digest, left out: ${unknown.map(_.name).mkString(" ")}")
    val costs = known.map(q => q -> recorded(q.name).seconds)
    gen.querySample(costs,
      math.max(4, 2 * math.round(seconds / Repeats / 1.25 / 2).toInt))
  }
  def opsPerRun(seconds: Double): Int = sample.size * Repeats
  /** Check outcome per query, from its untimed run in [[warmup]]. */
  private val checked = scala.collection.mutable.Map.empty[String, Boolean]
  private var reps = 0
  private var dir: String = _

  def itemName: (String, String) = ("queries_per_s", "queries/s")

  /** Attach a fresh copy of the tables: resolve every table (schema and
    * contract check). The copy itself is not timed.
    */
  def setup(): Unit = {
    reps += 1
    dir = s"$work/data-$reps"
    copyTables(data, dir)
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
      .foreach(t => Tables.table(spark, dir, t).schema)
    Tables.events(spark, dir).schema
  }

  private def copyTables(from: String, to: String): Unit = {
    import scala.jdk.CollectionConverters._
    val dst = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(to))
    scala.util.Using.resource(java.nio.file.Files.list(java.nio.file.Paths.get(from))) {
      _.iterator().asScala.filter(_.toString.endsWith(".parquet")).foreach(f =>
        java.nio.file.Files.copy(f, dst.resolve(f.getFileName)))
    }
  }

  /** One untimed pass over the sample in its order: each query's full
    * result is digested and checked, then written to `noop` as the timed
    * runs do. The pass also builds the one-time layouts the queries read,
    * such as the bucketed tables, and warms the code the queries share.
    * Without it, queries that came early in the seeded order ran up to
    * 1.8x slower than the same queries later in another run; with only
    * the checked runs, the first query still ran up to 1.4x slower.
    */
  def warmup(): Unit = sample.foreach { q =>
    checked(q.name) =
      try checkDigest(q.name, q.fn(spark, dir))
      catch { case e: Exception =>
        System.err.println(s"[check] ${q.name} failed: $e"); false
      }
    Main.release(spark)
    scala.util.Try(q.fn(spark, dir).write.format("noop").mode("overwrite").save())
    Main.release(spark)
  }

  /** Ops `Repeats * i` to `Repeats * i + Repeats - 1` are timed runs of
    * query `i`, back to back, each writing the full result to `noop`. An
    * untimed run of the same kind goes first: a query's first run after
    * other queries took 1.1x to 1.6x its next one, with its JIT compiling
    * up to 1.5x as long.
    */
  def op(k: Int, tr: Option[Tracer]): OpOutcome = {
    val q = sample(k / Repeats % sample.size)
    def named[T](body: => T): T =
      try body catch {
        case e: Exception => throw new RuntimeException(s"${q.name}: $e", e)
      }
    if (k % Repeats == 0) {
      named(q.fn(spark, dir).write.format("noop").mode("overwrite").save())
      Main.release(spark)
    }
    val gc0 = Host.gcMillis
    val jit0 = Host.jitMillis
    val (df, lat, cpu, lost) = named(timed {
      val df = span(tr, "operators.build", k)(q.fn(spark, dir))
      span(tr, "exec", k)(
        df.write.format("noop").mode("overwrite").save())
      df
    })
    System.err.println(
      f"[op] ${q.name} $lat%.4f s cpu $cpu%.2f s gc ${Host.gcMillis - gc0} ms" +
        s" jit ${Host.jitMillis - jit0} ms")
    val extra = tr.fold(Map.empty[String, Double])(t => resolveProbe(t, k, df))
    OpOutcome(lat, cpu, 1, lat, !checked(q.name),
      extra + ("analysis_s" -> Tracer.phases(df.queryExecution)
        .getOrElse("analysis", 0.0)), key = Some(q.name), lost = lost)
  }

  private def checkDigest(name: String, df: DataFrame): Boolean =
    {
      val r = recorded(name)
      val (n, d) = Digest.of(df)
      val ok = n == r.rows && r.digest.forall(_ == d)
      if (!ok) System.err.println(
        s"[check] $name: rows $n digest $d, recorded ${r.rows} ${r.digest.getOrElse("-")}")
      ok
    }

  /** Traced-only: warm `Tables.table` calls for each table the query's
    * final plan scans, and the plan's scan-leaf count.
    */
  private def resolveProbe(tr: Tracer, opId: Int, df: DataFrame): Map[String, Double] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val paths = df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.getName)
        case _ => Nil
      }
    }
    val tables = paths.flatten.filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).distinct
    tr.span("tables.resolve", opId)(
      tables.foreach(t => Tables.table(spark, dir, t).schema))
    Map("scans" -> paths.size.toDouble)
  }
}

/** Order-insensitive result digest: row count and the sum of one 64-bit
  * hash per row over every column cast to string.
  */
object Digest {
  def of(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val r = named
      .select(xxhash64(named.columns.toSeq.map(c => col(c).cast("string")): _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }
}
