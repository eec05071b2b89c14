package graft.perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A finished span: a timed call into one layer, made from the benchmark's
  * own code. `counters` are the deltas of [[Tracer]]'s counters over the
  * span; `qes` the query executions that finished inside it.
  */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startNs: Long, endNs: Long, counters: Map[String, Double],
    qes: Seq[QueryExecution]) {
  def seconds: Double = (endNs - startNs) / 1e9
  def apply(c: String): Double = counters.getOrElse(c, 0.0)
}

/** Layer tracing for the traced run: Spark job/stage/task counts,
  * streaming progress and query-execution phases, attributed to nested
  * spans. Listener queues are drained at every span boundary, so a span's
  * counters hold exactly its own work; that draining is part of the
  * tracing overhead the traced run reports. Spans stay in memory and are
  * written once, by [[writeJson]].
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val c = scala.collection.mutable.LinkedHashMap(
    Seq("jobs", "stages", "tasks", "task_cpu_ns", "task_run_ms",
      "shuffle_bytes", "spill_bytes", "stream_starts", "batches",
      "empty_batches", "batch_ms").map(_ -> new AtomicLong): _*)
  private val finishedQes = ArrayBuffer.empty[QueryExecution]
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      c("jobs").incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      c("stages").incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      c("tasks").incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        c("task_cpu_ns").addAndGet(m.executorCpuTime)
        c("task_run_ms").addAndGet(m.executorRunTime)
        c("shuffle_bytes").addAndGet(
          m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
        c("spill_bytes").addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  })
  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      c("stream_starts").incrementAndGet()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      c("batches").incrementAndGet()
      if (e.progress.numInputRows == 0) c("empty_batches").incrementAndGet()
      c("batch_ms").addAndGet(e.progress.batchDuration)
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  })
  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      finishedQes.synchronized(finishedQes += qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  private def snapshot(): (Map[String, Long], Long, Int) = {
    org.apache.spark.BenchHooks.drainListeners(sc)
    (c.map { case (k, v) => k -> v.get }.toMap, Host.gcMillis,
      finishedQes.synchronized(finishedQes.size))
  }

  /** Run `body` as span `name` of op `op`, nested under the open span. */
  def span[T](name: String, op: Int)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val (c0, gc0, q0) = snapshot()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      val (c1, gc1, q1) = snapshot()
      stack = stack.tail
      val d = c1.map { case (k, v) => k -> (v - c0(k)).toDouble } +
        ("gc_ms" -> (gc1 - gc0).toDouble)
      val qes = finishedQes.synchronized(finishedQes.slice(q0, q1).toSeq)
      spans += Span(id, name, parent, op, t0, t1, d, qes)
    }
  }

  def all: Seq[Span] = spans.toSeq.sortBy(_.id)

  /** Write every span once, at the end of the run. */
  def writeJson(path: String): Unit = {
    val sb = new StringBuilder("[\n")
    all.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb ++= ",\n"
      sb ++= s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""op":${s.op},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s.counters.toSeq.sortBy(_._1)
          .map { case (k, v) => s""""$k":${v.toLong}""" }.mkString(",") + "}"
    }
    sb ++= "\n]\n"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}

object Tracer {
  /** Physical-plan counts of a finished query: shuffle and broadcast
    * exchanges and windows with no PARTITION BY, read from the final
    * adaptive plan and its subqueries.
    */
  def planCounts(qe: QueryExecution): Map[String, Double] = {
    var ex, bx, uw = 0
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case e: ShuffleExchangeLike => ex += 1; e.children.foreach(walk)
        case b: BroadcastExchangeLike => bx += 1; b.children.foreach(walk)
        case w: WindowExec =>
          if (w.partitionSpec.isEmpty) uw += 1; w.children.foreach(walk)
        case o => o.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
    }
    walk(qe.executedPlan)
    Map("exchanges" -> ex.toDouble, "broadcast_exchanges" -> bx.toDouble,
      "unpartitioned_windows" -> uw.toDouble)
  }

  /** Catalyst phase seconds recorded by a query's planning tracker. */
  def phases(qe: QueryExecution): Map[String, Double] =
    qe.tracker.phases.map { case (k, v) => k -> v.durationMs / 1e3 }
}
