package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Dev harness: time individual inventory queries (min of `reps`) at an
  * arbitrary SF without paying for the full bench sweep. Each rep prints
  * its wall, task CPU, the number of classes Spark's code generator
  * compiled (a rep that reuses compiled code reads 0) and the number of
  * processes the JVM forked ([[processStarts]]), every stage that
  * took at least 30 ms of wall or CPU, and, for a streaming query, the
  * `durationMs` breakdown of every micro-batch.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt 'runMain graft.Profile dedup_minhash_collapse [more names]'
  *
  * `-explain` as the first arg prints the formatted physical plan instead
  * of timing.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val spark = Harness.session()
    val (explain, names) =
      if (args.headOption.contains("-explain")) (true, args.drop(1))
      else (false, args)
    val byName = SparkEntry.all.map(q => q.name -> q).toMap
    // same untimed warm-up as Bench so numbers are comparable
    Harness.warmUp(spark, sfDir)
    // (stage id, wall ms, tasks, executor run ms, executor CPU ms)
    val stages = ArrayBuffer.empty[(Int, Long, Int, Long, Long)]
    val batches = ArrayBuffer.empty[StreamingQueryProgress]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val dur = for {
          s <- si.submissionTime; c <- si.completionTime
        } yield c - s
        stages.synchronized {
          stages += ((si.stageId, dur.getOrElse(-1L), si.numTasks,
            si.taskMetrics.executorRunTime,
            si.taskMetrics.executorCpuTime / 1000000L))
        }
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        batches.synchronized { batches += e.progress }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    names.foreach { n =>
      val q = byName.getOrElse(n, sys.error(s"unknown query: $n"))
      if (explain) {
        println(s"==== $n ====")
        q.fn(spark, sfDir).explain("formatted")
      } else {
        val times = (1 to reps).map { r =>
          stages.synchronized(stages.clear())
          batches.synchronized(batches.clear())
          val compiles0 = compileCount
          val (dt, forks) = processStarts {
            val t0 = System.nanoTime()
            q.fn(spark, sfDir).count()
            (System.nanoTime() - t0) / 1e9
          }
          val compiles = compileCount - compiles0
          Harness.release(spark)
          // listener events arrive asynchronously: let the rep's drain
          Thread.sleep(300)
          stages.synchronized {
            val cpu = stages.map(_._5).sum / 1e3
            println(f"== $n r$r wall=$dt%.3f cpu=$cpu%.3f compiles=$compiles " +
              s"forks=${forks.size}")
            stages.sortBy(_._1).foreach { case (id, dur, nt, rt, ct) =>
              if (dur >= 30 || ct >= 30)
                println(f"   stage=$id dur=${dur}ms tasks=$nt " +
                  f"runTime=${rt}ms cpuTime=${ct}ms")
            }
          }
          batches.synchronized {
            batches.foreach { p =>
              println(s"   batch=${p.batchId} rows=${p.numInputRows} " +
                s"durationMs=${new java.util.TreeMap(p.durationMs)}")
            }
          }
          dt
        }
        println(f"$n%-28s min=${times.min}%.3f  runs=${times.map(t => f"$t%.3f").mkString(",")}")
      }
    }
    spark.stop()
  }

  /** Classes compiled by Spark's code generator so far in this JVM. */
  private def compileCount: Long = org.apache.spark.metrics.source
    .CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Run `body` under a JFR recording of `jdk.ProcessStart` alone, and
    * return its result with the command line of every process this JVM
    * started meanwhile. Without its native library, Hadoop forks a shell
    * command for each local permission change and link-status check.
    */
  def processStarts[T](body: => T): (T, Seq[String]) = {
    val rec = new jdk.jfr.Recording()
    val file = java.nio.file.Files.createTempFile("graft_forks_", ".jfr")
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      val out = try body finally rec.stop()
      rec.dump(file)
      // the dump holds the events of every recording active in the JVM
      (out, jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command")).toSeq)
    } finally {
      rec.close()
      java.nio.file.Files.deleteIfExists(file)
    }
  }
}
