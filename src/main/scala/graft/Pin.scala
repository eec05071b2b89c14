package graft

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, GraftSql}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** The one owner of the blocks an operator pins, in three modes:
  *  - [[cache]], a partition-preserving `persist`. AQE shows a checkpoint
  *    as `UnknownPartitioning`; a cache keeps a hash layout visible, so
  *    the rounds that read it plan no exchange for it.
  *  - [[cut]], a lazy `localCheckpoint`: it materializes inside the
  *    first action that reads it, at no job of its own.
  *  - [[now]], an eager `localCheckpoint`: a job of its own.
  *
  * [[scope]] records the pins its body makes on the calling thread and
  * releases them, without blocking, when the body returns or throws. A
  * `now` pin that the result reads passes to the enclosing scope, or to
  * the caller; a `cache` or `cut` pin that it reads would be freed under
  * a lazy frame, so the scope throws. A kernel whose result is lazy over
  * such pins opens no scope: they stay with its caller. [[release]] frees
  * pins now, and reaches a checkpoint's own RDD, which
  * `Dataset.unpersist` does not.
  */
object Pin {

  /** A pin: eager or not, and a checkpoint's RDD (None for a cache). */
  private final case class Held(eager: Boolean, rdd: Option[RDD[_]])

  // weak keys: a pin handed to the caller is forgotten with its frame
  private val pins = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[Dataset[_], Held]())
  private val open = ThreadLocal.withInitial[List[ArrayBuffer[Dataset[_]]]](() => Nil)

  def cache(df: DataFrame): DataFrame = record(df.persist(), Held(false, None))
  def cut(df: DataFrame): DataFrame = checkpoint(df.localCheckpoint(false), false)
  def now(df: DataFrame): DataFrame = checkpoint(df.localCheckpoint(true), true)

  private def checkpoint(df: DataFrame, eager: Boolean): DataFrame =
    df.queryExecution.logical match {
      case r: LogicalRDD => record(df, Held(eager, Some(r.rdd)))
      case p => throw new IllegalStateException(s"checkpoint planned ${p.nodeName}")
    }

  private def record(df: DataFrame, held: Held): DataFrame = {
    pins.put(df, held)
    open.get.headOption.foreach(_ += df)
    df
  }

  /** Free each of `frames`, without blocking; each must be a held pin. */
  def release(frames: DataFrame*): Unit =
    frames.foreach(f => require(free(f), s"Pin.release: not a held pin: $f"))

  private def free(f: Dataset[_]): Boolean = Option(pins.remove(f)) match {
    case Some(Held(_, Some(rdd))) => rdd.unpersist(blocking = false); true
    case Some(_) => f.unpersist(blocking = false); true
    case None => false
  }

  /** Run `body`, then release every pin it made on this thread (nested
    * scopes included) except the `now` pins its result reads, which pass
    * outward. A result reading a `cache` or `cut` pin made here throws.
    * Runs no Spark job.
    */
  def scope[T](body: => T): T = {
    val made = ArrayBuffer.empty[Dataset[_]]
    open.set(made :: open.get)
    var kept: Seq[Dataset[_]] = Nil
    try {
      val result = body
      val read = readBy(result, made.filter(pins.containsKey).toSeq)
      if (read.exists(f => !pins.get(f).eager)) throw new IllegalStateException(
        "Pin.scope: the result reads a cache or cut pin made inside the " +
          "scope; return it unscoped so the caller owns its pins")
      kept = read
      result
    } finally {
      open.set(open.get.tail)
      made.foreach(f => if (!kept.exists(_ eq f)) free(f))
      open.get.headOption.foreach(_ ++= kept)
    }
  }

  /** The pins in `held` that `result`'s frames read: a checkpoint by its
    * RDD among the analyzed plans' `LogicalRDD` leaves, a cache by its
    * `InMemoryRelation` once the session's cached data is substituted in.
    */
  private def readBy(result: Any, held: Seq[Dataset[_]]): Seq[Dataset[_]] = {
    def frames(x: Any): Seq[Dataset[_]] = x match {
      case d: Dataset[_] => Seq(d)
      case p: Product => p.productIterator.flatMap(frames).toSeq
      case _ => Nil
    }
    def caches(d: Dataset[_]) = GraftSql.withCachedData(d.sparkSession,
      d.queryExecution.analyzed).collectWithSubqueries {
        case r: InMemoryRelation => r.cacheBuilder }
    val out = frames(result)
    if (out.isEmpty || held.isEmpty) return Nil
    val rdds = out.flatMap(_.queryExecution.analyzed
      .collectWithSubqueries { case r: LogicalRDD => r.rdd })
    lazy val cached = out.flatMap(caches)
    held.filter { f =>
      pins.get(f).rdd match {
        case Some(rdd) => rdds.exists(_ eq rdd)
        case None => caches(f).exists(b => cached.exists(_ eq b))
      }
    }
  }
}
