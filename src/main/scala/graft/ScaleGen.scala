package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixture AMPLIFIER for the scaling-curve bench (r17 verdict ask #1):
  * replicates the sf0.1 tables `factor`× with shifted keys so the
  * scaled corpus is `factor` structurally-independent shards — the
  * shape a kernel must scale ~linearly on if its plan is sound.
  *
  * Design choices, stated because they decide what the curve measures:
  *  - Keys shift by a power-of-10 offset above the table's max, so
  *    copies never collide and referential integrity (lineitem↔orders↔
  *    customer, part/supplier) holds within every copy.
  *  - `documents.text` is WORD-PERMUTED per copy (deterministic hash
  *    order keyed by the copy id): unigram statistics — language-ID,
  *    stopword/quality ratios, token counts, BPE pair frequencies —
  *    are preserved exactly, while word 3-gram shingles diverge, so
  *    cross-copy docs are NOT near-duplicates and the dedup kernels'
  *    pair volume scales with data size instead of quadratically in
  *    the copy count (identical copies would put every doc in a
  *    factor-sized LSH bucket — a measurement artifact, not a
  *    workload).
  *  - `events` copies shift user/event ids and keep timestamps —
  *    `factor`× the traffic at the same window density. Note the shipped
  *    stream-stream joins bound state with a `user_id < 100` predicate
  *    (BENCH design: measure the operator, not state-store bulk), so on
  *    this corpus their STATE stays constant while their input SCAN
  *    scales — the curve measures the scan+filter path, and the state
  *    axis is guarded separately by the bench's state_rows telemetry.
  *  - Dimension-sized tables (region, nation) copy verbatim.
  *
  * Usage: `runMain graft.ScaleGen <srcSfDir> <outDir> <factor>
  * [holdHotParts] [holdHotUsers]` (the optional 4th arg writes the
  * GROWING-SKEW variant, the 5th the growing hot-USER streaming-state
  * variant — see `generate`). ScalingBench invokes this lazily for
  * missing scale dirs.
  */
object ScaleGen {

  private def pow10Above(n: Long): Long = {
    var p = 1L
    while (p <= n) p *= 10
    p
  }

  /** The hot-user head the `holdHotUsers` corpus holds: top-`n` users
    * by event count among `user_id` < 100 (the shipped stream queries'
    * state bound), deterministic tie-break on id. Exposed so
    * ScalingBench can recompute the exact held set for its per-point
    * hot-key state evidence (a bounded n-row collect on a dimension-
    * sized aggregate).
    */
  private[graft] def hotUserHead(spark: SparkSession, src: String,
      n: Int): Seq[Long] = {
    // save/restore the session-wide legacy conf instead of leaking it:
    // ScalingBench calls this mid-run and unrelated reads must not
    // silently inherit the nanos coercion (ADVICE r20)
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try spark.read.parquet(s"$src/events.parquet")
      .where(col("user_id") < 100)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("user_id"))
      .limit(n).collect().map(_.getLong(0)).toSeq
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Union of `factor` copies of `df`, with each column in `offs`
    * offset by copy · off. Offsets are computed per KEY DOMAIN by the
    * caller (one offset per join key, from the dimension side) so fact
    * and dim shift identically and referential integrity holds in
    * every copy.
    *
    * `hold` (the GROWING-SKEW mode, r18 verdict ask #2): per column, a
    * set of key values that are NOT shifted — every copy keeps them
    * verbatim, so the held keys' share of rows stays constant while
    * their ABSOLUTE mass grows `factor`×. Plain amplification makes
    * `factor` structurally-independent shards (each shard brings its
    * own hot key, so skew never grows); held keys are the power-law
    * HEAD that grows with the corpus — the shape the salted/capped
    * kernels exist for. Held values always exist in copy 0, so
    * referential integrity is untouched.
    */
  private def amplify(df: DataFrame, factor: Int, offs: Map[String, Long],
      textPermute: Boolean = false,
      hold: Map[String, Seq[Long]] = Map.empty): DataFrame = {
    (0 until factor).map { cp =>
      val shifted = offs.foldLeft(df) { case (d, (c, off)) =>
        val sh = col(c) + lit(cp * off)
        d.withColumn(c, hold.get(c) match {
          case Some(hot) if hot.nonEmpty =>
            when(col(c).isin(hot: _*), col(c)).otherwise(sh)
          case _ => sh
        })
      }
      if (!textPermute || cp == 0) shifted
      else
        // deterministic per-copy word permutation: sort tokens by a
        // hash keyed on (token, position, copy). Keeps every unigram
        // statistic bit-identical, destroys cross-copy shingle overlap.
        shifted.withColumn("text",
          array_join(
            transform(
              array_sort(
                expr(s"""transform(split(text, ' '),
                        |  (t, i) -> struct(
                        |    xxhash64(t, i, $cp) AS h, t AS t))"""
                  .stripMargin)),
              s => s.getField("t")),
            " "))
    }.reduce(_ unionByName _)
  }

  /** Amplify every table of `src` into `out` (idempotent: skips when the
    * marker file for this factor already exists).
    *
    * `holdHotParts` > 0 enables the growing-skew corpus: the N parts
    * appearing in the most distinct orders keep their `l_partkey`
    * across every copy (order keys still shift), so each hot part
    * co-purchases with `factor`× as many orders — its co-purchase hub
    * DEGREE grows linearly with the corpus while its row share stays
    * constant. This is the axis the salted-adjacency and
    * capped-middle-vertex kernels must survive; the plain corpus can
    * never exercise it (shards are structurally independent).
    *
    * `holdHotUsers` > 0 enables the growing hot-USER corpus (the
    * streaming-state analogue of `holdHotParts`): the N most active
    * users with `user_id` < 100 keep their id across every copy (event
    * ids still shift), so a hot user's event mass — and therefore the
    * rows ONE keyed state partition must hold and probe — grows
    * `factor`× while its row share stays constant. Held users are
    * chosen below 100 so the shipped stream-stream joins'
    * state-bounding `user_id < 100` predicate retains them: under that
    * bound the retained state is copy-0's users (constant) plus the
    * held head (growing), isolating the hot-key axis. Timestamps copy
    * verbatim, so a held user's copies land in the SAME session gaps /
    * join bands — the worst case for a skewed state instance.
    */
  def generate(spark: SparkSession, src: String, out: String,
      factor: Int, holdHotParts: Int = 0, holdHotUsers: Int = 0): Unit = {
    val marker = java.nio.file.Paths.get(out,
      s"_SCALE_$factor" +
        (if (holdHotParts > 0) s"_h$holdHotParts" else "") +
        (if (holdHotUsers > 0) s"_u$holdHotUsers" else ""))
    if (java.nio.file.Files.exists(marker)) return
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    // nanos-encoded events fixtures (rounds ≤9) arrive as raw-long under
    // this flag; the copy then writes LONG, which Tables.events rebuilds
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$out/$t.parquet")
    // the stream-bridged tables (events/documents) must be SINGLE FILES:
    // Streams.eventsStream symlinks `$sfDir/<t>.parquet` into a watch
    // dir, and the file stream source does not descend into a
    // subdirectory that isn't partition-named — a directory here reads
    // as an EMPTY stream (r18 scaling run: every stream-stream wall
    // collapsed to 0.25 s because no data arrived)
    def writeOneFile(df: DataFrame, t: String): Unit = {
      import scala.jdk.CollectionConverters._
      val tmp = s"$out/_tmp_$t"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = scala.util.Using.resource(
        java.nio.file.Files.list(java.nio.file.Paths.get(tmp)))(
        _.iterator().asScala.toSeq)
        .find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file written for $t"))
      val tgt = java.nio.file.Paths.get(out, s"$t.parquet")
      java.nio.file.Files.deleteIfExists(tgt)
      java.nio.file.Files.move(part, tgt)
      scala.util.Using.resource(
        java.nio.file.Files.walk(java.nio.file.Paths.get(tmp)))(
        _.iterator().asScala.toSeq).reverse
        .foreach(p => try java.nio.file.Files.deleteIfExists(p)
          catch { case _: Exception => () })
    }
    def keyMax(t: String, c: String): Long =
      pow10Above(read(t).agg(max(col(c))).head().getLong(0))
    // one offset per key DOMAIN, computed on the dimension side
    val ordOff = keyMax("orders", "o_orderkey")
    val partOff = keyMax("part", "p_partkey")
    val suppOff = keyMax("supplier", "s_suppkey")
    val custOff = keyMax("customer", "c_custkey")
    // the growing-skew head: top-N parts by distinct-order count (a
    // bounded N-row collect), held verbatim in every copy
    val hotParts: Seq[Long] =
      if (holdHotParts <= 0) Nil
      else read("lineitem").select("l_orderkey", "l_partkey").distinct()
        .groupBy("l_partkey").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("l_partkey"))
        .limit(holdHotParts).collect().map(_.getLong(0)).toSeq
    // the growing hot-USER head: top-N users by event count among
    // user_id < 100 (the shipped state-bound), held in every copy
    val hotUsers: Seq[Long] =
      if (holdHotUsers <= 0) Nil
      else hotUserHead(spark, src, holdHotUsers)
    write(amplify(read("lineitem"), factor, Map(
      "l_orderkey" -> ordOff, "l_partkey" -> partOff,
      "l_suppkey" -> suppOff),
      hold = Map("l_partkey" -> hotParts)), "lineitem", 4 * factor)
    write(amplify(read("orders"), factor, Map(
      "o_orderkey" -> ordOff, "o_custkey" -> custOff)),
      "orders", 2 * factor)
    write(amplify(read("customer"), factor, Map("c_custkey" -> custOff)),
      "customer", factor)
    write(amplify(read("part"), factor, Map("p_partkey" -> partOff)),
      "part", factor)
    write(amplify(read("supplier"), factor, Map("s_suppkey" -> suppOff)),
      "supplier", factor)
    writeOneFile(amplify(read("events"), factor, Map(
      "event_id" -> keyMax("events", "event_id"),
      "user_id" -> keyMax("events", "user_id")),
      hold = Map("user_id" -> hotUsers)), "events")
    writeOneFile(amplify(read("documents"), factor,
      Map("doc_id" -> keyMax("documents", "doc_id")),
      textPermute = true), "documents")
    write(amplify(read("embeddings"), factor,
      Map("vec_id" -> keyMax("embeddings", "vec_id"))),
      "embeddings", factor)
    write(read("region"), "region", 1)
    write(read("nation"), "nation", 1)
    java.nio.file.Files.write(marker, Array.emptyByteArray)
  }

  def main(args: Array[String]): Unit = {
    val (src, out, factor) = (args(0), args(1), args(2).toInt)
    val spark = Harness.session()
    generate(spark, src, out, factor,
      holdHotParts = args.lift(3).map(_.toInt).getOrElse(0),
      holdHotUsers = args.lift(4).map(_.toInt).getOrElse(0))
    spark.stop()
  }
}
