package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Schema-checked readers for the driver-generated parquet tables
  * (`/root/testdata/sf*`; see FIXTURES.md).
  *
  * All query entry points take `(SparkSession, sfDir)` per the driver
  * contract, so readers are plain functions of those two. Parquet scans are
  * columnar + vectorized; filters/projections applied downstream are pushed
  * into the scan by Catalyst (verified in PlanSpec).
  *
  * Schemas are catalog metadata, resolved once per file version (see
  * [[table]]) — the kind a metastore or table log holds at 100 TB. Data is
  * not: every read scans the table's files.
  *
  * Scale note: each table is a single parquet file at test scale, but the
  * same reader works unchanged on a directory of thousands of files at
  * 100 TB — the parquet scan lists and splits by
  * `spark.sql.files.maxPartitionBytes`.
  */
object Tables {
  import org.apache.hadoop.fs.{FileStatus, Path => HPath}
  import org.apache.spark.sql.types._

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** FIXTURES.md as code: column name → acceptable scanned dtypes, per table.
    * Timestamp columns have shipped as TIMESTAMP, TIMESTAMP_NTZ, and (events
    * nanos-era, under the legacy conf) LONG — all three are accepted and the
    * readers normalize; anything else is a regeneration we haven't seen, and
    * the 57-query opaque wreckage of round 10 showed that failing loudly at
    * the first read beats letting analysis errors name the symptom.
    */
  private val tsLike: Set[DataType]  = Set(TimestampType, TimestampNTZType)
  private val contract: Map[String, Seq[(String, Set[DataType])]] = Map(
    "region"     -> Seq("r_regionkey" -> Set(IntegerType), "r_name" -> Set(StringType)),
    "nation"     -> Seq("n_nationkey" -> Set(IntegerType), "n_name" -> Set(StringType),
                        "n_regionkey" -> Set(IntegerType)),
    "customer"   -> Seq("c_custkey" -> Set(LongType), "c_name" -> Set(StringType),
                        "c_nationkey" -> Set(IntegerType), "c_acctbal" -> Set(DoubleType),
                        "c_mktsegment" -> Set(StringType)),
    "supplier"   -> Seq("s_suppkey" -> Set(LongType), "s_name" -> Set(StringType),
                        "s_nationkey" -> Set(IntegerType), "s_acctbal" -> Set(DoubleType)),
    "part"       -> Seq("p_partkey" -> Set(LongType), "p_name" -> Set(StringType),
                        "p_brand" -> Set(StringType), "p_type" -> Set(StringType),
                        "p_size" -> Set(IntegerType), "p_retailprice" -> Set(DoubleType)),
    "orders"     -> Seq("o_orderkey" -> Set(LongType), "o_custkey" -> Set(LongType),
                        "o_orderstatus" -> Set(StringType), "o_totalprice" -> Set(DoubleType),
                        "o_orderdate" -> tsLike, "o_orderpriority" -> Set(StringType)),
    "lineitem"   -> Seq("l_orderkey" -> Set(LongType), "l_partkey" -> Set(LongType),
                        "l_suppkey" -> Set(LongType), "l_linenumber" -> Set(IntegerType),
                        "l_quantity" -> Set(DoubleType), "l_extendedprice" -> Set(DoubleType),
                        "l_discount" -> Set(DoubleType), "l_tax" -> Set(DoubleType),
                        "l_returnflag" -> Set(StringType), "l_linestatus" -> Set(StringType),
                        "l_shipdate" -> tsLike),
    "events"     -> Seq("event_id" -> Set(LongType), "ts" -> (tsLike + LongType),
                        "user_id" -> Set(LongType), "event_type" -> Set(StringType),
                        "value" -> Set(DoubleType), "props" -> Set(StringType)),
    "documents"  -> Seq("doc_id" -> Set(LongType), "text" -> Set(StringType),
                        "lang" -> Set(StringType), "source" -> Set(StringType),
                        "n_chars" -> Set(LongType)),
    "embeddings" -> Seq("vec_id" -> Set(LongType),
                        "embedding" -> Set(ArrayType(FloatType, containsNull = true),
                                           ArrayType(FloatType, containsNull = false)),
                        "label" -> Set(IntegerType)))

  private def assertContract(name: String, schema: StructType, path: String): Unit =
    contract.get(name).foreach { want =>
      val got = schema.fields.map(f => f.name -> f.dataType).toMap
      want.foreach { case (col, ok) =>
        got.get(col) match {
          case None =>
            throw new IllegalStateException(
              s"fixture schema drift: $path is missing column '$col' " +
              s"(expected one of ${ok.map(_.simpleString).mkString("/")}; " +
              s"found columns: ${schema.fieldNames.mkString(", ")})")
          case Some(t) if !ok.contains(t) =>
            // only `events.ts` is allowed to ride the session-wide
            // nanosAsLong legacy coercion (table() sets it for the events
            // read and it persists in the conf); a ts-like column in any
            // OTHER table arriving as LONG means that fixture drifted to
            // nanos timestamps and was silently coerced — name the cause
            val nanosHint =
              if (t == LongType && ok.subsetOf(tsLike))
                " (a timestamp column read as LONG = parquet TIMESTAMP(NANOS)" +
                " coerced by spark.sql.legacy.parquet.nanosAsLong; only" +
                " events.ts may rely on that coercion)"
              else ""
            throw new IllegalStateException(
              s"fixture schema drift: $path column '$col' is ${t.simpleString}, " +
              s"expected one of ${ok.map(_.simpleString).mkString("/")}$nanosHint")
          case _ => ()
        }
      }
    }

  /** Test hook: run the contract check on an arbitrary schema. */
  private[graft] def assertContractForTest(
      name: String, schema: StructType, path: String): Unit =
    assertContract(name, schema, path)

  /** Columns (at ANY nesting depth, dotted paths) the parquet FOOTERS of
    * `files` declare TIMESTAMP(NANOS).
    *
    * The `nanosAsLong` legacy conf is necessarily session-wide (no
    * per-read parquet option exists) and must stay on for events-query
    * EXECUTION, so once an events read has set it, a nanos column in any
    * other fixture would no longer fail Spark's footer conversion — it
    * would arrive as a silently-coerced LONG. The Spark-side contract
    * catches that for contracted ts-like columns (LONG ∉ tsLike), but an
    * UNCONTRACTED column would slip through; this footer read closes that
    * blind spot positively (ADVICE r13). It runs once per file version,
    * beside the schema inference. A directory-shaped table is swept
    * part-file by part-file (a mixed-writer dir can carry nanos in one
    * part and µs in another), capped at 64 footers — fixtures are
    * single-digit part counts; a genuinely file-heavy deployment would
    * hoist this into its catalog checks.
    */
  private def nanosColumns(s: SparkSession, files: Seq[FileStatus]): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val conf = s.sessionState.newHadoopConf()
    files.filter(_.getPath.getName.endsWith(".parquet")).take(64).flatMap { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf))
      try reader.getFooter.getFileMetaData.getSchema.getFields.asScala
        .toSeq.flatMap(fld => nanosFields(fld, ""))
      finally reader.close()
    }.distinct
  }

  /** Dotted paths of every TIMESTAMP(NANOS) primitive under `t`,
    * descending into group types: a nanos field nested inside a
    * struct/list/map rides the same session-wide coercion as a
    * top-level one, so it must trip the same wire (the dotted path
    * makes the drift error point at the exact field).
    */
  private[graft] def nanosFields(t: org.apache.parquet.schema.Type,
      prefix: String): Seq[String] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import scala.jdk.CollectionConverters._
    val name = if (prefix.isEmpty) t.getName else s"$prefix.${t.getName}"
    if (t.isPrimitive) {
      val isNanos = Option(t.getLogicalTypeAnnotation).exists {
        case a: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          a.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
        case _ => false
      }
      if (isNanos) Seq(name) else Nil
    } else
      t.asGroupType().getFields.asScala.toSeq
        .flatMap(f => nanosFields(f, name))
  }

  /** Session confs that change what parquet schema inference returns for
    * the same files, so they are part of a resolution's version.
    * `mergeSchema` matters only for directory-shaped tables.
    */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema")

  /** What a resolved schema is valid for: each data file's (path, length,
    * mtime) and the values of [[inferenceConfs]].
    */
  private final case class Version(
      files: Seq[(String, Long, Long)], confs: Seq[Option[String]])

  /** Table path → the version it was last resolved at and its checked
    * schema. One entry per path: a new file version replaces the old one,
    * and its checks run again.
    */
  private val resolved =
    new java.util.concurrent.ConcurrentHashMap[String, (Version, StructType)]()

  /** The files Spark reads for `path`: the file itself, or every data file
    * under a directory-shaped table, recursing into partition
    * subdirectories and skipping `_`/`.`-prefixed names as Spark does.
    * Empty when the path does not exist, so the read reports it.
    */
  private def dataFiles(s: SparkSession, path: String): Seq[FileStatus] = {
    val p = new HPath(path)
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    def collect(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).sortBy(_.getPath.getName).toSeq
        .filterNot { c =>
          val n = c.getPath.getName
          n.startsWith("_") || n.startsWith(".")
        }
        .flatMap(collect)
    try collect(fs.getFileStatus(p))
    catch { case _: java.io.FileNotFoundException => Nil }
  }

  /** The one resolution step for a base table.
    *
    * A table's schema is catalog metadata: it is inferred (one Spark job)
    * and checked against the contract and the nanos footer sweep once per
    * file version, then every read plans against it with
    * `spark.read.schema(resolved).parquet(path)`, which runs no job. Data
    * is never cached here: every query still scans the table's files.
    * On a miss the DataFrame that did the inference is returned, so a
    * first read costs what an unresolved read does. Two threads missing
    * together both infer; either result is correct.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // a nanos-era events fixture fails inside Spark's footer reader
    // ("Illegal Parquet type") BEFORE the contract check unless the legacy
    // conf is on — set it here, not only in events(), so a direct
    // table(_, _, "events") scan (FixtureSchemaSpec's all-tables pass) hits
    // the contract's one-line drift error regardless of call order
    if (name == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$sfDir/$name.parquet"
    val files = dataFiles(spark, path)
    val version = Version(
      files.map(f => (f.getPath.toString, f.getLen, f.getModificationTime)),
      inferenceConfs.map(spark.conf.getOption))
    resolved.get(path) match {
      case (`version`, schema) => spark.read.schema(schema).parquet(path)
      case _ =>
        val df = spark.read.parquet(path)
        assertContract(name, df.schema, path)
        // only events.ts may ride the nanosAsLong coercion: with the conf
        // already on from a prior events read, a nanos-drifted column in
        // any OTHER fixture no longer fails Spark's footer conversion, so
        // assert it against the parquet footers directly
        if (name != "events") {
          val nanos = nanosColumns(spark, files)
          if (nanos.nonEmpty)
            throw new IllegalStateException(
              s"fixture schema drift: $path stores " +
              s"TIMESTAMP(NANOS) column(s) ${nanos.mkString(", ")} — only " +
              "events.ts may rely on the nanosAsLong legacy coercion")
        }
        resolved.put(path, (version, df.schema))
        df
    }
  }

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  /** `events.ts` has shipped as both parquet TIMESTAMP(NANOS) (which
    * Spark's vectorized reader rejects, so it arrives as a raw-nanos LONG
    * under the legacy conf) and plain timestamp[us] (which arrives as
    * TIMESTAMP or TIMESTAMP_NTZ depending on isAdjustedToUTC). Adapt to
    * whatever the scan produces instead of assuming one encoding:
    *   - LongType → rebuild with integer µs division (exact: `div`, never
    *     double division — ns-epoch ≈ 1.7e18 > 2^53; generator emits
    *     µs-aligned values so the truncation is lossless);
    *   - TIMESTAMP_NTZ → cast to session-tz TIMESTAMP (value-identical
    *     under the UTC session timezone all entry points set);
    *   - TIMESTAMP → pass through.
    * Every downstream query thus always sees `ts: TIMESTAMP`.
    */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventsTs(table(s, d, "events"))

  /** The `events.ts` rebuild described at [[events]], for the batch reader
    * and its streaming twin alike.
    */
  private[graft] def normalizeEventsTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _                => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
