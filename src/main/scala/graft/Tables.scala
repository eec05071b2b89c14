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
  * Schemas are catalog metadata, read from the parquet footers once per
  * file version (see [[resolve]]) — the kind a metastore or table log holds
  * at 100 TB. Data is not: every read scans the table's files.
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

  /** Session confs that change the schema inference derives from one
    * footer, so they are part of each file's cached version. Whether to
    * merge (`mergeSchema`) and how (`caseSensitive`) are read on every
    * resolution, since merging is not cached.
    */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp")

  /** What one data file's footer facts are valid for. */
  private final case class FileVersion(path: String, length: Long,
      mtime: Long, confs: Seq[Option[String]])

  /** One data file's footer, as schema inference sees it: the Spark
    * schema it yields (or the conversion error, raised only when that
    * schema is used, since Spark converts only the files it infers from)
    * and the columns it stores as TIMESTAMP(NANOS).
    */
  private final case class FileFacts(schema: scala.util.Try[StructType],
      nanos: Seq[String])

  /** A resolved read: the schema inference would give, and every data
    * file's TIMESTAMP(NANOS) columns.
    */
  private final case class Resolved(schema: StructType,
      nanos: Seq[String])

  /** Read root → the footer facts of its data files at the versions last
    * resolved. The root is a table's path, or a store's root directory for
    * all its generations. Each resolution replaces the root's whole map, so
    * files that compaction or retention deleted drop out.
    */
  private val footers =
    new java.util.concurrent.ConcurrentHashMap[String, Map[FileVersion, FileFacts]]()

  /** Test hook: the files the resolver holds footer facts for under `root`. */
  private[graft] def cachedFiles(root: String): Set[String] =
    Option(footers.get(root)).fold(Set.empty[String])(_.keySet.map(_.path))

  /** Drop the footer facts of every read root at or under `dir`; a
    * `<path>#<layer>` root counts as `<path>`. For a deleted directory.
    */
  private[graft] def forgetUnder(dir: java.nio.file.Path): Unit = {
    val d = dir.toAbsolutePath.normalize
    footers.keySet.removeIf { root =>
      scala.util.Try(java.nio.file.Paths.get(root.split('#').head)
        .toAbsolutePath.normalize.startsWith(d)).getOrElse(false)
    }
  }

  /** The files Spark reads for `path`: the file itself, or every data file
    * under a directory-shaped table, recursing into partition
    * subdirectories and skipping `_`/`.`-prefixed names as Spark does.
    * Sorted by full path, the order Spark infers and merges in. Empty when
    * the path does not exist, so the read reports it.
    */
  private def dataFiles(s: SparkSession, path: String): Seq[FileStatus] = {
    val p = new HPath(path)
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    def collect(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq
        .filterNot { c =>
          val n = c.getPath.getName
          n.startsWith("_") || n.startsWith(".")
        }
        .flatMap(collect)
    try collect(fs.getFileStatus(p)).sortBy(_.getPath.toString)
    catch { case _: java.io.FileNotFoundException => Nil }
  }

  /** Read one footer, on the driver, and derive what Spark's parquet
    * inference derives from it: the writer's Spark schema from the
    * `org.apache.spark.sql.parquet.row.metadata` key when it parses, else
    * the parquet schema converted under the session's conf.
    */
  private def readFooter(f: FileStatus,
      hadoopConf: org.apache.hadoop.conf.Configuration,
      converter: => org.apache.spark.sql.execution.datasources.parquet
        .ParquetToSparkSchemaConverter): FileFacts = {
    import scala.jdk.CollectionConverters._
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, hadoopConf))
    val meta = try reader.getFooter.getFileMetaData finally reader.close()
    val schema = scala.util.Try(
      Option(meta.getKeyValueMetaData.get(
          "org.apache.spark.sql.parquet.row.metadata"))
        .flatMap(json => scala.util.Try(DataType.fromJson(json)).toOption)
        .collect { case st: StructType => st }
        .getOrElse(converter.convert(meta.getSchema)))
    FileFacts(schema,
      meta.getSchema.getFields.asScala.toSeq.flatMap(nanosFields(_, "")))
  }

  /** The one schema resolver for parquet reads: what `spark.read.parquet`
    * would infer for `path`, from the data files' footers instead of a
    * Spark job. Footers are read once per file version and kept under
    * `root`; a resolution after an append reads only the new file's
    * footer. With `mergeAll` the per-file schemas merge in path order
    * through Spark's own `StructType.merge`, as `mergeSchema` does;
    * without it the first file's schema stands, as Spark takes it. `None`
    * when `path` has no data file: there is nothing to resolve, and the
    * plain read reports the error.
    *
    * This is catalog metadata, as a table log or metastore would hold it;
    * no data is cached. Summary files (`_metadata`, `_common_metadata`)
    * are not consulted; Spark writes none by default. Two threads
    * resolving one root together both read; either map is correct.
    */
  private def resolve(spark: SparkSession, root: String,
      path: String, mergeAll: Boolean): Option[Resolved] = {
    val files = dataFiles(spark, path)
    if (files.isEmpty) return None
    val confs = inferenceConfs.map(spark.conf.getOption)
    val known = footers.getOrDefault(root, Map.empty)
    lazy val hadoopConf = spark.sessionState.newHadoopConf()
    lazy val converter = new org.apache.spark.sql.execution.datasources
      .parquet.ParquetToSparkSchemaConverter(spark.sessionState.conf)
    val facts = files.map { f =>
      val v = FileVersion(f.getPath.toString, f.getLen,
        f.getModificationTime, confs)
      v -> known.getOrElse(v, readFooter(f, hadoopConf, converter))
    }
    footers.put(root, facts.toMap)
    val schemas = facts.map(_._2.schema)
    val caseSensitive = spark.sessionState.conf.caseSensitiveAnalysis
    val schema =
      if (mergeAll) schemas.map(_.get).reduce(
        org.apache.spark.sql.GraftSql.mergeSchemas(_, _, caseSensitive))
      else schemas.head.get
    Some(Resolved(schema, facts.flatMap(_._2.nanos).distinct))
  }

  /** `path` read with its resolved schema, which runs no Spark job. */
  private def read(spark: SparkSession, path: String,
      resolved: Option[Resolved]): DataFrame = resolved match {
    case Some(r) => spark.read.schema(r.schema).parquet(path)
    // no data file: Spark words the error (PATH_NOT_FOUND,
    // UNABLE_TO_INFER_SCHEMA); with nothing to infer from, no job runs
    case None => spark.read.parquet(path)
  }

  /** `path` read with the merged schema of all its data files, resolved
    * under `root` (see [[resolve]]): the file-backed stores' read.
    */
  private[graft] def readMerged(spark: SparkSession, root: String,
      path: String): DataFrame =
    read(spark, path, resolve(spark, root, path, mergeAll = true))

  /** `spark.read.parquet(path)` with the schema it would infer, resolved
    * from the footers (see [[resolve]]) instead of by a Spark job: the
    * read-back of files the engine has just written. A partitioned
    * directory still discovers its partition columns.
    */
  private[graft] def readParquet(spark: SparkSession, path: String): DataFrame =
    read(spark, path, resolve(spark, path, path,
      mergeAll = spark.sessionState.conf.isParquetSchemaMergingEnabled))

  /** The one read path for a base table.
    *
    * The schema comes from [[resolve]], so no read runs a Spark job, cold
    * or warm. Each read checks it against the contract and asserts that
    * no data file stores a TIMESTAMP(NANOS) column outside `events`. The
    * `nanosAsLong` legacy conf is session-wide (no per-read parquet option
    * exists) and must stay on for events-query execution, so once an
    * events read has set it, a nanos column in any other fixture would no
    * longer fail Spark's footer conversion: it would arrive as a silently
    * coerced LONG. The contract catches that for contracted ts-like
    * columns, but an uncontracted column would slip through; the footer
    * check closes that gap. Data is never cached here: every query still
    * scans the table's files.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // a nanos-era events fixture fails Spark's footer conversion
    // ("Illegal Parquet type") BEFORE the contract check unless the legacy
    // conf is on — set it here, not only in events(), so a direct
    // table(_, _, "events") scan (FixtureSchemaSpec's all-tables pass) hits
    // the contract's one-line drift error regardless of call order
    if (name == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$sfDir/$name.parquet"
    val resolved = resolve(spark, path, path,
      mergeAll = spark.sessionState.conf.isParquetSchemaMergingEnabled)
    resolved.foreach { r =>
      assertContract(name, r.schema, path)
      if (name != "events" && r.nanos.nonEmpty)
        throw new IllegalStateException(
          s"fixture schema drift: $path stores " +
          s"TIMESTAMP(NANOS) column(s) ${r.nanos.mkString(", ")} — only " +
          "events.ts may rely on the nanosAsLong legacy coercion")
    }
    read(spark, path, resolved)
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
