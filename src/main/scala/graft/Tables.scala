package graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.metadata.FileMetaData
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-provided parquet tables (TESTDATA.md) and the
  * one reader every single-path parquet read in the engine goes through.
  *
  * Every query in [[SparkEntry]] takes an `sfDir` and reads through here so
  * the scan is a plain parquet V1 relation — Catalyst pushes filters and
  * prunes columns into the scan (verify with `.explain`: `PushedFilters`,
  * `ReadSchema`). At cluster scale the same call reads a partitioned
  * directory tree; nothing here assumes single-file layout.
  *
  * Schemas are resolved on the driver from the parquet footer, never by
  * Spark's inference job: `spark.read.parquet(path)` without a schema
  * runs a one-task Spark job (`mergeSchemasInParallel`) that reads ONE
  * footer — the first data file's — and converts it. [[parquet]] reads
  * that same footer on the driver, converts it with the same calls
  * (`ParquetFileFormat.readSchemaFromFooter`, a
  * `ParquetToSparkSchemaConverter` over the session's SQL conf) and
  * passes the result as an explicit read schema. The footer is cached
  * per read path, valid while the first data file's generation holds
  * ([[graft.ops.Generation.ofFiles]] of that one file: its path,
  * length and mtime — the only file the schema is read from, so a part
  * file rewritten behind it leaves the schema as Spark would infer it):
  * a rewrite in place of that file, or a new first file, re-resolves,
  * and one footer read per file generation serves both the schema and
  * [[eventsTsUnit]]. The inferring read is kept whenever the
  * footer would not speak for Spark's own answer — the path is missing
  * or a glob, holds no data file, holds parquet summary files
  * (`_metadata`/`_common_metadata`, which Spark prefers) or a streaming
  * sink log (`_spark_metadata`, whose committed files Spark infers
  * from), or the footer cannot be read or converted — so those cases
  * fail or behave exactly as a plain `spark.read.parquet` does.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** `spark.read.parquet(path)` with the schema resolved from the footer
    * on the driver (see the object doc for the cache and the cases that
    * keep Spark's inferring read). */
  def parquet(spark: SparkSession, path: String): DataFrame =
    scala.util.Try(footerOf(spark, path).map(_.schema(spark.sessionState.conf)))
      .toOption.flatten
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  /** Root entries under which Spark does not take the schema from the
    * first data file's footer. Summary files are written at the root of
    * a write, and Spark looks for a sink log only at the root. */
  private val ownSchemaEntries =
    Set("_metadata", "_common_metadata", "_spark_metadata")

  /** The footer of the first data file under `path` (a file or a possibly
    * partitioned directory tree), or None where Spark would not infer
    * the schema from that footer: a glob, a missing path, no data file,
    * or one of [[ownSchemaEntries]] at the root. */
  private def footerOf(s: SparkSession, path: String): Option[Footer] =
    if (path.exists("{}[]*?\\".contains(_))) None
    else {
      val conf = s.sessionState.newHadoopConf()
      val p = new Path(path)
      val fs = p.getFileSystem(conf)
      val file =
        try {
          val st = fs.getFileStatus(p)
          if (!st.isDirectory) Some(st)
          else {
            val entries = fs.listStatus(p)
            if (entries.exists(e => ownSchemaEntries(e.getPath.getName))) None
            else firstParquetFile(fs, entries)
          }
        } catch { case _: java.io.FileNotFoundException => None }
      file.map(footer(path, _, conf))
    }

  /** First data file among `entries` in Spark's own order — the
    * lexicographic order of full path strings, which a depth-first walk
    * reproduces when directory names sort with their trailing `/`.
    * Spark infers the schema from this file's footer alone (without
    * `mergeSchema`); a tree whose part files disagree would be a
    * writer bug, not a reader concern. */
  private def firstParquetFile(fs: FileSystem, entries: Array[FileStatus])
      : Option[FileStatus] =
    entries.filter(e => graft.ops.Generation.isData(e.getPath.getName))
      .sortBy(e => e.getPath.getName + (if (e.isDirectory) "/" else ""))
      .iterator
      .flatMap { e =>
        if (e.isDirectory) firstParquetFile(fs, fs.listStatus(e.getPath))
        else Some(e)
      }.nextOption()

  /** What the engine needs from one footer: the file schema and
    * key-value metadata (Spark's schema conversion input) and the first
    * row group's `ts` statistics ([[eventsTsUnit]]'s fallback input). */
  private final class Footer(file: Path,
                             meta: FileMetaData,
                             firstTsStats: Option[Statistics[_]]) {
    def schema(conf: org.apache.spark.sql.internal.SQLConf): StructType = {
      import org.apache.spark.sql.execution.datasources.parquet._
      ParquetFileFormat.readSchemaFromFooter(
        new org.apache.parquet.hadoop.Footer(file,
          new org.apache.parquet.hadoop.metadata.ParquetMetadata(
            meta, java.util.Collections.emptyList())),
        new ParquetToSparkSchemaConverter(conf))
    }

    lazy val tsUnit: String = {
      import org.apache.parquet.schema.LogicalTypeAnnotation
      val schema = meta.getSchema
      schema.getType(schema.getFieldIndex("ts"))
        .asPrimitiveType().getLogicalTypeAnnotation match {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          t.getUnit.name()
        case _ =>
          // Unannotated INT64: decide by epoch magnitude from the
          // first row group's ts column stats. For any instant in
          // 1971..2100 the unit bands are three orders of magnitude
          // apart (millis ~1e11..4.1e12, micros ~1e14..4.1e15, nanos
          // ~1e17..4.1e18), so the max statistic is unambiguous.
          val stats = firstTsStats
            // hasNonNullValue: an all-null first row group has stats
            // but no min/max; genericGetMax would be null — fall into
            // the explicit diagnostic below instead of NPEing.
            .filter(st0 => st0 != null && !st0.isEmpty && st0.hasNonNullValue)
            .getOrElse(throw new IllegalStateException(
              s"events ts column is unannotated INT64 and $file carries no " +
                "column statistics — cannot determine the time unit"))
          val mx = stats.genericGetMax.asInstanceOf[Number].longValue()
          if (mx >= 100000000000000000L) "NANOS"        // >= 1e17
          else if (mx >= 100000000000000L) "MICROS"     // >= 1e14
          else if (mx >= 100000000000L) "MILLIS"        // >= 1e11
          else throw new IllegalStateException(
            s"events ts max statistic $mx is below the millis epoch band — " +
              "seconds-precision or corrupt data; refusing to guess")
      }
    }
  }

  /** Footer cache: one entry per read path, replaced when the path's
    * first data file changes generation ([[graft.ops.Generation.memo]]).
    * Keyed by read path, not generation, so superseded generations are
    * dropped rather than kept until JVM exit. */
  private val footers =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Footer)]()

  private def footer(path: String, file: FileStatus,
                     conf: org.apache.hadoop.conf.Configuration): Footer =
    graft.ops.Generation.memo(footers, path, graft.ops.Generation.ofFiles(Seq(file))) {
      import scala.jdk.CollectionConverters._
      val meta = org.apache.spark.sql.execution.datasources.parquet
        .ParquetFooterReader.readFooter(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(file, conf),
          org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
      val tsStats = meta.getBlocks.asScala.headOption
        .flatMap(_.getColumns.asScala.find(_.getPath.toDotString == "ts"))
        .map(_.getStatistics)
      new Footer(file.getPath, meta.getFileMetaData, tsStats)
    }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `events.parquet` stores `ts` as a parquet INT64 TIMESTAMP whose time
    * UNIT has varied across driver data generations (NANOS, then MICROS).
    * Spark rejects TIMESTAMP(NANOS) outright (PARQUET_TYPE_ILLEGAL), and
    * silently misreading one unit as another compresses/stretches every
    * timestamp 1000×, so the loader NEVER assumes: it sniffs the unit from
    * the parquet footer once per file generation and picks the matching
    * conversion. Requesting an explicit read schema with `ts BIGINT` makes
    * the reader surface the raw int64 WITHOUT the session-global
    * `nanosAsLong` legacy conf — a per-read fix, so concurrent queries
    * never see a mutated session. Nanos are truncated to microseconds —
    * the same truncation DuckDB applies natively, so oracle comparisons
    * agree. */
  val eventsRawSchema: String =
    "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, " +
      "value DOUBLE, props STRING"

  /** Footer-sniffed time unit of the raw `ts` column: "NANOS", "MICROS" or
    * "MILLIS". Works on a single file or a (possibly partitioned)
    * directory tree — the unit comes from the first data file's footer,
    * read once per file generation through the footer cache [[parquet]]
    * shares, so an in-place regen of part files re-sniffs instead of
    * serving a stale unit. A `ts` column with no timestamp annotation at
    * all (legacy raw-int64 writers) is resolved from the footer's OWN
    * column statistics by epoch magnitude — never assumed. */
  def eventsTsUnit(s: SparkSession, d: String): String = {
    val path = s"$d/events.parquet"
    footerOf(s, path).getOrElse(throw new IllegalStateException(
      s"no parquet data file footer to read the ts unit from under $path"))
      .tsUnit
  }

  /** Unit-matched SQL conversion from raw int64 `ts` to TimestampType.
    * Shared by the batch loader and the streaming readers (a stream's
    * up-front schema must be the raw one; the conversion column follows). */
  def eventsTsExpr(s: SparkSession, d: String): String =
    eventsTsUnit(s, d) match {
      case "NANOS"  => "timestamp_micros(ts div 1000)"
      case "MILLIS" => "timestamp_millis(ts)"
      case _        => "timestamp_micros(ts)"
    }

  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.expr
    s.read.schema(eventsRawSchema).parquet(s"$d/events.parquet")
      .withColumn("ts", expr(eventsTsExpr(s, d)))
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
