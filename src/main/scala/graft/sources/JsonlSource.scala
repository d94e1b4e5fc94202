package graft.sources

import java.util.{Map => JMap}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 reader for JSON-lines feeds — the feed-ingest shape the
  * reference's HTTP pipelines imply at scale (turtle-tracks.Rmd:24-43
  * pulls a JSON feed per run; a production crawl lands those pulls as
  * sharded .jsonl files): one self-contained JSON object per line,
  * exposed as a first-class `spark.read.format("graft-jsonl")` table
  * with the two pushdowns a columnar engine expects from its sources.
  *
  * Schema: one column per top-level field seen across ALL objects of
  * ALL files (text → STRING, integral → BIGINT, number → DOUBLE,
  * boolean → BOOLEAN; integral+fractional widens to DOUBLE, any other
  * disagreement FAILS loudly — silent coercion truncates 2.7 to 2);
  * nested containers surface as their JSON text. Pass an explicit
  * schema (`supportsExternalMetadata`) to skip the inference pass and
  * to narrow integrals to INT.
  *
  * Scale shape: one [[InputPartition]] per file — a sharded feed corpus
  * parallelizes by shard; paths go through the Hadoop FileSystem API
  * (hdfs://, s3a://). Column pruning is pushed down
  * ([[SupportsPushDownRequiredColumns]]): only required fields are ever
  * converted out of the parsed node. Comparison/null/IN filters on
  * atomic top-level columns are pushed down
  * ([[SupportsPushDownFilters]]) and evaluated AT THE SOURCE, on the
  * parsed node BEFORE any row is built — a selective predicate never
  * materializes the dropped rows, so what reaches the exchange is the
  * match set, not the corpus. Every filter is also returned as residual
  * (Spark re-checks per row): the pushdown claims early evaluation, not
  * exclusive evaluation. Lines stream through a buffered reader; a file
  * is never materialized whole in task memory. */
class JsonlDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-jsonl"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    JsonlTable.inferSchema(JsonlTable.files(options.get("path")))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new JsonlTable(properties.get("path"), schema)

  override def supportsExternalMetadata(): Boolean = true
}

object JsonlTable {

  private def hadoopConf(): Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  private def fs(path: String) = new Path(path).getFileSystem(hadoopConf())

  /** Files under `path` (a .json/.jsonl file, or a directory of them —
    * Spark's own json sink writes part-*.json), sorted for
    * deterministic partition order. */
  def files(path: String): Seq[String] = {
    val p = new Path(path)
    val filesystem = fs(path)
    require(filesystem.exists(p), s"graft-jsonl: path not found: $path")
    if (filesystem.getFileStatus(p).isFile) Seq(p.toString)
    else filesystem.listStatus(p).toSeq.map(_.getPath)
      .filter(q => graft.ops.Generation.isData(q.getName) &&
        (q.getName.endsWith(".json") || q.getName.endsWith(".jsonl")))
      .map(_.toString).sorted
  }

  private[sources] def open(file: String): java.io.InputStream =
    fs(file).open(new Path(file))

  private def jsonType(v: JsonNode): Option[DataType] = v match {
    case n if n.isNull => None // carries no type information
    case n if n.isTextual => Some(StringType)
    case n if n.isIntegralNumber => Some(LongType)
    case n if n.isNumber => Some(DoubleType)
    case n if n.isBoolean => Some(BooleanType)
    case _ => Some(StringType) // nested containers surface as JSON text
  }

  /** Infers top-level columns from ALL objects of ALL files — same
    * widen-or-fail policy as the GeoJSON source's property inference. */
  def inferSchema(paths: Seq[String]): StructType = {
    require(paths.nonEmpty, "graft-jsonl: no .json/.jsonl files under path")
    val inferred = mutable.LinkedHashMap.empty[String, DataType]
    val mapper = new ObjectMapper()
    paths.foreach { file =>
      val reader = new java.io.BufferedReader(
        new java.io.InputStreamReader(open(file), "UTF-8"))
      try {
        var line = reader.readLine()
        while (line != null) {
          if (line.trim.nonEmpty) {
            val node = mapper.readTree(line)
            require(node.isObject, s"graft-jsonl: non-object line in $file")
            node.properties().asScala.foreach { e =>
              jsonType(e.getValue).foreach { t =>
                inferred.get(e.getKey) match {
                  case None | Some(`t`) => inferred(e.getKey) = t
                  case Some(prev) if Set(prev, t) == Set[DataType](LongType, DoubleType) =>
                    inferred(e.getKey) = DoubleType
                  case Some(prev) => throw new IllegalArgumentException(
                    s"graft-jsonl: field '${e.getKey}' is $prev elsewhere but $t " +
                      s"in $file — pass an explicit schema to force a type")
                }
              }
            }
          }
          line = reader.readLine()
        }
      } finally reader.close()
    }
    StructType(inferred.map { case (k, t) => StructField(k, t) }.toSeq)
  }
}

class JsonlTable(path: String, tableSchema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"graft-jsonl:$path"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new JsonlScanBuilder(path, tableSchema)
}

class JsonlScanBuilder(path: String, full: StructType)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Accepts comparison/null/IN filters on atomic top-level columns for
    * source-side row skipping. Every filter is also returned (Spark
    * re-evaluates per row): the pushdown claims EARLY evaluation on the
    * parsed node, not exclusive evaluation. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(JsonlScan.isSupported(_, full))
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new JsonlScan(path, required, pushed)
}

case class JsonlInputPartition(file: String) extends InputPartition

object JsonlScan {

  private def atomic(schema: StructType, a: String): Boolean =
    schema.fields.exists(f => f.name == a && (f.dataType match {
      case StringType | LongType | IntegerType | DoubleType | BooleanType => true
      case _ => false
    }))

  def isSupported(f: Filter, schema: StructType): Boolean = f match {
    case EqualTo(a, v) => atomic(schema, a) && v != null
    case GreaterThan(a, v: Number) => atomic(schema, a) && v != null
    case GreaterThanOrEqual(a, v: Number) => atomic(schema, a) && v != null
    case LessThan(a, v: Number) => atomic(schema, a) && v != null
    case LessThanOrEqual(a, v: Number) => atomic(schema, a) && v != null
    case IsNull(a) => atomic(schema, a)
    case IsNotNull(a) => atomic(schema, a)
    case In(a, vs) => atomic(schema, a) && vs != null && vs.forall(_ != null)
    case _ => false
  }

  private def isIntegral(x: Number): Boolean = x match {
    case _: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
         _: java.lang.Byte => true
    case _ => false
  }

  /** Three-way numeric compare of a parsed node against a filter value.
    * When BOTH sides are integral the compare is EXACT (long compare,
    * falling back to the node's sign when it exceeds 64 bits) — a
    * double round-trip collapses BIGINTs above 2^53 onto shared
    * doubles, and since a pushed filter drops rows before Spark's
    * residual re-check, a false negative there is an unrecoverable
    * wrong answer (the residual can only re-drop, never resurrect).
    * Fractional on either side compares as double, the SQL semantic. */
  private def cmp(n: JsonNode, x: Number): Int =
    if (n.isIntegralNumber && isIntegral(x)) {
      if (n.canConvertToLong) java.lang.Long.compare(n.longValue(), x.longValue())
      // Out of long range: the sign alone orders it against any long.
      else n.bigIntegerValue().signum()
    } else java.lang.Double.compare(n.doubleValue(), x.doubleValue())

  /** Evaluates one pushed filter against the parsed line. A missing or
    * null field compares like SQL NULL: every comparison is false,
    * IsNull is true. */
  def eval(f: Filter, node: JsonNode): Boolean = {
    def v(a: String): JsonNode = {
      val n = node.get(a)
      if (n == null || n.isNull) null else n
    }
    def numCmp(a: String, x: Number): Option[Int] = Option(v(a)).collect {
      case n if n.isNumber => cmp(n, x)
    }
    def same(n: JsonNode, x: Any): Boolean = x match {
      case s: String => n.isTextual && n.asText == s
      case b: Boolean => n.isBoolean && n.asBoolean == b
      case other: Number => n.isNumber && cmp(n, other) == 0
      case _ => false
    }
    f match {
      case EqualTo(a, x) => Option(v(a)).exists(same(_, x))
      case GreaterThan(a, x: Number) => numCmp(a, x).exists(_ > 0)
      case GreaterThanOrEqual(a, x: Number) => numCmp(a, x).exists(_ >= 0)
      case LessThan(a, x: Number) => numCmp(a, x).exists(_ < 0)
      case LessThanOrEqual(a, x: Number) => numCmp(a, x).exists(_ <= 0)
      case IsNull(a) => v(a) == null
      case IsNotNull(a) => v(a) != null
      case In(a, vs) => Option(v(a)).exists(n => vs.exists(same(n, _)))
      case _ => true
    }
  }

  /** One required cell out of the parsed node — strict conversion: a
    * node the declared type cannot represent fails loudly instead of
    * silently nulling or truncating. */
  def cell(node: JsonNode, field: StructField, file: String): Any = {
    val n = node.get(field.name)
    if (n == null || n.isNull) null
    else field.dataType match {
      case StringType =>
        UTF8String.fromString(if (n.isTextual) n.asText else n.toString)
      // canConvertTo* guards: Jackson's longValue()/intValue() silently
      // WRAP out-of-range integrals, which would violate the fail-loudly
      // contract below (an INT schema over 2^31 must error, not wrap).
      case LongType if n.isIntegralNumber && n.canConvertToLong => n.longValue()
      case IntegerType if n.isIntegralNumber && n.canConvertToInt => n.intValue()
      case DoubleType if n.isNumber => n.doubleValue()
      case BooleanType if n.isBoolean => n.booleanValue()
      case t => throw new IllegalArgumentException(
        s"graft-jsonl: field '${field.name}' in $file cannot be read as $t " +
          s"(value: ${n.toString.take(40)})")
    }
  }
}

class JsonlScan(path: String, required: StructType, pushed: Array[Filter])
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-jsonl $path, PushedFilters: [${pushed.mkString(", ")}], " +
      s"ReadSchema: ${required.catalogString}"

  override def planInputPartitions(): Array[InputPartition] =
    JsonlTable.files(path).map(JsonlInputPartition(_)).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new JsonlReaderFactory(required, pushed)
}

class JsonlReaderFactory(required: StructType, pushed: Array[Filter])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new JsonlPartitionReader(
      partition.asInstanceOf[JsonlInputPartition].file, required, pushed)
}

class JsonlPartitionReader(file: String, required: StructType,
                           pushed: Array[Filter])
    extends PartitionReader[InternalRow] {
  private val mapper = new ObjectMapper()
  private val reader = new java.io.BufferedReader(
    new java.io.InputStreamReader(JsonlTable.open(file), "UTF-8"))
  private var current: InternalRow = _

  override def next(): Boolean = {
    var line = reader.readLine()
    while (line != null) {
      if (line.trim.nonEmpty) {
        val node = mapper.readTree(line)
        require(node.isObject, s"graft-jsonl: non-object line in $file")
        // Pushed filters run on the parsed node BEFORE any cell
        // conversion or row allocation — the source-side skip.
        if (pushed.forall(JsonlScan.eval(_, node))) {
          val vals = required.fields.map(JsonlScan.cell(node, _, file))
          current = new GenericInternalRow(vals.asInstanceOf[Array[Any]])
          return true
        }
      }
      line = reader.readLine()
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = reader.close()
}
