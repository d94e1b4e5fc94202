package graft

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.types._

/** Explicit schemas for the engine's entities — what the reference never
  * had (SURVEY.md §1.2: every input there is inferred with `as.is=T` or
  * `select *`, then renamed by hand). Declaring them buys two things at
  * scale: [[conformance]] turns a drifted upstream column into a loud
  * report instead of a silent null cascade, and the case classes below
  * give typed `Dataset[T]` views where compile-time safety helps. Reads
  * do not take their schema from here: [[Tables.parquet]] resolves each
  * table's schema from its parquet footer on the driver (no inference
  * job), so a read always sees what the files hold.
  *
  * Entity shapes follow SURVEY.md §1.4 (ningaloo-etl.Rmd:67-290); table
  * shapes follow the driver's testdata (TESTDATA.md).
  */
object Schemas {

  // ---- ETL entities (§1.4) ----

  /** sites: centroid + bbox per monitored subsection (lat negated on
    * ingest, ningaloo-etl.Rmd:73-76). */
  val sites: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("division", StringType),
    StructField("section", StringType),
    StructField("subsection", StringType),
    StructField("lon", DoubleType),
    StructField("lat", DoubleType),
    StructField("x_min", DoubleType), StructField("y_min", DoubleType),
    StructField("x_max", DoubleType), StructField("y_max", DoubleType)))

  /** surveys after the env-conditions join + season derivation
    * (ningaloo-etl.Rmd:150-199). */
  val surveys: StructType = StructType(Seq(
    StructField("survey_id", LongType, nullable = false),
    StructField("site_id", LongType),
    StructField("division", StringType),
    StructField("section", StringType),
    StructField("subsection", StringType),
    StructField("date", TimestampType),
    StructField("season", IntegerType),
    StructField("high_tide_time", TimestampType),
    StructField("high_tide_height", DoubleType),
    StructField("wind_speed", DoubleType),
    StructField("temp_air", DoubleType),
    StructField("site_disturbed", IntegerType)))

  /** Lookup dimension rows (species / nest_type / confidence / position /
    * track_type all share this shape, ningaloo-etl.Rmd:211-215). */
  val lookup: StructType = StructType(Seq(
    StructField("code", StringType, nullable = false),
    StructField("label", StringType)))

  // ---- Testdata tables (TESTDATA.md) ----

  val documents: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  val embeddings: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = true)),
    StructField("label", IntegerType)))

  /** events as surfaced by [[Tables.events]] (raw TIMESTAMP(NANOS) `ts`
    * already truncated to micros). */
  val events: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  // ---- Typed views ----

  final case class Document(doc_id: Long, text: String, lang: String,
                            source: String, n_chars: Long)
  final case class Embedding(vec_id: Long, embedding: Array[Float], label: Long)
  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                         event_type: String, value: Option[Double], props: String)

  implicit val documentEncoder: Encoder[Document] = Encoders.product[Document]
  implicit val embeddingEncoder: Encoder[Embedding] = Encoders.product[Embedding]
  implicit val eventEncoder: Encoder[Event] = Encoders.product[Event]

  def documentsDs(s: SparkSession, sfDir: String): Dataset[Document] =
    Tables.documents(s, sfDir).as[Document]
  def embeddingsDs(s: SparkSession, sfDir: String): Dataset[Embedding] =
    Tables.embeddings(s, sfDir).as[Embedding]
  def eventsDs(s: SparkSession, sfDir: String): Dataset[Event] =
    Tables.events(s, sfDir).as[Event]

  /** Structural conformance check: every declared field exists in `actual`
    * with the declared type (extra columns allowed; declared-nullable is
    * not enforced, matching parquet's nullable-by-default). Returns the
    * mismatches — empty means conformant. */
  def conformance(declared: StructType, actual: StructType): Seq[String] = {
    val byName = actual.fields.map(f => f.name -> f.dataType).toMap
    declared.fields.toSeq.flatMap { f =>
      byName.get(f.name) match {
        case None => Some(s"missing column: ${f.name}")
        case Some(dt) if dt != f.dataType =>
          Some(s"${f.name}: expected ${f.dataType.simpleString}, got ${dt.simpleString}")
        case _ => None
      }
    }
  }
}
