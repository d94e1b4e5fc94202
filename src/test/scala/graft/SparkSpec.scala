package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, one session). */
object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", 4)
      // Mirror GraftSession: bucketed sortBy metadata feeds the scan's
      // outputOrdering (our bucketed CTAS writes one file per bucket).
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val temps = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()
  private lazy val deleteAtExit: Unit = {
    sys.addShutdownHook(temps.forEach(p => graft.ops.ScaleOps.deleteLocal(p.toFile)))
    ()
  }
  private def atExit(p: Path): Path = { deleteAtExit; temps.add(p); p }

  /** A new directory under java.io.tmpdir, deleted with everything in it
    * when the test JVM exits: no spec leaves a temp entry behind. */
  def tempDir(prefix: String): Path = atExit(Files.createTempDirectory(prefix))

  /** A new file under java.io.tmpdir, deleted when the test JVM exits. */
  def tempFile(prefix: String, suffix: String): Path =
    atExit(Files.createTempFile(prefix, suffix))
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  import scala.jdk.CollectionConverters._

  def df(schemaDdl: String)(rows: Seq[org.apache.spark.sql.Row]): DataFrame =
    spark.createDataFrame(rows.asJava,
      org.apache.spark.sql.types.StructType.fromDDL(schemaDdl))

  def rows(d: DataFrame): Seq[Seq[Any]] =
    d.collect().toSeq.map(_.toSeq)
}
