package singerbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.types.{DecimalType, StringType}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.unsafe.types.UTF8String
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Count plus an order-independent checksum of a typed table: the sum of
  * one 64-bit hash per row.
  */
final case class Digest(rows: Long, sum: BigDecimal)

/** Output checks that do not go through the program's own code: expected
  * digests are computed from the generator's source rows, the output is
  * read back with a plain Parquet read.
  */
object Check {

  private def digest(df: DataFrame, fields: Seq[Field]): Digest = {
    val cols = fields.map(f => col(f.name))
    val r = df.agg(count(lit(1)), sum(xxhash64(cols: _*).cast(DecimalType(38, 0)))).head()
    Digest(r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** Digest of the source table, typed as the target must type it: a
    * malformed date-time is null, everything else is the generated value.
    * Computed on the driver with the row hash `xxhash64` evaluates.
    */
  def expected(t: Table): Digest = {
    val fields = t.spec.fields
    var sum = BigInt(0)
    for (row <- t.rows) {
      var h = 42L
      for (j <- fields.indices) row(j) match {
        case Malformed(_) => ()
        case s: String    => h = XxHash64Function.hash(UTF8String.fromString(s), StringType, h)
        case v            => h = XxHash64Function.hash(v, fields(j).kind.sparkType, h)
      }
      sum += h
    }
    Digest(t.rows.length.toLong, BigDecimal(sum))
  }

  /** Digest of a Parquet output (any partition columns are ignored). */
  def output(spark: SparkSession, path: String, t: Table): Digest =
    digest(spark.read.parquet(path), t.spec.fields)

  def readCounts(p: Path): Map[String, Long] =
    if (!Files.exists(p)) Map.empty
    else JsonMethods.parse(Files.readString(p)) match {
      case JObject(fs) =>
        (fs.toMap.getOrElse("recordCount", JObject(fs)) match {
          case JObject(cs) => cs.collect {
            case (k, JInt(v))  => k -> v.toLong
            case (k, JLong(v)) => k -> v
          }
          case _ => Nil
        }).toMap
      case _ => Map.empty
    }

  /** Problems with one ingest's output, empty when it is correct.
    *
    * @param paths  per stream, the Parquet output the program reported
    * @param counts per stream, the record counts the program reported
    */
  def ingest(
      spark: SparkSession, in: Input, expect: Map[String, Digest],
      paths: Map[String, String], counts: Map[String, Long],
      metricsFile: Path, echoedState: Option[String]): Seq[String] = {
    val problems = Seq.newBuilder[String]
    if (counts != in.records) problems += s"record counts $counts != ${in.records}"
    val metrics = readCounts(metricsFile)
    if (metrics != in.records) problems += s"job_metrics.json $metrics != ${in.records}"
    if (!echoedState.contains(in.lastState))
      problems += s"echoed STATE $echoedState != ${in.lastState}"
    val missing = in.tables.map(_.spec.name).filterNot(paths.contains)
    missing.foreach(s => problems += s"no output for $s")
    problems ++= outputs(spark, in.tables.filterNot(t => missing.contains(t.spec.name))
      .map(t => t -> paths(t.spec.name)), expect)
    problems.result()
  }

  /** Compares each output's digest with the expected one; the reads run
    * concurrently. Returns the mismatches.
    */
  def outputs(spark: SparkSession, outs: Seq[(Table, String)], expect: Map[String, Digest]): Seq[String] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val got = Await.result(
      Future.sequence(outs.map { case (t, p) => Future(t.spec.name -> output(spark, p, t)) }),
      scala.concurrent.duration.Duration.Inf)
    got.collect { case (s, d) if d != expect(s) => s"$s digest $d != ${expect(s)}" }
  }
}
