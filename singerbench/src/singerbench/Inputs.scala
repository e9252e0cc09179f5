package singerbench

import java.io.{BufferedWriter, File}
import java.nio.charset.StandardCharsets
import java.nio.file.attribute.FileTime
import java.nio.file.{Files, Path}
import java.time.Instant
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType, TimestampType}

/** How a generated column is written to JSON and typed in the output. */
sealed abstract class Kind(val jsonType: String, val sparkType: DataType)
case object IntK extends Kind("integer", LongType)
case object NumK extends Kind("number", DoubleType)
case object StrK extends Kind("string", StringType)
/** `format: date-time`; the value is epoch micros, or a [[Malformed]] text. */
case object TsK extends Kind("string", TimestampType)
/** A nested object, kept by the target as its compact JSON text. */
case object ObjK extends Kind("object", StringType)

final case class Malformed(text: String)

/** @param constraints extra draft-7 keywords of the property, as JSON members */
final case class Field(name: String, kind: Kind, constraints: String = "")

/** One Singer stream modelled on a table of the sf0.1 test data: same
  * columns, value domains and (at `scale = 1`) row count.
  */
final case class StreamSpec(
    name: String,
    fields: Vector[Field],
    required: Vector[String],
    sf01Rows: Int,
    row: (SplittableRandom, Long) => Array[Any]) {

  def schemaMessage: String = {
    val props = fields.map { f =>
      val fmt = if (f.kind == TsK) ""","format":"date-time"""" else ""
      val extra = if (f.constraints.isEmpty) "" else "," + f.constraints
      s""""${f.name}":{"type":["${f.kind.jsonType}","null"]$fmt$extra}"""
    }
    val req = required.map(r => s""""$r"""").mkString(",")
    s"""{"type":"SCHEMA","stream":"$name","schema":{"type":"object",""" +
      s""""properties":{${props.mkString(",")}},"required":[$req]},""" +
      s""""key_properties":["${fields.head.name}"]}"""
  }
}

/** A generated stream: its spec and the source rows (the expected output). */
final case class Table(spec: StreamSpec, rows: Array[Array[Any]]) {
  def recordLine(i: Int): String = {
    val sb = new java.lang.StringBuilder(160)
    sb.append("""{"type":"RECORD","stream":"""").append(spec.name).append("""","record":{""")
    var j = 0
    while (j < spec.fields.length) {
      val f = spec.fields(j)
      if (j > 0) sb.append(',')
      sb.append('"').append(f.name).append("\":")
      (f.kind, rows(i)(j)) match {
        case (TsK, Malformed(t)) => sb.append('"').append(t).append('"')
        case (TsK, us: Long)     => sb.append('"').append(Inputs.isoMicros(us)).append('"')
        case (StrK, s: String)   => sb.append('"').append(s).append('"')
        case (_, v)              => sb.append(v.toString)
      }
      j += 1
    }
    sb.append("}}").toString
  }
}

/** A workload's generated input, with everything the checker needs.
  *
  * @param path      the file or directory the program reads
  * @param lastState the final STATE `value`, as the target must echo it
  * @param files     per input file, its record count per stream, in the
  *                  order the files are meant to be consumed (stream input)
  * @param fileStates per input file, the STATE value it ends with
  */
final case class Input(
    path: String,
    bytes: Long,
    lines: Long,
    tables: Vector[Table],
    schemaMessages: Vector[String],
    lastState: String,
    files: Vector[Map[String, Long]] = Vector.empty,
    fileStates: Vector[String] = Vector.empty) {
  def records: Map[String, Long] = tables.map(t => t.spec.name -> t.rows.length.toLong).toMap
  def totalRecords: Long = tables.map(_.rows.length.toLong).sum
}

/** Seeded input generator: the same seed and scale give byte-identical
  * inputs. The tables follow the sf0.1 TPC-H-style test data (`events`,
  * `orders`, `lineitem`, `customer`); `scale` is the fraction of sf0.1 rows.
  */
object Inputs {
  private val day = 86400L * 1000000L
  private val epoch1992 = Instant.parse("1992-01-01T00:00:00Z").getEpochSecond * 1000000L
  private val epoch2024 = Instant.parse("2024-01-01T00:00:00Z").getEpochSecond * 1000000L

  def isoMicros(us: Long): String =
    DateTimeFormatter.ISO_INSTANT.format(Instant.EPOCH.plusNanos(us * 1000L))

  private def pick(r: SplittableRandom, xs: Array[String]): String = xs(r.nextInt(xs.length))
  private def cents(r: SplittableRandom, lo: Long, hi: Long): Double = r.nextLong(lo, hi) / 100.0

  private val eventTypes = Array("view", "click", "signup", "purchase", "error")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  /** Date-time texts `try_to_timestamp` cannot parse; the target nulls them. */
  private val badDates = Array("1998-13-45T00:00:00Z", "not-a-date", "1996-02-30T00:00:00Z", "19970512")

  val events = StreamSpec("events", Vector(
    Field("event_id", IntK), Field("ts", TsK), Field("user_id", IntK),
    Field("event_type", StrK), Field("value", NumK), Field("props", ObjK)),
    Vector("event_id"), 100000,
    (r, i) => Array[Any](i, epoch2024 + i * 30000000L + r.nextLong(30000000L),
      r.nextLong(2000L), pick(r, eventTypes), cents(r, 0, 20000),
      s"""{"k":${r.nextInt(100)}}"""))

  val orders = StreamSpec("orders", Vector(
    Field("o_orderkey", IntK), Field("o_custkey", IntK), Field("o_orderstatus", StrK),
    Field("o_totalprice", NumK), Field("o_orderdate", TsK), Field("o_orderpriority", StrK)),
    Vector("o_orderkey"), 150000,
    (r, i) => Array[Any](i, r.nextLong(15000L), pick(r, Array("O", "F", "P")),
      cents(r, 90000, 50000000), epoch1992 + r.nextLong(3650L) * day, pick(r, priorities)))

  /** `malformed`: the share of `l_shipdate` values written as bad text. */
  def lineitem(malformed: Double) = StreamSpec("lineitem", Vector(
    Field("l_orderkey", IntK), Field("l_partkey", IntK), Field("l_suppkey", IntK),
    Field("l_linenumber", IntK, """"minimum":1,"maximum":7"""),
    Field("l_quantity", NumK, """"minimum":1,"maximum":50"""),
    Field("l_extendedprice", NumK, """"minimum":0"""),
    Field("l_discount", NumK, """"minimum":0,"maximum":0.1"""),
    Field("l_tax", NumK, """"minimum":0,"maximum":0.08"""),
    Field("l_returnflag", StrK, """"enum":["A","N","R"],"maxLength":1"""),
    Field("l_linestatus", StrK, """"enum":["O","F"],"maxLength":1"""),
    Field("l_shipdate", TsK)),
    Vector("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"), 600000,
    (r, i) => {
      val qty = r.nextInt(1, 51).toDouble
      Array[Any](r.nextLong(150000L), r.nextLong(20000L), r.nextLong(1000L),
        r.nextLong(1L, 8L), qty, qty * cents(r, 90000, 200000),
        r.nextInt(0, 11) / 100.0, r.nextInt(0, 9) / 100.0,
        pick(r, Array("A", "N", "R")), pick(r, Array("O", "F")),
        if (r.nextDouble() < malformed) Malformed(pick(r, badDates))
        else epoch1992 + r.nextLong(3650L) * day)
    })

  val customer = StreamSpec("customer", Vector(
    Field("c_custkey", IntK), Field("c_name", StrK), Field("c_nationkey", IntK),
    Field("c_acctbal", NumK), Field("c_mktsegment", StrK)),
    Vector("c_custkey"), 15000,
    (r, i) => Array[Any](i, f"Customer#$i%09d", r.nextLong(25L),
      cents(r, -99999, 1000000), pick(r, segments)))

  def table(spec: StreamSpec, seed: Long, scale: Double): Table = {
    val r = new SplittableRandom(seed * 1000003L + spec.name.hashCode)
    val n = math.max(1, math.round(spec.sf01Rows * scale).toInt)
    Table(spec, Array.tabulate(n)(i => spec.row(r, i.toLong)))
  }

  /** Interleaves the tables' records by seed, each stream in its own row
    * order; returns (table index, row index) pairs.
    */
  private def interleave(tables: Vector[Table], r: SplittableRandom): Array[(Int, Int)] = {
    val next = Array.fill(tables.length)(0)
    var left = tables.map(_.rows.length.toLong).sum
    val out = new Array[(Int, Int)](left.toInt)
    var k = 0
    while (left > 0) {
      var x = r.nextLong(left)
      var t = 0
      while (x >= tables(t).rows.length - next(t)) { x -= tables(t).rows.length - next(t); t += 1 }
      out(k) = (t, next(t))
      next(t) += 1; k += 1; left -= 1
    }
    out
  }

  private def stateValue(seen: Long, pos: Array[Int], tables: Vector[Table]): String =
    tables.indices.map(t => s""""${tables(t).spec.name}":${pos(t)}""")
      .mkString(s"""{"records":$seen,"bookmarks":{""", ",", "}}")

  private def writer(p: Path): BufferedWriter =
    Files.newBufferedWriter(p, StandardCharsets.UTF_8)

  /** Writes the interleaved stream as Singer lines: each stream's SCHEMA
    * before its first RECORD (when `inBandSchemas`), and a STATE line after
    * every `stateEvery` records. Returns (lines, last STATE value).
    */
  private def writeSinger(
      w: BufferedWriter, tables: Vector[Table], order: Array[(Int, Int)],
      inBandSchemas: Boolean, stateEvery: Int): (Long, String) = {
    val pos = Array.fill(tables.length)(0)
    var lines = 0L
    var last = ""
    for (((t, i), k) <- order.iterator.zipWithIndex) {
      if (inBandSchemas && i == 0) { w.write(tables(t).spec.schemaMessage); w.newLine(); lines += 1 }
      w.write(tables(t).recordLine(i)); w.newLine(); lines += 1
      pos(t) = i + 1
      if ((k + 1) % stateEvery == 0) {
        last = stateValue(k + 1L, pos, tables)
        w.write(s"""{"type":"STATE","value":$last}"""); w.newLine(); lines += 1
      }
    }
    (lines, last)
  }

  /** `multi4_direct`: four streams in one JSONL file, schemas in band. */
  def multi4(dir: Path, seed: Long, scale: Double): Input = {
    val tables = Vector(events, orders, lineitem(0.0), customer).map(table(_, seed, scale))
    val order = interleave(tables, new SplittableRandom(seed))
    val path = dir.resolve("messages.jsonl")
    val w = writer(path)
    val (lines, last) = try writeSinger(w, tables, order, inBandSchemas = true, 10000) finally w.close()
    Input(path.toString, Files.size(path), lines, tables, tables.map(_.spec.schemaMessage), last)
  }

  /** `lineitem_strict`: one wide stream with ~1% malformed date-times. The
    * SCHEMA is in band too (as taps emit it) but is passed out of band.
    */
  def lineitemStrict(dir: Path, seed: Long, scale: Double): Input = {
    val t = table(lineitem(0.01), seed, scale)
    val path = dir.resolve("lineitem.jsonl")
    val w = writer(path)
    val (lines, last) =
      try writeSinger(w, Vector(t), Array.tabulate(t.rows.length)(i => (0, i)), inBandSchemas = true, 10000)
      finally w.close()
    Input(path.toString, Files.size(path), lines, Vector(t), Vector(t.spec.schemaMessage), last)
  }

  /** A small `lineitem` input in which exactly one record breaks the
    * schema's `maximum` on `l_quantity`: strict ingest must raise on it.
    */
  def plantedViolation(dir: Path, seed: Long): String = {
    val t = table(lineitem(0.0), seed + 1, 0.002)
    t.rows(t.rows.length / 2)(t.spec.fields.indexWhere(_.name == "l_quantity")) = 51.0
    val path = dir.resolve("planted.jsonl")
    val w = writer(path)
    try writeSinger(w, Vector(t), Array.tabulate(t.rows.length)(i => (0, i)), inBandSchemas = true, 10000)
    finally w.close()
    path.toString
  }

  /** `stream_append`: the RECORD lines of three streams, interleaved, cut by
    * seed into `nFiles` small files, each ending with a STATE line. File
    * modification times increase with the file index, so a file source
    * reads them in index order.
    */
  def streamAppend(dir: Path, seed: Long, scale: Double, nFiles: Int): Input = {
    val tables = Vector(events, orders, customer).map(table(_, seed, scale))
    val r = new SplittableRandom(seed)
    val order = interleave(tables, r)
    val n = order.length
    val span = n / nFiles
    val cuts = (0 to nFiles).map { k =>
      if (k == 0) 0 else if (k == nFiles) n else k * span + r.nextInt(-span / 4, span / 4 + 1)
    }
    val inDir = Files.createDirectories(dir.resolve("backlog"))
    val pos = Array.fill(tables.length)(0)
    var lines = 0L
    var bytes = 0L
    val t0 = System.currentTimeMillis() - nFiles * 1000L
    val perFile = (0 until nFiles).map { f =>
      val path = inDir.resolve(f"part-$f%05d.jsonl")
      val counts = Array.fill(tables.length)(0L)
      val w = writer(path)
      val state =
        try {
          for (k <- cuts(f) until cuts(f + 1)) {
            val (t, i) = order(k)
            w.write(tables(t).recordLine(i)); w.newLine()
            counts(t) += 1; pos(t) = i + 1
          }
          val s = stateValue(cuts(f + 1).toLong, pos, tables)
          w.write(s"""{"type":"STATE","value":$s}"""); w.newLine()
          s
        } finally w.close()
      Files.setLastModifiedTime(path, FileTime.fromMillis(t0 + f * 1000L))
      lines += cuts(f + 1) - cuts(f) + 1
      bytes += Files.size(path)
      (tables.indices.map(t => tables(t).spec.name -> counts(t)).toMap, state)
    }.toVector
    Input(inDir.toString, bytes, lines, tables, tables.map(_.spec.schemaMessage),
      perFile.last._2, perFile.map(_._1), perFile.map(_._2))
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
