package singerbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.functions.Coercions
import graft.pipeline.{SingerConfig, SingerPipeline}
import graft.schema.SchemaMapper
import graft.schema.SchemaMapper.StreamSchema
import graft.streaming.SingerStream
import graft.validate.Validator
import org.apache.spark.sql.functions.{col, from_json}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Input size, as a fraction of the sf0.1 test data's rows, and stream
  * backlog length. Chosen so one ingest is long enough to time steadily
  * and a run still fits its time budget on a 4-core machine.
  */
object Sizes {
  val multi4 = 0.05
  val lineitem = 0.1
  val stream = 0.05
  val streamFiles = 24
  /** Operations run before timing starts: the first runs cold, the second
    * gives the JIT time to compile the hot paths.
    */
  val warmups = 2
  /** Rounds of the traced layer breakdown. On a batch workload each round
    * also holds one traced and one untraced ingest.
    */
  val rounds = 2
}

/** Shared parts of the workloads: the generated input, its expected
  * digests, and the traced layer breakdown.
  */
abstract class Base(val spark: SparkSession, val name: String, val work: Path, val seed: Long)
    extends Workload {
  protected var in: Input = _
  protected var expect: Map[String, Digest] = Map.empty

  def prepare(input: Input): Unit = {
    in = input
    expect = in.tables.map(t => t.spec.name -> Check.expected(t)).toMap
  }

  /** The configuration the workload's user runs with (outDir set per ingest). */
  def config: SingerConfig

  def schemas: Map[String, StreamSchema] =
    in.schemaMessages.map(SchemaMapper.fromSchemaMessage).map(s => s.stream -> s).toMap

  protected def lines: DataFrame = spark.read.text(in.path)
  protected def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
  protected def delete(p: Path): Unit = Inputs.deleteRecursively(p.toFile)

  /** Bytes and count of the Parquet data files under `dir`. */
  protected def parquetFiles(dir: Path): (Long, Int) =
    if (!Files.exists(dir)) (0L, 0)
    else {
      val fs = Files.walk(dir).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).toVector
      (fs.map(Files.size).sum, fs.size)
    }

  /** Output paths, per stream, of the ingest kept for the write floor. */
  protected var keptOutput: Map[String, String] = Map.empty

  /** Runs `body` as layer `name` of the current traced ingest: a span, with
    * the Spark jobs it ran as child spans. Returns its seconds and jobs.
    */
  protected def layer(t: Tracer, e: Engine, name: String)(body: => Unit): (Double, Seq[JobRec]) = {
    val sc = spark.sparkContext
    val group = s"${t.ingest}/$name"
    val prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, name)
    val t0 = t.nowMillis
    try t.span(name)(body)
    finally sc.setLocalProperty("spark.jobGroup.id", prev)
    val secs = (t.nowMillis - t0) / 1000.0
    val js = e.jobsOf(group)
    js.foreach(j => t.add(name, s"job-${j.id}", j.start.toDouble, j.end.toDouble))
    (secs, js)
  }

  private def envelope(ss: StreamSchema) = StructType(Seq(
    StructField("type", StringType), StructField("stream", StringType),
    StructField("record", ss.parseStruct)))

  /** Writes, per stream, the parsed all-string records and the typed rows
    * (with the raw-null flags validation reads) as Parquet, so coercion,
    * validation and the write can be timed over materialized inputs.
    */
  protected def materialize(): Unit =
    for ((s, ss) <- schemas) {
      lines.select(from_json(col("value"), envelope(ss)).as("m"))
        .filter(col("m.type") === "RECORD" && col("m.stream") === s)
        .select(col("m.record.*"))
        .write.parquet(work.resolve(s"mat/strings/$s").toString)
      SingerPipeline.typedRecordsFromLines(lines, ss, keepRawNulls = true)
        .write.parquet(work.resolve(s"mat/typed/$s").toString)
    }

  private def strings(s: String) = spark.read.parquet(work.resolve(s"mat/strings/$s").toString)
  private def typed(s: String) = spark.read.parquet(work.resolve(s"mat/typed/$s").toString)
  private def typedOnly(s: String) = {
    val df = typed(s)
    df.select(df.columns.filterNot(_.startsWith(Validator.RawNullPrefix)).map(col).toIndexedSeq: _*)
  }

  /** One round of the layer breakdown; seconds per layer metric. */
  protected def layerRound(t: Tracer, e: Engine, r: Int): Map[String, Double] = {
    t.ingest = s"layers-$r"
    val reg = schemas.toSeq.sortBy(_._1)
    val out = Map.newBuilder[String, Double]
    t.span("layers") {
      out += "scan.floor_s" -> layer(t, e, "scan.floor")(noop(lines))._1
      out += "schemas.discover_s" -> layer(t, e, "SingerPipeline.parseSchemas")(
        SingerPipeline.parseSchemas(lines, config.copy(outDir = work.toString)))._1
      val reps = 50
      out += "schema_map.ms" -> layer(t, e, "SchemaMapper.fromSchemaMessage") {
        for (_ <- 0 until reps; m <- in.schemaMessages) SchemaMapper.fromSchemaMessage(m)
      }._1 * 1000.0 / reps
      val dispatch = reg.map { case (s, ss) =>
        layer(t, e, s"typedRecordsFromLines.$s")(noop(SingerPipeline.typedRecordsFromLines(lines, ss)))
      }
      out += "dispatch.s" -> dispatch.map(_._1).sum
      out += "dispatch.lines_parsed_per_record" ->
        dispatch.flatMap(_._2).map(_.recordsRead).sum.toDouble / in.totalRecords
      out += "coerce.self_s" -> reg.map { case (s, ss) =>
        layer(t, e, s"Coercions.coerce.$s")(noop(strings(s).select(
          ss.properties.map(p => Coercions.coerce(col(p.name), p)): _*)))._1 -
          layer(t, e, s"read.strings.$s")(noop(strings(s)))._1
      }.sum
      out += "validate.isolated_s" -> reg.map { case (s, ss) =>
        layer(t, e, s"Validator.enforce.$s")(noop(Validator.enforce(typed(s), ss)))._1 -
          layer(t, e, s"read.typed.$s")(noop(typed(s)))._1
      }.sum
      out += "write.self_s" -> reg.map { case (s, _) =>
        val dst = work.resolve(s"mat/written/$s")
        val w = layer(t, e, s"write.parquet.$s")(typedOnly(s).write.parquet(dst.toString))._1
        delete(dst)
        w - layer(t, e, s"write.noop.$s")(noop(typedOnly(s)))._1
      }.sum
      out += "write.floor_s" -> keptOutput.toSeq.sortBy(_._1).map { case (s, p) =>
        val dst = work.resolve(s"mat/copy/$s")
        val w = layer(t, e, s"write.floor.$s")(spark.read.parquet(p).write.parquet(dst.toString))._1
        delete(dst)
        w
      }.sum
      val metricsDir = work.resolve("mat/metrics")
      val stateLine = s"""{"type":"STATE","value":${in.lastState}}"""
      out += "metrics.ms" -> layer(t, e, "writeJobMetrics+stateValue") {
        for (_ <- 0 until reps) {
          SingerPipeline.writeJobMetrics(metricsDir.toString, in.records)
          SingerPipeline.stateValue(stateLine)
        }
      }._1 * 1000.0 / reps
      delete(metricsDir)
    }
    out.result()
  }

  /** Per-layer metrics from the rounds (medians), plus the floors as rates. */
  protected def layerMetrics(rounds: Seq[Map[String, Double]]): Seq[Metric] = {
    def med(k: String) = Stats.median(rounds.map(_(k)))
    val n = rounds.size
    val (outBytes, outFiles) = keptOutput.values.map(p => parquetFiles(Paths.get(p)))
      .foldLeft((0L, 0)) { case ((b, f), (b1, f1)) => (b + b1, f + f1) }
    val scan = med("scan.floor_s")
    val write = med("write.floor_s")
    Seq(
      Metric("scan.floor_s", scan, "s", n),
      Metric("scan.floor_rows_per_s", in.lines / scan, "rows/s", n),
      Metric("scan.floor_mb_per_s", in.bytes / 1e6 / scan, "MB/s", n),
      Metric("schemas.discover_s", med("schemas.discover_s"), "s", n),
      Metric("schema_map.ms", med("schema_map.ms"), "ms", n),
      Metric("dispatch.s", med("dispatch.s"), "s", n),
      Metric("dispatch.lines_parsed_per_record", med("dispatch.lines_parsed_per_record"), "ratio", n),
      Metric("coerce.self_s", med("coerce.self_s"), "s", n),
      Metric("validate.isolated_s", med("validate.isolated_s"), "s", n),
      Metric("write.self_s", med("write.self_s"), "s", n),
      Metric("write.floor_s", write, "s", n),
      Metric("write.floor_rows_per_s", in.totalRecords / write, "rows/s", n),
      Metric("write.floor_mb_per_s", outBytes / 1e6 / write, "MB/s", n),
      Metric("write.files", outFiles, "count", 1),
      Metric("write.bytes", outBytes, "B", 1),
      Metric("metrics.ms", med("metrics.ms"), "ms", n))
  }

  /** The layer table: each layer's time beside the two floors. */
  protected def table(ms: Seq[Metric]): String = {
    val m = ms.map(x => x.name -> x.value).toMap
    val rows = Seq(
      "scan floor (text -> noop)" -> m("scan.floor_s"),
      "parseSchemas (discovery)" -> m("schemas.discover_s"),
      "SchemaMapper (all SCHEMA messages)" -> m("schema_map.ms") / 1000.0,
      "typedRecordsFromLines (dispatch + parse + coerce)" -> m("dispatch.s"),
      "Coercions.coerce (self)" -> m("coerce.self_s"),
      "Validator.enforce (isolated)" -> m("validate.isolated_s"),
      "validation (strict - lenient ingest)" -> m("validate.marginal_s"),
      "Parquet write (self)" -> m("write.self_s"),
      "write floor (Parquet -> Parquet)" -> m("write.floor_s"),
      "writeJobMetrics + stateValue" -> m("metrics.ms") / 1000.0,
      "ingest (untraced)" -> m("trace.ingest_s"),
      "tracing overhead" -> m("trace.overhead_s"))
    val head = s"| $name layer | s | records/s | input MB/s | x scan floor | x write floor |\n|---|---:|---:|---:|---:|---:|"
    (head +: rows.map { case (l, s) =>
      def rate(x: Double) = if (s > 0) f"${x / s}%.0f" else "-"
      f"| $l | $s%.4f | ${rate(in.totalRecords.toDouble)} | ${if (s > 0) f"${in.bytes / 1e6 / s}%.1f" else "-"} | " +
        f"${s / m("scan.floor_s")}%.2f | ${s / m("write.floor_s")}%.2f |"
    }).mkString("\n")
  }
}

/** `multi4_direct` and `lineitem_strict`: one batch ingest per operation,
  * `SingerPipeline.run` + `writeJobMetrics` + the STATE echo.
  */
final class BatchWorkload(spark: SparkSession, name: String, work: Path, seed: Long, cores: Int)
    extends Base(spark, name, work, seed) {

  private val strict = name == "lineitem_strict"

  def generate(dir: Path): Input =
    if (strict) Inputs.lineitemStrict(dir, seed, Sizes.lineitem) else Inputs.multi4(dir, seed, Sizes.multi4)

  def config: SingerConfig =
    if (strict) SingerConfig(outDir = "", strictValidation = true, schemaMessages = Some(in.schemaMessages))
    else SingerConfig(outDir = "")

  def ingest(k: Int, warm: Boolean): Outcome = run(k, config)

  /** One ingest with `cfg`, spans recorded when `tracer` is given. Output is
    * deleted after the check unless `keep`.
    */
  private def run(k: Int, cfg: SingerConfig, tracer: Option[Tracer] = None, keep: Boolean = false): Outcome = {
    val out = work.resolve(s"out-$k")
    val c = cfg.copy(outDir = out.toString)
    def sp[T](n: String)(b: => T): T = tracer.fold(b)(_.span(n)(b))
    val sc = spark.sparkContext
    tracer.foreach(t => sc.setJobGroup(t.ingest, "traced ingest"))
    val t0 = Clock.now()
    val res =
      try Right(sp("ingest") {
        val r = sp("SingerPipeline.run")(SingerPipeline.run(spark, in.path, c))
        sp("writeJobMetrics")(SingerPipeline.writeJobMetrics(c.outDir, r.recordCounts))
        sp("state.echo")(Files.writeString(out.resolve("echo.out"), r.lastState.getOrElse("") + "\n"))
        r
      })
      catch { case NonFatal(e) => Left(e) }
      finally tracer.foreach(_ => sc.clearJobGroup())
    val secs = Clock.now() - t0
    val outcome = res match {
      case Left(e) =>
        Outcome(Double.NaN, in.totalRecords, 0L, Nil, 1, 1, Seq(s"ingest $k raised $e"))
      case Right(r) =>
        val echoed = Option(Files.readString(out.resolve("echo.out")).stripLineEnd).filter(_.nonEmpty)
        val problems = Check.ingest(spark, in, expect, r.paths, r.recordCounts,
          out.resolve("job_metrics.json"), echoed)
        if (keep) keptOutput = r.paths
        Outcome(secs, in.totalRecords, parquetFiles(out)._1, Seq(secs * 1000.0), 1,
          if (problems.isEmpty) 0 else 1, problems.map(p => s"ingest $k: $p"))
    }
    if (!keep) delete(out)
    outcome
  }

  override def probes(): Seq[String] =
    if (!strict) Nil
    else {
      val planted = Inputs.plantedViolation(Files.createDirectories(work.resolve("probe")), seed)
      spark.sparkContext.setLogLevel("OFF") // the raise below is expected; keep its trace out of the log
      try {
        SingerPipeline.run(spark, planted, config.copy(outDir = work.resolve("probe/out").toString))
        Seq("strict ingest accepted a record that breaks l_quantity's maximum")
      } catch {
        case NonFatal(e) if Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(x => String.valueOf(x.getMessage).contains("strict_validation failed")) => Nil
        case NonFatal(e) => Seq(s"strict ingest of the planted violation raised an unrelated error: $e")
      } finally {
        spark.sparkContext.setLogLevel("ERROR")
        delete(work.resolve("probe"))
      }
    }

  def layers(t: Tracer, e: Engine): (Seq[Metric], Seq[Outcome]) = {
    val sc = spark.sparkContext
    materialize()
    val checked = Vector.newBuilder[Outcome]
    def count(o: Outcome): Outcome = { checked += o; o }
    val untraced = Vector.newBuilder[Double]
    val traced = Vector.newBuilder[(Double, EngineStats)]
    val rounds = (0 until Sizes.rounds).map { r =>
      def plain(): Unit = untraced += count(run(100 + r, config)).seconds
      def withTrace(): Unit = {
        sc.addSparkListener(e)
        t.ingest = s"ingest-$r"
        val o = count(run(200 + r, config, Some(t), keep = r == 0))
        val js = e.jobsOf(t.ingest)
        sc.removeSparkListener(e)
        js.foreach(j => t.add("SingerPipeline.run", s"job-${j.id}", j.start.toDouble, j.end.toDouble))
        traced += o.seconds -> e.stats(js)
      }
      if (r % 2 == 0) { plain(); withTrace() } else { withTrace(); plain() }
      sc.addSparkListener(e)
      try layerRound(t, e, r) finally sc.removeSparkListener(e)
    }
    val marginal = count(run(300, config.copy(strictValidation = true))).seconds -
      count(run(301, config.copy(strictValidation = false))).seconds
    val base = Stats.median(untraced.result())
    val tr = traced.result()
    val wall = tr.map(_._1)
    val st = tr.map(_._2)
    val ms = layerMetrics(rounds) ++ Seq(
      Metric("validate.marginal_s", marginal, "s", 1),
      Metric("scan.input_passes", Stats.median(st.map(_.bytesRead.toDouble / in.bytes)), "ratio", st.size),
      Metric("engine.jobs", Stats.median(st.map(_.jobs.toDouble)), "count", st.size),
      Metric("engine.exec_run_s", Stats.median(st.map(_.execRunS)), "s", st.size),
      Metric("engine.exec_cpu_s", Stats.median(st.map(_.execCpuS)), "s", st.size),
      Metric("engine.driver_gap_s", Stats.median(tr.map { case (w, s) => w - s.busyS }), "s", st.size),
      Metric("engine.core_util", Stats.median(tr.map { case (w, s) => s.execRunS / (w * cores) }), "ratio", st.size),
      Metric("stream.jobs_per_batch", 0.0, "count", 0),
      Metric("stream.add_batch_ms", 0.0, "ms", 0),
      Metric("stream.trigger_overhead_ms", 0.0, "ms", 0),
      Metric("trace.ingest_s", base, "s", Sizes.rounds),
      Metric("trace.overhead_s", Stats.median(wall) - base, "s", Sizes.rounds))
    keptOutput.values.foreach(p => delete(Paths.get(p).getParent))
    println(table(ms))
    (ms, checked.result())
  }
}

/** `stream_append`: a backlog of small files drained by `SingerStream.start`
  * with `Trigger.AvailableNow` and one file per micro-batch.
  */
final class StreamWorkload(spark: SparkSession, work: Path, seed: Long, cores: Int)
    extends Base(spark, "stream_append", work, seed) {

  def generate(dir: Path): Input = Inputs.streamAppend(dir, seed, Sizes.stream, Sizes.streamFiles)

  def config: SingerConfig = SingerConfig(outDir = "", schemaMessages = Some(in.schemaMessages))

  /** A drain of the first `nFiles` backlog files (all of them unless warm). */
  def ingest(k: Int, warm: Boolean): Outcome =
    drain(k, if (warm) 3 else in.files.size)._1

  private def drain(k: Int, nFiles: Int, keep: Boolean = false, tracer: Option[Tracer] = None)
      : (Outcome, Option[java.util.UUID]) = {
    val src =
      if (nFiles == in.files.size) Paths.get(in.path)
      else {
        val d = Files.createDirectories(work.resolve(s"backlog-$k"))
        Files.list(Paths.get(in.path)).iterator().asScala.toVector.sortBy(_.toString).take(nFiles)
          .foreach(f => Files.copy(f, d.resolve(f.getFileName), StandardCopyOption.COPY_ATTRIBUTES))
        d
      }
    val out = work.resolve(s"out-$k")
    val reg = schemas
    def sp[T](n: String)(b: => T): T = tracer.fold(b)(_.span(n)(b))
    val w0 = System.nanoTime()
    val t0 = Clock.now()
    var runId: Option[java.util.UUID] = None
    val res =
      try Right(sp("drain") {
        val q = sp("SingerStream.start")(SingerStream.start(spark, src.toString, reg,
          config.copy(outDir = out.toString), work.resolve(s"ckpt-$k").toString,
          Trigger.AvailableNow(), Some(1)))
        runId = Some(q.runId)
        sp("awaitTermination")(q.awaitTermination())
        q
      })
      catch { case NonFatal(e) => Left(e) }
    val secs = Clock.now() - t0
    // progress events time batches by the wall clock: scale them by the
    // drain's share of unstolen time
    val unstolen = secs / ((System.nanoTime() - w0) / 1e9)
    val outcome = res match {
      case Left(e) => Outcome(Double.NaN, 0L, 0L, Nil, nFiles, nFiles, Seq(s"drain $k raised $e"))
      case Right(q) =>
        val progress = q.recentProgress.filter(_.numInputRows > 0).toVector
        val batchMs = progress.map(_.durationMs.get("triggerExecution").doubleValue * unstolen)
        val bad = (0 until nFiles).filter { b =>
          Check.readCounts(out.resolve(s".metrics/batch-$b.json")) != in.files(b) ||
            !Files.exists(out.resolve(s".state/batch-$b.json")) ||
            Files.readString(out.resolve(s".state/batch-$b.json")) != in.fileStates(b)
        }
        val global = Seq.newBuilder[String]
        if (progress.size != nFiles) global += s"${progress.size} data batches for $nFiles files"
        if (nFiles == in.files.size) {
          val counts = Check.readCounts(out.resolve("job_metrics.json"))
          if (counts != in.records) global += s"job_metrics.json $counts != ${in.records}"
          val st = Option(out.resolve("state.json")).filter(Files.exists(_)).map(Files.readString(_))
          if (!st.contains(in.lastState)) global += s"state.json $st != ${in.lastState}"
          global ++= Check.outputs(spark,
            in.tables.map(t => t -> out.resolve(s"${t.spec.name}.parquet").toString), expect)
        }
        val problems = global.result() ++ bad.map(b => s"batch $b: counts or state differ from file $b")
        val records = in.files.take(nFiles).map(_.values.sum).sum
        if (keep) keptOutput = reg.keys.map(s => s -> out.resolve(s"$s.parquet").toString).toMap
        Outcome(secs, records, parquetFiles(out)._1, batchMs, nFiles,
          if (global.result().nonEmpty) nFiles else bad.size, problems.map(p => s"drain $k: $p"))
    }
    if (!keep) delete(out)
    delete(work.resolve(s"ckpt-$k"))
    if (nFiles != in.files.size) delete(src)
    (outcome, runId)
  }

  def layers(t: Tracer, e: Engine): (Seq[Metric], Seq[Outcome]) = {
    val sc = spark.sparkContext
    materialize()
    val plain = drain(100, in.files.size)._1
    val batches = new Batches
    sc.addSparkListener(e)
    spark.streams.addListener(batches)
    t.ingest = "drain-0"
    val (tracedOut, runId) = drain(200, in.files.size, keep = true, tracer = Some(t))
    val recs = batches.drain(in.files.size).filter(_.rows > 0)
    spark.streams.removeListener(batches)
    recs.foreach(b => t.add("awaitTermination", s"batch-${b.batchId}", b.endMillis - b.triggerMs, b.endMillis))
    val js = runId.map(id => e.jobsOf(id.toString)).getOrElse(Nil)
    js.foreach(j => t.add("awaitTermination", s"job-${j.id}", j.start.toDouble, j.end.toDouble))
    val rounds = (0 until Sizes.rounds).map(r => layerRound(t, e, r))
    sc.removeSparkListener(e)

    val perBatch = recs.map { b =>
      val bj = js.filter(_.batch.contains(b.batchId))
      (b, e.stats(bj))
    }
    val st = e.stats(js)
    val trigger = recs.map(_.triggerMs.toDouble)
    val ms = layerMetrics(rounds) ++ Seq(
      Metric("validate.marginal_s", 0.0, "s", 0),
      Metric("scan.input_passes", st.bytesRead.toDouble / in.bytes, "ratio", 1),
      Metric("engine.jobs", Stats.median(perBatch.map(_._2.jobs.toDouble)), "count", recs.size),
      Metric("engine.exec_run_s", Stats.median(perBatch.map(_._2.execRunS)), "s", recs.size),
      Metric("engine.exec_cpu_s", Stats.median(perBatch.map(_._2.execCpuS)), "s", recs.size),
      Metric("engine.driver_gap_s",
        Stats.median(perBatch.map { case (b, s) => b.triggerMs / 1000.0 - s.busyS }), "s", recs.size),
      Metric("engine.core_util", st.execRunS / (trigger.sum / 1000.0 * cores), "ratio", recs.size),
      Metric("stream.jobs_per_batch", perBatch.map(_._2.jobs).sum.toDouble / recs.size, "count", recs.size),
      Metric("stream.add_batch_ms", Stats.median(recs.map(_.addBatchMs.toDouble)), "ms", recs.size),
      Metric("stream.trigger_overhead_ms",
        Stats.median(recs.map(b => (b.triggerMs - b.addBatchMs).toDouble)), "ms", recs.size),
      Metric("trace.ingest_s", plain.seconds, "s", 1),
      Metric("trace.overhead_s", tracedOut.seconds - plain.seconds, "s", 1))
    keptOutput.values.foreach(p => delete(Paths.get(p).getParent))
    println(table(ms))
    (ms, Seq(plain, tracedOut))
  }
}
