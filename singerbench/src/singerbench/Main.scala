package singerbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** One metric of the result line: its value, unit and how many samples it
  * summarises.
  */
final case class Metric(name: String, value: Double, unit: String, samples: Int)

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> [--spans <file>]`. Prints the metric table, then the result as one JSON line.
  */
object Main {
  val workloads = Seq("multi4_direct", "lineitem_strict", "stream_append")

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = opts.getOrElse("workload", "")
    require(workloads.contains(name), s"--workload must be one of ${workloads.mkString(", ")}")
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts.getOrElse("work", sys.error("--work <dir> is required")))
    val spans = Paths.get(opts.getOrElse("spans", work.resolve("spans.jsonl").toString))
    val cores = Runtime.getRuntime.availableProcessors

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = graft.Sessions.builder(cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    try {
      val w: Workload =
        if (name == "stream_append") new StreamWorkload(spark, work, seed, cores)
        else new BatchWorkload(spark, name, work, seed, cores)
      val res = new Runner(w, sessionS, spans).run(seconds, traced)
      val failedFrac = Metric("ops_failed_frac", res.failed.toDouble / math.max(1, res.attempted), "ratio", res.attempted)
      for (m <- res.metrics :+ failedFrac)
        println(f"[singerbench] $name%-16s ${m.name}%-34s ${m.value}%16.6f ${m.unit}%-9s n=${m.samples}")
      res.problems.take(20).foreach(p => println(s"[singerbench] $name FAILED: $p"))
      println(res.json)
    } finally spark.stop()
  }
}

/** What one run found: its metrics, and every operation that went wrong. */
final case class RunResult(attempted: Int, failed: Int, problems: Seq[String], metrics: Seq[Metric]) {
  def correct: Boolean = failed == 0 && problems.isEmpty

  def json: String = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
    val ms = metrics.map(m => s""""${m.name}":{"value":${num(m.value)},"unit":"${m.unit}"}""")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{${ms.mkString(",")}}}"""
  }
}

/** One timed operation (an ingest, or a streaming drain) and its check.
  *
  * @param batchMs    commit latencies: one per micro-batch, or the whole
  *                   ingest when the input is committed as one batch
  * @param attempted  operations it counts: 1 ingest, or the drain's batches
  */
final case class Outcome(
    seconds: Double, records: Long, outBytes: Long,
    batchMs: Seq[Double], attempted: Int, failed: Int, problems: Seq[String])

/** A workload: generated input, the ingest a user runs on it, and the
  * breakdown of that ingest into the program's layers.
  */
trait Workload {
  def name: String
  def spark: SparkSession
  /** Scratch directory of this run. */
  def work: Path
  /** Writes the input into `dir`; returns it. */
  def generate(dir: Path): Input
  /** Computes what the output must be; called once after [[generate]]. */
  def prepare(in: Input): Unit
  /** One complete ingest, timed, then checked. */
  def ingest(k: Int, warm: Boolean = false): Outcome
  /** Correctness probes beyond the output check; problems found. */
  def probes(): Seq[String] = Nil
  /** The traced breakdown: per-layer metrics, and the checked ingests it ran. */
  def layers(tracer: Tracer, engine: Engine): (Seq[Metric], Seq[Outcome])
}

final class Runner(w: Workload, sessionS: Double, spans: Path) {
  def run(seconds: Double, traced: Boolean): RunResult = {
    // Set-up is session start, input generation and the warm-up ingests.
    // Generation is the part that can repeat in one process: it runs three
    // times and its median counts.
    val gens = (0 until 3).map { i =>
      val dir = Files.createDirectories(w.work.resolve(s"input-$i"))
      val t0 = Clock.now()
      val in = w.generate(dir)
      val s = Clock.now() - t0
      if (i < 2) Inputs.deleteRecursively(dir.toFile)
      (s, in)
    }
    val in = gens.last._2
    System.err.println(s"[singerbench] input: ${in.lines} lines, ${in.bytes} bytes, records " +
      in.records.toSeq.sorted.map { case (s, n) => s"$s=$n" }.mkString(" ") +
      (if (in.files.nonEmpty) s", ${in.files.size} files" else ""))
    val prepS = Runner.time(w.prepare(in))
    val warms = (1 to Sizes.warmups).map(i => w.ingest(-i, warm = true))
    val warm = Outcome(warms.map(_.seconds).sum, 0L, 0L, Nil, 0, 0, warms.flatMap(_.problems))
    System.err.println(f"[singerbench] setup: session ${sessionS}%.3f s, generate ${gens.map(_._1).mkString(" ")}, prepare ${prepS}%.3f s, warm-up ${warm.seconds}%.3f s")
    val setupS = sessionS + Stats.median(gens.map(_._1)) + prepS + warm.seconds

    val probeProblems = w.probes()
    if (traced) {
      val tracer = new Tracer
      val engine = new Engine(w.spark.sparkContext)
      val (ms, os) = w.layers(tracer, engine)
      tracer.write(spans)
      RunResult(os.map(_.attempted).sum, os.map(_.failed).sum,
        warm.problems ++ probeProblems ++ os.flatMap(_.problems), ms)
    } else {
      val outs = Vector.newBuilder[Outcome]
      val t0 = System.nanoTime()
      var k = 0
      var last = 0.0
      // at least one; stop before an operation would overrun the budget
      while (k == 0 || (System.nanoTime() - t0) / 1e9 + last <= seconds) {
        val s0 = System.nanoTime()
        val o = w.ingest(k)
        outs += o
        last = (System.nanoTime() - s0) / 1e9
        System.err.println(f"[singerbench] op $k: ${o.seconds}%.3f s timed, ${last}%.3f s with its check")
        k += 1
      }
      val os = outs.result()
      val ok = os.filter(_.problems.isEmpty)
      val ingestS = Stats.median(ok.map(_.seconds))
      val batch = ok.flatMap(_.batchMs)
      val metrics = Seq(
        Metric("setup_s", setupS, "s", 1),
        Metric("ingest_s", ingestS, "s", ok.size),
        Metric("records_per_s", in.totalRecords / ingestS, "records/s", ok.size),
        Metric("batch_ms_p50", Stats.quantile(batch, 0.5), "ms", batch.size),
        Metric("batch_ms_p90", Stats.quantile(batch, 0.9), "ms", batch.size),
        Metric("out_bytes_per_record", Stats.median(ok.map(o => o.outBytes.toDouble / o.records)), "B", ok.size),
        Metric("peak_rss_mb", Stats.peakRssMb, "MB", 1))
      RunResult(os.map(_.attempted).sum, os.map(_.failed).sum,
        warm.problems ++ probeProblems ++ os.flatMap(_.problems), metrics)
    }
  }
}

object Runner {
  def time(body: => Unit): Double = { val t0 = Clock.now(); body; Clock.now() - t0 }
}

/** The clock operations are timed with: wall seconds, less the time the
  * hypervisor withheld this machine's CPUs (the `steal` column of
  * /proc/stat, averaged over CPUs). On a shared VM that time belongs to
  * other tenants, not to the program; on a dedicated machine it is 0.
  */
object Clock {
  private val cpus = Runtime.getRuntime.availableProcessors
  private val userHz = 100.0

  /** Seconds stolen so far, per CPU; 0 where /proc/stat has no steal column. */
  def stolen(): Double =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      if (f.length > 8) f(8).toDouble / userHz / cpus else 0.0
    } catch { case _: java.io.IOException => 0.0 }

  def now(): Double = System.nanoTime() / 1e9 - stolen()
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolation quantile (NaN for no samples). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The process's peak resident set (`VmHWM`), in MB. */
  def peakRssMb: Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)
  }
}
