package singerbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A timed interval. Times are epoch milliseconds (fractional for spans the
  * benchmark records itself, whole for Spark's job events).
  */
final case class Span(id: Int, parent: Int, ingest: String, name: String, start: Double, end: Double) {
  def seconds: Double = (end - start) / 1000.0
}

/** Spans recorded around the benchmark's calls into the program's layers,
  * kept in memory and written out once at the end. Spans opened inside
  * another are its children; all spans of one ingest share its id.
  */
final class Tracer {
  private val t0Nanos = System.nanoTime()
  private val t0Millis = System.currentTimeMillis().toDouble
  private val spans = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0
  var ingest: String = ""

  def nowMillis: Double = t0Millis + (System.nanoTime() - t0Nanos) / 1e6

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val start = nowMillis
    try body
    finally {
      open = open.tail
      spans += Span(id, parent, ingest, name, start, nowMillis)
    }
  }

  /** Adds spans timed elsewhere (Spark jobs, streaming batches). */
  def add(parentName: String, name: String, start: Double, end: Double): Unit = {
    val parent = spans.reverseIterator.find(s => s.ingest == ingest && s.name == parentName)
    spans += Span(nextId, parent.map(_.id).getOrElse(-1), ingest, name, start, end)
    nextId += 1
  }

  /** Self time of each span: its duration minus the time its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.start, k.end)).toSeq
    s.seconds - Engine.unionMillis(kids) / 1000.0
  }

  def write(path: Path): Unit = {
    val lines = spans.sortBy(_.id).map(s =>
      f"""{"id":${s.id},"parent":${s.parent},"ingest":"${s.ingest}","name":"${s.name}",""" +
        f""""start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f,"self_s":${selfSeconds(s)}%.6f}""")
    Files.createDirectories(path.getParent)
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Per-job record collected from Spark's listener bus. */
final class JobRec(val id: Int, val batch: Option[Long], val start: Long) {
  @volatile var end: Long = -1L
  var runMs = 0L
  var cpuNs = 0L
  var bytesRead = 0L
  var recordsRead = 0L
}

/** What a set of jobs cost the engine. */
final case class EngineStats(jobs: Int, execRunS: Double, execCpuS: Double, busyS: Double, bytesRead: Long)

/** Records the span and task counters of every job, so the cost of the
  * jobs of one job group (an ingest, a layer, a streaming query) can be read
  * back after it returns.
  */
final class Engine(sc: SparkContext) extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val rec = new JobRec(e.jobId,
      props.flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).map(_.toLong), e.time)
    jobs(e.jobId) = rec
    e.stageIds.foreach(s => stageJob(s) = rec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (rec <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      rec.runMs += m.executorRunTime
      rec.cpuNs += m.executorCpuTime
      rec.bytesRead += m.inputMetrics.bytesRead
      rec.recordsRead += m.inputMetrics.recordsRead
    }
  }

  /** The jobs of `group`, once the listener bus has delivered all of them. */
  def jobsOf(group: String): Seq[JobRec] = {
    val ids = sc.statusTracker.getJobIdsForGroup(group).toSet
    val deadline = System.currentTimeMillis() + 10000
    def done = synchronized(ids.forall(i => jobs.get(i).exists(_.end >= 0)))
    while (!done && System.currentTimeMillis() < deadline) Thread.sleep(5)
    synchronized(jobs.values.filter(j => ids(j.id)).toVector)
  }

  def stats(js: Seq[JobRec]): EngineStats = synchronized {
    EngineStats(js.size, js.map(_.runMs).sum / 1000.0, js.map(_.cpuNs).sum / 1e9,
      Engine.unionMillis(js.map(j => (j.start.toDouble, j.end.toDouble))) / 1000.0,
      js.map(_.bytesRead).sum)
  }
}

object Engine {
  /** Length of the union of intervals, in their unit. */
  def unionMillis(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    for ((s, e) <- iv.sortBy(_._1)) {
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** One streaming micro-batch as its progress event reports it. */
final case class BatchRec(batchId: Long, rows: Long, triggerMs: Long, addBatchMs: Long, endMillis: Double)

/** Records micro-batch progress events of streaming queries. */
final class Batches extends StreamingQueryListener {
  private val recs = ArrayBuffer.empty[BatchRec]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    recs += BatchRec(p.batchId, p.numInputRows, d("triggerExecution"), d("addBatch"),
      java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble + d("triggerExecution"))
  }

  /** Takes the events recorded so far, waiting until there are `n`. */
  def drain(n: Int): Vector[BatchRec] = {
    val deadline = System.currentTimeMillis() + 10000
    while (synchronized(recs.size) < n && System.currentTimeMillis() < deadline) Thread.sleep(5)
    synchronized { val out = recs.toVector; recs.clear(); out }
  }
}
