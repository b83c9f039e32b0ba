package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.json4s._
import org.json4s.jackson.JsonMethods

/** One timed interval. Times are epoch milliseconds. */
case class Span(id: Long, parent: Long, kind: String, name: String, start: Double, end: Double,
    pass: Int) {
  def json: JValue = JObject("id" -> JLong(id), "parent" -> JLong(parent), "kind" -> JString(kind),
    "name" -> JString(name), "start" -> JDouble(start), "end" -> JDouble(end), "pass" -> JInt(pass))
}

/** Listener on the shared SparkContext, so it also sees the jobs and the
  * streaming progress of sessions the program clones (GraftSql scripts run
  * their INSERTs on a twin session).
  *
  * Untraced, it keeps only streaming progress events. Traced, it also
  * records job and stage spans and per-stage task aggregates. Events are
  * attributed to the gate that was current when they were delivered; the
  * harness drains the bus at every gate boundary, so that is exact.
  */
class Probe(cachedBytes: () => Long) extends SparkListener {
  @volatile var traced = false
  /** Largest persisted-block footprint, sampled at every traced job end. */
  @volatile var cachedPeak = 0L
  @volatile private var gate = "setup"
  @volatile private var pass = -1
  @volatile private var phaseName = "build"
  private var gateSpan, buildSpan, execSpan = 0L
  private var nextId = 1L
  val progress = mutable.ArrayBuffer.empty[JValue]
  val spans = mutable.ArrayBuffer.empty[Span]
  val stageTasks = mutable.ArrayBuffer.empty[JValue]
  private val jobStart = mutable.Map.empty[Int, (Double, Long, String)]
  private val stageJob = mutable.Map.empty[Int, Long]
  private val stageAgg = mutable.Map.empty[(Int, Int), StageAgg]

  /** Offset from System.nanoTime to epoch milliseconds. */
  private val nanoToEpochMs = System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  def epochMs(nanos: Long): Double = nanos / 1e6 + nanoToEpochMs

  private def newId(): Long = synchronized { nextId += 1; nextId }

  def beginGate(g: String, p: Int): Unit = synchronized {
    gate = g; pass = p; phaseName = "build"
    gateSpan = newId(); buildSpan = newId(); execSpan = newId()
  }
  def phase(p: String): Unit = synchronized { phaseName = p }

  /** Gate, build and exec spans, once the gate's interval is known. */
  def endGate(r: Harness.GateRun): Unit = synchronized {
    if (r.traced) {
      val s = epochMs(r.startNs)
      val b = epochMs(r.startNs + r.buildNs)
      spans += Span(gateSpan, 0L, "gate", r.gate, s, epochMs(r.endNs), r.pass)
      spans += Span(buildSpan, gateSpan, "build", r.gate, s, b, r.pass)
      spans += Span(execSpan, gateSpan, "exec", r.gate, b, epochMs(r.endNs), r.pass)
    }
    gate = "between"
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: QueryProgressEvent => synchronized {
      progress += JObject("gate" -> JString(gate), "pass" -> JInt(pass),
        "p" -> JsonMethods.parse(e.progress.json))
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (traced) synchronized {
    val id = newId()
    jobStart(e.jobId) = (e.time.toDouble, id, phaseName)
    e.stageIds.foreach(s => stageJob(s) = id)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (start, id, ph) =>
      cachedPeak = math.max(cachedPeak, cachedBytes())
      spans += Span(id, if (ph == "build") buildSpan else execSpan, "job", gate,
        start, e.time.toDouble, pass)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (traced) synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = stageAgg.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAgg)
      val info = e.taskInfo
      a.tasks += 1
      a.durations += info.duration
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.waitMs += math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime)
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inRows += m.inputMetrics.recordsRead
      a.inBytes += m.inputMetrics.bytesRead
      a.outRows += m.outputMetrics.recordsWritten
      a.outBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageAgg.remove((info.stageId, info.attemptNumber())).foreach { a =>
      val parent = stageJob.getOrElse(info.stageId, 0L)
      val start = info.submissionTime.map(_.toDouble).getOrElse(0.0)
      val end = info.completionTime.map(_.toDouble).getOrElse(start)
      spans += Span(newId(), parent, "stage", gate, start, end, pass)
      val d = a.durations.sorted
      stageTasks += JObject("gate" -> JString(gate), "pass" -> JInt(pass),
        "phase" -> JString(phaseName), "tasks" -> JInt(a.tasks),
        "run_ms" -> JLong(a.runMs), "cpu_ns" -> JLong(a.cpuNs), "gc_ms" -> JLong(a.gcMs),
        "wait_ms" -> JLong(a.waitMs), "shuffle_read" -> JLong(a.shuffleRead),
        "shuffle_write" -> JLong(a.shuffleWrite), "spill" -> JLong(a.spill),
        "in_rows" -> JLong(a.inRows), "in_bytes" -> JLong(a.inBytes),
        "out_rows" -> JLong(a.outRows), "out_bytes" -> JLong(a.outBytes),
        "max_task_ms" -> JLong(d.last), "median_task_ms" -> JLong(d(d.length / 2)))
    }
  }

  private class StageAgg {
    var tasks = 0
    val durations = mutable.ArrayBuffer.empty[Long]
    var runMs, cpuNs, gcMs, waitMs, shuffleRead, shuffleWrite, spill = 0L
    var inRows, inBytes, outRows, outBytes = 0L
  }
}

object Probe {
  def drain(spark: SparkSession): Unit = PerfbenchAccess.waitForListeners(spark.sparkContext)
}
