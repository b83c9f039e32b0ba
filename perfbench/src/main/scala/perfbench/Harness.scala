package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** JVM side of the benchmark. It calls graft's public entry points from
  * outside, times them, and writes raw measurements as JSON; `run.py`
  * turns them into metrics and checks the outputs.
  *
  *   Harness run <config.json> <result.json>
  *   Harness dump-oracle <out.json> <gate,gate,...>
  */
object Harness {
  implicit val formats: Formats = DefaultFormats

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("run", config, result) =>
      val cfg = JsonMethods.parse(Files.readString(Paths.get(config)))
      Files.writeString(Paths.get(result), JsonMethods.compact(JsonMethods.render(run(cfg))))
    case Seq("dump-oracle", out, gates) =>
      val sql = gates.split(",").toSeq.flatMap(g => graft.SparkEntry.oracleSql.get(g).map(g -> _))
      Files.writeString(Paths.get(out),
        JsonMethods.compact(JsonMethods.render(JObject(sql.map { case (g, s) => g -> JString(s) }: _*))))
    case _ =>
      System.err.println("usage: Harness run <config.json> <result.json> | dump-oracle <out> <gates>")
      sys.exit(2)
  }

  private def now(): Long = System.nanoTime()
  private def secs(ns: Long): Double = ns / 1e9

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Tables.tuneForGates(spark)
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Live heap: used bytes right after a full collection. Taken outside
    * every timed interval. */
  def liveHeapBytes(): Long = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  def openFds(): Int = Option(new File("/proc/self/fd").list()).map(_.length).getOrElse(-1)

  /** Bytes of persisted blocks, in memory and on disk. */
  def cachedBytes(sc: SparkContext): Long =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** One gate: build (the SparkEntry call, which for stream gates drains
    * the stream) then exec (a noop write of the returned frame). */
  case class GateRun(pass: Int, gate: String, traced: Boolean, startNs: Long, buildNs: Long,
      execNs: Long, endNs: Long, error: Option[String], fdsDelta: Int, cachedEnd: Long,
      liveHeap: Long, output: Option[String])

  def run(cfg: JValue): JValue = {
    val cores = (cfg \ "cores").extract[Int]
    val work = (cfg \ "work").extract[String]
    val fixture = (cfg \ "fixture").extract[String]
    val seconds = (cfg \ "seconds").extract[Double]
    val trace = (cfg \ "trace").extract[Boolean]
    val setups = (cfg \ "setups").extract[Int]
    val warmup = (cfg \ "warmup").extract[Seq[String]]

    // Set-up, repeated: session start and the unmeasured warmup.
    var spark: SparkSession = null
    val setupNs = (1 to setups).map { _ =>
      if (spark != null) stop(spark)
      val s = now()
      spark = session(cores, work)
      warmup.foreach(g => graft.SparkEntry.queries(g)(spark, fixture)
        .write.format("noop").mode("overwrite").save())
      now() - s
    }
    val sc = spark.sparkContext
    val probe = new Probe(() => cachedBytes(sc))
    sc.addSparkListener(probe)

    val body: List[JField] = (cfg \ "kind").extract[String] match {
      case "gates" =>
        val gates = (cfg \ "gates").extract[Seq[String]]
        val outDir = s"$work/out"
        val runs = ArrayBuffer.empty[GateRun]
        def pass(p: Int, traced: Boolean): Long = {
          probe.traced = traced
          val s = now()
          gates.foreach(g => runs += runGate(spark, probe, fixture, g, p, traced,
            if (p == 0) Some(s"$outDir/$g") else None))
          now() - s
        }
        // Pass 0 warms the gates' code paths and writes every gate's output
        // for the check; it is not measured. An untraced run then makes at
        // least two passes, more if they fit in `seconds`; the count is
        // fixed by the length of pass 1 so that it does not drift between
        // runs. A traced run makes one traced and one untraced pass; their
        // difference is the tracing overhead.
        pass(0, traced = false)
        if (trace) { pass(1, traced = true); pass(2, traced = false) }
        else {
          val first = pass(1, traced = false)
          val n = math.max(2L, math.round(seconds * 1e9 / first)).toInt
          (2 to n).foreach(pass(_, traced = false))
        }
        var extra: List[JField] = Nil
        if (trace && (cfg \ "single_thread_baseline").extractOpt[Boolean].contains(true)) {
          // The same gate list on one core: a reported, ungated baseline.
          spark.sparkContext.removeSparkListener(probe)
          stop(spark)
          spark = session(1, work)
          val sc1 = spark.sparkContext
          val p1 = new Probe(() => cachedBytes(sc1))
          sc1.addSparkListener(p1)
          val r1 = gates.map(g => runGate(spark, p1, fixture, g, 0, false, None))
          extra = List("local1" -> JObject(
            "wall_s" -> JDouble(secs(r1.map(r => r.buildNs + r.execNs).sum)),
            "errors" -> JArray(r1.flatMap(_.error).map(JString(_)).toList)))
        }
        List("gate_runs" -> JArray(runs.toList.map(gateJson))) ++ extra
      case "log_tail" =>
        probe.traced = trace
        LogTail.run(spark, probe, cfg, work, seconds)
    }
    Probe.drain(spark)
    val result = JObject(List(
      "setup_s" -> JArray(setupNs.toList.map(n => JDouble(secs(n)))),
      "cached_peak_bytes" -> JInt(probe.cachedPeak),
      "progress" -> JArray(probe.progress.toList),
      "spans" -> JArray(probe.spans.toList.map(_.json)),
      "tasks" -> JArray(probe.stageTasks.toList)) ++ body)
    stop(spark)
    result
  }

  def runGate(spark: SparkSession, probe: Probe, fixture: String, gate: String, pass: Int,
      traced: Boolean, output: Option[String]): GateRun = {
    Probe.drain(spark)
    probe.beginGate(gate, pass)
    val fd0 = openFds()
    val s = now()
    var b = s
    var e = s
    val err = try {
      val df = graft.SparkEntry.queries(gate)(spark, fixture)
      b = now()
      if (traced) Probe.drain(spark)
      probe.phase("exec")
      df.write.format("noop").mode("overwrite").save()
      e = now()
      // The output check writes the result outside the timed interval,
      // before the next gate's dispatch releases its cached frames.
      output.foreach(o => df.coalesce(1).write.mode("overwrite").parquet(o))
      None
    } catch {
      case t: Throwable =>
        if (b == s) b = now()
        e = now()
        Some(s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(500)}")
    }
    Probe.drain(spark)
    val run = GateRun(pass, gate, traced, s, b - s, e - b, e, err, openFds() - fd0,
      cachedBytes(spark.sparkContext), if (pass <= 1) liveHeapBytes() else -1L, output)
    probe.endGate(run)
    run
  }

  def gateJson(r: GateRun): JValue = JObject(
    "pass" -> JInt(r.pass), "gate" -> JString(r.gate), "traced" -> JBool(r.traced),
    "build_s" -> JDouble(secs(r.buildNs)), "exec_s" -> JDouble(secs(r.execNs)),
    "error" -> r.error.map(JString(_)).getOrElse(JNull),
    "fds_delta" -> JInt(r.fdsDelta), "cached_bytes_end" -> JLong(r.cachedEnd),
    "live_heap_bytes" -> JLong(r.liveHeap),
    "output" -> r.output.map(JString(_)).getOrElse(JNull))
}
