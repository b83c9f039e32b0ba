package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.json4s._

/** The open-loop `log_tail` workload.
  *
  * Shards were written beforehand under hidden names (`.shard-N.parquet`,
  * which the `log` source does not list), so a release is one rename. A
  * generator thread releases shard i at `t0 + i * interval` whether or not
  * the query has kept up, and records when each rename actually happened.
  * One continuous query reads the directory as `log`, drops `error` events,
  * aggregates per hourly tumbling window and event type, and writes the
  * complete result to a `kv` sink each trigger.
  */
object LogTail {
  def aggregate(events: DataFrame): DataFrame =
    events.filter(col("event_type") =!= "error")
      .groupBy(window(col("ts"), "1 hour").getField("start").as("window_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum(round(col("value") * 100).cast("long")).as("value_cents"))

  def run(spark: SparkSession, probe: Probe, cfg: JValue, work: String,
      seconds: Double): List[JField] = {
    implicit val formats: Formats = DefaultFormats
    val dir = (cfg \ "shard_dir").extract[String]
    val rows = (cfg \ "shard_rows").extract[Seq[Long]]
    val intervalMs = (cfg \ "interval_ms").extract[Long]
    val drainTimeoutS = (cfg \ "drain_timeout_s").extract[Double]
    val sink = s"$work/log_tail_sink"
    def name(i: Int) = f"shard-$i%05d.parquet"
    def release(i: Int): Unit =
      Files.move(Paths.get(dir, "." + name(i)), Paths.get(dir, name(i)),
        StandardCopyOption.ATOMIC_MOVE)

    // Staging: shard 0 is visible before the query starts (the source
    // infers its schema from the shards); it is not part of the schedule.
    release(0)
    probe.beginGate("log_tail", 0)
    val query: StreamingQuery = graft.Tables.withMicroBatchConf(spark) {
      aggregate(spark.readStream.format("log").load(dir))
        .writeStream.format("kv").option("path", sink)
        .option("checkpointLocation", s"$work/log_tail_checkpoint")
        .outputMode("complete")
        .start()
    }
    def committed(): Long = Option(query.lastProgress)
      .flatMap(p => p.sources.headOption).map(s => offsets(s.endOffset)).getOrElse(Map.empty)
      .values.sum
    val deadline0 = System.nanoTime() + (drainTimeoutS * 1e9).toLong
    while (committed() < rows.head && System.nanoTime() < deadline0) Thread.sleep(5)

    // The release schedule: due times are fixed before the first release.
    val n = ((seconds * 1000) / intervalMs).toInt.min(rows.length - 1)
    val due = Array.tabulate(n)(i => System.currentTimeMillis() + 50 + i * intervalMs)
    val actual = new Array[Long](n)
    val generator = new Thread(() => {
      var i = 0
      while (i < n) {
        val wait = due(i) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        release(i + 1)
        actual(i) = System.currentTimeMillis()
        i += 1
      }
    }, "perfbench-log-tail-generator")
    generator.setDaemon(true)
    generator.start()
    generator.join()

    val target = rows.take(n + 1).sum
    val deadline = System.nanoTime() + (drainTimeoutS * 1e9).toLong
    while (committed() < target && System.nanoTime() < deadline && query.exception.isEmpty)
      Thread.sleep(5)
    val drained = committed()
    val liveHeap = Harness.liveHeapBytes()
    query.stop()
    Probe.drain(spark)

    // Exactly-once check: the sink against one batch aggregate over every
    // released shard.
    val expected = aggregate(spark.read.parquet(
      (0 to n).map(i => s"$dir/${name(i)}"): _*))
    val got = spark.read.format("kv").option("path", sink).load()
      .select(expected.columns.map(col).toIndexedSeq: _*)
    val missing = expected.exceptAll(got).count()
    val extra = got.exceptAll(expected).count()

    List(
      "shards" -> JArray((1 to n).toList.map(i => JObject(
        "shard" -> JString(name(i)), "rows" -> JLong(rows(i)),
        "due_ms" -> JLong(due(i - 1)), "released_ms" -> JLong(actual(i - 1))))),
      "initial_rows" -> JLong(rows.head),
      "live_heap_bytes" -> JLong(liveHeap),
      "drained_rows" -> JLong(drained),
      "query_error" -> query.exception.map(e => JString(e.getMessage.take(500))).getOrElse(JNull),
      "sink_missing_rows" -> JLong(missing),
      "sink_extra_rows" -> JLong(extra))
  }

  def offsets(json: String): Map[String, Long] =
    graft.sources.log.LogSource.parseOffsetJson(json)
}
