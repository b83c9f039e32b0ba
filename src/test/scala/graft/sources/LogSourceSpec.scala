package graft.sources

import java.nio.file.Files
import graft.SparkSpec
import graft.sources.log.{LogMicroBatchStream, LogOffsetV, LogTailCache}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

class LogSourceSpec extends SparkSpec {
  import spark.implicits._

  /** Write n rows as one shard file via the kv writer. */
  private def writeShard(dir: String, name: String, from: Int, until: Int): Unit = {
    val tmp = Files.createTempDirectory("shardtmp").toString
    (from until until).map(i => (i.toLong, s"msg-$i")).toDF("id", "body")
      .coalesce(1).write.format("kv").option("path", tmp).mode("overwrite").save()
    val part = ParquetIO.listFiles(tmp).head
    val fs = part.getFileSystem(ParquetIO.hadoopConf)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    fs.rename(part, new org.apache.hadoop.fs.Path(dir, name))
  }

  test("batch scan with earliest/latest and explicit json offsets") {
    val dir = Files.createTempDirectory("logbatch").toString
    writeShard(dir, "shard-a.parquet", 0, 10)
    writeShard(dir, "shard-b.parquet", 100, 105)
    val all = spark.read.format("log").option("path", dir).load()
    assert(all.count() == 15)
    val sliced = spark.read.format("log").option("path", dir)
      .option("starting.offsets", """{"shard-a.parquet": 4}""")
      .option("ending.offsets", "latest").load()
    assert(sliced.count() == 11) // 6 from a + 5 from b
    val empty = spark.read.format("log").option("path", dir)
      .option("starting.offsets", "latest").load()
    assert(empty.count() == 0)
  }

  test("raw schema mode emits shard/offset/json value") {
    val dir = Files.createTempDirectory("lograw").toString
    writeShard(dir, "shard-a.parquet", 0, 3)
    val raw = spark.read.format("log").option("path", dir)
      .option("schema.mode", "raw").load()
    assert(raw.columns.toSeq == Seq("__shard__", "__offset__", "__value__"))
    val rows = raw.orderBy("__offset__").collect()
    assert(rows.length == 3)
    assert(rows(0).getString(0) == "shard-a.parquet")
    assert(rows(0).getString(2) == """{"id":0,"body":"msg-0"}""")
  }

  test("micro-batch stream honors maxOffsetsPerTrigger exactly and discovers new shards") {
    val dir = Files.createTempDirectory("logstream").toString
    val ckpt = Files.createTempDirectory("logckpt").toString
    writeShard(dir, "shard-a.parquet", 0, 20)
    writeShard(dir, "shard-b.parquet", 100, 120)

    val stream = spark.readStream.format("log")
      .option("path", dir)
      .option("maxOffsetsPerTrigger", "7")
      .load()
    val q = stream.writeStream.format("memory").queryName("log_out")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(50))
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("log_out").count() == 40)
      // every processed micro-batch admitted ≤ 7 rows
      val batchRows = q.recentProgress.map(_.numInputRows).filter(_ > 0)
      assert(batchRows.nonEmpty && batchRows.forall(_ <= 7),
        s"batches exceeded limit: ${batchRows.mkString(",")}")
      // new shard discovered mid-stream, consumed from 0
      writeShard(dir, "shard-c.parquet", 500, 509)
      q.processAllAvailable()
      assert(spark.table("log_out").count() == 49)
      val ids = spark.table("log_out").select("id").as[Long].collect().toSet
      assert((500L until 509L).forall(ids.contains))
    } finally q.stop()
  }

  test("rate-limited drain with parked-reader resume is bit-identical") {
    val dir = Files.createTempDirectory("logtail").toString
    val ckpt = Files.createTempDirectory("logtailck").toString
    writeShard(dir, "shard-a.parquet", 0, 1000)
    // a mid-file batch slice parks a reader at an arbitrary position —
    // subsequent non-consecutive reads must MISS it and stay correct
    val slice = spark.read.format("log").option("path", dir)
      .option("starting.offsets", """{"shard-a.parquet": 100}""")
      .option("ending.offsets", """{"shard-a.parquet": 200}""").load()
    assert(slice.select("id").as[Long].collect().sorted.toSeq ==
      (100L until 200L))
    // the rate-limited drain slices [0,37), [37,74), … — every batch
    // after the first checks out the reader the previous batch parked
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("log").option("path", dir)
      .option("maxOffsetsPerTrigger", "37").load()
      .writeStream.foreachBatch {
        (df: org.apache.spark.sql.DataFrame, _: Long) =>
          got.synchronized { got ++= df.select("id").as[Long].collect() }
          ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(got.sorted.toSeq == (0L until 1000L), s"drained ${got.length} rows")
    // a fresh full read after the drain opens from row 0 (the handle
    // parked at EOF must not be consulted) and sees every row
    assert(spark.read.format("log").option("path", dir).load()
      .count() == 1000)
  }

  test("stopping a rate-limited log stream closes the readers it parked") {
    val dir = Files.createTempDirectory("logstop").toString
    val ckpt = Files.createTempDirectory("logstopck").toString
    writeShard(dir, "shard-a.parquet", 0, 2000)
    def parkedHere: Set[String] =
      LogTailCache.parkedCursors.map(_.file).filter(_.contains(dir))
    val q = spark.readStream.format("log").option("path", dir)
      .option("maxOffsetsPerTrigger", "13").load()
      .writeStream.format("noop")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(200)).start()
    try {
      // between triggers the last batch's reader waits, parked at the
      // next slice's first row
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (parkedHere.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      assert(parkedHere.nonEmpty, "the drain never parked a reader")
    } finally q.stop()
    assert(parkedHere.isEmpty, s"parked readers survived stop(): $parkedHere")
  }

  /** A parkable reader that records whether it was closed. */
  private class ProbeReader extends Iterator[org.apache.spark.sql.catalyst.InternalRow]
      with AutoCloseable {
    @volatile var closed = false
    def hasNext: Boolean = false
    def next(): org.apache.spark.sql.catalyst.InternalRow = Iterator.empty.next()
    def close(): Unit = closed = true
  }

  test("log tail release closes only the named cursors") {
    val (mine, other) = (new ProbeReader, new ProbeReader)
    LogTailCache.park("release-probe", 10L, 1L, "s", 4L, mine)
    LogTailCache.park("release-probe", 10L, 1L, "s", 7L, other)
    LogTailCache.release(Set(LogTailCache.Cursor("release-probe", 10L, 1L, 4L)))
    assert(mine.closed && !other.closed)
    assert(LogTailCache.parkedCursors.filter(_.file == "release-probe") ==
      Set(LogTailCache.Cursor("release-probe", 10L, 1L, 7L)))
    LogTailCache.release(Set(LogTailCache.Cursor("release-probe", 10L, 1L, 7L)))
    assert(other.closed)
  }

  test("a log stream tracks only the cursors still parked plus its last batch") {
    val dir = Files.createTempDirectory("logcursors").toString
    for (i <- 0 until 5) writeShard(dir, s"shard-$i.parquet", i * 100, i * 100 + 50)
    val stream = new LogMicroBatchStream(dir, new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("body", "string"), raw = false,
      org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
    // plan one batch per shard, as a stream whose shard set keeps growing
    // would; nothing executes, so nothing parks between them
    for (i <- 0 until 5) {
      val shard = s"shard-$i.parquet"
      stream.planInputPartitions(LogOffsetV(Map(shard -> 10L)), LogOffsetV(Map(shard -> 20L)))
      assert(stream.trackedCursors.map(c => (new java.io.File(c.file).getName, c.pos)) ==
        Set((shard, 20L)))
    }
    stream.stop()
  }

  test("streaming kv sink: epoch-deterministic files + commit markers (idempotent)") {
    val dir = Files.createTempDirectory("logsrc2").toString
    val ckpt = Files.createTempDirectory("ckpt2").toString
    val out = Files.createTempDirectory("kvsink").toString
    writeShard(dir, "shard-a.parquet", 0, 12)
    val q = spark.readStream.format("log").option("path", dir).load()
      .writeStream.format("kv").option("path", out)
      .option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable()
      val written = spark.read.format("kv").option("path", out).load()
      assert(written.count() == 12)
      assert(written.select("id").as[Long].collect().toSet == (0L until 12L).toSet)
      val commits = new java.io.File(out, "_commits").list()
      assert(commits != null && commits.nonEmpty, "commit markers must exist")
    } finally q.stop()
  }
}
