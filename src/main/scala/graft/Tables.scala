package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated fixture tables (see TESTDATA.md).
  *
  * All queries receive an `sfDir` (e.g. /root/testdata/sf0.01) and read
  * one parquet file per table. Reads go through the vanilla parquet DSv2
  * source so Catalyst gets pushdown/pruning for free; the engine's own
  * DSv2 sources (kv / log / cdc) are layered on top of the same files.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session confs the SPJ-reading gates need (kv catalog + v2
    * bucketing). Set ONCE per session by every gate-running main
    * (Verify/Bench/ExplainCheck) so plan shapes don't depend on which
    * gate happens to run first — individual gates also set them
    * idempotently for standalone use.
    */
  def tuneForGates(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.catalog.kvcat",
      classOf[graft.sources.kv.KvCatalog].getName)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
    spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
  }

  /** Start + drain a micro-batch stream whose per-trigger work is bounded
    * by the source's admission control (`maxOffsetsPerTrigger` /
    * `maxFilesPerTrigger`) under per-batch-sized execution conf, then
    * restore the session values for the unbounded post-stream phase.
    *
    * Two knobs, both justified by the trigger cap (a gate contract, not a
    * local-mode constant — at any corpus scale a trigger admits the same
    * few thousand rows):
    *  - AQE off: adaptive re-optimization costs ~80 ms of driver work per
    *    job (measured: a bare per-batch `count()` drain, 40 triggers,
    *    9.5 s → 6.2 s) and can improve nothing on a KB-sized plan whose
    *    output partitioning the gate pins anyway;
    *  - shuffle partitions from `spark.graft.microbatch.partitions`
    *    (default 1): per-trigger aggregation state is admission-bounded
    *    (KBs), so ONE partition is the right §2.2 partition size at any
    *    scale — 32 near-empty reducers per trigger is pure scheduling
    *    overhead.
    *
    * The streaming query clones the session at `start()`, so the conf
    * must be set BEFORE the stream starts — run the whole
    * start/awaitTermination block inside `body`. Results are unaffected:
    * neither knob changes any operator's semantics.
    */
  def withMicroBatchConf[T](spark: SparkSession)(body: => T): T = {
    val conf = spark.conf
    // only explicitly set keys: `getOption` also reports a registered
    // key's default, and restoring that would pin a value the session
    // never set
    val explicit = conf.getAll
    val saved = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
      .map(k => k -> explicit.get(k))
    conf.set("spark.sql.adaptive.enabled",
      conf.get("spark.graft.microbatch.aqe", "false"))
    conf.set("spark.sql.shuffle.partitions",
      conf.get("spark.graft.microbatch.partitions", "1"))
    try body
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") {
      // The events fixture has stored ts as parquet TIMESTAMP(NANOS) in
      // some generations (Spark 4 refuses it natively) and as MICROS in
      // others. Read with nanosAsLong on: a NANOS column arrives as long
      // nanos → truncate to microsecond TimestampType (integer div — ns
      // epochs exceed 2^53, so double division would lose precision); a
      // MICROS column arrives as TimestampType already → pass through.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Normalize to TimestampType (LTZ) either way — sessions run UTC, so
      // an NTZ→LTZ cast is value-identical and downstream unix_micros /
      // window functions see the type every generation produced before.
      val df = spark.read.parquet(s"$sfDir/$name.parquet")
      if (df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else df.withColumn("ts",
        col("ts").cast(org.apache.spark.sql.types.TimestampType))
    } else {
      spark.read.parquet(s"$sfDir/$name.parquet")
    }

  /** Register every fixture table as a temp view (for spark.sql surfaces). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}
