package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Hive-style partitioned parquet layout: the write side of partition
  * pruning. `partitionBy` at write time turns a predicate on the
  * partition column into DIRECTORY listing at read time — the scan
  * never opens a file outside the selected partitions, which at 100 TB
  * is the difference between listing one month's directory and
  * scanning a decade of footers. The oracle is the same aggregate over
  * the unpartitioned originals, so the layout round trip (including
  * the partition column's value→path→value encoding) is hash-verified;
  * LayoutSpec pins that the month predicate becomes a partition filter
  * with an empty per-row data-filter list.
  *
  * Scale notes: one output file per (shuffle task × live partition) is
  * the classic small-file explosion — the repartition on the partition
  * column before the write makes each partition arrive on one task, so
  * files-per-partition is bounded by 1 (the compaction planner next
  * door prices cleaning up layouts written without this).
  */
object ParquetLayout {

  private[graft] def layoutDir(d: String): String = JsonlTools.dumpDir(d, "part_orders")

  /** Write orders partitioned by order month, then answer a one-month
    * question from the partitioned copy — the read that prices the
    * layout.
    */
  def partitionedRead(s: SparkSession, d: String): DataFrame = {
    val tmp = layoutDir(d)
    orders(s, d)
      .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
      .repartition(col("o_month"))
      .write.mode("overwrite").partitionBy("o_month").parquet(tmp)
    s.read.parquet(tmp)
      .filter(col("o_month") === "1996-03")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("sum_total"))
  }

  /** Streaming ingestion INTO the partitioned layout: the events
    * stream lands as date-partitioned parquet through Structured
    * Streaming's file sink, whose `_spark_metadata` manifest commits
    * each micro-batch's files atomically — a batch reader of the
    * output sees every batch exactly once or not yet, never a torn
    * write, and a failed trigger's orphan files are invisible (the
    * exactly-once contract a 100 TB landing zone needs; at real scale
    * the same query runs forever against arriving shards instead of
    * draining). The answer is read back off the partitioned output
    * with a one-date partition prune, and the oracle asks the
    * original events table — so manifest visibility, the partition
    * round trip, and the prune are all inside the hash-verified path.
    */
  def streamPartitionedSink(s: SparkSession, d: String): DataFrame = {
    val out = JsonlTools.dumpDir(d, "stream_part")
    // checkpoint on the RAM-backed scratch (StreamScratch rationale):
    // this drain's checkpoint is recreated fresh per execution — only
    // the SINK OUTPUT (data + _spark_metadata manifest, the thing the
    // operator prices) needs a real filesystem, and it stays where it
    // was. At deployment both persist (that is the point); the delete
    // is fixture hygiene, not part of the operator.
    val ck = graft.StreamScratch.checkpointDir(
      "stream_part_" + new java.io.File(out).getName)
    graft.etl.Directory.deleteRecursively(new java.io.File(out))
    graft.etl.Directory.deleteRecursively(new java.io.File(ck))
    // a cloned session isolates readEvents' layout-dependent conf (the
    // NANOS fixture era sets nanosAsLong session-wide) from the caller
    val child = graft.StreamScratch.session(s)
    val q = graft.streaming.EventStream.readEvents(child, d)
      .withColumn("event_date", date_format(col("ts"), "yyyy-MM-dd"))
      // cluster each micro-batch by the partition column before the
      // sink (the batch twin's repartition discipline, guide §6):
      // without it every (scan task × live date) pair emits its own
      // file — measured 4 triggers × ~8 splits × ~31 dates ≈ hundreds
      // of small files at GenScale sf1 — while clustered, each date
      // lands on one task per trigger and files/trigger = live dates.
      // A stateless per-batch exchange is the documented price.
      .repartition(col("event_date"))
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", ck)
      .partitionBy("event_date")
      .outputMode("append")
      .start()
    try q.processAllAvailable()
    // the checkpoint is not needed once the query stopped (the batch
    // reader consumes out/'s _spark_metadata manifest, not ck) —
    // delete it now so dead-pid scratch dirs never accumulate on the
    // RAM-backed base
    finally graft.StreamScratch.stop(q, ck)
    s.read.parquet(out)
      .filter(col("event_date") === "2024-01-15")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(dec(col("value"))).cast("double").as("sum_value"))
  }
}
