package graft.streaming

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.TestSpark

/** Pins the drain scaffolding: each drain runs in its own child
  * session and checkpoints to a fresh scratch dir deleted after stop.
  * The observable contract — repeated drains of one query return the
  * identical result — holds, and the scaffolding must not accumulate:
  * no leftover checkpoint dirs (not even a dead JVM's), and neither
  * listeners on the SparkContext nor sink tables in the caller's
  * session grow however often a query runs, and a repeated drain
  * compiles no code.
  */
class DrainPoolSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  test("repeated drains return the identical result") {
    val spark = TestSpark.spark
    val q = graft.operators.StreamToolOps.queries("q_stream_dedup")
    val a = q(spark, dir).orderBy("user_id", "event_type").collect().toSeq
    val b = q(spark, dir).orderBy("user_id", "event_type").collect().toSeq
    val batch = graft.Tables.events(spark, dir)
      .select("user_id", "event_type").distinct()
      .orderBy("user_id", "event_type").collect().toSeq
    assert(a == batch)
    assert(b == batch)
  }

  test("drain checkpoints are cleaned up after the query stops") {
    val spark = TestSpark.spark
    val q = graft.operators.StreamToolOps.queries("q_stream_tumbling")
    q(spark, dir).count()
    val pid = ProcessHandle.current().pid()
    // every drain checkpoint carries this process's pid in its name and
    // is deleted in the same finally that stops the query — any survivor
    // under the scratch base is a leak
    val base = new java.io.File(
      graft.StreamScratch.checkpointDir("probe")).getParentFile
    val leaked = Option(base.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith(s"graft_ck_${pid}_stream_"))
    assert(leaked.isEmpty,
      s"leaked drain checkpoints: ${leaked.map(_.getName).mkString(", ")}")

    // a killed JVM never runs that finally: its dirs go on the sweep
    val gone = new ProcessBuilder("true").start()
    gone.waitFor()
    val planted = new java.io.File(base, s"graft_ck_${gone.pid()}_stream_x")
    assert(new java.io.File(planted, "offsets").mkdirs())
    graft.StreamScratch.sweepDead(base.getPath)
    assert(!planted.exists(), s"dead-pid checkpoint survived: $planted")
    assert(base.exists())
  }

  test("repeated drains reuse the code generated for the first") {
    val spark = TestSpark.spark
    val q = graft.operators.StreamToolOps.queries("q_stream_static")
    q(spark, dir).count()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    Seq.fill(2)(q(spark, dir)).foreach(_.count())
    // generated code is cached per class loader: a drain session with a
    // class loader of its own would recompile every plan it runs
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles,
      "a repeated drain recompiled generated code")
  }

  test("memory-sink tables stay bounded across repeated drains") {
    val spark = TestSpark.spark
    val sc = spark.sparkContext
    val q = graft.operators.StreamToolOps.queries("q_stream_static")
    q(spark, dir).count()
    val before = org.apache.spark.Listeners.of(sc)
    val frames = Seq.fill(3)(q(spark, dir))
    frames.foreach(_.count())
    // each drain's child session, and the clone its stream runs in,
    // registers a streaming listener bus on the shared SparkContext; a
    // drain that left them there would grow the context's bus with
    // every execution. Compared as instances: a listener of an earlier
    // suite that goes meanwhile must not hide one the drains added
    val added = org.apache.spark.Listeners.of(sc) -- before
    assert(added.isEmpty, s"drains left listeners on the SparkContext: $added")
    // each drain's sink table lives in its own child session, so the
    // caller's catalog never accumulates one per execution
    val callerTables = spark.catalog.listTables()
      .filter(org.apache.spark.sql.functions.col("name")
        .startsWith("stream_static_"))
      .count()
    assert(callerTables == 0L, s"sink tables in the caller session: $callerTables")
    assert(frames.map(_.sparkSession).distinct.size == 3,
      "drains shared a session")
  }
}
