package graft

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import org.apache.spark.StoppedContext
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.TestSpark

/** `Memo` is the one memo facility: every cache that outlives a query
  * goes through it, so its rules are tested here once.
  */
class MemoSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"
  private def uniqueKey(tag: String) = s"memo-spec $tag ${System.nanoTime()}"

  test("a fingerprint change rebuilds the frame and releases the superseded blocks") {
    val spark = TestSpark.spark
    val sc = spark.sparkContext
    val key = uniqueKey("frame")
    val builds = new AtomicInteger
    def build() = {
      builds.incrementAndGet()
      spark.range(100).toDF("id").localCheckpoint(true)
    }
    val before = sc.getPersistentRDDs.keySet
    val a = Memo.frame(spark, key, "v1")(build())
    val pinnedA = sc.getPersistentRDDs.keySet -- before
    assert(pinnedA.nonEmpty, "the checkpoint persisted no RDD")
    assert(Memo.frame(spark, key, "v1")(build()) eq a)
    Memo.dropUnpinned(sc)
    assert(pinnedA.subsetOf(sc.getPersistentRDDs.keySet),
      "dropUnpinned dropped a memo entry's checkpoint")
    assert(a.count() == 100L)

    val b = Memo.frame(spark, key, "v2")(build())
    assert(builds.get == 2 && (b ne a))
    assert((pinnedA & sc.getPersistentRDDs.keySet).isEmpty,
      "the superseded entry's blocks are still persisted")
    assert(b.count() == 100L)
  }

  test("deleting one staged bucket file re-stages the SMB join tables") {
    val spark = TestSpark.spark
    def run() = graft.operators.ScaleJoins.smbJoin(spark, sf)
      .orderBy("o_orderpriority").collect().toSeq
    val first = run()
    val parts = Option(new java.io.File(
        graft.tools.JsonlTools.dumpDir(sf, "smb"), "lineitem").listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts.length > 1, s"expected several bucket files, got ${parts.length}")
    assert(parts.head.delete())
    assert(run() == first, "a partially reaped bucketed table was replayed")
  }

  test("a staged write that throws records nothing") {
    val dir = java.nio.file.Files.createTempDirectory("memo_staged").toString
    val writes = new AtomicInteger
    intercept[RuntimeException](Memo.staged(dir, "v1") {
      writes.incrementAndGet()
      throw new RuntimeException("write failed")
    })
    Memo.staged(dir, "v1") {
      writes.incrementAndGet()
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, "part-0"), "x")
    }
    Memo.staged(dir, "v1")(writes.incrementAndGet())
    assert(writes.get == 2)
    graft.etl.Directory.deleteRecursively(new java.io.File(dir))
  }

  test("two threads on one key build it once") {
    val key = uniqueKey("race")
    val builds = new AtomicInteger
    val go = new CountDownLatch(1)
    def get() = Future {
      go.await()
      Memo.value(key, "v1") {
        builds.incrementAndGet()
        Thread.sleep(200)
        new Object
      }
    }
    val (f1, f2) = (get(), get())
    go.countDown()
    val a = Await.result(f1, 30.seconds)
    val b = Await.result(f2, 30.seconds)
    assert(builds.get == 1 && (a eq b))
  }

  test("a build may reach other memo entries") {
    val spark = TestSpark.spark
    val key = uniqueKey("nested")
    val got = Memo.value(s"$key outer", "v1") {
      Memo.frame(spark, s"$key frame", "v1") {
        Memo.value(s"$key inner", "v1")(41)
      } + 1
    }
    assert(got == 42)
    // the real nesting: the replay-span probe reads Tables.events,
    // itself two memo entries (timestamp layout, schema)
    assert(graft.streaming.EventStream.replayWatermark(spark, sf)
      .endsWith(" seconds"))
  }

  // The suites share one SparkContext, so this flips its stopped flag
  // for the duration of one call (StoppedContext) instead of stopping
  // it. `frame` checks the flag before anything else, so the window
  // touches no entry: the other suites' frames stay memoized and pinned.
  test("no frame entry is returned once its SparkContext has stopped") {
    val spark = TestSpark.spark
    val key = uniqueKey("stopped")
    val builds = new AtomicInteger
    def build() = { builds.incrementAndGet(); new Object }
    val a = Memo.frame(spark, key, "v1")(build())
    StoppedContext.during(spark.sparkContext) {
      intercept[IllegalStateException](Memo.frame(spark, key, "v1")(build()))
    }
    assert(builds.get == 1)
    assert(Memo.frame(spark, key, "v1")(build()) eq a)
  }

  test("two concurrent drains of one streaming query both return the full result") {
    val spark = TestSpark.spark
    val q = graft.operators.StreamToolOps.queries("q_stream_dedup")
    def drain() = Future(
      q(spark, sf).orderBy("user_id", "event_type").collect().toSeq)
    val (f1, f2) = (drain(), drain())
    val a = Await.result(f1, 5.minutes)
    val b = Await.result(f2, 5.minutes)
    val batch = Tables.events(spark, sf)
      .select("user_id", "event_type").distinct()
      .orderBy("user_id", "event_type").collect().toSeq
    assert(a == batch && b == batch)
  }

  test("no main source other than Memo and BenchTrace declares a ConcurrentHashMap") {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val sources =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(sources.exists(_.getFileName.toString == "Memo.scala"))
    val offenders = sources.filter { p =>
      !Set("Memo.scala", "BenchTrace.scala")(p.getFileName.toString) &&
        java.nio.file.Files.readString(p).contains("ConcurrentHashMap")
    }
    assert(offenders.isEmpty,
      s"memo maps outside graft.Memo: ${offenders.mkString(", ")}")
  }
}
