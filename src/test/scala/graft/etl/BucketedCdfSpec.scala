package graft.etl

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The bucketed CDF path must change the PLAN, not the answer: both
  * snapshot versions arrive dn-bucketed (+ dn-sorted) from
  * `Directory.saveBucketed`, so the full-outer join that IS the change
  * feed consumes bucket i against bucket i with ZERO exchanges — the
  * write-once/join-forever trade, applied to the feed that would
  * otherwise shuffle two full snapshot versions every refresh at
  * 100 TB. Answers are pinned against the plain-store `changes`.
  */
class BucketedCdfSpec extends AnyFunSuite {

  test("bucketed CDF equals plain CDF and plans zero exchanges") {
    val spark = TestSpark.spark
    import spark.implicits._
    def e(cn: String, g: String) =
      Directory.Entry(s"cn=$cn,dc=t", Map("g" -> Seq(g)))
    val v1 = (1 to 200).map(i => e(s"u$i", if (i % 2 == 0) "even" else "odd"))
    // drop %7==0 (deletes), flip %5==0's group (updates), add 50 (inserts)
    val v2 = (1 to 200).filter(_ % 7 != 0)
      .map(i => e(s"u$i",
        if (i % 5 == 0) "flip" else if (i % 2 == 0) "even" else "odd")) ++
      (201 to 250).map(i => e(s"u$i", "new"))

    // nanoTime-namespaced catalog tables + a temp plain store: both
    // are per-run artifacts that would otherwise accumulate across
    // test runs in spark-warehouse — drop/delete them in the finally
    val ns = "graft_cdfspec_" + System.nanoTime()
    val dir = java.nio.file.Files.createTempDirectory("graft-cdfb").toString
    try {
    Directory.saveBucketed(v1.toDS(), s"${ns}_v1")
    Directory.saveBucketed(v2.toDS(), s"${ns}_v2")
    val feed = Directory.changesBucketed(spark, s"${ns}_v1", s"${ns}_v2")

    // plan inspection BEFORE executing (post-execution AQE rewraps)
    val plan = feed.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }
    val p = plan.toString
    assert(plan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }.nonEmpty, s"no SortMergeJoin in plan:\n$p")
    val exchanges = plan.collect {
      case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => 1
    }.sum
    assert(exchanges == 0, s"expected ZERO exchanges, got $exchanges:\n$p")
    val scans = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.size == 2, s"expected 2 file scans, got ${scans.size}:\n$p")
    assert(scans.forall(f => f.relation.bucketSpec.isDefined && f.bucketedScan),
      s"a CDF input planned as a non-bucketed scan:\n$p")

    // answer equality vs the plain-store feed over the same versions
    Directory.save(v1.toDS(), dir, retain = 2)
    Directory.save(v2.toDS(), dir, retain = 2)
    val vs = Directory.versions(dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("dn"), col("change_type")).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    val got = rows(feed)
    assert(got == rows(Directory.changes(spark, dir, vs(1), vs.head)))
    // and the classification is the constructed one
    assert(got.count(_._2 == "insert") == 50)
    assert(got.count(_._2 == "delete") == 28)   // 7,14,...,196
    assert(got.count(_._2 == "update") == 35)   // %5==0 minus the 5 %35==0
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${ns}_v1")
      spark.sql(s"DROP TABLE IF EXISTS ${ns}_v2")
      Directory.deleteRecursively(new java.io.File(dir))
    }
  }
}
