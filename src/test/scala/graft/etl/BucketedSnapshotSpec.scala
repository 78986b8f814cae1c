package graft.etl

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketed snapshot: the dn-keyed join that every MERGE cycle performs
  * must read the snapshot side without an Exchange (bucket layout) and
  * without a Sort (sortBy) — verified on the physical plan.
  */
class BucketedSnapshotSpec extends AnyFunSuite {
  test("dn join against the bucketed snapshot has no snapshot-side shuffle") {
    val spark = TestSpark.spark
    import spark.implicits._
    val snap = Directory.parseDump(spark, Fixture.twoTreeDump(spark))
    Directory.saveBucketed(snap, "snap_bucketed_t")
    val table = Directory.loadBucketed(spark, "snap_bucketed_t")
    assert(table.count() == snap.count())

    val changes = snap.limit(10).toDF
      .select(col("dn").as("dn0"), lit("X").as("payload"))

    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = table.toDF.join(changes, col("dn") === col("dn0"))
      joined.count()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      // exactly one Exchange (the changes side); the bucketed scan
      // feeds the join directly
      val exchanges = "(?m)^.*Exchange hashpartitioning".r
        .findAllIn(plan).size
      assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
      assert(plan.contains("SelectedBucketsCount") ||
        plan.contains("Bucketed: true"), plan)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS snap_bucketed_t")
    }
  }
}
