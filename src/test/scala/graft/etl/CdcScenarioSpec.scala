package graft.etl

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import Directory.Entry

/** The reference's own end-to-end regression (test-compare:11–22): after
  * the golden initial load, apply changeset+eventlog scenarios 01–08 and
  * require the byte-identical ldapNN.txt dump after each cycle.
  */
class CdcScenarioSpec extends AnyFunSuite {

  private def upsert(db: DataFrame, cs: DataFrame): DataFrame = {
    // testdriver.update_data: full-row update per matching pk_uniqueid
    // (row count preserved), insert when absent
    val kept = db.join(cs.select("pk_uniqueid"), Seq("pk_uniqueid"), "left_anti")
    val replaced = db.select("pk_uniqueid")
      .join(cs, Seq("pk_uniqueid"))
    val inserted = cs.join(db.select("pk_uniqueid"), Seq("pk_uniqueid"), "left_anti")
    val cols = db.columns.toSeq
    kept.select(cols.map(col): _*)
      .unionByName(replaced.select(cols.map(col): _*))
      .unionByName(inserted.select(cols.map(col): _*))
  }

  private def dumpSubtree(snap: org.apache.spark.sql.Dataset[Entry],
      base: String): String = {
    import snap.sparkSession.implicits._
    Directory.dump(snap.filter(e =>
      e.dn == base || e.dn.endsWith("," + base)))
  }

  /** Reference-derived per-event verdict matrix (etl.py:689–718): a
    * processed event is S unless a warning fired (W) or the kernel
    * errored (E/F). Scenarios 01–06 and 08 sync rows that exist → all
    * S. Scenario 07's DB row is deleted before the cycle, so its two
    * update events warn "not existing" (etl.py:684–688) while the
    * delete event itself runs clean.
    */
  private val expectedVerdicts: Map[String, Map[Long, (String, Option[String])]] = {
    def allS(ids: Long*) = ids.map(_ -> ("S", None: Option[String])).toMap
    Map(
      "01" -> allS(1000003330127L, 1000003330129L, 1000003330130L,
        1000003330131L),
      "02" -> allS(1000003330132L, 1000003330133L),
      "03" -> allS(398530L, 1000003330134L, 1000003330135L, 1000003330136L),
      "04" -> allS(1000003330138L),
      "05" -> allS(1000003330147L, 1000003330148L),
      "06" -> allS(1000003330149L, 1000003330150L, 1000003330151L,
        1000003330152L, 1000003330153L, 1000003330154L),
      "07" -> Map(
        1000003330155L -> ("W", Some("Record 4715 not existing in DB")),
        1000003330157L -> ("W", Some("Record 4715 not existing in DB")),
        1000003330159L -> ("S", None)),
      "08" -> allS(1000003330166L))
  }

  test("CDC scenarios 01–08 reproduce the golden dumps") {
    val spark = TestSpark.spark
    import spark.implicits._

    // step 0: golden initial load (verified in InitialLoadGoldenSpec)
    val pre = Directory.parseDump(spark, TestSpark.golden("ldapII.txt"))
    var db = EtlSchema
      .readUsersCsv(spark, s"${TestSpark.refData}/initial_data.csv")
      .filter(!col("pk_uniqueid").isin(4731.0, 4732.0))
      .localCheckpoint(true)
    val conf0 = EtlConf(baseDn = "ou=user,ou=ph08,o=BMUKK",
      cryptoIvHex = Some("0" * 32), etlTimestamp = "20170101000000Z")
    var snap = InitialLoad.run(pre, db, conf0).snapshot.localCheckpoint(true)
    var elog = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      EtlSchema.eventSchema)

    for ((nn, i) <- Seq("01", "02", "03", "04", "05", "06", "07", "08").zipWithIndex) {
      // set_etd_done.py -U 4715 at each loop head (test-compare:13)
      snap = SyncEngine.setEtdDone(snap, Some("4715"))

      val csPath = s"${TestSpark.refData}/changeset$nn.csv"
      val cs = EtlSchema.readUsersCsv(spark, csPath)
      if (!cs.isEmpty) db = upsert(db, cs)
      val events = EtlSchema.readEventsCsv(spark,
        s"${TestSpark.refData}/eventlog$nn.csv")
      val delUids = events.filter(col("event_type") === 4.0)
        .select(split(col("table_key"), "=").getItem(1).cast("double")
          .as("del_uid"))
      // truncate lineage each cycle — 8 chained MERGEs otherwise blow
      // up Catalyst plan rewriting (the stream runner checkpoints the
      // same way per micro-batch)
      db = db.join(delUids, col("pk_uniqueid") === col("del_uid"), "left_anti")
        .localCheckpoint(true)
      elog = elog.unionByName(events).localCheckpoint(true)

      val conf = conf0.copy(etlTimestamp = f"201701010001${i + 1}%02dZ")
      val r = Cdc.cycle(snap, db, elog, conf)
      // the set-based reference gives the same verdicts and directory
      val sb = SetBasedReference.cycle(snap, db, elog, conf, 100, new java.sql.Timestamp(0))
      val verdicts = (u: DataFrame) => u.select("record_id", "new_status",
        "new_error", "new_attempt").collect().toSeq.map(_.toString).sorted
      assert(verdicts(sb.eventUpdates) == verdicts(r.eventUpdates),
        s"scenario $nn: the set-based verdicts differ")
      assert(Directory.dump(sb.snapshot) == Directory.dump(r.snapshot),
        s"scenario $nn: the set-based directory differs")
      snap = r.snapshot.localCheckpoint(true)
      elog = r.eventlog.localCheckpoint(true)

      // no events may remain in 'N' (wait_for_sync)
      assert(elog.filter(rtrim(col("status")) === "N").count() == 0,
        s"scenario $nn left N events")

      // full per-event status matrix (C8): status AND message must match
      // the reference-derived expectation; attempts stay untouched and
      // read_time is stamped for every processed (non-F) event
      val got0 = r.eventUpdates.orderBy("record_id").collect().map { x =>
        x.getDouble(0).toLong ->
          ((x.getString(1), Option(x.getString(2)), Option(x.get(3)),
            Option(x.get(4))))
      }.toMap
      val want0 = expectedVerdicts(nn)
      assert(got0.keySet == want0.keySet,
        s"scenario $nn verdicted events ${got0.keySet} != ${want0.keySet}")
      want0.foreach { case (rid, (st, err)) =>
        val (gSt, gErr, gAttempt, gRead) = got0(rid)
        assert(gSt == st && gErr == err,
          s"scenario $nn event $rid: got ($gSt, $gErr), want ($st, $err)")
        assert(gAttempt.isEmpty, s"scenario $nn event $rid bumped attempt")
        assert(gRead.nonEmpty, s"scenario $nn event $rid missing read_time")
      }

      val got = dumpSubtree(snap, "ou=ph08,o=BMUKK")
      val want = TestSpark.golden(s"ldap$nn.txt")
      if (got != want) {
        val diffs = got.split("\n").zipAll(want.split("\n"), "<miss>", "<miss>")
          .filter { case (a, b) => a != b }.take(2)
        fail(s"scenario $nn mismatch:\n" + diffs.map {
          case (a, b) => s"got : $a\nwant: $b"
        }.mkString("\n"))
      }

      // set_etd_done.py over all deleted entries (test-compare:21)
      snap = SyncEngine.setEtdDone(snap, None)
    }
  }
}
