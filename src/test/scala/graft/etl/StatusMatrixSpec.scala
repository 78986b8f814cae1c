package graft.etl

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import Directory.Entry

/** C8/P4 paths the golden scenarios never reach: required-field skip
  * guards, the uid-ambiguity error, the 10-attempt retry ceiling, and
  * the record_id reconstruction of a uid's later events against what
  * one-event cycles give.
  */
class StatusMatrixSpec extends AnyFunSuite {

  test("P4 — rows without benutzername/pk_uniqueid are skipped, not applied") {
    val spark = TestSpark.spark
    import spark.implicits._
    val users = EtlSchema
      .readUsersCsv(spark, s"${Fixture.dir}/initial_data.csv")
      .filter(col("ident_nr").isin(-880406.0, -912508.0)) // uids 1, 4713
      .withColumn("benutzername",
        when(col("ident_nr") === -912508.0, lit(null))
          .otherwise(col("benutzername")))
    val conf = EtlConf(baseDn = "ou=user,ou=ph08,o=BMUKK",
      cryptoIvHex = Some("0" * 32))
    val empty = spark.emptyDataset[Entry]
    val r = InitialLoad.run(empty, users, conf)
    val skipped = r.outcomes.filter(_.skipped.isDefined).collect()
    assert(skipped.length >= 1)
    assert(skipped.head.skipped.get.startsWith("Got User without benutzername"))
    // the skipped row must not have produced an entry
    assert(!r.snapshot.collect().exists(_.attrs.get("phonlineUniqueId")
      .exists(_ == Seq(skipped.head.srcUid))))
  }

  test("C8 — ambiguous uid match errors escalate E → F past 10 attempts") {
    val spark = TestSpark.spark
    import spark.implicits._
    // two directory entries share uid 777 with cns that match no DB row
    val base = "ou=user,ou=ph08,o=BMUKK"
    val mk = (cn: String) => Entry(s"cn=$cn,$base", Map(
      "cn" -> Seq(cn), "phonlineUniqueId" -> Seq("777"),
      "objectClass" -> Seq("inetOrgPerson", "phonlinePerson", "idnSyncstat")))
    val snap = spark.createDataset(
      Directory.bootstrapEntries(Seq(base)) ++ Seq(mk("ghost1"), mk("ghost2")))
    val users = EtlSchema
      .readUsersCsv(spark, s"${Fixture.dir}/initial_data.csv")
      .limit(1)
      .withColumn("pk_uniqueid", lit(777.0))
      .withColumn("benutzername", lit("newname"))
    val mkEvent = (rid: Double, attempt: Double) => (rid, "pk_uniqueid=777",
      "N  ", 6.0, java.sql.Timestamp.valueOf("2017-07-11 10:00:00"),
      "TEST", "benutzer_alle_dirxml_v", null.asInstanceOf[String],
      null.asInstanceOf[String], null.asInstanceOf[String],
      null.asInstanceOf[Double], "N  ", "N  ",
      null.asInstanceOf[java.sql.Timestamp], null.asInstanceOf[String],
      attempt, "N  ")
    val elog = spark.createDataFrame(Seq(
      mkEvent(1.0, 1.0),    // attempt 1 → E, attempt := 2
      mkEvent(2.0, 11.0)))  // attempt 11 → past ceiling → F
      .toDF(EtlSchema.eventFields: _*)

    val conf = EtlConf(baseDn = base, cryptoIvHex = Some("0" * 32))
    val r = Cdc.cycle(snap, users, elog, conf)
    val verdicts = r.eventUpdates
      .orderBy("record_id")
      .collect()
      .map(x => (x.getDouble(0), x.getString(1), x.getString(2),
        Option(x.get(3))))
    assert(verdicts(0)._2 == "E" && verdicts(0)._4 == Some(2.0))
    assert(verdicts(1)._2 == "F")
    assert(verdicts(0)._3.startsWith("Non-matching cn: newname"))
    // nothing was applied to either ghost entry
    assert(r.snapshot.filter(_.dn.contains("ghost")).collect()
      .forall(!_.attrs.contains("etlTimestamp")))
  }

  test("C8 — the verdict function's table, the retry ceiling at its edge") {
    val ev = Cdc.EventFacts(record_id = Some(1.0), uid = 7L,
      event_type = Some(6.0), attempt_now = 0, first_rid = Some(1.0),
      row_n = 1L, pre_matched = true, matched_dn = Some("cn=bob,ou=x"),
      result_dn = Some("cn=bob,ou=x"), kernel_error = None, kernel_warning = None)
    val found = "Found dn \"cn=bob,ou=x\" when sync says it should be new"
    val table: Seq[(String, Cdc.EventFacts, (String, Option[String], Option[Double]))] = Seq(
      ("clean update", ev, ("S", None, None)),
      ("error below the ceiling", ev.copy(kernel_error = Some("boom"),
        attempt_now = 10), ("E", Some("boom"), Some(11.0))),
      ("error past the ceiling", ev.copy(kernel_error = Some("boom"),
        attempt_now = 11), ("F", Some("boom"), Some(12.0))),
      ("an error needs a row", ev.copy(kernel_error = Some("boom"), row_n = 0),
        ("W", Some("Record 7 not existing in DB"), None)),
      ("delete of a uid with rows", ev.copy(event_type = Some(4.0)),
        ("W", Some("Record 7 existing in DB postgres"), None)),
      ("delete of a uid without rows", ev.copy(event_type = Some(4.0), row_n = 0),
        ("S", None, None)),
      ("duplicate rows, then the kernel warning",
        ev.copy(row_n = 2, kernel_warning = Some("kw")),
        ("W", Some("Duplicate pk_uniqueid: 7 in postgres\nkw"), None)),
      ("delete overwrites duplicate rows", ev.copy(row_n = 2, event_type = Some(4.0)),
        ("W", Some("Record 7 existing in DB postgres"), None)),
      ("kernel warning only on the uid's first event",
        ev.copy(record_id = Some(2.0), kernel_warning = Some("kw")), ("S", None, None)),
      ("no record_id is not first", ev.copy(record_id = None, kernel_warning = Some("kw")),
        ("S", None, None)),
      ("insert of a matched uid", ev.copy(event_type = Some(5.0)),
        ("W", Some(found), None)),
      ("insert: the kernel warning wins on the first event",
        ev.copy(event_type = Some(5.0), kernel_warning = Some("kw")),
        ("W", Some("kw"), None)),
      ("insert that adds", ev.copy(event_type = Some(5.0), pre_matched = false),
        ("S", None, None)),
      ("later insert finds the added entry", ev.copy(event_type = Some(5.0),
        pre_matched = false, record_id = Some(2.0)), ("W", Some(found), None)),
      ("first insert finds the entry before its rename", ev.copy(event_type = Some(5.0),
        result_dn = Some("cn=bobby,ou=x")), ("W", Some(found), None)),
      ("later insert finds the renamed entry", ev.copy(event_type = Some(5.0),
        record_id = Some(2.0), result_dn = Some("cn=bobby,ou=x")),
        ("W", Some(found.replace("cn=bob,", "cn=bobby,")), None)),
      ("rows that all lost the cn-dedup are still rows", ev.copy(pre_matched = false,
        matched_dn = None, result_dn = None), ("S", None, None)))
    table.foreach { case (label, facts, expect) =>
      assert(Cdc.verdict(facts, "postgres") == expect, s"row: $label")
    }
  }

  /** One cycle over `events` against the user rows `users` on a tree
    * that `load` inserted, set against two cycles capped at one event (the
    * reference's one-event-at-a-time order): the verdicts of both and of
    * the set-based reference, sorted by record_id, and both final dumps.
    */
  private def oneAndCapOne(load: Seq[org.apache.spark.sql.Row],
      users: Seq[org.apache.spark.sql.Row], events: Seq[(Double, Long, Double)])
      : (Seq[CappedCycleSpec.Verdict], Seq[CappedCycleSpec.Verdict],
         Seq[CappedCycleSpec.Verdict], String, String) = {
    import CappedCycleSpec._
    val spark = TestSpark.spark
    import spark.implicits._
    def usersDf(rs: Seq[org.apache.spark.sql.Row]) =
      spark.createDataFrame(java.util.List.of(rs: _*), EtlSchema.userSchema)
    def elog(es: Seq[(Double, Long, Double)]) = spark.createDataFrame(
      java.util.List.of(es.map { case (rid, uid, t) => eventRow(rid, s"pk_uniqueid=$uid", t) }: _*),
      EtlSchema.eventSchema)
    val boot = spark.createDataset(Directory.bootstrapEntries(Seq(Fixture.ph08)))
    val snap = Cdc.cycle(boot, usersDf(load),
      elog(load.zipWithIndex.map { case (r, i) => (i + 1.0, uidOf(r), 5.0) }), Fixture.conf)
      .snapshot.localCheckpoint(true)
    val (u, e) = (usersDf(users), elog(events))
    val readTime = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val one = Cdc.cycle(snap, u, e, Fixture.conf, 100, readTime)
    val ref = SetBasedReference.cycle(snap, u, e, Fixture.conf, 100, readTime)
    val c1 = Cdc.cycle(snap, u, e, Fixture.conf, 1, readTime)
    val c2 = Cdc.cycle(c1.snapshot.localCheckpoint(true), u, c1.eventlog.localCheckpoint(true),
      Fixture.conf, 1, readTime)
    (verdicts(one.eventUpdates), verdicts(ref.eventUpdates),
      (verdicts(c1.eventUpdates) ++ verdicts(c2.eventUpdates)).sortBy(_._1),
      Directory.dump(one.snapshot), Directory.dump(c2.snapshot))
  }

  private def fixtureRow(uid: Long, cn: String): org.apache.spark.sql.Row = {
    import CappedCycleSpec._
    val r = Fixture.users(TestSpark.spark).collect().filterNot(_.isNullAt(idx("pk_uniqueid")))
      .minBy(uidOf)
    set(r, "pk_uniqueid" -> uid.toDouble, "benutzername" -> cn)
  }

  test("C8 — a later insert after a rename finds the entry under its new dn") {
    // 4242 was loaded as aaa and its row is now bbb: the update renames
    // the entry, and the insert after it finds cn=bbb, as two one-event
    // cycles do
    val (one, ref, capOne, dumpOne, dumpCapOne) = oneAndCapOne(
      load = Seq(fixtureRow(4242, "aaa")), users = Seq(fixtureRow(4242, "bbb")),
      events = Seq((10.0, 4242L, 6.0), (11.0, 4242L, 5.0)))
    val want = Seq((10.0, "S", None, None), (11.0, "W",
      Some(s"""Found dn "cn=bbb,${Fixture.ph08}" when sync says it should be new"""), None))
    assert(capOne == want)
    assert(one == want)
    assert(ref == want)
    assert(dumpOne == dumpCapOne)
  }

  test("C8 — a uid whose rows lost the cn-dedup to another uid is in the DB") {
    // ccc is 4242's entry and row; the new uid 4243's row CCC wins the
    // case-insensitive cn-dedup, so 4242's row merges nothing, yet it
    // exists: 4242's update is S, as in two one-event cycles
    val (one, ref, capOne, dumpOne, dumpCapOne) = oneAndCapOne(
      load = Seq(fixtureRow(4242, "ccc")),
      users = Seq(fixtureRow(4242, "ccc"), fixtureRow(4243, "CCC")),
      events = Seq((10.0, 4242L, 6.0), (11.0, 4243L, 5.0)))
    val want = Seq((10.0, "S", None, None), (11.0, "W",
      Some(s"Found dn: cn=ccc,${Fixture.ph08} with different phonlineUniqueId: " +
        "Got 4242, expected 4243"), None))
    assert(capOne == want)
    assert(one == want)
    assert(ref == want)
    assert(dumpOne == dumpCapOne)
  }
}
