package graft.etl

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import Directory.Entry

/** Regressions for defects found in review: merge fan-out on
  * duplicate-uid batches, null-blind event validation, duplicate-uid
  * warnings after cn-dedup, and email-sync duplication across source
  * trees.
  */
class ReviewRegressionSpec extends AnyFunSuite {

  private def baseUsers = {
    val spark = TestSpark.spark
    EtlSchema.readUsersCsv(spark, s"${Fixture.dir}/initial_data.csv")
  }
  private val base = "ou=user,ou=ph08,o=BMUKK"
  private val conf = EtlConf(baseDn = base, cryptoIvHex = Some("0" * 32))

  test("two same-uid different-cn rows consume one entry without fan-out") {
    val spark = TestSpark.spark
    import spark.implicits._
    // one existing entry with uid 555 and a cn matching neither row
    val pre = spark.createDataset(
      Directory.bootstrapEntries(Seq(base)) :+ Entry(s"cn=oldname,$base", Map(
        "cn" -> Seq("oldname"), "phonlineUniqueId" -> Seq("555"),
        "objectClass" -> Seq("inetOrgPerson", "phonlinePerson", "idnSyncstat"))))
    val u1 = baseUsers.limit(1)
      .withColumn("pk_uniqueid", lit(555.0))
      .withColumn("benutzername", lit("alice"))
    val u2 = baseUsers.limit(1)
      .withColumn("pk_uniqueid", lit(555.0))
      .withColumn("benutzername", lit("bob"))
    val rows = SyncEngine.toNewRows(u1.unionByName(u2))
      .withColumn("is_new", lit(false))
    val (snap, _) = SyncEngine.merge(pre, rows, conf)
    val matches = snap.filter(_.attrs.get("phonlineUniqueId")
      .exists(_ == Seq("555"))).collect()
    assert(matches.length == 1, s"entry fanned out: ${matches.map(_.dn).toSeq}")
    assert(Directory.duplicateDns(snap).isEmpty)
  }

  test("NULL event fields fail validation with status F") {
    val spark = TestSpark.spark
    import spark.implicits._
    val pre = spark.createDataset(Directory.bootstrapEntries(Seq(base)))
    val nullRow = (1.0, null.asInstanceOf[String], "N  ",
      null.asInstanceOf[java.lang.Double],
      java.sql.Timestamp.valueOf("2017-07-11 10:00:00"), "T",
      null.asInstanceOf[String], null.asInstanceOf[String],
      null.asInstanceOf[String], null.asInstanceOf[String],
      null.asInstanceOf[java.lang.Double], "N  ", "N  ",
      null.asInstanceOf[java.sql.Timestamp], null.asInstanceOf[String],
      1.0, "N  ")
    val elog = spark.createDataFrame(Seq(nullRow))
      .toDF(EtlSchema.eventFields: _*)
    val r = Cdc.cycle(pre, baseUsers, elog, conf)
    val v = r.eventUpdates.collect()
    assert(v.length == 1 && v.head.getString(1) == "F", v.toSeq.toString)
    assert(v.head.getString(2).startsWith("Invalid event_type"), v.toSeq.toString)
    // the reference never stamps read_time for validation failures
    assert(r.eventlog.filter(col("record_id") === 1.0)
      .head.getAs[java.sql.Timestamp]("read_time") == null)
  }

  test("duplicate user rows do not fan out the ph15 twin via write-through") {
    val spark = TestSpark.spark
    import spark.implicits._
    val confWt = conf.copy(ph15Dn = Some("ou=user,ou=ph15,o=BMUKK"))
    val pre = spark.createDataset(
      Directory.bootstrapEntries(Seq(base, "ou=user,ou=ph15,o=BMUKK")) ++ Seq(
        Entry(s"cn=wtu,$base", Map(
          "cn" -> Seq("wtu"), "phonlineUniqueId" -> Seq("888"),
          "givenName" -> Seq("Old"),
          "objectClass" -> Seq("inetOrgPerson", "phonlinePerson", "idnSyncstat"))),
        Entry("cn=wtu,ou=user,ou=ph15,o=BMUKK", Map(
          "cn" -> Seq("wtu"), "phonlineUniqueId" -> Seq("999"),
          "givenName" -> Seq("Old"),
          "objectClass" -> Seq("inetOrgPerson", "phonlinePerson", "idnSyncstat")))))
    val u = baseUsers.limit(1)
      .withColumn("pk_uniqueid", lit(888.0))
      .withColumn("benutzername", lit("wtu"))
      .withColumn("vorname", lit("Newname"))
    val users = u.unionByName(u) // duplicate rows, same cn/uid
    val elog = EtlSchema
      .readEventsCsv(spark, s"${Fixture.dir}/eventlog01.csv")
      .limit(1)
      .withColumn("table_key", lit("pk_uniqueid=888"))
    val r = Cdc.cycle(pre, users, elog, confWt)
    assert(Directory.duplicateDns(r.snapshot).isEmpty,
      "write-through must not duplicate the ph15 dn")
    val twin = r.snapshot
      .filter(_.dn == "cn=wtu,ou=user,ou=ph15,o=BMUKK").collect()
    assert(twin.length == 1 && twin.head.attrs("givenName") == Seq("Newname"))
  }

  test("duplicate-uid warning survives same-cn rows (counted pre-dedup)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val pre = spark.createDataset(
      Directory.bootstrapEntries(Seq(base)) :+ Entry(s"cn=dupuser,$base", Map(
        "cn" -> Seq("dupuser"), "phonlineUniqueId" -> Seq("777"),
        "objectClass" -> Seq("inetOrgPerson", "phonlinePerson", "idnSyncstat"))))
    val u = baseUsers.limit(1)
      .withColumn("pk_uniqueid", lit(777.0))
      .withColumn("benutzername", lit("dupuser"))
    val users = u.unionByName(u) // two identical rows, same cn, same uid
    val elog = EtlSchema
      .readEventsCsv(spark, s"${Fixture.dir}/eventlog01.csv")
      .limit(1)
      .withColumn("table_key", lit("pk_uniqueid=777"))
    val r = Cdc.cycle(pre, users, elog, conf)
    val v = r.eventUpdates.head()
    assert(v.getString(1) == "W", v.toString)
    assert(v.getString(2).contains("Duplicate pk_uniqueid: 777"), v.toString)
  }

  test("read-only HWM cut never skips an earlier-time higher-id event") {
    val spark = TestSpark.spark
    import spark.implicits._
    val pre = spark.createDataset(Directory.bootstrapEntries(Seq(base)))
    val uids = baseUsers.select("pk_uniqueid").as[Double].take(2)
    // event A: earliest time, HIGH record_id; event B: later time, low id.
    // A record_id-ordered cut with maxRecords=1 would process B and
    // advance the HWM past A, dropping it forever.
    val elog0 = EtlSchema
      .readEventsCsv(spark, s"${Fixture.dir}/eventlog01.csv").limit(1)
    def ev(rid: Double, uid: Double, t: String) = elog0
      .withColumn("record_id", lit(rid))
      .withColumn("table_key", concat(lit("pk_uniqueid="), lit(uid.toLong)))
      .withColumn("event_time", lit(java.sql.Timestamp.valueOf(t)))
    val elog = ev(200.0, uids(0), "2017-07-11 10:00:00")
      .unionByName(ev(1.0, uids(1), "2017-07-11 11:00:00"))
      .localCheckpoint(true)
    val hwm0 = java.sql.Timestamp.valueOf("2017-01-01 00:00:00")
    val (r1, hwm1) = Cdc.cycleReadOnly(pre, baseUsers, elog, conf, hwm0,
      maxRecords = 1)
    assert(hwm1 == java.sql.Timestamp.valueOf("2017-07-11 10:00:00"),
      s"HWM must advance to the earliest-time event, got $hwm1")
    assert(r1.eventUpdates.select("record_id").as[Double].collect().toSeq
      == Seq(200.0))
    val (r2, hwm2) = Cdc.cycleReadOnly(r1.snapshot.localCheckpoint(true),
      baseUsers, elog, conf, hwm1, maxRecords = 1)
    assert(hwm2 == java.sql.Timestamp.valueOf("2017-07-11 11:00:00"))
    assert(r2.eventUpdates.select("record_id").as[Double].collect().toSeq
      == Seq(1.0), "the earlier-time event must still be processed")
  }

  test("case-only cn change takes the rename path, not the uid fallback") {
    val spark = TestSpark.spark
    import spark.implicits._
    val pre = spark.createDataset(
      Directory.bootstrapEntries(Seq(base)) :+ Entry(s"cn=CamelCase,$base", Map(
        "cn" -> Seq("CamelCase"), "phonlineUniqueId" -> Seq("666"),
        "objectClass" -> Seq("inetOrgPerson", "phonlinePerson", "idnSyncstat"))))
    val u = baseUsers.limit(1)
      .withColumn("pk_uniqueid", lit(666.0))
      .withColumn("benutzername", lit("camelcase"))
    val rows = SyncEngine.toNewRows(u).withColumn("is_new", lit(false))
    val (snap, mergeRows) = SyncEngine.merge(pre, rows, conf)
    val r = mergeRows.collect().head
    assert(r.renameOldCn == Some("CamelCase"),
      s"expected a rename (cn matched case-insensitively), got $r")
    val entries = snap.filter(_.attrs.get("phonlineUniqueId")
      .exists(_ == Seq("666"))).collect()
    assert(entries.length == 1, entries.map(_.dn).toSeq.toString)
    assert(entries.head.dn == s"cn=camelcase,$base")
    assert(Directory.duplicateDns(snap).isEmpty)
  }

  test("forceCreate turns J2's uid fallback off for new rows only") {
    val spark = TestSpark.spark
    import spark.implicits._
    // J2 (etl.py:945–970): a cn miss falls back to the uid "only if not
    // (new and force)"; the initial load's rows are all new
    val pre = spark.createDataset(
      Directory.bootstrapEntries(Seq(base)) :+ Entry(s"cn=oldname,$base", Map(
        "cn" -> Seq("oldname"), "phonlineUniqueId" -> Seq("321"),
        "objectClass" -> Seq("inetOrgPerson", "phonlinePerson", "idnSyncstat"))))
    // (user cn, forceCreate) → the cns under the base, each with uid 321,
    // and whether the load renamed the entry
    val table = Seq(
      ("newname", false) -> (Set("newname"), true),
      // an add beside the old entry; the sweep keeps the old one, since
      // its uid is still in the load
      ("newname", true) -> (Set("oldname", "newname"), false),
      // a cn match is no fallback: the flag does not change it
      ("oldname", false) -> (Set("oldname"), false),
      ("oldname", true) -> (Set("oldname"), false))
    for (((cn, force), (cns, renamed)) <- table) {
      val u = baseUsers.limit(1)
        .withColumn("pk_uniqueid", lit(321.0))
        .withColumn("benutzername", lit(cn))
      val r = InitialLoad.run(pre, u, conf.copy(forceCreate = force))
      val under = r.snapshot.collect().filter(e => Directory.parentDn(e.dn) == base)
      assert(under.map(e => Directory.rdnValue(e.dn)).toSet == cns, (cn, force))
      assert(under.forall(_.attrs("phonlineUniqueId") == Seq("321")), (cn, force))
      assert(r.outcomes.collect().exists(_.renameOldCn.isDefined) == renamed, (cn, force))
    }
  }

  test("write-through reaches a case-divergent ph15 twin") {
    val spark = TestSpark.spark
    import spark.implicits._
    val confWt = conf.copy(ph15Dn = Some("ou=user,ou=ph15,o=BMUKK"))
    // source benutzername is lower-case; the ph15 twin dn still carries
    // the old camel-case cn (its rename is queued but not yet applied)
    val pre = spark.createDataset(
      Directory.bootstrapEntries(Seq(base, "ou=user,ou=ph15,o=BMUKK")) ++ Seq(
        Entry(s"cn=wtcase,$base", Map(
          "cn" -> Seq("wtcase"), "phonlineUniqueId" -> Seq("444"),
          "givenName" -> Seq("Old"),
          "objectClass" -> Seq("inetOrgPerson", "phonlinePerson", "idnSyncstat"))),
        Entry("cn=WtCase,ou=user,ou=ph15,o=BMUKK", Map(
          "cn" -> Seq("WtCase"), "phonlineUniqueId" -> Seq("444"),
          "givenName" -> Seq("Old"),
          "objectClass" -> Seq("inetOrgPerson", "phonlinePerson", "idnSyncstat")))))
    val u = baseUsers.limit(1)
      .withColumn("pk_uniqueid", lit(444.0))
      .withColumn("benutzername", lit("wtcase"))
      .withColumn("vorname", lit("Fresh"))
    val elog = EtlSchema
      .readEventsCsv(spark, s"${Fixture.dir}/eventlog01.csv")
      .limit(1)
      .withColumn("table_key", lit("pk_uniqueid=444"))
    val r = Cdc.cycle(pre, u, elog, confWt)
    val twin = r.snapshot
      .filter(_.dn == "cn=WtCase,ou=user,ou=ph15,o=BMUKK").collect()
    assert(twin.length == 1, "twin dn must be untouched by write-through")
    assert(twin.head.attrs("givenName") == Seq("Fresh"),
      s"case-divergent twin missed the write-through: ${twin.head.attrs}")
  }

  test("snapshot save versions monotonically and prunes superseded dirs") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-snap").toString
    val s1 = spark.createDataset(Seq(Entry("cn=a,o=X", Map("cn" -> Seq("a")))))
    Directory.save(s1, dir)
    Directory.save(s1, dir)
    Directory.save(s1, dir)
    def versions = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v")).map(_.getName)
    assert(versions.length <= 2,
      s"superseded versions must be pruned: ${versions.toSeq}")
    val nums = versions.map(v => "^v(\\d+)".r.findFirstMatchIn(v).get.group(1).toInt)
    assert(nums.max == 3, s"versions must be monotonic: ${versions.toSeq}")
    assert(Directory.load(spark, dir).collect().toSeq == s1.collect().toSeq)
  }

  test("insert onto an entry with a different uid warns the uid mismatch") {
    val spark = TestSpark.spark
    import spark.implicits._
    // entry cn-matches the incoming row but carries a different uid:
    // the reference overwrites "should be new" with the mismatch text
    val pre = spark.createDataset(
      Directory.bootstrapEntries(Seq(base)) :+ Entry(s"cn=mix,$base", Map(
        "cn" -> Seq("mix"), "phonlineUniqueId" -> Seq("7"),
        "objectClass" -> Seq("inetOrgPerson", "phonlinePerson", "idnSyncstat"))))
    val u = baseUsers.limit(1)
      .withColumn("pk_uniqueid", lit(9.0))
      .withColumn("benutzername", lit("mix"))
    val elog = EtlSchema
      .readEventsCsv(spark, s"${Fixture.dir}/eventlog01.csv")
      .limit(1)
      .withColumn("event_type", lit(5.0)) // insert
      .withColumn("table_key", lit("pk_uniqueid=9"))
    val r = Cdc.cycle(pre, u, elog, conf)
    val v = r.eventUpdates.head()
    assert(v.getString(1) == "W", v.toString)
    assert(v.getString(2).contains("different phonlineUniqueId: Got 7, expected 9"),
      s"expected the uid-mismatch text to win: ${v.getString(2)}")
  }

  test("per-row kernel errors join newline-separated, none lost") {
    val spark = TestSpark.spark
    import spark.implicits._
    // uid 555 exists twice in the directory → both source rows (cn
    // misses) hit the uid-ambiguity error; both messages must survive
    val pre = spark.createDataset(
      Directory.bootstrapEntries(Seq(base)) ++ Seq(
        Entry(s"cn=dup1,$base", Map(
          "cn" -> Seq("dup1"), "phonlineUniqueId" -> Seq("555"),
          "objectClass" -> Seq("inetOrgPerson", "phonlinePerson", "idnSyncstat"))),
        Entry(s"cn=dup2,$base", Map(
          "cn" -> Seq("dup2"), "phonlineUniqueId" -> Seq("555"),
          "objectClass" -> Seq("inetOrgPerson", "phonlinePerson", "idnSyncstat")))))
    val u1 = baseUsers.limit(1)
      .withColumn("pk_uniqueid", lit(555.0))
      .withColumn("benutzername", lit("anna"))
    val u2 = baseUsers.limit(1)
      .withColumn("pk_uniqueid", lit(555.0))
      .withColumn("benutzername", lit("bob"))
    val elog = EtlSchema
      .readEventsCsv(spark, s"${Fixture.dir}/eventlog01.csv")
      .limit(1)
      .withColumn("table_key", lit("pk_uniqueid=555"))
    val r = Cdc.cycle(pre, u1.unionByName(u2), elog, conf)
    val v = r.eventUpdates.head()
    assert(v.getString(1) == "E", v.toString)
    val msg = v.getString(2)
    assert(msg.contains("Non-matching cn: anna") &&
      msg.contains("Non-matching cn: bob") && msg.contains("\n"),
      s"both rows' diagnostics must be newline-joined: $msg")
  }

  test("status writeback re-pads to CHAR(3) like the source database") {
    val spark = TestSpark.spark
    import spark.implicits._
    val pre = spark.createDataset(Directory.bootstrapEntries(Seq(base)))
    val uid = baseUsers.groupBy("pk_uniqueid").count()
      .filter(col("count") === 1)
      .agg(min("pk_uniqueid")).as[Double].head()
    val elog = EtlSchema
      .readEventsCsv(spark, s"${Fixture.dir}/eventlog01.csv")
      .limit(1)
      .withColumn("event_type", lit(5.0)) // clean insert → S
      .withColumn("table_key", concat(lit("pk_uniqueid="), lit(uid.toLong)))
    val r = Cdc.cycle(pre, baseUsers, elog, conf)
    val st = r.eventlog.head().getAs[String]("status")
    assert(st == "S  ", s"status must be CHAR(3)-padded, got '$st'")
  }

  test("email sync with two source trees does not duplicate the ph15 entry") {
    val spark = TestSpark.spark
    import spark.implicits._
    def user(tree: String, mail: String) =
      Entry(s"cn=multi,ou=user,ou=$tree,o=BMUKK", Map(
        "cn" -> Seq("multi"), "phonlineEmailStudent" -> Seq(mail),
        "phonlineStudentAktiv" -> Seq("J  ")))
    val snap = spark.createDataset(Seq(
      user("ph01", "a@x.org"), user("ph02", "b@x.org"),
      Entry("cn=multi,ou=user,ou=ph15,o=BMUKK", Map(
        "cn" -> Seq("multi"), "phonlineEmailStudent" -> Seq("old@x.org"),
        "phonlineStudentAktiv" -> Seq("J  ")))))
    val out = SyncEngine.ph15EmailSync(snap, Seq(
      "ou=user,ou=ph01,o=BMUKK", "ou=user,ou=ph02,o=BMUKK",
      "ou=user,ou=ph15,o=BMUKK"))
    assert(Directory.duplicateDns(out).isEmpty)
    val e15 = out.filter(_.dn == "cn=multi,ou=user,ou=ph15,o=BMUKK").collect()
    assert(e15.length == 1)
    assert(e15.head.attrs("phonlineEmailStudent") == Seq("b@x.org"))
  }
}
