package graft.etl

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import Directory.Entry

/** C8/P4 paths the golden scenarios never reach: required-field skip
  * guards, the uid-ambiguity error, and the 10-attempt retry ceiling.
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
}
