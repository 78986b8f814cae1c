package graft.etl

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import Directory.Entry

/** C9 — immediate ph15 write-through (etl.py:1112–1165): when a CDC
  * cycle on a non-ph15 instance changes vorname/nachname/
  * emailadresse_st/passwort, the ph15 twin entry (same cn) is patched
  * immediately; other changed columns are not.
  */
class Ph15WritethroughSpec extends AnyFunSuite {
  test("name, password and student-email changes propagate to ph15") {
    val spark = TestSpark.spark
    import spark.implicits._
    val pre = Directory.parseDump(spark, Fixture.twoTreeDump(spark))
    val users0 = EtlSchema
      .readUsersCsv(spark, s"${Fixture.dir}/initial_data.csv")
    val conf = EtlConf(baseDn = "ou=user,ou=ph08,o=BMUKK",
      cryptoIvHex = Some("0" * 32),
      ph15Dn = Some("ou=user,ou=ph15,o=BMUKK"))
    val snap0 = InitialLoad.run(pre, users0, conf).snapshot.localCheckpoint(true)

    // scenario 04: uid 4713 changes sn (Rkbe→Jrpwk), password and email
    val cs = EtlSchema.readUsersCsv(spark, s"${Fixture.dir}/changeset04.csv")
    val users = users0
      .join(cs.select("pk_uniqueid"), Seq("pk_uniqueid"), "left_anti")
      .unionByName(cs)
    val events = EtlSchema.readEventsCsv(spark,
      s"${Fixture.dir}/eventlog04.csv")
    val r = Cdc.cycle(snap0, users, events,
      conf.copy(etlTimestamp = "20170101000200Z"))
    val dn15 = "cn=rtub.rkbe.2,ou=user,ou=ph15,o=BMUKK"
    val e15 = r.snapshot.filter(_.dn == dn15).collect()
    assert(e15.length == 1)
    val attrs = e15.head.attrs
    assert(attrs("sn") == Seq("Jrpwk"), "sn must be written through")
    assert(attrs("idnDistributionPassword") ==
      Seq(Aes.encryptHex("ITkSfPh", conf.aesKey, conf.cryptoIvHex)),
      "password must be written through")
    assert(attrs("phonlineEmailStudent") == Seq("Uo biu@stud.ph-noe.ac.at"),
      "student email IS in the write-through set (etl.py:338), even " +
        "though the normal ph15 sync excludes it")
    // and the ph08 entry itself got the full update
    val e08 = r.snapshot
      .filter(_.dn == "cn=rtub.rkbe.2,ou=user,ou=ph08,o=BMUKK").head()
    assert(e08.attrs("sn") == Seq("Jrpwk"))
    assert(e08.attrs("phonlineEmailStudent") == Seq("Uo biu@stud.ph-noe.ac.at"))
  }
}
