package graft.etl

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** C3 — rename cascade: a benutzername change must rename the entry
  * (dn rebuilt from the new rdn, cn attribute updated, old dn gone),
  * keep all other attributes, enqueue old→new for ph15, and the
  * end-of-cycle ph15 pass must rename the twin there too.
  */
class RenameCascadeSpec extends AnyFunSuite {
  test("cn change renames in-place and propagates through the queue") {
    val spark = TestSpark.spark
    import spark.implicits._
    val pre = Directory.parseDump(spark, Fixture.twoTreeDump(spark))
    val users0 = EtlSchema
      .readUsersCsv(spark, s"${Fixture.dir}/initial_data.csv")
      .filter(!col("pk_uniqueid").isin(4731.0, 4732.0))
    val conf = EtlConf(baseDn = "ou=user,ou=ph08,o=BMUKK",
      cryptoIvHex = Some("0" * 32),
      ph15Dn = Some("ou=user,ou=ph15,o=BMUKK"))
    val snap0 = InitialLoad.run(pre, users0, conf).snapshot.localCheckpoint(true)

    // rename uid 4716: aywugo.tgggo.0 → renamed.tgggo.9
    val users = users0.withColumn("benutzername",
      when(col("pk_uniqueid") === 4716.0, "renamed.tgggo.9")
        .otherwise(col("benutzername"))).localCheckpoint(true)
    val ev = EtlSchema
      .readEventsCsv(spark, s"${Fixture.dir}/eventlog01.csv")
      .limit(1)
      .withColumn("table_key", lit("pk_uniqueid=4716"))
      .localCheckpoint(true)

    val r = Cdc.cycle(snap0, users, ev, conf.copy(etlTimestamp = "20170101000600Z"))

    // rename queue carries old → new
    val q = r.renames.collect().map(x => (x.getString(0), x.getString(1)))
    assert(q.toSeq == Seq(("aywugo.tgggo.0", "renamed.tgggo.9")))

    val snap = r.snapshot.localCheckpoint(true)
    val oldDn = "cn=aywugo.tgggo.0,ou=user,ou=ph08,o=BMUKK"
    val newDn = "cn=renamed.tgggo.9,ou=user,ou=ph08,o=BMUKK"
    assert(snap.filter(_.dn == oldDn).isEmpty, "old dn must be gone")
    val e = snap.filter(_.dn == newDn).collect()
    assert(e.length == 1, "renamed entry must exist")
    assert(e.head.attrs("cn") == Seq("renamed.tgggo.9"))
    assert(e.head.attrs("phonlineUniqueId") == Seq("4716"))
    assert(e.head.attrs("sn") == Seq("Tgggo"), "other attrs survive")
    assert(Directory.duplicateDns(snap).isEmpty)
    assert(r.eventUpdates.filter(col("new_status") =!= "S").count() == 0)

    // end-of-cycle ph15 pass (etl.py:762–781) renames the twin
    val ph15Conf = conf.copy(baseDn = "ou=user,ou=ph15,o=BMUKK", db = "ph15db")
    val snap2 = Cdc.updatePh15Cn(snap, users, r.renames, ph15Conf)
    // scale guard (Cdc.updatePh15Cn doc): the rename key set is bounded
    // by the cycle's event cap, and the semi join must rely on size-
    // estimated AUTO-broadcast — no unconditional hint anywhere in the
    // pass, so an unbounded misuse degrades to a shuffle join, not a
    // driver OOM
    val hinted = snap2.toDF.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hinted.isEmpty,
      "updatePh15Cn must not carry an unconditional broadcast hint")
    assert(snap2.filter(_.dn == "cn=renamed.tgggo.9,ou=user,ou=ph15,o=BMUKK")
      .count() == 1)
    assert(snap2.filter(_.dn == "cn=aywugo.tgggo.0,ou=user,ou=ph15,o=BMUKK")
      .isEmpty)
  }
}
