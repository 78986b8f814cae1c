package graft.etl

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** C3 — rename cascade: a benutzername change must rename the entry
  * (dn rebuilt from the new rdn, cn attribute updated, old dn gone),
  * keep all other attributes, enqueue old→new for ph15, and the
  * end-of-cycle ph15 pass must rename the twin there too, in one chunk
  * or several, with no shuffle.
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

    // rename uid 4716: aywugo.tgggo.0 → renamed.tgggo.9, and uid 4717:
    // joerak.wuhel.4 → renamed.wuhel.8
    val users = users0.withColumn("benutzername",
      when(col("pk_uniqueid") === 4716.0, "renamed.tgggo.9")
        .when(col("pk_uniqueid") === 4717.0, "renamed.wuhel.8")
        .otherwise(col("benutzername"))).localCheckpoint(true)
    val ev0 = EtlSchema
      .readEventsCsv(spark, s"${Fixture.dir}/eventlog01.csv")
      .limit(1)
      .localCheckpoint(true)
    val ev = ev0.withColumn("table_key", lit("pk_uniqueid=4716"))
      .unionByName(ev0.withColumn("record_id", col("record_id") + 1)
        .withColumn("table_key", lit("pk_uniqueid=4717")))
      .localCheckpoint(true)

    val r = Cdc.cycle(snap0, users, ev, conf.copy(etlTimestamp = "20170101000600Z"))

    // rename queue carries old → new
    assert(r.renames.sorted == Seq(("aywugo.tgggo.0", "renamed.tgggo.9"),
      ("joerak.wuhel.4", "renamed.wuhel.8")))

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

    // end-of-cycle ph15 pass (etl.py:762–781) renames the twins
    val ph15Conf = conf.copy(baseDn = "ou=user,ou=ph15,o=BMUKK", db = "ph15db")
    val snap2 = Cdc.updatePh15Cn(snap, users, r.renames, ph15Conf)
    for ((o, n) <- r.renames) {
      assert(snap2.filter(_.dn == s"cn=$n,ou=user,ou=ph15,o=BMUKK").count() == 1)
      assert(snap2.filter(_.dn == s"cn=$o,ou=user,ou=ph15,o=BMUKK").isEmpty)
    }

    // scale guard: over a key bound of 2, the two renames run as two
    // chunks, each on the snapshot the one before left, and give the
    // same tree
    assert(Cdc.renameChunks(r.renames, 2).size == 2)
    val chunked = Cdc.updatePh15Cn(snap, users, r.renames, ph15Conf, keyBound = 2)
    assert(Directory.dump(chunked) == Directory.dump(snap2))

    // a one-rename queue: at most 2 jobs (the user rows and the entries
    // they touch, collected) and no shuffle before the pass returns
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val shuffles = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (org.apache.spark.ShuffleStage(e.stageInfo)) shuffles.incrementAndGet()
    }
    org.apache.spark.BusDrain(sc)
    sc.addSparkListener(listener)
    try {
      Cdc.updatePh15Cn(snap, users, r.renames.take(1), ph15Conf)
      org.apache.spark.BusDrain(sc)
    } finally sc.removeSparkListener(listener)
    info(s"one-rename pass: ${jobs.get} jobs, ${shuffles.get} shuffle stages")
    assert(jobs.get <= 2 && shuffles.get == 0, s"${jobs.get} jobs, ${shuffles.get} shuffles")
  }
}
