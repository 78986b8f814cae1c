package graft.etl

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Model check: drive the CDC engine through several cycles of random
  * (seeded) user-table mutations — attribute updates, cn renames, row
  * deletions — and assert the engine's core invariants after every
  * cycle, then the strongest one at the end: the incrementally-synced
  * snapshot is a FIXPOINT of a full resync (InitialLoad changes
  * nothing). That is the whole contract of CDC — arbitrary event
  * interleavings must land exactly where a from-scratch sync lands.
  */
class RandomizedSyncSpec extends AnyFunSuite {
  test("random mutation cycles converge to the full-resync fixpoint") {
    val spark = TestSpark.spark
    import spark.implicits._
    val base = "ou=user,ou=ph08,o=BMUKK"
    val conf = EtlConf(baseDn = base, cryptoIvHex = Some("0" * 32))
    val users0 = EtlSchema
      .readUsersCsv(spark, s"${Fixture.dir}/initial_data.csv")
      .filter(!col("pk_uniqueid").isin(4731.0, 4732.0))
      .localCheckpoint(true)
    val pre = spark.createDataset(Directory.bootstrapEntries(Seq(base)))
    var snap = InitialLoad.run(pre, users0, conf).snapshot.localCheckpoint(true)

    // deterministically partition the single-row uids into per-cycle
    // mutation targets (multi-row uids like the caesar trio stay fixed)
    val singleUids = users0.groupBy("pk_uniqueid").count()
      .filter(col("count") === 1)
      .select("pk_uniqueid").as[Double].collect().sorted
    val rnd = new scala.util.Random(42)
    val shuffled = rnd.shuffle(singleUids.toVector)

    val evTemplate = EtlSchema
      .readEventsCsv(spark, s"${Fixture.dir}/eventlog01.csv")
      .limit(1).localCheckpoint(true)
    def event(rid: Double, uid: Double, typ: Double) = evTemplate
      .withColumn("record_id", lit(rid))
      .withColumn("event_type", lit(typ))
      .withColumn("table_key", concat(lit("pk_uniqueid="), lit(uid.toLong)))

    var users = users0
    var cursor = 0
    (1 to 4).foreach { cycle =>
      val upd = shuffled.slice(cursor, cursor + 2)
      val ren = shuffled.slice(cursor + 2, cursor + 3)
      val del = shuffled.slice(cursor + 3, cursor + 4)
      cursor += 4
      users = users
        .withColumn("vorname",
          when(col("pk_uniqueid").isin(upd: _*), lit(s"Mut$cycle"))
            .otherwise(col("vorname")))
        .withColumn("benutzername",
          when(col("pk_uniqueid").isin(ren: _*),
            concat(trim(col("benutzername")), lit(s".r$cycle")))
            .otherwise(col("benutzername")))
        .filter(!col("pk_uniqueid").isin(del: _*))
        .localCheckpoint(true)
      val events = (upd ++ ren).zipWithIndex
        .map { case (u, i) => event(cycle * 100.0 + i, u, 6.0) }
        .++(del.zipWithIndex.map { case (u, i) =>
          event(cycle * 100.0 + 50 + i, u, 4.0) })
        .reduce(_ unionByName _)
      val r = Cdc.cycle(snap, users, events,
        conf.copy(etlTimestamp = f"rand$cycle%04dZ"))
      snap = r.snapshot.localCheckpoint(true)

      // per-cycle invariants: dn uniqueness, no failed events
      assert(Directory.duplicateDns(snap).isEmpty, s"cycle $cycle dn dup")
      val bad = r.eventUpdates
        .filter(!col("new_status").isin("S", "W")).collect()
      assert(bad.isEmpty, s"cycle $cycle unexpected verdicts: ${bad.toSeq}")
      // renamed entries exist under their new cn, old cn is gone
      ren.foreach { uid =>
        val hits = snap.filter(_.attrs.get("phonlineUniqueId")
          .exists(_ == Seq(uid.toLong.toString))).collect()
        assert(hits.length == 1 && hits.head.dn.contains(s".r$cycle,"),
          s"cycle $cycle rename of $uid: ${hits.map(_.dn).toSeq}")
      }
      // deleted uids are soft-delete-marked, not removed
      del.foreach { uid =>
        val hits = snap.filter(_.attrs.get("phonlineUniqueId")
          .exists(_ == Seq(uid.toLong.toString))).collect()
        assert(hits.length == 1 && hits.head.attrs.contains("idnDeleted"),
          s"cycle $cycle delete of $uid: ${hits.map(e => (e.dn, e.attrs.keySet)).toSeq}")
      }
    }

    // the fixpoint: a full resync against the final user table changes
    // NOTHING — incremental CDC landed exactly where from-scratch lands
    val resync = InitialLoad.run(snap, users, conf)
    val changed = resync.outcomes.filter(_.changed).count()
    assert(changed == 0,
      s"full resync must be a no-op after CDC, changed=$changed")
    assert(Directory.dump(resync.snapshot) == Directory.dump(snap))
  }
}
