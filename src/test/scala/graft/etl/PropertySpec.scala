package graft.etl

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

/** Seeded generator sampling (no scalatest-scalacheck bridge in the
  * offline dependency set — drive Gen directly, deterministically).
  */
object GenSamples {
  def samples[T](g: Gen[T], n: Int): Seq[T] =
    Iterator.from(0)
      .map(i => g.apply(Gen.Parameters.default, org.scalacheck.rng.Seed(i.toLong)))
      .flatten.take(n).toSeq
}

/** Property tests from the SURVEY §5 rebuild plan: encryption
  * round-trips, MERGE idempotency (`apply(diff(a,b), a) == b` twice
  * over), and CDC replay safety (the at-least-once guarantee rests on
  * it).
  */
class AesPropertySpec extends AnyFunSuite {
  private val key = "changemetoo*****"
  test("encrypt/decrypt round-trips arbitrary strings under random IVs") {
    GenSamples.samples(Gen.asciiPrintableStr, 50).foreach { s =>
      assert(Aes.decryptHex(Aes.encryptHex(s, key, None), key) == s)
    }
    // unicode too
    Seq("géheim ß", "密码", "πß\n\t").foreach { s =>
      assert(Aes.decryptHex(Aes.encryptHex(s, key, None), key) == s)
    }
  }
  test("fixed-IV encryption is deterministic and IV-prefixed") {
    GenSamples.samples(Gen.alphaNumStr, 30).foreach { s =>
      val iv = "ab" * 16
      val a = Aes.encryptHex(s, key, Some(iv))
      assert(a == Aes.encryptHex(s, key, Some(iv)))
      assert(a.startsWith(iv))
    }
  }
}

class MergeIdempotencySpec extends AnyFunSuite {
  test("a second merge of the same rows is a universal no-op") {
    val spark = TestSpark.spark
    import spark.implicits._
    val pre = Directory.parseDump(spark, Fixture.twoTreeDump(spark))
    val users = EtlSchema
      .readUsersCsv(spark, s"${Fixture.dir}/initial_data.csv")
    val conf = EtlConf(baseDn = "ou=user,ou=ph08,o=BMUKK",
      cryptoIvHex = Some("0" * 32))
    val r1 = InitialLoad.run(pre, users, conf)
    val snap1 = r1.snapshot.localCheckpoint(true)
    val r2 = InitialLoad.run(snap1, users, conf)
    val changed = r2.outcomes.filter(_.changed).count()
    assert(changed == 0, s"second merge must change nothing, changed=$changed")
    assert(Directory.dump(r2.snapshot) == Directory.dump(snap1))
  }
}

class ReplaySafetySpec extends AnyFunSuite {
  test("replaying a processed CDC batch leaves the snapshot unchanged") {
    val spark = TestSpark.spark
    import spark.implicits._
    val pre = Directory.parseDump(spark, Fixture.twoTreeDump(spark))
    val users0 = EtlSchema
      .readUsersCsv(spark, s"${Fixture.dir}/initial_data.csv")
      .filter(!col("pk_uniqueid").isin(4731.0, 4732.0))
    val conf = EtlConf(baseDn = "ou=user,ou=ph08,o=BMUKK",
      cryptoIvHex = Some("0" * 32))
    val snap0 = InitialLoad.run(pre, users0, conf).snapshot.localCheckpoint(true)
    val cs = EtlSchema.readUsersCsv(spark, s"${Fixture.dir}/changeset02.csv")
    val users = users0
      .join(cs.select("pk_uniqueid"), Seq("pk_uniqueid"), "left_anti")
      .unionByName(cs).localCheckpoint(true)
    val events = EtlSchema.readEventsCsv(spark,
      s"${Fixture.dir}/eventlog02.csv").localCheckpoint(true)

    val c1 = Cdc.cycle(snap0, users, events,
      conf.copy(etlTimestamp = "20170101000400Z"))
    val s1 = c1.snapshot.localCheckpoint(true)
    // at-least-once delivery: the same events arrive again as 'N'
    val c2 = Cdc.cycle(s1, users, events,
      conf.copy(etlTimestamp = "20170101000500Z"))
    assert(Directory.dump(c2.snapshot) == Directory.dump(s1),
      "replay must be idempotent (password IV reuse included)")
    // and all replayed events are verdicted S
    assert(c2.eventUpdates.filter(col("new_status") =!= "S").count() == 0)
  }

  // The test above fixes the IV, so the stored IV always equals the
  // configured one and a compare that ignores the stored IV looks the
  // same. Under random IVs only the stored-IV compare (etl.py:989–992)
  // recognises an unchanged password.
  test("a replayed cycle under random IVs keeps the stored password ciphertext") {
    val spark = TestSpark.spark
    import spark.implicits._
    val conf = Fixture.conf.copy(cryptoIvHex = None)
    val users = Fixture.users(spark).filter(col("pk_uniqueid") === 4714.0)
      .localCheckpoint(true)
    val boot = spark.createDataset(Directory.bootstrapEntries(Seq(Fixture.ph08)))
    val snap0 = InitialLoad.run(boot, users, conf).snapshot.localCheckpoint(true)
    val events = EtlSchema.readEventsCsv(spark, s"${Fixture.dir}/eventlog01.csv")
    val r = Cdc.cycle(snap0, users, events, conf)
    assert(Directory.dump(r.snapshot) == Directory.dump(snap0),
      "an unchanged password must not be re-encrypted under a fresh IV")
    assert(r.eventUpdates.filter(col("new_status") =!= "S").count() == 0)
  }
}
