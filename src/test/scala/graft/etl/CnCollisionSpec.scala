package graft.etl

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Two new rows sharing a benutzername in one batch must not produce
  * two entries with the same dn (the reference processes sequentially
  * and the second becomes an update; the set-based merge collapses to
  * one deterministic winner — highest uid).
  */
class CnCollisionSpec extends AnyFunSuite {
  test("same-cn rows in one batch yield exactly one entry") {
    val spark = TestSpark.spark
    import spark.implicits._
    val base = EtlSchema
      .readUsersCsv(spark, s"${Fixture.dir}/initial_data.csv")
      .limit(1)
    // forge two users with the same benutzername, different uids
    val u1 = base.withColumn("benutzername", lit("clash.user"))
      .withColumn("pk_uniqueid", lit(90001.0))
      .withColumn("ident_nr", lit(-1.0))
    val u2 = base.withColumn("benutzername", lit("clash.user"))
      .withColumn("pk_uniqueid", lit(90002.0))
      .withColumn("ident_nr", lit(-2.0))
    val users = u1.unionByName(u2)
    val conf = EtlConf(baseDn = "ou=user,ou=ph08,o=BMUKK",
      cryptoIvHex = Some("0" * 32))
    val empty = spark.emptyDataset[Directory.Entry]
    val r = InitialLoad.run(empty, users, conf)
    assert(Directory.duplicateDns(r.snapshot).isEmpty,
      "merge must never emit duplicate dns")
    val winner = r.snapshot
      .filter(_.dn == "cn=clash.user,ou=user,ou=ph08,o=BMUKK").collect()
    assert(winner.length == 1)
    assert(winner.head.attrs("phonlineUniqueId") == Seq("90002"),
      "highest uid wins deterministically")
  }

  test("golden snapshots satisfy the dn-uniqueness invariant") {
    val spark = TestSpark.spark
    val snap = Directory.parseDump(spark, TestSpark.golden("ldapII.txt"))
    assert(Directory.duplicateDns(snap).isEmpty)
  }
}
