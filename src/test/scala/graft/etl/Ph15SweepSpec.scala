package graft.etl

import org.scalatest.funsuite.AnyFunSuite

/** J7 — `SyncEngine.ph15Sweep`, the cross-tree sweep that a CDC chunk and
  * q_j7_ph15_sweep run, as a table of entries, victim cns and the dns it
  * deletes.
  */
class Ph15SweepSpec extends AnyFunSuite {
  test("J7 — a victim's ph15 twin goes only when it is the cn's one live entry") {
    val conf = EtlConf(baseDn = Fixture.ph08)
    val (ph08, ph15) = (Fixture.ph08, conf.dn15)
    val live = Map("cn" -> Seq("a"))
    val deleted = live + ("idnDeleted" -> Seq("TRUE"))
    val twin = s"cn=a,$ph15"
    // (why, entries, victim cns, dns deleted)
    val table = Seq(
      ("one live match, the ph15 twin", Seq(s"cn=a,$ph08" -> deleted, twin -> live),
        Seq("a"), Seq(twin)),
      ("two live matches", Seq(twin -> live, s"cn=a,$ph08" -> live), Seq("a"), Nil),
      ("an account-status attribute", Seq(s"cn=a,$ph08" -> deleted,
        twin -> (live + (EtlSchema.accStatus.head -> Seq("OK")))), Seq("a"), Nil),
      ("the one live match is outside ph15", Seq(s"cn=a,$ph08" -> live, twin -> deleted),
        Seq("a"), Nil),
      ("soft-deleted entries are not live", Seq(s"cn=a,$ph08" -> deleted,
        s"cn=a,ou=user,ou=ph09,o=BMUKK" -> deleted, twin -> live), Seq("a"), Seq(twin)),
      ("not a victim's cn", Seq(s"cn=a,$ph08" -> deleted, twin -> live), Seq("b"), Nil))
    for ((why, entries, victims, gone) <- table)
      assert(SyncEngine.ph15Sweep(entries, victims, conf) == gone, why)
  }
}
