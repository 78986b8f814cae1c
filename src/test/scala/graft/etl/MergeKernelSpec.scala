package graft.etl

import org.scalatest.funsuite.AnyFunSuite
import SyncEngine.{MatchIn, MergeRow}

/** The merge kernel (`SyncEngine.mergeOne`, the reference's sync_to_ldap,
  * etl.py:923–1110) against an expectation table: one hand-picked row per
  * guard and diff branch, with the outcome the reference gives it.
  */
class MergeKernelSpec extends AnyFunSuite {

  private val conf = EtlConf(baseDn = "ou=user,ou=ph08,o=BMUKK",
    cryptoIvHex = Some("ab" * 16), etlTimestamp = "20200101000000Z")
  // ph15 conf exercises the notSyncedPh15 field exclusion in the loop
  private val conf15 = conf.copy(baseDn = "ou=user,ou=ph15,o=BMUKK")
  private def dn(cn: String) = s"cn=$cn,${conf.baseDn}"
  private val storedPw = Aes.encryptHex("secret", conf.aesKey, Some("cd" * 16))

  /** The outcome fields the table states. */
  private case class Expect(skipped: Option[String] = None,
      error: Option[String] = None, warning: Option[String] = None,
      changed: Boolean = false, resultDn: Option[String] = None,
      renameOldCn: Option[String] = None, pwChanged: Boolean = false,
      changedSrcKeys: Seq[String] = Nil)

  private def outcome(r: MergeRow) = Expect(r.skipped, r.error, r.warning,
    r.changed, r.resultDn, r.renameOldCn, r.pwChanged, r.changedSrcKeys)

  private def bob(uid: String = "7", cn: String = "bob") =
    Map("cn" -> Seq(cn), "phonlineUniqueId" -> Seq(uid))

  /** A source row for cn `src` matched to the entry cn=bob with `old`. */
  private def matched(old: Map[String, Seq[String]], src: String = "bob",
      pw: Option[String] = None, isNew: Boolean = false,
      cnMatched: Boolean = true) =
    MatchIn(src, "7", pw, bob(cn = src), isNew, Some(dn("bob")), Some(old),
      cnMatched, uidAmbiguous = false)

  private def unmatched(cn: String, uid: String, isNew: Boolean = true,
      pw: Option[String] = None, ambiguous: Boolean = false) =
    MatchIn(cn, uid, pw, if (cn == null) Map.empty else bob(uid, cn), isNew,
      None, None, cnMatched = false, uidAmbiguous = ambiguous)

  private val table: Seq[(String, MatchIn, EtlConf, Expect)] = Seq(
    // skip guards
    ("no cn", unmatched(null, "1"), conf,
      Expect(skipped = Some("Got User without benutzername, pk_uniqueid=1"))),
    ("empty cn", unmatched("", "1"), conf,
      Expect(skipped = Some("Got User without benutzername, pk_uniqueid=1"))),
    ("no uid", unmatched("bob", null), conf,
      Expect(skipped = Some("Got User without pk_uniqueid, benutzername=bob"))),
    ("empty uid", unmatched("bob", ""), conf,
      Expect(skipped = Some("Got User without pk_uniqueid, benutzername=bob"))),
    ("no cn, no uid", unmatched(null, null, isNew = false), conf,
      Expect(skipped = Some("Got User without benutzername, pk_uniqueid=null"))),
    // errors
    ("uid ambiguous", unmatched("bob", "7", isNew = false, ambiguous = true), conf,
      Expect(error = Some("Non-matching cn: bob and more than one record" +
        " with same pk_uniqueid: 7, giving up"))),
    ("deleted entry, same cn, other uid",
      matched(bob("9") + ("idnDeleted" -> Seq("TRUE"))), conf,
      Expect(error = Some(
        "Found deleted record with same CN bob but different pk_uniqueid: 7"))),
    // matched, no field differs
    ("unchanged", matched(bob()), conf, Expect()),
    ("unchanged, sync says new", matched(bob(), isNew = true), conf,
      Expect(warning = Some(
        s"""Found dn "${dn("bob")}" when sync says it should be new"""))),
    // the uid-mismatch warning overwrites should-be-new (etl.py:981–989)
    ("uid mismatch, sync says new", matched(bob("8"), isNew = true), conf,
      Expect(warning = Some(s"Found dn: ${dn("bob")} with different " +
        "phonlineUniqueId: Got 8, expected 7"), changed = true,
        resultDn = Some(dn("bob")), changedSrcKeys = Seq("pk_uniqueid"))),
    ("entry without uid", matched(Map("cn" -> Seq("bob"))), conf,
      Expect(warning = Some(s"Found dn: ${dn("bob")} with different " +
        "phonlineUniqueId: Got null, expected 7"), changed = true,
        resultDn = Some(dn("bob")), changedSrcKeys = Seq("pk_uniqueid"))),
    // diffs
    ("rename", matched(bob(), src = "bob2", cnMatched = false), conf,
      Expect(changed = true, resultDn = Some(dn("bob2")),
        renameOldCn = Some("bob"), changedSrcKeys = Seq("benutzername"))),
    ("attribute delete", matched(bob() + ("givenName" -> Seq("Bob"))), conf,
      Expect(changed = true, resultDn = Some(dn("bob")))),
    ("resurrection", matched(bob() + ("idnDeleted" -> Seq("TRUE"))), conf,
      Expect(changed = true, resultDn = Some(dn("bob")))),
    ("student mail delete",
      matched(bob() + ("phonlineEmailStudent" -> Seq("a@b"))), conf,
      Expect(changed = true, resultDn = Some(dn("bob")))),
    ("student mail not synced in ph15",
      matched(bob() + ("phonlineEmailStudent" -> Seq("a@b"))), conf15, Expect()),
    // passwords: compared under the entry's IV, re-encrypted under the
    // configured one (etl.py:989–992)
    ("password unchanged under the stored IV",
      matched(bob() + ("idnDistributionPassword" -> Seq(storedPw)),
        pw = Some("secret")), conf, Expect()),
    ("password changed",
      matched(bob() + ("idnDistributionPassword" -> Seq(storedPw)),
        pw = Some("newpw")), conf,
      Expect(changed = true, resultDn = Some(dn("bob")), pwChanged = true,
        changedSrcKeys = Seq("passwort"))),
    ("password dropped",
      matched(bob() + ("idnDistributionPassword" -> Seq(storedPw))), conf,
      Expect(changed = true, resultDn = Some(dn("bob")))),
    ("stored password too short to carry an IV",
      matched(bob() + ("idnDistributionPassword" -> Seq("deadbeef")),
        pw = Some("secret")), conf,
      Expect(changed = true, resultDn = Some(dn("bob")), pwChanged = true,
        changedSrcKeys = Seq("passwort"))),
    // adds
    ("add with password", unmatched("eve", "9", pw = Some("pw1")), conf,
      Expect(changed = true, resultDn = Some(dn("eve")), pwChanged = true)),
    ("add, sync says it exists", unmatched("eve", "9", isNew = false), conf,
      Expect(warning = Some("pk_uniqueid \"9\" not found, sync says it exists"),
        changed = true, resultDn = Some(dn("eve")))))

  test("hand-picked guard rows give their expected outcomes") {
    table.foreach { case (label, in, c, expect) =>
      assert(outcome(SyncEngine.mergeOne(in, c)) == expect, s"row: $label")
    }
  }
}
