package graft

import org.scalatest.funsuite.AnyFunSuite

/** The round gate's record (GATE_LAST.log, written by tools/gate.sh:
  * Verify + oracle check + dtype audit at all three SFs) must be
  * committed and must have PASSED — the audit output of record travels
  * with the code it gates, and a round that skipped the gate or
  * shipped over a failing one is a red build (the round-16 wiring of
  * tools/dtype_audit.py into the gate).
  */
class GateRecordSpec extends AnyFunSuite {

  test("GATE_LAST.log is present and records a passing 3-SF gate") {
    val p = java.nio.file.Paths.get("GATE_LAST.log")
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get("tools/gate.sh")),
      "no tools/gate.sh (not repo root?)")
    assert(java.nio.file.Files.exists(p),
      "no GATE_LAST.log — run: bash tools/gate.sh (and commit the log)")
    val log = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    assert(log.linesIterator.exists(_.startsWith("GATE OK")),
      "GATE_LAST.log lacks a GATE OK line — the last gate run failed " +
        "or was interrupted; re-run bash tools/gate.sh")
    assert(!log.contains("GATE FAIL"),
      "GATE_LAST.log records a failure — fix and re-run bash tools/gate.sh")
    // the audit lines are part of the record: every SF pass prints its
    // dangerous/width-only summary
    assert("== \\d+ dangerous".r.findAllIn(log).size == 3,
      "GATE_LAST.log lacks the three per-SF dtype audit summaries")
    // staleness tie-in: the record must cover the CURRENT registry —
    // without this, a round that adds queries but skips the gate stays
    // green against the previous round's committed log, which is
    // exactly the skipped-gate case this spec exists to redden
    val n = SparkEntry.queries.size
    assert("across (\\d+) oracled queries".r.findAllMatchIn(log)
        .forall(_.group(1).toInt == n),
      s"GATE_LAST.log covers a different query count than the current " +
        s"registry ($n) — re-run bash tools/gate.sh at HEAD")
  }
}
