package graft.etl

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Directory.Entry
import Cdc.EventFacts
import EtlSchema.accStatus

/** The set-based CDC cycle: matching, merge, deletes, write-through and
  * the per-uid aggregates of the status matrix as joins and aggregations
  * over the whole batch, with the typed kernel mapped over the matched
  * rows (`SyncEngine.merge`). It is an implementation of the cycle
  * independent of the driver one (`Cdc.cycle`) in everything but the
  * batch selection and validation, the source-row conversion, the GC
  * filter, the merge kernel, the per-event C8 verdict and the eventlog
  * writeback, and serves as the reference that `CappedCycleSpec` and
  * `CdcScenarioSpec` compare `Cdc.cycle` with. The set-based ph15 sweep
  * (`deleteInPh15`) and rename pass (`updatePh15Cn`) are the references
  * for `SyncEngine.ph15Sweep` and `Cdc.updatePh15Cn`.
  */
object SetBasedReference {
  /** Largest batch cap that may FORCE a uid-set broadcast in the batch
    * lookup join: 1M distinct long uids build to low tens of MB on the
    * driver — safely inside a 64m autoBroadcastJoinThreshold. Larger
    * caps leave the join to the planner/AQE.
    */
  private val broadcastUidBound: Int = 1 << 20

  /** The set-based cycle: every step a join or aggregation over the whole
    * batch.
    */
  def cycle(snapshot0: Dataset[Entry], users: DataFrame,
      eventlog: DataFrame, conf: EtlConf, maxRecords: Int,
      readTime: java.sql.Timestamp): Cdc.CycleResult = {
    val spark = snapshot0.sparkSession
    import spark.implicits._

    val snap1 = Cdc.collectGarbage(snapshot0, conf)
    val validated = Cdc.selectBatch(eventlog, maxRecords, conf)
    val valid = validated.filter(col("v_error").isNull)
      .select(col("record_id"), col("uid"), col("event_type"),
        col("attempt_now"))

    // J1 — current user rows for the batch's uids (set-based lookup).
    // When the cap bounds the uid set within `broadcastUidBound` it
    // BROADCASTS: the users table — the 100 TB side — is probed in place,
    // never shuffled. The hint is gated on a broadcast-SAFE bound, not
    // merely on the cap being finite: a finite-but-large cap (say 10M)
    // would otherwise force a driver-side build of up to maxRecords uids
    // past autoBroadcastJoinThreshold and risk driver OOM. Above the
    // bound — and for an unbounded drain — the shuffle join stands, and
    // AQE still downgrades to broadcast when the RUNTIME size allows.
    val batchUids0 = valid.select(col("uid")).distinct()
    val batchUids =
      if (maxRecords <= broadcastUidBound) broadcast(batchUids0)
      else batchUids0
    val batchUsers = users
      .join(batchUids, users("pk_uniqueid").cast("long") === batchUids("uid"),
        "left_semi")

    // MERGE the uids that still have rows (is_new=false: event_type only
    // influences warnings, which the status matrix reconstructs).
    // Materialized once: the merge, the row counts and the ph15
    // write-through all consume it — without this the users join + the
    // 30-column conversion projection re-execute per consumer. The
    // checkpoint is lazy in name only: under AQE the call itself runs
    // the plan's shuffle and broadcast stages (one job here) before any
    // consumer does; the consumers then read the stored partitions.
    val newRows0 = SyncEngine.toNewRows(batchUsers).localCheckpoint(false)
    val newRows = newRows0.withColumn("is_new", lit(false))
    val (snapMerged, outcomes) = SyncEngine.merge(snap1, newRows, conf)

    // raw DB-row count per uid — counted BEFORE the merge's cn-dedup so
    // the duplicate-uid warning fires exactly when the reference's
    // len(usr) > 1 does (etl.py:658–664)
    val rowCounts = newRows0.groupBy(col("src_uid"))
      .agg(count(lit(1)).as("row_n"))

    // delete-mark uids with no user row left (etl.py:684–688).
    // Deliberately the UNhinted frame: a broadcast hint on the LEFT
    // (stream) side of a left_anti is unsupported — Spark would log
    // "Hint ... not supported" and ignore it. The hint belongs only to
    // the semi-join above, where batchUids is the build side.
    val uidsWithRows = rowCounts.select(col("src_uid"))
    val goneUids = batchUids0
      .join(uidsWithRows, col("uid").cast("string") === col("src_uid"),
        "left_anti")
      .select(col("uid").cast("string")).as[String]
    val snapFinal = deleteInLdap(snapMerged, goneUids, conf)

    // C8 — the per-uid aggregates of the status matrix (etl.py:689–718),
    // then `verdict` per event. Multiple DB rows for one uid can each
    // raise a kernel error; the reference appends one message per row
    // ('\n'-joined, etl.py msg list) — mirrored here with a sorted join
    // so no row's diagnostic is lost.
    val uidAgg = outcomes.toDF.groupBy(col("srcUid"))
      .agg(
        max(col("consumedDn").isNotNull).as("pre_matched"),
        max(col("consumedDn")).as("pre_dn"),
        max(when(col("changed"), col("resultDn")).otherwise(col("consumedDn")))
          .as("post_dn"),
        max(when(col("consumedDn").isNull && col("changed"),
          col("resultDn"))).as("add_dn"),
        collect_list(col("error")).as("kernel_errors"),
        max(col("warning")).as("kernel_warning"))
      .withColumn("kernel_error",
        when(size(col("kernel_errors")) > 0,
          array_join(array_sort(col("kernel_errors")), "\n")))

    val db = conf.db
    val evUpdates = valid
      .join(uidAgg, col("uid").cast("string") === col("srcUid"), "left_outer")
      .join(rowCounts, col("uid").cast("string") === col("src_uid"), "left_outer")
      .select(col("record_id"), col("uid"), col("event_type"),
        col("attempt_now"),
        min(col("record_id")).over(Window.partitionBy(col("uid"))).as("first_rid"),
        coalesce(col("row_n"), lit(0L)).as("row_n"),
        coalesce(col("pre_matched"), lit(false)).as("pre_matched"),
        coalesce(col("pre_dn"), col("add_dn")).as("matched_dn"),
        col("post_dn").as("result_dn"),
        col("kernel_error"), col("kernel_warning"))
      .as[EventFacts]
      .map { e =>
        val (status, msg, attempt) = Cdc.verdict(e, db)
        Cdc.Update(e.record_id, status, msg, attempt, Some(readTime))
      }.toDF
    // validation failures `continue` before the reference's read_time
    // stamp (etl.py:615–652 vs 718): no read_time for them
    val fUpdates = validated.filter(col("v_error").isNotNull)
      .select(col("record_id"), lit("F").as("new_status"),
        col("v_error").as("new_error"),
        lit(null).cast("double").as("new_attempt"),
        lit(null).cast("timestamp").as("new_read"))
    val allUpdates = evUpdates.unionByName(fUpdates)

    // C3 — rename queue for the end-of-cycle ph15 pass
    val renames = outcomes.toDF
      .filter(col("renameOldCn").isNotNull)
      .select(col("renameOldCn").as("old_cn"), col("srcCn").as("new_cn"))

    // C9 — immediate write-through of name/password changes into ph15
    // (etl.py:1043–1054, 1112–1165): applies only when syncing a
    // non-ph15 instance that has a ph15 partner configured
    val snapWithPh15 =
      if (conf.ph15Dn.isEmpty || conf.isPh15) snapFinal
      else ph15Writethrough(snapFinal, newRows0, outcomes.toDF, conf)

    Cdc.CycleResult(snapWithPh15, Cdc.writeback(eventlog, allUpdates), allUpdates,
      renames.as[(String, String)].collect().toSeq, allUpdates.count())
  }

  /** C9 — patch the ph15 twin entry (matched by cn under the ph15 base)
    * for rows whose changed columns include the write-through set;
    * absent twins are skipped, attributes are never deleted there, and
    * no etlTimestamp is stamped (etl.py:1112–1165).
    */
  def ph15Writethrough(snapshot: Dataset[Entry], newRows0: DataFrame,
      outcomes: DataFrame, conf: EtlConf): Dataset[Entry] = {
    import snapshot.sparkSession.implicits._
    val hits = outcomes
      .filter(col("changed") && arrays_overlap(col("changedSrcKeys"),
        typedLit(Cdc.writethroughKeys)))
      .select(col("srcCn").as("wt_cn"), col("changedSrcKeys"))
    if (hits.isEmpty) return snapshot
    // one row per cn (case-insensitively, like the merge's cn-dedup,
    // same tiebreak) — duplicate DB rows must not fan the single ph15
    // twin entry out into duplicate dns
    val cnW = Window.partitionBy(lower(col("src_cn")))
      .orderBy(SyncEngine.cnDedupOrder: _*)
    val rows = newRows0
      .withColumn("cn_rn", row_number().over(cnW))
      .filter(col("cn_rn") === 1)
      .drop("cn_rn")
      .join(hits, lower(col("src_cn")) === lower(col("wt_cn")))
    val changesDs = rows.select(col("src_cn"), col("new_attrs"),
      col("pw_plain"), col("changedSrcKeys"))
      .as[(String, Map[String, Seq[String]], Option[String], Seq[String])]
    val patch = changesDs.map { case (cn, newAttrs, pw, changedKeys) =>
      (s"cn=$cn,${conf.dn15}", Cdc.ph15Patch(newAttrs, pw, changedKeys, conf))
    }.toDF("p_dn", "p_attrs")
    // the twin is matched case-insensitively (LDAP caseIgnoreMatch,
    // same rule as the merge's cn match): a case-divergent twin — e.g.
    // a case-only rename still sitting in the rename queue — must
    // still receive the write-through
    snapshot.toDF
      .join(patch, lower(col("dn")) === lower(col("p_dn")), "left_outer")
      .select(col("dn"),
        when(col("p_attrs").isNotNull,
          map_concat(
            map_filter(col("attrs"),
              (k, _) => !map_contains_key(col("p_attrs"), k)),
            col("p_attrs")))
          .otherwise(col("attrs")).as("attrs"))
      .as[Entry]
  }

  /** Delete all entries under the base whose uid is in `uids`: hard
    * delete for ph15 / no-etd instances, soft delete-mark otherwise;
    * then the cross-tree ph15 account check (etl.py:525–574).
    */
  def deleteInLdap(snapshot: Dataset[Entry], uids: Dataset[String],
      conf: EtlConf): Dataset[Entry] = {
    val spark = snapshot.sparkSession
    import spark.implicits._
    val uidDf = broadcast(uids.toDF("del_uid"))
    val underBase = Directory.parentDnCol(col("dn")) === conf.baseDn
    val victimCond = underBase &&
      element_at(col("attrs")("phonlineUniqueId"), 1).isNotNull

    val victims = snapshot.toDF.filter(victimCond)
      .join(uidDf,
        element_at(col("attrs")("phonlineUniqueId"), 1) === col("del_uid"),
        "left_semi")
      .as[Entry]

    val hard = conf.isPh15 || conf.noEtd.contains(conf.db)
    val afterBase: Dataset[Entry] =
      if (hard) {
        snapshot.toDF
          .join(victims.toDF.select(col("dn").as("vdn")),
            col("dn") === col("vdn"), "left_anti")
          .as[Entry]
      } else {
        val marked = victims.map(e => Entry(e.dn, SyncEngine.softDeleteAttrs(e.attrs, conf)))
        val markedDf = marked.toDF
          .select(col("dn").as("vdn"), col("attrs").as("vattrs"))
        snapshot.toDF
          .join(markedDf, col("dn") === col("vdn"), "left_outer")
          .select(col("dn"), coalesce(col("vattrs"), col("attrs")).as("attrs"))
          .as[Entry]
      }

    // the cross-tree sweep only exists in ph-deployments; a base dn
    // without an ou=phXX component has no ph15 sibling (and dn15 would
    // be undefined — the reference derives it lazily for the same reason)
    if (hard || !conf.baseDn.contains("ou=ph")) afterBase
    else deleteInPh15(afterBase, victims.map(e => Directory.rdnValue(e.dn)), conf)
  }

  /** Cross-tree sweep: a soft-deleted user whose cn exists exactly once
    * elsewhere (non-deleted), in ph15, with no account-status attrs, is
    * hard-deleted there (etl.py:525–574).
    */
  def deleteInPh15(snapshot: Dataset[Entry], victimCns: Dataset[String],
      conf: EtlConf): Dataset[Entry] = {
    val spark = snapshot.sparkSession
    import spark.implicits._
    val cns = broadcast(victimCns.toDF("vcn"))
    val live = snapshot.toDF
      .filter(!map_contains_key(col("attrs"), "idnDeleted"))
      .select(col("dn"), Directory.rdnValueCol(col("dn")).as("cn"),
        accStatus.map(a => map_contains_key(col("attrs"), a))
          .reduce(_ || _).as("has_acc"))
      .join(cns, col("cn") === col("vcn"), "left_semi")
    // the reference's nm==2 branch is server-order-dependent (it takes
    // matches[0] and usually hits the non-ph15 entry → error-log, no
    // delete); requiring exactly one live match is the deterministic
    // reading of the same intent
    val candidates = live.groupBy("cn")
      .agg(count(lit(1)).as("n"), min(col("dn")).as("only_dn"),
        max(col("has_acc").cast("int")).as("acc"))
      .filter(col("n") === 1 && col("acc") === 0)
      .filter(col("only_dn") === concat(lit("cn="), col("cn"),
        lit("," + conf.dn15)))
      .select(col("only_dn").as("vdn"))
    snapshot.toDF
      .join(broadcast(candidates), col("dn") === col("vdn"), "left_anti")
      .as[Entry]
  }

  /** C3 — end-of-cycle rename propagation into ph15 (etl.py:762–781):
    * re-sync user rows whose benutzername matches either side of a
    * queued rename, against the ph15 base, with the set-based merge.
    */
  def updatePh15Cn(snapshot: Dataset[Entry], users: DataFrame,
      renames: DataFrame, ph15Conf: EtlConf): Dataset[Entry] = {
    if (renames.isEmpty) return snapshot
    val keys = renames.select(col("old_cn").as("k"))
      .unionByName(renames.select(col("new_cn").as("k")))
      .distinct()
    val hit = users.join(keys, trim(col("benutzername")) === col("k"),
      "left_semi")
    val rows = SyncEngine.toNewRows(hit).withColumn("is_new", lit(false))
    SyncEngine.merge(snapshot, rows, ph15Conf)._1
  }
}
