package graft.etl

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Directory.{Entry, parentDn, rdnValue}
import SyncEngine.{MatchIn, MergeRow}

/** §3.1 — the CDC micro-batch: one poll cycle of the reference's `etl`
  * action (etl.py:576–733):
  *
  *   garbage-collect → scan ≤N new/errored events → validate (P3, fatal
  *   rows routed to status F, never exceptions) → J1 join to current
  *   user rows → MERGE the present uids / delete-mark the absent ones →
  *   status matrix (C8: S/W/E/F with retry counter) → eventlog
  *   writeback.
  *
  * The reference applies events one at a time and re-reads the current
  * DB row per event, so replays are idempotent; the engine exploits
  * exactly that: one MERGE per distinct uid, while the status matrix
  * still produces a verdict per event (sequencing within a uid is
  * reconstructed from record_id order — SURVEY.md §4.3).
  *
  * Two paths compute the same cycle; the batch the cycle selected, not
  * the cap, chooses between them:
  *  - on the driver (`CappedCycle`), whenever the selected batch holds at
  *    most `driverEventBound` events on at most `driverBatchBound`
  *    distinct valid uids, capped or not (the poll loop's 100, an
  *    outage drain, a streaming micro-batch): it collects the batch, its
  *    user rows and the snapshot entries they touch, computes the cycle
  *    with the typed kernel (`SyncEngine.mergeOne`), and applies it with
  *    one pass over the snapshot and one over the eventlog. Its cost
  *    follows the batch, and its handful of plans keep one shape from
  *    cycle to cycle, so the generated code is reused.
  *  - set-based (`cycleSetBased`), for a batch over either bound and for
  *    the states the driver path does not model: matching, merge,
  *    deletes and the per-uid aggregates of the status matrix as joins
  *    and aggregations over the whole batch, with the typed kernel mapped
  *    over the matched rows (`SyncEngine.merge`). Reaching it from an
  *    over-bound batch costs one wasted collect of at most
  *    `driverEventBound + 1` events.
  *
  * Both share the batch selection and validation, the source-row
  * conversion, the GC filter, the merge kernel, the per-event C8 verdict
  * (`verdict`) and the eventlog writeback. Each path computes its own
  * matching, cn-dedup order, apply and the per-uid aggregates that feed
  * the verdict.
  */
object Cdc {
  /** Largest batch cap that may FORCE a uid-set broadcast in the batch
    * lookup join: 1M distinct long uids build to low tens of MB on the
    * driver — safely inside a 64m autoBroadcastJoinThreshold. Larger
    * caps leave the join to the planner/AQE.
    */
  val broadcastUidBound: Int = 1 << 20

  /** Most distinct valid uids a batch may hold and run on the driver
    * (`CappedCycle`). The driver-held inputs that grow with a batch, its
    * user rows and the snapshot entries it touches, grow with its
    * distinct uids, not with its events. Measured near this bound: a poll
    * cycle of 10,000 events on 8,888–8,971 distinct uids at 37,678 users
    * took 5.2–5.5 s on the driver against 11.4–12.6 s set-based
    * (syncbench's poll workload at a 10,000-event cap, seeds 101–103,
    * 4 cores), and also passed in a 2 GB heap. A batch over the bound
    * runs set-based.
    */
  val driverBatchBound: Int = 10000

  /** Most events a batch may hold and run on the driver; the driver holds
    * five scalars per event (`CappedCycle.Ev`) and one verdict row.
    * Measured at 37,678 users with syncbench's bulk drain (`Sizes(users =
    * 37678, bulkEvents = n)`, Zipf-skewed, 4 cores, one run each), the
    * driver path against the set-based one: 20,000 events on 7,741 uids
    * took 6.6 s against 15.6 s, 50,000 on 16,002 uids 10.9 s against
    * 25.2 s, and 100,000 on 26,663 uids 17.7 s against 28.8 s (seed 101;
    * the two larger runs with both bounds lifted, so they load the driver
    * with more uids than the bounds admit). In a 2 GB heap, 20,000 events
    * on 7,752 uids took 8.8 s at these bounds, and 100,000 on 26,436 uids
    * 21.0 s with both lifted, with at most 1,521 and 1,984 MB of heap in
    * use over the whole run (seed 102). A batch over the bound runs
    * set-based, after one wasted collect of `driverEventBound + 1` events.
    */
  val driverEventBound: Int = 100000

  /** `selected` (events the cycle selected) and `renameQueued` (whether
    * `renames` is non-empty) are driver values on the capped path; on the
    * set-based path each costs one job, run on first use.
    */
  case class CycleResult(
      snapshot: Dataset[Entry],
      eventlog: DataFrame,        // full table with statuses written back
      eventUpdates: DataFrame,    // record_id, status, error_message, attempt
      renames: DataFrame)         // old_cn, new_cn queue for ph15 (C3)
      (selectedOf: () => Long, renameQueuedOf: () => Boolean) {
    lazy val selected: Long = selectedOf()
    lazy val renameQueued: Boolean = renameQueuedOf()
  }

  /** C8's inputs for one valid event: the event's own fields plus its
    * uid's merge aggregates. `row_n` counts the uid's user rows (0 when
    * the merge produced no outcome for it), `pre_matched` is whether any
    * of its rows consumed an entry, `matched_dn` the entry its rows
    * consumed or added, `kernel_error` its kernel errors sorted and
    * '\n'-joined, and `kernel_warning` the greatest kernel warning.
    */
  private[etl] case class EventFacts(record_id: Option[Double], uid: Long,
      event_type: Option[Double], attempt_now: Int, first_rid: Option[Double],
      row_n: Long, pre_matched: Boolean, matched_dn: Option[String],
      kernel_error: Option[String], kernel_warning: Option[String])

  /** One eventlog update, the input of `writeback`. */
  private[etl] case class Update(record_id: Option[Double], new_status: String,
      new_error: Option[String], new_attempt: Option[Double],
      new_read: Option[java.sql.Timestamp])

  /** C8 — one valid event's verdict (etl.py:689–718): its status (S, W,
    * E or F), error_message and new attempt counter. Sequencing within a
    * uid is reconstructed from record_id order: the uid's first event
    * carries the kernel warning, a later insert of a uid that has rows
    * finds the entry the first one wrote. A missing record_id compares
    * false, as in SQL.
    */
  private[etl] def verdict(e: EventFacts, db: String): (String, Option[String], Option[Double]) = {
    val first = e.record_id.isDefined && e.record_id == e.first_rid
    val later = e.record_id.exists(r => e.first_rid.exists(r > _))
    val existsAt = e.pre_matched || (e.row_n > 0 && later)
    val isInsert = e.event_type.contains(5.0)
    val isDelete = e.event_type.contains(4.0)
    // base warning: "row exists on delete" overwrites "duplicate rows"
    // (dict replacement in the reference, etl.py:658–688)
    val baseW =
      if (e.row_n >= 1 && isDelete) Some(s"Record ${e.uid} existing in DB $db")
      else if (e.row_n > 1) Some(s"Duplicate pk_uniqueid: ${e.uid} in $db")
      else None
    // For an insert whose matched entry carries a different
    // phonlineUniqueId, the reference overwrites "should be new" with the
    // uid-mismatch text (etl.py:981–989), so the kernel warning wins for
    // the uid's first event and the reconstruction is the fallback.
    val syncW =
      if (e.row_n >= 1 && isInsert && existsAt)
        e.kernel_warning.filter(_ => first).orElse(e.matched_dn.map(dn =>
          s"""Found dn "$dn" when sync says it should be new"""))
      else if (e.row_n >= 1 && !isInsert && first) e.kernel_warning
      else if (e.row_n == 0 && !isDelete) Some(s"Record ${e.uid} not existing in DB")
      else None
    val warn = (baseW ++ syncW).mkString("\n")
    if (e.kernel_error.isDefined && e.row_n >= 1)
      (if (e.attempt_now > 10) "F" else "E", e.kernel_error, Some(e.attempt_now + 1.0))
    else if (warn.nonEmpty) ("W", Some(warn), None)
    else ("S", None, None)
  }

  private def trimEq(c: Column, v: String): Column =
    graft.functions.ConvertF.char3Eq(c, v)

  /** One poll cycle. `users` is the current user table state; `eventlog`
    * the current event table; returns the post-cycle snapshot and
    * eventlog.
    */
  def cycle(snapshot0: Dataset[Entry], users: DataFrame, eventlog: DataFrame,
      conf: EtlConf, maxRecords: Int = 100,
      readTime: java.sql.Timestamp = new java.sql.Timestamp(System.currentTimeMillis / 1000 * 1000))
      : CycleResult =
    boundedCycle(snapshot0, users, eventlog, conf, maxRecords, readTime,
      driverEventBound, driverBatchBound)

  /** `cycle` with the driver path's bounds as parameters, so that a test
    * can lower them.
    */
  private[etl] def boundedCycle(snapshot0: Dataset[Entry], users: DataFrame,
      eventlog: DataFrame, conf: EtlConf, maxRecords: Int,
      readTime: java.sql.Timestamp, eventBound: Int, uidBound: Int): CycleResult =
    try CappedCycle.run(snapshot0, users, eventlog, conf, maxRecords, readTime,
      eventBound, uidBound)
    catch {
      case _: CappedCycle.Unmodelled =>
        cycleSetBased(snapshot0, users, eventlog, conf, maxRecords, readTime)
    }

  /** C6 — collect already-ETD-synced deleted entries at cycle start; the
    * reference never garbage-collects the ph15 instance itself
    * (etl.py:406–407).
    */
  private[etl] def collectGarbage(snapshot0: Dataset[Entry], conf: EtlConf)
      : Dataset[Entry] =
    if (conf.isPh15) snapshot0 else SyncEngine.garbageCollect(snapshot0, conf)

  /** S3 — bounded work-queue scan (status flags are the offsets). An
    * unbounded batch (Int.MaxValue) skips the global sort entirely — the
    * cap exists only to emulate the reference's cycle batching, and a
    * top-2^31 sort would be pure waste on a process-everything scan.
    */
  private[etl] def selectBatch(eventlog: DataFrame, maxRecords: Int): DataFrame = {
    val pendingEv = eventlog
      .filter(trimEq(col("status"), "N") || trimEq(col("status"), "E"))
    if (maxRecords == Int.MaxValue) pendingEv
    else pendingEv.orderBy("record_id").limit(maxRecords)
  }

  /** P3 — validation with error routing (etl.py:615–652): adds `v_error`
    * (NULL for a valid event) and the numeric `uid`. NULL fields must
    * fail validation, not slip through a null-valued when(): every
    * predicate is explicitly null-armed.
    */
  private[etl] def validate(batch: DataFrame, conf: EtlConf): DataFrame = {
    val uidStr = expr("split(table_key, '=', 2)[1]")
    batch.withColumn("v_error",
      when(col("event_type").isNull || !col("event_type").isin(4.0, 5.0, 6.0),
        concat(lit(s"Invalid event_type in ${conf.db}: "),
          coalesce(col("event_type").cast("string"), lit("None"))))
        .when(col("table_key").isNull ||
            !col("table_key").startsWith("pk_uniqueid="),
          lit(s"Invalid table_key in ${conf.db}, expect pk_uniqueid="))
        .when(col("table_name").isNull ||
            lower(col("table_name")) =!= "benutzer_alle_dirxml_v",
          lit(s"Invalid table_name in ${conf.db}, expect benutzer_alle_dirxml_v"))
        .when(!coalesce(uidStr.rlike("^\\s*[+-]?[0-9]+\\s*$"), lit(false)),
          concat(lit("Invalid table_key: "), coalesce(uidStr, lit("None")),
            lit(s" in ${conf.db}, expect numeric id"))))
      .withColumn("uid", when(col("v_error").isNull, uidStr.cast("long")))
  }

  /** S16 — batched writeback, one idempotent overwrite per cycle.
    * `updates`: record_id, new_status, new_error, new_attempt, new_read.
    */
  private[etl] def writeback(eventlog: DataFrame, updates: DataFrame): DataFrame =
    eventlog.alias("e")
      .join(updates.alias("u"), col("e.record_id") === col("u.record_id"),
        "left_outer")
      .select(
        (eventlog.columns.filterNot(Set("status", "error_message", "attempt",
          "read_time")).map(c => col("e." + c)) ++ Seq(
          // the eventlog status column is CHAR(3) — re-pad like the
          // source database stores it (readEventsCsv does the same)
          coalesce(rpad(col("u.new_status"), 3, " "), col("e.status"))
            .as("status"),
          coalesce(col("u.new_error"), col("e.error_message")).as("error_message"),
          coalesce(col("u.new_attempt"), col("e.attempt")).as("attempt"),
          coalesce(col("u.new_read"), col("e.read_time")).as("read_time"))): _*)
      .select(EtlSchema.eventFields.map(col): _*)

  /** The set-based cycle: every step a join or aggregation over the whole
    * batch. `cycle` runs it for a batch over the driver path's bounds and
    * for the states the driver path does not model.
    */
  private[etl] def cycleSetBased(snapshot0: Dataset[Entry], users: DataFrame,
      eventlog: DataFrame, conf: EtlConf, maxRecords: Int,
      readTime: java.sql.Timestamp): CycleResult = {
    val spark = snapshot0.sparkSession
    import spark.implicits._

    val snap1 = collectGarbage(snapshot0, conf)
    val validated = validate(selectBatch(eventlog, maxRecords), conf)
    val valid = validated.filter(col("v_error").isNull)
      .select(col("record_id"), col("uid"), col("event_type"),
        col("attempt"))

    // J1 — current user rows for the batch's uids (set-based lookup).
    // A batch within the driver path's bounds runs on the driver, so this
    // path sees a batch over them or one the driver path does not model.
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
      if (maxRecords <= Cdc.broadcastUidBound) broadcast(batchUids0)
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
    val snapFinal = SyncEngine.deleteInLdap(snapMerged, goneUids, conf)

    // C8 — the per-uid aggregates of the status matrix (etl.py:689–718),
    // then `verdict` per event. Multiple DB rows for one uid can each
    // raise a kernel error; the reference appends one message per row
    // ('\n'-joined, etl.py msg list) — mirrored here with a sorted join
    // so no row's diagnostic is lost.
    val uidAgg = outcomes.toDF.groupBy(col("srcUid"))
      .agg(
        max(col("consumedDn").isNotNull).as("pre_matched"),
        max(col("consumedDn")).as("pre_dn"),
        max(when(col("consumedDn").isNull && col("changed"),
          col("resultDn"))).as("add_dn"),
        collect_list(col("error")).as("kernel_errors"),
        max(col("warning")).as("kernel_warning"))
      .withColumn("kernel_error",
        when(size(col("kernel_errors")) > 0,
          array_join(array_sort(col("kernel_errors")), "\n")))
      .join(rowCounts, col("srcUid") === col("src_uid"), "left_outer")

    val db = conf.db
    val evUpdates = valid
      .join(uidAgg, col("uid").cast("string") === col("srcUid"), "left_outer")
      .select(col("record_id"), col("uid"), col("event_type"),
        coalesce(col("attempt"), lit(0.0)).cast("int").as("attempt_now"),
        min(col("record_id")).over(Window.partitionBy(col("uid"))).as("first_rid"),
        coalesce(col("row_n"), lit(0L)).as("row_n"),
        coalesce(col("pre_matched"), lit(false)).as("pre_matched"),
        coalesce(col("pre_dn"), col("add_dn")).as("matched_dn"),
        col("kernel_error"), col("kernel_warning"))
      .as[EventFacts]
      .map { e =>
        val (status, msg, attempt) = verdict(e, db)
        Update(e.record_id, status, msg, attempt, Some(readTime))
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

    CycleResult(snapWithPh15, writeback(eventlog, allUpdates), allUpdates,
      renames)(() => allUpdates.count(), () => !renames.isEmpty)
  }

  /** The write-through columns: the ph15 twin receives these source
    * columns when they change (etl.py:338), the password as its own path.
    */
  private[etl] val writethroughKeys: Seq[String] =
    EtlSchema.ph15Writethrough :+ "passwort"

  /** C9 — the attributes one changed row writes through into its ph15
    * twin: the changed write-through columns present in the new row,
    * never a delete, and the password re-encrypted under the configured
    * IV (etl.py:1112–1165).
    */
  private[etl] def ph15Patch(newAttrs: Map[String, Seq[String]],
      pw: Option[String], changedKeys: Seq[String], conf: EtlConf)
      : Map[String, Seq[String]] = {
    val attrs = scala.collection.mutable.Map.empty[String, Seq[String]]
    changedKeys.filter(writethroughKeys.contains).foreach {
      case "passwort" =>
        pw.foreach { p =>
          attrs("idnDistributionPassword") =
            Seq(Aes.encryptHex(p, conf.aesKey, conf.cryptoIvHex))
          attrs("userPassword") = Seq("{CRYPT}")
        }
      case k =>
        newAttrs.get(EtlSchema.odbcToLdap(k)).foreach { v =>
          attrs(EtlSchema.odbcToLdap(k)) = v // never delete in ph15
        }
    }
    attrs.toMap
  }

  /** C9 — patch the ph15 twin entry (matched by cn under the ph15 base)
    * for rows whose changed columns include the write-through set;
    * absent twins are skipped, attributes are never deleted there, and
    * no etlTimestamp is stamped (etl.py:1112–1165).
    */
  private def ph15Writethrough(snapshot: Dataset[Entry], newRows0: DataFrame,
      outcomes: DataFrame, conf: EtlConf): Dataset[Entry] = {
    import snapshot.sparkSession.implicits._
    val hits = outcomes
      .filter(col("changed") && arrays_overlap(col("changedSrcKeys"),
        typedLit(writethroughKeys)))
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
      (s"cn=$cn,${conf.dn15}", ph15Patch(newAttrs, pw, changedKeys, conf))
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

  /** Read-only mode (etl.py:579–592, 719–721): the source eventlog is
    * not writable, so the offset is an event_time high-water mark
    * instead of status flags; events are selected by `event_time > hwm`
    * and the new HWM is the max seen. The reference keeps it in memory
    * (lost on restart, re-initialized to 2017-01-01); here it is a
    * checkpointed offset (HwmStore).
    *
    * The batch is selected ordered by (event_time, record_id) so the
    * HWM cut is consistent with the selection order: every event left
    * out of a full batch has event_time >= every selected event, so
    * nothing below the new HWM is ever skipped. The only remaining
    * caveat is the reference's own (its comment, etl.py:580–585): when
    * more than `maxRecords` events share the boundary timestamp, the
    * ties beyond the cut are lost — size `maxRecords` above the
    * worst-case burst per timestamp (or use the writable-status mode,
    * which has exact offsets).
    */
  def cycleReadOnly(snapshot0: Dataset[Entry], users: DataFrame,
      eventlog: DataFrame, conf: EtlConf,
      hwm: java.sql.Timestamp, maxRecords: Int = 100)
      : (CycleResult, java.sql.Timestamp) = {
    val batchSource = eventlog
      .filter(col("event_time") > lit(hwm))
      // neutralize the status-flag offset: read-only mode selects by
      // time regardless of prior verdicts
      .withColumn("status", lit("N  "))
      .orderBy(col("event_time"), col("record_id"))
      .limit(maxRecords)
    val r = cycle(snapshot0, users, batchSource, conf, maxRecords)
    val newHwm = batchSource.agg(max(col("event_time"))).head().getTimestamp(0)
    (r, if (newHwm == null || newHwm.before(hwm)) hwm else newHwm)
  }

  /** Checkpointed HWM offsets, one per (db) source — atomic file swap
    * like the snapshot pointer.
    */
  object HwmStore {
    private val init = java.sql.Timestamp.valueOf("2017-01-01 00:00:00")
    def load(dir: String, db: String): java.sql.Timestamp = {
      val p = java.nio.file.Paths.get(s"$dir/hwm_$db")
      if (java.nio.file.Files.exists(p))
        java.sql.Timestamp.valueOf(java.nio.file.Files.readString(p).trim)
      else init
    }
    def save(dir: String, db: String, hwm: java.sql.Timestamp): Unit = {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      val tmp = java.nio.file.Paths.get(s"$dir/hwm_$db.tmp")
      java.nio.file.Files.writeString(tmp, hwm.toString)
      java.nio.file.Files.move(tmp, java.nio.file.Paths.get(s"$dir/hwm_$db"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** C3 — end-of-cycle rename propagation into ph15 (etl.py:762–781):
    * re-sync user rows whose benutzername matches either side of a
    * queued rename, against the ph15 base.
    *
    * Scale bound: `renames` holds one row per renaming merge outcome of
    * the batches it was collected from, so it grows with those batches,
    * not with the snapshot or the user table: ≤ `maxRecords` for one
    * capped cycle (100 in the reference's poll loop), but as large as an
    * unbounded drain or a streaming micro-batch, and `CdcStream.run`
    * unions the queues of all its sources. The key set is ≤ 2× that. We
    * deliberately do NOT hint `broadcast(keys)`: Catalyst's
    * size-estimated auto-broadcast makes the choice when the frame is
    * small, and a large queue degrades to a shuffle semi join instead of
    * a driver OOM. RenameCascadeSpec pins the absence of an
    * unconditional hint.
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

/** The CDC cycle on the driver (`Cdc.cycle` for a batch within
  * `Cdc.driverEventBound` events and `Cdc.driverBatchBound` distinct
  * uids, whatever its cap): the cycle's inputs are batch-sized, so they
  * are collected and the cycle is computed on the driver, with the
  * semantics of `Cdc.cycleSetBased` step for step. Spark runs:
  *
  *  1. the batch selection and validation (shared with the set-based
  *     path), collected; past a cap above the event bound, only to one
  *     event over it, and a batch over either bound throws `Unmodelled`;
  *  2. the batch's user rows (`SyncEngine.toNewRows`, with the cn-dedup
  *     content hash), collected;
  *  3. the entries of the GC'd snapshot the batch touches: lower(rdn) is
  *     one of the batch's cns or the uid one of its uids, under any base
  *     (cn match, uid fallback and ambiguity, ph15 twins), collected;
  *  4. only when the batch deletes: the entries whose cn is a victim's
  *     cn, for the ph15 sweep, collected;
  *  5. the snapshot: the GC'd snapshot minus the changed and removed dns,
  *     plus the local upserts;
  *  6. the eventlog: the shared writeback over the local verdicts.
  *
  * Everything in between — cn-dedup, J2 matching, the merge kernel
  * (`SyncEngine.mergeOne`), one change per dn, deletes, the ph15 sweep
  * and write-through, the C8 per-uid aggregates with the shared
  * `Cdc.verdict` per event, and the rename queue — is driver code over
  * batch-sized collections. Where the set-based path
  * takes a max, max_by or array_sort over strings, the driver compares by
  * UTF-8 bytes as Spark does.
  *
  * The snapshot's `dn` is unique (the Directory invariant). A state the
  * set-based path would turn into duplicate rows — a duplicate dn, a
  * change landing on an existing dn, two write-through patches for one
  * twin — or a batch with a null record_id is not modelled here, and
  * neither is a batch over the bounds: `run` throws `Unmodelled` and
  * `Cdc.cycle` runs the set-based path instead.
  */
private[etl] object CappedCycle {

  final class Unmodelled(why: String) extends RuntimeException(why)

  /** One selected event; `attempt_now` is C8's attempt as Spark casts it. */
  case class Ev(record_id: Option[Double], v_error: Option[String],
      uid: Option[Long], event_type: Option[Double], attempt_now: Option[Int])

  /** One converted user row with its cn-dedup content hash; `src_uid`
    * is one of the batch's uids.
    */
  case class UserRow(src_cn: String, src_uid: String, pw_plain: Option[String],
      new_attrs: Map[String, Seq[String]], h: Long)

  private implicit val evEnc: Encoder[Ev] = Encoders.product[Ev]
  private implicit val rowEnc: Encoder[UserRow] = Encoders.product[UserRow]

  /** Spark's string order: unsigned UTF-8 bytes (= code point order). */
  val utf8Order: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private def uidOf(attrs: Map[String, Seq[String]]): Option[String] =
    attrs.get("phonlineUniqueId").flatMap(_.headOption)

  /** `SyncEngine.cnDedupOrder` (winner = min): highest uid, then content
    * hash, then password (nulls last).
    */
  private val dedupOrder: Ordering[UserRow] =
    Ordering.by((r: UserRow) => (r.src_uid.toLong, r.h, r.pw_plain))(Ordering.Tuple3(
      Ordering.Long.reverse, Ordering.Long.reverse, Ordering.Option(utf8Order).reverse))

  private def maxUtf8(xs: Iterable[String]): Option[String] =
    xs.reduceOption((a, b) => if (utf8Order.gteq(a, b)) a else b)

  def run(snapshot0: Dataset[Entry], users: DataFrame, eventlog: DataFrame,
      conf: EtlConf, maxRecords: Int, readTime: java.sql.Timestamp,
      eventBound: Int = Cdc.driverEventBound, uidBound: Int = Cdc.driverBatchBound)
      : Cdc.CycleResult = {
    val spark = snapshot0.sparkSession
    import spark.implicits._
    val snap1 = Cdc.collectGarbage(snapshot0, conf)

    // 1 — the batch; past a cap above the event bound, read to one event
    // over it
    val batch = Cdc.validate(Cdc.selectBatch(eventlog, maxRecords), conf)
      .select(col("record_id"), col("v_error"), col("uid"),
        col("event_type"),
        when(col("v_error").isNull,
          coalesce(col("attempt"), lit(0.0)).cast("int")).as("attempt_now"))
      .as[Ev]
    val evs = (if (maxRecords > eventBound) batch.limit(eventBound + 1) else batch)
      .collect().toSeq
    if (evs.size > eventBound)
      throw new Unmodelled(s"the batch holds more than $eventBound events")
    if (evs.exists(_.record_id.isEmpty))
      throw new Unmodelled("a selected event has no record_id")
    val valid = evs.filter(_.v_error.isEmpty)
    val batchUids = valid.map(_.uid.get.toString).distinct
    if (batchUids.size > uidBound)
      throw new Unmodelled(s"the batch holds more than $uidBound distinct uids")

    // 2 — the batch's user rows (the set-based J1 semi-join on
    // pk_uniqueid cast to long, in its string form `src_uid`)
    val rows: Seq[UserRow] =
      if (batchUids.isEmpty) Nil
      else SyncEngine.toNewRows(users)
        .filter(col("src_uid").isInCollection(batchUids))
        .select(col("src_cn"), col("src_uid"), col("pw_plain"),
          col("new_attrs"), SyncEngine.cnDedupHash.as("h"))
        .as[UserRow].collect().toSeq

    // 3 — the touched entries of the GC'd snapshot
    val writethrough = conf.ph15Dn.nonEmpty && !conf.isPh15
    val srcCns = rows.flatMap(r => Option(r.src_cn)).distinct
    val cnKeys = srcCns.map(_.toLowerCase).distinct
    lazy val twinKeys = srcCns.map(c => s"cn=$c,${conf.dn15}".toLowerCase)
    val touchedBy = Seq(
      Option.when(cnKeys.nonEmpty)(
        lower(Directory.rdnValueCol(col("dn"))).isInCollection(cnKeys)),
      Option.when(batchUids.nonEmpty)(
        element_at(col("attrs")("phonlineUniqueId"), 1).isInCollection(batchUids)),
      Option.when(writethrough && srcCns.nonEmpty)(
        lower(col("dn")).isInCollection(twinKeys))).flatten
    val touched = touchedBy.reduceOption(_ || _)
      .map(c => snap1.filter(c).collect().toSeq).getOrElse(Nil)

    val dir = new Overlay(touched)

    // J2 match + typed kernel over the cn-deduped rows
    val (nullCn, withCn) = rows.partition(_.src_cn == null)
    val winners = withCn.groupBy(_.src_cn.toLowerCase).map { case (k, rs) =>
      k -> rs.min(dedupOrder)
    }
    val deduped = nullCn ++ winners.values
    val under = touched.filter(e => parentDn(e.dn) == conf.baseDn)
    val byCn = under.groupBy(e => rdnValue(e.dn).toLowerCase)
    val byUid = under.groupBy(e => uidOf(e.attrs))
    val outcomes: Seq[MergeRow] = deduped.flatMap { r =>
      def in(e: Option[Entry], cnMatched: Boolean, ambiguous: Boolean) =
        MatchIn(r.src_cn, r.src_uid, r.pw_plain, r.new_attrs, isNew = false,
          e.map(_.dn), e.map(_.attrs), cnMatched, ambiguous)
      val cnHits = Option(r.src_cn).toSeq
        .flatMap(c => byCn.getOrElse(c.toLowerCase, Nil))
      val ins =
        if (cnHits.nonEmpty) cnHits.map(e => in(Some(e), cnMatched = true, ambiguous = false))
        else {
          val g = byUid.getOrElse(Some(r.src_uid), Nil)
          Seq(in(g.headOption.filter(_ => g.size == 1), cnMatched = false,
            ambiguous = g.size > 1))
        }
      ins.map(SyncEngine.mergeOne(_, conf))
    }

    // applyMerge: one change per consumed dn (highest uid, then cn), adds
    val changes = outcomes.filter(o => o.changed && o.consumedDn.isDefined)
      .groupBy(_.consumedDn.get).toSeq.map { case (dn0, os) =>
        dn0 -> os.max(Ordering.by((o: MergeRow) => (o.srcUid.toLong, o.srcCn))(
          Ordering.Tuple2(Ordering.Long, utf8Order)))
      }
    changes.foreach { case (dn0, _) => dir.remove(dn0) }
    changes.foreach { case (_, o) => dir.add(o.resultDn.get, o.resultAttrs.get) }
    outcomes.filter(o => o.changed && o.consumedDn.isEmpty)
      .foreach(o => dir.add(o.resultDn.get, o.resultAttrs.get))

    // C4 — delete the uids with no user row left
    val gone = batchUids.toSet -- rows.map(_.src_uid)
    val victims = dir.entries.filter { case (dn, a) =>
      parentDn(dn) == conf.baseDn && uidOf(a).exists(gone)
    }.keys.toSeq
    val hard = conf.isPh15 || conf.noEtd.contains(conf.db)
    if (hard) victims.foreach(dir.remove)
    else victims.foreach(dn =>
      dir.put(dn, SyncEngine.softDeleteAttrs(dir.entries(dn), conf)))
    if (!hard && conf.baseDn.contains("ou=ph") && victims.nonEmpty) {
      // 4 — the ph15 sweep's candidates (SyncEngine.deleteInPh15)
      val victimCns = victims.map(rdnValue).distinct
      dir.fetch(snap1.filter(Directory.rdnValueCol(col("dn"))
        .isInCollection(victimCns)).collect().toSeq)
      val cnSet = victimCns.toSet
      dir.entries.toSeq
        .filter { case (dn, a) => !a.contains("idnDeleted") && cnSet(rdnValue(dn)) }
        .groupBy { case (dn, _) => rdnValue(dn) }
        .foreach { case (cn, es) =>
          val (dn, a) = es.head
          if (es.size == 1 && !EtlSchema.accStatus.exists(a.contains) &&
              dn == s"cn=$cn,${conf.dn15}") dir.remove(dn)
        }
    }

    // C9 — ph15 write-through of the changed write-through columns
    if (writethrough) {
      val patches = outcomes
        .filter(o => o.changed && o.changedSrcKeys.exists(Cdc.writethroughKeys.contains))
        .flatMap(o => winners.get(o.srcCn.toLowerCase).map { r =>
          s"cn=${r.src_cn},${conf.dn15}".toLowerCase ->
            Cdc.ph15Patch(r.new_attrs, r.pw_plain, o.changedSrcKeys, conf)
        })
      if (patches.map(_._1).distinct.size != patches.size)
        throw new Unmodelled("two write-through patches for one ph15 twin")
      val byDn = patches.toMap
      dir.entries.toSeq.foreach { case (dn, a) =>
        byDn.get(dn.toLowerCase).foreach(p => dir.put(dn, a -- p.keys ++ p))
      }
    }

    // C8 — the per-uid aggregates, then `Cdc.verdict` per event
    val byUidOut = outcomes.groupBy(_.srcUid)
    val rowN = rows.groupBy(_.src_uid).map { case (u, rs) => u -> rs.size.toLong }
    val firstRid = valid.groupBy(_.uid.get).map { case (u, es) =>
      u -> es.map(_.record_id.get).min
    }
    val evRows = valid.map { e =>
      val uid = e.uid.get
      val os = byUidOut.getOrElse(uid.toString, Nil)
      val errors = os.flatMap(_.error).sorted(utf8Order)
      val (status, msg, attempt) = Cdc.verdict(Cdc.EventFacts(e.record_id, uid,
        e.event_type, e.attempt_now.get, firstRid.get(uid),
        row_n = if (os.isEmpty) 0L else rowN.getOrElse(uid.toString, 0L),
        pre_matched = os.exists(_.consumedDn.isDefined),
        matched_dn = maxUtf8(os.flatMap(_.consumedDn)).orElse(maxUtf8(
          os.filter(o => o.consumedDn.isEmpty && o.changed).flatMap(_.resultDn))),
        kernel_error = Option.when(errors.nonEmpty)(errors.mkString("\n")),
        kernel_warning = maxUtf8(os.flatMap(_.warning))), conf.db)
      Cdc.Update(e.record_id, status, msg, attempt, Some(readTime))
    }
    val fRows = evs.filter(_.v_error.isDefined).map(e =>
      Cdc.Update(e.record_id, "F", e.v_error, None, None))
    val updates = (evRows ++ fRows).toDF
    val renames = outcomes.filter(_.renameOldCn.isDefined)
      .map(o => (o.renameOldCn.get, o.srcCn)).toDF("old_cn", "new_cn")

    // 5 — the snapshot: one anti-filter pass plus the local upserts, in
    // one partition, so that a saved snapshot gains at most one file per
    // cycle. A checkpointed snapshot (the poll loop's) is coalesced back
    // to its partition count, or that one partition piles up over the
    // loop's cycles; the count is known without a job only there
    // (`Dataset.rdd` would run the plan of any other snapshot).
    val (dropped, upserts) = dir.diff
    val merged = snap1
      .filter(!coalesce(col("dn").isInCollection(dropped), lit(false)))
      .union(spark.createDataset(upserts).coalesce(1))
    val snapshot = snapshot0.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        merged.coalesce(r.rdd.getNumPartitions)
      case _ => merged
    }

    Cdc.CycleResult(snapshot, Cdc.writeback(eventlog, broadcast(updates)),
      updates, renames)(() => evs.size.toLong, () => outcomes.exists(_.renameOldCn.isDefined))
  }

  /** The snapshot entries the cycle has read, with its changes applied
    * in place. `diff` gives the fetched dns that changed or went, and the
    * entries to write in their place.
    */
  private final class Overlay(fetched0: Seq[Entry]) {
    private val fetched = mutable.Map.empty[String, Map[String, Seq[String]]]
    val entries = mutable.LinkedHashMap.empty[String, Map[String, Seq[String]]]
    fetch(fetched0)

    /** Entries read from the GC'd snapshot; one already read keeps its
      * current state.
      */
    def fetch(es: Seq[Entry]): Unit = {
      if (es.map(_.dn).distinct.size != es.size)
        throw new Unmodelled("a dn occurs twice in the snapshot")
      es.filterNot(e => fetched.contains(e.dn)).foreach { e =>
        if (entries.contains(e.dn))
          throw new Unmodelled(s"a change lands on the existing dn ${e.dn}")
        fetched(e.dn) = e.attrs
        entries(e.dn) = e.attrs
      }
    }
    def remove(dn: String): Unit = entries.remove(dn)
    def put(dn: String, attrs: Map[String, Seq[String]]): Unit = entries(dn) = attrs
    /** A new dn; one that exists would be a second row set-based. */
    def add(dn: String, attrs: Map[String, Seq[String]]): Unit = {
      if (entries.contains(dn))
        throw new Unmodelled(s"a change lands on the existing dn $dn")
      entries(dn) = attrs
    }
    def diff: (Seq[String], Seq[Entry]) = (
      fetched.keys.filter(dn => !entries.get(dn).contains(fetched(dn))).toSeq,
      entries.collect { case (dn, a) if !fetched.get(dn).contains(a) => Entry(dn, a) }.toSeq)
  }
}
