package graft.etl

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
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
  * The cycle (`cycle`) runs on the driver: the batch it selects, its user
  * rows and the snapshot entries they touch are batch-sized, so they are
  * collected and the cycle is computed with the typed kernel
  * (`SyncEngine.mergeOne`) and one C8 verdict per event (`verdict`), then
  * applied with one pass over the snapshot and one over the eventlog.
  * The selection is collected whole and cut in record_id order into
  * consecutive chunks of at most `driverBatchBound` distinct valid uids;
  * one within the bound is one chunk, and a larger one (an unbounded
  * outage drain) runs as the reference's own drain does, capped batches
  * back to back without a sleep (etl.py:604–606, 419–423). GC (C6) runs
  * once, before the first chunk; each chunk then runs on the snapshot
  * the one before it left (`chained`), stored between chunks by the one
  * rule for a stored frame (`store`). The selection is one job
  * (`selectBatch`; a capped one is Spark's top-K). For each chunk, Spark
  * runs:
  *
  *  1. the chunk's user rows (`SyncEngine.toNewRows`, with the cn-dedup
  *     content hash), collected (`userRows`);
  *  2. the entries of the snapshot the chunk touches: lower(rdn) is one
  *     of its cns or the uid one of its uids, under any base (cn match,
  *     uid fallback and ambiguity, ph15 twins), collected
  *     (`touchedEntries`);
  *  3. only when the chunk deletes: the entries whose cn is a victim's
  *     cn, for the ph15 sweep, collected;
  *  4. the snapshot: the one before minus the changed and removed dns,
  *     plus the local upserts (`commit`); stored when another chunk
  *     follows.
  *
  * Each of these filters a key set with one hash-set predicate
  * (`inKeys`), so a query costs the same to build and plan whatever the
  * chunk's number of keys, and each collect is one job with no shuffle.
  *
  * Everything in between — cn-dedup, J2 matching, the merge kernel and
  * one change per dn (`mergeInto`), deletes, the ph15 sweep
  * (`SyncEngine.ph15Sweep`) and write-through, the C8 per-uid aggregates
  * with `verdict` per event, and the rename queue — is driver code over
  * one chunk's collections, so the driver never holds more than one
  * chunk's user rows and entries. Ties are broken by comparing strings
  * as UTF-8 bytes, as Spark does. The eventlog takes the shared writeback
  * over every chunk's verdicts, once.
  *
  * The ph15 rename pass (`updatePh15Cn`) runs steps 1, 2 and 4 with
  * `mergeInto` between them, over chunks of the rename queue's keys
  * (`renameChunks`).
  *
  * The snapshot's `dn` is unique (the Directory invariant), and matching
  * and cn-dedup are case-insensitive, so the engine never writes two dns
  * under one parent that equal case-insensitively. A snapshot that holds
  * a dn twice, or such a pair that a chunk's changes make collide, is
  * reported: `cycle` and `updatePh15Cn` throw an `IllegalStateException`
  * naming the dn, before any output.
  */
object Cdc {
  /** Most distinct valid uids one chunk of a cycle holds, and most keys
    * one chunk of the ph15 rename pass holds: the one chunk bound.
    * The driver-held inputs that grow with a chunk, its user rows and the
    * snapshot entries it touches, grow with its distinct uids, not with
    * its events; over the whole selection, the driver holds five scalars
    * (`Ev`) and one verdict row per event. Measured near this bound: a
    * poll cycle of 10,000 events on 8,888–8,971 distinct uids at 37,678
    * users took 5.2–5.5 s on the driver (syncbench's poll workload at a
    * 10,000-event cap, seeds 101–103, 4 cores), and also passed in a 2 GB
    * heap. With syncbench's bulk drain at 37,678 users (`Sizes(users =
    * 37678, bulkEvents = n)`, Zipf-skewed, 4 cores, one run each), one
    * chunk of 20,000 events on 7,741 uids took 6.6 s (seed 101), and in a
    * 2 GB heap 8.8 s on 7,752 uids with at most 1,521 MB of heap in use
    * (seed 102).
    */
  val driverBatchBound: Int = 10000

  case class CycleResult(
      snapshot: Dataset[Entry],
      eventlog: DataFrame,        // full table with statuses written back
      eventUpdates: DataFrame,    // record_id, status, error_message, attempt
      renames: Seq[(String, String)], // (old_cn, new_cn) queue for ph15 (C3)
      selected: Long)             // events the cycle selected

  /** C8's inputs for one valid event: the event's own fields plus its
    * uid's merge aggregates. `row_n` counts the uid's user rows (also
    * when every one of them lost the cn-dedup to another uid's row),
    * `pre_matched` is whether any of its rows consumed an entry,
    * `matched_dn` the entry its rows consumed or added, `result_dn` the
    * dn that entry holds after the merge, `kernel_error` its kernel
    * errors sorted and '\n'-joined, and `kernel_warning` the greatest
    * kernel warning.
    */
  private[etl] case class EventFacts(record_id: Option[Double], uid: Long,
      event_type: Option[Double], attempt_now: Int, first_rid: Option[Double],
      row_n: Long, pre_matched: Boolean, matched_dn: Option[String],
      result_dn: Option[String], kernel_error: Option[String],
      kernel_warning: Option[String])

  /** One eventlog update, the input of `writeback`. */
  private[etl] case class Update(record_id: Option[Double], new_status: String,
      new_error: Option[String], new_attempt: Option[Double],
      new_read: Option[java.sql.Timestamp])

  /** C8 — one valid event's verdict (etl.py:689–718): its status (S, W,
    * E or F), error_message and new attempt counter. Sequencing within a
    * uid is reconstructed from record_id order: the uid's first event
    * carries the kernel warning and finds the entry as it was before the
    * merge; a later insert of a uid that has rows finds the entry the
    * first one wrote, under the dn the merge gave it. A missing record_id
    * compares false, as in SQL.
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
        e.kernel_warning.filter(_ => first).orElse(
          (if (later) e.result_dn else e.matched_dn).map(dn =>
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

  /** An event the work queue still holds: its trimmed status is N (new)
    * or E (errored, retried). The selection and the poll loop's backlog
    * both read it.
    */
  val pending: Column = graft.functions.ConvertF.char3Eq(col("status"), "N") ||
    graft.functions.ConvertF.char3Eq(col("status"), "E")

  /** The one rule for a frame the CDC loop stores (a chunk's snapshot,
    * the step's snapshot, a source's eventlog): coalesced to at most one
    * partition per core, so that a frame that gains a partition every
    * cycle stays bounded, then checkpointed, so that its lineage does not
    * grow with the cycles. Its jobs carry the caller's file and line as
    * their call site, so that a job is counted where the frame is stored
    * (syncbench attributes a job to a module by its call site).
    */
  def store[T](ds: Dataset[T]): Dataset[T] = {
    val sc = ds.sparkSession.sparkContext
    val at = Thread.currentThread.getStackTrace()(2)
    val outer = sc.getLocalProperty("callSite.short")
    sc.setCallSite(s"store at ${at.getFileName}:${at.getLineNumber}")
    try ds.coalesce(sc.defaultParallelism).localCheckpoint(true)
    finally sc.setLocalProperty("callSite.short", outer)
  }

  /** `c` is one of `keys`, as one hash-set predicate (Catalyst's
    * `InSet`): its plan holds one expression node whatever the number of
    * keys, where a literal list (`isin`) holds one literal per key, which
    * every analyzer and optimizer pass walks. Matching is binary string
    * equality, and a null `c` gives null, as with the literal list.
    */
  private[etl] def inKeys(c: Column, keys: Iterable[String]): Column =
    GraftBridge.column(InSet(GraftBridge.expression(c),
      keys.iterator.map(k => UTF8String.fromString(k): Any).toSet))

  /** One poll cycle. `users` is the current user table state; `eventlog`
    * the current event table; returns the post-cycle snapshot and
    * eventlog. `uidBound` bounds a chunk (a test lowers it to force
    * chunks on small data).
    */
  def cycle(snapshot0: Dataset[Entry], users: DataFrame, eventlog: DataFrame,
      conf: EtlConf, maxRecords: Int = 100,
      readTime: java.sql.Timestamp = new java.sql.Timestamp(System.currentTimeMillis / 1000 * 1000),
      uidBound: Int = driverBatchBound)
      : CycleResult = {
    val spark = snapshot0.sparkSession
    import spark.implicits._
    val evs = selectBatch(eventlog, maxRecords, conf).as[Ev].collect().toSeq
    val (snap, outs) = chained(collectGarbage(snapshot0, conf), chunked(evs, uidBound))(
      runChunk(_, users, _, conf, readTime))
    val updatesDf = outs.flatMap(_._1).toDF
    CycleResult(snap, writeback(eventlog, broadcast(updatesDf)), updatesDf,
      outs.flatMap(_._2), evs.size.toLong)
  }

  /** C6 — collect already-ETD-synced deleted entries at cycle start; the
    * reference never garbage-collects the ph15 instance itself
    * (etl.py:406–407).
    */
  private[etl] def collectGarbage(snapshot0: Dataset[Entry], conf: EtlConf)
      : Dataset[Entry] =
    if (conf.isPh15) snapshot0 else SyncEngine.garbageCollect(snapshot0, conf)

  /** S3 — bounded work-queue scan (status flags are the offsets) and P3
    * validation: the first `maxRecords` pending events in record_id order
    * as `Ev`'s columns. The events are validated and projected before
    * they are ordered and limited, so that a capped batch is Spark's
    * top-K (`TakeOrderedAndProject`): one job, no shuffle, no full sort
    * (PlanQualitySpec). An unbounded batch (Int.MaxValue) is the plain
    * filter: the cap exists only to emulate the reference's cycle
    * batching, and a top-2^31 sort would be pure waste on a
    * process-everything scan.
    */
  private[graft] def selectBatch(eventlog: DataFrame, maxRecords: Int, conf: EtlConf)
      : DataFrame = {
    val pendingEv = validate(eventlog.filter(pending), conf)
      .select(col("record_id"), col("v_error"), col("uid"), col("event_type"),
        when(col("v_error").isNull,
          coalesce(col("attempt"), lit(0.0)).cast("int")).as("attempt_now"))
    if (maxRecords == Int.MaxValue) pendingEv
    else pendingEv.orderBy("record_id").limit(maxRecords)
  }

  /** P3 — validation with error routing (etl.py:615–652): adds `v_error`
    * (NULL for a valid event) and the numeric `uid`. NULL fields must
    * fail validation, not slip through a null-valued when(): every
    * predicate is explicitly null-armed.
    */
  private def validate(batch: DataFrame, conf: EtlConf): DataFrame = {
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

  /** The write-through columns: the ph15 twin receives these source
    * columns when they change (etl.py:338 ph15_writethrough), the
    * password as its own path. Note the asymmetry: emailadresse_st is
    * excluded from the NORMAL ph15 sync (notSyncedPh15) but IS written
    * through on change — the write-through is the only road it travels
    * into ph15.
    */
  private[etl] val writethroughKeys: Seq[String] =
    Seq("vorname", "nachname", "emailadresse_st", "passwort")

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
      Directory.writeAtomically(s"$dir/hwm_$db", hwm.toString.getBytes("UTF-8"))
    }
  }

  /** C3 — end-of-cycle rename propagation into ph15 (etl.py:762–781):
    * re-sync the user rows whose trimmed benutzername is either side of a
    * queued rename against the ph15 base, with the cycle's driver merge
    * (`mergeInto`). Every row is an update (`isNew = false`); there is no
    * GC, delete, write-through or verdict.
    *
    * Scale: the queue holds one rename per renaming merge outcome of the
    * cycles it was collected from, so it grows with their batches, not
    * with the snapshot or the user table. Its keys are cut into chunks of
    * at most `keyBound` keys (`renameChunks`), a rename's two cns in one
    * chunk, each run on the snapshot the one before it left, so the
    * driver holds one chunk's user rows and entries.
    */
  def updatePh15Cn(snapshot: Dataset[Entry], users: DataFrame,
      renames: Seq[(String, String)], ph15Conf: EtlConf,
      keyBound: Int = driverBatchBound): Dataset[Entry] =
    chained(snapshot, renameChunks(renames, keyBound)) { (snap, keys) =>
      val rows = userRows(SyncEngine.toNewRows(
        users.filter(inKeys(trim(col("benutzername")), keys))))
      val dir = new Overlay(touchedEntries(snap, rows,
        rows.flatMap(r => Option(r.src_uid)).distinct, None))
      mergeInto(dir, rows, ph15Conf)
      (commit(snap, dir), ())
    }._1

  /** One selected event; `attempt_now` is C8's attempt as Spark casts it,
    * and `uid` is defined for a valid event only.
    */
  private[etl] case class Ev(record_id: Option[Double], v_error: Option[String],
      uid: Option[Long], event_type: Option[Double], attempt_now: Option[Int])

  /** One converted user row with its cn-dedup content hash. Not private:
    * the decoder Spark generates for it must reach its members, or it
    * fails to compile and every chunk decodes its rows interpreted.
    */
  private[etl] case class UserRow(src_cn: String, src_uid: String, pw_plain: Option[String],
      new_attrs: Map[String, Seq[String]], h: Long)

  private implicit val evEnc: Encoder[Ev] = Encoders.product[Ev]
  private implicit val rowEnc: Encoder[UserRow] = Encoders.product[UserRow]

  /** Spark's string order: unsigned UTF-8 bytes (= code point order). */
  private[etl] val utf8Order: Ordering[String] = new Ordering[String] {
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
    Ordering.by((r: UserRow) => (Option(r.src_uid).map(_.toLong), r.h, r.pw_plain))(
      Ordering.Tuple3(Ordering.Option(Ordering.Long).reverse, Ordering.Long.reverse,
        Ordering.Option(utf8Order).reverse))

  private def maxUtf8(xs: Iterable[String]): Option[String] =
    xs.reduceOption((a, b) => if (utf8Order.gteq(a, b)) a else b)

  /** `each` over `chunks` in order, each on the snapshot the one before it
    * left: the last snapshot and every chunk's output.
    */
  private def chained[C, A](snap0: Dataset[Entry], chunks: Seq[C])(
      each: (Dataset[Entry], C) => (Dataset[Entry], A))
      : (Dataset[Entry], Seq[A]) = {
    var snap = snap0
    val outs = chunks.zipWithIndex.map { case (chunk, i) =>
      val (next, out) = each(snap, chunk)
      if (i == chunks.size - 1) snap = next
      else {
        // the next chunk reads this one's snapshot: stored, so that the
        // lineage does not grow with the chunks; the one before it is
        // read by nothing once this one is stored
        val kept = store(next)
        if (i > 0) snap.queryExecution.logical.foreach {
          case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = false)
          case _ => ()
        }
        snap = kept
      }
      out
    }
    (snap, outs)
  }

  /** The selection in record_id order (nulls first, as Spark sorts), cut
    * into consecutive chunks of at most `uidBound` distinct valid uids: a
    * chunk ends where the next event's uid would take it past the bound.
    * A selection within the bound is one chunk; an empty one is none.
    */
  private[etl] def chunked(evs: Seq[Ev], uidBound: Int): Seq[Seq[Ev]] =
    cut(evs.sortBy(_.record_id), uidBound)(_.uid.toSeq)

  /** The rename queue as chunks of its keys: the distinct renames in
    * UTF-8 order, cut where a rename would take a chunk past `keyBound`
    * distinct cns. A rename is never split.
    */
  private[etl] def renameChunks(renames: Seq[(String, String)], keyBound: Int)
      : Seq[Seq[String]] =
    cut(renames.distinct.sorted(Ordering.Tuple2(utf8Order, utf8Order)), keyBound)(
      r => Seq(r._1, r._2)).map(_.flatMap(r => Seq(r._1, r._2)).distinct)

  /** `xs` in order as consecutive chunks of at most `keyBound` distinct
    * keys; an empty chunk takes any item.
    */
  private def cut[T, K](xs: Seq[T], keyBound: Int)(keysOf: T => Seq[K]): Seq[Seq[T]] = {
    val out = mutable.ArrayBuffer.empty[Seq[T]]
    val cur = mutable.ArrayBuffer.empty[T]
    val keys = mutable.Set.empty[K]
    xs.foreach { x =>
      val ks = keysOf(x)
      if (cur.nonEmpty && keys.size + ks.distinct.count(!keys(_)) > keyBound) {
        out += cur.toSeq
        cur.clear()
        keys.clear()
      }
      cur += x
      keys ++= ks
    }
    if (cur.nonEmpty) out += cur.toSeq
    out.toSeq
  }

  /** Step 1: `newRows` (columns of `SyncEngine.toNewRows`) with the
    * cn-dedup content hash, collected.
    */
  private def userRows(newRows: DataFrame): Seq[UserRow] = {
    import newRows.sparkSession.implicits._
    newRows.select(col("src_cn"), col("src_uid"), col("pw_plain"), col("new_attrs"),
      SyncEngine.cnDedupHash.as("h")).as[UserRow].collect().toSeq
  }

  /** Step 2: the entries of `snap` that a merge of `rows` reads, and the
    * ones that carry one of `uids`, under any base; with `twinBase`, also
    * the twins of the rows' cns under it. Collected, in one job whose
    * filter (`touchedBy`) is three hash-set predicates at most.
    */
  private def touchedEntries(snap: Dataset[Entry], rows: Seq[UserRow], uids: Seq[String],
      twinBase: Option[String]): Seq[Entry] =
    touchedBy(rows.flatMap(r => Option(r.src_cn)).distinct, uids, twinBase)
      .map(c => snap.filter(c).collect().toSeq).getOrElse(Nil)

  /** `touchedEntries`' filter over the distinct `srcCns`: one `inKeys`
    * predicate per key set, so its plan has the same size whatever the
    * chunk's number of keys. None when there are no keys.
    */
  private[etl] def touchedBy(srcCns: Seq[String], uids: Seq[String],
      twinBase: Option[String]): Option[Column] = {
    val cnKeys = srcCns.map(_.toLowerCase).distinct
    Seq(
      Option.when(cnKeys.nonEmpty)(inKeys(lower(Directory.rdnValueCol(col("dn"))), cnKeys)),
      Option.when(uids.nonEmpty)(
        inKeys(element_at(col("attrs")("phonlineUniqueId"), 1), uids)),
      twinBase.filter(_ => srcCns.nonEmpty).map(b =>
        inKeys(lower(col("dn")), srcCns.map(c => s"cn=$c,$b".toLowerCase))))
      .flatten.reduceOption(_ || _)
  }

  /** cn-dedup, J2 match and the kernel (`isNew = false`) of `rows`
    * against the entries of `dir` under the base, with one change per
    * consumed dn (highest uid, then cn) and the adds applied to `dir`.
    * Returns the kernel's outcomes and the cn-dedup winners by lower(cn).
    */
  private def mergeInto(dir: Overlay, rows: Seq[UserRow], conf: EtlConf)
      : (Seq[MergeRow], Map[String, UserRow]) = {
    val (nullCn, withCn) = rows.partition(_.src_cn == null)
    val winners = withCn.groupBy(_.src_cn.toLowerCase).map { case (k, rs) =>
      k -> rs.min(dedupOrder)
    }
    val deduped = nullCn ++ winners.values
    val under = dir.entries.toSeq
      .collect { case (dn, a) if parentDn(dn) == conf.baseDn => Entry(dn, a) }
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
    (outcomes, winners)
  }

  /** Step 4: `snap` with `dir`'s changes, in one anti-filter pass (one
    * hash-set predicate over the dropped dns) plus the local upserts in
    * one partition, so that a saved snapshot gains at most one file per
    * cycle. The loop's next `store` bounds the partitions that one
    * partition adds per cycle.
    */
  private def commit(snap: Dataset[Entry], dir: Overlay): Dataset[Entry] = {
    val (dropped, upserts) = dir.diff
    snap.filter(!coalesce(inKeys(col("dn"), dropped), lit(false)))
      .union(snap.sparkSession.createDataset(upserts)(Encoders.product[Entry]).coalesce(1))
  }

  /** One chunk of the cycle on `snap`: the snapshot after it, its
    * eventlog updates and its rename queue.
    */
  private def runChunk(snap: Dataset[Entry], users: DataFrame,
      evs: Seq[Ev], conf: EtlConf, readTime: java.sql.Timestamp)
      : (Dataset[Entry], (Seq[Update], Seq[(String, String)])) = {
    val valid = evs.filter(_.v_error.isEmpty)
    val batchUids = valid.map(_.uid.get.toString).distinct

    // 1 — the chunk's user rows (J1 on pk_uniqueid cast to long, in its
    // string form `src_uid`)
    val rows: Seq[UserRow] =
      if (batchUids.isEmpty) Nil
      else userRows(SyncEngine.toNewRows(users)
        .filter(inKeys(col("src_uid"), batchUids)))

    // 2 — the touched entries of the snapshot, then J2 and the kernel
    val writethrough = conf.ph15Dn.nonEmpty && !conf.isPh15
    val dir = new Overlay(touchedEntries(snap, rows, batchUids,
      Option.when(writethrough)(conf.dn15)))
    val (outcomes, winners) = mergeInto(dir, rows, conf)

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
      // 3 — the ph15 sweep over the entries under the victims' cns
      val victimCns = victims.map(rdnValue).distinct
      dir.fetch(snap.filter(inKeys(Directory.rdnValueCol(col("dn")), victimCns))
        .collect().toSeq)
      SyncEngine.ph15Sweep(dir.entries, victimCns, conf).foreach(dir.remove)
    }

    // C9 — ph15 write-through of the changed write-through columns: the
    // twin is matched case-insensitively (LDAP caseIgnoreMatch, like the
    // cn match), attributes are never deleted there, and no etlTimestamp
    // is stamped (etl.py:1112–1165)
    if (writethrough) {
      val patches = outcomes
        .filter(o => o.changed && o.changedSrcKeys.exists(writethroughKeys.contains))
        .flatMap(o => winners.get(o.srcCn.toLowerCase).map { r =>
          s"cn=${r.src_cn},${conf.dn15}".toLowerCase ->
            ph15Patch(r.new_attrs, r.pw_plain, o.changedSrcKeys, conf)
        })
      patches.groupBy(_._1).collectFirst { case (dn, ps) if ps.size > 1 => dn }
        .foreach(dn => invariant(s"two write-through patches for the ph15 twin $dn"))
      val byDn = patches.toMap
      dir.entries.toSeq.foreach { case (dn, a) =>
        byDn.get(dn.toLowerCase).foreach(p => dir.put(dn, a -- p.keys ++ p))
      }
    }

    // C8 — the per-uid aggregates, then `verdict` per event
    val byUidOut = outcomes.groupBy(_.srcUid)
    val rowN = rows.groupBy(_.src_uid).map { case (u, rs) => u -> rs.size.toLong }
    val firstRid = valid.groupBy(_.uid.get).map { case (u, es) =>
      u -> es.flatMap(_.record_id).minOption
    }
    val evRows = valid.map { e =>
      val uid = e.uid.get
      val os = byUidOut.getOrElse(uid.toString, Nil)
      val errors = os.flatMap(_.error).sorted(utf8Order)
      val (status, msg, attempt) = verdict(EventFacts(e.record_id, uid,
        e.event_type, e.attempt_now.get, firstRid(uid),
        row_n = rowN.getOrElse(uid.toString, 0L),
        pre_matched = os.exists(_.consumedDn.isDefined),
        matched_dn = maxUtf8(os.flatMap(_.consumedDn)).orElse(maxUtf8(
          os.filter(o => o.consumedDn.isEmpty && o.changed).flatMap(_.resultDn))),
        result_dn = maxUtf8(os.flatMap(o => if (o.changed) o.resultDn else o.consumedDn)),
        kernel_error = Option.when(errors.nonEmpty)(errors.mkString("\n")),
        kernel_warning = maxUtf8(os.flatMap(_.warning))), conf.db)
      Update(e.record_id, status, msg, attempt, Some(readTime))
    }
    val fRows = evs.filter(_.v_error.isDefined).map(e =>
      Update(e.record_id, "F", e.v_error, None, None))
    val renames = outcomes.filter(_.renameOldCn.isDefined)
      .map(o => (o.renameOldCn.get, o.srcCn))
    (commit(snap, dir), (evRows ++ fRows, renames))
  }

  /** A state that only a snapshot breaking the Directory invariant
    * reaches, reported as a failure of the cycle.
    */
  private def invariant(what: String): Nothing =
    throw new IllegalStateException(
      s"$what: the snapshot breaks the Directory invariant (one entry per dn, " +
        "no two dns under one parent that equal case-insensitively)")

  /** The snapshot entries the cycle has read, with its changes applied
    * in place. `diff` gives the fetched dns that changed or went, and the
    * entries to write in their place.
    */
  private final class Overlay(fetched0: Seq[Entry]) {
    private val fetched = mutable.Map.empty[String, Map[String, Seq[String]]]
    val entries = mutable.LinkedHashMap.empty[String, Map[String, Seq[String]]]
    fetch(fetched0)

    /** Entries read from the snapshot; one already read keeps its current
      * state.
      */
    def fetch(es: Seq[Entry]): Unit = {
      es.groupBy(_.dn).collectFirst { case (dn, g) if g.size > 1 => dn }
        .foreach(dn => invariant(s"the dn $dn occurs twice in the snapshot"))
      es.filterNot(e => fetched.contains(e.dn)).foreach { e =>
        fetched(e.dn) = e.attrs
        add(e.dn, e.attrs)
      }
    }
    def remove(dn: String): Unit = entries.remove(dn)
    def put(dn: String, attrs: Map[String, Seq[String]]): Unit = entries(dn) = attrs
    /** A new dn: one that exists would be a second entry for it. */
    def add(dn: String, attrs: Map[String, Seq[String]]): Unit = {
      if (entries.contains(dn)) invariant(s"a change lands on the existing dn $dn")
      entries(dn) = attrs
    }
    def diff: (Seq[String], Seq[Entry]) = (
      fetched.keys.filter(dn => !entries.get(dn).contains(fetched(dn))).toSeq,
      entries.collect { case (dn, a) if !fetched.get(dn).contains(a) => Entry(dn, a) }.toSeq)
  }
}
