package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Observation}
import graft.etl._
import graft.etl.Directory.Entry

/** The reference's polling micro-batch loop (etl.py:390–426, §2.9) as a
  * deterministic, injectable runner:
  *
  *  - round-robin over N (baseDn, db) sources per cycle, each with its
  *    own eventlog table (the reference zips base_dns with databases),
  *  - batch cap (`maxRecords`) per source per cycle,
  *  - **drain rule**: skip the sleep entirely while any source returned
  *    a full batch (backlog catch-up, etl.py:604–606, 419–423),
  *  - end-of-cycle ph15 rename pass (C3),
  *  - liveness heartbeat touch per cycle (F14).
  *
  * State (snapshot + eventlogs) is lineage-truncated per cycle via
  * localCheckpoint — the batch-loop equivalent of a streaming
  * checkpoint, keeping Catalyst planning O(1) per cycle.
  */
object CdcStream {

  /** F14 consumer side (reference `liveness`:1–21): the loop is healthy
    * while the heartbeat file is younger than 2×sleeptime + 600 s.
    */
  def isAlive(heartbeat: java.nio.file.Path, sleeptimeSec: Long,
      nowMillis: Long = System.currentTimeMillis): Boolean = {
    if (!java.nio.file.Files.exists(heartbeat)) return false
    val age = (nowMillis -
      java.nio.file.Files.getLastModifiedTime(heartbeat).toMillis) / 1000
    age <= 2 * sleeptimeSec + 600
  }

  /** One (baseDn, db) source; `key` selects its eventlog in LoopState. */
  case class Source(conf: EtlConf, users: () => DataFrame, key: String = "postgres")

  /** `backlog`: the N/E events each source's eventlog held after its
    * last cycle (`Long.MaxValue` for a source that failed).
    */
  case class LoopState(
      snapshot: Dataset[Entry],
      eventlogs: Map[String, DataFrame],
      cyclesRun: Int,
      sleeps: Int,
      sourceErrors: Map[String, Int] = Map.empty,
      lastErrors: Map[String, String] = Map.empty,
      backlog: Map[String, Long] = Map.empty)

  /** Structured-Streaming form of the CDC loop: eventlog files appended
    * to a directory become micro-batches; `foreachBatch` folds each
    * batch through `Cdc.cycle` against the current user table, holding
    * the snapshot in an atomic reference (at cluster scale this state
    * would live in the copy-on-write snapshot store — Directory.save —
    * with the stream checkpoint carrying only source offsets). The
    * trigger's file is the unit of work, so each micro-batch runs
    * unbounded: every pending event in it gets a verdict. As any cycle,
    * a micro-batch over `Cdc.driverEventBound` events or
    * `Cdc.driverBatchBound` uids runs as consecutive chunks.
    */
  def startStreaming(
      spark: org.apache.spark.sql.SparkSession,
      snapshot0: Dataset[Entry],
      users: () => DataFrame,
      eventDir: String,
      conf: EtlConf,
      onCycle: Cdc.CycleResult => Unit = _ => ())
      : (org.apache.spark.sql.streaming.StreamingQuery,
         java.util.concurrent.atomic.AtomicReference[Dataset[Entry]]) = {
    import org.apache.spark.sql.functions._
    val state = new java.util.concurrent.atomic.AtomicReference(snapshot0)
    val batchNo = new java.util.concurrent.atomic.AtomicInteger(0)
    val stream = spark.readStream
      .schema(EtlSchema.eventSchema)
      .option("header", "true")
      .option("delimiter", ";")
      .option("nullValue", "")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .option("maxFilesPerTrigger", "1")
      .csv(eventDir)
    val q = stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val padded = EtlSchema.char3EventCols.foldLeft(batch)((df, c) =>
          df.withColumn(c, when(col(c).isNotNull, rpad(col(c), 3, " "))))
        val n = batchNo.incrementAndGet()
        val r = Cdc.cycle(state.get(), users(), padded,
          conf.copy(etlTimestamp = f"stream$n%04d"), maxRecords = Int.MaxValue)
        // streaming parity with the poll loop: queued cn renames
        // propagate into the ph15 twin tree at the end of each batch
        val withRenames =
          if (conf.ph15Dn.isDefined && r.renames.nonEmpty)
            Cdc.updatePh15Cn(r.snapshot, users(), r.renames,
              conf.copy(baseDn = conf.ph15Dn.get))
          else r.snapshot
        state.set(withRenames.localCheckpoint(true))
        // event verdicts / writeback do not vanish with the batch: the
        // caller observes every CycleResult (retry bookkeeping, audit)
        onCycle(r)
        ()
      }
      .start()
    (q, state)
  }

  /** Run cycles until no 'N'/'E' events remain in any source or
    * maxCycles is hit. `sleeper` is injected so tests can count/skip
    * real sleeping; `heartbeat` is touched every cycle (liveness:1–21).
    */
  def run(
      state0: LoopState,
      sources: Seq[Source],
      maxRecords: Int = 100,
      maxCycles: Int = 100,
      sleeper: () => Unit = () => Thread.sleep(20000),
      heartbeat: Option[java.nio.file.Path] = None): LoopState = {
    import org.apache.spark.sql.functions._
    // the ph15 rename pass drains the queue; without a ph15 source
    // there is no pass
    val ph15Source = sources.find(_.conf.isPh15)
    var st = state0
    var done = false
    while (!done && st.cyclesRun < maxCycles) {
      heartbeat.foreach { p =>
        java.nio.file.Files.writeString(p, System.nanoTime().toString)
      }
      var anyFull = false
      var renameQueue = Seq.empty[(String, String)]
      var stamp = 0
      // per-source post-cycle backlog, reused by the done check below —
      // a failed source counts as backlogged so `done` cannot falsely
      // trigger while its events are unprocessed
      var backlog = Map.empty[String, Long]
      for (src <- sources) {
        stamp += 1
        val conf = src.conf.copy(etlTimestamp =
          f"gen${st.cyclesRun}%04d_$stamp%02d") // unique per (cycle, source)
        // resilience (etl.py:1362–1373): a failing source is skipped
        // this cycle and retried next one, instead of killing the loop
        try {
          val elog = st.eventlogs(src.key)
          val r = Cdc.cycle(st.snapshot, src.users(), elog, conf, maxRecords)
          // accumulate across sources (the reference's ph15_change_dn
          // dict grows over the whole cycle and is drained once)
          renameQueue = (renameQueue ++ r.renames).distinct
          // the post-cycle backlog is observed on the checkpoint's own
          // pass over the eventlog, not counted by a job of its own. A
          // caller that appends each arriving batch by a union adds its
          // partitions every cycle; the narrow coalesce keeps the
          // checkpoint at most one partition per core.
          val backlogObs = Observation()
          val elogNew = r.eventlog
            .coalesce(elog.sparkSession.sparkContext.defaultParallelism)
            .observe(backlogObs, count(when(rtrim(col("status")).isin("N", "E"), 1))
              .as("pending"))
            .localCheckpoint(true)
          st = st.copy(
            snapshot = r.snapshot.localCheckpoint(true),
            eventlogs = st.eventlogs + (src.key -> elogNew))
          backlog += src.key -> backlogObs.get("pending").asInstanceOf[Long]
          // full batch ⇔ the cycle selected exactly maxRecords events
          if (r.selected >= maxRecords) anyFull = true
        } catch {
          case scala.util.control.NonFatal(e) =>
            // retain the cause — a silently spinning loop is
            // undiagnosable (the reference logs every failure)
            System.err.println(
              s"[graft-cdc] source ${src.key} failed this cycle: $e")
            backlog += src.key -> Long.MaxValue
            st = st.copy(
              sourceErrors = st.sourceErrors +
                (src.key -> (st.sourceErrors.getOrElse(src.key, 0) + 1)),
              lastErrors = st.lastErrors + (src.key -> e.toString))
        }
      }
      // C3 — end-of-cycle ph15 rename pass (etl.py:411–418)
      if (renameQueue.nonEmpty) ph15Source.foreach { p15 =>
        st = st.copy(snapshot = Cdc
          .updatePh15Cn(st.snapshot, p15.users(), renameQueue, p15.conf)
          .localCheckpoint(true))
      }
      st = st.copy(cyclesRun = st.cyclesRun + 1, backlog = st.backlog ++ backlog)
      // reuse the per-source backlog counts gathered above (one scan per
      // source per cycle, not two); eventlogs without a source row this
      // cycle are unreachable and excluded by construction. An empty
      // source list has no work by definition — terminate immediately.
      done = sources.isEmpty ||
        (backlog.nonEmpty && backlog.values.forall(_ == 0L))
      if (!done && !anyFull) { // drain rule: full batch ⇒ no sleep
        sleeper()
        st = st.copy(sleeps = st.sleeps + 1)
      }
    }
    st
  }
}
