package graft.streaming

import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.{DataFrame, Dataset, Observation}
import graft.etl._
import graft.etl.Directory.Entry

/** The reference's polling micro-batch loop (etl.py:390–426, §2.9) as a
  * deterministic, injectable runner (`run`), and its Structured-Streaming
  * form (`startStreaming`). Both run one loop body, `step`: each
  * source's `Cdc.cycle` on the snapshot the source before it left, the
  * end-of-cycle ph15 rename pass (C3) over the renames they queued, and
  * one store of the snapshot (`Cdc.store`) — the batch-loop equivalent of
  * a streaming checkpoint, keeping Catalyst planning O(1) per cycle.
  *
  * Around the step, the poll loop keeps:
  *
  *  - round-robin over N (baseDn, db) sources per cycle, each with its
  *    own eventlog table (the reference zips base_dns with databases),
  *    stored per cycle by the snapshot's rule,
  *  - batch cap (`maxRecords`) per source per cycle,
  *  - **drain rule**: skip the sleep entirely while any source returned
  *    a full batch (backlog catch-up, etl.py:604–606, 419–423),
  *  - resilience: a failed source, rename pass or checkpoint is counted
  *    and retried next cycle, never the end of the loop,
  *  - liveness heartbeat touch per cycle (F14).
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
    * to a directory become micro-batches, read as `EtlSchema.readEventsCsv`
    * reads a file, one file per trigger. `foreachBatch` runs each batch
    * as one `step` against the current user table, holding the snapshot
    * in an atomic reference (at cluster scale this state would live in
    * the copy-on-write snapshot store — Directory.save — with the stream
    * checkpoint carrying only source offsets). The trigger's file is the
    * unit of work, so each micro-batch runs unbounded: every pending
    * event in it gets a verdict. As any cycle, a micro-batch over
    * `Cdc.driverBatchBound` distinct uids runs as consecutive chunks.
    * With `conf.ph15Dn` set, the step's rename pass propagates the
    * batch's queued renames into the ph15 twin tree, as the poll loop's
    * does. Any failure of the step fails the
    * micro-batch, before the snapshot or `onCycle` sees it.
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
    val state = new java.util.concurrent.atomic.AtomicReference(snapshot0)
    val batchNo = new java.util.concurrent.atomic.AtomicInteger(0)
    val stream = EtlSchema.padChar3(spark.readStream
      .schema(EtlSchema.eventSchema)
      .options(EtlSchema.csvOptions)
      .option("maxFilesPerTrigger", "1")
      .csv(eventDir), EtlSchema.char3EventCols)
    val renamePass = conf.ph15Dn.map(d => Source(conf.copy(baseDn = d), users))
    val q = stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val n = batchNo.incrementAndGet()
        val (snap, results) = step(state.get(),
          Seq(Source(conf.copy(etlTimestamp = f"stream$n%04d"), users)), _ => batch,
          renamePass, maxRecords = Int.MaxValue)
        val r = results.head.get
        state.set(snap)
        // event verdicts / writeback do not vanish with the batch: the
        // caller observes every CycleResult (retry bookkeeping, audit)
        onCycle(r)
      }
      .start()
    (q, state)
  }

  /** The loop body (etl.py:390–426), shared by `run` and
    * `startStreaming`: each source's `Cdc.cycle`, in order, on the
    * snapshot the source before it left, reading `eventlog(source)`; then
    * the ph15 rename pass (C3) of `renamePass` over the distinct renames
    * the cycles queued (the reference's ph15_change_dn dict grows over
    * the whole cycle and is drained once, etl.py:411–418); then one
    * store of the snapshot (`Cdc.store`). Returns that snapshot and each
    * source's cycle result or failure: a failed source leaves the
    * snapshot as it found it. A failure of the pass or of the store is
    * thrown.
    */
  private def step(snapshot: Dataset[Entry], sources: Seq[Source],
      eventlog: Source => DataFrame, renamePass: Option[Source], maxRecords: Int)
      : (Dataset[Entry], Seq[Try[Cdc.CycleResult]]) = {
    var snap = snapshot
    val results = sources.map { src =>
      val r = Try(Cdc.cycle(snap, src.users(), eventlog(src), src.conf, maxRecords))
      r.foreach(c => snap = c.snapshot)
      r
    }
    val renames = results.flatMap(_.toOption).flatMap(_.renames).distinct
    if (renames.nonEmpty) renamePass.foreach { p =>
      snap = Cdc.updatePh15Cn(snap, p.users(), renames, p.conf)
    }
    (Cdc.store(snap), results)
  }

  /** Run cycles until no 'N'/'E' events remain in any source or
    * maxCycles is hit. Each cycle is one `step` over the sources, stamped
    * `gen<cycle>_<n>`, with the ph15 source (if any) as its rename pass
    * under its own conf; then each source's eventlog is stored.
    * `sleeper` is injected so tests can count/skip real sleeping;
    * `heartbeat` is touched every cycle (liveness:1–21).
    *
    * Resilience (etl.py:1362–1373): a failing source is skipped this
    * cycle and retried next one, instead of killing the loop; it is
    * counted in `sourceErrors` and `lastErrors`, and the other sources'
    * results stand. A failure of the rename pass or of the step's
    * checkpoint is counted under the ph15 source's key (every source's
    * without one), and the cycle leaves the snapshot and eventlogs as it
    * found them: the next one replays its events, idempotently, and
    * queues the renames again.
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
      // per-source post-cycle backlog, reused by the done check below —
      // a failed source counts as backlogged so `done` cannot falsely
      // trigger while its events are unprocessed
      var backlog = Map.empty[String, Long]
      val stamped = sources.zipWithIndex.map { case (src, i) => // unique per (cycle, source)
        src.copy(conf = src.conf.copy(etlTimestamp = f"gen${st.cyclesRun}%04d_${i + 1}%02d"))
      }
      val outcomes = Try(step(st.snapshot, stamped, s => st.eventlogs(s.key), ph15Source,
          maxRecords)) match {
        case Success((snap, results)) =>
          st = st.copy(snapshot = snap)
          stamped.zip(results)
        case Failure(e) => ph15Source.fold(stamped)(Seq(_)).map(_ -> Failure(e))
      }
      for ((src, result) <- outcomes) {
        // the post-cycle backlog is observed on the store's own pass
        // over the eventlog, not counted by a job of its own. A caller
        // that appends each arriving batch by a union adds its
        // partitions every cycle; the store bounds them.
        val backlogObs = Observation()
        result.flatMap(r => Try(r -> Cdc.store(r.eventlog
          .observe(backlogObs, count(when(Cdc.pending, 1)).as("pending"))))) match {
          case Success((r, elog)) =>
            st = st.copy(eventlogs = st.eventlogs + (src.key -> elog))
            backlog += src.key -> backlogObs.get("pending").asInstanceOf[Long]
            // full batch ⇔ the cycle selected exactly maxRecords events
            if (r.selected >= maxRecords) anyFull = true
          case Failure(e) =>
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
