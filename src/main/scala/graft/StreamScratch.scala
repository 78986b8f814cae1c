package graft

/** Scaffolding of EPHEMERAL streaming drains: the throwaway session,
  * the checkpoint location, and the teardown (`session`, `stop`).
  * Every drained replay in the engine (StreamToolOps.drain, the
  * streaming file sink, the MV fold loop) creates a checkpoint, runs a
  * bounded drain to completion, and deletes the checkpoint — the
  * checkpoint is scaffolding of the drain protocol, never resumed from,
  * so it has NO durability requirement. Spark's default temp checkpoint
  * lands under java.io.tmpdir, which on this box is disk-backed: every
  * trigger then pays offset-log + commit-log + per-partition state-store
  * delta creates/fsyncs against disk (guide §6 — I/O placement; §7.3 —
  * these are driver/commit constants, not data cost). Pointing the
  * drain checkpoints at a RAM-backed filesystem removes that I/O
  * without touching trigger/watermark semantics or any drained row.
  *
  * A LIVE deployment resumes from its checkpoint across restarts, so it
  * passes a DURABLE path — that is what `SPARK_GRAFT_STREAM_CK_DIR`
  * parameterizes (set it to the durable checkpoint root; the engine
  * only picks /dev/shm when the knob is unset and the tmpfs has at
  * least 1 GB usable — a small tmpfs falls back to java.io.tmpdir).
  * The knob scales: at 100 TB the drain queries' checkpoints are still
  * ephemeral per drain, while long-lived production streams do not go
  * through `drain` at all — they own their checkpointLocation.
  */
object StreamScratch {

  private val MinShmBytes = 1L << 30

  private lazy val base: String = {
    val b = sys.env.get("SPARK_GRAFT_STREAM_CK_DIR").getOrElse {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite && shm.getUsableSpace >= MinShmBytes)
        shm.getPath
      else System.getProperty("java.io.tmpdir")
    }
    sweepDead(b)
    b
  }

  private val CkName = """graft_ck_(\d+)_.*""".r

  /** Delete the checkpoint dirs of JVMs that are gone: the in-process
    * `cleanup` never runs for a killed JVM, and tmpfs holds the pages
    * until the files are deleted. Runs on first use of the scratch.
    */
  private[graft] def sweepDead(dir: String): Unit =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .foreach { f =>
        f.getName match {
          case CkName(pid) if pid.toLongOption.exists(p =>
              ProcessHandle.of(p).isEmpty) => cleanup(f.getPath)
          case _ => ()
        }
      }

  /** A fresh, unique checkpoint dir for one drain. `tag` is the drain's
    * unique query name (callers already make it unique); the pid
    * keeps concurrent JVMs (sbt test forks, bench + dev loop) apart.
    */
  def checkpointDir(tag: String): String =
    new java.io.File(base,
      s"graft_ck_${ProcessHandle.current().pid()}_$tag").getPath

  /** Delete a drain checkpoint after the query stopped (RAM hygiene —
    * tmpfs holds pages until deleted).
    */
  def cleanup(dir: String): Unit =
    graft.etl.Directory.deleteRecursively(new java.io.File(dir))

  /** A throwaway child session for one drain. Spark 4 gives every
    * artifact-isolated session its own executor class loader, and
    * generated code is cached per class loader, so each fresh isolated
    * session recompiled every plan it ran (measured ~0.15-0.25 s per
    * drain at sf0.1). graft adds no session artifacts, so the child
    * shares the default, non-isolated class loader. The setting is
    * read on the session's first query, which is why it is set here.
    */
  def session(s: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.SparkSession = {
    val child = s.newSession()
    child.conf.set("spark.sql.artifact.isolation.enabled", "false")
    child
  }

  /** End a drain that ran in its own throwaway session: stop `q`,
    * delete its checkpoint `dir`, and detach the streaming listener
    * buses of that session and of the stream's clone from the
    * SparkContext (Spark never removes them — repeated drains would
    * otherwise accumulate them).
    */
  def stop(q: org.apache.spark.sql.streaming.StreamingQuery,
      dir: String): Unit =
    try q.stop()
    finally {
      try cleanup(dir)
      finally org.apache.spark.sql.GraftBridge.detachStreamingListenerBuses(q)
    }
}
