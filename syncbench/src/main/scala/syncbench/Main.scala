package syncbench

import java.io.File
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.etl._
import graft.etl.Directory.Entry
import graft.streaming.CdcStream

/** The sync-service benchmark. One run = one workload in one JVM:
  * set-up (session, inputs, prerequisite snapshot, warm-up), a timed
  * section of `--seconds` (at least one operation), output checks
  * outside the timed window, and one JSON line. With `--trace 1` a
  * traced section follows the untraced one and the JSON carries the
  * per-layer figures instead of the end-to-end ones.
  *
  * Both workloads are closed loops with one caller, the sync loop
  * itself, over the same kind of snapshot:
  *  - poll_100: `CdcStream.run`, one cycle per call at maxRecords=100.
  *    Before each cycle the next 100 events arrive and the user rows
  *    they describe change, so every batch is full (the drain rule never
  *    sleeps). The first cycles run untimed, in set-up. The per-cycle
  *    constant and the whole-snapshot rewrite dominate.
  *  - bulk_cdc: the drain after an outage: `Directory.load` of the
  *    published snapshot, one unbounded `Cdc.cycle` over Zipf-skewed
  *    events, `Directory.save`, and the eventlog writeback as Parquet.
  *    Executor work, shuffle and the writeback dominate.
  */
object Main {

  /** Input sizes. The defaults are what the benchmark runs; tests run
    * smaller ones.
    */
  case class Sizes(users: Int = 3000, perChunk: Int = 100,
      maxChunks: Int = 60, bulkEvents: Int = 20000, warmCycles: Int = 1,
      timedCycles: Int = 2, warmEvents: Int = 500)

  case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: File, cores: Int, sizes: Sizes = Sizes(),
      plantWrongVerdict: Boolean = false, plantMissedDelete: Boolean = false)

  case class Metric(name: String, value: Double, unit: String)

  case class Result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[Metric], notes: Seq[String])

  val workloads: Seq[String] = Seq("poll_100", "bulk_cdc")

  val conf: EtlConf = EtlConf(baseDn = "ou=user,ou=ph08,o=BMUKK",
    cryptoIvHex = Some("0" * 32), ph15Dn = Some("ou=user,ou=ph15,o=BMUKK"))

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def arg(k: String) = kv.getOrElse(k, sys.error(s"missing $k"))
    val opts = Opts(arg("--workload"), arg("--seed").toLong,
      arg("--seconds").toDouble, arg("--trace") == "1",
      new File(arg("--work")), arg("--cores").toInt)
    require(workloads.contains(opts.workload),
      s"unknown workload ${opts.workload}; one of ${workloads.mkString(", ")}")
    val r = run(opts)
    r.notes.foreach(println)
    println(json(r))
  }

  def json(r: Result): String = {
    def num(x: Double): String =
      if (x.isNaN || x.isInfinite) "0" else java.lang.Double.toString(x)
    val ms = r.metrics.map(m =>
      s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
    s"""{"correct": ${r.correct}, "attempted": ${r.attempted}, """ +
      s""""failed": ${r.failed}, "metrics": {${ms.mkString(", ")}}}"""
  }

  /** local[cores], shuffle partitions = cores, AQE on, as the engine's
    * own bench runs it.
    */
  def session(opts: Opts): SparkSession = {
    val n = opts.cores.toString
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("syncbench")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(opts.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(opts.work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // ---- timing -----------------------------------------------------------

  /** Wall windows of the timed operations and of the engine calls made
    * in them; a failed operation keeps the time it ran before failing.
    */
  final class Clock {
    val secs = mutable.ArrayBuffer.empty[Double]
    val windows = mutable.ArrayBuffer.empty[(Long, Long)]
    private val calls = mutable.Map.empty[String, mutable.ArrayBuffer[(Long, Long)]]
    private def timed[T](done: (Double, (Long, Long)) => Unit)(f: => T): T = {
      val w0 = System.currentTimeMillis
      val t0 = System.nanoTime
      try f finally done((System.nanoTime - t0) / 1e9, (w0, System.currentTimeMillis))
    }
    def op[T](f: => T): T = timed { (s, w) => secs += s; windows += w }(f)
    def call[T](name: String)(f: => T): T =
      timed { (_, w) => calls.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += w }(f)
    def callMap: Map[String, Seq[(Long, Long)]] = calls.view.mapValues(_.toSeq).toMap
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Bytes held by Spark blocks (memory + disk) once the context cleaner
    * has dropped the blocks of unreachable datasets.
    */
  def retainedBytes(spark: SparkSession): Long = {
    def now = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum
    var prev = -1L
    var cur = now
    var i = 0
    while (cur != prev && i < 20) {
      System.gc()
      Thread.sleep(150)
      prev = cur
      cur = now
      i += 1
    }
    cur
  }

  // ---- inputs -----------------------------------------------------------

  private val versionSchema = StructType(EtlSchema.userSchema.fields ++
    Gen.versionFields.map(StructField(_, IntegerType)))
  private val chunkSchema = StructType(EtlSchema.eventSchema.fields :+
    StructField(Gen.chunkField, IntegerType))
  private def chunkOf(r: Row): Int = r.getInt(r.length - 1)
  private def ridOf(r: Row): Long = r.getDouble(0).toLong
  private def events(spark: SparkSession, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.map(r => Row.fromSeq(r.toSeq.dropRight(1))).asJava,
      EtlSchema.eventSchema)

  /** The source tables as the engine reads them: the versioned user
    * table and (when read) the eventlog, written as Parquet and read back.
    */
  final class Tables(spark: SparkSession, in: Gen.Inputs, dir: File) {
    private def store(rows: Seq[Row], schema: StructType, name: String) = {
      val p = new File(dir, name).getPath
      spark.createDataFrame(rows.asJava, schema).write.parquet(p)
      spark.read.schema(schema).parquet(p)
    }
    val versions: DataFrame = store(in.versions, versionSchema, "users")
    lazy val eventlog: DataFrame = store(in.events, chunkSchema, "events")
      .select(EtlSchema.eventFields.map(col): _*)

    /** The user table as of version `v`. */
    def users(v: Int): DataFrame = versions
      .filter(col("_from") <= v && col("_to") > v)
      .select(EtlSchema.userFields.map(col): _*)
  }

  /** Load `users` into an empty tree and publish it to `dir`. */
  def publishSnapshot(spark: SparkSession, users: DataFrame, dir: File): Unit = {
    import spark.implicits._
    val r = InitialLoad.run(spark.emptyDataset[Entry], users, conf)
    Directory.save(r.snapshot, dir.getPath)
  }

  // ---- checks -----------------------------------------------------------

  /** Record ids whose verdict is wrong: every expected event must have
    * exactly one row carrying the planted verdict, and no other event
    * may have a verdict.
    */
  def wrongVerdicts(expected: Map[Long, String], got: Seq[(Long, String)])
      : Set[Long] = {
    val byId = got.groupBy(_._1)
    val bad = expected.collect {
      case (rid, v) if !byId.get(rid).map(_.map(_._2)).contains(Seq(v)) => rid
    }
    bad.toSet ++ byId.keySet.diff(expected.keySet)
  }

  /** `expected` with the verdict of its first event flipped. */
  def plantWrong(expected: Map[Long, String]): Map[Long, String] = {
    val rid = expected.keys.min
    expected.updated(rid, if (expected(rid) == "S") "W" else "S")
  }

  def statuses(eventlog: DataFrame): Seq[(Long, String)] =
    eventlog.select(col("record_id"), rtrim(col("status")))
      .collect().toSeq.map(r => (r.getDouble(0).toLong, r.getString(1)))

  def tally(xs: Iterable[String]): String =
    xs.groupBy(identity).toSeq.sortBy(_._1).map { case (k, v) => s"$k=${v.size}" }
      .mkString(" ")

  /** `snap` with the delete mark taken off one deleted entry: what a
    * CDC that stopped delete-marking would leave.
    */
  def unmarkOneDelete(snap: Dataset[Entry]): Dataset[Entry] = {
    val spark = snap.sparkSession
    import spark.implicits._
    val dn = snap.filter(_.attrs.contains("idnDeleted")).map(_.dn)
      .orderBy("value").head()
    snap.map(e => if (e.dn == dn) e.copy(attrs = e.attrs - "idnDeleted") else e)
  }

  // ---- the run ------------------------------------------------------------

  def run(opts: Opts): Result = {
    opts.work.mkdirs()
    val t0 = System.nanoTime
    val spark = session(opts)
    try {
      val bench = opts.workload match {
        case "poll_100" => new Poll(spark, opts)
        case "bulk_cdc" => new Bulk(spark, opts)
      }
      bench.run(t0)
    } finally spark.stop()
  }

  /** Per-layer metrics only one workload fills (0 on the other). */
  val workloadLayers: Seq[(String, String)] = Seq(
    "cdcstream.cycle_jobs" -> "count", "cdc.call_s" -> "s",
    "cdc.call_jobs" -> "count", "directory.load_s" -> "s",
    "directory.save_s" -> "s", "directory.write_mb" -> "MB",
    "directory.files" -> "count")

  /** Shared run skeleton: set-up, untraced section, optional traced
    * section, checks, report.
    */
  abstract class Bench(spark: SparkSession, opts: Opts) {
    protected val sz: Sizes = opts.sizes
    protected val failedOps = mutable.Set.empty[Int]
    protected var ops = 0
    protected val notes = mutable.ArrayBuffer.empty[String]

    /** Inputs, prerequisite snapshot, warm-up. */
    def setup(): Unit
    /** Timed operations until `seconds` have passed (at least one). */
    def section(clock: Clock, seconds: Double): Unit
    /** Output checks; returns failure messages. */
    def check(clock: Clock): Seq[String]
    /** Events given a verdict per operation. */
    def eventsPerOp: Double
    /** Values for `workloadLayers`. */
    def layerValues(l: Trace.Layers): Map[String, Double]

    protected def step[T](name: String)(f: => T): T = {
      val t = System.nanoTime
      try f finally notes += f"#   ${opts.workload} $name ${(System.nanoTime - t) / 1e9}%.3f s"
    }

    /** Runs `f` as the next operation; an exception or OOM fails it. */
    protected def attempt(clock: Clock)(f: => Unit): Boolean = {
      val i = ops
      ops += 1
      try { clock.op(f); true } catch {
        case e @ (NonFatal(_) | _: OutOfMemoryError) =>
          notes += s"# operation $i failed: $e"
          failedOps += i
          false
      }
    }

    /** Runs `body` until `seconds` have passed and at least `minOps`
      * operations ran, or until it fails or `more` is false.
      */
    protected def timedLoop(clock: Clock, seconds: Double, minOps: Int)
        (more: => Boolean)(body: => Boolean): Unit = {
      val end = System.nanoTime + (seconds * 1e9).toLong
      var ok = true
      while (ok && more && (clock.secs.size < minOps || System.nanoTime < end))
        ok = body
    }

    /** The checks every run ends with. The fixpoint: a full resync
      * (`InitialLoad.run`) of the final snapshot against the final user
      * table changes no row and leaves the same tree; the tree comparison
      * catches what the resync's deletion sweep removes without recording
      * an outcome, such as a deleted entry the CDC left unmarked. Returns
      * the events with a wrong verdict and the failure messages.
      */
    protected def cdcChecks(clock: Clock, expected: Map[Long, String],
        got: Seq[(Long, String)], snap0: Dataset[Entry], users: DataFrame)
        : (Set[Long], Seq[String]) = {
      val snap = if (opts.plantMissedDelete) unmarkOneDelete(snap0) else snap0
      val wrong = wrongVerdicts(expected, got)
      notes += s"# verdicts ${tally(got.map(_._2))}; planted ${tally(expected.values)}"
      val pending = got.count(g => g._2 == "N" || g._2 == "E")
      val dups = step("check duplicate dns")(Directory.duplicateDns(snap))
      val resync = clock.call("initialload.call")(InitialLoad.run(snap, users, conf))
      val changed = step("check resync outcomes")(
        resync.outcomes.toDF().filter(col("changed")).count())
      val (before, after) = step("check resync tree")((
        Directory.dump(snap).linesIterator.toSet,
        Directory.dump(resync.snapshot).linesIterator.toSet))
      val differ = before.diff(after).size + after.diff(before).size
      (wrong, Seq(
        Option.when(wrong.nonEmpty)(s"${wrong.size} events with a wrong or missing verdict"),
        Option.when(pending > 0)(s"$pending events still N/E after the loop"),
        Option.when(dups.nonEmpty)(s"duplicate dns: ${dups.take(3).mkString(", ")}"),
        Option.when(changed != 0)(s"full resync changed $changed rows (no fixpoint)"),
        Option.when(differ != 0)(
          s"full resync changed the tree: $differ dump lines differ (no fixpoint)")
      ).flatten)
    }

    def run(t0: Long): Result = {
      step("set-up")(setup())
      val setupS = (System.nanoTime - t0) / 1e9
      val clock = new Clock
      step("timed")(section(clock, opts.seconds))
      val retainedMb = step("retained")(retainedBytes(spark)) / 1e6
      // when a run times a single operation (bulk_cdc), events_per_s is
      // eventsPerOp / cycle_p50_s: the two read one measurement
      val e2e = Seq(
        Metric("setup_s", setupS, "s"),
        Metric("cycle_p50_s", median(clock.secs.toSeq), "s"),
        Metric("events_per_s", clock.secs.size * eventsPerOp / clock.secs.sum, "1/s"),
        Metric("retained_mb", retainedMb, "MB"))
      val trace = if (opts.trace) Some(new Trace(spark)) else None
      val tclock = new Clock
      val problems = try {
        trace.foreach { t =>
          t.install()
          step("traced")(section(tclock, opts.seconds))
        }
        step("checks")(check(tclock))
      } catch {
        case e @ (NonFatal(_) | _: OutOfMemoryError) => Seq(s"check failed: $e")
      } finally trace.foreach(_.remove())
      if (problems.nonEmpty && failedOps.isEmpty) failedOps += (ops - 1)
      problems.foreach(p => notes += s"# CHECK FAILED: $p")

      notes += s"# ${opts.workload} seed=${opts.seed} operations=${clock.secs.size} " +
        s"op_s=${clock.secs.map(x => f"$x%.3f").mkString(",")}"
      e2e.foreach(m => notes += f"#   ${m.name}%-22s ${m.value}%14.6f ${m.unit}")
      val metrics = trace match {
        case Some(t) =>
          val l = t.report(tclock.windows.toSeq, tclock.callMap)
          val lm = layers(l, median(tclock.secs.toSeq) - median(clock.secs.toSeq))
          notes += s"# per-layer, per operation (${l.ops} traced):"
          lm.foreach(m => notes += f"#   ${m.name}%-26s ${m.value}%14.6f ${m.unit}")
          notes += f"#   wall ${l.wallMs / 1e3}%.3f s = plan ${l.planMs / 1e3}%.3f" +
            f" + gap ${l.gapMs / 1e3}%.3f + in-job ${l.jobMs / 1e3}%.3f s;" +
            f" in-job by site ${l.siteMs.values.sum / 1e3}%.3f s"
          lm
        case None => e2e
      }
      Result(problems.isEmpty && failedOps.isEmpty, ops, failedOps.size,
        metrics, notes.toSeq)
    }

    def layers(l: Trace.Layers, overheadS: Double): Seq[Metric] = {
      val k = math.max(1, l.ops).toDouble
      def per(ms: Long) = ms / 1e3 / k
      def mb(b: Long) = b / 1e6 / k
      val c = l.counters.withDefaultValue(0L)
      val own = layerValues(l)
      Seq(
        Metric("driver.wall_s", per(l.wallMs), "s"),
        Metric("driver.plan_s", per(l.planMs), "s"),
        Metric("driver.gap_s", per(l.gapMs), "s"),
        Metric("driver.job_s", per(l.jobMs), "s"),
        Metric("driver.jobs", l.jobs / k, "count"),
        Metric("driver.stages", c("stages") / k, "count"),
        Metric("driver.tasks", c("tasks") / k, "count"),
        Metric("exec.cpu_s", c("cpu_ns") / 1e9 / k, "s"),
        Metric("exec.gc_s", c("gc_ms") / 1e3 / k, "s"),
        Metric("shuffle.write_mb", mb(c("sh_write")), "MB"),
        Metric("shuffle.read_mb", mb(c("sh_read")), "MB"),
        Metric("shuffle.spill_mb", mb(c("spill")), "MB"),
        Metric("scan.rows_per_op", c("rows_read") / k / eventsPerOp, "count"),
        Metric("checkpoint.mb", mb(c("ckpt_bytes")), "MB"),
        // the fixpoint resync of the output check, once per run
        Metric("initialload.call_s", l.loadCallMs / 1e3, "s"),
        Metric("initialload.call_jobs", l.loadCallJobs, "count")) ++
        workloadLayers.map { case (n, u) => Metric(n, own.getOrElse(n, 0.0), u) } ++
        (Trace.modules.map(m => s"site.$m.job_s" -> m) :+
          ("site.unattributed_s" -> "unattributed")).map { case (n, m) =>
          Metric(n, l.siteMs.getOrElse(m, 0.0) / 1e3 / k, "s")
        } :+
        Metric("trace.overhead_s", overheadS, "s")
    }
  }

  /** Size and file count of the snapshot version published in `dir`. */
  def published(dir: File): (Long, Int) = {
    val v = java.nio.file.Files.readString(new File(dir, "CURRENT").toPath).trim
    val files = Option(new File(dir, v).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.startsWith("part-"))
    (files.map(_.length).sum, files.length)
  }

  // ---- poll_100 -------------------------------------------------------------

  final class Poll(spark: SparkSession, opts: Opts) extends Bench(spark, opts) {
    private val key = "postgres"
    private var in: Gen.Inputs = _
    private var tables: Tables = _
    private var state: CdcStream.LoopState = _
    private var next = 0 // the next chunk to arrive

    /** The database side, outside any timed cycle: chunk `next` arrives,
      * and the rows it describes are at version `next + 1`. Returns a
      * cycle over it that fails when `CdcStream.run` swallowed a source
      * exception (which shows only in `sourceErrors`).
      */
    private def arrive(): () => Unit = {
      val users = tables.users(next + 1)
      val st0 = state.copy(eventlogs = Map(key ->
        state.eventlogs(key).unionByName(
          events(spark, in.events.filter(chunkOf(_) == next)))))
      val chunk = next
      next += 1
      () => {
        state = CdcStream.run(st0, Seq(CdcStream.Source(conf, () => users, key)),
          maxRecords = sz.perChunk, maxCycles = st0.cyclesRun + 1,
          sleeper = () => ())
        if (state.sourceErrors.values.sum > st0.sourceErrors.values.sum)
          throw new RuntimeException(s"cycle $chunk source error: ${state.lastErrors}")
      }
    }

    def setup(): Unit = {
      in = step("generate")(Gen.cdc(opts.seed, sz.users, sz.maxChunks,
        sz.perChunk, zipf = false))
      tables = step("inputs")(new Tables(spark, in, opts.work))
      val snapDir = new File(opts.work, "snapshot")
      step("snapshot")(publishSnapshot(spark, tables.users(0), snapDir))
      state = CdcStream.LoopState(Directory.load(spark, snapDir.getPath),
        Map(key -> events(spark, Nil)), 0, 0)
      // the first chunks, untimed: each cycle plans and compiles the paths
      // of changed rows (merge, AES, renames, deletes, write-through), so
      // the timed cycles after them carry no one-off cost
      step("warm-up")((0 until sz.warmCycles).foreach(_ => arrive()()))
    }

    def section(clock: Clock, seconds: Double): Unit =
      // at least `timedCycles`, so that cycle_p50_s is a median
      timedLoop(clock, seconds, sz.timedCycles)(next < in.chunks) {
        val cycle = arrive()
        attempt(clock)(cycle())
      }

    def check(clock: Clock): Seq[String] = {
      require(next < in.chunks, s"all ${in.chunks} chunks used; raise maxChunks")
      val arrived = in.events.filter(chunkOf(_) < next)
      val planted = arrived.map(r => ridOf(r) -> in.expected(ridOf(r))).toMap
      val expected = if (opts.plantWrongVerdict) plantWrong(planted) else planted
      val (wrong, problems) = cdcChecks(clock, expected,
        statuses(state.eventlogs(key)), state.snapshot, tables.users(next))
      // a wrong verdict fails the cycle that gave it (the first timed
      // cycle when a warm-up cycle gave it)
      val cycleOf = arrived.map(r =>
        ridOf(r) -> math.max(0, chunkOf(r) - sz.warmCycles)).toMap
      wrong.flatMap(cycleOf.get).foreach(failedOps += _)
      problems
    }

    def eventsPerOp: Double = sz.perChunk
    def layerValues(l: Trace.Layers): Map[String, Double] =
      Map("cdcstream.cycle_jobs" -> l.cdcStreamJobs.toDouble / math.max(1, l.ops))
  }

  // ---- bulk_cdc -------------------------------------------------------------

  final class Bulk(spark: SparkSession, opts: Opts) extends Bench(spark, opts) {
    private var in: Gen.Inputs = _
    private var tables: Tables = _
    private val snapDir = new File(opts.work, "snapshot")
    private val out = new File(opts.work, "drained")
    private val elogOut = new File(opts.work, "eventlog").getPath

    /** One outage drain: load the snapshot published in `from`, run every
      * pending event, publish the result to `to` and write the eventlog
      * back.
      */
    private def drain(clock: Clock, from: File, t: Tables, to: File,
        elogTo: String): Unit = {
      val snap = clock.call("directory.load")(Directory.load(spark, from.getPath))
      val (eventlog, users) = (t.eventlog, t.users(1))
      val r = clock.call("cdc.call")(Cdc.cycle(snap, users, eventlog, conf, Int.MaxValue))
      clock.call("directory.save")(Directory.save(r.snapshot, to.getPath))
      r.eventlog.write.mode("overwrite").parquet(elogTo)
    }

    def setup(): Unit = {
      in = step("generate")(Gen.cdc(opts.seed, sz.users, 1, sz.bulkEvents, zipf = true))
      tables = step("inputs")(new Tables(spark, in, opts.work))
      step("snapshot")(publishSnapshot(spark, tables.users(0), snapDir))
      // warm-up: a drain of the first events into scratch output, so the
      // JVM compiles each code path here rather than inside the timed drain
      step("warm-up") {
        val dir = new File(opts.work, "warm")
        val t = new Tables(spark, in.copy(events = in.events.take(sz.warmEvents)), dir)
        drain(new Clock, snapDir, t, new File(dir, "drained"),
          new File(dir, "eventlog").getPath)
      }
    }

    def section(clock: Clock, seconds: Double): Unit =
      timedLoop(clock, seconds, 1)(true) {
        attempt(clock)(drain(clock, snapDir, tables, out, elogOut))
      }

    def check(clock: Clock): Seq[String] = {
      val expected =
        if (opts.plantWrongVerdict) plantWrong(in.expected) else in.expected
      notes += "# event classes " + in.kinds.toSeq.sortBy(_._1.id)
        .map { case (k, n) => s"$k=$n" }.mkString(" ")
      cdcChecks(clock, expected, statuses(spark.read.parquet(elogOut)),
        Directory.load(spark, out.getPath), tables.users(1))._2
    }

    def eventsPerOp: Double = sz.bulkEvents
    def layerValues(l: Trace.Layers): Map[String, Double] = {
      val k = math.max(1, l.ops).toDouble
      val (bytes, files) = published(out)
      Map("cdc.call_s" -> l.cdcCallMs / 1e3 / k,
        "cdc.call_jobs" -> l.cdcCallJobs / k,
        "directory.load_s" -> l.loadMs / 1e3 / k,
        "directory.save_s" -> l.saveMs / 1e3 / k,
        "directory.write_mb" -> bytes / 1e6,
        "directory.files" -> files.toDouble)
    }
  }
}
