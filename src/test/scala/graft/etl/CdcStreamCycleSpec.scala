package graft.etl

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.CdcStream

/** What one `CdcStream.run` cycle costs, what it reports, and the
  * streaming form's unit of work, on the in-repo fixture.
  */
class CdcStreamCycleSpec extends AnyFunSuite {
  import CdcStreamCycleSpec._

  private val conf = Fixture.conf.copy(ph15Dn = Some(Fixture.ph15))

  test("a capped poll cycle runs at most 12 jobs and, once warm, compiles at most 20 classes") {
    val spark = TestSpark.spark
    val sc = spark.sparkContext
    val users0 = Fixture.users(spark).collect().toSeq
    var st = CdcStream.LoopState(Fixture.twoTree(spark), Map("postgres" -> noEvents), 0, 0)
    val jobs = new AtomicLong
    val shuffled = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => shuffled.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    }
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // one cycle per version: 12 name changes (one a write-through), a
    // rename, a delete with a ph15 twin and an invalid event
    val perCycle = (1 to 3).map { v =>
      val (users, events) = version(users0, v)
      st = st.copy(eventlogs = Map("postgres" -> st.eventlogs("postgres")
        .unionByName(events).localCheckpoint(true)))
      org.apache.spark.BusDrain(sc)
      val (j0, c0) = (jobs.get, compiles)
      sc.addSparkListener(listener)
      try {
        st = CdcStream.run(st, Seq(CdcStream.Source(conf, () => users)),
          maxRecords = 100, maxCycles = st.cyclesRun + 1, sleeper = () => ())
        org.apache.spark.BusDrain(sc)
      } finally sc.removeSparkListener(listener)
      assert(st.sourceErrors.isEmpty, st.lastErrors)
      (jobs.get - j0, compiles - c0)
    }
    info(s"(jobs, compiles) per cycle: $perCycle")
    // the selection's top-k, the user rows, the touched entries and the
    // ph15 sweep's entries (4 collects), the step's snapshot checkpoint,
    // and the writeback's broadcast and eventlog checkpoint (3); no step
    // shuffles
    perCycle.foreach { case (j, _) => assert(j <= 7, s"jobs per cycle: $perCycle") }
    assert(shuffled.get == 0, s"shuffle bytes written: ${shuffled.get}")
    assert(perCycle(2)._2 <= 20, s"(jobs, compiles) per cycle: $perCycle")
  }

  test("the poll loop's rename pass renames the ph15 twin, within 13 jobs a cycle") {
    val spark = TestSpark.spark
    val sc = spark.sparkContext
    val users0 = Fixture.users(spark).collect().toSeq
    val (users, events) = version(users0, 1)
    val ph15Conf = conf.copy(baseDn = Fixture.ph15)
    val st0 = CdcStream.LoopState(Fixture.twoTree(spark),
      Map("postgres" -> events.localCheckpoint(true), "ph15" -> noEvents), 0, 0)
    val jobs = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.BusDrain(sc)
    sc.addSparkListener(listener)
    val st = try {
      val s = CdcStream.run(st0, Seq(CdcStream.Source(conf, () => users),
        CdcStream.Source(ph15Conf, () => users, key = "ph15")),
        maxRecords = 100, maxCycles = 1, sleeper = () => ())
      org.apache.spark.BusDrain(sc)
      s
    } finally sc.removeSparkListener(listener)
    assert(st.sourceErrors.isEmpty, st.lastErrors)
    // 7 jobs for the ph08 source's cycle, the step's checkpoint of the
    // snapshot and the eventlog's writeback and checkpoint (the capped
    // poll cycle above runs the same 7), and 2 for the rename pass's
    // collects; the idle ph15 source runs none
    info(s"jobs in the cycle: ${jobs.get}")
    assert(jobs.get <= 9, s"jobs in the cycle: ${jobs.get}")

    // version 1 renames the second uid over 1 to ren1.<uid>
    val uid = users0.map(r => r.getDouble(idx("pk_uniqueid")).toLong)
      .filter(_ > 1).distinct.sorted.apply(1)
    val oldCn = users0.find(_.getDouble(idx("pk_uniqueid")).toLong == uid).get
      .getString(idx("benutzername")).trim
    val entries = st.snapshot.collect().map(e => e.dn -> e.attrs).toMap
    for (base <- Seq(Fixture.ph08, Fixture.ph15)) {
      assert(entries.contains(s"cn=ren1.$uid,$base"), base)
      assert(!entries.contains(s"cn=$oldCn,$base"), base)
    }
    assert(entries(s"cn=ren1.$uid,${Fixture.ph15}")("phonlineUniqueId") == Seq(uid.toString))
  }

  /** One ph08 and one (idle) ph15 source over `version(users0, 1)`, the
    * loop state before them, and the dump of an uninterrupted run.
    */
  private def twoSources(ph08Users: () => DataFrame, ph15Users: () => DataFrame)
      : (CdcStream.LoopState, Seq[CdcStream.Source], String) = {
    val spark = TestSpark.spark
    val (users, events) = version(Fixture.users(spark).collect().toSeq, 1)
    val st0 = CdcStream.LoopState(Fixture.twoTree(spark),
      Map("postgres" -> events.localCheckpoint(true), "ph15" -> noEvents), 0, 0)
    def sources(u08: () => DataFrame, u15: () => DataFrame) = Seq(
      CdcStream.Source(conf, u08),
      CdcStream.Source(conf.copy(baseDn = Fixture.ph15), u15, key = "ph15"))
    val clean = CdcStream.run(st0, sources(() => users, () => users), sleeper = () => ())
    assert(clean.sourceErrors.isEmpty && clean.cyclesRun == 1, clean.lastErrors)
    (st0, sources(ph08Users, ph15Users), Directory.dump(clean.snapshot))
  }

  /** `() => users` of version 1, throwing on the calls `failing` names. */
  private def flaky(failing: Int => Boolean): () => DataFrame = {
    val users = version(Fixture.users(TestSpark.spark).collect().toSeq, 1)._1
    var calls = 0
    () => {
      calls += 1
      if (failing(calls)) sys.error(s"transient outage on call $calls")
      users
    }
  }

  test("a source that fails once is retried, and the loop ends where an uninterrupted one does") {
    val (st0, sources, cleanDump) = twoSources(flaky(_ == 1), flaky(_ => false))
    val st = CdcStream.run(st0, sources, sleeper = () => ())
    assert(st.sourceErrors == Map("postgres" -> 1), st.lastErrors)
    assert(st.cyclesRun == 2)
    assert(Directory.dump(st.snapshot) == cleanDump)
  }

  test("a failed rename pass is counted under ph15 and its cycle replayed") {
    // the ph15 source's users are read once by its cycle, then by the pass
    val (st0, sources, cleanDump) = twoSources(flaky(_ => false), flaky(_ == 2))
    val st1 = CdcStream.run(st0, sources, maxCycles = 1, sleeper = () => ())
    assert(st1.sourceErrors == Map("ph15" -> 1), st1.lastErrors)
    assert(st1.cyclesRun == 1)
    assert(Directory.dump(st1.snapshot) == Directory.dump(st0.snapshot))
    val rows = (df: DataFrame) => df.collect().map(_.toSeq).toSet
    for (k <- st0.eventlogs.keys)
      assert(rows(st1.eventlogs(k)) == rows(st0.eventlogs(k)), k)
    val st2 = CdcStream.run(st1, sources, maxCycles = 2, sleeper = () => ())
    assert(st2.sourceErrors == st1.sourceErrors, st2.lastErrors)
    assert(Directory.dump(st2.snapshot) == cleanDump)
    val uid = singles(Fixture.users(TestSpark.spark).collect().toSeq)(1)
    assert(st2.snapshot.filter(_.dn == s"cn=ren1.$uid,${Fixture.ph15}").count() == 1)
  }

  test("the poll loop, the stream and the bare cycle agree on one batch") {
    val spark = TestSpark.spark
    val (users, events) = version(Fixture.users(spark).collect().toSeq, 1)
    val snap0 = Fixture.twoTree(spark)
    val ph15Conf = conf.copy(baseDn = Fixture.ph15)
    val verdicts = (elog: DataFrame) => elog
      .select(col("record_id"), rtrim(col("status")), col("error_message"), col("attempt"))
      .collect().map(_.toSeq).toSet

    val polled = CdcStream.run(
      CdcStream.LoopState(snap0, Map("postgres" -> events, "ph15" -> noEvents), 0, 0),
      Seq(CdcStream.Source(conf, () => users),
        CdcStream.Source(ph15Conf, () => users, key = "ph15")),
      maxRecords = Int.MaxValue, maxCycles = 1, sleeper = () => ())
    assert(polled.sourceErrors.isEmpty, polled.lastErrors)

    val dir = java.nio.file.Files.createTempDirectory("graft-cdc-agree")
    val staged = java.nio.file.Files.createTempDirectory("graft-cdc-staged")
    events.coalesce(1).write.mode("overwrite").options(EtlSchema.csvOptions)
      .csv(staged.toString)
    val streamed = new java.util.concurrent.atomic.AtomicReference[Cdc.CycleResult]
    val (q, state) = CdcStream.startStreaming(spark, snap0, () => users, dir.toString,
      conf, onCycle = r => streamed.set(r))
    try {
      val csv = java.nio.file.Files.list(staged).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.endsWith(".csv"))
      assert(csv.length == 1, csv.toSeq)
      java.nio.file.Files.move(csv.head, dir.resolve("events.csv"))
      q.processAllAvailable()
    } finally q.stop()

    val bare = Cdc.cycle(snap0, users, events, conf, Int.MaxValue)
    val bareSnap = Cdc.updatePh15Cn(bare.snapshot, users, bare.renames, ph15Conf)

    val expected = verdicts(bare.eventlog)
    assert(expected.size == 15)
    assert(verdicts(polled.eventlogs("postgres")) == expected)
    assert(verdicts(streamed.get.eventlog) == expected)
    val dump = Directory.dump(bareSnap)
    assert(Directory.dump(polled.snapshot) == dump)
    assert(Directory.dump(state.get()) == dump)
    assert(bare.renames.nonEmpty && dump != Directory.dump(bare.snapshot))
  }

  test("the observed backlog equals a direct count of N/E events") {
    val spark = TestSpark.spark
    val users0 = Fixture.users(spark).collect().toSeq
    val (users, events) = version(users0, 1)
    var st = CdcStream.LoopState(Fixture.twoTree(spark),
      Map("postgres" -> events.localCheckpoint(true)), 0, 0)
    val src = Seq(CdcStream.Source(conf, () => users))
    val direct = (df: DataFrame) =>
      df.filter(rtrim(col("status")).isin("N", "E")).count()
    // 15 events at 10 per cycle: a backlog, then none
    for (left <- Seq(true, false)) {
      st = CdcStream.run(st, src, maxRecords = 10, maxCycles = st.cyclesRun + 1,
        sleeper = () => ())
      assert(st.backlog("postgres") == direct(st.eventlogs("postgres")))
      assert((st.backlog("postgres") > 0) == left, st.backlog)
    }
    // an empty eventlog is observed too
    st = CdcStream.run(st.copy(eventlogs = Map("postgres" -> noEvents)), src,
      maxCycles = st.cyclesRun + 1, sleeper = () => ())
    assert(st.backlog("postgres") == 0)
  }

  test("an eventlog appended to every cycle stays within one partition per core") {
    val spark = TestSpark.spark
    val users0 = Fixture.users(spark).collect().toSeq
    var st = CdcStream.LoopState(Fixture.twoTree(spark),
      Map("postgres" -> noEvents, "ph15" -> noEvents), 0, 0)
    val parts = (1 to 12).map { v =>
      val (users, events) = version(users0, v)
      // 15 events arrive and 10 go per cycle: the backlog grows. The
      // first, for the uid this version renames, sorts ahead of the
      // backlog, so every cycle renames and runs the ph15 pass
      val renameNow = event(v.toDouble, s"pk_uniqueid=${singles(users0)(v)}", 6.0)
      st = st.copy(eventlogs = st.eventlogs + ("postgres" ->
        st.eventlogs("postgres").unionByName(events).unionByName(eventsOf(Seq(renameNow)))))
      st = CdcStream.run(st, Seq(CdcStream.Source(conf, () => users),
        CdcStream.Source(conf.copy(baseDn = Fixture.ph15), () => users, key = "ph15")),
        maxRecords = 10, maxCycles = st.cyclesRun + 1, sleeper = () => ())
      assert(st.sourceErrors.isEmpty, st.lastErrors)
      assert(st.snapshot.filter(_.dn.startsWith(s"cn=ren$v.")).count() == 2, s"cycle $v")
      val elog = st.eventlogs("postgres")
      assert(st.backlog("postgres") ==
        elog.filter(rtrim(col("status")).isin("N", "E")).count(), s"cycle $v")
      (elog.rdd.getNumPartitions, st.snapshot.rdd.getNumPartitions)
    }
    info(s"(eventlog, snapshot) partitions per cycle: $parts")
    // both are stored by one rule: at most one partition per core
    val cores = spark.sparkContext.defaultParallelism
    assert(parts.forall { case (e, s) => e <= cores && s <= cores }, parts)
    assert(st.backlog("postgres") > 0)
  }

  test("a streamed micro-batch gets a verdict for every event in it") {
    val spark = TestSpark.spark
    val dir = java.nio.file.Files.createTempDirectory("graft-cdc-stream")
    val staged = java.nio.file.Files.createTempFile("graft-cdc-events", ".csv")
    val uids = Fixture.users(spark).select("pk_uniqueid").distinct()
      .collect().map(_.getDouble(0).toLong).sorted
    val lines = (1 to 150).map { i =>
      s"$i.0;pk_uniqueid=${uids(i % uids.length)};N  ;6.0;2017-07-11 10:15:02;" +
        "TEST;benutzer_alle_dirxml_v;;;;;N  ;N  ;;;;N  "
    }
    java.nio.file.Files.write(staged, java.util.Arrays.asList(
      (EtlSchema.eventFields.mkString(";") +: lines): _*))
    val verdicts = new AtomicLong
    val (q, _) = CdcStream.startStreaming(spark, Fixture.twoTree(spark),
      () => Fixture.users(spark), dir.toString, conf,
      onCycle = r => verdicts.addAndGet(r.eventUpdates.count()))
    try {
      java.nio.file.Files.move(staged, dir.resolve("events.csv"))
      q.processAllAvailable()
    } finally q.stop()
    assert(verdicts.get == 150)
  }
}

object CdcStreamCycleSpec {
  private val idx = EtlSchema.userFields.zipWithIndex.toMap

  def noEvents: DataFrame = TestSpark.spark.createDataFrame(
    java.util.List.of[Row](), EtlSchema.eventSchema)

  /** User table version `v` of the fixture and the events that describe
    * the change from version v-1: 12 uids get a new vorname, one is
    * renamed, one is deleted; plus one invalid event. The caesar trio
    * (uid 1) is left alone.
    */
  def version(users0: Seq[Row], v: Int): (DataFrame, DataFrame) = {
    val spark = TestSpark.spark
    val uid = (r: Row) => r.getDouble(idx("pk_uniqueid")).toLong
    val singles = CdcStreamCycleSpec.singles(users0)
    val deleted = singles.takeRight(3).take(v)
    val renamed = singles.slice(v, v + 1)
    val updated = singles.drop(4).take(12)
    def set(r: Row, k: String, x: Any) = Row.fromSeq(r.toSeq.updated(idx(k), x))
    val rows = users0.filterNot(r => deleted.contains(uid(r))).map { r =>
      val u = uid(r)
      val named = if (updated.contains(u)) set(r, "vorname", s"V$v$u") else r
      if (renamed.contains(u)) set(named, "benutzername", s"ren$v.$u") else named
    }
    val base = v * 1000.0
    val evs = (updated ++ renamed).zipWithIndex.map { case (u, i) =>
      event(base + i, s"pk_uniqueid=$u", 6.0) } ++
      Seq(event(base + 100, s"pk_uniqueid=${deleted.last}", 4.0),
        event(base + 101, "pk_uniqueid=x", 6.0))
    (spark.createDataFrame(java.util.Arrays.asList(rows: _*), EtlSchema.userSchema)
      .localCheckpoint(true), eventsOf(evs))
  }

  /** The fixture's uids over 1, sorted: version `v` renames the v-th. */
  def singles(users0: Seq[Row]): Seq[Long] =
    users0.map(_.getDouble(idx("pk_uniqueid")).toLong).filter(_ > 1).distinct.sorted

  /** A pending event of type `typ` for the table key `key`. */
  def event(rid: Double, key: String, typ: Double): Row = Row(rid, key, "N  ", typ,
    java.sql.Timestamp.valueOf("2017-07-11 10:00:00"), "TEST",
    "benutzer_alle_dirxml_v", null, null, null, null, "N  ", "N  ", null,
    null, null, "N  ")

  def eventsOf(evs: Seq[Row]): DataFrame = TestSpark.spark.createDataFrame(
    java.util.Arrays.asList(evs: _*), EtlSchema.eventSchema)
}
