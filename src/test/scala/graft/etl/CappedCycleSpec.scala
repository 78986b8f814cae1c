package graft.etl

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import Directory.Entry

/** The driver cycle (`CappedCycle`) against the set-based cycle
  * (`Cdc.cycleSetBased`) on the same inputs: identical per-event
  * verdicts (status, error_message, attempt), eventlog writeback, rename
  * queue and `Directory.dump`, for capped batches (`CappedCycle.run` at a
  * cap of 5,000) and unbounded ones (`Cdc.cycle` at `Int.MaxValue`, which
  * must take the driver path: its job count is pinned below).
  *
  * The batches are built from the fixture's user rows. Each random batch
  * lives in a "world" of its own uid range and cn prefix, so the 67
  * worlds that share one cycle cannot interact (every step of a cycle
  * is keyed by cn, uid or dn); 3 rounds of 67 worlds give 201 batches.
  * A world's round draws from: attribute, password and write-through
  * column changes, renames (case-only ones too), deletes of users with
  * a ph15 twin, inserts (fresh, onto a deleted user's cn, onto a live
  * user's cn in another case), second rows for a uid, replays and
  * repeated events, events for uids that never existed, invalid events,
  * and attempts of 9–11. Some worlds start with a ghost entry sharing a
  * user's uid (uid ambiguity), every world with a delete-marked entry,
  * ETD-stamped in a third of them (GC). Round 2 syncs the ph15 tree
  * itself (hard deletes, no GC); before round 3 every deleted entry is
  * ETD-stamped, so round 3 garbage-collects them. E verdicts are
  * retried in later rounds.
  */
class CappedCycleSpec extends AnyFunSuite {
  import CappedCycleSpec._

  test("capped and set-based cycles agree on 201 seeded random batches") {
    differential(count = 67, seed = 20261018L, maxRecords = 5000)(
      CappedCycle.run(_, _, _, _, 5000, _))
  }

  test("unbounded cycles agree with the set-based path on 201 seeded random batches") {
    differential(count = 67, seed = 20261019L, maxRecords = Int.MaxValue)(
      Cdc.cycle(_, _, _, _, Int.MaxValue, _))
  }

  /** `count` worlds × 3 rounds: `cycle` against `Cdc.cycleSetBased` at
    * `maxRecords`.
    */
  private def differential(count: Int, seed: Long, maxRecords: Int)(cycle: (Dataset[Entry],
      DataFrame, DataFrame, EtlConf, java.sql.Timestamp) => Cdc.CycleResult): Unit = {
    val spark = TestSpark.spark
    val w = new Worlds(spark, count, seed)
    var snap = w.snapshot0
    var elog = spark.createDataFrame(java.util.List.of[Row](), EtlSchema.eventSchema)
    val seen = mutable.Map.empty[String, Int].withDefaultValue(0)
    for (round <- 1 to 3) {
      val (users, events) = w.round(round)
      val base = if (round == 2) Fixture.ph15 else Fixture.ph08
      val conf = Fixture.conf.copy(baseDn = base, ph15Dn = Some(Fixture.ph15),
        etlTimestamp = f"diff$round%04dZ")
      val eventlog = elog.unionByName(events).localCheckpoint(true)
      val readTime = java.sql.Timestamp.valueOf(s"2026-01-0$round 00:00:00")
      val got = cycle(snap, users, eventlog, conf, readTime)
      val setBased = Cdc.cycleSetBased(snap, users, eventlog, conf, maxRecords, readTime)
      val (sbSnap, sbElog) =
        (setBased.snapshot.localCheckpoint(true), setBased.eventlog.localCheckpoint(true))

      val (vc, vs) = (verdicts(got.eventUpdates), verdicts(setBased.eventUpdates))
      assert(vc.size == vs.size && vc.size == got.selected, s"round $round counts")
      vc.zip(vs).foreach { case (c, s) => assert(c == s, s"round $round verdict") }
      assert(renames(got) == renames(setBased), s"round $round renames")
      assert(got.renameQueued == renames(setBased).nonEmpty)
      val dump = Directory.dump(sbSnap)
      assert(Directory.dump(got.snapshot) == dump, s"round $round dump")
      assert(verdicts(got.eventlog.select(col("record_id"),
        col("status").as("new_status"), col("error_message").as("new_error"),
        col("attempt").as("new_attempt"))) == verdicts(sbElog.select(
        col("record_id"), col("status").as("new_status"),
        col("error_message").as("new_error"), col("attempt").as("new_attempt"))),
        s"round $round writeback")

      vs.foreach { v => seen(v._2) += 1 }
      events.select("event_type").collect().foreach(r => seen(s"type ${r.get(0)}") += 1)
      seen("renames") += renames(setBased).size
      seen("ambiguous") += vs.count(_._3.exists(_.contains("more than one record")))
      seen("deleted-cn") += vs.count(_._3.exists(_.startsWith("Found deleted record")))
      seen("retry-ceiling") += vs.count(v => v._2 == "F" && v._4.contains(12.0))
      snap = sbSnap
      elog = sbElog
      if (round == 2) snap = SyncEngine.setEtdDone(snap, None).localCheckpoint(true)
    }
    info(s"covered: ${seen.toSeq.sorted.mkString(", ")}")
    // the batches reached every verdict and every path they are built for
    for (k <- Seq("S", "W", "E", "F", "type 4.0", "type 5.0", "type 6.0",
        "renames", "ambiguous", "deleted-cn", "retry-ceiling"))
      assert(seen(k) > 0, s"no $k in ${seen.toMap}")
  }

  test("a state the capped path does not model falls back to the set-based path") {
    val spark = TestSpark.spark
    import spark.implicits._
    val users0 = Fixture.users(spark).collect().toSeq
      .filterNot(_.isNullAt(idx("pk_uniqueid"))).groupBy(uidOf).values
      .filter(_.size == 1).map(_.head).toSeq.sortBy(uidOf).take(2)
    val Seq(ua, ub) = users0.zip(Seq("ua", "ub")).map { case (r, cn) =>
      set(r, "benutzername" -> cn) }
    val conf = Fixture.conf.copy(ph15Dn = Some(Fixture.ph15))
    val inserts = spark.createDataFrame(java.util.List.of(
      eventRow(1.0, s"pk_uniqueid=${uidOf(ua)}", 5.0),
      eventRow(2.0, s"pk_uniqueid=${uidOf(ub)}", 5.0)), EtlSchema.eventSchema)
    def usersDf(rs: Row*): DataFrame =
      spark.createDataFrame(java.util.List.of(rs: _*), EtlSchema.userSchema)
    val boot = spark.createDataset(Directory.bootstrapEntries(Seq(Fixture.ph08, Fixture.ph15)))
    val loaded = Cdc.cycle(boot, usersDf(ua, ub), inserts, conf)
      .snapshot.localCheckpoint(true)
    val uaDn = s"cn=ua,${Fixture.ph08}"
    val uaAttrs = loaded.collect().find(_.dn == uaDn).get.attrs
    def withEntries(es: Entry*): Dataset[Entry] =
      loaded.union(spark.createDataset(es)).localCheckpoint(true)

    // ua's first name changes; ub's event rides along
    val changed = usersDf(set(ua, "vorname" -> "Changed"), ub)
    val events = (rid: Any) => spark.createDataFrame(java.util.List.of(
      eventRow(rid, s"pk_uniqueid=${uidOf(ua)}", 6.0),
      eventRow(11.0, s"pk_uniqueid=${uidOf(ub)}", 6.0)), EtlSchema.eventSchema)
    // (reason, snapshot, eventlog, cap, event bound, uid bound)
    val (cap, evB, uidB) = (100, Cdc.driverEventBound, Cdc.driverBatchBound)
    val cases = Seq(
      ("a selected event has no record_id", loaded, events(null), cap, evB, uidB),
      ("a dn occurs twice", withEntries(Entry(uaDn, uaAttrs + ("sn" -> Seq("Twice")))),
        events(10.0), cap, evB, uidB),
      // the entry under ua's cn in upper case is renamed onto ua's dn
      ("a change lands on the existing dn", withEntries(Entry(s"cn=UA,${Fixture.ph08}",
        uaAttrs + ("cn" -> Seq("UA")))), events(10.0), cap, evB, uidB),
      // both ua entries change a write-through column of one ph15 twin
      ("two write-through patches for one ph15 twin",
        withEntries(Entry(s"cn=UA,${Fixture.ph08}", uaAttrs)), events(10.0), cap, evB, uidB),
      // an unbounded batch of two events on two uids, over lowered bounds
      ("the batch holds more than 1 events", loaded, events(10.0), Int.MaxValue, 1, uidB),
      ("the batch holds more than 1 distinct uids", loaded, events(10.0), Int.MaxValue,
        evB, 1))
    val readTime = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def rows(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toString).sorted
    def lines(snap: Dataset[Entry]): Seq[String] =
      Directory.dump(snap).split("\n").toSeq.sorted
    for ((why, snap, elog, max, eventBound, uidBound) <- cases) {
      val e = intercept[CappedCycle.Unmodelled](
        CappedCycle.run(snap, changed, elog, conf, max, readTime, eventBound, uidBound))
      assert(e.getMessage.startsWith(why), e.getMessage)
      val viaCycle = Cdc.boundedCycle(snap, changed, elog, conf, max, readTime,
        eventBound, uidBound)
      val setBased = Cdc.cycleSetBased(snap, changed, elog, conf, max, readTime)
      assert(rows(viaCycle.eventUpdates) == rows(setBased.eventUpdates), why)
      assert(rows(viaCycle.eventlog) == rows(setBased.eventlog), why)
      assert(lines(viaCycle.snapshot) == lines(setBased.snapshot), why)
    }
    // within the bounds, the same unbounded batch runs on the driver
    val inBound = CappedCycle.run(loaded, changed, events(10.0), conf, Int.MaxValue,
      readTime, 2, 2)
    assert(rows(inBound.eventUpdates) == rows(Cdc.cycleSetBased(loaded, changed,
      events(10.0), conf, Int.MaxValue, readTime).eventUpdates))
  }

  test("an unbounded batch within the bounds runs on the driver: few jobs, nothing stored") {
    val spark = TestSpark.spark
    val sc = spark.sparkContext
    val w = new Worlds(spark, count = 12, seed = 20261020L)
    val (users, events) = w.round(1)
    val conf = Fixture.conf.copy(ph15Dn = Some(Fixture.ph15), etlTimestamp = "jobs0001Z")
    val readTime = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    def stored: Set[Int] = sc.getRDDStorageInfo.map(_.id).toSet
    // jobs to run the cycle and read both its outputs, and the RDDs it
    // left stored (another suite's RDDs may only go meanwhile)
    def measure(cycle: => Cdc.CycleResult): (Long, Set[Int]) = {
      org.apache.spark.BusDrain(sc)
      val (j0, before) = (jobs.get, stored)
      sc.addSparkListener(listener)
      try {
        val r = cycle
        r.snapshot.collect()
        r.eventlog.collect()
        org.apache.spark.BusDrain(sc)
        (jobs.get - j0, stored -- before)
      } finally sc.removeSparkListener(listener)
    }
    val (driverJobs, driverKept) =
      measure(Cdc.cycle(w.snapshot0, users, events, conf, Int.MaxValue, readTime))
    val (setJobs, setKept) =
      measure(Cdc.cycleSetBased(w.snapshot0, users, events, conf, Int.MaxValue, readTime))
    info(s"jobs: driver path $driverJobs, set-based $setJobs")
    assert(driverJobs <= 10, s"driver path ran $driverJobs jobs (set-based $setJobs)")
    assert(driverKept.isEmpty, s"driver path left RDDs $driverKept stored")
    // the check sees what the set-based path stores
    assert(setKept.nonEmpty)
  }

  test("a drain over a loaded snapshot adds at most one file to the saved snapshot") {
    val spark = TestSpark.spark
    val w = new Worlds(spark, count = 12, seed = 20261021L)
    val dir = java.nio.file.Files.createTempDirectory("graft-capped-files").toString
    def files: Int = {
      val v = java.nio.file.Files.readString(java.nio.file.Paths.get(dir, "CURRENT")).trim
      new java.io.File(dir, v).listFiles().count(_.getName.startsWith("part-"))
    }
    Directory.save(w.snapshot0, dir)
    var elog = spark.createDataFrame(java.util.List.of[Row](), EtlSchema.eventSchema)
    // (partitions of the loaded snapshot, files of the one saved after it)
    val counts = (1 to 2).map { round =>
      val (users, events) = w.round(round)
      val loaded = Directory.load(spark, dir)
      val parts = loaded.rdd.getNumPartitions
      val r = Cdc.cycle(loaded, users, elog.unionByName(events),
        Fixture.conf.copy(ph15Dn = Some(Fixture.ph15), etlTimestamp = f"file$round%04dZ"),
        Int.MaxValue)
      assert(r.eventUpdates.count() > 1)
      Directory.save(r.snapshot, dir)
      elog = r.eventlog.localCheckpoint(true)
      (parts, files)
    }
    info(s"(loaded partitions, saved files) per drain: $counts")
    counts.foreach { case (loaded, saved) => assert(saved <= loaded + 1, counts) }
  }
}

object CappedCycleSpec {
  type Verdict = (Double, String, Option[String], Option[Double])

  def verdicts(updates: DataFrame): Seq[Verdict] =
    updates.select(col("record_id"), rtrim(col("new_status")), col("new_error"),
      col("new_attempt")).collect().toSeq.map(r => (r.getDouble(0),
      r.getString(1), Option(r.getString(2)),
      Option(r.get(3)).map(_.asInstanceOf[Double]))).sortBy(_._1)

  def renames(r: Cdc.CycleResult): Seq[(String, String)] =
    r.renames.collect().toSeq.map(x => (x.getString(0), x.getString(1))).sorted

  private val idx = EtlSchema.userFields.zipWithIndex.toMap

  private def set(r: Row, kv: (String, Any)*): Row = {
    val a = r.toSeq.toArray
    kv.foreach { case (k, v) => a(idx(k)) = v }
    Row.fromSeq(a.toSeq)
  }

  private def uidOf(r: Row): Long = r.getDouble(idx("pk_uniqueid")).toLong

  /** One N event; `rid` may be null. */
  private def eventRow(rid: Any, key: String, typ: Double,
      table: String = "benutzer_alle_dirxml_v", attempt: Any = null): Row =
    Row(rid, key, "N  ", typ, java.sql.Timestamp.valueOf("2017-07-11 10:00:00"),
      "TEST", table, null, null, null, null, "N  ", "N  ", null, null, attempt, "N  ")

  /** Seeded random worlds over the fixture's single-uid user rows. */
  final class Worlds(spark: SparkSession, count: Int, seed: Long) {
    import spark.implicits._
    private val templates: Seq[Row] = {
      val all = Fixture.users(spark).collect().toSeq
      all.groupBy(_.get(idx("pk_uniqueid"))).values.filter(_.size == 1)
        .map(_.head).toSeq.sortBy(_.getDouble(idx("pk_uniqueid")))
    }
    private def cnOf(r: Row): String = r.getString(idx("benutzername"))

    private final class World(val id: Int) {
      val rng = new scala.util.Random(seed * 31 + id)
      var rows: Vector[Row] = Vector.empty
      val deletedCns = mutable.ArrayBuffer.empty[String]
      var ghostUid = -1L
      var nextUid = 0
      def uid(): Long = { nextUid += 1; 1000000L + id * 1000L + nextUid }
      def fresh(cn: String, u: Long = uid()): Row =
        set(templates(rng.nextInt(templates.size)), "pk_uniqueid" -> u.toDouble,
          "benutzername" -> cn)
    }

    private val worlds = (0 until count).map { id =>
      val w = new World(id)
      w.rows = (0 until 4).map(j => w.fresh(s"w${id}n$j")).toVector
      // a second row for the first uid, under another cn
      if (w.rng.nextInt(3) == 0) w.rows :+= set(w.rows(0), "benutzername" -> s"w${id}n0b")
      if (id % 4 == 1) w.ghostUid = uidOf(w.rows(1))
      w.deletedCns += s"w${id}old"
      w
    }

    /** Both trees hold every world's users, added by an insert cycle
      * per tree; a quarter of the worlds also hold a ghost entry that
      * shares a user's uid, and every world a delete-marked entry.
      */
    val snapshot0: Dataset[Entry] = {
      val users = usersDf
      val inserts = spark.createDataFrame(java.util.Arrays.asList(
        worlds.flatMap(_.rows).map(uidOf).distinct.zipWithIndex.map { case (u, i) =>
          eventRow(i.toDouble, s"pk_uniqueid=$u", 5.0, "benutzer_alle_dirxml_v", null)
        }: _*), EtlSchema.eventSchema)
      val load = (snap: Dataset[Entry], base: String) =>
        Cdc.cycle(snap, users, inserts, Fixture.conf.copy(baseDn = base), 5000)
          .snapshot.localCheckpoint(true)
      val boot = spark.createDataset(Directory.bootstrapEntries(Seq(Fixture.ph08, Fixture.ph15)))
      val both = load(load(boot, Fixture.ph15), Fixture.ph08)
      def entry(cn: String, uid: String, more: (String, Seq[String])*) =
        Entry(s"cn=$cn,${Fixture.ph08}", Map("cn" -> Seq(cn), "phonlineUniqueId" -> Seq(uid),
          "objectClass" -> Seq("inetOrgPerson", "phonlinePerson", "idnSyncstat")) ++ more)
      val extra = worlds.flatMap { w =>
        val etd = if (w.id % 3 == 0) Seq("etdTimestamp" -> Seq("old")) else Nil
        Option.when(w.ghostUid >= 0)(entry(s"w${w.id}ghost", w.ghostUid.toString)).toSeq :+
          entry(w.deletedCns.head, s"${900000 + w.id}", Seq("idnDeleted" -> Seq("TRUE"),
            "etlTimestamp" -> Seq("old")) ++ etd: _*)
      }
      both.union(spark.createDataset(extra)).localCheckpoint(true)
    }

    private def usersDf: DataFrame = spark.createDataFrame(
      java.util.Arrays.asList(worlds.flatMap(_.rows): _*), EtlSchema.userSchema)
      .localCheckpoint(true)

    /** Mutates every world's users and returns the user table with this
      * round's events.
      */
    def round(n: Int): (DataFrame, DataFrame) = {
      val evs = mutable.ArrayBuffer.empty[Row]
      for (w <- worlds) {
        var k = 0
        def event(uid: String, typ: Double, table: String = "benutzer_alle_dirxml_v",
            key: String = "pk_uniqueid="): Unit = {
          k += 1
          val attempt: Any = Seq(null, null, 0.0, 1.0, 9.0, 10.0, 11.0)(w.rng.nextInt(7))
          evs += eventRow(n * 1e7 + w.id * 1000.0 + k, key + uid, typ, table, attempt)
        }
        def pick(): Row = w.rows(w.rng.nextInt(w.rows.size))
        def change(u: Long, kv: (String, Any)*): Unit =
          w.rows = w.rows.map(r => if (uidOf(r) == u) set(r, kv: _*) else r)
        for (_ <- 0 until 1 + w.rng.nextInt(4)) w.rng.nextInt(11) match {
          case 0 | 1 if w.rows.nonEmpty => // attribute / write-through change
            val u = uidOf(pick())
            val field = Seq("vorname", "nachname", "emailadresse_st", "passwort",
              "bpk")(w.rng.nextInt(5))
            change(u, field -> s"v${n}x${w.rng.nextInt(2)}")
            event(u.toString, if (w.rng.nextInt(5) == 0) 5.0 else 6.0)
          case 2 if w.rows.nonEmpty => // rename, sometimes case-only
            val r = pick()
            val cn = if (w.rng.nextBoolean()) cnOf(r).toUpperCase else s"w${w.id}r${n}x${w.rng.nextInt(9)}"
            w.rows = w.rows.map(x => if (x eq r) set(x, "benutzername" -> cn) else x)
            event(uidOf(r).toString, 6.0)
          case 3 if w.rows.nonEmpty => // delete
            val u = uidOf(pick())
            w.deletedCns ++= w.rows.filter(uidOf(_) == u).map(cnOf)
            w.rows = w.rows.filterNot(uidOf(_) == u)
            event(u.toString, if (w.rng.nextInt(4) == 0) 6.0 else 4.0)
          case 4 => // insert: fresh cn, a deleted user's cn, or a live cn in other case
            val cn =
              if (w.deletedCns.nonEmpty && w.rng.nextBoolean()) w.deletedCns(w.rng.nextInt(w.deletedCns.size))
              else if (w.rows.nonEmpty && w.rng.nextBoolean()) {
                val other = pick()
                event(uidOf(other).toString, 6.0)
                cnOf(other).capitalize
              } else s"w${w.id}i${n}x${w.rng.nextInt(9)}"
            val r = w.fresh(cn)
            w.rows :+= r
            event(uidOf(r).toString, if (w.rng.nextInt(3) == 0) 6.0 else 5.0)
            if (w.rng.nextBoolean()) event(uidOf(r).toString, 6.0)
          case 5 if w.rows.nonEmpty => // a second row for a uid
            val r = pick()
            w.rows :+= set(r, "benutzername" -> s"w${w.id}d${n}x${w.rng.nextInt(9)}")
            event(uidOf(r).toString, 6.0)
          case 6 if w.rows.nonEmpty => // replay, sometimes twice
            val u = uidOf(pick()).toString
            event(u, Seq(4.0, 5.0, 6.0)(w.rng.nextInt(3)))
            if (w.rng.nextBoolean()) event(u, 6.0)
          case 7 => // a uid that never existed
            event((2000000L + w.id * 1000 + n).toString, Seq(4.0, 5.0, 6.0)(w.rng.nextInt(3)))
          case 8 => // invalid events
            w.rng.nextInt(4) match {
              case 0 => event("1", 7.0)
              case 1 => event("1", 6.0, key = "uid=")
              case 2 => event("1", 6.0, table = "other_table")
              case _ => event("x1", 6.0)
            }
          case _ => // the ghost's user renamed: uid ambiguity
            if (w.rows.exists(uidOf(_) == w.ghostUid)) {
              change(w.ghostUid, "benutzername" -> s"w${w.id}g$n")
              event(w.ghostUid.toString, 6.0)
            }
        }
      }
      (usersDf, spark.createDataFrame(java.util.Arrays.asList(evs.toSeq: _*),
        EtlSchema.eventSchema).localCheckpoint(true))
    }
  }
}
