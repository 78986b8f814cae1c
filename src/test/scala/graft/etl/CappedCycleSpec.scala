package graft.etl

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import Directory.Entry

/** `Cdc.cycle` against the set-based reference (`SetBasedReference`) on
  * the same inputs: identical per-event verdicts (status, error_message,
  * attempt), eventlog writeback, rename queue and `Directory.dump`, for
  * capped batches (`Cdc.cycle` at a cap of 5,000), unbounded ones
  * (`Cdc.cycle` at `Int.MaxValue`, one chunk: its job count is pinned
  * below) and unbounded ones over a lowered uid bound, which run as chunks
  * and are held to the reference run chunk by chunk. The ph15 rename
  * pass (`Cdc.updatePh15Cn`) is held to the set-based one on the rename
  * queues of the same kind of batches.
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
    differential(count = 67, seed = 20261018L)(Cdc.cycle(_, _, _, _, 5000, _),
      SetBasedReference.cycle(_, _, _, _, 5000, _))
  }

  test("unbounded cycles agree with the set-based path on 201 seeded random batches") {
    differential(count = 67, seed = 20261019L)(Cdc.cycle(_, _, _, _, Int.MaxValue, _),
      SetBasedReference.cycle(_, _, _, _, Int.MaxValue, _))
  }

  test("chunked drains agree with the set-based path run chunk by chunk") {
    val sc = TestSpark.spark.sparkContext
    val uidB = 24
    val chunkCounts = mutable.ArrayBuffer.empty[Int]
    val kept = mutable.ArrayBuffer.empty[Int]
    differential(count = 67, seed = 20261019L)({ (snap, users, eventlog, conf, readTime) =>
      val before = sc.getRDDStorageInfo.map(_.id).toSet
      val r = Cdc.cycle(snap, users, eventlog, conf, Int.MaxValue, readTime, uidB)
      kept += (sc.getRDDStorageInfo.map(_.id).toSet -- before).size
      r
    }, { (snap, users, eventlog, conf, readTime) =>
      val ranges = chunkRanges(eventlog, conf, uidB)
      chunkCounts += ranges.size
      chunkwise(snap, users, eventlog, conf, readTime, ranges)
    })
    info(s"chunks per round: $chunkCounts; RDDs left stored per drain: $kept")
    assert(chunkCounts.forall(_ >= 5), chunkCounts)
    // every chunk's snapshot but the one the result reads is released
    assert(kept.forall(_ <= 1), kept)
  }

  test("the rename pass agrees with the set-based pass, in one chunk and in key chunks") {
    val spark = TestSpark.spark
    import spark.implicits._
    val w = new Worlds(spark, count = 67, seed = 20261022L)
    val keyBound = 8
    val ph15Conf = Fixture.conf.copy(baseDn = Fixture.ph15, ph15Dn = Some(Fixture.ph15))
    var snap = w.snapshot0
    var elog = spark.createDataFrame(java.util.List.of[Row](), EtlSchema.eventSchema)
    // per round: (renames, case-only ones, key chunks)
    val seen = mutable.ArrayBuffer.empty[(Int, Int, Int)]
    for (round <- 1 to 3) {
      val (users, events) = w.round(round)
      val base = if (round == 2) Fixture.ph15 else Fixture.ph08
      val r = Cdc.cycle(snap, users, elog.unionByName(events),
        Fixture.conf.copy(baseDn = base, ph15Dn = Some(Fixture.ph15),
          etlTimestamp = f"ren$round%04dZ"), Int.MaxValue)
      val after = r.snapshot.localCheckpoint(true)
      val q = r.renames
      def reference(s: Dataset[Entry], rs: Seq[(String, String)]) =
        SetBasedReference.updatePh15Cn(s, users, rs.toDF("old_cn", "new_cn"), ph15Conf)
          .localCheckpoint(true)
      val got = Cdc.updatePh15Cn(after, users, q, ph15Conf).localCheckpoint(true)
      assert(Directory.dump(got) == Directory.dump(reference(after, q)), s"round $round")
      val cuts = renameCuts(q, keyBound)
      assert(Cdc.renameChunks(q, keyBound).map(_.toSet) ==
        cuts.map(_.flatMap { case (a, b) => Seq(a, b) }.toSet), s"round $round cuts")
      val chunked = Cdc.updatePh15Cn(after, users, q, ph15Conf, keyBound)
      assert(Directory.dump(chunked) == Directory.dump(cuts.foldLeft(after)(reference)),
        s"round $round chunked")
      seen += ((q.size, q.count { case (o, n) => o != n && o.equalsIgnoreCase(n) }, cuts.size))
      snap = got
      elog = r.eventlog.localCheckpoint(true)
      if (round == 2) snap = SyncEngine.setEtdDone(snap, None).localCheckpoint(true)
    }
    info(s"(renames, case-only, key chunks) per round: $seen")
    assert(seen.forall { case (n, _, chunks) => n > 0 && chunks >= 3 }, seen)
    assert(seen.map(_._2).sum > 0, seen)
  }

  /** `count` worlds × 3 rounds: `cycle` against `reference`. */
  private def differential(count: Int, seed: Long)(cycle: CycleFn, reference: CycleFn): Unit = {
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
      val pending = eventlog.filter(rtrim(col("status")).isin("N", "E"))
        .select("record_id").collect().map(_.getDouble(0)).sorted.toSeq
      val got = cycle(snap, users, eventlog, conf, readTime)
      val ref = reference(snap, users, eventlog, conf, readTime)
      val (refSnap, refElog) =
        (ref.snapshot.localCheckpoint(true), ref.eventlog.localCheckpoint(true))

      val (vc, vs) = (verdicts(got.eventUpdates), verdicts(ref.eventUpdates))
      // every selected event gets exactly one verdict
      assert(vc.map(_._1) == pending && got.selected == pending.size, s"round $round counts")
      assert(vs.map(_._1) == pending, s"round $round reference counts")
      vc.zip(vs).foreach { case (c, s) => assert(c == s, s"round $round verdict") }
      assert(renames(got) == renames(ref), s"round $round renames")
      val dump = Directory.dump(refSnap)
      assert(Directory.dump(got.snapshot) == dump, s"round $round dump")
      assert(verdicts(got.eventlog.select(col("record_id"),
        col("status").as("new_status"), col("error_message").as("new_error"),
        col("attempt").as("new_attempt"))) == verdicts(refElog.select(
        col("record_id"), col("status").as("new_status"),
        col("error_message").as("new_error"), col("attempt").as("new_attempt"))),
        s"round $round writeback")

      vs.foreach { v => seen(v._2) += 1 }
      events.select("event_type").collect().foreach(r => seen(s"type ${r.get(0)}") += 1)
      seen("renames") += renames(ref).size
      seen("ambiguous") += vs.count(_._3.exists(_.contains("more than one record")))
      seen("deleted-cn") += vs.count(_._3.exists(_.startsWith("Found deleted record")))
      seen("retry-ceiling") += vs.count(v => v._2 == "F" && v._4.contains(12.0))
      snap = refSnap
      elog = refElog
      if (round == 2) snap = SyncEngine.setEtdDone(snap, None).localCheckpoint(true)
    }
    info(s"covered: ${seen.toSeq.sorted.mkString(", ")}")
    // the batches reached every verdict and every path they are built for
    for (k <- Seq("S", "W", "E", "F", "type 4.0", "type 5.0", "type 6.0",
        "renames", "ambiguous", "deleted-cn", "retry-ceiling"))
      assert(seen(k) > 0, s"no $k in ${seen.toMap}")
  }

  test("the former fallback states fail or equal the set-based path") {
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
    val readTime = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val uidB = Cdc.driverBatchBound
    def rows(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toString).sorted
    def lines(snap: Dataset[Entry]): Seq[String] =
      Directory.dump(snap).split("\n").toSeq.sorted

    // a snapshot that breaks the Directory invariant fails the cycle,
    // naming the dn: (why, snapshot, the dn)
    val broken = Seq(
      ("the dn", withEntries(Entry(uaDn, uaAttrs + ("sn" -> Seq("Twice")))), uaDn),
      // the entry under ua's cn in upper case is renamed onto ua's dn
      ("a change lands on the existing dn", withEntries(Entry(s"cn=UA,${Fixture.ph08}",
        uaAttrs + ("cn" -> Seq("UA")))), uaDn),
      // both ua entries change a write-through column of one ph15 twin
      ("two write-through patches for the ph15 twin",
        withEntries(Entry(s"cn=UA,${Fixture.ph08}", uaAttrs)),
        s"cn=ua,${Fixture.ph15}".toLowerCase))
    for ((why, snap, dn) <- broken) {
      val e = intercept[IllegalStateException](
        Cdc.cycle(snap, changed, events(10.0), conf, 100, readTime))
      assert(e.getMessage.startsWith(s"$why") && e.getMessage.contains(dn), e.getMessage)
    }

    // the rest equal the reference, chunk by chunk where the cycle chunks:
    // (why, eventlog, cap, uid bound, chunks)
    val ok = Seq(
      // its verdict cannot be written back: the eventlog row stays N
      ("a selected event has no record_id", events(null), 100, uidB, 1),
      ("an unbounded batch over the uid bound", events(10.0), Int.MaxValue, 1, 2),
      ("an unbounded batch within the bound", events(10.0), Int.MaxValue, 2, 1))
    for ((why, elog, max, uidBound, n) <- ok) {
      val got = Cdc.cycle(loaded, changed, elog, conf, max, readTime, uidBound)
      val ranges = chunkRanges(elog, conf, uidBound)
      assert(ranges.size == n, why)
      val ref =
        if (n == 1) SetBasedReference.cycle(loaded, changed, elog, conf, max, readTime)
        else chunkwise(loaded, changed, elog, conf, readTime, ranges)
      assert(got.selected == 2, why)
      assert(rows(got.eventUpdates) == rows(ref.eventUpdates), why)
      assert(rows(got.eventlog) == rows(ref.eventlog), why)
      assert(lines(got.snapshot) == lines(ref.snapshot), why)
    }
    val noRid = Cdc.cycle(loaded, changed, events(null), conf, 100, readTime)
    assert(noRid.eventUpdates.filter(col("record_id").isNull).count() == 1)
    assert(noRid.eventlog.filter(col("record_id").isNull)
      .select(rtrim(col("status"))).as[String].collect().toSeq == Seq("N"))
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
      measure(SetBasedReference.cycle(w.snapshot0, users, events, conf, Int.MaxValue, readTime))
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
  type CycleFn = (Dataset[Entry], DataFrame, DataFrame, EtlConf,
    java.sql.Timestamp) => Cdc.CycleResult

  /** The record_id ranges of a drain's chunks, cut as `Cdc.cycle` cuts an
    * unbounded selection over its bound: in record_id order, at most
    * `uidBound` distinct valid uids each.
    */
  def chunkRanges(eventlog: DataFrame, conf: EtlConf, uidBound: Int)
      : Seq[(Option[Double], Option[Double])] = {
    val sel = Cdc.selectBatch(eventlog, Int.MaxValue, conf)
      .select(col("record_id"), col("uid")).collect().toSeq
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Double]),
        Option(r.get(1)).map(_.asInstanceOf[Long])))
      .sortBy(_._1)
    val chunks = mutable.ArrayBuffer(mutable.ArrayBuffer.empty[(Option[Double], Option[Long])])
    for (e <- sel) {
      val uids = chunks.last.flatMap(_._2).toSet
      if (uids.size == uidBound && e._2.exists(!uids(_)))
        chunks += mutable.ArrayBuffer.empty
      chunks.last += e
    }
    chunks.toSeq.map(c => (c.head._1, c.last._1))
  }

  /** The set-based reference run once per chunk range, each run on the
    * snapshot the one before left and on the eventlog restricted to its
    * range; the verdicts are written back to the whole eventlog at once.
    * The ranges hold no null record_id.
    */
  def chunkwise(snap0: Dataset[Entry], users: DataFrame, eventlog: DataFrame,
      conf: EtlConf, readTime: java.sql.Timestamp,
      ranges: Seq[(Option[Double], Option[Double])]): Cdc.CycleResult = {
    var snap = snap0
    val rs = ranges.map { case (lo, hi) =>
      val r = SetBasedReference.cycle(snap, users,
        eventlog.filter(col("record_id").between(lo.get, hi.get)), conf, Int.MaxValue,
        readTime)
      snap = r.snapshot.localCheckpoint(true)
      (r.eventUpdates.localCheckpoint(true), r.renames)
    }
    val updates = rs.map(_._1).reduce(_ unionByName _)
    Cdc.CycleResult(snap, Cdc.writeback(eventlog, updates), updates, rs.flatMap(_._2),
      updates.count())
  }

  /** A rename queue cut as `Cdc.updatePh15Cn` cuts it: the distinct
    * renames in UTF-8 order, a new chunk begun where a rename would take
    * the chunk's distinct cns past `keyBound`.
    */
  def renameCuts(q: Seq[(String, String)], keyBound: Int): Seq[Seq[(String, String)]] = {
    val o = Cdc.utf8Order
    val chunks = mutable.ArrayBuffer(Seq.empty[(String, String)])
    for (r <- q.distinct.sorted(Ordering.Tuple2(o, o))) {
      val keys = (chunks.last :+ r).flatMap { case (a, b) => Seq(a, b) }.distinct
      if (chunks.last.nonEmpty && keys.size > keyBound) chunks += Seq(r)
      else chunks(chunks.size - 1) = chunks.last :+ r
    }
    chunks.toSeq.filter(_.nonEmpty)
  }

  def verdicts(updates: DataFrame): Seq[Verdict] =
    updates.select(col("record_id"), rtrim(col("new_status")), col("new_error"),
      col("new_attempt")).collect().toSeq.map(r => (r.getDouble(0),
      r.getString(1), Option(r.getString(2)),
      Option(r.get(3)).map(_.asInstanceOf[Double]))).sortBy(_._1)

  def renames(r: Cdc.CycleResult): Seq[(String, String)] = r.renames.sorted

  private[etl] val idx = EtlSchema.userFields.zipWithIndex.toMap

  private[etl] def set(r: Row, kv: (String, Any)*): Row = {
    val a = r.toSeq.toArray
    kv.foreach { case (k, v) => a(idx(k)) = v }
    Row.fromSeq(a.toSeq)
  }

  private[etl] def uidOf(r: Row): Long = r.getDouble(idx("pk_uniqueid")).toLong

  /** One N event; `rid` may be null. */
  private[etl] def eventRow(rid: Any, key: String, typ: Double,
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
