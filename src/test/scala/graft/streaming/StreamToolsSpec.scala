package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.{Directory, EtlConf, EtlSchema, Fixture, InitialLoad, TestSpark}
import graft.tools.{Compare, CsvTools}

class StreamingSpec extends AnyFunSuite {

  test("watermarked streaming tumbling agg equals the batch result") {
    val spark = TestSpark.spark
    val dir = "/root/testdata/sf0.001"
    val q = EventStream.tumblingCounts(EventStream.readEvents(spark, dir))
      .writeStream.outputMode("complete")
      .format("memory").queryName("stream_tumbling")
      .start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("stream_tumbling")
      .orderBy("hour", "event_type").collect().toSeq
    val batch = graft.operators.Windows.tumbling(spark, dir)
      .orderBy("hour", "event_type").collect().toSeq
    assert(streamed == batch)
  }

  test("multi-file out-of-order replay drains to the exact batch answer") {
    // the shard-replica shape that silently broke the sf1 stream
    // numbers in round 9: a DIRECTORY events table whose part files all
    // span the same time range, so triggers arrive out of event-time
    // order and any small watermark drops cross-trigger state (the
    // interval join emitted 2.4× instead of 10×, sessions 5.1×). The
    // replay-bounded watermark (EventStream.replayWatermark) must make
    // the drained answers EXACTLY equal their batch twins.
    val spark = TestSpark.spark
    import spark.implicits._
    val base = 1704067200000000L // 2024-01-01 UTC, µs
    // 4 shards × 50 events: same timestamps in every shard (maximal
    // overlap), disjoint user ids, events 20 s apart (inside the 60 s
    // join window and the 30 min session gap)
    val rows = for (shard <- 0 until 4; i <- 0 until 50) yield (
      shard * 1000L + i, // event_id
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        base / 1000000L + i * 20L)),
      shard * 100L + (i % 3), // 3 users per shard
      s"t${i % 2}", i.toDouble, "{}")
    val d = java.nio.file.Files.createTempDirectory("replay").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(4) // round-robin: every file spans the full range
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val nFiles = new java.io.File(s"$d/events.parquet").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(nFiles >= 4, s"need a multi-file layout, got $nFiles")

    // interval join: drained stream vs batch on the same frame
    val got = graft.operators.StreamToolOps.streamJoin(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val e = graft.Tables.events(spark, d)
    val l = e.select(col("event_id").as("l_id"), col("user_id").as("u"),
      col("ts_ns").as("l_ns"))
    val r = e.select(col("event_id").as("r_id"), col("user_id").as("u"),
      col("ts_ns").as("r_ns"))
    val want = l.join(r, "u")
      .filter(col("r_ns") >= col("l_ns") - expr("60000000000") &&
        col("r_ns") < col("l_ns"))
      .select("l_id", "r_id")
      .collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    assert(want.nonEmpty, "fixture must produce cross-file joins")
    assert(got == want, s"stream ${got.length} pairs vs batch ${want.length}")

    // watermarked dedup: must equal DISTINCT despite late duplicates
    val dd = graft.operators.StreamToolOps.streamDedupWm(spark, d).count()
    val ddWant = e.select("user_id", "event_type").distinct().count()
    assert(dd == ddWant, s"dedup_wm $dd vs distinct $ddWant")

    // flatMapGroupsWithState first-seen: the cross-trigger state must
    // suppress re-emission of a pair already seen in an earlier batch
    // (every pair recurs in every shard here), and the emission union
    // must be EXACTLY the distinct set — no drops, no duplicates
    val fs = graft.operators.StreamToolOps.streamStateDedup(spark, d)
      .collect().map(x => (x.getLong(0), x.getString(1))).sorted.toSeq
    val fsWant = e.select("user_id", "event_type").distinct()
      .collect().map(x => (x.getLong(0), x.getString(1))).sorted.toSeq
    assert(fs == fsWant,
      s"state dedup emitted ${fs.length} vs distinct ${fsWant.length}")

    // transformWithState twin (v2 state API, RocksDB store): the same
    // cross-trigger suppression contract must hold bit-for-bit
    val tws = graft.operators.StreamToolOps.streamTwsDedup(spark, d)
      .collect().map(x => (x.getLong(0), x.getString(1))).sorted.toSeq
    assert(tws == fsWant,
      s"tws dedup emitted ${tws.length} vs distinct ${fsWant.length}")
  }

  test("chained stateful ops: dedup then windowed agg in one stream") {
    // Spark 4 multi-stateful support: dropDuplicatesWithinWatermark
    // followed by a windowed aggregation inside a SINGLE streaming
    // query (append mode — the only mode chained stateful allows).
    // The replay carries every event TWICE (duplicates adjacent in the
    // same file, inside the dedup watermark); a far-future sentinel
    // file arrives last so the final watermark advance closes every
    // real window — without it an append-mode drain silently
    // under-emits the tail windows and the equality below would be a
    // coin flip on the fixture's last hour.
    val spark = TestSpark.spark
    import spark.implicits._
    val base = 1704067200L // 2024-01-01 UTC, seconds
    val d = java.nio.file.Files.createTempDirectory("chain").toString
    val tableDir = new java.io.File(d, "events.parquet")
    tableDir.mkdirs()
    def writeFile(name: String, rows: Seq[(Long, java.sql.Timestamp, Long, String, Double, String)],
        modTime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("chain_part").toString
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(tableDir, name)
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      dst.setLastModified(modTime)
    }
    def ts(sec: Long) = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(sec))
    val now = System.currentTimeMillis()
    for (h <- 0 until 4) {
      val rows = (0 until 30).flatMap { i =>
        val r = (h * 100L + i, ts(base + h * 3600L + i * 60L),
          (i % 5).toLong, s"t${i % 3}", i.toDouble, "{}")
        Seq(r, r) // exact duplicate, adjacent: inside the dedup bound
      }
      writeFile(s"part-h$h.parquet", rows, now + h * 1000L)
    }
    writeFile("part-sentinel.parquet",
      Seq((99999L, ts(base + 365L * 86400L), 0L, "flush", 0.0, "{}")),
      now + 10000L)

    val streamed = {
      val q = EventStream.readEvents(spark, d)
        .withWatermark("ts", "30 minutes")
        .dropDuplicatesWithinWatermark("event_id")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("hour"), col("event_type"), col("n"))
        .writeStream.outputMode("append")
        .format("memory").queryName("chain_dedup_agg").start()
      try q.processAllAvailable() finally q.stop()
      spark.table("chain_dedup_agg")
        .filter(col("event_type") =!= "flush")
        .orderBy("hour", "event_type").collect().toSeq
    }
    val batch = graft.Tables.events(spark, d)
      .filter(col("event_type") =!= "flush")
      .dropDuplicates("event_id")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("hour"), col("event_type"), col("n"))
      .orderBy("hour", "event_type").collect().toSeq
    assert(streamed.nonEmpty && streamed == batch,
      s"chained stateful drain ${streamed.length} rows vs batch ${batch.length}")
    // and the dedup actually did something: raw rows are 2x the distinct
    val raw = graft.Tables.events(spark, d)
      .filter(col("event_type") =!= "flush").count()
    assert(raw == 240L && batch.map(_.getLong(2)).sum == 120L)
  }

  test("continuous MV maintenance drains to the final version's rescan") {
    // q_stream_mv end-to-end at sf0.001: the foreachBatch loop folds
    // two commits' CDF slices through the SUM retraction kernel; the
    // drained MV must equal an INDEPENDENT recompute straight from the
    // source table (the oracle contract: rescan of the final gen-3
    // version, %10==1 withheld)
    val spark = TestSpark.spark
    val dir = "/root/testdata/sf0.001"
    val got = graft.operators.EtlOps.streamMv(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val expect = graft.Tables.customer(spark, dir)
      .filter(col("c_custkey") % 10 =!= 1)
      .select(concat(col("c_mktsegment"),
          when(col("c_custkey") % 5 === 0, "+").otherwise(""),
          when(col("c_custkey") % 3 === 0, "~").otherwise("")).as("segment"),
        col("c_custkey").cast("long").as("w"))
      .groupBy("segment")
      .agg(count(lit(1)).as("n"), sum("w").as("sw"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expect && got.nonEmpty, s"got=$got")
  }

  test("poll loop drains backlog without sleeping, then reproduces ldap01") {
    val spark = TestSpark.spark
    val pre = Directory.parseDump(spark, TestSpark.golden("ldapII.txt"))
    val users0 = EtlSchema
      .readUsersCsv(spark, s"${TestSpark.refData}/initial_data.csv")
      .filter(!col("pk_uniqueid").isin(4731.0, 4732.0))
      .localCheckpoint(true)
    val conf = EtlConf(baseDn = "ou=user,ou=ph08,o=BMUKK",
      cryptoIvHex = Some("0" * 32))
    val snap0 = InitialLoad.run(pre, users0, conf).snapshot.localCheckpoint(true)

    val cs = EtlSchema.readUsersCsv(spark, s"${TestSpark.refData}/changeset01.csv")
    val users = users0
      .join(cs.select("pk_uniqueid"), Seq("pk_uniqueid"), "left_anti")
      .unionByName(cs).localCheckpoint(true)
    val elog = EtlSchema.readEventsCsv(spark,
      s"${TestSpark.refData}/eventlog01.csv").localCheckpoint(true)

    var slept = 0
    val hb = java.nio.file.Files.createTempFile("graft-liveness", "")
    // two multiplexed sources: ph08 carries the backlog, ph15 is idle
    val emptyLog = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      EtlSchema.eventSchema)
    val st = CdcStream.run(
      CdcStream.LoopState(snap0,
        Map("postgres" -> elog, "ph15db" -> emptyLog), 0, 0),
      Seq(
        CdcStream.Source(conf, () => users, "postgres"),
        CdcStream.Source(
          conf.copy(baseDn = "ou=user,ou=ph15,o=BMUKK", db = "ph15db"),
          () => users, "ph15db")),
      maxRecords = 2, // 4 events ⇒ 2 full batches ⇒ drain mode
      sleeper = () => { slept += 1 },
      heartbeat = Some(hb))
    assert(st.cyclesRun == 2, s"expected 2 drain cycles, got ${st.cyclesRun}")
    assert(slept == 0 && st.sleeps == 0, "drain rule must skip sleeping")
    assert(java.nio.file.Files.readString(hb).nonEmpty)
    // F14 — liveness verdict: fresh heartbeat passes, stale one fails
    assert(CdcStream.isAlive(hb, 20))
    assert(!CdcStream.isAlive(hb, 20,
      nowMillis = System.currentTimeMillis + (2 * 20 + 601) * 1000L))

    import spark.implicits._
    val got = Directory.dump(st.snapshot.filter(e =>
      e.dn == "ou=ph08,o=BMUKK" || e.dn.endsWith(",ou=ph08,o=BMUKK")))
    assert(got == TestSpark.golden("ldap01.txt"))
  }
}

class LoopResilienceSpec extends AnyFunSuite {
  test("a transiently failing source is retried, not fatal") {
    val spark = TestSpark.spark
    import spark.implicits._
    val pre = Directory.parseDump(spark, TestSpark.golden("ldapII.txt"))
    val users0 = EtlSchema
      .readUsersCsv(spark, s"${TestSpark.refData}/initial_data.csv")
      .filter(!col("pk_uniqueid").isin(4731.0, 4732.0))
    val conf = EtlConf(baseDn = "ou=user,ou=ph08,o=BMUKK",
      cryptoIvHex = Some("0" * 32))
    val snap0 = InitialLoad.run(pre, users0, conf).snapshot.localCheckpoint(true)
    val cs = EtlSchema.readUsersCsv(spark, s"${TestSpark.refData}/changeset01.csv")
    val users = users0
      .join(cs.select("pk_uniqueid"), Seq("pk_uniqueid"), "left_anti")
      .unionByName(cs).localCheckpoint(true)
    val elog = EtlSchema.readEventsCsv(spark,
      s"${TestSpark.refData}/eventlog01.csv").localCheckpoint(true)

    var calls = 0
    val flaky = () => {
      calls += 1
      if (calls == 1) sys.error("transient source outage")
      users
    }
    val st = CdcStream.run(
      CdcStream.LoopState(snap0, Map("postgres" -> elog), 0, 0),
      Seq(CdcStream.Source(conf, flaky, "postgres")),
      sleeper = () => ())
    assert(st.sourceErrors("postgres") == 1, "first cycle must record the error")
    val got = Directory.dump(st.snapshot.filter(e =>
      e.dn == "ou=ph08,o=BMUKK" || e.dn.endsWith(",ou=ph08,o=BMUKK")))
    assert(got == TestSpark.golden("ldap01.txt"),
      "the retry cycle must still converge to the golden state")
  }
}

class StatefulStreamSpec extends AnyFunSuite {
  test("mapGroupsWithState accumulates per-user profiles across batches") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val stream = EventStream.readEvents(spark, dir)
      .select(col("user_id"), col("event_id"), col("value"))
      .as[(Long, Long, Double)]
    val name = s"profiles_${System.nanoTime()}"
    val q = EventStream.runningUserProfiles(stream)
      .writeStream.outputMode("update")
      .format("memory").queryName(name).start()
    q.processAllAvailable(); q.stop()
    // final state per user (last update wins) must equal the batch agg
    val last = spark.table(name)
      .groupBy("userId")
      .agg(max("n").as("n"), max("lastEventId").as("lastEventId"))
    val expected = graft.Tables.events(spark, dir)
      .groupBy(col("user_id").as("userId"))
      .agg(count(lit(1)).as("n"), max("event_id").as("lastEventId"))
    assert(last.orderBy("userId").collect().toSeq ==
      expected.orderBy("userId").collect().toSeq)
  }
}

class StreamingCdcSpec extends AnyFunSuite {
  test("foreachBatch CDC stream converges to the scenario-01 golden") {
    val spark = TestSpark.spark
    import spark.implicits._
    val pre = Directory.parseDump(spark, TestSpark.golden("ldapII.txt"))
    val users0 = EtlSchema
      .readUsersCsv(spark, s"${TestSpark.refData}/initial_data.csv")
      .filter(!col("pk_uniqueid").isin(4731.0, 4732.0))
    val conf = EtlConf(baseDn = "ou=user,ou=ph08,o=BMUKK",
      cryptoIvHex = Some("0" * 32))
    val snap0 = InitialLoad.run(pre, users0, conf).snapshot.localCheckpoint(true)
    val cs = EtlSchema.readUsersCsv(spark, s"${TestSpark.refData}/changeset01.csv")
    val users = users0
      .join(cs.select("pk_uniqueid"), Seq("pk_uniqueid"), "left_anti")
      .unionByName(cs).localCheckpoint(true)

    val evDir = java.nio.file.Files.createTempDirectory("graft-evstream")
    val observed = new java.util.concurrent.atomic.AtomicLong(0)
    val (q, state) = graft.streaming.CdcStream.startStreaming(
      spark, snap0, () => users, evDir.toString, conf,
      onCycle = r => observed.addAndGet(r.eventUpdates.count()))
    // a new eventlog file arrives mid-stream
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSpark.refData}/eventlog01.csv"),
      evDir.resolve("eventlog01.csv"))
    q.processAllAvailable(); q.stop()

    val got = Directory.dump(state.get().filter(e =>
      e.dn == "ou=ph08,o=BMUKK" || e.dn.endsWith(",ou=ph08,o=BMUKK")))
    assert(got == TestSpark.golden("ldap01.txt"))
    // event verdicts are observable, not discarded with the batch
    assert(observed.get() == 4, s"expected 4 event verdicts, got $observed")
  }

  test("streaming mode propagates queued renames into the ph15 twin tree") {
    val spark = TestSpark.spark
    import spark.implicits._
    val base = "ou=user,ou=ph08,o=BMUKK"
    val base15 = "ou=user,ou=ph15,o=BMUKK"
    val conf = EtlConf(baseDn = base, cryptoIvHex = Some("0" * 32),
      ph15Dn = Some(base15))
    val pre = spark.createDataset(
      Directory.bootstrapEntries(Seq(base, base15)) ++ Seq(
        Directory.Entry(s"cn=oldname,$base", Map(
          "cn" -> Seq("oldname"), "phonlineUniqueId" -> Seq("321"),
          "objectClass" -> Seq("inetOrgPerson", "phonlinePerson", "idnSyncstat"))),
        Directory.Entry(s"cn=oldname,$base15", Map(
          "cn" -> Seq("oldname"), "phonlineUniqueId" -> Seq("321"),
          "objectClass" -> Seq("inetOrgPerson", "phonlinePerson", "idnSyncstat")))))
    val users = EtlSchema
      .readUsersCsv(spark, s"${Fixture.dir}/initial_data.csv")
      .limit(1)
      .withColumn("pk_uniqueid", lit(321.0))
      .withColumn("benutzername", lit("newname"))
      .localCheckpoint(true)
    val evDir = java.nio.file.Files.createTempDirectory("graft-evrename")
    val (q, state) = graft.streaming.CdcStream.startStreaming(
      spark, pre, () => users, evDir.toString, conf)
    // one benutzername-change event arrives
    val src = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"${Fixture.dir}/eventlog01.csv"))
    val lines = src.split("\n")
    java.nio.file.Files.writeString(evDir.resolve("ev.csv"),
      lines.head + "\n" +
        lines(1).replaceAll("pk_uniqueid=[0-9]+", "pk_uniqueid=321") + "\n")
    q.processAllAvailable(); q.stop()
    val dns = state.get().collect().map(_.dn).toSet
    assert(dns.contains(s"cn=newname,$base"), dns.toString)
    assert(dns.contains(s"cn=newname,$base15"),
      s"rename must cascade into ph15 in streaming mode: $dns")
    assert(!dns.contains(s"cn=oldname,$base15"), dns.toString)
  }
}

class CompareSpec extends AnyFunSuite {
  test("tree compare: deluids entries show as lhs-only; self-compare empty") {
    val spark = TestSpark.spark
    val a = Directory.parseDump(spark, TestSpark.golden("ldapII.txt"))
    val b = Directory.parseDump(spark, TestSpark.golden("ldap00.txt"))
    val diff = Compare.compare(a, b, "o=BMUKK", "o=BMUKK")
    assert(diff == Seq(
      "Only in lhs: cn=ajiqon.qajk.21,ou=user,ou=ph08,o=BMUKK",
      "Only in lhs: cn=jnas.orxzgyno.20,ou=user,ou=ph08,o=BMUKK"))
    assert(Compare.compare(a, a, "o=BMUKK", "o=BMUKK").isEmpty)
  }

  test("compareDf diffs two >1e5-entry trees without driver collect") {
    val spark = TestSpark.spark
    import spark.implicits._
    val base = "ou=user,ou=big,o=X"
    def tree(drop: Long, mutate: Long, extra: Boolean) = {
      val n = 120000L
      val rows = spark.range(0, n + (if (extra) 1 else 0))
        .filter(col("id") =!= drop)
      rows.map { i =>
        val sn = if (i == mutate) "MUTATED" else s"sn$i"
        Directory.Entry(s"cn=u$i,$base",
          Map("sn" -> Seq(sn), "cn" -> Seq(s"u$i")))
      }
    }
    // lhs: full tree; rhs: one entry missing, one mutated, one extra
    val lhs = tree(drop = -1L, mutate = -1L, extra = false)
    val rhs = tree(drop = 77L, mutate = 424242L % 120000L, extra = true)
    val diff = Compare.compareDf(lhs, rhs, base, base)
    // the result is a distributed Dataset: aggregate and sample it
    // with executor-side actions only (count + limited take), never a
    // full collect
    assert(diff.count() == 3L)
    val got = diff.take(5).toSeq
    assert(got.contains("Only in lhs: cn=u77,ou=user,ou=big,o=X"), got)
    assert(got.contains("Only in rhs: cn=u120000,ou=user,ou=big,o=X"), got)
    assert(got.exists(_.startsWith(
      "Differs: cn=u64242,ou=user,ou=big,o=X sn:")), got)
  }
}

class CsvToolsSpec extends AnyFunSuite {
  test("CSV round-trip, cutoff semi-join, deterministic anonymizer") {
    val spark = TestSpark.spark
    val users = EtlSchema
      .readUsersCsv(spark, s"${Fixture.dir}/initial_data.csv")
    val out = java.nio.file.Files.createTempDirectory("graft-csv").toString
    CsvTools.writeCsv(users, out)
    val back = EtlSchema.readUsersCsv(spark, out)
    assert(back.count() == users.count())
    assert(back.orderBy("ident_nr").collect().toSeq ==
      users.orderBy("ident_nr").collect().toSeq)

    val elog = EtlSchema.readEventsCsv(spark,
      s"${Fixture.dir}/eventlog01.csv")
    val cut = CsvTools.cutoffUsers(users, elog,
      java.sql.Timestamp.valueOf("2017-01-01 00:00:00"))
    assert(cut.select("pk_uniqueid").distinct().collect()
      .map(_.getDouble(0)).toSeq == Seq(4714.0))

    val a1 = CsvTools.anonymizeUsers(users).orderBy("ident_nr").collect().toSeq
    val a2 = CsvTools.anonymizeUsers(users).orderBy("ident_nr").collect().toSeq
    assert(a1 == a2, "anonymizer must be deterministic")
    // sensitive values actually replaced
    val v = CsvTools.anonymizeUsers(users)
      .filter(col("benutzername") === "caesar1").select("vorname").head.getString(0)
    assert(v != "Jumbub" && v.nonEmpty)
  }
}
