package graft.etl

import org.scalatest.funsuite.AnyFunSuite

/** Snapshot persistence: atomic pointer-swap versioning and the
  * parent-dn-partitioned layout whose LEVEL scans prune partitions
  * (the 100 TB read path).
  */
class SnapshotStoreSpec extends AnyFunSuite {

  test("save/load round-trips through the versioned pointer") {
    val spark = TestSpark.spark
    val snap = Directory.parseDump(spark, Fixture.twoTreeDump(spark))
    val dir = java.nio.file.Files.createTempDirectory("graft-snap").toString
    Directory.save(snap, dir)
    val back = Directory.load(spark, dir)
    assert(Directory.dump(back) == Fixture.twoTreeDump(spark))
    // a second save atomically supersedes the first
    Directory.save(back.filter(_.dn.contains("ph08")), dir)
    assert(Directory.load(spark, dir).count() ==
      snap.filter(_.dn.contains("ph08")).count())
  }

  test("retention keeps exactly `retain` superseded versions readable, prunes past them") {
    val spark = TestSpark.spark
    import spark.implicits._
    def snap(n: Int) = (1 to n)
      .map(i => Directory.Entry(s"cn=u$i,dc=t", Map("cn" -> Seq(s"u$i"))))
      .toDS()
    val dir = java.nio.file.Files.createTempDirectory("graft-tt").toString
    (1 to 4).foreach(n => Directory.save(snap(n), dir, retain = 2))
    val vs = Directory.versions(dir)
    // live v4 + the 2 retained superseded (v3, v2); v1 pruned
    assert(vs.size == 3, vs.mkString(", "))
    assert(vs.head.startsWith("v4") && vs(1).startsWith("v3") &&
      vs(2).startsWith("v2"), vs.mkString(", "))
    // time travel: each retained version reads ITS snapshot, bit-exact
    assert(Directory.loadVersion(spark, dir, vs(2)).count() == 2)
    assert(Directory.loadVersion(spark, dir, vs(1)).count() == 3)
    // the live read is unaffected
    assert(Directory.load(spark, dir).count() == 4)
    // a pruned or unknown version fails self-describingly
    val err = intercept[IllegalArgumentException](
      Directory.loadVersion(spark, dir, "v1-deadbeef"))
    assert(err.getMessage.contains("not a retained published version"))
  }

  test("default retention preserves the pre-round-16 behavior (one superseded version)") {
    val spark = TestSpark.spark
    import spark.implicits._
    def snap(n: Int) = (1 to n)
      .map(i => Directory.Entry(s"cn=u$i,dc=t", Map("cn" -> Seq(s"u$i"))))
      .toDS()
    val dir = java.nio.file.Files.createTempDirectory("graft-tt0").toString
    (1 to 3).foreach(n => Directory.save(snap(n), dir))
    val vs = Directory.versions(dir)
    assert(vs.size == 2, vs.mkString(", ")) // v3 live + v2 reader-pinnable
    assert(vs.head.startsWith("v3") && vs(1).startsWith("v2"))
  }

  test("change feed classifies insert/update/delete between versions exactly") {
    val spark = TestSpark.spark
    import spark.implicits._
    val v1 = Seq(
      Directory.Entry("cn=keep,dc=t", Map("cn" -> Seq("keep"))),
      Directory.Entry("cn=upd,dc=t", Map("cn" -> Seq("upd"), "mail" -> Seq("a@x"))),
      Directory.Entry("cn=del,dc=t", Map("cn" -> Seq("del")))).toDS()
    val v2 = Seq(
      Directory.Entry("cn=keep,dc=t", Map("cn" -> Seq("keep"))),
      Directory.Entry("cn=upd,dc=t", Map("mail" -> Seq("b@x"), "cn" -> Seq("upd"))),
      Directory.Entry("cn=new,dc=t", Map("cn" -> Seq("new")))).toDS()
    val dir = java.nio.file.Files.createTempDirectory("graft-cdf").toString
    Directory.save(v1, dir, retain = 2)
    Directory.save(v2, dir, retain = 2)
    val vs = Directory.versions(dir)
    val feed = Directory.changes(spark, dir, vs(1), vs.head).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // keep is unchanged (map key order must not count as a change),
    // upd's mail flipped, del vanished, new appeared — nothing else
    assert(feed == Map("cn=upd,dc=t" -> "update", "cn=del,dc=t" -> "delete",
      "cn=new,dc=t" -> "insert"), feed)
    // self-diff is empty
    assert(Directory.changes(spark, dir, vs.head, vs.head).isEmpty)
  }

  test("CDF-apply retracts a group to zero and drops it from the MV") {
    // the registered q_etl_cdf_apply never empties a segment (the
    // synthetic versions keep every market segment populated), so the
    // retraction edge — a group whose count reaches 0 must VANISH,
    // not linger at 0 or go negative — is pinned here on a hand-built
    // store: group "b" loses its only member, "a" loses one of two and
    // gains nothing, "c" is born
    import org.apache.spark.sql.functions._
    val spark = TestSpark.spark
    import spark.implicits._
    def e(cn: String, g: String) =
      Directory.Entry(s"cn=$cn,dc=t", Map("g" -> Seq(g)))
    val v1 = Seq(e("a1", "a"), e("a2", "a"), e("b1", "b")).toDS()
    val v2 = Seq(e("a1", "a"), e("c1", "c")).toDS()
    val dir = java.nio.file.Files.createTempDirectory("graft-cdfmv").toString
    Directory.save(v1, dir, retain = 2)
    Directory.save(v2, dir, retain = 2)
    val vs = Directory.versions(dir)
    val key = (attrs: org.apache.spark.sql.Column) => element_at(attrs("g"), 1)
    val base = Directory.loadVersion(spark, dir, vs(1)).toDF()
      .groupBy(key(col("attrs")).as("seg")).agg(count(lit(1)).as("delta"))
    val got = graft.operators.EtlOps.applyCountCdf(base,
        Directory.changes(spark, dir, vs(1), vs.head), key)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 1L, "c" -> 1L), got)
    // and the incremental answer IS the direct rescan of v2
    val rescan = Directory.loadVersion(spark, dir, vs.head).toDF()
      .groupBy(key(col("attrs")).as("seg")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == rescan)
  }

  test("SUM CDF-apply: groups vanish on count zero, never on sum zero") {
    // the count column is load-bearing for the SUM kernel: group "z"
    // keeps live rows whose weights cancel to 0 — it must STAY (sum 0
    // is an answer, not an absence) — while group "b" loses its last
    // row and must vanish; "a" takes an in-place weight update
    import org.apache.spark.sql.functions._
    val spark = TestSpark.spark
    import spark.implicits._
    def e(cn: String, g: String, w: Long) =
      Directory.Entry(s"cn=$cn,dc=t",
        Map("g" -> Seq(g), "w" -> Seq(w.toString)))
    val v1 = Seq(e("a1", "a", 10), e("b1", "b", 7),
      e("z1", "z", 5), e("z2", "z", 3)).toDS()
    val v2 = Seq(e("a1", "a", 12), e("z1", "z", 5), e("z2", "z", -5)).toDS()
    val dir = java.nio.file.Files.createTempDirectory("graft-cdfsum").toString
    Directory.save(v1, dir, retain = 2)
    Directory.save(v2, dir, retain = 2)
    val vs = Directory.versions(dir)
    val key = (attrs: org.apache.spark.sql.Column) => element_at(attrs("g"), 1)
    val w = (attrs: org.apache.spark.sql.Column) =>
      element_at(attrs("w"), 1).cast("long")
    val base = Directory.loadVersion(spark, dir, vs(1)).toDF()
      .groupBy(key(col("attrs")).as("seg"))
      .agg(count(lit(1)).as("cnt"), sum(w(col("attrs"))).as("msum"))
    val got = graft.operators.EtlOps.applySumCdf(base,
        Directory.changes(spark, dir, vs(1), vs.head), key, w)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("a", 1L, 12L), ("z", 2L, 0L)), got)
    // and the incremental answer IS the direct rescan of v2
    val rescan = Directory.loadVersion(spark, dir, vs.head).toDF()
      .groupBy(key(col("attrs")).as("seg"))
      .agg(count(lit(1)).as("cnt"), sum(w(col("attrs"))).as("msum"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == rescan)
  }

  test("MAX retraction is unrecoverable from (MV, CDF) alone — rescan fallback is forced") {
    // the decision pin: applySumCdf deliberately has no MIN/MAX twin.
    // Witness: two stores whose group-g MV state (max = 5) and whose
    // CDFs (delete the max-carrying entry, same dn, same attrs) are
    // IDENTICAL, yet whose correct new maxima differ — so no function
    // of (MV, CDF) can maintain max under deletion; only a rescan can.
    import org.apache.spark.sql.functions._
    val spark = TestSpark.spark
    import spark.implicits._
    def e(cn: String, w: Long) =
      Directory.Entry(s"cn=$cn,dc=t", Map("g" -> Seq("g"), "w" -> Seq(w.toString)))
    def mkStore(runnerUp: Long): (String, Seq[String]) = {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-cdfmax$runnerUp").toString
      Directory.save(Seq(e("x", 5), e("other", runnerUp)).toDS(), dir, retain = 2)
      Directory.save(Seq(e("other", runnerUp)).toDS(), dir, retain = 2)
      (dir, Directory.versions(dir))
    }
    val (dirA, vsA) = mkStore(runnerUp = 3)
    val (dirB, vsB) = mkStore(runnerUp = 4)
    val w = (attrs: org.apache.spark.sql.Column) =>
      element_at(attrs("w"), 1).cast("long")
    def mvMax(dir: String, v: String): Long =
      Directory.loadVersion(spark, dir, v).toDF()
        .agg(max(w(col("attrs")))).collect().head.getLong(0)
    def cdfRows(dir: String, vs: Seq[String]): Set[(String, String, Long)] =
      Directory.changes(spark, dir, vs(1), vs.head)
        .select(col("dn"), col("change_type"), w(col("attrs_from")))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .toSet
    // identical inputs to any would-be incremental max maintainer ...
    assert(mvMax(dirA, vsA(1)) == mvMax(dirB, vsB(1)))
    assert(cdfRows(dirA, vsA) == cdfRows(dirB, vsB))
    // ... but different correct outputs: the rescan answers diverge
    assert(mvMax(dirA, vsA.head) == 3L && mvMax(dirB, vsB.head) == 4L)
  }

  test("SUM CDF-apply fails fast on a null/non-numeric measure") {
    // a missing or non-numeric measure attribute must raise at the
    // offending row, not silently skip its sum contribution while cnt
    // still counts it (the divergence-from-oracle ADVICE r18 flagged)
    import org.apache.spark.sql.functions._
    val spark = TestSpark.spark
    import spark.implicits._
    val v1 = Seq(Directory.Entry("cn=a1,dc=t",
      Map("g" -> Seq("a"), "w" -> Seq("10")))).toDS()
    val v2 = Seq(
      Directory.Entry("cn=a1,dc=t", Map("g" -> Seq("a"), "w" -> Seq("12"))),
      Directory.Entry("cn=bad,dc=t", Map("g" -> Seq("a")))).toDS() // no "w"
    val dir = java.nio.file.Files.createTempDirectory("graft-cdfnul").toString
    Directory.save(v1, dir, retain = 2)
    Directory.save(v2, dir, retain = 2)
    val vs = Directory.versions(dir)
    val key = (attrs: org.apache.spark.sql.Column) => element_at(attrs("g"), 1)
    val w = (attrs: org.apache.spark.sql.Column) =>
      element_at(attrs("w"), 1).cast("long")
    val base = Directory.loadVersion(spark, dir, vs(1)).toDF()
      .groupBy(key(col("attrs")).as("seg"))
      .agg(count(lit(1)).as("cnt"), sum(w(col("attrs"))).as("msum"))
    val err = intercept[Exception] {
      graft.operators.EtlOps.applySumCdf(base,
        Directory.changes(spark, dir, vs(1), vs.head), key, w).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(err).exists(_.contains("cn=bad,dc=t")),
      s"expected the offending dn in the error chain: ${messages(err)}")
  }

  test("SUM CDF fold is linear: a split replay lands on the one-shot answer") {
    // the streaming loop's contract (q_stream_mv): each micro-batch
    // folds a slice of the feed, so correctness must not depend on
    // trigger boundaries — ± contributions sum, and a group dropped at
    // cnt 0 carries msum 0, so later slices rebuild it losslessly
    import org.apache.spark.sql.functions._
    val spark = TestSpark.spark
    import spark.implicits._
    def e(cn: String, g: String, w: Long) =
      Directory.Entry(s"cn=$cn,dc=t",
        Map("g" -> Seq(g), "w" -> Seq(w.toString)))
    val v1 = Seq(e("a1", "a", 10), e("a2", "a", 4), e("b1", "b", 7)).toDS()
    val v2 = Seq(e("a2", "a", 5), e("b1", "b", 7), e("c1", "c", 2)).toDS()
    val dir = java.nio.file.Files.createTempDirectory("graft-cdflin").toString
    Directory.save(v1, dir, retain = 2)
    Directory.save(v2, dir, retain = 2)
    val vs = Directory.versions(dir)
    val key = (attrs: org.apache.spark.sql.Column) => element_at(attrs("g"), 1)
    val w = (attrs: org.apache.spark.sql.Column) =>
      element_at(attrs("w"), 1).cast("long")
    val base = Directory.loadVersion(spark, dir, vs(1)).toDF()
      .groupBy(key(col("attrs")).as("seg"))
      .agg(count(lit(1)).as("cnt"), sum(w(col("attrs"))).as("msum"))
    val cdf = Directory.changes(spark, dir, vs(1), vs.head)
      .localCheckpoint(true)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val oneShot = rows(
      graft.operators.EtlOps.applySumCdf(base, cdf, key, w))
    // every 2-way split of the feed, folded slice by slice
    val n = cdf.count().toInt
    (0 to n).foreach { k =>
      val marked = cdf.orderBy("dn").limit(k)
      val first = cdf.join(marked.select("dn"), Seq("dn"), "left_semi")
      val second = cdf.join(marked.select("dn"), Seq("dn"), "left_anti")
      val afterFirst =
        graft.operators.EtlOps.applySumCdf(base, first, key, w)
      val split = rows(
        graft.operators.EtlOps.applySumCdf(afterFirst, second, key, w))
      assert(split == oneShot, s"split at $k diverged: $split vs $oneShot")
    }
  }

  test("MAX refresh kernel: insert-only merges incrementally, retraction forces rescan") {
    import org.apache.spark.sql.functions._
    val spark = TestSpark.spark
    import spark.implicits._
    def e(cn: String, g: String, w: Long) =
      Directory.Entry(s"cn=$cn,dc=t",
        Map("g" -> Seq(g), "w" -> Seq(w.toString)))
    val key = (attrs: org.apache.spark.sql.Column) => element_at(attrs("g"), 1)
    val w = (attrs: org.apache.spark.sql.Column) =>
      element_at(attrs("w"), 1).cast("long")
    def mv(ds: org.apache.spark.sql.Dataset[Directory.Entry]) = ds.toDF()
      .groupBy(key(col("attrs")).as("seg"))
      .agg(max(w(col("attrs"))).as("mmax"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1))).toSet

    // insert-only commit: the incremental branch must run (rescan
    // thunk poisoned) and still land on the rescan answer
    val i1 = Seq(e("a1", "a", 10), e("b1", "b", 7)).toDS()
    val i2 = Seq(e("a1", "a", 10), e("b1", "b", 7),
      e("a9", "a", 99), e("c1", "c", 3)).toDS()
    val dirI = java.nio.file.Files.createTempDirectory("graft-maxins").toString
    Directory.save(i1, dirI, retain = 2)
    Directory.save(i2, dirI, retain = 2)
    val vsI = Directory.versions(dirI)
    val gotI = rows(graft.operators.EtlOps.refreshMaxMv(
      mv(Directory.loadVersion(spark, dirI, vsI(1))),
      Directory.changes(spark, dirI, vsI(1), vsI.head),
      () => fail("insert-only feed must NOT rescan"), key, w))
    assert(gotI == rows(mv(Directory.loadVersion(spark, dirI, vsI.head))))

    // a commit with a delete: the rescan branch must run
    val d2 = Seq(e("b1", "b", 7)).toDS()
    val dirD = java.nio.file.Files.createTempDirectory("graft-maxdel").toString
    Directory.save(i1, dirD, retain = 2)
    Directory.save(d2, dirD, retain = 2)
    val vsD = Directory.versions(dirD)
    var rescanned = false
    val gotD = rows(graft.operators.EtlOps.refreshMaxMv(
      mv(Directory.loadVersion(spark, dirD, vsD(1))),
      Directory.changes(spark, dirD, vsD(1), vsD.head),
      () => { rescanned = true
        mv(Directory.loadVersion(spark, dirD, vsD.head)) }, key, w))
    assert(rescanned, "retraction feed must take the rescan branch")
    assert(gotD == Set(("b", 7L)))
  }

  test("versions lists a pre-marker store (no _published dir) via its pointer") {
    val spark = TestSpark.spark
    import spark.implicits._
    val snap = Seq(Directory.Entry("cn=a,dc=t", Map("cn" -> Seq("a")))).toDS()
    val dir = java.nio.file.Files.createTempDirectory("graft-ttold").toString
    Directory.save(snap, dir)
    // simulate a store written before the marker log existed
    def rmRec(f: java.io.File): Unit = {
      Directory.deleteRecursively(f)
    }
    rmRec(new java.io.File(s"$dir/_published"))
    val vs = Directory.versions(dir)
    assert(vs.size == 1 && vs.head.startsWith("v1"), vs.mkString(", "))
    assert(Directory.loadVersion(spark, dir, vs.head).count() == 1)
  }

  test("compaction bounds file count and preserves contents exactly") {
    val spark = TestSpark.spark
    import spark.implicits._
    val snap = Directory.parseDump(spark, Fixture.twoTreeDump(spark))
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString
    // simulate a fragmented store: one commit with write parallelism 16
    Directory.save(snap.repartition(16).as[Directory.Entry], dir)
    def liveFiles: Int = {
      val v = java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$dir/CURRENT")).trim
      new java.io.File(s"$dir/$v").listFiles()
        .count(_.getName.endsWith(".parquet"))
    }
    assert(liveFiles == 16, s"fragmented store expected, got $liveFiles")
    val before = Directory.dump(Directory.load(spark, dir))
    val written = Directory.compact(spark, dir)
    assert(written == 1 && liveFiles == 1,
      s"expected 1 compacted file, got $written/$liveFiles")
    assert(Directory.dump(Directory.load(spark, dir)) == before,
      "compaction must not change snapshot contents")
  }
}
