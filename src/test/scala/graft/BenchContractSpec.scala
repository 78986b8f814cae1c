package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench output is a driver contract: ONE parseable JSON line,
  * short enough for log-tail capture, locale-independent, with every
  * registered query priced and failures listed. Round 1 lost its bench
  * numbers to exactly this (an overlong line the driver could not
  * parse) — pin it.
  */
class BenchContractSpec extends AnyFunSuite {

  private def allNames = SparkEntry.queries.keys.toSeq.sorted

  test("full rendering is complete and structurally sound") {
    val results = allNames.zipWithIndex.map { case (n, i) =>
      (n, 1234.5678 + i, i % 7 != 0, 1234.0 + i, 1236.0 + i)
    }
    val line = Bench.renderJson(results, "/root/testdata/sf0.1")
    assert(!line.contains("\n"))
    assert(line.startsWith("{\"metric\":\"total\",\"value\":"))
    allNames.foreach(n => assert(line.contains("\"" + n + "\":"), n))
    assert(line.contains("\"failed\":[\"" + allNames.head + "\""))
    // ms-rounded values only — no full-precision doubles
    assert(line.contains("\"" + allNames.head + "\":1234.568"))
    // spread bands make noise attributable from the artifact alone
    assert(line.contains("\"spread\":{\"" + allNames.head + "\":[1234.000,1236.000]"))
    assert(line.count(_ == '{') == line.count(_ == '}'))
  }

  test("short stdout line fits the driver tail window at any query count") {
    val results = allNames.zipWithIndex.map { case (n, i) =>
      (n, 1234.5678 + i, true, 1234.0 + i, 1236.0 + i)
    }
    val line = Bench.renderShortJson(results, "/root/testdata/sf0.1")
    assert(!line.contains("\n"))
    // rounds 1-3 shipped parsed:null: the ~2.3 KB full line overflowed
    // the driver's ~2.2 KB tail capture. Keep ample margin.
    assert(line.length < 1500, s"line too long for tail capture: ${line.length}")
    assert(line.startsWith("{\"metric\":\"total\",\"value\":"))
    assert(line.contains("\"n_all\":" + allNames.size))
    // total is over ALL queries, not just the reported subset
    val expectedTotal = results.map(_._2).sum
    assert(line.contains("\"value\":" + f"$expectedTotal%.3f"))
    // min-of-reps total over ALL queries: value >> value_min from the
    // driver's own file means a contended run, value ≈ value_min a
    // real regression — the round-16 self-diagnosis contract
    val expectedMinTotal = results.map(_._4).sum
    assert(line.contains("\"value_min\":" + f"$expectedMinTotal%.3f"))
    // the slowest query is always present; the fastest is elided
    val slowest = results.maxBy(_._2)._1
    val fastest = results.minBy(_._2)._1
    assert(line.contains("\"" + slowest + "\":"))
    assert(!line.contains("\"" + fastest + "\":") || allNames.size <= 18)
    // every reported query carries its min alongside its median
    val slowestMin = results.maxBy(_._2)._4
    assert(line.contains("\"mins\":{"))
    assert(line.contains("\"" + slowest + "\":" + f"$slowestMin%.3f"))
    assert(line.count(_ == '{') == line.count(_ == '}'))
  }

  test("short line caps the volatile list but always carries the true count") {
    // a severely contended run trips dozens of volatile names; the
    // short line must stay inside the tail window on exactly that run
    val results = allNames.zipWithIndex.map { case (n, i) =>
      (n, 10.0 + i, true, 1.0, 12.0 + i) // every query volatile
    }
    val line = Bench.renderShortJson(results, "sf")
    assert(line.contains("\"volatile_n\":" + allNames.size))
    // 12 names in the array, not 237
    val arr = "\"volatile\":\\[([^\\]]*)\\]".r
      .findFirstMatchIn(line).getOrElse(fail("no volatile array")).group(1)
    assert(arr.split(",").length == 12, arr)
    assert(line.length < 2000, s"contended-run line too long: ${line.length}")
  }

  test("short line NAMES the slow-tail rows, capped, with the true count") {
    // round 18's driver artifact carried slow_tail_n:2 with no names —
    // the adjudication protocol needs the rows, not the count, and the
    // full list lives in a file the driver's tail capture never reads
    val tailed = allNames.take(3)
    val results = allNames.zipWithIndex.map { case (n, i) =>
      if (tailed.contains(n)) (n, 2.0, true, 1.5, 6.0) // hi/lo 4x, gap > 1s
      else (n, 2.0 + i * 0.001, true, 1.9, 2.1)
    }
    val line = Bench.renderShortJson(results, "sf")
    val arr = "\"slow_tail\":\\[([^\\]]*)\\]".r
      .findFirstMatchIn(line).getOrElse(fail("no slow_tail array")).group(1)
    assert(arr.split(",").map(_.replace("\"", "")).toSet == tailed.toSet, arr)
    assert(line.contains("\"slow_tail_n\":3"))
    // a fleet-wide tail trips the cap but the count stays truthful
    val allTailed = allNames.zipWithIndex.map { case (n, i) =>
      (n, 2.0 + i * 0.001, true, 1.0, 12.0)
    }
    val line2 = Bench.renderShortJson(allTailed, "sf")
    val arr2 = "\"slow_tail\":\\[([^\\]]*)\\]".r
      .findFirstMatchIn(line2).getOrElse(fail("no slow_tail array")).group(1)
    assert(arr2.split(",").length == 8, arr2)
    assert(line2.contains("\"slow_tail_n\":" + allNames.size))
    assert(line2.length < 2200, s"tailed-run line too long: ${line2.length}")
  }

  test("short line never truncates the failed list") {
    val results = allNames.zipWithIndex.map { case (n, i) => (n, i.toDouble, false, i.toDouble, i.toDouble) }
    val line = Bench.renderShortJson(results, "sf")
    allNames.foreach(n => assert(line.contains("\"" + n + "\""), n))
  }

  // real JSON parse of the repo-root artifact (a substring/regex gate
  // tracked the hand-rolled writer's formatting, not the data).
  // Gates the COMMITTED snapshot of record (BENCH_DOC.json), not the
  // untracked runtime BENCH_LAST.json: a bench run in someone else's
  // context (the driver's post-commit run) must not be able to flip
  // this suite red — what we gate is what we SHIPPED. A missing
  // artifact is a failure, never a skip.
  private def latestArtifact: org.json4s.JValue = {
    val p = java.nio.file.Paths.get("BENCH_DOC.json")
    if (!java.nio.file.Files.exists(p)) fail("no BENCH_DOC.json in repo root")
    org.json4s.jackson.JsonMethods.parse(
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
  }

  private def strArray(v: org.json4s.JValue, field: String): Seq[String] = {
    import org.json4s._
    v \ field match {
      case JArray(xs) => xs.collect { case JString(s) => s }
      case JNothing   => fail(s"artifact has no $field list — stale bench format")
      case other      => fail(s"artifact $field is not an array: $other")
    }
  }

  test("latest bench artifact has no pathological spread band") {
    // the r7 warm-up artifact (q_dedup_canonical median 10.85, spread
    // [5.0, 13.7]) reached the judge before the build: gate it here
    // instead. Its signature is MEDIAN ≫ MIN — the plan's floor (min)
    // proves what steady state can do while most reps pay a recurring
    // artifact. Scheduler noise has the opposite shape (median ≈ min,
    // one outlying max: q_t4_except [0.49, 1.75] around a 0.55 median),
    // so a max/min ratio test cannot separate the two — and at 2.7×,
    // the r7 artifact would have PASSED a 3× ratio gate. The bench
    // itself computes the list (Bench.volatileNames: median > 2×min
    // AND gap > 1 s) into the artifact's "volatile" field; a non-empty
    // list is a red build, and also recompute it from the spread map so
    // the field can't silently go stale.
    import org.json4s._
    val artifact = latestArtifact
    val volatileList = strArray(artifact, "volatile")
    val medians = (artifact \ "queries") match {
      case JObject(fs) => fs.collect {
        case (n, JDouble(d)) => n -> d
        case (n, JInt(i)) => n -> i.toDouble
      }.toMap
      case _ => fail("artifact has no queries map")
    }
    val recomputed = (artifact \ "spread") match {
      case JObject(fs) => fs.collect {
        case (n, JArray(List(lo: JDouble, _)))
          if medians.get(n).exists(m =>
            m > lo.num * Bench.volatileRatio(n) && m - lo.num > 1.0) => n
      }
      case _ => fail("artifact has no spread map — stale bench format")
    }
    assert(volatileList.sorted == recomputed.sorted,
      "artifact volatile list disagrees with its own spread data")
    assert(volatileList.isEmpty,
      s"median>>min — recurring storage/GC artifact in: ${volatileList.mkString(", ")}")
  }

  test("latest bench artifact carries the rep-floor diagnostic (value_min)") {
    // round 16: the committed snapshot must stay self-diagnosing —
    // value_min is the min-of-reps total whose gap to value separates
    // a contended run from a regression; a promoted artifact without
    // it (stale Bench build) silently loses the diagnostic
    import org.json4s._
    val artifact = latestArtifact
    val value = artifact \ "value" match {
      case JDouble(d) => d
      case JInt(i) => i.toDouble
      case other => fail(s"artifact value is not a number: $other")
    }
    val vmin = artifact \ "value_min" match {
      case JDouble(d) => d
      case JInt(i) => i.toDouble
      case JNothing => fail("artifact lacks value_min — re-bench at HEAD and promote")
      case other => fail(s"artifact value_min is not a number: $other")
    }
    assert(vmin <= value + 1e-9,
      s"value_min $vmin exceeds value $value — corrupt artifact")
  }

  test("latest bench artifact ran every query (failed list empty)") {
    // round 8 shipped 49 queries absent from the bench because the
    // events reader broke on regenerated fixtures — the artifact said so
    // in `failed` and nothing gated it. A non-empty failed list is a
    // red build, period.
    val failed = strArray(latestArtifact, "failed")
    assert(failed.isEmpty, s"bench artifact lists failed queries: $failed")
  }

  test("slowTailNames flags wide max/min spread the red gate ignores") {
    // the round-16 miss: rows with 4-7x max/min spread (median near
    // min, so NOT volatile) shipped recorded as fully settled; the
    // informational tier surfaces them without making noise a red bar
    val rs = Seq(
      ("q_bpe_shape", 0.60, true, 0.44, 3.24),  // r16 q_text_bpe_step
      ("q_tight", 1.00, true, 0.95, 1.10),      // quiet row — clean
      ("q_small_gap", 0.30, true, 0.10, 0.40),  // 4x ratio, gap < 1 s
      ("q_churn", 9.67, true, 3.10, 10.11))     // volatile AND tailed
    assert(Bench.slowTailNames(rs) == Seq("q_bpe_shape", "q_churn"))
    // tiers overlap on churn but only the median-poisoned row is red
    assert(Bench.volatileNames(rs) == Seq("q_churn"))
  }

  test("latest bench artifact's slow_tail list agrees with its spread") {
    // informational tier (round 17): present on round-17+ artifacts;
    // recomputed from the spread map so the field cannot go stale.
    // Unlike "volatile", a non-empty list is NOT a red build — it
    // marks medians riding on a noisy rep set, not poisoned medians.
    import org.json4s._
    val artifact = latestArtifact
    (artifact \ "slow_tail") match {
      case JNothing => fail("BENCH_DOC.json predates the round-17 " +
        "slow_tail field — commit a quiet full-fleet bench that carries it")
      case _ =>
        val listed = strArray(artifact, "slow_tail")
        val recomputed = (artifact \ "spread") match {
          case JObject(fs) => fs.collect {
            case (n, JArray(List(lo: JDouble, hi: JDouble)))
              if hi.num > lo.num * 2.5 && hi.num - lo.num > 1.0 => n
          }
          case _ => fail("artifact has no spread map")
        }
        assert(listed.sorted == recomputed.sorted,
          "artifact slow_tail list disagrees with its own spread data")
    }
  }

  test("volatileNames flags median>>min, not plain scheduler noise") {
    // churn shape: median 9.67 over a 3.10 min — flagged
    // noise shape: median 0.55 with max outlier 1.75 — not flagged
    // small-absolute shape: 0.30 over 0.10 — ratio trips but gap < 1 s
    val rs = Seq(
      ("q_churn", 9.67, true, 3.10, 10.11),
      ("q_noise", 0.55, true, 0.49, 1.75),
      ("q_tiny", 0.30, true, 0.10, 0.35),
      // graph cluster: 1.85x ratio (the r10 pagerank shape) trips the
      // tightened 1.5x gate there, while the same band on a non-graph
      // query stays under the 2x rule
      ("q_g2_pagerank", 4.46, true, 2.42, 6.51),
      ("q_other", 4.46, true, 2.42, 6.51))
    assert(Bench.volatileNames(rs) == Seq("q_churn", "q_g2_pagerank"))
  }

  test("median averages the two middle elements for even n") {
    assert(Bench.median(Seq(1.0, 2.0, 4.0)) == 2.0)
    assert(Bench.median(Seq(1.0, 2.0, 4.0, 9.0)) == 3.0)
    assert(Bench.median(Nil) == 0.0)
  }

  test("rendering is locale-independent (no decimal commas)") {
    val prev = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY)
      val line = Bench.renderJson(Seq(("q_x", 0.1239, true, 0.1239, 0.1239)), "sf")
      assert(line.contains("\"q_x\":0.124"), line)
      assert(!line.contains("0,124"), s"decimal comma corrupts JSON: $line")
    } finally java.util.Locale.setDefault(prev)
  }

  test("empty results render a valid zero line") {
    val line = Bench.renderJson(Nil, "sf")
    assert(line.contains("\"value\":0.000") && line.contains("\"failed\":[]"))
  }
}
