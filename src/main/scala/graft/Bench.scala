package graft

/** Benchmark main — one JSON line on stdout (driver contract).
  *
  * Runs every registered query against SPARK_GRAFT_SF_DIR on the
  * shared `Session.local` tuning.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()

    // Per-query timing with explicit failure tracking: a query that
    // throws is listed under "failed" so a regression can never
    // masquerade as a fast run. Median of 3 runs per query: the bench
    // box shows 3-6x scheduling swings on unchanged queries, and a
    // median filters one-off contention spikes out of the round-over-
    // round deltas.
    // malformed env must not kill the bench — a crash here re-creates
    // the parsed:null failure this contract exists to prevent
    val reps = sys.env.get("SPARK_GRAFT_BENCH_REPS")
      .flatMap(_.toIntOption).getOrElse(3).max(1)
    // dev-loop filter, mirroring GRAFT_VERIFY_ONLY: bench a named slice
    // while iterating on it instead of the full fleet (driver runs
    // leave it unset and price everything)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    if (BenchTrace.enabled) BenchTrace.install(spark.sparkContext)
    val results = selected.map { case (name, fn) =>
      // ONE untimed warm-up rep at the TARGET SF before the timed reps
      // (replaces the old all-queries sf0.001 warm pass): the first
      // execution of a plan pays costs that belong to the session, not
      // the query — whole-stage-codegen class compilation for THIS plan
      // shape, JIT of the generated classes, page-cache faulting of the
      // sf-dir parquet. r7 measured q_dedup_canonical spread
      // [5.0, 13.7] with the max always on the first rep; excluding it
      // makes round-over-round medians attributable to code changes.
      // A warm-up failure is not recorded: the timed reps report it.
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
      val runs = (1 to reps).map { _ =>
        // drop accumulated STORAGE before each rep's timer starts: the
        // checkpoint-heavy chains (graph/dedup/cdc) eagerly persist
        // blocks they never unpersist, and 185 queries × 4 executions
        // stack hundreds of dead RDDs — by the alphabetically-late
        // q_g* cluster, eviction/recompute churn from other queries'
        // debris lands inside the timed reps (r9: triangles median
        // 9.67 s over a 3.10 s min on an unchanged plan). Pinned blocks
        // (session-lifetime memos with truncated lineage) survive;
        // everything else is per-execution debris that a fresh
        // application would never have seen.
        Memo.dropUnpinned(spark.sparkContext)
        // then drain accumulated garbage — per QUERY was not enough:
        // GC debt from OTHER executions is session noise, not query
        // cost; outside the timed window it cannot poison
        // round-over-round attribution (the r8 median>>min artifacts).
        System.gc()
        val w0 = BenchTrace.nowMs
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
          catch { case _: Throwable => false }
        val dt = (System.nanoTime() - t0) / 1e9
        if (BenchTrace.enabled)
          System.err.println(BenchTrace.report(name, w0, BenchTrace.nowMs))
        (dt, ok)
      }
      val ts = runs.map(_._1)
      (name, median(ts), runs.forall(_._2), ts.min, ts.max)
    }
    val full = renderJson(results, sfDir)
    val short = renderShortJson(results, sfDir)
    // Redundant channels so any driver heuristic finds a parseable
    // line. The stdout copies are the SHORT rendering: rounds 1-3 all
    // shipped parsed:null because the 88-query line (~2.3 KB) overflows
    // the driver's log-tail capture window — the r3 tail visibly starts
    // mid-JSON. The full per-query map goes to BENCH_LAST.json in the
    // repo root; stdout carries the total plus the slowest queries,
    // bounded well under the window.
    System.out.println("GRAFT_BENCH_JSON " + short)
    // file write must not break the stdout channels (read-only cwd etc.)
    // filtered dev-loop slices must NOT overwrite the full-fleet
    // artifact — a partial BENCH_LAST.json would read as a full bench
    if (only.isEmpty)
      try java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_LAST.json"),
        (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case e: Throwable =>
        System.err.println(s"BENCH_LAST.json write failed: $e") }
    System.out.println(short)
    System.out.flush()
    spark.stop()
  }

  /** Median that averages the two middle elements for even n — the
    * lower-middle pick would bias even rep counts slightly fast.
    */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  private def r3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** The numeric value the artifact serializes (ms rounding). The
    * volatile/slow-tail classifiers evaluate ROUNDED values so the
    * artifact gates (BenchContractSpec recomputes both lists from the
    * artifact's r3-rounded queries/spread maps) see exactly the
    * numbers the producer classified — a raw-value classification
    * could disagree with the recompute on a row within ~0.0005 s of a
    * threshold, flipping a legitimately promoted artifact red purely
    * from rounding. Derived by PARSING the serialized form, not by a
    * parallel rint: %.3f rounds HALF_UP while rint rounds half-even,
    * so a value landing exactly on a .0005 boundary could still
    * classify differently from the artifact's recompute — the exact
    * producer/consumer skew this helper exists to eliminate.
    */
  private def r3d(v: Double): Double = r3(v).toDouble

  private def queriesObj(results: Seq[(String, Double, Boolean, Double, Double)]): String =
    results.map { case (k, v, _, _, _) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")

  private def minsObj(results: Seq[(String, Double, Boolean, Double, Double)]): String =
    results.map { case (k, _, _, lo, _) => "\"" + k + "\":" + r3(lo) }
      .mkString("{", ",", "}")

  private def spreadObj(results: Seq[(String, Double, Boolean, Double, Double)]): String =
    results.map { case (k, _, _, lo, hi) =>
      "\"" + k + "\":[" + r3(lo) + "," + r3(hi) + "]" }
      .mkString("{", ",", "}")

  private def failedArr(results: Seq[(String, Double, Boolean, Double, Double)]): String =
    results.collect { case (k, _, false, _, _) => "\"" + k + "\"" }
      .mkString("[", ",", "]")

  /** Queries whose median sits far above their own min — the signature
    * of a recurring cross-execution artifact (storage churn, GC debt),
    * not scheduler noise (which shows median ≈ min with one outlying
    * max). Same rule as BenchContractSpec's spread gate: median more
    * than doubles the min AND the gap is material (> 1 s). The graph
    * cluster (q_g*) gets a TIGHTER 1.5× ratio: it is the most
    * churn-exposed corner of the suite (r9 triangles median 9.67 over
    * a 3.10 min; r10 pagerank 1.85× slipped under the 2× gate while
    * still being context-poisoned), so a smaller residual there is
    * already signal.
    */
  def volatileNames(results: Seq[(String, Double, Boolean, Double, Double)]): Seq[String] =
    results.collect {
      case (k, med0, _, lo0, _)
        if { val (med, lo) = (r3d(med0), r3d(lo0))
          med > lo * volatileRatio(k) && med - lo > 1.0 } => k
    }

  def volatileRatio(name: String): Double =
    if (name.startsWith("q_g")) 1.5 else 2.0

  /** The INFORMATIONAL spread tier (round 17): rows whose max-of-reps
    * sits ≥ 2.5× above their own min with a material gap. This is the
    * shape `volatileNames` deliberately does NOT flag (median ≈ min
    * with an outlying max is scheduler noise, not a recurring
    * artifact — the r7 rationale above), but round 16 shipped rows
    * with 4–7× max/min spread (q_text_bpe_step [0.44, 3.24]) recorded
    * as fully non-volatile, which overstates how settled their medians
    * are. Two tiers keep both properties: `volatile` stays the red
    * gate (a poisoned MEDIAN corrupts every table derived from it),
    * `slow_tail` is self-diagnosis in the artifact — a reader of a
    * slope table can see which medians ride on a noisy rep set.
    */
  def slowTailNames(results: Seq[(String, Double, Boolean, Double, Double)]): Seq[String] =
    results.collect {
      case (k, _, _, lo0, hi0)
        if { val (lo, hi) = (r3d(lo0), r3d(hi0))
          hi > lo * 2.5 && hi - lo > 1.0 } => k
    }

  private def slowTailArr(results: Seq[(String, Double, Boolean, Double, Double)]): String =
    slowTailNames(results).map("\"" + _ + "\"").mkString("[", ",", "]")

  private def volatileArr(results: Seq[(String, Double, Boolean, Double, Double)]): String =
    volatileNames(results).map("\"" + _ + "\"").mkString("[", ",", "]")

  /** The SHORT line's slow-tail rendering (round 19): the round-18
    * driver artifact said `slow_tail_n: 2` but never NAMED the rows —
    * the full list shipped only in BENCH_LAST.json, which the driver's
    * tail capture does not read, so the driver-side signal was
    * write-only telemetry and the adjudication had to guess the pair
    * from spreads. Same cap-plus-true-count protocol as `volatile`:
    * the informational tier trips more often than the red one, so the
    * cap is smaller to protect the tail-window budget.
    */
  private def slowTailShort(results: Seq[(String, Double, Boolean, Double, Double)],
      cap: Int = 8): String = {
    val names = slowTailNames(results)
    "\"slow_tail\":" +
      names.take(cap).map("\"" + _ + "\"").mkString("[", ",", "]") +
      ",\"slow_tail_n\":" + names.size
  }

  /** The SHORT line's volatile rendering: a severely contended run can
    * trip dozens of names, and an unbounded list would push the line
    * past the driver's tail-capture window on exactly the run the
    * round-16 diagnostic exists for — cap at `cap` names and carry the
    * TRUE count in "volatile_n" (always emitted, so a capped list is
    * visible as cap < volatile_n). "failed" stays untruncated — it is
    * the alarm channel and a failure already means a red round.
    */
  private def volatileShort(results: Seq[(String, Double, Boolean, Double, Double)],
      cap: Int = 12): String = {
    val names = volatileNames(results)
    "\"volatile\":" +
      names.take(cap).map("\"" + _ + "\"").mkString("[", ",", "]") +
      ",\"volatile_n\":" + names.size
  }

  /** The complete per-query map — every registered query priced.
    * Written to BENCH_LAST.json (too long for reliable log-tail
    * capture at the current query count). "queries" carries medians;
    * "spread" the [min,max] across reps, so a round-over-round delta
    * is attributable from the artifact alone — a delta inside the
    * spread band is scheduler noise, not a code change. Timings round
    * to ms; Locale.ROOT because a comma-decimal default locale would
    * corrupt the JSON.
    */
  def renderJson(results: Seq[(String, Double, Boolean, Double, Double)],
                 sfDir: String): String = {
    val total = results.map(_._2).sum
    // value_min mirrors the short line's headline diagnostic (the
    // per-query floors are already in "spread"; this is their total)
    val totalMin = results.map(_._4).sum
    s"""{"metric":"total","value":${r3(total)},"value_min":${r3(totalMin)},"unit":"sec","queries":${queriesObj(results)},"spread":${spreadObj(results)},"failed":${failedArr(results)},"volatile":${volatileArr(results)},"slow_tail":${slowTailArr(results)},"sf":"$sfDir"}"""
  }

  /** The driver-contract stdout line: ONE JSON object, bounded-length.
    * "value" is the total over ALL queries; "queries" carries only the
    * `top` slowest (name-sorted) so the line stays inside the driver's
    * tail window; "n_all" records the full count; "failed" is never
    * truncated — it is the alarm channel.
    *
    * Contention-vs-regression is diagnosable from THIS line alone
    * (round 16): "mins" carries each reported query's min-of-reps and
    * "value_min" the min total over ALL queries, so a contended run
    * shows value ≫ value_min (most reps paid box contention the plan's
    * floor did not) while a real regression moves value and value_min
    * together — two consecutive driver artifacts inflated ~14% on
    * untouched plans and the adjudication needed out-of-band evidence.
    * `top` dropped 30 → 18 to fund the second map inside the same
    * ~2.2 KB tail-capture budget; the full per-query medians+spread
    * still ship in BENCH_LAST.json.
    */
  def renderShortJson(results: Seq[(String, Double, Boolean, Double, Double)], sfDir: String,
                      top: Int = 18): String = {
    val total = results.map(_._2).sum
    val totalMin = results.map(_._4).sum
    val head = results.sortBy(-_._2).take(top).sortBy(_._1)
    s"""{"metric":"total","value":${r3(total)},"value_min":${r3(totalMin)},"unit":"sec","queries":${queriesObj(head)},"mins":${minsObj(head)},"n_all":${results.size},"failed":${failedArr(results)},${volatileShort(results)},${slowTailShort(results)},"sf":"$sfDir"}"""
  }
}
