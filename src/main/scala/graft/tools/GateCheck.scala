package graft.tools

import org.apache.spark.sql.SparkSession

/** One-off validation harness: at a given sf dir, run the graph
  * operators' BOTH paths (budget-gated local vs distributed) and
  * assert equal results — the end-to-end form of the unit pins, on
  * real derived graphs big enough to cross the budgets.
  */
object GateCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/.bench/sf1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Bench-comparable timing: one untimed warm-up, then median of 3
    // reps with a storage drop + GC drain outside each timed window —
    // the per-path medians feed the BENCH_sf1 forced-path slopes, so
    // they must be measured the way Bench measures.
    val medians = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // per-path min-of-reps next to every median (round 17, mirroring
    // the sweep rows): a contended gatecheck shows median >> min on
    // unchanged plans, so the forced-path table is adjudicable from
    // the artifact alone like everything else BENCH_sf1 carries
    val mins = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def timed[T](tag: String)(f: => T): T = {
      var r: T = f // warm-up (untimed)
      val ts = (1 to 3).map { _ =>
        graft.Memo.dropUnpinned(spark.sparkContext)
        System.gc()
        val t0 = System.nanoTime()
        r = f
        (System.nanoTime() - t0) / 1e9
      }
      val med = graft.Bench.median(ts)
      medians(tag) = med
      mins(tag) = ts.min
      println(f"[gatecheck] $tag: $med%.2f s (median of ${ts.map(t => f"$t%.2f").mkString(",")})")
      r
    }

    // force a budget conf for the duration of f, RESTORING any
    // pre-existing value afterward — an unconditional unset would
    // clobber a budget the caller configured on the session (latent
    // only for non-default sessions, but the restore costs nothing)
    def withConf[T](key: String, value: String)(f: => T): T = {
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, value)
      try f finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }

    // one full affinity-graph derivation, memo bypassed: the graph
    // queries share a session-memoized edge list (round 12), so the
    // per-query bench rows price the analytics — THIS row keeps the
    // derive-once cost measured in the artifact of record
    val nEdges = timed("edges build") {
      graft.operators.GraphOps.buildEdgesUnmemoized(spark, sfDir)
    }
    println(s"[gatecheck] edges build: n=$nEdges")

    // triangles: default budget (256k) vs forced-local vs forced-dist
    val dist = timed("triangles distributed") {
      withConf("graft.graph.localTriangleEdges", "0")(
        graft.operators.GraphOps.triangles(spark, sfDir).collect().head)
    }
    val local = timed("triangles local") {
      withConf("graft.graph.localTriangleEdges", Long.MaxValue.toString)(
        graft.operators.GraphOps.triangles(spark, sfDir).collect().head)
    }
    assert(dist.getLong(0) == local.getLong(0) &&
      dist.getLong(1) == local.getLong(1),
      s"triangles disagree: dist=$dist local=$local")
    println(s"[gatecheck] triangles agree: n=${dist.getLong(0)} " +
      s"edges=${dist.getLong(1)}")

    // components: local union-find vs distributed hop+jump
    def comps(): Map[Long, Long] =
      graft.operators.GraphOps.components(spark, sfDir).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cLocal = timed("components local")(comps())
    val cDist = timed("components distributed") {
      withConf("graft.cc.localEdges", "0")(comps())
    }
    assert(cLocal == cDist, "components disagree")
    println(s"[gatecheck] components agree: n=${cLocal.size}")

    // pagerank: local integer iteration vs distributed
    def pr(): Map[Long, Long] =
      graft.operators.GraphOps.pagerank(spark, sfDir).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pLocal = timed("pagerank local")(pr())
    val pDist = timed("pagerank distributed") {
      withConf("graft.graph.broadcastEdges", "0")(pr())
    }
    assert(pLocal == pDist, "pagerank disagrees")
    println(s"[gatecheck] pagerank agree (bit-identical): n=${pLocal.size}")

    // ppr / kcore / labelprop share pagerank's broadcast-edge budget
    // gate (graft.graph.broadcastEdges): force each side, assert
    // bit-equality, and price both — these rows were the round-12/13
    // gap in the forced-path table (their distributed twins were
    // spec-pinned at fixture scale but never sf1-priced)
    // time local, time distributed, assert bit-equal, print n — the
    // one gate protocol for every (vertex, value) pair of paths
    def pairCheck2(tag: String, local: () => Map[Long, Long],
        dist: () => Map[Long, Long]): Unit = {
      val l = timed(s"$tag local")(local())
      val d = timed(s"$tag distributed")(dist())
      assert(l == d, s"$tag disagrees between gate sides")
      println(s"[gatecheck] $tag agree (bit-identical): n=${l.size}")
    }
    def pairCheck(tag: String,
        run: () => org.apache.spark.sql.DataFrame): Unit = {
      def asMap() = run().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      pairCheck2(tag,
        () => withConf("graft.graph.broadcastEdges",
          Long.MaxValue.toString)(asMap()),
        () => withConf("graft.graph.broadcastEdges", "0")(asMap()))
    }
    pairCheck("ppr", () => graft.operators.GraphOps.ppr(spark, sfDir))
    pairCheck("kcore", () => graft.operators.GraphOps.kcore(spark, sfDir))
    pairCheck("labelprop",
      () => graft.operators.GraphOps.labelprop(spark, sfDir))

    // the multi-round regime (round 16): 10 pagerank rounds price the
    // "one combinable shuffle per round" claim at a measured point the
    // 3-round oracle rows cannot — the distributed row crosses the
    // iterPersistEvery plan-depth boundary (persist, not checkpoint),
    // so near-linear cost vs the 3-round row is the evidence that
    // extra rounds at 100 TB cost exactly their per-round shuffle.
    // Bit-equality against the 10-round CSR kernel rides along; the
    // sides are forced by parameter, not conf, so no withConf here.
    def pr10(distributed: Boolean): Map[Long, Long] =
      graft.operators.GraphOps.pagerankN(spark, sfDir, 10, distributed)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairCheck2("pagerank10r", () => pr10(false), () => pr10(true))

    // BPE trainer: the one remaining budget gate without forced-path
    // pricing (graft.bpe.localWords; the dedup CC loop shares the
    // components rows' graft.cc.localEdges path above). The fixture
    // vocabularies sit far under the 500k-word budget at every SF, so
    // only a forced conf ever runs the distributed 8-round loop —
    // price both sides and assert the merge tables identical, the
    // BpeTrainSpec equality at data scale.
    def bpeMerges(): Seq[(Long, String, String, Long)] =
      graft.ops.TextAnalysis.bpeTrain(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3))).toSeq.sorted
    val bpeLocal = timed("bpe local")(
      withConf("graft.bpe.localWords", Long.MaxValue.toString)(bpeMerges()))
    val bpeDist = timed("bpe distributed")(
      withConf("graft.bpe.localWords", "0")(bpeMerges()))
    assert(bpeLocal == bpeDist, "bpe merge tables disagree between gate sides")
    println(s"[gatecheck] bpe agree (identical merges): n=${bpeLocal.size}")

    // snapshot CDF: plain versioned parquet (both sides shuffle on dn)
    // vs dn-bucketed tables (zero-exchange merge — BucketedCdfSpec pins
    // the plan). Not a budget gate but the same A/B discipline: the
    // bucketed path is the one that matters when the CDF recurs at
    // 100 TB, so both layouts are priced here with classification
    // equality asserted. Staging (snapshot saves / bucketed writes) is
    // memoized per JVM, so the warm-up pays it and the timed reps price
    // the feed itself.
    def cdfRows(df: org.apache.spark.sql.DataFrame): Set[(String, String)] =
      df.select("dn", "change_type").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    val cdfPlain = timed("cdf plain") {
      cdfRows(graft.operators.EtlOps.etlCdf(spark, sfDir))
    }
    val (cdfT1, cdfT2) =
      graft.operators.EtlOps.stagedCdfBucketedTables(spark, sfDir)
    // same terminal shape as etlCdf (projection + dn sort) so the A/B
    // isolates the layout, not the query tail
    val cdfBucketed = timed("cdf bucketed") {
      cdfRows(graft.etl.Directory.changesBucketed(spark, cdfT1, cdfT2)
        .select(org.apache.spark.sql.functions.col("dn"),
          org.apache.spark.sql.functions.col("change_type"))
        .orderBy("dn"))
    }
    assert(cdfPlain == cdfBucketed,
      "CDF classification disagrees between plain and bucketed layouts")
    println(s"[gatecheck] cdf layouts agree: n=${cdfPlain.size}")

    // one machine-readable line for the BENCH_sf1 slope bookkeeping;
    // "_mins" is nested so mk_sf1's k != "sf" top-level filter only
    // needs to exclude one more reserved key
    def jmap(m: scala.collection.Map[String, Double]): String =
      m.map { case (k, v) =>
        "\"" + k.replace(' ', '_') + "\":" +
          String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
      }.mkString(",")
    println("GATECHECK_JSON {" + jmap(medians) +
      ",\"_mins\":{" + jmap(mins) + "}" + s""","sf":"$sfDir"}""")
    spark.stop()
  }
}
