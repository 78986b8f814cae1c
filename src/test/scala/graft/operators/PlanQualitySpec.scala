package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.etl.TestSpark

/** Plan-quality regressions: the optimizations SCALING.md claims must
  * stay visible in the physical plans — pushdown, pruning, broadcast.
  */
class PlanQualitySpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"
  private def plan(name: String): String = {
    val df = graft.SparkEntry.queries(name)(TestSpark.spark, dir)
    df.queryExecution.executedPlan.toString
  }

  test("filters reach the parquet scan (predicate pushdown)") {
    val p = plan("q_s1_scan_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_partkey), LessThan(l_partkey,50)]"), p)
  }

  test("only referenced columns are read (column pruning)") {
    val p = plan("q_s1_scan_project")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint," +
      "l_linenumber:int,l_extendedprice:double>"), p)
  }

  test("dimension sides broadcast in the six-way join; the fact join co-shuffles") {
    val p = plan("q_tpch_q5")
    val n = "BroadcastHashJoin".r.findAllIn(p).size
    assert(n == 4, s"expected 4 broadcast joins (dims), got $n:\n$p")
    // the lineitem detail join must NOT broadcast either fact side
    // (q3's estimate inversion): co-shuffle, build on the reduced side
    assert("ShuffledHashJoin.*BuildLeft".r.findFirstIn(p).isDefined,
      s"detail join must co-shuffle with the reduced side as build:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("top-k under total order avoids a global sort") {
    val p = plan("q_o3_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("the CDC cycle's capped selection is one top-k, with no exchange") {
    // validated and projected below the sort and limit, so the planner
    // takes the top k per partition instead of range-partitioning the
    // pending events for a global sort
    val spark = TestSpark.spark
    val eventlog = graft.etl.EtlSchema.readEventsCsv(spark,
      s"${graft.etl.Fixture.dir}/eventlog01.csv")
    val p = graft.etl.Cdc.selectBatch(eventlog, 100, graft.etl.Fixture.conf)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject") && !p.contains("Exchange"), p)
  }

  test("q4/q8/q22 keep semi/anti joins hash-based, no nested loops") {
    val semi = plan("q_tpch_q4")
    assert(semi.contains("LeftSemi"), semi)
    val anti = plan("q_tpch_q22")
    assert(anti.contains("LeftAnti"), anti)
    Seq(semi, plan("q_tpch_q8")).foreach { p =>
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), p)
    }
    // q22's mean-balance threshold is a 1-ROW broadcast compared under
    // a non-equi predicate — the canonical scalar-subquery plan IS a
    // BroadcastNestedLoopJoin with a single build row (cost O(probe)),
    // so only the unbounded shapes are banned here
    assert(!anti.contains("CartesianProduct"), anti)
    assert("BroadcastNestedLoopJoin".r.findAllIn(anti).size == 1, anti)
  }

  test("q19 extracts common factors from the disjunction into both scans") {
    // the query's whole point: the shared returnflag conjunct and the
    // per-side prunable pieces of the three OR'd conjunct groups must
    // reach the scans — the lineitem side as the extracted IN plus the
    // quantity-range disjunction, the part side as the derived common
    // size lower bound plus the brand/size disjunction; the join
    // carries only the cross-side residual
    // note: PushedFilters renders truncated in executedPlan.toString, so
    // the pins read the (full) Filter conditions sitting directly on the
    // scans — same predicates, un-elided
    val p = plan("q_tpch_q19")
    assert(p.contains("In(l_returnflag, [N,R])"),
      s"common returnflag factor must push to the lineitem scan:\n$p")
    assert("l_quantity#\\d+ >= 1\\.0".r.findFirstIn(p).isDefined
      && "l_quantity#\\d+ <= 30\\.0".r.findFirstIn(p).isDefined,
      s"quantity disjunction must sit on the lineitem scan:\n$p")
    assert(p.contains("GreaterThanOrEqual(p_size,1)"),
      s"derived common size bound must push to the part scan:\n$p")
    assert("p_brand#\\d+ = Brand#12".r.findFirstIn(p).isDefined,
      s"brand/size disjunction must sit on the part scan:\n$p")
  }

  test("q3 co-shuffles the detail join with the reduced side as build") {
    // left to stats the planner broadcast the FILTERED FACT (3.4M
    // lineitem rows at GenScale sf1 — a driver-built 100 MB hash
    // relation) because post-join estimates inflated the reduced
    // customer⋈orders side; the hinted plan must keep the detail join
    // a ShuffledHashJoin building on the reduced (left) side, with the
    // one broadcast being the segment-filtered customer dimension
    val p = plan("q_tpch_q3")
    assert(p.contains("ShuffledHashJoin"), s"detail join must co-shuffle:\n$p")
    assert("ShuffledHashJoin.*BuildLeft".r.findFirstIn(p).isDefined,
      s"build side must be the reduced customer⋈orders frame:\n$p")
    val nb = "BroadcastHashJoin".r.findAllIn(p).size
    assert(nb == 1, s"expected 1 broadcast (customer dim), got $nb:\n$p")
  }

  test("q20/q21 decorrelate to hash semi/anti chains, fact scanned once") {
    // Q20: nested IN + aggregate-HAVING subquery → two left-semi
    // reductions around one grouped scan; the date bounds must reach
    // the lineitem scan and the fact table must be read exactly once.
    val p20 = plan("q_tpch_q20")
    assert("LeftSemi".r.findAllIn(p20).size == 2, p20)
    assert(!p20.contains("CartesianProduct") &&
      !p20.contains("BroadcastNestedLoopJoin"), p20)
    assert("lineitem\\.parquet".r.findAllIn(p20).size == 1,
      s"fact table must scan once:\n$p20")
    assert(p20.contains("GreaterThanOrEqual(l_shipdate"),
      s"ship-date bound must push to the scan:\n$p20")
    // Q21 (round 12): EXISTS(other supplier) decorrelates to the
    // 1-column multi-supplier order list — a countDistinct pre-agg
    // consumed by an equi left-semi (sf1 slope 4.5 → ~1.4) — while
    // NOT EXISTS keeps the inequality-correlated left-anti on the
    // returned slice: hash-based, never a nested loop, top-k is a
    // TakeOrdered. The fact table appears 3× (base R slice, agg pass,
    // anti R build): the 2-scan checkpoint variant measured SLOWER at
    // both SFs, and two of the three carry the pushed returnflag
    // filter — pin the count so a regression to a 4th pass is caught.
    val p21 = plan("q_tpch_q21")
    assert("LeftSemi".r.findAllIn(p21).size >= 2, p21)
    assert(p21.contains("LeftAnti"), p21)
    assert(p21.contains("count(distinct l_suppkey"),
      s"multi-supplier pre-aggregation must replace the fact-wide semi build:\n$p21")
    assert("lineitem\\.parquet".r.findAllIn(p21).size == 3,
      s"fact table must scan exactly 3x (base + agg + anti build):\n$p21")
    assert(!p21.contains("CartesianProduct") &&
      !p21.contains("BroadcastNestedLoopJoin"), p21)
    assert(p21.contains("TakeOrderedAndProject"), p21)
  }

  test("row-local curation/text ops compile to zero-shuffle plans") {
    // classifier, split, chunking, thumbnail: pure per-row arithmetic —
    // an Exchange appearing here means someone added an accidental
    // wide dependency to a scan-bounded operator
    Seq("q_cur_classifier", "q_cur_split", "q_text_chunks").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q grew a shuffle:\n$p")
    }
    // thumbnail inherits the decode repartition (one Exchange by
    // design — the decoder batch co-location); nothing beyond it
    val t = plan("q_mm_thumbnail")
    assert("Exchange".r.findAllIn(t).size == 1, t)
  }

  test("q10/q18 broadcast their small sides and avoid nested loops") {
    Seq("q_tpch_q10", "q_tpch_q18").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q:\n$p")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
      assert(p.contains("TakeOrderedAndProject"), s"$q:\n$p")
    }
  }

  test("analytic ranks run in one window pass over one shuffle") {
    val p = plan("q_w_ranks")
    val exchanges = "Exchange".r.findAllIn(p).size
    val windows = "\\bWindow\\b".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 shuffle, got $exchanges:\n$p")
    assert(windows == 1, s"expected 1 window operator, got $windows:\n$p")
  }

  test("as-of join plans a single shuffle for both sides") {
    val p = plan("q_j7_asof")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 shuffle (union+window), got $exchanges:\n$p")
  }

  test("q7 pushes the nation pair into the dim scans (no post-join filter plan)") {
    val p = plan("q_tpch_q7")
    // both nation scans must carry the two-nation predicate — the r2
    // plan applied the disjunction above all joins and paid the full
    // fact join for 23/25 discarded nations
    val pushed = p.linesIterator
      .filter(l => l.contains("PushedFilters") && l.contains("NATION_1")).size
    assert(pushed >= 2, s"nation IN-filter not pushed to both dim scans:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("curation redact/sample are narrow (zero shuffle)") {
    Seq("q_cur_redact", "q_cur_sample").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q should not shuffle:\n$p")
    }
  }

  test("heavy hitters combine map-side and avoid a global sort") {
    val p = plan("q_text_heavyhitters")
    assert(p.contains("partial_count"), s"no map-side combine:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not global-sort:\n$p")
  }

  test("tf-idf top-k window partitions by doc_id (parallel, no funnel)") {
    val p = plan("q_text_tfidf")
    assert(p.contains("hashpartitioning(doc_id#"), s"window must key on doc_id:\n$p")
  }

  test("tfidf and bigram LM scan the corpus once (no duplicate subtree)") {
    // a derived groupBy joined back to its parent frame plans the whole
    // explode subtree twice — df/c1 must come from windows over the
    // aggregated frame (r7 fix: 5.1s -> 1.3s), so exactly ONE tokenize
    // Generate and one documents scan per plan
    Seq("q_text_tfidf" -> 2, "q_text_bigram_lm" -> 1).foreach {
      case (q, scans) =>
        val p = plan(q)
        val gen = "Generate explode".r.findAllIn(p).size
        assert(gen == 1, s"$q: expected 1 explode, got $gen:\n$p")
        // tfidf legitimately re-scans for the 1-row broadcast total
        // (column-pruned count, no tokenize); the LM reads once
        val sc = "Scan parquet".r.findAllIn(p).size
        assert(sc == scans, s"$q: expected $scans scans, got $sc:\n$p")
    }
  }

  test("explode fan-out tracks session parallelism, not a literal") {
    // TestSpark runs with spark.sql.shuffle.partitions=4: the explicit
    // pre-explode repartition must inherit that (a hardcoded 32 pins
    // the explode stages to the dev box's width at any cluster size)
    assert(graft.Tables.fanout(TestSpark.spark) == 4)
    val p = plan("q_text_tfidf")
    assert(p.contains("hashpartitioning(doc_id#") && p.contains(", 4)"),
      s"pre-explode exchange must use the session fan-out (4):\n$p")
    assert(!p.contains(", 32)"), s"literal 32-way exchange survived:\n$p")
    // the conf override takes precedence for targeted tuning
    TestSpark.spark.conf.set("graft.fanout.partitions", "7")
    try assert(graft.Tables.fanout(TestSpark.spark) == 7)
    finally TestSpark.spark.conf.unset("graft.fanout.partitions")
  }

  test("triangle closing broadcasts under the edge budget, shuffles over it") {
    // the guard keys off the KNOWN edge count, not a size estimate:
    // with the budget forced to 0 the same subplan must drop both
    // broadcast hints (a dense 100×-scale graph must never ship the
    // edge list to the driver), and with the default budget it must
    // keep them. Auto-broadcast is disabled so the decision under test
    // is the hint's, not the size estimator's.
    val spark = TestSpark.spark
    import spark.implicits._
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("sa", "sb")
    val autoWas = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      spark.conf.set("graft.graph.broadcastEdges", "0")
      val over = GraphOps.triangleCount(spark, e, 3L, 4)
        .queryExecution.executedPlan.toString
      assert(!over.contains("BroadcastHashJoin"),
        s"over-budget edge list must shuffle, not broadcast:\n$over")
      spark.conf.unset("graft.graph.broadcastEdges")
      val under = GraphOps.triangleCount(spark, e, 3L, 4)
        .queryExecution.executedPlan.toString
      assert("BroadcastHashJoin".r.findAllIn(under).size >= 2,
        s"in-budget edge list should broadcast both probes:\n$under")
    } finally {
      spark.conf.unset("graft.graph.broadcastEdges")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", autoWas)
    }
  }

  test("bloom semi-join evaluates might_contain under the fact scan stage") {
    val p = plan("q_j10_bloom_semi")
    assert(p.contains("might_contain"), s"bloom predicate missing:\n$p")
    assert(p.contains("LeftSemi"), s"exact semi join missing:\n$p")
  }

  test("salted join takes the shuffle path it is built to exercise") {
    val p = plan("q_j9_salted_join")
    assert(p.contains("ShuffledHashJoin"), s"salt demo must not broadcast:\n$p")
  }

  test("stratified sample is narrow up to the final stats aggregation") {
    val p = plan("q_cur_stratified")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges == 1, s"expected only the final agg shuffle:\n$p")
  }

  test("token packing is a hierarchical prefix sum, not a per-stratum funnel") {
    val p = plan("q_cur_pack")
    // two windows: the tiny cross-chunk offset pass (keyed on lang) and
    // the parallel intra-chunk pass (keyed on lang+chunk); the offsets
    // side must broadcast — a single flat window keyed on lang alone
    // would single-reduce each language at scale
    val windows = "\\bWindow\\b".r.findAllIn(p).size
    assert(windows == 2, s"expected 2 window passes, got $windows:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"offsets should broadcast:\n$p")
    assert(p.contains("hashpartitioning(lang#") &&
      p.contains("chunk#"), s"intra-chunk window must key on (lang, chunk):\n$p")
  }

  test("repetition stats are fully narrow (zero shuffle — scan is the cost)") {
    val p = plan("q_cur_repetition")
    assert(!p.contains("Exchange"), s"row-local fold must not shuffle:\n$p")
  }

  test("contamination broadcasts the benchmark shingle set") {
    val p = plan("q_cur_contamination")
    assert(p.contains("BroadcastHashJoin"), s"bench side must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("batch kNN runs two-stage top-k with a broadcast query block") {
    val p = plan("q_knn_batch")
    // the query batch rides a broadcast (nested-loop over 10 rows is the
    // point — each corpus row scores against the whole broadcast batch)
    assert(p.contains("BroadcastNestedLoopJoin"), s"query batch must broadcast:\n$p")
    val windows = "\\bWindow\\b".r.findAllIn(p).size
    assert(windows == 2, s"expected salt-local + global top-k passes:\n$p")
  }

  test("fuzzy join is an equi hash join on variant hashes, never quadratic") {
    val p = plan("q_j11_fuzzy")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"blocking must stay equi:\n$p")
  }

  test("dsir joins weights back via broadcast (vocab-bounded, not corpus)") {
    val p = plan("q_cur_dsir")
    assert(p.contains("BroadcastHashJoin"), s"weight join must broadcast:\n$p")
  }

  test("scd2 pays one shuffle + one sort for both window passes") {
    val p = plan("q_etl_scd2")
    val exchanges = "Exchange".r.findAllIn(p).size
    val sorts = "\\bSort\\b".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 shuffle for the whole build:\n$p")
    assert(sorts == 1, s"lag and lead passes must share the sort:\n$p")
  }

  test("column profile reads the table once (Expand-based multi-distinct)") {
    val p = plan("q_dq_profile")
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 1, s"profile must not rescan per column:\n$p")
    assert(p.contains("Expand"), s"multi-distinct should compile to Expand:\n$p")
  }

  test("int8 ANN candidate and rescore phases are both TakeOrdered") {
    val p = plan("q_knn_int8")
    val topk = "TakeOrderedAndProject".r.findAllIn(p).size
    assert(topk == 2, s"expected candidate + rescore TakeOrdered:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("bigram LM and BPE step never rebuild their arrays in an inferred filter") {
    // the InferFiltersFromGenerate + pushdown trap (SCALING.md): a
    // re-substituted generator input shows up as size(transform(...))
    // in a Filter and doubles the array-building work
    Seq("q_text_bigram_lm", "q_text_bpe_step").foreach { q =>
      val p = plan(q)
      assert(!p.contains("size(transform"), s"$q rebuilds its array:\n$p")
    }
  }

  test("cooccurrence computes the exploded corpus exactly once") {
    // occ is a lazy checkpoint shared by the top-20 vocabulary subtree
    // and the pairing join: the consuming plan must read the cached RDD
    // and never re-scan or re-tokenize the corpus (the r7 plan ran the
    // documents scan + explode twice — once under the broadcast)
    val p = plan("q_text_cooc")
    assert(!p.contains("Scan parquet"), s"corpus re-scan survived:\n$p")
    assert(!p.contains("Generate explode"), s"re-tokenize survived:\n$p")
  }

  test("canonical selection reads groups×docs once (window, no join-back)") {
    // the r7 groupBy+join-back referenced the groups×docs join twice and
    // the physical plan ran it (and the docs scan) per reference; the
    // argmax window reads the joined frame once
    val p = plan("q_dedup_canonical")
    val sc = "Scan parquet".r.findAllIn(p).size
    assert(sc == 1, s"expected only the docs scan, got $sc:\n$p")
    val windows = "\\bWindow\\b".r.findAllIn(p).size
    assert(windows == 1, s"expected exactly the argmax window, got $windows:\n$p")
  }

  test("quota sampling windows by stratum and keeps scans pruned") {
    val p = plan("q_cur_quota")
    assert(p.contains("hashpartitioning(lang#"), s"window must key on lang:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string,lang:string>"),
      s"only the 3 referenced columns should be read:\n$p")
  }

  test("epoch shuffle joins offsets via broadcast, never sort-merges the corpus") {
    // the corpus-sized side is the checkpointed range-sorted frame; the
    // only join in the final plan attaches the per-partition offset
    // table (≤ fan-out rows) and must broadcast. A SortMergeJoin or a
    // hash exchange of the corpus side here would mean the "no global
    // funnel" position composition regressed to a wide plan. (The
    // offset table's own unpartitioned window is fine — it is bounded
    // by cluster width, not data.)
    val p = plan("q_cur_shuffle")
    assert(p.contains("BroadcastHashJoin"), s"offset join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus side must not shuffle:\n$p")
  }

  test("curriculum windows per partition id, never a global funnel") {
    // the running token mass must come from per-spid windows (a
    // bounded-arity regroup) plus the broadcast offset/total frames —
    // a WindowExec with an empty partition spec over the corpus, or a
    // sort-merge join attaching the offsets, would be the
    // single-partition cut the operator exists to avoid
    val p = plan("q_cur_curriculum")
    assert(p.contains("hashpartitioning(spid#"),
      s"running mass must regroup by spid:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"offset join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus side must not shuffle:\n$p")
    // exactly one 1-row nested-loop broadcast: the total-mass crossJoin
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size == 1, p)
  }

  test("BPE encode joins nothing: merges fold row-locally in the scan") {
    val p = plan("q_text_bpe_encode")
    // the merge table is driver-known, so re-encoding must never join
    // or broadcast a vocabulary — at 100 TB that join would shuffle
    // the full exploded corpus
    assert(!p.contains("Join"), s"encode grew a vocabulary join:\n$p")
    // exactly the two deliberate exchanges: the pre-explode fan-out
    // repartition and the partial-aggregated groupBy(source)
    assert("Exchange".r.findAllIn(p).size == 2, p)
  }

  test("vocab OOV takes top-V without a global sort and probes by broadcast") {
    val p = plan("q_text_vocab_oov")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-V must be a per-partition take, not a full vocabulary sort:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"vocab must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus side must not shuffle:\n$p")
  }
}
