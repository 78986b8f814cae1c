package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.etl.TestSpark

/** Fleet-wide physical-plan audit: EVERY registered batch query is
  * compiled at sf0.001 and screened for the shapes that do not survive
  * 100 TB — an unbounded CartesianProduct, or a BroadcastNestedLoopJoin
  * whose build side is not provably tiny. PlanQualitySpec pins chosen
  * queries' plans in detail; this gate makes the anti-pattern ban a
  * property of the whole registry, so a future query (or an optimizer
  * behavior change under a Spark upgrade) cannot reintroduce a
  * quadratic join shape without turning a row red.
  *
  * Stream drains are excluded: their query functions run the stream to
  * completion and return a memory-sink table, so the visible plan is a
  * scan of the drained result — there is nothing to audit post hoc
  * (their stateful plans are pinned by the streaming specs instead).
  */
class FleetPlanAuditSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"

  /** EXACT BroadcastNestedLoopJoin census — each entry documents a
    * deliberate bounded-build-side nested loop (1-row aggregate
    * frames, centroid/codebook sets, query blocks: cost O(probe), the
    * canonical scalar-subquery shape). Exact counts, not upper bounds,
    * so a removed nested loop rots the entry into a red row too — the
    * list can never drift looser than reality. Any query absent here
    * must compile with ZERO nested loops.
    */
  private val bnljCensus: Map[String, Int] = Map(
    "q_tpch_q22" -> 1,          // 1-row mean-balance threshold, non-equi compare
    "q_tpch_q11" -> 1,          // 1-row global value-total threshold frame
    "q_cur_curriculum" -> 1,    // 1-row corpus token-mass total
    "q_cur_weighted_sample" -> 1, // 1-row corpus weight-mass total
    "q_a13_histogram" -> 1,     // 1-row global min/max range frame
    "q_cur_boilerplate" -> 1,   // 1-row doc-count threshold frame
    "q_cur_lengthgate" -> 1,    // 1-row percentile-bounds frame
    "q_text_tfidf" -> 1,        // 1-row corpus-total frame (see tfidf Scaladoc)
    "q_cur_dsir" -> 1,          // 1-row target/proposal totals frame
    "q_cur_mixture" -> 1,       // 1-row corpus-total frame for source weights
    "q_cur_upsample" -> 1,      // 1-row max-source-mass frame for rate derivation
    "q_dedup_semantic" -> 2,    // k-row centroid set + 1-row threshold frame
    "q_dq_freshness" -> 1,      // 1-row corpus max-timestamp frame
    "q_etl_compact" -> 1,       // 1-row × 1-row merge of the compacted
                                // aggregate with the pre-compaction
                                // version count (the retain-contract pin)
    // q_g4_degrees: 0 since round 12 — the mean-threshold scalar join
    // lives inside the memoized edge-list build (GraphOps.affinityEdges),
    // not in the per-query plan
    "q_knn_batch" -> 1,         // bounded query block (top-k probe side)
    "q_knn_brute" -> 1,         // bounded query block
    "q_knn_filtered" -> 1,      // bounded query block (pre-filtered probe)
    "q_knn_hybrid" -> 2,        // query block + BM25's 1-row stats frame
    "q_text_bm25" -> 1,         // 1-row corpus (L, N, df) stats frame
    "q_knn_hardneg" -> 1,       // bounded query block
    "q_knn_int8" -> 1,          // 1-row quantization-range frame
    "q_knn_ivf" -> 2,           // k-row centroid set, assign + probe
    "q_knn_ivf_multiprobe" -> 2, // same, multiprobe cell list
    "q_knn_pq" -> 3,            // per-subspace codebooks + query block
    "q_knn_ivfpq" -> 7,         // coarse set (assign + 2 probe builds),
                                // residual codebook (encode + LUT),
                                // probe set, query block — all
                                // broadcast-sized by construction
    "q_knn_recall" -> 3,        // brute baseline + IVF composition
    "q_knn_recall_mp" -> 3,     // same, multiprobe
    "q_o9_zorder" -> 1,         // 1-row range-bounds frame for the curve
    "q_sk_hist_quantile" -> 3,  // 1-row bounds + bucket-total frames
    "q_sk_hll" -> 1,            // 1-row exact-count comparison frame
    "q_sk_hll_merge" -> 1       // 1-row exact-count comparison frame
  )

  test("no registered batch query compiles to an unbounded join shape") {
    val spark = TestSpark.spark
    val batchQueries = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(_._1.startsWith("q_stream_"))
    val bad = scala.collection.mutable.ArrayBuffer.empty[String]
    batchQueries.foreach { case (name, fn) =>
      val plan =
        try fn(spark, dir).queryExecution.executedPlan.toString
        catch { case e: Throwable =>
          bad += s"$name: failed to plan: ${e.getMessage}"; ""
        }
      if (plan.contains("CartesianProduct"))
        bad += s"$name: CartesianProduct"
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
      val want = bnljCensus.getOrElse(name, 0)
      if (bnlj != want)
        bad += s"$name: $bnlj BroadcastNestedLoopJoin (census $want)"
      // storage hygiene: some constructors eagerly checkpoint; keep the
      // audit from accumulating the whole fleet's debris
      graft.Memo.dropUnpinned(spark.sparkContext)
    }
    assert(bad.isEmpty, s"\n${bad.mkString("\n")}")
  }
}
