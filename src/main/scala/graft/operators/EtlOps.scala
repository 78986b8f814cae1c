package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl._

/** Driver-contract surface for the CDC/directory-sync engine (SURVEY.md
  * §2.8, §3). The fixture-bound queries run the real pipelines on the
  * in-repo fixture (`graft.etl.Fixture`: committed CSVs plus the
  * two-tree state built from them), so they give the same rows on
  * every machine; the scale and CDF queries run on the driver's
  * Parquet tables. Byte-exact parity with the reference's golden dumps
  * lives in the ScalaTest suites that read the reference checkout's
  * testdata (EtlCoreSpec, CdcScenarioSpec, TwoTreeScenarioSpec).
  */
object EtlOps {

  /** Expensive fixture states shared by several queries (the fixture's
    * initial-load snapshot, the scale snapshot) are `Memo.frame`
    * entries: each query still *means* what its name says —
    * q_etl_cdc_batch measures a CDC cycle, not a repeated initial load.
    */
  private def memoized(s: SparkSession, key: String, fp: String)(
      f: => org.apache.spark.sql.Dataset[Directory.Entry]) =
    graft.Memo.frame(s, key, fp)(f.localCheckpoint(true))

  /** The reference system test's initial_load step on the fixture
    * (`Fixture.deluidsLoad`); returns the canonical dump as one row per
    * directory entry (deterministic).
    */
  def etlInitialLoad(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // Fixture-bound (23 users into the two-tree state): the cost is not
    // data but PLAN CONSTANTS — under AQE the merge tree ran as 13
    // jobs / 13 stages / 193 tasks with ~75 % of the wall in
    // driver-side stage orchestration (BenchTrace: driverGap 1.5–2.1 s
    // of a 2.3 s median). Executing the whole load eagerly inside a
    // static width-1 scope collapses it to one job with single-task
    // stages. The DATA-proportional twin (`etlScaleLoad`) keeps AQE —
    // same reasoning, opposite regime, both measured (the
    // q_etl_scale_cdc planning note records AQE winning at scale).
    graft.Tables.withStaticParts(s, 1) {
      Fixture.deluidsLoad(s).snapshot
        .map(Directory.formatEntry _)
        .toDF("entry_line")
        // total order without a global-sort range exchange: at width 1
        // a single-partition sort IS the total order, and skips the
        // RangePartitioner's extra sampling job
        .coalesce(1)
        .sortWithinPartitions("entry_line")
        // eager: the plan must EXECUTE inside the static-width scope
        // (conf is read at execution time, and the bench/verify action
        // runs after this function returns). Per-invocation frame,
        // never re-read after the caller's action — safe to drop.
        .localCheckpoint(true)
    }
  }

  /** Conversion-function surface (F1–F5) over the fixture user CSV. */
  def etlConvert(s: SparkSession, d: String): DataFrame = {
    import graft.functions.ConvertF._
    Fixture.users(s)
      .select(
        col("benutzername"),
        fromDbNumber(col("pk_uniqueid")).as("uid"),
        fromDbDate(col("geburtsdatum")).as("geb"),
        array_join(fromMulti(col("funktionen")), ";").as("funk"),
        fromDbRstrip(col("vorname")).as("vorname"))
      .orderBy("benutzername")
  }

  /** One CDC micro-batch over the fixture's scenario 01: the
    * initial-load step, apply the changeset, process the events, and
    * return the per-event status verdicts (C8 matrix) — deterministic.
    */
  def etlCdcBatch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // Planning note: the cycle runs on the driver (Cdc header), so its
    // Spark work is a few small collects over the fixture and two output
    // passes; round 18's AQE-vs-static-width A/B here measured the
    // set-based cycle that ran then, and does not carry over.
    val users0 = Fixture.users(s)
      .filter(!col("pk_uniqueid").isin(Fixture.deletedUids: _*))
    // the fixture is read-only: one version per JVM
    val snap = memoized(s, "fixture_load", Fixture.dir) {
      Fixture.deluidsLoad(s).snapshot
    }
    val cs = EtlSchema.readUsersCsv(s, s"${Fixture.dir}/changeset01.csv")
    val users = users0.join(cs.select("pk_uniqueid"), Seq("pk_uniqueid"), "left_anti")
      .unionByName(cs)
    val events = EtlSchema.readEventsCsv(s, s"${Fixture.dir}/eventlog01.csv")
    val r = Cdc.cycle(snap, users, events,
      Fixture.conf.copy(etlTimestamp = "20170101000100Z"))
    r.eventUpdates
      .select(col("record_id"), col("new_status"), col("new_error"))
      .orderBy("record_id")
  }

  /** S8 — point entry lookup by dn over the loaded snapshot. */
  def dnLookup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    loadedSnapshot(s)
      .filter(col("dn") === "cn=caesar1,ou=user,ou=ph08,o=BMUKK")
      .select(col("dn"),
        element_at(col("attrs")("phonlineUniqueId"), 1).as("uid"),
        element_at(col("attrs")("sn"), 1).as("sn"))
  }

  /** S9 — keyed LEVEL search by phonlineUniqueId (non-unique: the three
    * caesar rows share uid 1).
    */
  def uidSearch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    loadedSnapshot(s)
      .filter(element_at(col("attrs")("phonlineUniqueId"), 1) === "1")
      .select(col("dn"))
      .orderBy("dn")
  }

  /** Snapshot change-data-feed (`Directory.changes`) between two
    * retained store versions, the classified rows oracle-checked
    * against a DuckDB full-outer join. Two synthetic versions derive
    * deterministically from the customer table: v1 withholds
    * custkey%10==3 (v2's inserts), v2 withholds %10==7 (the deletes)
    * and rewrites the segment attribute where %5==0 (the updates).
    * The staging saves are zone setup, memoized per (JVM, dataset,
    * source fingerprint) — repeated executions time the CDF's one
    * full-outer join, not the snapshot writes.
    */
  def etlCdf(s: SparkSession, d: String): DataFrame = {
    val dir = stagedCdfStore(s, d)
    val vs = Directory.versions(dir) // newest first
    Directory.changes(s, dir, vs(1), vs.head)
      .select(col("dn"), col("change_type"))
      .orderBy("dn")
  }

  /** Stage (once per JVM, dataset, source fingerprint) the two-version
    * snapshot store the CDF queries read; returns the store dir. The
    * version predicates are the contract both oracles re-derive.
    */
  private def stagedCdfStore(s: SparkSession, d: String): String = {
    val dir = tmpPath("graft_cdfstore_", d)
    graft.Memo.staged(dir, graft.Tables.fingerprint(d, "customer")) {
      Directory.save(cdfVersion(s, d, 3, gen = 1), dir, retain = 2)
      Directory.save(cdfVersion(s, d, 7, gen = 2), dir, retain = 2)
    }
    dir
  }

  /** One synthetic snapshot version for the CDF family: customer rows
    * minus custkey%10==dropMod, with the segment attribute mutated by
    * GENERATION — gen 1 is the raw segment, gen 2 appends "+" where
    * %5==0, gen 3 additionally appends "~" where %3==0 (so v2→v3 has
    * fresh updates beyond v1→v2's, giving the streaming MV loop a
    * second non-trivial commit). `weight` (the custkey,
    * version-stable) is the SUM measure for the retraction kernel — an
    * update moves the entry's weight between segments, exercising both
    * the debit and the credit. Every predicate here is re-derived by
    * the DuckDB oracles; the two protocols must not drift.
    */
  private def cdfVersion(s: SparkSession, d: String, dropMod: Int,
      gen: Int): org.apache.spark.sql.Dataset[Directory.Entry] = {
    import s.implicits._
    def suffix(active: Boolean, mod: Int, tag: String) =
      if (active) when(col("c_custkey") % mod === 0, lit(tag)).otherwise(lit(""))
      else lit("")
    val seg = concat(col("c_mktsegment"),
      suffix(gen >= 2, 5, "+"), suffix(gen >= 3, 3, "~"))
    graft.Tables.customer(s, d)
      .filter(col("c_custkey") % 10 =!= dropMod)
      .select(
        concat(lit("c="), col("c_custkey").cast("string")).as("dn"),
        map(lit("segment"), array(seg),
          lit("weight"), array(col("c_custkey").cast("string"))).as("attrs"))
      .as[Directory.Entry]
  }

  /** Stage the same two synthetic versions as dn-bucketed catalog
    * tables (the `Directory.saveBucketed` layout); returns
    * (fromTable, toTable) for `Directory.changesBucketed`. Table names
    * carry a pid+dataset namespace like the SMB join's — a fixed name
    * benched against two datasets in one JVM would alias stale data.
    */
  private def stagedCdfBucketedTables(s: SparkSession, d: String)
      : (String, String) = {
    val ns = ProcessHandle.current().pid() + "_" +
      java.security.MessageDigest.getInstance("MD5")
        .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    val (t1, t2) = (s"graft_cdf_${ns}_v1", s"graft_cdf_${ns}_v2")
    val fp = graft.Tables.fingerprint(d, "customer")
    def stage(t: String, dropMod: Int, gen: Int): Unit = {
      val loc = s.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(t))
      graft.Memo.staged(new java.io.File(loc).getPath, fp,
          s.catalog.tableExists(t)) {
        Directory.saveBucketed(cdfVersion(s, d, dropMod, gen), t)
      }
    }
    stage(t1, 3, gen = 1)
    stage(t2, 7, gen = 2)
    (t1, t2)
  }

  /** Incremental materialized-view maintenance WITH RETRACTIONS: keep
    * a per-segment entry-count MV current across snapshot versions by
    * applying the CDF — inserts credit the new segment, deletes debit
    * the old one, updates do both — instead of rescanning the table.
    * `Maintenance.mvMerge` is the append-only sibling (partial-agg
    * merge of immutable delta slices); this is the shape for stores
    * that UPDATE in place, which append-only merge cannot express.
    * Cost at 100 TB: the MV (one row per group) unions with a
    * delta-sized ±1 frame and re-aggregates — one shuffle keyed on the
    * MV key, data volume |MV| + |changes|, never |table|. The oracle
    * recomputes the aggregate directly from the target version, so the
    * incremental path must land on the exact rescan answer; groups
    * whose count reaches zero must VANISH (retraction correctness —
    * pinned with a hand-built store in SnapshotStoreSpec, since the
    * synthetic versions never empty a segment).
    */
  def etlCdfApply(s: SparkSession, d: String): DataFrame = {
    val dir = stagedCdfStore(s, d)
    val vs = Directory.versions(dir) // newest first
    val seg = (attrs: org.apache.spark.sql.Column) =>
      element_at(attrs("segment"), 1)
    val base = Directory.loadVersion(s, dir, vs(1)).toDF()
      .groupBy(seg(col("attrs")).as("seg"))
      .agg(count(lit(1)).as("delta"))
    applyCountCdf(base, Directory.changes(s, dir, vs(1), vs.head), seg)
      .withColumnRenamed("seg", "segment")
      .orderBy("segment")
  }

  /** The reusable retraction kernel: fold a CDF into a (key, count)
    * aggregate. `base` must carry columns (seg, delta); the group key
    * is derived from either attrs bag by `keyOf`. The ± contributions
    * come from ONE row-local explode (fan-out ≤ 2) over a SINGLE scan
    * of the CDF — the first formulation filtered the CDF twice (minus
    * and plus branches), and Spark re-executed the feed's full-outer
    * join once per consumer, doubling the dominant cost.
    */
  private[graft] def applyCountCdf(base: DataFrame, cdf: DataFrame,
      keyOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : DataFrame = {
    def c(attrs: String, d: Long) =
      struct(keyOf(col(attrs)).as("seg"), lit(d).as("delta"))
    val deltas = cdf.select(explode(
        when(col("change_type") === "insert", array(c("attrs_to", 1L)))
          .when(col("change_type") === "delete", array(c("attrs_from", -1L)))
          .otherwise(array(c("attrs_from", -1L), c("attrs_to", 1L))))
        .as("x"))
      .select(col("x.seg").as("seg"), col("x.delta").as("delta"))
    base.unionByName(deltas)
      .groupBy("seg")
      .agg(sum(col("delta")).as("n_entries"))
      .filter(col("n_entries") > 0)
  }

  /** The retraction kernel generalized to SUM: fold a CDF into a
    * (key, count, sum-of-measure) aggregate. Same single-scan ±fan-out
    * shape as `applyCountCdf`; the measure rides the same explode with
    * a signed contribution. The COUNT COLUMN IS LOAD-BEARING for sum:
    * a group must vanish exactly when its last row does (cnt reaches
    * 0), never when its sum happens to reach 0 with live rows — so the
    * MV stores (cnt, sum) pairs, the standard incremental-view-
    * maintenance bookkeeping. MIN/MAX deliberately have NO incremental
    * twin here: retracting the group's extremum leaves the runner-up
    * unknowable from (MV, CDF) alone — two stores with identical MV
    * state and identical CDFs can require different new maxima
    * (SnapshotStoreSpec constructs the counterexample) — so max
    * refresh under deletion is a rescan (`Maintenance.mvMerge` merges
    * max append-only, where the algebra IS closed).
    */
  private[graft] def applySumCdf(base: DataFrame, cdf: DataFrame,
      keyOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      measureOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : DataFrame = {
    // fail-fast measure: an absent or non-numeric measure attribute
    // (element_at/cast yielding null) would make sum SKIP the
    // contribution while cnt still counts the row — a silent divergence
    // from the rescan oracle. Raising on the offending dn turns the
    // contract violation into an error at the row that breaks it.
    def m(attrs: String) = {
      val v = measureOf(col(attrs))
      when(v.isNotNull, v).otherwise(raise_error(concat(
        lit(s"applySumCdf: null/non-numeric measure in $attrs for dn="),
        col("dn"))))
    }
    def c(attrs: String, sign: Long) =
      struct(keyOf(col(attrs)).as("seg"), lit(sign).as("dc"),
        (lit(sign) * m(attrs)).as("dm"))
    val deltas = cdf.select(explode(
        when(col("change_type") === "insert", array(c("attrs_to", 1L)))
          .when(col("change_type") === "delete", array(c("attrs_from", -1L)))
          .otherwise(array(c("attrs_from", -1L), c("attrs_to", 1L))))
        .as("x"))
      .select(col("x.seg").as("seg"), col("x.dc").as("cnt"),
        col("x.dm").as("msum"))
    base.unionByName(deltas)
      .groupBy("seg")
      .agg(sum(col("cnt")).as("cnt"), sum(col("msum")).as("msum"))
      .filter(col("cnt") > 0)
  }

  /** SUM-MV maintenance over the CDF: per-segment (entry count, total
    * weight) kept current incrementally; oracle = direct rescan of the
    * target version, so the ± fold must land on the exact answer.
    */
  def etlCdfApplySum(s: SparkSession, d: String): DataFrame = {
    val dir = stagedCdfStore(s, d)
    val vs = Directory.versions(dir) // newest first
    val seg = (attrs: org.apache.spark.sql.Column) =>
      element_at(attrs("segment"), 1)
    val w = (attrs: org.apache.spark.sql.Column) =>
      element_at(attrs("weight"), 1).cast("long")
    val base = Directory.loadVersion(s, dir, vs(1)).toDF()
      .groupBy(seg(col("attrs")).as("seg"))
      .agg(count(lit(1)).as("cnt"), sum(w(col("attrs"))).as("msum"))
    applySumCdf(base, Directory.changes(s, dir, vs(1), vs.head), seg, w)
      .select(col("seg").as("segment"), col("cnt").as("n_entries"),
        col("msum").as("sum_weight"))
      .orderBy("segment")
  }

  /** The bucketed-store CDF under the same oracle as `q_etl_cdf`
    * (round 19): `Directory.changesBucketed` over the dn-bucketed
    * catalog twins of the same two synthetic versions. BucketedCdfSpec
    * pins the PLAN (SortMergeJoin, zero exchanges, both scans
    * bucketed) and classification equality with the plain store —
    * this row closes the remaining gap: every
    * other operator twin in the engine (rocksdb/HDFS, salted/plain)
    * carries its own green CORRECTNESS row, so the zero-exchange CDF
    * gets one too, against the identical rescan-derived oracle.
    */
  def etlCdfBucketed(s: SparkSession, d: String): DataFrame = {
    val (t1, t2) = stagedCdfBucketedTables(s, d)
    Directory.changesBucketed(s, t1, t2)
      .select(col("dn"), col("change_type"))
      .orderBy("dn")
  }

  /** MAX-MV refresh across a CDF — the RESCAN FALLBACK the SUM
    * kernel's scaladoc commits to, as a decision kernel: MAX is closed
    * under append (inserts merge with one `max`) but NOT under
    * retraction (SnapshotStoreSpec constructs two stores with
    * identical (MV, CDF) and different correct new maxima), so the
    * kernel inspects the feed — insert-only folds incrementally at
    * |MV| + |changes| cost, any delete or update forces `rescan()`.
    * The inspection itself is one pass over the delta-sized CDF (at a
    * table-format deployment the commit's operation metadata answers
    * it for free); the decision, not the arithmetic, is what this
    * kernel contributes over a bare rescan.
    */
  private[graft] def refreshMaxMv(base: DataFrame, cdf: DataFrame,
      rescan: () => DataFrame,
      keyOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      measureOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : DataFrame = {
    val hasRetraction =
      !cdf.filter(col("change_type") =!= "insert").isEmpty
    if (hasRetraction) rescan()
    else base.unionByName(
        cdf.select(keyOf(col("attrs_to")).as("seg"),
          measureOf(col("attrs_to")).as("mmax")))
      .groupBy("seg")
      .agg(max(col("mmax")).as("mmax"))
  }

  /** MAX-MV maintenance over the CDF: per-segment max weight. The
    * staged feed carries deletes and updates, so this row exercises —
    * and oracle-gates — the forced-rescan branch; the insert-only
    * merge branch is pinned by SnapshotStoreSpec. Completes the
    * kernel trio (count / sum incremental, max decided).
    */
  def etlCdfApplyMax(s: SparkSession, d: String): DataFrame = {
    val dir = stagedCdfStore(s, d)
    val vs = Directory.versions(dir) // newest first
    val seg = (attrs: org.apache.spark.sql.Column) =>
      element_at(attrs("segment"), 1)
    val w = (attrs: org.apache.spark.sql.Column) =>
      element_at(attrs("weight"), 1).cast("long")
    val base = Directory.loadVersion(s, dir, vs(1)).toDF()
      .groupBy(seg(col("attrs")).as("seg"))
      .agg(max(w(col("attrs"))).as("mmax"))
    refreshMaxMv(base, Directory.changes(s, dir, vs(1), vs.head),
      () => Directory.loadVersion(s, dir, vs.head).toDF()
        .groupBy(seg(col("attrs")).as("seg"))
        .agg(max(w(col("attrs"))).as("mmax")),
      seg, w)
      .select(col("seg").as("segment"), col("mmax").as("max_weight"))
      .orderBy("segment")
  }

  /** Oracle-gated snapshot-store compaction (`Directory.compact`): each
    * execution stages a FRAGMENTED commit (the polling-CDC shape — file
    * count follows write parallelism, 24 tasks for a table that needs
    * 1–4 files) and compacts it, returning (file count, row count,
    * content checksum). The file count is derivable by the oracle
    * (⌈rows/target⌉), and the checksum pins content invariance — the
    * whole point of an OPTIMIZE pass is that readers cannot tell it
    * happened except by file count. Re-staged every execution: the op
    * IS the rewrite, so a memo would leave nothing to measure. The
    * measured cost is almost entirely driver-side file/commit ops
    * (Profile: 11 jobs summing ~0.7 s under a 2–3× wall) — at 100 TB
    * those task commits land on a manifest-committing table format and
    * the data writes parallelize; the fixture prices the protocol.
    * Staged at width 8 (round 19, was 24): a row whose wall is ~70 %
    * untracked driver-side commit ops kept tripping spread heuristics
    * ([1.84, 4.03] in the r18 sweep) — 8 fragments still forces a real
    * compaction at every SF while cutting the per-execution commit-op
    * noise the protocol does not need.
    *
    * `n_rows_prev` (round 19) pins the maintenance-vs-history
    * interaction: compaction publishes a NEW version behind the
    * pointer swap, so time travel to the pre-compaction version must
    * keep working afterward (the retain contract) — the column counts
    * that version POST-compaction, and the oracle expects the same
    * row count (the fragmented commit and the compacted one hold
    * identical content).
    */
  def etlCompact(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = tmpPath("graft_compactstore_", d)
    Directory.deleteRecursively(new java.io.File(dir))
    val entries = graft.Tables.customer(s, d)
      .select(
        concat(lit("c="), col("c_custkey").cast("string")).as("dn"),
        map(lit("segment"), array(col("c_mktsegment"))).as("attrs"))
      .repartition(8)
      .as[Directory.Entry]
    Directory.save(entries, dir)
    Directory.compact(s, dir, targetRows = 4000L)
    val vs = Directory.versions(dir)
    val nFiles = Option(new java.io.File(s"$dir/${vs.head}").listFiles())
      .getOrElse(Array.empty).count(_.getName.endsWith(".parquet")).toLong
    // time travel across the compaction: vs(1) is the fragmented
    // pre-compaction commit, still retained behind the new pointer
    val prevRows = Directory.loadVersion(s, dir, vs(1)).toDF()
      .agg(count(lit(1)).as("n_rows_prev"))
    Directory.load(s, dir).toDF()
      .agg(count(lit(1)).as("n_rows"),
        sum(substring(col("dn"), 3, 18).cast("long")).as("sum_key"))
      .crossJoin(prevRows) // 1-row × 1-row broadcast merge
      .select(lit(nFiles).as("n_files"), col("n_rows"), col("sum_key"),
        col("n_rows_prev"))
  }

  /** Stage (once per JVM, dataset, source fingerprint) the continuous-
    * maintenance fixture: a 3-version snapshot store (gen-1/2/3
    * synthetic versions — each commit inserts, deletes, AND updates)
    * and a CDF landing zone holding one parquet file per commit
    * transition (v1→v2, v2→v3), mtime-stamped in commit order so the
    * file-stream source replays the feed exactly as a table format's
    * change stream would deliver it. Returns (storeDir, zoneDir).
    */
  private def stagedMvZone(s: SparkSession, d: String): (String, String) = {
    val root = tmpPath("graft_mv_", d)
    val (dir, zone) = (s"$root/store", s"$root/zone")
    graft.Memo.staged(root, graft.Tables.fingerprint(d, "customer")) {
      java.nio.file.Files.createDirectories(new java.io.File(zone).toPath)
      Directory.save(cdfVersion(s, d, 3, gen = 1), dir, retain = 2)
      Directory.save(cdfVersion(s, d, 7, gen = 2), dir, retain = 2)
      Directory.save(cdfVersion(s, d, 1, gen = 3), dir, retain = 2)
      val vs = Directory.versions(dir).reverse // oldest first
      vs.zip(vs.tail).zipWithIndex.foreach { case ((from, to), i) =>
        val stage = new java.io.File(root, s"stage$i")
        Directory.changes(s, dir, from, to)
          .coalesce(1).write.mode("overwrite").parquet(stage.getPath)
        val part = Option(stage.listFiles()).getOrElse(Array.empty)
          .find(f => f.getName.startsWith("part-")
            && f.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no parquet part written under $stage"))
        val dest = new java.io.File(zone, f"cdf-$i%03d.parquet")
        java.nio.file.Files.move(part.toPath, dest.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        Directory.deleteRecursively(stage)
        // fixed ascending mtimes in commit order (the
        // streamSessionAppend protocol): the file-stream lister
        // orders arrival by modification time, and commit order is
        // the one order under which the ± fold is the change feed
        require(dest.setLastModified(1000000000000L + i * 2000L),
          s"setLastModified failed on $dest — commit-order replay " +
            "cannot be guaranteed on this filesystem")
      }
    }
    (dir, zone)
  }

  /** CONTINUOUS MV maintenance — the streaming twin of
    * `q_etl_cdf_apply_sum`, and the convergence point of the CDF/MV
    * work: a `foreachBatch` loop holds the (cnt, sum) MV current
    * across snapshot versions as their change feeds arrive, exactly
    * the shape of the reference's polling CDC loop (etl.py:393–423 —
    * wake, read what changed, fold it in, repeat). Each micro-batch
    * folds its CDF slice through `applySumCdf` and republishes the MV
    * as an eagerly-checkpointed frame (lineage truncated, so the
    * chain's depth stays O(1) across commits — the unbounded-stream
    * requirement; a real deployment would write it back to a store
    * version instead). Correctness does not depend on trigger
    * boundaries: the ± fold is LINEAR in the CDF rows — contributions
    * sum, and a group at cnt 0 always has msum 0 (every retracted
    * row's credit was previously applied), so dropping it loses
    * nothing a later insert can't rebuild — hence any batching of the
    * feed lands on the same MV (SnapshotStoreSpec pins a split-replay
    * against the one-shot fold). The oracle is the same contract as
    * the batch twin: a direct rescan of the FINAL version, which the
    * incremental loop must reproduce exactly after draining every
    * commit.
    */
  def streamMv(s: SparkSession, d: String): DataFrame = {
    val (dir, zone) = stagedMvZone(s, d)
    val v1 = Directory.versions(dir).last // oldest retained
    val seg = (attrs: org.apache.spark.sql.Column) =>
      element_at(attrs("segment"), 1)
    val w = (attrs: org.apache.spark.sql.Column) =>
      element_at(attrs("weight"), 1).cast("long")
    // cloned session: stateless scan, but the MV re-aggregation runs
    // per micro-batch, so size its shuffle to the data not the box
    // (the drain() rationale in StreamToolOps)
    val child = graft.StreamScratch.session(s)
    child.conf.set("spark.sql.shuffle.partitions", "8")
    // the consumer's starting point: the MV as of the oldest retained
    // version — what a downstream refresher has on hand when it
    // attaches to the feed
    @volatile var mv = Directory.loadVersion(child, dir, v1).toDF()
      .groupBy(seg(col("attrs")).as("seg"))
      .agg(count(lit(1)).as("cnt"), sum(w(col("attrs"))).as("msum"))
      .localCheckpoint(true)
    val schema = child.read.parquet(zone).schema
    // ephemeral checkpoint on the RAM-backed scratch (StreamScratch):
    // fresh per drain, deleted after stop — same rule as drain()
    val ck = graft.StreamScratch.checkpointDir(
      s"stream_mv_${System.nanoTime()}")
    val q = child.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1") // one commit's feed per trigger
      .parquet(zone)
      .writeStream
      .option("checkpointLocation", ck)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        mv = applySumCdf(mv, batch.toDF(), seg, w).localCheckpoint(true)
      }
      .start()
    try q.processAllAvailable()
    finally graft.StreamScratch.stop(q, ck)
    mv.select(col("seg").as("segment"), col("cnt").as("n_entries"),
      col("msum").as("sum_weight"))
      .orderBy("segment")
  }

  /** Per-(pid, dataset) tmp path for staged fixture stores — shared by
    * every staging memo so two datasets benched in one JVM can never
    * alias each other's zones.
    */
  private def tmpPath(prefix: String, d: String): String =
    new java.io.File(System.getProperty("java.io.tmpdir"),
      prefix + ProcessHandle.current().pid() + "_" +
        java.security.MessageDigest.getInstance("MD5")
          .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString
          .take(12)).getPath

  /** Synthetic user table derived from the sf-scaled customer table so
    * the MERGE/CDC engines can be benchmarked at data scale (the
    * reference fixtures are 25 rows — constant cost).
    */
  def syntheticUsers(s: SparkSession, d: String): DataFrame = {
    val c = graft.Tables.customer(s, d)
    val nullS = lit(null).cast("string")
    val nullD = lit(null).cast("double")
    c.select(
      nullS.as("person_nr_obf"),
      substring(md5(col("c_name")), 1, 16).as("st_person_nr_obf"),
      nullS.as("org_einheiten"),
      nullS.as("emailadresse_b"),
      concat(lower(regexp_replace(col("c_name"), "[^A-Za-z0-9]", "")),
        lit("@example.org")).as("emailadresse_st"),
      base64(col("c_name").cast("binary")).as("bpk"),
      nullS.as("pm_sap_personalnummer"),
      nullS.as("schulkennzahlen"),
      nullS.as("funktionen"),
      col("c_custkey").cast("double").as("pk_uniqueid"),
      initcap(col("c_mktsegment")).as("vorname"),
      col("c_name").as("nachname"),
      concat(lit("user"), col("c_custkey")).as("benutzername"),
      substring(md5(concat(lit("pw"), col("c_custkey"))), 1, 10).as("passwort"),
      lit("ST").as("benutzergruppen"),
      lit("J  ").as("aktiv_st_person"),
      lit("N  ").as("aktiv_a_person"),
      nullS.as("aktiv_b_person"),
      nullS.as("chipid_b"), nullS.as("chipid_st"), nullS.as("chipid_a"),
      nullS.as("mirfareid_b"), nullS.as("mirfareid_st"), nullS.as("mirfareid_a"),
      (col("c_custkey") % 90000000 + 10000000).cast("string")
        .as("matrikelnummer"),
      nullS.as("account_status_b"),
      lit("OK").as("account_status_st"),
      nullS.as("account_status_a"),
      lit(null).cast("timestamp").as("geburtsdatum"),
      nullD.as("person_nr"),
      col("c_custkey").cast("double").as("st_person_nr"),
      (-col("c_custkey")).cast("double").as("ident_nr"))
  }

  private val scaleConf = EtlConf(baseDn = "ou=user,ou=ph01,o=BMUKK",
    cryptoIvHex = Some("0" * 32))

  /** Initial load of the sf-scaled synthetic user table into an empty
    * tree — the MERGE engine at data scale (scales with SF).
    */
  def etlScaleLoad(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val empty = s.emptyDataset[Directory.Entry]
    val r = InitialLoad.run(empty, syntheticUsers(s, d), scaleConf)
    r.snapshot.toDF.select(col("dn")).orderBy("dn")
  }

  /** One CDC cycle at data scale: the sf events table recast as an
    * eventlog (update events keyed by user_id) against the loaded
    * synthetic snapshot; returns per-event verdicts.
    */
  def etlScaleCdc(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val users = syntheticUsers(s, d)
    val snap = memoized(s, s"scale_load $d",
        graft.Tables.fingerprint(d, "customer")) {
      import s.implicits._
      InitialLoad.run(s.emptyDataset[Directory.Entry], users, scaleConf).snapshot
    }
    val ev = graft.Tables.events(s, d).select(
      col("event_id").cast("double").as("record_id"),
      concat(lit("pk_uniqueid="), col("user_id")).as("table_key"),
      lit("N  ").as("status"),
      lit(6.0).as("event_type"),
      col("ts").as("event_time"),
      col("event_type").as("perpetrator"),
      lit("benutzer_alle_dirxml_v").as("table_name"),
      lit(null).cast("string").as("column_name"),
      lit(null).cast("string").as("old_value"),
      lit(null).cast("string").as("new_value"),
      lit(null).cast("double").as("synch_id"),
      lit("N  ").as("synch_online_flag"),
      lit("N  ").as("transaction_flag"),
      lit(null).cast("timestamp").as("read_time"),
      lit(null).cast("string").as("error_message"),
      lit(1.0).as("attempt"),
      lit("N  ").as("admin_notify_flag"))
    // unbounded batch: the scale query processes every event, and the
    // oracle asserts a verdict per event — a finite cap would silently
    // under-report at a large enough sf
    //
    // Chunk note: the cycle runs on the driver, in chunks of at most
    // `Cdc.driverBatchBound` distinct uids (Cdc header). At sf0.001-0.1
    // the batch (1,000-100,000 events on 15-1,500 uids) is one chunk;
    // GenScale sf1's 1M events on 15,000 uids run as consecutive chunks.
    val r = Cdc.cycle(snap, users, ev,
      scaleConf.copy(etlTimestamp = "20170101000300Z"),
      maxRecords = Int.MaxValue)
    r.eventUpdates.select(col("record_id"), col("new_status"))
      .orderBy("record_id")
  }

  /** J7 — cross-tree deletion sweep, oracle-gated: over the two-tree state,
    * soft-delete the ph08 caesar1 (so its ph15 twin becomes the single
    * live match) and strip the twin's account-status attrs (the sweep's
    * guard); caesar2 stays live in ph08 and zzz.missing has no entry.
    * The sweep must delete exactly the prepared twin — each victim's
    * ph15 twin count before/after pins all three semantics branches.
    */
  def deletePh15Sweep(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = "ou=user,ou=ph08,o=BMUKK"
    val conf = EtlConf(baseDn = base, cryptoIvHex = Some("0" * 32))
    val prepared = Fixture.twoTree(s)
      .map { e =>
        if (e.dn == s"cn=caesar1,$base")
          Directory.Entry(e.dn,
            e.attrs + ("idnDeleted" -> Seq("20170101000000Z")))
        else if (e.dn == s"cn=caesar1,${conf.dn15}")
          Directory.Entry(e.dn,
            e.attrs.filter { case (k, _) => !k.startsWith("phonlineAccSt") })
        else e
      }
    val victims = Seq("caesar1", "caesar2", "zzz.missing")
    val gone = SyncEngine.ph15Sweep(prepared.collect().map(e => e.dn -> e.attrs),
      victims, conf)
    val after = prepared.filter(!col("dn").isInCollection(gone))
    def twinCount(snap: org.apache.spark.sql.Dataset[Directory.Entry]) =
      snap.toDF
        .filter(col("dn").endsWith("," + conf.dn15) &&
          col("dn").startsWith("cn="))
        .select(Directory.rdnValueCol(col("dn")).as("cn"))
    val vdf = victims.toDF("cn")
    val before = twinCount(prepared).groupBy("cn")
      .agg(count(lit(1)).as("n_before"))
    val post = twinCount(after).groupBy("cn")
      .agg(count(lit(1)).as("n_after"))
    vdf.join(before, Seq("cn"), "left_outer")
      .join(post, Seq("cn"), "left_outer")
      .select(col("cn"),
        coalesce(col("n_before"), lit(0L)).as("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"))
      .orderBy("cn")
  }

  /** J8 — ph15 student-email back-sync, oracle-gated: drift two ph15
    * twins' emails, run the sync, and emit the healed values (the
    * source-tree emails of the two-tree state).
    */
  def ph15EmailHeal(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bases = Seq("ou=user,ou=ph08,o=BMUKK", "ou=user,ou=ph15,o=BMUKK")
    val drifted = Map(
      "cn=caesar1,ou=user,ou=ph15,o=BMUKK" -> "stale@wrong.example",
      "cn=fuahr.ksspofil.1,ou=user,ou=ph15,o=BMUKK" -> "also@stale.example")
    val snap = Fixture.twoTree(s)
      .map { e =>
        drifted.get(e.dn) match {
          case Some(stale) => Directory.Entry(e.dn,
            e.attrs + ("phonlineEmailStudent" -> Seq(stale)))
          case None => e
        }
      }
    val healed = SyncEngine.ph15EmailSync(snap, bases)
    healed.toDF
      .filter(col("dn").isin(drifted.keys.toSeq: _*))
      .select(col("dn"),
        element_at(col("attrs")("phonlineEmailStudent"), 1).as("mail"))
      .orderBy("dn")
  }

  private def loadedSnapshot(s: SparkSession) = Fixture.twoTree(s).toDF

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_etl_initial_load" -> (etlInitialLoad _),
    "q_s8_dn_lookup" -> (dnLookup _),
    "q_s9_uid_search" -> (uidSearch _),
    "q_etl_convert" -> (etlConvert _),
    "q_etl_cdc_batch" -> (etlCdcBatch _),
    "q_etl_scale_load" -> (etlScaleLoad _),
    "q_etl_scale_cdc" -> (etlScaleCdc _),
    "q_etl_cdf" -> (etlCdf _),
    "q_etl_cdf_bucketed" -> (etlCdfBucketed _),
    "q_etl_cdf_apply" -> (etlCdfApply _),
    "q_etl_cdf_apply_sum" -> (etlCdfApplySum _),
    "q_etl_cdf_apply_max" -> (etlCdfApplyMax _),
    "q_etl_compact" -> (etlCompact _),
    "q_stream_mv" -> (streamMv _),
    "q_j7_ph15_sweep" -> (deletePh15Sweep _),
    "q_j8_email_heal" -> (ph15EmailHeal _),
  )

  /** Every query here carries a DuckDB oracle. The MERGE/CDC engine
    * itself is not SQL-expressible, but its *outcomes* are independently
    * checkable: the initial load's lines must equal the two-tree dump it
    * started from minus the ph08 lines of the two deleted uids (read
    * line-wise by DuckDB from `Fixture.twoTreeDumpPath`; the relation
    * the reference's ldapII/ldap00 pair records, so this pins the
    * load's delta, not the dump's absolute content — InitialLoadGoldenSpec
    * checks that against ldap00 where the reference checkout exists), the
    * scale load's dn set is derivable from the customer table + the
    * bootstrap chain, the scale CDC verdicts are all-S by construction
    * (every event's user exists), the CSV-bound queries re-read the
    * fixture CSVs, and the fixture-bound lookups/verdicts pin the
    * fixture's anchor rows (FIXTURES.md §7) as literals.
    */
  val oracles: Map[String, String] = Map(
    "q_etl_initial_load" ->
      s"""SELECT entry_line
         |FROM read_csv('${Fixture.twoTreeDumpPath}', delim=chr(1),
         |  header=false, quote='', escape='', columns={'entry_line':'VARCHAR'})
         |WHERE entry_line IS NOT NULL AND entry_line NOT LIKE 'Count:%'
         |  AND entry_line NOT LIKE 'cn=ajiqon.qajk.21,${Fixture.ph08} %'
         |  AND entry_line NOT LIKE 'cn=jnas.orxzgyno.20,${Fixture.ph08} %'
         |ORDER BY entry_line""".stripMargin,
    "q_etl_scale_load" ->
      """SELECT 'cn=user' || CAST(c_custkey AS VARCHAR) ||
        |    ',ou=user,ou=ph01,o=BMUKK' AS dn FROM customer
        |UNION ALL SELECT * FROM (VALUES ('o=BMUKK'), ('ou=ph01,o=BMUKK'),
        |  ('ou=user,ou=ph01,o=BMUKK'), ('ou=idnSync,ou=ph01,o=BMUKK'),
        |  ('ou=ETD,ou=idnSync,ou=ph01,o=BMUKK')) t(dn)
        |ORDER BY dn""".stripMargin,
    "q_etl_scale_cdc" ->
      """SELECT CAST(event_id AS DOUBLE) AS record_id, 'S' AS new_status
        |FROM events ORDER BY record_id""".stripMargin,
    // the CDF's classification, derived straight from the source
    // table with the same two version predicates the query staged
    "q_etl_cdf" ->
      """WITH v1 AS (
        |  SELECT 'c=' || CAST(c_custkey AS VARCHAR) AS dn,
        |         c_mktsegment AS seg
        |  FROM customer WHERE c_custkey % 10 <> 3),
        |v2 AS (
        |  SELECT 'c=' || CAST(c_custkey AS VARCHAR) AS dn,
        |         CASE WHEN c_custkey % 5 = 0 THEN c_mktsegment || '+'
        |              ELSE c_mktsegment END AS seg
        |  FROM customer WHERE c_custkey % 10 <> 7),
        |j AS (
        |  SELECT COALESCE(v2.dn, v1.dn) AS dn,
        |         CASE WHEN v1.dn IS NULL THEN 'insert'
        |              WHEN v2.dn IS NULL THEN 'delete'
        |              WHEN v1.seg <> v2.seg THEN 'update' END AS change_type
        |  FROM v1 FULL OUTER JOIN v2 ON v1.dn = v2.dn)
        |SELECT dn, change_type FROM j
        |WHERE change_type IS NOT NULL ORDER BY dn""".stripMargin,
    // the zero-exchange bucketed layout may not change a single CDF
    // row — it shares the plain path's oracle verbatim (the
    // rocksdb/HDFS twin protocol)
    "q_etl_cdf_bucketed" ->
      """WITH v1 AS (
        |  SELECT 'c=' || CAST(c_custkey AS VARCHAR) AS dn,
        |         c_mktsegment AS seg
        |  FROM customer WHERE c_custkey % 10 <> 3),
        |v2 AS (
        |  SELECT 'c=' || CAST(c_custkey AS VARCHAR) AS dn,
        |         CASE WHEN c_custkey % 5 = 0 THEN c_mktsegment || '+'
        |              ELSE c_mktsegment END AS seg
        |  FROM customer WHERE c_custkey % 10 <> 7),
        |j AS (
        |  SELECT COALESCE(v2.dn, v1.dn) AS dn,
        |         CASE WHEN v1.dn IS NULL THEN 'insert'
        |              WHEN v2.dn IS NULL THEN 'delete'
        |              WHEN v1.seg <> v2.seg THEN 'update' END AS change_type
        |  FROM v1 FULL OUTER JOIN v2 ON v1.dn = v2.dn)
        |SELECT dn, change_type FROM j
        |WHERE change_type IS NOT NULL ORDER BY dn""".stripMargin,
    // MV-apply must land on the direct rescan of the TARGET version:
    // the oracle never sees the base MV or the CDF, only the answer
    // the incremental path is contractually bound to reproduce
    "q_etl_cdf_apply" ->
      """SELECT CASE WHEN c_custkey % 5 = 0 THEN c_mktsegment || '+'
        |            ELSE c_mktsegment END AS segment,
        |       COUNT(*)::BIGINT AS n_entries
        |FROM customer WHERE c_custkey % 10 <> 7
        |GROUP BY 1 ORDER BY segment""".stripMargin,
    // the SUM twin: same rescan-of-target-version contract, with the
    // per-segment weight total alongside the count
    "q_etl_cdf_apply_sum" ->
      """SELECT CASE WHEN c_custkey % 5 = 0 THEN c_mktsegment || '+'
        |            ELSE c_mktsegment END AS segment,
        |       COUNT(*)::BIGINT AS n_entries,
        |       CAST(SUM(c_custkey) AS BIGINT) AS sum_weight
        |FROM customer WHERE c_custkey % 10 <> 7
        |GROUP BY 1 ORDER BY segment""".stripMargin,
    // MAX refresh under deletion is a forced rescan (the kernel's
    // decision branch): the oracle is the same rescan-of-target
    // contract as the COUNT/SUM twins, with max instead
    "q_etl_cdf_apply_max" ->
      """SELECT CASE WHEN c_custkey % 5 = 0 THEN c_mktsegment || '+'
        |            ELSE c_mktsegment END AS segment,
        |       CAST(MAX(c_custkey) AS BIGINT) AS max_weight
        |FROM customer WHERE c_custkey % 10 <> 7
        |GROUP BY 1 ORDER BY segment""".stripMargin,
    // the drained streaming fold must land on the rescan of the FINAL
    // version (gen-3 segment algebra, %10==1 withheld) — same contract
    // as the batch SUM twin, across two commits instead of one
    "q_stream_mv" ->
      """SELECT seg AS segment, COUNT(*)::BIGINT AS n_entries,
        |       CAST(SUM(c_custkey) AS BIGINT) AS sum_weight
        |FROM (SELECT c_mktsegment ||
        |        (CASE WHEN c_custkey % 5 = 0 THEN '+' ELSE '' END) ||
        |        (CASE WHEN c_custkey % 3 = 0 THEN '~' ELSE '' END) AS seg,
        |        c_custkey
        |      FROM customer WHERE c_custkey % 10 <> 1) x
        |GROUP BY 1 ORDER BY segment""".stripMargin,
    // compaction is content-invariant (count + key checksum reproduce
    // straight from the source), its file count is ⌈rows/target⌉, and
    // the pre-compaction version must still time-travel afterward
    // (n_rows_prev: the retain contract across an OPTIMIZE pass)
    "q_etl_compact" ->
      """SELECT CAST(CEIL(COUNT(*) / 4000.0) AS BIGINT) AS n_files,
        |       COUNT(*) AS n_rows,
        |       CAST(SUM(c_custkey) AS BIGINT) AS sum_key,
        |       COUNT(*) AS n_rows_prev
        |FROM customer""".stripMargin,
    "q_j7_ph15_sweep" ->
      """SELECT * FROM (VALUES
        |  ('caesar1', 1, 0),
        |  ('caesar2', 1, 1),
        |  ('zzz.missing', 0, 0))
        |  t(cn, n_before, n_after) ORDER BY cn""".stripMargin,
    "q_j8_email_heal" ->
      """SELECT * FROM (VALUES
        |  ('cn=caesar1,ou=user,ou=ph15,o=BMUKK', 'caesar1@gmail.com'),
        |  ('cn=fuahr.ksspofil.1,ou=user,ou=ph15,o=BMUKK',
        |   'Abywt@stud.ph-noe.ac.at'))
        |  t(dn, mail) ORDER BY dn""".stripMargin,
    "q_etl_cdc_batch" ->
      """SELECT CAST(record_id AS DOUBLE) AS record_id, new_status,
        |  CAST(new_error AS VARCHAR) AS new_error
        |FROM (VALUES (1000003330127, 'S', NULL), (1000003330129, 'S', NULL),
        |  (1000003330130, 'S', NULL), (1000003330131, 'S', NULL))
        |  t(record_id, new_status, new_error)
        |ORDER BY record_id""".stripMargin,
    "q_s8_dn_lookup" ->
      """SELECT * FROM (VALUES
        |  ('cn=caesar1,ou=user,ou=ph08,o=BMUKK', '1', 'Ydfiao'))
        |  t(dn, uid, sn)""".stripMargin,
    "q_s9_uid_search" ->
      """SELECT * FROM (VALUES ('cn=caesar1,ou=user,ou=ph08,o=BMUKK'),
        |  ('cn=caesar1,ou=user,ou=ph15,o=BMUKK'),
        |  ('cn=caesar2,ou=user,ou=ph08,o=BMUKK'),
        |  ('cn=caesar2,ou=user,ou=ph15,o=BMUKK'),
        |  ('cn=caesar3,ou=user,ou=ph08,o=BMUKK'),
        |  ('cn=caesar3,ou=user,ou=ph15,o=BMUKK')) t(dn)
        |ORDER BY dn""".stripMargin,
    "q_etl_convert" ->
      s"""SELECT benutzername,
         |  CAST(CAST(trunc(CAST(pk_uniqueid AS DOUBLE)) AS BIGINT) AS VARCHAR) AS uid,
         |  CASE WHEN geburtsdatum IS NOT NULL
         |    THEN strftime(strptime(geburtsdatum, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S') || '.0' END AS geb,
         |  CASE WHEN funktionen IS NOT NULL AND trim(funktionen) <> ''
         |    THEN array_to_string(str_split(trim(funktionen), ';'), ';') END AS funk,
         |  NULLIF(rtrim(vorname), '') AS vorname
         |FROM read_csv('${Fixture.dir}/initial_data.csv',
         |  delim=';', header=true, nullstr='', all_varchar=true)
         |ORDER BY benutzername""".stripMargin,
  )
}
