package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._

/** Deduplication operators for large-scale corpus pipelines — exact,
  * MinHash+LSH banding, SimHash, and n-gram Jaccard, each expressed as
  * shuffle-bounded DataFrame plans (no driver-side state, no pairwise
  * cross join: candidate generation is always hash-bucketed, so the cost
  * is O(docs) + O(candidate pairs), which is what survives at 100 TB).
  *
  * All hashing uses md5 so a SQL oracle can mirror the exact values.
  */
object Dedup {

  /** Whitespace tokenizer — shared across the ops modules so dedup,
    * text analysis, and curation cannot silently disagree on what a
    * token is.
    */
  private[ops] def tokens(c: Column): Column = split(c, " ")

  /** Deduplicated word n-grams over an ALREADY-TOKENIZED column. Takes
    * the token array (not the raw text) deliberately: inlining split()
    * here would re-tokenize the document per produced n-gram inside the
    * transform lambda — O(tokens²) character work.
    */
  private[ops] def ngrams(t: Column, n: Int): Column =
    array_distinct(transform(
      sequence(lit(0), size(t) - n),
      i => concat_ws(" ",
        (1 to n).map(k => element_at(t, i + k)): _*)))

  /** Exact dedup by content hash: one group per distinct text, survivor
    * = lowest doc_id. groupBy(hash) ⇒ a single shuffle on the hash key.
    */
  def exact(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n"))

  /** Word 3-gram shingle set, deduped. */
  private def shingles(t: Column): Column = ngrams(t, 3)

  /** n-gram Jaccard similarity between adjacent doc pairs (a linear
    * "candidate chain" — the general pairwise case goes through LSH
    * banding below; this query verifies the similarity kernel itself).
    */
  def ngramJaccard(s: SparkSession, d: String): DataFrame = {
    // tokenize once into a staged column — shingles() reads its token
    // array per element inside a transform lambda, and an inlined
    // split(text) there re-tokenizes the document per shingle (O(n²))
    val base = documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), shingles(col("t")).as("sh"))
    val a = base.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = base.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    a.join(b, col("doc_b") === col("doc_a") + 1)
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter")), 6)
          .as("jaccard"))
  }

  /** Shingle containment |A∩B| / |A| for the adjacent-pair chain — the
    * ASYMMETRIC near-dup signal: a short quote inside a long article
    * has low Jaccard but containment ≈ 1, which is exactly the
    * truncation/quotation case symmetric Jaccard misses. Same row-local
    * shingle kernel as `ngramJaccard`; at scale the pair source is the
    * LSH candidates, not the adjacency chain.
    */
  def containment(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), shingles(col("t")).as("sh"))
    val a = base.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = base.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    a.join(b, col("doc_b") === col("doc_a") + 1)
      .select(col("doc_a"), col("doc_b"),
        round(size(array_intersect(col("sh_a"), col("sh_b")))
          .cast("double") / size(col("sh_a")), 6).as("containment_a"),
        round(size(array_intersect(col("sh_a"), col("sh_b")))
          .cast("double") / size(col("sh_b")), 6).as("containment_b"))
  }

  /** Seeds for the 16 MinHash permutations: one md5 per word, then 16
    * xor-mixes — 16× cheaper than 16 salted md5s and identically
    * mirrorable in SQL. Golden-ratio odd multiples, masked positive
    * (single source of truth: the native expression's seed table).
    */
  val minhashSeeds: Seq[Long] = graft.functions.MinHashExpr.seeds.toSeq

  /** 16-permutation MinHash signature via the native row-local
    * expression (graft.functions.MinHashExpr): md5 per distinct token,
    * 16 xor-mixed minima, ZERO shuffle — a narrow map the LSH banding
    * consumes directly. The exploded groupBy formulation (which
    * shuffles the entire tokenized corpus at 100 TB) survives as
    * `minhashSigExploded`, the executable spec the native kernel is
    * verified against. The fixture is one parquet row group ⇒ one scan
    * partition, so the hash-heavy map is explicitly rebalanced across
    * cores first (at real scale the file count does this for free).
    */
  def minhashSig(s: SparkSession, d: String): DataFrame =
    sigOf(documents(s, d).repartition(s.sparkContext.defaultParallelism))

  /** The signature transform on an ARBITRARY (doc_id, text) frame —
    * batch or streaming (pure narrow column expressions, so the same
    * subtree plans under a micro-batch). Contract on degenerate input:
    * a document with NO tokens (null text, or an empty/all-null token
    * set) emits no signature row — the explode+groupBy twin and the
    * SQL oracle both drop such documents, and the native expression
    * alone would instead emit a null (null array) or Long.MaxValue
    * (empty array) signature.
    */
  private[graft] def sigOf(docs: DataFrame): DataFrame = {
    val sig = docs
      .select(col("doc_id"),
        filter(array_distinct(tokens(col("text"))), _.isNotNull).as("tk"))
      .filter(size(col("tk")) > 0)
      .select(col("doc_id"),
        graft.functions.MinHashExpr.minhash(col("tk")).as("sig"))
    sig.select(col("doc_id") +: (0 until 16).map(i =>
      element_at(col("sig"), i + 1).as(s"m$i")): _*)
  }

  /** The explode+groupBy twin of `minhashSig` — identical output by
    * construction; kept as the property-test oracle for the native
    * kernel (MinHashExprSpec asserts bit-equality).
    */
  def minhashSigExploded(s: SparkSession, d: String): DataFrame = {
    val words = documents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      // same degenerate-input normalization as minhashSig: null tokens
      // dropped, tokenless documents emit no row (explode of an empty
      // array already does the latter)
      .select(col("doc_id"), explode(
        filter(array_distinct(tokens(col("text"))), _.isNotNull)).as("w"))
      .withColumn("h", conv(substring(md5(col("w")), 1, 15), 16, 10)
        .cast("long"))
    val mins = minhashSeeds.zipWithIndex.map { case (seed, i) =>
      min(col("h").bitwiseXOR(lit(seed))).as(s"m$i")
    }
    words.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** Degenerate-bucket cap: a band bucket with more than this many docs
    * contributes quadratic pairs while carrying no dedup signal (its
    * members are near-identical to *everything* in it) — production LSH
    * drops or re-shards such buckets. Hard requirement at 100 TB where
    * one hot bucket would emit 10^12 pairs.
    */
  val maxBucket = 64

  /** Bucket-local pair generation over a collected id array: ids sorted
    * ⇒ doc_a < doc_b by construction. Shared by the MinHash-LSH and
    * SimHash banding paths.
    */
  private def pairsInBucket =
    flatten(transform(col("ids"), (x, i) =>
      transform(slice(col("ids"), i + lit(2),
        greatest(size(col("ids")) - i - 1, lit(0))),
        y => struct(x.as("doc_a"), y.as("doc_b")))))

  /** Banded candidate pairs from an exploded (doc_id, band, h) frame:
    * collect bucket members, drop degenerate buckets, emit bucket-local
    * pairs — never all-pairs.
    *
    * The member collection is the SIZE-CAPPED aggregator (round-14
    * scale audit), not collect_list: the over-cap filter used to run
    * AFTER an unbounded collect, so the degenerate bucket it exists to
    * drop — every near-empty or boilerplate doc sharing one band hash,
    * the most common adversarial shape in a raw crawl — first
    * materialized ALL its members in one aggregation row (10^10 docs
    * in one bucket = an 80 GB buffer → executor OOM before the filter
    * ever saw it). CappedSortedIds keeps the smallest cap+1 ids per
    * partial buffer (map-side combined, O(cap) per task): a kept
    * bucket (≤ cap members) is collected in full, an over-cap bucket
    * saturates at cap+1 and the same size filter drops it —
    * value-identical output, bounded state at any corpus size.
    */
  private def bandedPairs(bands: DataFrame): DataFrame = {
    val cappedIds = udaf(new graft.functions.CappedSortedIds(maxBucket))
    bands.groupBy("band", "h")
      .agg(cappedIds(col("doc_id")).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
      .select(explode(pairsInBucket).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .distinct()
  }

  /** LSH banding over the MinHash signature (4 bands × 4 rows): docs
    * sharing any band hash become candidate near-dup pairs. Pure
    * hash-bucket join — never all-pairs — with degenerate buckets
    * dropped.
    */
  /** One band hash per 4 signature mins, as a single array column so
    * the signature subtree is computed once (a union-of-selects or
    * self-join here recomputes it per branch: observed 8× the work).
    * Shared with the streaming incremental variant.
    */
  private[graft] def bandArr: Column = array((0 until 4).map { b =>
    md5(concat_ws(",",
      (0 until 4).map(r => col(s"m${b * 4 + r}").cast("string")): _*))
  }: _*)

  def lshPairs(s: SparkSession, d: String): DataFrame =
    bandedPairs(minhashSig(s, d)
      .select(col("doc_id"), posexplode(bandArr).as(Seq("band", "h"))))

  /** MinHash Jaccard ESTIMATION for the LSH candidate pairs: the
    * fraction of agreeing signature components estimates J(A,B) —
    * the verification step production dedup actually runs at scale,
    * because it reads 16 longs per side instead of re-shingling both
    * documents (the exact-Jaccard verify rereads the corpus). Two
    * broadcast-sized joins against the signature table; the estimate
    * is an exact integer ratio (matches/16 in micro-units).
    */
  def minhashEstimate(s: SparkSession, d: String): DataFrame = {
    val sig = minhashSig(s, d)
    val sigA = sig.toDF(sig.columns.map(c =>
      if (c == "doc_id") "doc_a" else s"a_$c"): _*)
    val sigB = sig.toDF(sig.columns.map(c =>
      if (c == "doc_id") "doc_b" else s"b_$c"): _*)
    val matches = (0 until 16).map(i =>
      when(col(s"a_m$i") === col(s"b_m$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    lshPairs(s, d)
      .join(sigA, "doc_a")
      .join(sigB, "doc_b")
      .select(col("doc_a"), col("doc_b"), matches.as("n_match"))
      .withColumn("jaccard_est_micro", expr("(1000000 * n_match) DIV 16"))
  }

  /** SimHash near-dup pairs: block on the two 8-bit halves of the
    * 16-bit signature, then verify candidates row-local with an exact
    * popcount. Recall is guaranteed only for Hamming distance ≤ 1 (one
    * half is then untouched); distance-2/3 pairs surface only when all
    * differing bits land in the same half — the standard recall/cost
    * trade of half-signature blocking. Same bucket-cap discipline as
    * LSH; the Hamming check never runs outside a shared bucket, so
    * cost stays O(candidates), not O(docs²).
    */
  def simhashPairs(s: SparkSession, d: String): DataFrame = {
    val sig = simhash(s, d)
    val bands = sig.select(col("doc_id"), posexplode(array(
        col("simhash").bitwiseAND(255),
        shiftright(col("simhash"), 8))).as(Seq("band", "h")))
    val cand = bandedPairs(bands)
    cand
      .join(sig.select(col("doc_id").as("doc_a"), col("simhash").as("sim_a")),
        "doc_a")
      .join(sig.select(col("doc_id").as("doc_b"), col("simhash").as("sim_b")),
        "doc_b")
      .withColumn("hamming",
        call_function("bit_count", col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= 3)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("long")
        .as("hamming"))
  }

  /** Consensus near-dup pairs: the MinHash-LSH and SimHash candidate
    * sets fused by full outer join, each pair carrying which signals
    * fired. Production dedup ensembles signals exactly like this —
    * LSH catches token-set overlap, SimHash catches distribution-level
    * similarity, and pairs BOTH methods agree on are the
    * high-precision tier a cautious pipeline deletes first. Both
    * inputs are already bucket-capped, so the fusion join is bounded
    * by the candidate volumes, never the corpus.
    */
  def consensusPairs(s: SparkSession, d: String): DataFrame = {
    val lsh = lshPairs(s, d).withColumn("lsh", lit(1L))
    val sim = simhashPairs(s, d)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("simhash"))
    lsh.join(sim, Seq("doc_a", "doc_b"), "full_outer")
      .select(col("doc_a"), col("doc_b"),
        (coalesce(col("lsh"), lit(0L))
          + coalesce(col("simhash"), lit(0L))).as("n_signals"))
  }

  /** 16-bit SimHash: per-bit majority vote over word hashes; near-dups
    * differ in few bits. Computed by the native Catalyst expression
    * (graft.functions.SimHashExpr) — row-local, codegen'd, zero
    * shuffle; `simhashExploded` keeps the explode+groupBy formulation
    * for cross-checking.
    */
  def simhash(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        graft.functions.SimHashExpr.simhash(array_distinct(tokens(col("text"))))
          .as("simhash"))

  /** Reference formulation of the same hash (one explode + one shuffle)
    * — used by the spec to prove the native expression equivalent.
    */
  def simhashExploded(s: SparkSession, d: String): DataFrame = {
    val words = documents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), explode(array_distinct(tokens(col("text"))))
        .as("w"))
      .withColumn("h", conv(substring(md5(col("w")), 1, 4), 16, 10)
        .cast("long"))
    val bits = (0 until 16).map { b =>
      (sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1)
        .otherwise(-1)) >= 0).cast("long").as(s"b$b")
    }
    words.groupBy("doc_id")
      .agg(bits.head, bits.tail: _*)
      .select(col("doc_id"),
        (0 until 16).map(b => col(s"b$b") * (1L << b)).reduce(_ + _)
          .as("simhash"))
  }

  /** Transitive near-dup groups: connected components over the LSH
    * candidate-pair graph — the standard "keep one per duplicate
    * cluster" step of corpus dedup. Each round does one min-label hop
    * over the edges (groupBy min of neighbor labels) followed by one
    * pointer jump (label := label of label), so convergence is
    * O(log diameter) rounds instead of O(diameter) — at 100 TB that is
    * the difference between ~5 and ~50 shuffle rounds on a long dup
    * chain. Convergence is detected from a carried old-label column
    * (no extra join); lineage truncated per round.
    */
  def dupGroups(s: SparkSession, d: String): DataFrame =
    groupsOf(lshPairs(s, d))

  /** Transitive dup groups over an EXISTING candidate-pair frame — the
    * stage entry a real pipeline composes so the expensive pair
    * generation and the CC label loop run ONCE for the whole
    * groups→canonical→report chain (each top-level query function
    * recomputes its inputs by design; this is the sharing point).
    */
  def groupsOf(pairs: DataFrame): DataFrame =
    connectedComponents(pairs)
      .select(col("id").as("doc_id"), col("label").as("dup_group"))

  /** Canonical-document selection — the "keep one per cluster" step
    * that turns dup GROUPS into a dedup DECISION: within each
    * transitive near-dup group the longest document survives
    * (`n_chars` desc, `doc_id` asc tie-break — the standard
    * best-version heuristic: near-dups are usually truncations of one
    * another). One extra shuffle over `dupGroups` (a per-group argmax
    * via max-of-struct, so the reduction is map-side partial — no
    * window funnel over group keys).
    */
  def canonical(s: SparkSession, d: String): DataFrame =
    canonicalOf(dupGroups(s, d),
      documents(s, d).select(col("doc_id"), col("n_chars")))

  /** Canonical selection over existing `groups(doc_id, dup_group)` and
    * `docs(doc_id, n_chars)` frames — see `groupsOf` for why the stages
    * are exposed. argmax(n_chars desc, doc_id asc) as max-of-struct
    * OVER A WINDOW, not groupBy+join-back: a join-back references the
    * joined subtree twice and the physical plan runs the groups×docs
    * join (and the docs scan) once per reference. The window reads it
    * exactly once — one dup_group-keyed exchange, then the
    * per-partition max rides each row. Negate the id so lexicographic
    * struct max encodes the full tie-break.
    */
  def canonicalOf(groups: DataFrame, docs: DataFrame): DataFrame = {
    val g = groups.join(docs, "doc_id")
    val wg = org.apache.spark.sql.expressions.Window.partitionBy("dup_group")
    g.withColumn("b",
        max(struct(col("n_chars").as("nc"), (-col("doc_id")).as("nid")))
          .over(wg))
      .select(col("doc_id"), col("dup_group"),
        (-col("b.nid")).as("canonical_id"),
        (col("doc_id") === -col("b.nid")).as("is_canonical"))
  }

  /** Dedup impact report — the per-(source, lang) summary a pipeline
    * owner reads before committing a dedup pass: how many documents
    * survive canonical selection, and how many characters the near-dup
    * clusters give back. Composes `canonical` over the WHOLE corpus —
    * a document outside every candidate pair is its own canonical
    * (left join + coalesce(true)). The only work beyond `canonical`
    * itself is one keyed join and a map-side-combinable aggregate to a
    * (source × lang)-sized result.
    */
  def dedupReport(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
    val keep = canonical(s, d).select(col("doc_id"), col("is_canonical"))
    docs.join(keep, Seq("doc_id"), "left_outer")
      .withColumn("k", coalesce(col("is_canonical"), lit(true)))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("k"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(!col("k"), col("n_chars")).otherwise(0L))
          .as("chars_dropped"))
  }

  /** Composed end-to-end dedup pipeline — signatures → LSH pairs → CC
    * groups → canonical selection → the per-document KEEP LIST for the
    * WHOLE corpus: every document's group, its surviving canonical, and
    * the keep/drop decision (singletons keep themselves — left join +
    * coalesce, same convention as the report). This is the artifact a
    * training-data pipeline actually materializes, and the composition
    * point that proves the chain runs ONCE: `groupsOf`/`canonicalOf`
    * share one pair generation and one label loop, and the only cost
    * beyond `canonical` is a single doc_id-keyed left join.
    */
  def keepList(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
    val can = canonicalOf(groupsOf(lshPairs(s, d)),
      docs.select(col("doc_id"), col("n_chars")))
    docs.join(can.drop("n_chars"), Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("source"), col("lang"),
        coalesce(col("dup_group"), col("doc_id")).as("dup_group"),
        coalesce(col("canonical_id"), col("doc_id")).as("canonical_id"),
        coalesce(col("is_canonical"), lit(true)).as("keep"))
  }

  /** Sub-document exact dedup — the paragraph-level pass of a corpus
    * pipeline (the SlimPajama/RefinedWeb recipe): split each document
    * into non-overlapping 16-token chunks, keep only the globally FIRST
    * occurrence of each distinct chunk (ordered by doc_id, then chunk
    * position), and reassemble the survivors into a cleaned document.
    * Catches boilerplate shared ACROSS documents that whole-document
    * hashing (`exact`) misses, without the approximation of MinHash.
    *
    * Scale shape: chunking is row-local (one split, one transform over
    * an index sequence — never a per-chunk re-tokenize); the
    * first-occurrence election is ONE window shuffle keyed on the
    * chunk's md5 (constant-width shuffle key regardless of chunk
    * length); reassembly is ONE groupBy(doc_id). No join-back of the
    * election result — the keep flag rides the window row — and no
    * driver state. A window partition holds only the copies of one
    * distinct chunk, so state per key is the duplicate multiplicity,
    * not the corpus.
    */
  def paragraphDedup(s: SparkSession, d: String): DataFrame = {
    val P = 16
    val base = documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(col("t").isNotNull)
    val chunks = base.select(col("doc_id"),
      posexplode(expr(
        s"transform(sequence(0, (size(t) - 1) DIV $P), " +
          s"i -> concat_ws(' ', slice(t, i * $P + 1, $P)))")))
      .toDF("doc_id", "chunk_idx", "chunk")
    val firstOcc = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("chunk")))
      .orderBy(col("doc_id"), col("chunk_idx"))
    chunks
      .withColumn("keep", row_number().over(firstOcc) === 1)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("keep"),
              struct(col("chunk_idx"), col("chunk"))))),
            x => x("chunk")),
          " ").as("text_clean"))
  }

  /** Edge-count budget under which the labeling solves on the driver
    * with union-find instead of the distributed hop+jump loop. The
    * 4M-edge default is a broadcast-join-build-side DATA size (two
    * longs/edge ≈ 64 MB raw) — but the driver-side PRICE is JVM object
    * form, not raw bytes: ~4M Row objects from collect(), boxed
    * (Long, Long) tuples, and the union-find HashMaps put the transient
    * peak at several hundred MB, so size driver memory for ~100×
    * the raw figure (≥2 GiB headroom at the default budget) or lower
    * `graft.cc.localEdges`. The principle stands: if the edge list is
    * small enough to BROADCAST it is small enough to SOLVE, and the driver solve
    * replaces ~5 rounds × 3 shuffles of pure job-launch constants with
    * microseconds of pointer chasing. Candidate-pair lists here are
    * bucket-capped (LSH) or relative-thresholded (co-occurrence), so at
    * 100 TB they grow with the DUPLICATE/AFFINITY structure, not the
    * corpus — but nothing guarantees a bound, hence the gate: over
    * budget, the O(log diameter) distributed loop runs unchanged.
    * Overridable via `graft.cc.localEdges` (specs pin both paths).
    */
  private def localEdgeBudget(s: SparkSession): Long =
    s.conf.getOption("graft.cc.localEdges")
      .flatMap(_.toLongOption).getOrElse(4000000L)

  /** Driver-side union-find over a collected edge array — label every
    * vertex with its component's minimum id. Path-halving keeps finds
    * amortized near-constant; the final pass pins each root's label to
    * the component min so the output is partition- and order-invariant.
    */
  private[ops] def unionFindLabels(edges: Array[(Long, Long)])
      : Array[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long](edges.length * 2)
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) {
        val gp = parent.getOrDefault(p, p)
        parent.put(x, gp) // path halving
        x = gp
        p = parent.getOrDefault(x, x)
      }
      x
    }
    edges.foreach { case (a, b) =>
      parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
      val (ra, rb) = (find(a), find(b))
      // union by MIN root: the root IS the running component minimum,
      // so no separate min-relabel pass is needed
      if (ra < rb) parent.put(rb, ra)
      else if (rb < ra) parent.put(ra, rb)
    }
    val out = new Array[(Long, Long)](parent.size())
    var i = 0
    val it = parent.keySet().iterator()
    while (it.hasNext) { val v = it.next(); out(i) = (v, find(v)); i += 1 }
    out
  }

  /** Connected components over an undirected pair list `(doc_a, doc_b)`
    * — returns `(id, label)` with label = the component's minimum id.
    */
  def connectedComponents(pairs0: DataFrame): DataFrame = {
    // ONE eager materialization up front (the candidate-pair plan is the
    // expensive input; everything below re-reads its cached blocks), then
    // exactly ONE Spark action per round: the convergence aggregate is
    // the materializing action for that round's lazily-checkpointed hop
    // and jump frames. r2 ran eager checkpoints plus a separate
    // limit(1).count() per round — ~4 job launches/round, and the
    // per-job constant dominated the 6,778-edge fixture (36 s).
    val pairs = pairs0.localCheckpoint(true)
    // the count doubles as the early-exit test AND the loop-width input
    val nPairs = pairs.count()
    // early-exit: no candidate pairs ⇒ no components to label
    if (nPairs == 0L)
      return pairs.select(col("doc_a").as("id"), col("doc_a").as("label"))
    val sess = pairs0.sparkSession
    if (nPairs <= localEdgeBudget(sess)) {
      // in-budget: bounded collect (broadcast-build-side memory class),
      // solve locally, ship labels back as ONE distributed frame
      val edges = pairs.select(col("doc_a"), col("doc_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val labels = unionFindLabels(edges)
      import sess.implicits._
      return sess.sparkContext
        .parallelize(labels.toIndexedSeq,
          math.max(1, math.min(graft.Tables.fanout(sess),
            labels.length / 32768 + 1)))
        .toDF("id", "label")
    }
    val edges = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .unionByName(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
    var labels = edges.select(col("u").as("id")).distinct()
      .withColumn("label", col("id"))
    var converged = false
    var iter = 0
    // Static planning for the label loop (Tables.withStaticWidth): AQE
    // turned one round's single action into ~5 materialization jobs —
    // pure per-round constant (measured 3.5 s of the 4.7 s steady-state
    // at sf0.1, ~2 tasks per job). The label frames are shuffle-bounded
    // by the CAPPED pair graph (degree ≤ bands×maxBucket, frames ≤
    // 2·|pairs| rows of two longs), so the skew/coalesce services AQE
    // provides are not needed; the expensive corpus-side pair
    // generation above runs BEFORE this point and keeps full AQE.
    // Every round's convergence action executes inside the block, and
    // the loop's lazy checkpoints materialize with those actions, so
    // the returned labels are cached under the static confs.
    // perPart 32k (not the 250k default): the loop frames are TWO-long
    // rows, so partitions stay small, and a measured width sweep on the
    // 110k-edge supplier graph put w=4-8 ~0.3-0.5 s/query under w=1 —
    // the single-partition hop aggregation serializes the per-round
    // work without saving job constants (w=32 re-creates the r7
    // full-width dead end, ~2x slower; see SCALING.md).
    // Loop width grows as √(rows), not linearly: each round pays a
    // per-partition job/launch constant while per-task work shrinks
    // with width, so the balance point is the geometric mean — a width
    // sweep at sf1 (2.2M label rows) measured 8.70 s at the old
    // linear-rule width 32, 6.59 s at 17, 5.93 s at 5, 7.05 s at 2;
    // the √ rule lands width 11 there and width 5 at sf0.1 (inside the
    // measured 4–8 optimum band), and still scales up for genuinely
    // large label frames before the fanout cap. The clamp keeps a
    // degenerate fanout from reaching withStaticParts as width 0.
    val ccWidth = math.min(graft.Tables.fanout(sess).toDouble,
      math.sqrt(2.0 * nPairs / 32768.0) + 3.0).toInt.max(1)
    graft.Tables.withStaticParts(pairs0.sparkSession, ccWidth) {
    // 20 hop+jump rounds cover component diameters up to ~2^20; beyond
    // that we fail loudly rather than return split groups
    while (!converged && iter < 20) {
      // hop = min over (own label ∪ neighbor labels) in ONE aggregation:
      // union the self rows (which carry the old label for the
      // convergence test — max() recovers it, as it is the only
      // non-null) with the neighbor-label rows, then a single
      // min-aggregate. The join+groupBy+join-back formulation this
      // replaces shuffled three times per round (edges×labels, groupBy,
      // label join-back); the union adds no exchange, so the hop is two.
      val nbr = edges.join(labels, col("v") === col("id"))
        .select(col("u").as("id"), col("label"),
          lit(null).cast("long").as("old"))
      val self = labels.select(col("id"), col("label"),
        col("label").as("old"))
      // lazy checkpoint: the jump reads the hop result twice, and the
      // next round builds on the jump — both must compute once and have
      // their lineage truncated, but neither needs its own job. The
      // convergence aggregate below materializes (and caches) both.
      val hopped = self.unionByName(nbr)
        .groupBy(col("id"))
        .agg(min(col("label")).as("label"), max(col("old")).as("old_label"))
        .localCheckpoint(false)
      val jumped = hopped.alias("a")
        .join(hopped.select(col("id").as("jid"), col("label").as("jlabel"))
          .alias("j"), col("a.label") === col("jid"), "left_outer")
        .select(col("a.id").as("id"), col("a.old_label").as("old_label"),
          coalesce(col("jlabel"), col("a.label")).as("label"))
        .localCheckpoint(false)
      converged = jumped
        .agg(count(when(col("label") =!= col("old_label"), lit(1))).as("c"))
        .first().getLong(0) == 0L
      labels = jumped.drop("old_label")
      iter += 1
    }
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $iter rounds — " +
          "component diameter exceeds 2^20, which indicates a " +
          "degenerate pair graph")
    labels
  }

  /** Cross-modal duplicate consensus: the full outer join of the two
    * INDEPENDENT candidate generators — banded-MinHash lexical pairs
    * and hyperplane-bucketed embedding-cosine pairs (per-document
    * embeddings share the doc_id key space). A pair flagged by BOTH
    * modalities is a near-certain duplicate (the high-precision kill
    * set); lexical-only is the template/boilerplate shape paraphrase
    * embeddings miss, semantic-only is the paraphrase shape shingles
    * miss — the union is the recall sweep a curation pass reviews.
    *
    * Scale shape: both inputs are bucket-capped candidate lists
    * (corpus-SUBLINEAR — they grow with duplicate structure, not the
    * corpus), and the consensus join is pair-keyed over those lists,
    * so the whole operator lives downstream of the two capped
    * generators; nothing here rescans documents or embeddings.
    */
  def crossModalConsensus(s: SparkSession, d: String): DataFrame = {
    val lex = lshPairs(s, d)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("lex"))
    val sem = Similarity.embedDupPairs(s, d)
      .select(col("va").as("doc_a"), col("vb").as("doc_b"),
        col("sim").as("cos_sim"), lit(1L).as("sem"))
    lex.join(sem, Seq("doc_a", "doc_b"), "full_outer")
      .select(col("doc_a"), col("doc_b"),
        coalesce(col("lex"), lit(0L)).as("lex"),
        coalesce(col("sem"), lit(0L)).as("sem"),
        col("cos_sim"))
  }

  /** Cross-document EXACT-SUBSTRING overlap (the token-window
    * rolling-hash method of exact-substring training-data dedup):
    * every W=8-token window of every document is hashed; documents
    * sharing ≥2 window hashes are overlap pairs, reported with the
    * shared-window count — the evidence an exact-substring deduper
    * trims on (n_shared ≈ overlap length − W + 1 for one contiguous
    * run). Complements the shingle/MinHash family: MinHash estimates
    * WHOLE-document similarity; this finds verbatim SPANS copied
    * between otherwise-different documents (the contamination shape
    * license plates and boilerplate leave in web corpora).
    *
    * Scale shape: the window table is corpus-TOKEN-linear (one row per
    * token position, deduped per doc inside the native WindowHash64Expr
    * kernel — round 12: the interpreted transform-over-sequence form
    * plus a post-explode `.distinct()` was both the CPU sink and an
    * extra token-wide shuffle), ONE shuffle groups windows by hash, and
    * pairs explode row-locally only for hashes shared by 2..64 docs —
    * the same bucket-cap discipline as the LSH bands, so pair fan-out
    * is O(windows · cap), never all-pairs. Hashes above the cap are
    * ubiquitous boilerplate by definition — dropped HERE by design
    * (the boilerplate detector owns that signal); the windowing is
    * row-local behind an explicit pre-explode width. Docs shorter than
    * W are filtered before the explode and would yield an empty hash
    * array inside the kernel anyway (never a fabricated window — the
    * sequence(1, 0) downward-step trap).
    */
  def substringOverlap(s: SparkSession, d: String): DataFrame = {
    val W = 8
    // ONE linear chain instead of the r11 three-consumer join shape
    // (count per hash → semi-join the capped hashes → self-join for
    // pairs): the per-hash doc set is collected bounded (CappedSortedIds
    // keeps the smallest 65 ids per partial buffer, so a boilerplate
    // hash shared by 1M docs ships ≤65 ids per map task — never an
    // unbounded collect_list row), saturated (>64) and singleton
    // hashes are dropped by the size filter exactly as the old
    // BETWEEN 2 AND 64 count filter did, and the pairs explode
    // ROW-LOCALLY through the native sorted-pairs kernel (doc lists
    // are distinct, so the kernel's strict < emits each unordered pair
    // once). Same bucket-cap fan-out bound, but the window table
    // shuffles ONCE (by hash, map-side-combined) instead of three
    // times, and the checkpoint + semi-join + broadcast stages are
    // gone: 8 jobs → 3 per execution, sf0.1 steady state 1.05 →
    // ~0.5 s. Those scheduling constants under box contention were the
    // r11 [1.42, 3.29] spread band.
    val cappedIds = udaf(new graft.functions.CappedSortedIds(64))
    win(s, d, W)
      .groupBy(col("wh")).agg(cappedIds(col("doc_id")).as("ds"))
      .filter(size(col("ds")).between(2, 64))
      .select(explode(graft.functions.PairsExpr.sortedPairs(col("ds")))
        .as("p"))
      .groupBy(col("p.sa").as("doc_a"), col("p.sb").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
  }

  /** The deduped (doc, window-hash) table shared by `substringOverlap`
    * — split out so the operator body reads as the aggregation chain.
    */
  private[ops] def win(s: SparkSession, d: String, W: Int): DataFrame = {
    val toks = documents(s, d).filter(col("text").isNotNull)
      .select(col("doc_id"),
        filter(split(col("text"), " "), t => length(t) > 0).as("tk"))
      .filter(size(col("tk")) >= W)
    toks
      .repartition(fanout(s), col("doc_id"))
      .select(col("doc_id"),
        explode(graft.functions.TokenWindowExpr.windowHashes(col("tk"), W))
          .as("wh"))
  }

  /** Content-defined chunking dedup — the storage-dedup classic
    * (Rabin-style variable boundaries) applied at token granularity:
    * a chunk boundary falls BEFORE token i whenever the hash of the
    * adjacent token pair (tk[i-1], tk[i]) lands in 1/16 of hash space,
    * so boundaries are a pure function of LOCAL content. That is the
    * property fixed windows lack: inserting one token shifts EVERY
    * downstream fixed window (paragraphDedup's 16-token chunks all
    * change), but moves at most the one enclosing content-defined
    * chunk — so re-ingesting a corpus with small edits re-deduplicates
    * everything outside the edit. Output: per-source chunk mass, how
    * much of it is repeated verbatim (duplicate occurrences of a chunk
    * hash within the source), and the mean chunk length — the
    * dedupable-storage estimate an intake pipeline budgets from.
    *
    * Shape at 100 TB: one token-wide exchange keyed on doc_id for the
    * lag/running-sum windows (each partition = one doc's tokens — the
    * paragraph-dedup class, uniform by construction), one
    * map-side-combinable reassembly groupBy, then chunk-hash counts.
    * The boundary hash is md5 over the pair text (engine-portable, so
    * the DuckDB oracle lands identical boundaries); expected chunk
    * length is the 16-token boundary odds, independent of corpus size.
    *
    * DECISION: md5 is kept deliberately over Spark's cheaper native
    * xxhash64 — DuckDB lacks xxhash64, so a 64-bit boundary hash would
    * forfeit the oracle's bit-exact boundary reproduction and demote
    * this operator to a rows-only check. The hash runs once per
    * adjacent token pair inside the already-token-wide scan stage, so
    * at 100 TB the stage stays scan-bandwidth-bound either way; the
    * portability guarantee is worth more than the per-pair digest
    * delta.
    */
  def contentChunks(s: SparkSession, d: String): DataFrame =
    contentChunksOf(documents(s, d))

  /** The per-source aggregation over `chunksOf`, parameterized by the
    * documents frame (spec entry point for synthetic corpora).
    */
  private[ops] def contentChunksOf(docs: DataFrame): DataFrame =
    chunksOf(docs).groupBy(col("source"), col("ch"))
      .agg(count(lit(1)).as("occ"), max(col("n_toks")).as("n_toks"))
      .groupBy(col("source"))
      .agg(sum(col("occ")).as("n_chunks"),
        count(lit(1)).as("n_uniq"),
        sum(col("occ") * col("n_toks")).as("sum_tokens"),
        sum((col("occ") - 1) * col("n_toks")).as("dup_tokens"))

  /** The (doc_id, source, cid, ch, n_toks) chunk table behind
    * `contentChunks` — takes the documents frame directly so the
    * edit-locality property spec can chunk synthetic corpora.
    */
  private[ops] def chunksOf(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val toks = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        posexplode(filter(split(col("text"), " "), t => length(t) > 0)))
      .select(col("doc_id"), col("source"),
        (col("pos") + 1).cast("long").as("pos"), col("col").as("tok"))
    toks
      .withColumn("flag",
        when(col("pos") > 1 &&
          conv(substring(md5(concat_ws(" ",
            lag(col("tok"), 1).over(w), col("tok"))), 1, 4), 16, 10)
            .cast("long") % 16 === 0, 1L).otherwise(0L))
      .withColumn("cid", sum(col("flag")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("source"), col("cid"))
      .agg(md5(concat_ws(" ",
          array_sort(collect_list(struct(col("pos"), col("tok"))))
            .getField("tok"))).as("ch"),
        count(lit(1)).as("n_toks"))
  }

  /** Cross-source duplication matrix: where do the near-dups COME
    * from? Every LSH candidate pair is attributed to its unordered
    * (source, source) cell — the standard corpus-intake diagnostic
    * (a hot off-diagonal cell means one source is mirroring another;
    * a hot diagonal means a source self-duplicates). Two equi-joins
    * keyed on doc_id against the capped candidate pairs — the pair
    * table is already fan-out-bounded, so the matrix costs two
    * shuffles of the pair list, never a cross-source scan.
    */
  def crossSourceMatrix(s: SparkSession, d: String): DataFrame = {
    val src = documents(s, d).select(col("doc_id"), col("source"))
    lshPairs(s, d)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("s_a")),
        "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("s_b")),
        "doc_b")
      .groupBy(least(col("s_a"), col("s_b")).as("src_a"),
        greatest(col("s_a"), col("s_b")).as("src_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_substring" -> (substringOverlap _),
    "q_dedup_content_chunks" -> (contentChunks _),
    "q_dedup_matrix" -> (crossSourceMatrix _),
    "q_dedup_crossmodal" -> (crossModalConsensus _),
    "q_dedup_exact" -> (exact _),
    "q_dedup_ngram_jaccard" -> (ngramJaccard _),
    "q_dedup_containment" -> (containment _),
    "q_dedup_minhash_sig" -> (minhashSig _),
    "q_dedup_lsh_pairs" -> (lshPairs _),
    "q_dedup_minhash_est" -> (minhashEstimate _),
    "q_dedup_consensus" -> (consensusPairs _),
    "q_dedup_simhash" -> (simhash _),
    "q_dedup_simhash_pairs" -> (simhashPairs _),
    "q_dedup_groups" -> (dupGroups _),
    "q_dedup_canonical" -> (canonical _),
    "q_dedup_paragraph" -> (paragraphDedup _),
    "q_dedup_report" -> (dedupReport _),
    "q_dedup_pipeline" -> (keepList _),
  )

  /** DuckDB mirror of the exploded simhash formulation (shared by the
    * signature oracle and the pairs oracle).
    */
  private val simSql: String = {
    val bitCols = (0 until 16).map(b =>
      s"CASE WHEN SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) >= 0 THEN 1 ELSE 0 END AS b$b")
      .mkString(", ")
    val sumExpr = (0 until 16).map(b => s"b$b * ${1L << b}").mkString(" + ")
    s"""WITH wh AS (
       |  SELECT doc_id, ('0x' || substr(md5(w), 1, 4))::BIGINT AS h
       |  FROM (SELECT doc_id, unnest(list_distinct(str_split(text, ' '))) AS w
       |        FROM documents) t),
       |bits AS (SELECT doc_id, $bitCols FROM wh GROUP BY doc_id)
       |SELECT doc_id, $sumExpr AS simhash FROM bits""".stripMargin
  }

  private lazy val lshPairsSql: String = {
    val bands = (0 until 4).map { b =>
      val cat = (0 until 4).map(r => s"m${b * 4 + r}::VARCHAR")
        .mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, md5($cat) AS h FROM sig"
    }.mkString(" UNION ALL ")
    s"""WITH sig AS ($sigSql), bands0 AS ($bands),
       |small AS (SELECT band, h FROM bands0 GROUP BY band, h
       |          HAVING count(*) <= $maxBucket),
       |bands AS (SELECT bands0.* FROM bands0 JOIN small USING (band, h))
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |FROM bands a JOIN bands b ON a.band = b.band AND a.h = b.h
       |  AND a.doc_id < b.doc_id""".stripMargin
  }

  private[graft] val sigSql: String = {
    val mins = minhashSeeds.zipWithIndex
      .map { case (seed, i) => s"min(xor(h, ${seed})) AS m$i" }.mkString(", ")
    s"""SELECT doc_id, $mins
       |FROM (SELECT doc_id,
       |        ('0x' || substr(md5(w), 1, 15))::BIGINT AS h
       |      FROM (SELECT doc_id, unnest(list_distinct(str_split(text, ' '))) AS w
       |            FROM documents) u) t
       |GROUP BY doc_id""".stripMargin
  }

  /** Shared recursive-CTE prefix: LSH banding → candidate pairs →
    * connected components (`groups(doc_id, dup_group)`), mirroring
    * `dupGroups` — used by the groups oracle and the canonical oracle.
    */
  private[ops] val groupsCte: String = {
    val bands = (0 until 4).map { b =>
      val cat = (0 until 4).map(r => s"m${b * 4 + r}::VARCHAR")
        .mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, md5($cat) AS h FROM sig"
    }.mkString(" UNION ALL ")
    s"""WITH RECURSIVE sig AS ($sigSql), bands0 AS ($bands),
       |small AS (SELECT band, h FROM bands0 GROUP BY band, h
       |          HAVING count(*) <= $maxBucket),
       |bands AS (SELECT bands0.* FROM bands0 JOIN small USING (band, h)),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.h = b.h
       |    AND a.doc_id < b.doc_id),
       |e AS (SELECT doc_a AS u, doc_b AS v FROM pairs
       |      UNION ALL SELECT doc_b, doc_a FROM pairs),
       |r AS (
       |  SELECT u AS id, u AS l FROM (SELECT DISTINCT u FROM e) t
       |  UNION
       |  SELECT e.u AS id, r.l FROM e JOIN r ON r.id = e.v),
       |groups AS (SELECT id AS doc_id, min(l) AS dup_group
       |           FROM r GROUP BY id)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // boundary hash is md5 over the adjacent-pair TEXT, so both
    // engines land identical chunk boundaries (unlike the FNV window
    // kernels, whose oracles compare resulting pairs, never hashes)
    "q_dedup_content_chunks" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    list_filter(str_split(text, ' '), x -> len(x) > 0) AS tk
        |  FROM documents WHERE text IS NOT NULL),
        |p AS (
        |  SELECT doc_id, source,
        |    unnest(range(1, len(tk) + 1))::BIGINT AS pos,
        |    unnest(tk) AS tok
        |  FROM t),
        |f AS (
        |  SELECT doc_id, source, pos, tok,
        |    CASE WHEN pos > 1 AND
        |      ('0x' || substr(md5(
        |         lag(tok) OVER (PARTITION BY doc_id ORDER BY pos)
        |           || ' ' || tok), 1, 4))::BIGINT % 16 = 0
        |      THEN 1 ELSE 0 END AS flag
        |  FROM p),
        |c AS (
        |  SELECT doc_id, source, pos, tok,
        |    sum(flag) OVER (PARTITION BY doc_id ORDER BY pos) AS cid
        |  FROM f),
        |ch AS (
        |  SELECT doc_id, source, cid,
        |    md5(string_agg(tok, ' ' ORDER BY pos)) AS ch,
        |    count(*)::BIGINT AS n_toks
        |  FROM c GROUP BY doc_id, source, cid),
        |occ AS (
        |  SELECT source, ch, count(*)::BIGINT AS occ,
        |    max(n_toks) AS n_toks
        |  FROM ch GROUP BY source, ch)
        |SELECT source, sum(occ)::BIGINT AS n_chunks,
        |  count(*)::BIGINT AS n_uniq,
        |  sum(occ * n_toks)::BIGINT AS sum_tokens,
        |  sum((occ - 1) * n_toks)::BIGINT AS dup_tokens
        |FROM occ GROUP BY source""".stripMargin,
    "q_dedup_substring" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), t -> len(t) > 0) AS tk
        |  FROM documents WHERE text IS NOT NULL),
        |win AS (
        |  SELECT DISTINCT doc_id, wh FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(range(1, greatest(len(tk) - 7, 0) + 1),
        |        i -> md5(array_to_string(tk[i : i + 7], ' ')))) AS wh
        |    FROM toks) u),
        |capped AS (
        |  SELECT wh FROM win GROUP BY wh HAVING count(*) BETWEEN 2 AND 64)
        |SELECT doc_a, doc_b, n_shared FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        |  FROM win a JOIN capped USING (wh) JOIN win b USING (wh)
        |  WHERE a.doc_id < b.doc_id
        |  GROUP BY 1, 2) p
        |WHERE n_shared >= 2""".stripMargin,
    "q_dedup_exact" ->
      "SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n FROM documents GROUP BY 1",
    "q_dedup_ngram_jaccard" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(len(t) - 2),
        |      i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS sh
        |  FROM (SELECT doc_id, str_split(text, ' ') AS t FROM documents) x
        |  WHERE len(t) >= 3)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  round(len(list_intersect(a.sh, b.sh))::DOUBLE /
        |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
        |    AS jaccard
        |FROM s a JOIN s b ON b.doc_id = a.doc_id + 1""".stripMargin,
    "q_dedup_minhash_sig" -> sigSql,
    "q_dedup_containment" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(len(t) - 2),
        |      i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS sh
        |  FROM (SELECT doc_id, str_split(text, ' ') AS t FROM documents) x
        |  WHERE len(t) >= 3)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  round(len(list_intersect(a.sh, b.sh))::DOUBLE / len(a.sh), 6)
        |    AS containment_a,
        |  round(len(list_intersect(a.sh, b.sh))::DOUBLE / len(b.sh), 6)
        |    AS containment_b
        |FROM s a JOIN s b ON b.doc_id = a.doc_id + 1""".stripMargin,
    "q_dedup_lsh_pairs" -> lshPairsSql,
    // the pair CTE composes as a parenthesized subquery (DuckDB allows
    // WITH inside parens) — shared text, not duplicated SQL
    "q_dedup_matrix" ->
      s"""SELECT least(da.source, db.source) AS src_a,
         |  greatest(da.source, db.source) AS src_b,
         |  count(*) AS n_pairs
         |FROM ($lshPairsSql) p
         |JOIN documents da ON da.doc_id = p.doc_a
         |JOIN documents db ON db.doc_id = p.doc_b
         |GROUP BY 1, 2""".stripMargin,
    // consensus = full outer of the two candidate oracles on the pair
    // key; flags as BIGINT 0/1 (cross-engine-stable, unlike booleans)
    "q_dedup_crossmodal" ->
      s"""SELECT coalesce(l.doc_a, e.va) AS doc_a,
         |  coalesce(l.doc_b, e.vb) AS doc_b,
         |  (CASE WHEN l.doc_a IS NULL THEN 0 ELSE 1 END)::BIGINT AS lex,
         |  (CASE WHEN e.va IS NULL THEN 0 ELSE 1 END)::BIGINT AS sem,
         |  e.sim AS cos_sim
         |FROM ($lshPairsSql) l
         |FULL JOIN (${Similarity.oracles("q_dedup_embed")}) e
         |  ON l.doc_a = e.va AND l.doc_b = e.vb""".stripMargin,
    "q_dedup_groups" ->
      s"""$groupsCte
         |SELECT doc_id, dup_group FROM groups""".stripMargin,
    "q_dedup_minhash_est" -> {
      val bands = (0 until 4).map { b =>
        val cat = (0 until 4).map(r => s"m${b * 4 + r}::VARCHAR")
          .mkString(" || ',' || ")
        s"SELECT doc_id, $b AS band, md5($cat) AS h FROM sig"
      }.mkString(" UNION ALL ")
      val matchSum = (0 until 16).map(i =>
        s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH sig AS ($sigSql), bands0 AS ($bands),
         |small AS (SELECT band, h FROM bands0 GROUP BY band, h
         |          HAVING count(*) <= $maxBucket),
         |bands AS (SELECT bands0.* FROM bands0 JOIN small USING (band, h)),
         |pairs AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM bands x JOIN bands y ON x.band = y.band AND x.h = y.h
         |    AND x.doc_id < y.doc_id),
         |m AS (
         |  SELECT p.doc_a, p.doc_b, ($matchSum)::BIGINT AS n_match
         |  FROM pairs p
         |  JOIN sig a ON a.doc_id = p.doc_a
         |  JOIN sig b ON b.doc_id = p.doc_b)
         |SELECT doc_a, doc_b, n_match,
         |  (1000000 * n_match) // 16 AS jaccard_est_micro FROM m""".stripMargin
    },
    "q_dedup_canonical" ->
      s"""$groupsCte,
         |gd AS (SELECT g.doc_id, g.dup_group, d.n_chars
         |       FROM groups g JOIN documents d ON d.doc_id = g.doc_id),
         |win AS (
         |  SELECT dup_group, doc_id AS canonical_id FROM (
         |    SELECT dup_group, doc_id, row_number() OVER (
         |      PARTITION BY dup_group
         |      ORDER BY n_chars DESC, doc_id) AS rn
         |    FROM gd) t WHERE rn = 1)
         |SELECT gd.doc_id, gd.dup_group, win.canonical_id,
         |  gd.doc_id = win.canonical_id AS is_canonical
         |FROM gd JOIN win USING (dup_group)""".stripMargin,
    "q_dedup_simhash" -> simSql,
    "q_dedup_consensus" -> {
      val lshBands = (0 until 4).map { b =>
        val cat = (0 until 4).map(r => s"m${b * 4 + r}::VARCHAR")
          .mkString(" || ',' || ")
        s"SELECT doc_id, $b AS band, md5($cat) AS h FROM sig"
      }.mkString(" UNION ALL ")
      s"""WITH sig AS ($sigSql), lb0 AS ($lshBands),
         |lsmall AS (SELECT band, h FROM lb0 GROUP BY band, h
         |           HAVING count(*) <= $maxBucket),
         |lb AS (SELECT lb0.* FROM lb0 JOIN lsmall USING (band, h)),
         |lsh AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM lb a JOIN lb b ON a.band = b.band AND a.h = b.h
         |    AND a.doc_id < b.doc_id),
         |sim AS ($simSql),
         |sb0 AS (
         |  SELECT doc_id, 0 AS band, simhash & 255 AS h FROM sim
         |  UNION ALL SELECT doc_id, 1 AS band, simhash >> 8 AS h FROM sim),
         |ssmall AS (SELECT band, h FROM sb0 GROUP BY band, h
         |           HAVING count(*) <= $maxBucket),
         |sb AS (SELECT sb0.* FROM sb0 JOIN ssmall USING (band, h)),
         |sh AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sb a JOIN sb b ON a.band = b.band AND a.h = b.h
         |    AND a.doc_id < b.doc_id),
         |shv AS (
         |  SELECT sh.doc_a, sh.doc_b FROM sh
         |  JOIN sim x ON x.doc_id = sh.doc_a
         |  JOIN sim y ON y.doc_id = sh.doc_b
         |  WHERE bit_count(xor(x.simhash, y.simhash)) <= 3)
         |SELECT COALESCE(l.doc_a, s.doc_a) AS doc_a,
         |  COALESCE(l.doc_b, s.doc_b) AS doc_b,
         |  (CASE WHEN l.doc_a IS NOT NULL THEN 1 ELSE 0 END
         |   + CASE WHEN s.doc_a IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         |    AS n_signals
         |FROM lsh l FULL OUTER JOIN shv s
         |  ON l.doc_a = s.doc_a AND l.doc_b = s.doc_b""".stripMargin
    },
    "q_dedup_simhash_pairs" ->
      s"""WITH sim AS ($simSql),
         |bands0 AS (
         |  SELECT doc_id, 0 AS band, simhash & 255 AS h FROM sim
         |  UNION ALL SELECT doc_id, 1 AS band, simhash >> 8 AS h FROM sim),
         |small AS (SELECT band, h FROM bands0 GROUP BY band, h
         |          HAVING count(*) <= $maxBucket),
         |bands AS (SELECT bands0.* FROM bands0 JOIN small USING (band, h)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.h = b.h
         |    AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b,
         |  bit_count(xor(x.simhash, y.simhash))::BIGINT AS hamming
         |FROM cand
         |JOIN sim x ON x.doc_id = cand.doc_a
         |JOIN sim y ON y.doc_id = cand.doc_b
         |WHERE bit_count(xor(x.simhash, y.simhash)) <= 3""".stripMargin,
    "q_dedup_report" ->
      s"""$groupsCte,
         |win AS (
         |  SELECT dup_group, doc_id AS canonical_id FROM (
         |    SELECT g.dup_group, g.doc_id, row_number() OVER (
         |      PARTITION BY g.dup_group
         |      ORDER BY d.n_chars DESC, g.doc_id) AS rn
         |    FROM groups g JOIN documents d ON d.doc_id = g.doc_id) t
         |  WHERE rn = 1),
         |can AS (
         |  SELECT g.doc_id, g.doc_id = w.canonical_id AS is_canonical
         |  FROM groups g JOIN win w USING (dup_group))
         |SELECT d.source, d.lang,
         |  count(*)::BIGINT AS n_docs,
         |  sum(CASE WHEN coalesce(c.is_canonical, TRUE)
         |      THEN 1 ELSE 0 END)::BIGINT AS n_kept,
         |  sum(CASE WHEN NOT coalesce(c.is_canonical, TRUE)
         |      THEN d.n_chars ELSE 0 END)::BIGINT AS chars_dropped
         |FROM documents d LEFT JOIN can c ON c.doc_id = d.doc_id
         |GROUP BY d.source, d.lang""".stripMargin,
    "q_dedup_pipeline" ->
      s"""$groupsCte,
         |gd AS (SELECT g.doc_id, g.dup_group, d.n_chars
         |       FROM groups g JOIN documents d ON d.doc_id = g.doc_id),
         |win AS (
         |  SELECT dup_group, doc_id AS canonical_id FROM (
         |    SELECT dup_group, doc_id, row_number() OVER (
         |      PARTITION BY dup_group
         |      ORDER BY n_chars DESC, doc_id) AS rn
         |    FROM gd) t WHERE rn = 1),
         |can AS (
         |  SELECT gd.doc_id, gd.dup_group, win.canonical_id,
         |    gd.doc_id = win.canonical_id AS is_canonical
         |  FROM gd JOIN win USING (dup_group))
         |SELECT d.doc_id, d.source, d.lang,
         |  coalesce(c.dup_group, d.doc_id) AS dup_group,
         |  coalesce(c.canonical_id, d.doc_id) AS canonical_id,
         |  coalesce(c.is_canonical, TRUE) AS keep
         |FROM documents d LEFT JOIN can c ON c.doc_id = d.doc_id"""
        .stripMargin,
    "q_dedup_paragraph" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS a FROM documents
        |  WHERE text IS NOT NULL),
        |tok AS (
        |  SELECT doc_id, unnest(a) AS tok, generate_subscripts(a, 1) AS ord
        |  FROM d),
        |ch AS (
        |  SELECT doc_id, CAST((ord - 1) // 16 AS BIGINT) AS chunk_idx,
        |         string_agg(tok, ' ' ORDER BY ord) AS chunk
        |  FROM tok GROUP BY doc_id, (ord - 1) // 16),
        |fl AS (
        |  SELECT doc_id, chunk_idx, chunk,
        |         row_number() OVER (PARTITION BY md5(chunk)
        |                            ORDER BY doc_id, chunk_idx) AS rn
        |  FROM ch)
        |SELECT doc_id,
        |       count(*)::BIGINT AS n_chunks,
        |       sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
        |       coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END, ' '
        |                           ORDER BY chunk_idx), '') AS text_clean
        |FROM fl GROUP BY doc_id""".stripMargin,
  )
}
