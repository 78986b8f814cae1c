package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** DirectorySnapshot — the engine's replacement for the LDAP tree
  * (SURVEY.md §1.1): one row per entry, `dn` unique, attribute bag as
  * `Map[String, Array[String]]`, persisted as Parquet. Mutations are
  * whole-snapshot rewrites, never point writes: the initial load's
  * set-based MERGE (`SyncEngine.merge`), and a CDC cycle's one
  * anti-filter pass plus its driver-computed upserts (`Cdc`).
  *
  * Also holds the golden dump codec: the exact text format of the
  * reference's verification dump (ldaptest.py:287–300 `iter`), which is
  * our equivalence oracle, and its parser (to load reference-provided
  * tree states as fixtures).
  */
object Directory {

  /** Entry row; `attrs` values are always non-empty value lists. */
  case class Entry(dn: String, attrs: Map[String, Seq[String]])

  import org.apache.spark.sql.Encoder
  implicit val entryEnc: Encoder[Entry] =
    org.apache.spark.sql.Encoders.product[Entry]

  // ---- dn algebra (reference etl.py:79–81, 1095, ldaptest.py:142–146) --

  /** The dn's parent and its rdn's value, as the Column forms below
    * compute them: a dn without ',' is its own parent, and one without
    * '=' has the rdn value "".
    */
  def parentDn(dn: String): String = {
    val i = dn.indexOf(',')
    if (i < 0) dn else dn.substring(i + 1)
  }
  def rdnValue(dn: String): String = {
    val i = dn.indexOf('=')
    if (i < 0) "" else {
      val j = dn.indexOf(',', i + 1)
      dn.substring(i + 1, if (j < 0) dn.length else j)
    }
  }

  /** Column forms for set-based use. */
  def parentDnCol(dn: Column): Column = regexp_replace(dn, "^[^,]*,", "")
  def rdnValueCol(dn: Column): Column =
    regexp_extract(dn, "^[^=]*=([^,]*)", 1)

  // ---- attribute lists driving the dump format ------------------------

  /** Attrs the reference's ldap3 client renders as Python lists (standard
    * LDAP schema attrs) — everything else prints as a bare scalar. The
    * source-side multi-value attrs (F4) are arrays too (golden files show
    * `phonlineFunktionen=['…']`).
    */
  val listReprAttrs: Set[String] = Set(
    "o", "ou", "cn", "sn", "givenName", "objectClass",
    "phonlineFunktionen", "phonlineSchulkennzahlen")

  /** Attrs omitted from the dump (ldaptest.py:191–195 iter_ignore). */
  val iterIgnore: Set[String] = Set("patchlevel", "etlTimestamp", "etdTimestamp")

  // ---- DFS ordering ---------------------------------------------------

  /** Sort key reproducing the reference's DFS with case-insensitively
    * sorted children (ldaptest.py:119–140): lexicographic on the
    * lower-cased, root-first RDN path, with a trailing `,` so every
    * component is comma-terminated. That makes the sibling comparison
    * identical to the reference's full-dn compare even for characters
    * below ',' (e.g. `cn=a b` sorts before `cn=a`, exactly as
    * "cn=a b,…" < "cn=a,…"), while parents (strict prefixes) still
    * precede their subtrees and subtrees stay contiguous.
    */
  def dfsKey(dn: Column): Column =
    concat(lower(array_join(reverse(split(dn, ",")), ",")), lit(","))

  // ---- golden dump codec ---------------------------------------------

  private def pyRepr(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** Format one entry exactly like `ldaptest.py iter` prints it. */
  def formatEntry(e: Entry): String = {
    val sb = new StringBuilder(e.dn)
    sb.append(' ')
    e.attrs.keys.toSeq.sorted.foreach { k =>
      if (!iterIgnore.contains(k)) {
        val v = e.attrs(k)
        val s =
          if (k == "userPassword") v.head.split("\\}", 2)(0) + "}"
          // idnDeleted is boolean-syntax in the directory schema; the
          // reference's client renders it as a Python bool (golden:
          // `idnDeleted=True`)
          else if (k == "idnDeleted")
            (if (v.head.equalsIgnoreCase("TRUE")) "True" else "False")
          else if (listReprAttrs.contains(k)) v.map(pyRepr).mkString("[", ", ", "]")
          else v.mkString(";") // custom attrs are single-valued in practice
        sb.append(k).append('=').append(s).append(' ')
      }
    }
    sb.toString
  }

  /** Whole-tree dump in DFS order + trailing count, byte-identical to
    * `ldaptest.py -2 iter` output (our golden oracle).
    */
  def dump(snapshot: Dataset[Entry]): String = {
    implicit val strEnc: Encoder[String] =
      org.apache.spark.sql.Encoders.STRING
    val lines = snapshot
      .withColumn("k", dfsKey(col("dn")))
      .orderBy("k")
      .drop("k")
      .as[Entry]
      .map(formatEntry _)
      .collect()
    lines.mkString("", "\n", "\n") + "\n\nCount: " + lines.length + "\n"
  }

  private val attrBoundary = java.util.regex.Pattern
    .compile(" ([A-Za-z][A-Za-z0-9-]*)=")

  /** Parse one dump line back into an Entry (fixture loader). */
  def parseLine(line: String): Entry = {
    val m = attrBoundary.matcher(line)
    var bounds = List.empty[(Int, Int, String)] // (start, valueStart, name)
    while (m.find()) bounds = (m.start, m.end, m.group(1)) :: bounds
    val bs = bounds.reverse
    val dn = line.substring(0, bs.head._1)
    val attrs = bs.zipWithIndex.map { case ((_, vStart, name), i) =>
      val end = if (i + 1 < bs.size) bs(i + 1)._1 else line.length
      var raw = line.substring(vStart, end)
      if (i + 1 == bs.size && raw.endsWith(" ")) raw = raw.dropRight(1)
      val values: Seq[String] =
        if (raw.startsWith("['") && raw.endsWith("']"))
          raw.substring(2, raw.length - 2).split("', '", -1).toSeq
            .map(_.replace("\\'", "'").replace("\\\\", "\\"))
        else Seq(raw)
      name -> values
    }.toMap
    Entry(dn, attrs)
  }

  /** Load a reference dump file (e.g. testdata/ldapII.txt) as a snapshot;
    * skips blank lines and the `Count:` trailer.
    */
  def parseDump(spark: SparkSession, text: String): Dataset[Entry] = {
    val entries = text.split("\n").toIndexedSeq
      .filter(l => l.nonEmpty && !l.startsWith("Count:"))
      .map(parseLine)
    spark.createDataset(entries)
  }

  def fromParquet(spark: SparkSession, path: String): Dataset[Entry] = {
    import spark.implicits._
    spark.read.parquet(path).as[Entry]
  }

  /** Atomic snapshot publish: write v+1 to a fresh dir, then swap a
    * pointer file — copy-on-write MERGE (SURVEY.md §4 custom piece #1).
    * At cluster scale this would be a transactional table format commit;
    * the pointer-file protocol has the same reader-isolation property.
    *
    * Versions are monotonic: read CURRENT and increment (survives JVM
    * restarts, unlike a clock), with a random suffix so two concurrent
    * writers cannot collide on the data dir — the pointer swap then
    * linearizes the publish. Superseded version dirs are pruned after
    * the swap so disk usage stays bounded at `retain` + 1 snapshots.
    *
    * RETENTION / TIME TRAVEL (round 16): `retain` is how many
    * SUPERSEDED published versions survive a save (default 1 — the
    * prior behavior: the previous snapshot stays readable for any
    * reader that pinned it via CURRENT before the swap). Each publish
    * drops an empty marker under `_published/` AFTER the swap — an
    * atomic create per writer, no read-modify-write, so concurrent
    * publishers cannot lose each other's history — and `versions`/
    * `loadVersion` read the store at any retained commit (audit,
    * replay-from, A/B against yesterday's snapshot: the table-format
    * time-travel capability, bounded by `retain` exactly like a
    * format's VACUUM horizon). A crash between swap and marker leaves
    * CURRENT unmarked; `versions` unions the pointer so the live
    * snapshot is always listed. A crash between parquet write and swap
    * leaves an orphan dir that is never listed (no marker, not
    * CURRENT) and is swept by the next save's prune.
    */
  def save(snapshot: Dataset[Entry], dir: String, retain: Int = 1): Unit = {
    java.nio.file.Files.createDirectories(new java.io.File(dir).toPath)
    val ptr = new java.io.File(s"$dir/CURRENT")
    val prev = if (ptr.exists())
      Some(java.nio.file.Files.readString(ptr.toPath).trim) else None
    val prevN = prev.flatMap(v =>
      "^v(\\d+)".r.findFirstMatchIn(v).map(_.group(1).toLong)).getOrElse(0L)
    val suffix = java.util.UUID.randomUUID().toString.take(8)
    val version = s"v${prevN + 1}-$suffix"
    snapshot.write.mode("overwrite").parquet(s"$dir/$version")
    writeAtomically(ptr.getPath, version.getBytes("UTF-8"))
    val marks = new java.io.File(s"$dir/_published")
    java.nio.file.Files.createDirectories(marks.toPath)
    try java.nio.file.Files.createFile(
      new java.io.File(marks, version).toPath)
    catch { case _: java.nio.file.FileAlreadyExistsException => }
    // prune everything that is neither the new version, nor the
    // `retain` newest superseded published versions, nor the one the
    // pointer named when we started (a reader may still hold it open),
    // nor whatever CURRENT names right now (a concurrent writer may
    // have swapped after us — its published version must survive).
    // Writers are expected to be externally serialized (one ETL process
    // per directory, like the reference); the re-read narrows the
    // misuse window but a true multi-writer deployment needs a CAS
    // commit (a transactional table format).
    val published = java.nio.file.Files.readString(ptr.toPath).trim
    val retained = versions(dir).filterNot(_ == published)
      .take(math.max(0, retain))
    val keep = Set(Some(version), Some(published), prev).flatten ++ retained
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("v") &&
        !keep.contains(f.getName))
      .foreach { f =>
        deleteRecursively(f)
        new java.io.File(marks, f.getName).delete()
      }
  }

  /** Writes `bytes` to `path` through a temp file of its own in the same
    * directory, then renames it over `path`: a reader sees the old content
    * or the new, never part of it, and concurrent writers of one path
    * never share a temp file.
    */
  private[etl] def writeAtomically(path: String, bytes: Array[Byte]): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
    val p = Paths.get(path)
    val tmp = p.resolveSibling(s"${p.getFileName}.${java.util.UUID.randomUUID}.tmp")
    Files.write(tmp, bytes, StandardOpenOption.CREATE_NEW)
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Published versions whose data is still on disk, newest commit
    * first: the `_published` markers intersected with existing dirs,
    * unioned with whatever CURRENT names (covers the crash window
    * between swap and marker, and stores written before markers
    * existed). The head is the live snapshot.
    */
  def versions(dir: String): Seq[String] = {
    def commitN(v: String): Long =
      "^v(\\d+)".r.findFirstMatchIn(v).map(_.group(1).toLong).getOrElse(0L)
    val ptr = new java.io.File(s"$dir/CURRENT")
    val current = if (ptr.exists())
      Some(java.nio.file.Files.readString(ptr.toPath).trim) else None
    val marked = Option(new java.io.File(s"$dir/_published").listFiles())
      .getOrElse(Array.empty).map(_.getName).toSeq
    (marked ++ current).distinct
      .filter(v => new java.io.File(s"$dir/$v").isDirectory)
      .sortBy(-commitN(_))
  }

  /** Time-travel read: the snapshot as of a retained published version
    * (a name from `versions`). Same reader isolation as `load` — the
    * version dir is immutable once published and survives at least
    * until `retain` newer saves have landed.
    */
  def loadVersion(spark: SparkSession, dir: String,
      version: String): Dataset[Entry] = {
    require(versions(dir).contains(version),
      s"$version is not a retained published version of $dir — " +
        s"available: ${versions(dir).mkString(", ")}")
    fromParquet(spark, s"$dir/$version")
  }

  /** Change-data-feed between two retained published versions: one
    * row per entry that was inserted, deleted, or updated going
    * `fromV` → `toV`, with both attribute bags attached. This is what
    * the bounded time travel is FOR operationally — a downstream
    * consumer refreshes from the last version it saw without replaying
    * the CDC event log, and the cost is one full-outer join keyed on
    * `dn` (the store's natural key) over two immutable snapshot
    * versions — never a scan of history. Both sides shuffle on dn:
    * `loadVersion` reads plain versioned parquet, which carries no
    * bucketing metadata (`changesBucketed` below is the zero-exchange
    * path over `saveBucketed` versions when the CDF recurs at scale).
    * Attribute equality compares key-sorted map entries
    * (Spark cannot equality-test MapType directly); value-list order
    * inside an attribute is semantic in the snapshot contract, so it
    * stays positional.
    */
  def changes(spark: SparkSession, dir: String,
      fromV: String, toV: String): DataFrame =
    changesBetween(loadVersion(spark, dir, fromV).toDF(),
      loadVersion(spark, dir, toV).toDF())

  /** Zero-exchange CDF over BUCKETED snapshot versions: both tables
    * were written `saveBucketed` (dn-bucketed + dn-sorted, same bucket
    * count), so the full-outer join consumes bucket i against bucket i
    * directly — no Exchange on either side (the aliasing projections
    * preserve the bucket partitioning; BucketedCdfSpec pins the plan
    * structurally). At 100 TB the CDF's only cost was the dn shuffle of
    * two full snapshot versions; routing the versions through the
    * bucketed store makes the feed a co-located merge, the same
    * write-once/join-forever trade as the SMB join.
    */
  def changesBucketed(spark: SparkSession, fromTable: String,
      toTable: String): DataFrame =
    changesBetween(spark.table(fromTable), spark.table(toTable))

  /** The CDF core: classify between any two (dn, attrs) frames. */
  private[graft] def changesBetween(from: DataFrame, to: DataFrame)
      : DataFrame = {
    val a = from.select(col("dn").as("dn_from"), col("attrs").as("attrs_from"))
    val b = to.select(col("dn").as("dn_to"), col("attrs").as("attrs_to"))
    def canon(c: Column): Column = array_sort(map_entries(c))
    a.join(b, col("dn_from") === col("dn_to"), "full_outer")
      .withColumn("change_type",
        when(col("dn_from").isNull, lit("insert"))
          .when(col("dn_to").isNull, lit("delete"))
          // null-safe inequality: Entry's contract forbids a null
          // attrs bag, but the SCHEMA permits one, and a null-
          // propagating =!= would classify a null-vs-map mismatch as
          // "unchanged" (all when() branches null) and silently drop it
          .when(!(canon(col("attrs_from")) <=> canon(col("attrs_to"))),
            lit("update")))
      .filter(col("change_type").isNotNull)
      .select(coalesce(col("dn_to"), col("dn_from")).as("dn"),
        col("change_type"), col("attrs_from"), col("attrs_to"))
  }

  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
  }

  def load(spark: SparkSession, dir: String): Dataset[Entry] = {
    val v = java.nio.file.Files.readString(
      new java.io.File(s"$dir/CURRENT").toPath).trim
    fromParquet(spark, s"$dir/$v")
  }

  /** Small-file compaction for the snapshot store: re-publish the
    * current version rewritten into ⌈rows / targetRows⌉ dn-hashed
    * files. A polling CDC deployment commits a snapshot version per
    * micro-batch, and each commit's file count follows the write
    * parallelism, not the data — after a day of 20 s cycles the store
    * is thousands of KB-sized files and every scan pays per-file open
    * cost (the classic small-file problem; table formats run the same
    * OPTIMIZE pass). Contents are untouched; the pointer-swap in
    * `save` keeps readers isolated, and `load` needs no hint that a
    * compaction happened. Returns the file count written.
    */
  def compact(spark: SparkSession, dir: String,
      targetRows: Long = 1L << 20): Int = {
    val snap = load(spark, dir)
    val files = math.max(1L,
      (snap.count() + targetRows - 1) / targetRows).toInt
    // ROUND-ROBIN repartition, deliberately not keyed: a dn-hash
    // repartition can leave a hash-empty partition, which writes no
    // parquet file — the published file count would then undercut
    // ⌈rows/target⌉ nondeterministically (the q_etl_compact oracle
    // derives exactly that number). Round-robin distributes rows
    // evenly by construction, so with rows >= files every partition is
    // non-empty and the written count is structurally ⌈rows/target⌉.
    // (coalesce would keep whatever skew the write parallelism left)
    import spark.implicits._
    save(snap.repartition(files).as[Entry], dir)
    files
  }

  /** Bucketed persistence: cluster + sort the snapshot by dn so a
    * dn-keyed join over it (the initial load's apply, `changesBucketed`)
    * reads pre-partitioned, pre-sorted data — the snapshot side of a
    * sort-merge join then needs no Exchange and no Sort. A CDC cycle
    * has no join over the snapshot: it filters it. (Bucketing
    * needs a catalog table; with the in-memory catalog the table lives
    * for the session — a real deployment would use a persistent
    * catalog or a bucketing-aware table format.)
    */
  def saveBucketed(snapshot: Dataset[Entry], table: String,
      buckets: Int = 8): Unit =
    snapshot.toDF.write
      .mode("overwrite")
      .bucketBy(buckets, "dn")
      .sortBy("dn")
      .format("parquet")
      .saveAsTable(table)

  def loadBucketed(spark: SparkSession, table: String): Dataset[Entry] = {
    import spark.implicits._
    spark.table(table).as[Entry]
  }

  /** Structural invariant check: dn must be unique (the MERGE contract).
    * Returns offending dns; empty ⇒ healthy.
    */
  def duplicateDns(snapshot: Dataset[Entry]): Seq[String] = {
    import org.apache.spark.sql.Encoders
    implicit val e: Encoder[String] = Encoders.STRING
    snapshot.toDF.groupBy("dn").count()
      .filter(col("count") > 1)
      .select("dn").as[String].collect().toSeq
  }

  /** C10 — bootstrap structural entries for a base dn chain, plus the
    * `ou=ETD,ou=idnSync` sibling for `ou=user` bases (etl.py:806–851).
    */
  def bootstrapEntries(baseDns: Seq[String]): Seq[Entry] = {
    val chains = baseDns.flatMap { dn =>
      val spdn = dn.split(",").toSeq
      val lists = Seq(spdn) ++
        (if (spdn.head == "ou=user")
          Seq(Seq("ou=ETD", "ou=idnSync") ++ spdn.tail) else Nil)
      lists.flatMap { rdns =>
        // top-down chain of (dn, rdn)
        rdns.indices.map(i => (rdns.drop(i).mkString(","), rdns(i)))
      }
    }
    chains.distinct.map { case (dn, rdn) =>
      val Array(k, v) = rdn.split("=", 2)
      val oc = if (k == "o") "organization" else "organizationalUnit"
      Entry(dn, Map(k -> Seq(v), "objectClass" -> Seq(oc)))
    }
  }
}
