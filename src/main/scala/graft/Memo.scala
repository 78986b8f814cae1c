package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** The one memo facility for state that outlives a single query.
  *
  * Every entry is keyed by what it was derived from plus the source
  * fingerprint (`Tables.fingerprint`): a different fingerprint means
  * the source was rewritten in-JVM, and the entry is rebuilt. Three
  * kinds of entry:
  *
  *  - `value`: plain driver-side data derived from files (a parquet
  *    schema, a timestamp layout, a replay span). Session-independent.
  *  - `frame`: a checkpointed frame owned by one session. Eager
  *    `localCheckpoint(true)` truncates lineage, so a frame whose blocks
  *    are dropped is unrecoverable; the RDDs a build persists are
  *    therefore pinned against `dropUnpinned`, and a superseded entry's
  *    blocks are released. Entries of a stopped SparkContext are
  *    forgotten and never returned.
  *  - `staged`: files written to a scratch dir once per source version
  *    (landing zones, snapshot stores, bucketed tables). A hit requires
  *    every file the last successful write left to still be there at
  *    its recorded length, so a dir a /tmp reaper removed — wholly or
  *    in part — is re-staged instead of replayed with missing rows.
  *
  * Each key has its own lock, and builds run under that lock only —
  * never inside a map operation — so a build may itself reach another
  * memo (the k-means training reads `Tables.t`). A build that throws
  * records nothing.
  */
object Memo {

  private final class Entry {
    var fp: String = _
    var value: Any = _
    /** frame: RDD ids its build persisted. */
    @volatile var pinned: Set[Int] = Set.empty
    /** staged: every file the last write left, with its length. */
    var manifest: Seq[(java.io.File, Long)] = Nil
  }

  private final case class FrameKey(s: SparkSession, key: String)

  private val entries = new java.util.concurrent.ConcurrentHashMap[Any, Entry]()

  private def locked[T](key: Any)(body: Entry => T): T = {
    val e = entries.computeIfAbsent(key, _ => new Entry)
    e.synchronized(body(e))
  }

  /** A value derived from files whose fingerprint is `fp`. */
  def value[T](key: String, fp: String)(build: => T): T =
    locked(("value", key)) { e =>
      if (e.fp != fp) {
        e.value = build
        e.fp = fp
      }
      e.value.asInstanceOf[T]
    }

  /** A checkpointed frame (or a tuple holding one) for session `s`.
    * Pins are the RDDs that became persistent during the build; a
    * concurrent build elsewhere can only over-pin (one extra survivor),
    * and a superseded entry releases just the ids no other entry holds.
    */
  def frame[T](s: SparkSession, key: String, fp: String)(build: => T): T = {
    val sc = s.sparkContext
    if (sc.isStopped)
      throw new IllegalStateException(s"Memo.frame($key): SparkContext is stopped")
    // forget the entries of stopped contexts: their blocks died with them
    entries.keySet.removeIf {
      case FrameKey(o, _) => o.sparkContext.isStopped
      case _ => false
    }
    locked(FrameKey(s, key)) { e =>
      if (e.fp != fp) {
        val stale = e.pinned
        e.fp = null
        e.pinned = Set.empty
        release(sc, stale -- pinnedIds(sc))
        val before = sc.getPersistentRDDs.keySet
        val v = build
        e.pinned = (sc.getPersistentRDDs.keySet -- before).toSet
        e.value = v
        e.fp = fp
      }
      e.value.asInstanceOf[T]
    }
  }

  /** Files staged under `dir` from a source whose fingerprint is `fp`.
    * On a miss `dir` is wiped and `write` fills it again. `intact` adds
    * a caller-side precondition to a hit (a catalog table still
    * registered). Consumers read a staged dir and never write under it:
    * a hit checks only that the recorded files are unchanged in length,
    * and tolerates files added since.
    */
  def staged(dir: String, fp: String, intact: => Boolean = true)(
      write: => Unit): Unit =
    locked(("staged", dir)) { e =>
      val hit = e.fp == fp && intact &&
        e.manifest.forall { case (f, n) => f.isFile && f.length == n }
      if (!hit) {
        e.fp = null
        val root = new java.io.File(dir)
        graft.etl.Directory.deleteRecursively(root)
        write
        e.manifest = filesUnder(root).map(f => (f, f.length))
        e.fp = fp
      }
    }

  private def filesUnder(root: java.io.File): Seq[java.io.File] =
    if (!root.exists()) Nil
    else {
      val walk = java.nio.file.Files.walk(root.toPath)
      try {
        val it = walk.iterator()
        val out = Seq.newBuilder[java.io.File]
        while (it.hasNext) {
          val f = it.next().toFile
          if (f.isFile) out += f
        }
        out.result()
      } finally walk.close()
    }

  private def pinnedIds(sc: SparkContext): Set[Int] = {
    val out = Set.newBuilder[Int]
    entries.forEach((k, e) => k match {
      case FrameKey(s, _) if s.sparkContext eq sc => out ++= e.pinned
      case _ => ()
    })
    out.result()
  }

  private def release(sc: SparkContext, ids: Set[Int]): Unit =
    ids.foreach(id => sc.getPersistentRDDs.get(id).foreach(unpersist))

  private def unpersist(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    try rdd.unpersist(blocking = true)
    catch { case _: Throwable => () }

  /** Unpersist every persistent RDD that no live frame entry pins.
    * Blocking, so callers get a deterministic storage state; harnesses
    * call it between queries, outside any timed window.
    */
  def dropUnpinned(sc: SparkContext): Unit = {
    val keep = pinnedIds(sc)
    sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep.contains(id)) unpersist(rdd)
    }
  }
}
