package syncbench

import scala.collection.mutable
import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer trace of a benchmark section, recorded from a SparkListener
  * and a QueryExecutionListener that live in the benchmark, not in the
  * engine.
  *
  * Every millisecond of an operation's wall time falls into exactly one
  * of three parts: in-job (inside the union of Spark job intervals),
  * planning (inside a query's analysis/optimization/planning phases, as
  * `qe.tracker.phases` reports them, and outside any job), or gap (the
  * rest: driver time outside any job). In-job time is split among the
  * jobs running at each instant and assigned to the engine module whose
  * source file the job's call site names.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val sc = spark.sparkContext
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val running = mutable.Map.empty[Int, Job]
  private val plans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val execSite = mutable.Map.empty[Long, String]
  // (epoch ms, counter, amount): counted only inside operation windows
  private val counts = mutable.ArrayBuffer.empty[(Long, String, Long)]
  private def add(t: Long, kv: (String, Long)*): Unit =
    kv.foreach { case (k, v) => counts += ((t, k, v)) }

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        Trace.this.synchronized { execSite(s.executionId) = s.description }
      case _ =>
    }
    override def onJobStart(j: SparkListenerJobStart): Unit =
      Trace.this.synchronized {
        val p = Option(j.properties)
        def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
        val site = prop("callSite.short")
          .orElse(prop("spark.sql.execution.id").flatMap(id =>
            execSite.get(id.toLong)))
          .orElse(j.stageInfos.headOption.map(_.name))
          .getOrElse("?")
        running(j.jobId) = Job(j.time, j.time, module(site))
      }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Trace.this.synchronized {
        running.remove(j.jobId).foreach(r => jobs += r.copy(end = j.time))
      }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        val t = s.stageInfo.completionTime.getOrElse(System.currentTimeMillis)
        add(t, "stages" -> 1L, "tasks" -> s.stageInfo.numTasks.toLong)
      }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) Trace.this.synchronized {
        add(t.taskInfo.finishTime,
          "cpu_ns" -> m.executorCpuTime,
          "gc_ms" -> m.jvmGCTime,
          "sh_write" -> m.shuffleWriteMetrics.bytesWritten,
          "sh_read" -> m.shuffleReadMetrics.totalBytesRead,
          "spill" -> m.diskBytesSpilled,
          "rows_read" -> (m.inputMetrics.recordsRead +
            m.shuffleReadMetrics.recordsRead))
      }
    }
    override def onBlockUpdated(b: SparkListenerBlockUpdated): Unit = {
      val i = b.blockUpdatedInfo
      if (i.blockId.isRDD && i.storageLevel.isValid)
        Trace.this.synchronized {
          add(System.currentTimeMillis, "ckpt_bytes" -> (i.memSize + i.diskSize))
        }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.values.map(p => (p.startTimeMs, p.endTimeMs))
      Trace.this.synchronized { plans ++= ph }
    }
  }

  def install(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(planListener)
  }

  /** Waits for the listener bus, then detaches both listeners. */
  def remove(): Unit = {
    BusDrain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
  }

  /** Per-op layer figures over `ops` (wall windows, epoch ms) and the
    * named call windows nested in them (`cdc.call`, `initialload.call`,
    * `directory.save`, `directory.load`).
    */
  def report(ops: Seq[(Long, Long)], calls: Map[String, Seq[(Long, Long)]])
      : Layers = synchronized {
    val jobSpans = jobs.map(j => (j.start, j.end)).toSeq
    val jobUnion = union(jobSpans)
    val planOnly = subtract(union(plans.toSeq), jobUnion)
    var wall, inJob, plan = 0L
    val site = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    ops.foreach { w =>
      wall += w._2 - w._1
      inJob += overlap(jobUnion, w)
      plan += overlap(planOnly, w)
      share(jobs.toSeq, w).foreach { case (m, ms) => site(m) += ms }
    }
    def jobsIn(ws: Seq[(Long, Long)], pick: Job => Boolean = _ => true) =
      jobs.count(j => pick(j) && ws.exists(w => j.start >= w._1 && j.start <= w._2))
    def callMs(k: String) = calls.getOrElse(k, Nil).map(w => w._2 - w._1).sum
    Layers(ops.size, wall, inJob, plan, site.toMap, jobsIn(ops),
      jobsIn(ops, _.module == "CdcStream"),
      jobsIn(calls.getOrElse("cdc.call", Nil)),
      jobsIn(calls.getOrElse("initialload.call", Nil)),
      callMs("cdc.call"), callMs("initialload.call"),
      callMs("directory.save"), callMs("directory.load"),
      counts.filter(x => ops.exists(w => x._1 >= w._1 && x._1 <= w._2))
        .groupMapReduce(_._2)(_._3)(_ + _))
  }
}

object Trace {
  /** Engine modules in-job time is assigned to; anything else (Spark
    * internals, the benchmark itself) is unattributed.
    */
  val modules: Seq[String] =
    Seq("CdcStream", "Cdc", "SyncEngine", "InitialLoad", "Directory")

  final case class Job(start: Long, end: Long, module: String)

  final case class Layers(ops: Int, wallMs: Long, jobMs: Long, planMs: Long,
      siteMs: Map[String, Double], jobs: Int, cdcStreamJobs: Int,
      cdcCallJobs: Int, loadCallJobs: Int, cdcCallMs: Long, loadCallMs: Long,
      saveMs: Long, loadMs: Long, counters: Map[String, Long]) {
    def gapMs: Long = wallMs - jobMs - planMs
  }

  private val siteFile = """ at ([A-Za-z0-9_$]+)\.scala""".r

  def module(site: String): String =
    siteFile.findFirstMatchIn(site).map(_.group(1))
      .filter(modules.contains).getOrElse("unattributed")

  /** Sorted, disjoint union of intervals. */
  def union(xs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    xs.filter(x => x._2 > x._1).sortBy(_._1)
      .foldLeft(List.empty[(Long, Long)]) {
        case ((s, e) :: t, (a, b)) if a <= e => (s, math.max(e, b)) :: t
        case (acc, x) => x :: acc
      }.reverse

  /** `a` minus `b`, both disjoint unions. */
  def subtract(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Seq[(Long, Long)] =
    a.flatMap { case (s, e) =>
      val cuts = b.filter(x => x._2 > s && x._1 < e)
      val edges = (s +: cuts.flatMap(x => Seq(x._1, x._2)) :+ e)
        .map(x => math.min(math.max(x, s), e))
      edges.grouped(2).collect { case Seq(x, y) if y > x => (x, y) }.toSeq
    }

  def overlap(xs: Seq[(Long, Long)], w: (Long, Long)): Long =
    xs.map(x => math.max(0L, math.min(x._2, w._2) - math.max(x._1, w._1))).sum

  /** In-job ms inside `w` per module: each instant is split evenly among
    * the jobs running then, so the shares sum to the in-job time.
    */
  def share(jobs: Seq[Job], w: (Long, Long)): Map[String, Double] = {
    val in = jobs.map(j => j.copy(start = math.max(j.start, w._1),
      end = math.min(j.end, w._2))).filter(j => j.end > j.start)
    val cuts = in.flatMap(j => Seq(j.start, j.end)).distinct.sorted
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
      val live = in.filter(j => j.start <= a && j.end >= b)
      live.foreach(j => out(j.module) += (b - a).toDouble / live.size)
    }
    out.toMap
  }
}
