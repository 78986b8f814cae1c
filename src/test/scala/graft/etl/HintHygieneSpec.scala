package graft.etl

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.LoggerConfig
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import Directory.Entry

/** Plan-hygiene gate: the CDC cycle, one chunk or several, and the
  * ph15 rename pass must emit ZERO HintErrorLogger warnings. A broadcast
  * hint that lands on an unusable side (e.g. the left/stream side of a
  * left_anti) is silently dropped by Spark with a "Hint ... is not
  * supported" warning — harmless for results but a signal that a hint is
  * decorating the wrong join site. The cycle's hinted eventlog updates
  * must only be the build side of the writeback's left outer join. The
  * same runs must log no CodeGenerator error: a generated class that
  * does not compile runs interpreted, after a failed compile per chunk.
  */
class HintHygieneSpec extends AnyFunSuite {

  private final class Capture extends AbstractAppender(
      "graft-hint-capture", null, null, true,
      Array.empty[org.apache.logging.log4j.core.config.Property]) {
    val messages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    override def append(e: LogEvent): Unit =
      messages.add(e.getMessage.getFormattedMessage)
  }

  /** The formatted messages that `loggerName` logs at `level` or above
    * while `body` runs.
    */
  private def captured(loggerName: String, level: Level)(body: => Unit): Seq[String] = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val cap = new Capture
    cap.start()
    val lc = new LoggerConfig(loggerName, level, true)
    lc.addAppender(cap, level, null)
    cfg.addLogger(loggerName, lc)
    ctx.updateLoggers()
    try {
      body
      cap.messages.toArray(Array.empty[String]).toSeq
    } finally {
      cfg.removeLogger(loggerName)
      ctx.updateLoggers()
      cap.stop()
    }
  }

  /** A capped cycle whose batch BOTH merges a present uid and
    * delete-marks an absent one, so the semi-join AND the anti-join sweep
    * execute; the same batch as an unbounded drain over lowered bounds,
    * which runs as one chunk per event; and the ph15 rename pass (C3)
    * over a queued rename of uid 1's cn. Every output is materialized.
    */
  private def cdcRuns(): Unit = {
    val spark = TestSpark.spark
    import spark.implicits._
    val base = "ou=user,ou=ph08,o=BMUKK"
    val users = EtlSchema
      .readUsersCsv(spark, s"${Fixture.dir}/initial_data.csv")
      .filter(col("ident_nr") === -880406.0) // uid 1 present
    val conf = EtlConf(baseDn = base, cryptoIvHex = Some("0" * 32))
    val pre = InitialLoad.run(spark.emptyDataset[Entry], users, conf)
    val mkEvent = (rid: Double, uid: String) => (rid, s"pk_uniqueid=$uid",
      "N  ", 6.0, java.sql.Timestamp.valueOf("2017-07-11 10:00:00"),
      "TEST", "benutzer_alle_dirxml_v", null.asInstanceOf[String],
      null.asInstanceOf[String], null.asInstanceOf[String],
      null.asInstanceOf[Double], "N  ", "N  ",
      null.asInstanceOf[java.sql.Timestamp], null.asInstanceOf[String],
      1.0, "N  ")
    val elog = spark.createDataFrame(Seq(
      mkEvent(1.0, "1"),        // present → MERGE path
      mkEvent(2.0, "424242")))  // absent → anti-join delete-mark path
      .toDF(EtlSchema.eventFields: _*)

    val readTime = java.sql.Timestamp.valueOf("2017-07-11 10:00:00")
    for (r <- Seq(Cdc.cycle(pre.snapshot, users, elog, conf),
        Cdc.cycle(pre.snapshot, users, elog, conf, Int.MaxValue, readTime, uidBound = 1))) {
      r.snapshot.count()
      r.eventUpdates.count()
      r.eventlog.count()
    }
    val cn = users.select(trim(col("benutzername"))).as[String].head()
    Cdc.updatePh15Cn(pre.snapshot, users, Seq(("old" + cn, cn)),
      conf.copy(baseDn = "ou=user,ou=ph15,o=BMUKK")).count()
  }

  test("CDC cycle fires no HintErrorLogger warning (broadcast hint lands only where usable)") {
    val hits = captured("org.apache.spark.sql.catalyst.analysis.HintErrorLogger",
      Level.WARN)(cdcRuns())
      .filter(m => m.contains("not supported") || m.contains("Hint"))
    assert(hits.isEmpty,
      s"HintErrorLogger fired during the CDC cycle:\n${hits.mkString("\n")}")
  }

  test("every class the CDC cycle, a chunked drain and the rename pass generate compiles") {
    // a class that fails to compile (say, a decoder for a private case
    // class) is logged as an ERROR and its plan runs interpreted
    val errors = captured(
      "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator", Level.ERROR)(cdcRuns())
    assert(errors.isEmpty,
      s"CodeGenerator errors during the CDC runs:\n${errors.map(_.take(300)).mkString("\n")}")
  }
}
