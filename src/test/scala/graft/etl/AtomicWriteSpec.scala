package graft.etl

import java.util.concurrent.{Callable, Executors, TimeUnit}
import org.scalatest.funsuite.AnyFunSuite

/** `Directory.writeAtomically`, the one atomic file write (the snapshot
  * pointer, the read-only HWM, the fixture files): concurrent writers of
  * one path each write through a temp file of their own.
  */
class AtomicWriteSpec extends AnyFunSuite {
  test("concurrent HWM saves to one directory all succeed and leave no temp file") {
    val dir = java.nio.file.Files.createTempDirectory("graft-hwm").toString
    val (threads, saves) = (8, 200)
    val t0 = java.sql.Timestamp.valueOf("2020-01-01 00:00:00").getTime
    def hwm(t: Int, i: Int) = new java.sql.Timestamp(t0 + (t * saves + i) * 1000L)
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val done = (0 until threads).map { t =>
        pool.submit(new Callable[Unit] {
          def call(): Unit = (0 until saves).foreach(i =>
            Cdc.HwmStore.save(dir, "postgres", hwm(t, i)))
        })
      }
      // get() rethrows a save's failure
      done.foreach(_.get(120, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    val written = (for (t <- 0 until threads; i <- 0 until saves) yield hwm(t, i)).toSet
    assert(written.contains(Cdc.HwmStore.load(dir, "postgres")))
    val left = new java.io.File(dir).list().toSeq
    assert(left == Seq("hwm_postgres"), left)
  }
}
