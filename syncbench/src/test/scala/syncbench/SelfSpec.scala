package syncbench

import java.io.File
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Self-tests of the benchmark: seeded inputs, the metric contract of
  * BENCHMARK.json, and failure accounting. Run with `sbt test` from the
  * benchmark's directory.
  */
class SelfSpec extends AnyFunSuite {
  private val tiny = Main.Sizes(users = 400, maxChunks = 8, bulkEvents = 600,
    warmCycles = 1, warmEvents = 50)

  /** Options for a tiny run in a fresh work directory. */
  private def opts(workload: String, trace: Boolean, plant: String = "") = {
    val work = new File(s"target/selftest-$workload-$trace-$plant")
    org.apache.commons.io.FileUtils.deleteDirectory(work)
    Main.Opts(workload, seed = 5, seconds = 0.1, trace = trace, work = work,
      cores = 2, sizes = tiny, plantWrongVerdict = plant == "verdict",
      plantMissedDelete = plant == "delete")
  }

  /** (name, unit) of each metric the benchmark declares, per section. */
  private def declared(section: String): Seq[(String, String)] = {
    val root = new ObjectMapper().readTree(new File("../BENCHMARK.json"))
    root.get(section).elements().asScala.toSeq
      .map(m => m.get("name").asText -> m.get("unit").asText)
  }

  private def printed(json: String, name: String, unit: String): Boolean =
    (java.util.regex.Pattern.quote(s""""$name": {"value": """) +
      """-?[0-9][0-9.eE+-]*""" +
      java.util.regex.Pattern.quote(s""", "unit": "$unit"}""")).r
      .findFirstIn(json).isDefined

  test("the same seed gives identical inputs, another seed other inputs") {
    for (zipf <- Seq(false, true)) {
      val a = Gen.cdc(11, 500, 4, 100, zipf)
      val b = Gen.cdc(11, 500, 4, 100, zipf)
      assert(a == b)
      assert(a.versions.nonEmpty && a.events.size == 400)
      assert(Gen.cdc(12, 500, 4, 100, zipf).events != a.events)
    }
  }

  for (w <- Main.workloads) {
    test(s"$w prints every declared metric with its unit and passes its checks") {
      val traced = Main.run(opts(w, trace = true))
      assert(traced.correct && traced.failed == 0, traced.notes.mkString("\n"))
      val json = Main.json(traced)
      val layers = declared("per_layer")
      assert(layers.nonEmpty)
      layers.foreach { case (n, u) => assert(printed(json, n, u), s"$n [$u] in $json") }
      assert(traced.metrics.size == layers.size, "only declared layer metrics")
    }

    test(s"$w counts a planted wrong verdict as a failed operation") {
      val r = Main.run(opts(w, trace = false, plant = "verdict"))
      assert(!r.correct && r.failed >= 1 && r.failed <= r.attempted,
        r.notes.mkString("\n"))
      val json = Main.json(r)
      val e2e = declared("end_to_end")
      e2e.foreach { case (n, u) => assert(printed(json, n, u), s"$n [$u] in $json") }
      assert(r.metrics.size == e2e.size, "only declared end-to-end metrics")
    }

    test(s"$w fails a run whose final snapshot misses a delete mark") {
      val r = Main.run(opts(w, trace = false, plant = "delete"))
      assert(!r.correct && r.failed >= 1, r.notes.mkString("\n"))
      assert(r.notes.exists(_.contains("full resync changed the tree")),
        r.notes.mkString("\n"))
    }
  }
}
