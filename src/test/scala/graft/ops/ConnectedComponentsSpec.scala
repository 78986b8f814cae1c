package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.TestSpark

/** Connected components must converge within the round cap even on
  * graphs whose diameter far exceeds it — that is what the per-round
  * pointer jump buys (O(log d) rounds). A 500-edge path graph has
  * diameter 500: hop-only propagation would need 500 rounds.
  */
class ConnectedComponentsSpec extends AnyFunSuite {

  test("a 500-long chain collapses to one component within 20 rounds") {
    // force the DISTRIBUTED loop (the local union-find gate would
    // otherwise absorb every spec-sized graph): this is the path that
    // runs at 100 TB and the one the round cap protects
    val spark = TestSpark.spark
    import spark.implicits._
    spark.conf.set("graft.cc.localEdges", "0")
    try {
      val chain = (0L until 500L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
      val labels = Dedup.connectedComponents(chain).collect()
      assert(labels.length == 501)
      assert(labels.forall(_.getLong(1) == 0L),
        s"all labels must be the component min, got ${labels.take(5).toSeq}")
    } finally spark.conf.unset("graft.cc.localEdges")
  }

  test("union-find labels match a reference BFS on 60 random graphs") {
    // the driver-side kernel now carries five queries' correctness —
    // pin it against an independent formulation (pure JVM, no Spark):
    // BFS from each unvisited vertex, label = component minimum
    def bfsLabels(edges: Array[(Long, Long)]): Map[Long, Long] = {
      val adj = scala.collection.mutable.Map.empty[Long, List[Long]]
      edges.foreach { case (a, b) =>
        adj(a) = b :: adj.getOrElse(a, Nil)
        adj(b) = a :: adj.getOrElse(b, Nil)
      }
      val label = scala.collection.mutable.Map.empty[Long, Long]
      adj.keys.toSeq.sorted.foreach { start =>
        if (!label.contains(start)) {
          var comp = List(start)
          val queue = scala.collection.mutable.Queue(start)
          val seen = scala.collection.mutable.Set(start)
          while (queue.nonEmpty) {
            adj(queue.dequeue()).foreach { n =>
              if (seen.add(n)) { comp ::= n; queue.enqueue(n) }
            }
          }
          val m = comp.min
          comp.foreach(v => label(v) = m)
        }
      }
      label.toMap
    }
    (0 until 60).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val n = 2 + rnd.nextInt(80)
      val m = rnd.nextInt(120)
      val edges = Array.fill(m) {
        val a = rnd.nextInt(n).toLong; var b = rnd.nextInt(n).toLong
        if (a == b) b = (b + 1) % n
        (math.min(a, b), math.max(a, b))
      }.distinct
      if (edges.nonEmpty) {
        val got = Dedup.unionFindLabels(edges).toMap
        val want = bfsLabels(edges)
        assert(got == want, s"seed $seed: union-find $got vs bfs $want")
      }
    }
  }

  test("local union-find and distributed loop agree on a random graph") {
    val spark = TestSpark.spark
    import spark.implicits._
    // deterministic pseudo-random edges: enough structure for chains,
    // merges, singleton-free components of varied size
    val rnd = new scala.util.Random(42)
    val edges = (1 to 400).map(_ =>
      (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct
    val df = edges.toDF("doc_a", "doc_b")
    val local = Dedup.connectedComponents(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.conf.set("graft.cc.localEdges", "0")
    val dist =
      try Dedup.connectedComponents(df).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally spark.conf.unset("graft.cc.localEdges")
    assert(local == dist,
      s"paths disagree on ${(local.toSet diff dist.toSet).take(5)}")
  }

  test("sf0.1: forced local and distributed component paths agree end-to-end") {
    // the real sf0.1 candidate-pair graph through the production
    // operator, both sides of the budget gate — pins
    // the distributed loop (the 100 TB path) every `sbt test`
    val spark = TestSpark.spark
    val sf01 = "/root/testdata/sf0.1"
    assume(new java.io.File(sf01).exists)
    def comps(): Map[Long, Long] =
      graft.operators.GraphOps.components(spark, sf01).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = comps() // default budget absorbs the sf0.1 edge list
    spark.conf.set("graft.cc.localEdges", "0")
    val dist =
      try comps() finally spark.conf.unset("graft.cc.localEdges")
    assert(local == dist,
      s"sf0.1 paths disagree on ${(local.toSet diff dist.toSet).take(5)}")
    assert(local.nonEmpty)
  }

  test("separate components keep separate minimum labels") {
    val spark = TestSpark.spark
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L))
      .toDF("doc_a", "doc_b")
    val m = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }
}
