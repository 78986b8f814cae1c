package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.TestSpark

/** Triangle counting must be orientation-invariant: the degree-oriented
  * enumeration (the O(√m)-bounded scale path) has to agree exactly with
  * the id-oriented enumeration (the oracle's formulation) — same
  * total, different wedge sets.
  */
class GraphOpsSpec extends AnyFunSuite {
  // sf0.001's 10-supplier graph has no above-threshold triangles; the
  // sf0.01 graph has hundreds, so the equality is non-vacuous there
  private val dir = "/root/testdata/sf0.01"

  test("degree-oriented triangle count equals the id-oriented count") {
    // force the DISTRIBUTED enumeration (the local gate would absorb
    // the fixture graph): this is the 100 TB path under test here; the
    // local twin is pinned equal in its own test below
    val spark = TestSpark.spark
    spark.conf.set("graft.graph.localTriangleEdges", "0")
    val got =
      try GraphOps.triangles(spark, dir).collect().head
      finally spark.conf.unset("graft.graph.localTriangleEdges")
    val (nTri, nEdges) = (got.getLong(0), got.getLong(1))

    val li = graft.Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_suppkey"))
    val co = li.select(col("ok"), col("l_suppkey").as("sa"))
      .join(li.select(col("ok"), col("l_suppkey").as("sb")), Seq("ok"))
      .filter(col("sa") < col("sb"))
      .groupBy("sa", "sb").agg(count(lit(1)).as("cnt"))
    val e = co.join(broadcast(co.agg(avg(col("cnt")).as("m"))))
      .filter(col("cnt") >= lit(1.25) * col("m"))
      .select("sa", "sb")
    assert(e.count() == nEdges)
    // id-oriented: triangles a<b<c as (a,b)(b,c)(a,c)
    val e1 = e.select(col("sa").as("a"), col("sb").as("b"))
    val e2 = e.select(col("sa").as("b"), col("sb").as("c"))
    val e3 = e.select(col("sa").as("a"), col("sb").as("c"))
    val idCount = e1.join(e2, "b").join(e3, Seq("a", "c")).count()
    assert(nTri == idCount, s"degree-oriented $nTri vs id-oriented $idCount")
    assert(nTri > 0, "fixture graph should contain triangles")
  }

  test("local and distributed triangle counts agree on the fixture graph") {
    val spark = TestSpark.spark
    // local path (default budget absorbs the fixture's edge list)
    val local = GraphOps.triangles(spark, dir).collect().head
    spark.conf.set("graft.graph.localTriangleEdges", "0")
    val dist =
      try GraphOps.triangles(spark, dir).collect().head
      finally spark.conf.unset("graft.graph.localTriangleEdges")
    assert(local.getLong(0) == dist.getLong(0) &&
      local.getLong(1) == dist.getLong(1),
      s"local (${local.getLong(0)},${local.getLong(1)}) vs " +
        s"distributed (${dist.getLong(0)},${dist.getLong(1)})")
    assert(local.getLong(0) > 0)
  }

  test("local triangle count matches naive enumeration on 60 random graphs") {
    // the driver-side close now carries q_g1 in-budget — pin the
    // oriented-intersection kernel against the O(n^3) definition
    (0 until 60).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val n = 3 + rnd.nextInt(40)
      val m = rnd.nextInt(160)
      val edges = Array.fill(m) {
        val a = rnd.nextInt(n).toLong; var b = rnd.nextInt(n).toLong
        if (a == b) b = (b + 1) % n
        (math.min(a, b), math.max(a, b))
      }.distinct
      if (edges.nonEmpty) {
        val set = edges.toSet
        val vs = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
        var naive = 0L
        for {
          i <- vs.indices; j <- (i + 1) until vs.length
          if set((vs(i), vs(j)))
          k <- (j + 1) until vs.length
          if set((vs(j), vs(k))) && set((vs(i), vs(k)))
        } naive += 1
        val got = GraphOps.triangleCountLocal(edges)
        assert(got == naive, s"seed $seed: oriented $got vs naive $naive")
      }
    }
  }

  test("sf0.1: forced local and distributed paths agree end-to-end") {
    // the sf0.1 derived graph is big enough to make the equality
    // non-vacuous, and forcing BOTH sides of every budget gate here
    // pins the distributed path — the one that runs at 100 TB — every
    // `sbt test`
    val spark = TestSpark.spark
    val sf01 = "/root/testdata/sf0.1"
    assume(new java.io.File(sf01).exists)
    def forced[T](k: String, v: String)(f: => T): T = {
      spark.conf.set(k, v)
      try f finally spark.conf.unset(k)
    }
    val triDist = forced("graft.graph.localTriangleEdges", "0")(
      GraphOps.triangles(spark, sf01).collect().head)
    val triLocal = forced("graft.graph.localTriangleEdges",
      Long.MaxValue.toString)(GraphOps.triangles(spark, sf01).collect().head)
    assert(triDist.getLong(0) == triLocal.getLong(0) &&
      triDist.getLong(1) == triLocal.getLong(1),
      s"sf0.1 triangles: dist $triDist vs local $triLocal")
    assert(triLocal.getLong(0) > 0, "sf0.1 graph should contain triangles")

    def pr(): Map[Long, Long] =
      GraphOps.pagerank(spark, sf01).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prLocal = pr() // default budget absorbs the sf0.1 edge list
    val prDist = forced("graft.graph.broadcastEdges", "0")(pr())
    assert(prLocal == prDist, "sf0.1 pagerank paths disagree")
    assert(prLocal.nonEmpty)

    def core(): Map[Long, Long] =
      GraphOps.kcore(spark, sf01).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val coreLocal = core()
    val coreDist = forced("graft.graph.broadcastEdges", "0")(core())
    assert(coreLocal == coreDist, "sf0.1 k-core paths disagree")
    assert(coreLocal.nonEmpty, "sf0.1 half-mean core should be non-empty")
  }

  test("kcore peels a planted sparse tail, keeps the dense block, and paths agree") {
    // 8 vertices in a near-clique plus a 3-vertex chain hanging off it:
    // mean degree ≈ (8·7 + extra) / 11 — the half-mean k lands where
    // the chain (degree ≤ 2) peels and its removal does not cascade
    // into the block
    val spark = TestSpark.spark
    import spark.implicits._
    val block = for {
      a <- 0L until 8L; b <- 0L until 8L if a < b
    } yield (a, b)
    val chain = Seq((7L, 100L), (100L, 101L), (101L, 102L))
    val edges = (block ++ chain).toArray
    val local = GraphOps.kcoreLocal(edges).toMap
    assert(local.keySet == (0L until 8L).toSet,
      s"dense block must survive, tail must peel: $local")
    val e = edges.toSeq.toDF("sa", "sb").localCheckpoint(true)
    val dist = GraphOps.kcoreDistributed(spark, e, edges.length.toLong)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == dist, s"local $local vs distributed $dist")
  }

  test("labelprop splits a bridged pair of cliques; local and distributed agree") {
    // two 5-cliques joined by ONE bridge edge: connected components
    // would flood everything to one label; LPA must keep two
    // communities (each clique converges to its own min id)
    val spark = TestSpark.spark
    import spark.implicits._
    val cliqueA = for { a <- 0L until 5L; b <- 0L until 5L if a < b } yield (a, b)
    val cliqueB = for { a <- 10L until 15L; b <- 10L until 15L if a < b } yield (a, b)
    val edges = (cliqueA ++ cliqueB :+ (4L, 10L)).toArray
    val local = GraphOps.lpaLocal(edges).toMap
    val communities = local.values.toSet
    assert(communities.size == 2, s"expected 2 communities, got $local")
    assert((0L until 4L).map(local).toSet.size == 1, "clique A must agree")
    assert((11L until 15L).map(local).toSet.size == 1, "clique B must agree")
    val e = edges.toSeq.toDF("sa", "sb").localCheckpoint(true)
    val dist = GraphOps.labelpropDistributed(spark, e, edges.length.toLong)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == dist, s"local $local vs distributed $dist")
  }

  test("labelprop local and distributed agree on the fixture graph") {
    val spark = TestSpark.spark
    val (e, n) = GraphOps.affinityEdges(spark, "/root/testdata/sf0.001")
    val local = GraphOps.lpaLocal(
      e.collect().map(r => (r.getLong(0), r.getLong(1)))).toMap
    val dist = GraphOps.labelpropDistributed(spark, e, n)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == dist)
  }

  test("local and distributed pagerank are bit-identical") {
    // the in-budget driver solve and the over-budget distributed loop
    // share one integer-arithmetic definition — any drift between them
    // would make results depend on graph SIZE, which is the one thing
    // a budget gate must never change
    val spark = TestSpark.spark
    import spark.implicits._
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L),
      (5L, 6L), (2L, 6L))
    val e = edges.toDF("sa", "sb").localCheckpoint(true)
    val dist = GraphOps.pagerankDistributed(spark, e, edges.length.toLong)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = GraphOps.pagerankLocal(edges.toArray).toMap
    assert(local == dist, s"local $local vs distributed $dist")
  }

  test("the affinity memo leaves only the edge list persistent") {
    // the pair-count checkpoint serves the build alone: Memo.frame pins
    // every RDD the build leaves persistent, so a leaked one would sit
    // in storage for the whole session, out of dropUnpinned's reach.
    // A fresh dir gives a fresh memo key whatever ran before.
    val spark = TestSpark.spark
    val sc = spark.sparkContext
    val tmp = java.nio.file.Files.createTempDirectory("affinity").toFile
    try {
      graft.Tables.lineitem(spark, dir).select("l_orderkey", "l_suppkey")
        .write.parquet(s"$tmp/lineitem.parquet")
      val before = sc.getPersistentRDDs.keySet
      val (_, n) = GraphOps.affinityEdges(spark, tmp.toString)
      val added = sc.getPersistentRDDs.keySet -- before
      assert(added.size == 1, s"persistent after the build: $added")
      assert(n > 0 && sc.getPersistentRDDs(added.head).count() == n,
        "the one survivor is not the edge list")
    } finally graft.etl.Directory.deleteRecursively(tmp)
  }

  test("an empty above-threshold graph yields empty ranks, not an error") {
    // sf0.001's supplier graph has NO above-threshold edges — the
    // vertex count is zero and both iteration paths divide by it;
    // the early exit must return an empty frame instead of throwing
    val rows = GraphOps.pagerank(TestSpark.spark, "/root/testdata/sf0.001")
    assert(rows.columns.toSeq == Seq("v", "pr"))
    assert(rows.count() == 0L)
  }

  test("pagerank conserves mass up to truncation and is deterministic") {
    val spark = TestSpark.spark
    val rows = GraphOps.pagerank(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(rows.nonEmpty)
    assert(rows.forall(_._2 > 0L), "every rank positive")
    // each DIV truncates, so total mass can only shrink from SCALE —
    // but per-iteration loss is bounded by (n vertices + m edge
    // contributions) sub-unit remainders: far under 10% here
    val total = rows.map(x => BigInt(x._2)).sum
    val scale = BigInt(1000000000000L)
    assert(total <= scale, s"mass grew: $total")
    assert(total > scale * 9 / 10, s"mass lost beyond truncation: $total")
    // exact integer arithmetic ⇒ re-running is bit-identical
    val again = GraphOps.pagerank(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(rows.toSeq == again.toSeq)
  }
}
