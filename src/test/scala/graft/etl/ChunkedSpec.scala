package graft.etl

import org.scalatest.funsuite.AnyFunSuite
import Cdc.Ev

/** `Cdc.chunked`, the cut of a cycle's selection into driver chunks, on
  * `Ev` sequences without Spark: the chunks concatenated are the
  * selection in record_id order (nulls first), each holds at most the
  * bound's distinct valid uids, and a chunk ends only where the next
  * event's uid would take it past the bound. The event count never cuts.
  */
class ChunkedSpec extends AnyFunSuite {
  private def ev(rid: Option[Double], uid: Option[Long]): Ev =
    Ev(rid, if (uid.isEmpty) Some("invalid") else None, uid, Some(6.0), uid.map(_ => 0))

  private def evs(pairs: (Any, Any)*): Seq[Ev] = pairs.map { case (r, u) =>
    ev(Option(r).map(_.toString.toDouble), Option(u).map(_.toString.toLong))
  }

  /** The three properties of a cut of `sel` at `bound`. */
  private def check(why: String, sel: Seq[Ev], bound: Int, chunks: Seq[Seq[Ev]]): Unit = {
    // compared as Booleans, so that a failure names the case, not the events
    val inOrder = chunks.flatten == sel.sortBy(_.record_id)
    assert(inOrder, s"$why: order")
    assert(!chunks.exists(_.isEmpty), s"$why: an empty chunk")
    chunks.zipWithIndex.foreach { case (c, i) =>
      val n = c.flatMap(_.uid).distinct.size
      assert(n <= bound, s"$why: chunk $i holds $n uids")
    }
    chunks.zip(chunks.drop(1)).zipWithIndex.foreach { case ((c, next), i) =>
      val uids = c.flatMap(_.uid).toSet
      val atBound = next.head.uid.exists(u => !uids(u)) && uids.size == bound
      assert(atBound, s"$why: chunk $i ended on ${uids.size} uids before ${next.head}")
    }
  }

  test("chunks are the selection in record_id order, cut only at the uid bound") {
    // (why, selection, uid bound, chunks)
    val table = Seq(
      ("an empty selection", Nil, 2, 0),
      ("within the bound", evs(3 -> 1, 1 -> 2, 2 -> 1), 2, 1),
      ("null record_ids first", evs((null, 3), 2 -> 1, (null, 1), 1 -> 2), 2, 2),
      ("a new uid past the bound", evs(1 -> 1, 2 -> 2, 3 -> 1, 4 -> 3, 5 -> 1), 2, 2),
      ("a seen uid never cuts", evs(1 -> 1, 2 -> 1, 3 -> 1, 4 -> 1), 1, 1),
      ("invalid events carry no uid", evs(1 -> 1, (2, null), (3, null), 4 -> 2), 1, 2),
      ("only invalid events", evs((1, null), (2, null)), 1, 1),
      ("one uid per chunk", evs(1 -> 1, 2 -> 2, 3 -> 3, 4 -> 2), 1, 4),
      ("150,000 events on 3 uids", (1 to 150000).map(i => ev(Some(i.toDouble),
        Some(i % 3L))), Cdc.driverBatchBound, 1))
    for ((why, sel, bound, n) <- table) {
      val chunks = Cdc.chunked(sel, bound)
      val got = chunks.size
      assert(got == n, s"$why: $got chunks")
      check(why, sel, bound, chunks)
    }
  }

  test("seeded random selections keep the three properties") {
    val rng = new scala.util.Random(20261020L)
    for (i <- 1 to 200) {
      val uids = 1 + rng.nextInt(12)
      val sel = rng.shuffle((1 to rng.nextInt(60)).map { r =>
        ev(Option.when(rng.nextInt(10) > 0)(r.toDouble),
          Option.when(rng.nextInt(8) > 0)(rng.nextInt(uids).toLong))
      })
      val bound = 1 + rng.nextInt(5)
      check(s"selection $i at bound $bound", sel, bound, Cdc.chunked(sel, bound))
    }
  }
}
