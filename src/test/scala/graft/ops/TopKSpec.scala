package graft.ops

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.Deadline

/** The shared per-query top-k buffer ([[ExactScore.TopK]]) equals a
  * sort / dedup / take reference on random (query, id, cos) streams. */
class TopKSpec extends AnyFunSuite {

  private val Cases = 2000

  /** Few cos levels, so ties are common; a (query, id) pair always
    * scores the same, as a repeat sighting of one pair does. */
  private val Levels = Array(-0.5, 0.125, 0.25, 0.5, 0.75, 1.0)

  private final case class Stream(k: Int, salt: Int, hits: List[(Int, Long)]) {
    def cos(q: Int, id: Long): Double =
      Levels(Math.floorMod((q * 31 + id.toInt) * 17 + salt, Levels.length))
  }

  /** k = 1, small k, and k above any stream's length per query. */
  private val streams: Gen[Stream] = for {
    k <- Gen.oneOf(1, 2, 3, 5, 100)
    salt <- Gen.chooseNum(0, 1000)
    n <- Gen.chooseNum(0, 60)
    hits <- Gen.listOfN(n, Gen.zip(Gen.chooseNum(0, 3), Gen.chooseNum(0L, 25L)))
  } yield Stream(k, salt, hits)

  /** Each query's distinct (id, cos) rows by (cos desc, id asc), first k. */
  private def reference(s: Stream): Map[Int, List[(Long, Double)]] =
    s.hits.distinct.groupBy(_._1).map { case (q, hs) =>
      q -> hs.map { case (_, id) => (id, s.cos(q, id)) }
        .sortWith((a, b) => a._2 > b._2 || (a._2 == b._2 && a._1 < b._1))
        .take(s.k)
    }

  private def buffered(s: Stream, hits: List[(Int, Long)],
      skipSeen: Boolean): Map[Int, List[(Long, Double)]] = {
    val bufs = collection.mutable.Map.empty[Int, ExactScore.TopK]
    hits.foreach { case (q, id) =>
      bufs.getOrElseUpdate(q, new ExactScore.TopK(s.k))
        .insert(s.cos(q, id), id, skipSeen)
    }
    bufs.map { case (q, b) =>
      q -> b.rows(q.toLong).map(r => (r._2, r._3)).toList
    }.toMap
  }

  private def check(prop: Prop): Unit = Deadline(60) {
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(Cases).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
  }

  test("with repeat sightings skipped, the buffer is the deduped top-k") {
    check(Prop.forAll(streams) { s =>
      buffered(s, s.hits, skipSeen = true) == reference(s)
    })
  }

  test("on distinct sightings, the buffer is the sorted top-k") {
    check(Prop.forAll(streams) { s =>
      buffered(s, s.hits.distinct, skipSeen = false) == reference(s)
    })
  }

  test("rows carry the query id and come out best first") {
    val b = new ExactScore.TopK(2)
    Seq((0.5, 7L), (0.9, 9L), (0.5, 3L), (0.9, 9L)).foreach { case (c, id) =>
      b.insert(c, id, skipSeen = true)
    }
    assert(b.rows(4L).toList == List((4L, 9L, 0.9), (4L, 3L, 0.5)))
  }
}
