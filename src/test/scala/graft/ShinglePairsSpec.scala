package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.ShinglePairs
import graft.dedup.ShinglePairs.Postings

/** The in-memory shingle-pair kernel against brute-force all-pairs: a
  * pair qualifies when it shares a kept shingle (2 ≤ df ≤ cap) and its
  * FULL intersection passes the predicate. The kernel's kept count must
  * equal the full one whenever no shingle is over the cap.
  */
class ShinglePairsSpec extends AnyFunSuite {

  private def postings(docs: Seq[(Long, Set[Int])]): Postings = {
    val sorted = docs.filter(_._2.nonEmpty).sortBy(_._1)
    Postings(sorted.map(_._1).toArray,
      sorted.map(_._2.toArray.sorted).toArray,
      docs.flatMap(_._2).maxOption.fold(0)(_ + 1))
  }

  /** (i, j, |Si ∩ Sj|) for every pair i < j sharing a kept shingle. */
  private def bruteCandidates(p: Postings,
      cap: Int): Seq[(Int, Int, Long)] = {
    val df = p.sets.flatten.groupBy(identity).view.mapValues(_.length).toMap
    for {
      i <- p.ids.indices
      j <- p.ids.indices if i < j
      shared = p.sets(i).toSet & p.sets(j).toSet
      if shared.exists(c => df(c) >= 2 && df(c) <= cap)
    } yield (i, j, shared.size.toLong)
  }

  private def bruteJaccard(p: Postings, cap: Int,
      tau: Double): Seq[(Long, Long, Double)] =
    bruteCandidates(p, cap).flatMap { case (i, j, inter) =>
      val (na, nb) = (p.sets(i).length.toLong, p.sets(j).length.toLong)
      val jac = inter.toDouble / (na + nb - inter)
      if (jac >= tau) Some((p.ids(i), p.ids(j), jac)) else None
    }

  private def bruteContainment(p: Postings, cap: Int,
      tauMicro: Long): Seq[(Long, Long, Long)] =
    bruteCandidates(p, cap).flatMap { case (i, j, inter) =>
      Seq((i, j), (j, i)).flatMap { case (s, d) =>
        val c = inter * 1000000L / p.sets(s).length
        if (c >= tauMicro) Some((p.ids(s), p.ids(d), c)) else None
      }
    }

  private def check(p: Postings, cap: Int, tau: Double,
      tauMicro: Long): Unit = {
    val wantJ = bruteJaccard(p, cap, tau)
    val wantC = bruteContainment(p, cap, tauMicro)
    assert(ShinglePairs.jaccard(p, cap, tau, Long.MaxValue)
      .map(_.toSeq.sorted) == Some(wantJ.sorted))
    assert(ShinglePairs.containment(p, cap, tauMicro, Long.MaxValue)
      .map(_.toSeq.sorted) == Some(wantC.sorted))
    // the answer bound: exactly the answer's size passes, one less stops
    assert(ShinglePairs.jaccard(p, cap, tau, wantJ.size).isDefined)
    assert(ShinglePairs.containment(p, cap, tauMicro, wantC.size).isDefined)
    if (wantJ.nonEmpty)
      assert(ShinglePairs.jaccard(p, cap, tau, wantJ.size - 1L).isEmpty)
    if (wantC.nonEmpty)
      assert(ShinglePairs.containment(p, cap, tauMicro,
        wantC.size - 1L).isEmpty)
  }

  test("ties at tau and at tauMicro are kept, on the kept count and on " +
      "the bracket-verify branch") {
    // jaccard 3/5 and containment 9/10 exactly; code 0 has df 3
    val p = postings(Seq(1L -> Set(0, 1, 2, 3), 2L -> Set(0, 1, 2, 4),
      3L -> (10 until 20).toSet, 4L -> ((10 until 19).toSet + 30),
      5L -> Set(0), 6L -> Set.empty))
    Seq(Int.MaxValue, 3, 2).foreach { cap =>
      val j = ShinglePairs.jaccard(p, cap, 0.6, Long.MaxValue).get
      assert(j.contains((1L, 2L, 0.6)), s"cap $cap")
      val c = ShinglePairs.containment(p, cap, 900000L, Long.MaxValue).get
      assert(c.contains((3L, 4L, 900000L)) && c.contains((4L, 3L, 900000L)))
      check(p, cap, 0.6, 900000L)
    }
  }

  test("the kernel equals brute-force all-pairs on random tables") {
    import org.scalacheck.{Gen, Prop}
    val doc = Gen.zip(Gen.choose(-3L, 1L << 34),
      Gen.choose(0, 9).flatMap(Gen.listOfN(_, Gen.choose(0, 14))))
    val tables = Gen.choose(0, 30).flatMap(Gen.listOfN(_, doc))
      .map(_.groupBy(_._1).map { case (id, ds) => id -> ds.head._2.toSet })
    val params = Gen.zip(Gen.oneOf(2, 3, 5, Int.MaxValue),
      Gen.oneOf(0.2, 0.5, 0.6, 1.0), Gen.oneOf(500000L, 900000L, 1000000L))
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(300),
      Prop.forAll(tables, params) { (t, ps) =>
        check(postings(t.toSeq), ps._1, ps._2, ps._3)
        true
      })
    assert(res.passed, res.status.toString)
  }
}
