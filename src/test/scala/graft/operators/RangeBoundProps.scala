package graft.operators

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.propBoolean

/** ScalaCheck properties for the range-family pruning LAWS (pure
  * Scala — no Spark session). The engine's range serving
  * (`Ivf.rangeSearch` on plain, cosine and mips layouts)
  * skips whole cells by these bounds; the claim that makes the
  * skipped-cell scan LOSSLESS is exactly what these properties
  * hammer: for random data, random cells, random queries and random
  * floors, NO row that passes the (rounded) result filter ever lives
  * in a cell the bound would skip. A margin mistake (forgetting the
  * rounding slack, squaring the wrong side, dropping the lb ≤ 0
  * case) fails within a handful of cases.
  */
object RangeBoundProps extends Properties("Ivf.rangePruning") {

  private val dim = 4

  private def l2(a: Array[Double], b: Array[Double]): Double =
    math.sqrt(a.indices.map(i => { val d = a(i) - b(i); d * d }).sum)

  private def dot(a: Array[Double], b: Array[Double]): Double =
    a.indices.map(i => a(i) * b(i)).sum

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private val vecsGen: Gen[List[Array[Double]]] =
    Gen.choose(6, 50).flatMap { n =>
      Gen.listOfN(n, Gen.listOfN(dim, Gen.chooseNum(-100, 100))
        .map(_.map(_.toDouble).toArray))
    }

  private val queryGen: Gen[Array[Double]] =
    Gen.listOfN(dim, Gen.chooseNum(-120, 120)).map(_.map(_.toDouble).toArray)

  /** Seed-centroid assignment (the engine's deterministic rule:
    * nearest of the first C vectors, ties to the smaller id).
    */
  private def cells(vecs: List[Array[Double]], c: Int): Map[Int, List[Int]] =
    vecs.indices.groupBy { i =>
      (0 until c).minBy(k => (l2(vecs(i), vecs(k)), k))
    }.view.mapValues(_.toList).toMap

  property("L2 ball: no result row lives in a cell with d(q,c) - rad > r + 1e-6") =
    Prop.forAll(vecsGen, queryGen, Gen.chooseNum(1.0, 300.0)) { (vecs, q, r) =>
      val byCell = cells(vecs, 4)
      val results = vecs.indices.filter(i => round6(l2(q, vecs(i))) <= r).toSet
      val prunedCells = byCell.filter { case (cid, members) =>
        val rad = members.map(i => l2(vecs(i), vecs(cid))).max
        l2(q, vecs(cid)) - rad > r + 1e-6
      }.keySet
      val lost = results.filter(i => prunedCells.exists(c => byCell(c).contains(i)))
      Prop(lost.isEmpty) :| s"rows $lost within r=$r lost to pruned cells $prunedCells"
    }

  property("dot floor (augmented space): no result row lives in an ineligible cell") =
    Prop.forAll(vecsGen, queryGen, Gen.chooseNum(-50000.0, 50000.0)) { (vecs, q, t) =>
      // the engine's augmentation: M = max norm; a_x = [x, sqrt(M^2 - |x|^2) clamped]
      val m2 = vecs.map(v => dot(v, v)).max
      val aug = vecs.map(v => v :+ math.sqrt(math.max(m2 - dot(v, v), 0.0)))
      val qa = q :+ 0.0
      val byCell = cells(aug, 4)
      // raw dot == augmented dot (extra coord is 0)
      val results = vecs.indices.filter(i => round6(dot(q, vecs(i))) >= t).toSet
      val ineligible = byCell.filter { case (cid, members) =>
        val rad = members.map(i => l2(aug(i), aug(cid))).max
        val maxNormSq = members.map(i => dot(aug(i), aug(i))).max
        val lb = l2(qa, aug(cid)) - rad
        val rsq = dot(qa, qa) + maxNormSq - 2.0 * t + 1e-6
        !(lb <= 0.0 || lb * lb <= rsq)
      }.keySet
      val lost = results.filter(i => ineligible.exists(c => byCell(c).contains(i)))
      Prop(lost.isEmpty) :| s"rows $lost above floor t=$t lost to ineligible cells $ineligible"
    }

  property("cosine floor == L2 ball on the unit sphere (the serving reduction)") =
    Prop.forAll(vecsGen, queryGen, Gen.chooseNum(-0.99, 0.99)) { (vecs0, q0, s) =>
      // drop near-zero vectors the engine would never normalize
      val vecs = vecs0.filter(v => dot(v, v) > 1e-6)
      (vecs.size >= 2 && dot(q0, q0) > 1e-6) ==> {
        val unit = vecs.map { v => val n = math.sqrt(dot(v, v)); v.map(_ / n) }
        val qn = { val n = math.sqrt(dot(q0, q0)); q0.map(_ / n) }
        val r = math.sqrt(2.0 * (1.0 - s) + 1e-6)
        // every row whose ROUNDED cosine clears the floor sits inside
        // the L2 ball of radius r around the normalized query
        val ok = unit.forall { u =>
          val cos = round6(1.0 - { val d = l2(u, qn); d * d } / 2.0)
          cos < s || l2(u, qn) <= r
        }
        Prop(ok) :| "a row clearing the cosine floor escaped the serving ball"
      }
    }
}
