package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Relational

/** Relational invariants that the DuckDB oracle can't cover: the
  * sort-based exact quantiles must reproduce `percentile()` bit-for-bit
  * (same p·(n-1) interpolation), and the approx sketch must stay within
  * its rank-error bound of the exact answer.
  */
class RelationalSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  // deterministic lineitem-ish corpus: 3 flags, 6k skewed-size groups
  private lazy val li = {
    val rnd = new scala.util.Random(42)
    (1 to 6000).map { i =>
      val flag = if (i % 7 == 0) "R" else if (i % 3 == 0) "A" else "N"
      (flag, rnd.nextDouble() * 100000.0)
    }.toDF("l_returnflag", "l_extendedprice").cache()
  }

  private def collect3(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSet

  test("sort-based exact quantiles == percentile() aggregate (same interpolation arithmetic)") {
    val viaBuffer = li.groupBy("l_returnflag").agg(
      round(expr("percentile(l_extendedprice, 0.5)"), 6).as("p50"),
      round(expr("percentile(l_extendedprice, 0.9)"), 6).as("p90"),
      round(expr("percentile(l_extendedprice, 0.99)"), 6).as("p99"))
    assert(collect3(Relational.priceQuantiles(li)) === collect3(viaBuffer))
  }

  test("approx distinct (HLL) stays within rsd envelope of exact") {
    // 3 types with known cardinalities (many repeat visits per user)
    val events = (1 to 30000).map { i =>
      val tpe = if (i % 3 == 0) "view" else if (i % 3 == 1) "click" else "purchase"
      (tpe, (i % (i % 3 match { case 0 => 5000; case 1 => 800; case _ => 97 })).toLong)
    }.toDF("event_type", "user_id").cache()
    val exact = Relational.distinctUsers(events).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val approx = Relational.distinctUsersApprox(events, rsd = 0.01).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .map(t => t._1 -> (t._2, t._3)).toMap
    // rsd 0.01 → HLL standard error ~1%; assert a generous 5% envelope
    for ((tpe, e, nEvents) <- exact) {
      val (a, aEvents) = approx(tpe)
      assert(math.abs(a - e).toDouble / e < 0.05, s"$tpe: approx $a vs exact $e")
      // only the distinct count is sketched — event totals stay exact
      assert(aEvents === nEvents)
    }
  }

  test("approx quantiles stay within rank-error of exact") {
    val exact = collect3(Relational.priceQuantiles(li))
      .map(t => t._1 -> (t._2, t._3, t._4)).toMap
    val approx = collect3(Relational.priceQuantilesApprox(li, accuracy = 10000))
      .map(t => t._1 -> (t._2, t._3, t._4)).toMap
    // accuracy 10000 on ≤4.3k-row groups → rank error < 1 row; values
    // are ~uniform on [0, 100k], so adjacent ranks differ by ~25 —
    // assert a generous 1% relative envelope
    for ((flag, (e50, e90, e99)) <- exact) {
      val (a50, a90, a99) = approx(flag)
      assert(math.abs(a50 - e50) / e50 < 0.01, s"$flag p50: $a50 vs $e50")
      assert(math.abs(a90 - e90) / e90 < 0.01, s"$flag p90: $a90 vs $e90")
      assert(math.abs(a99 - e99) / e99 < 0.01, s"$flag p99: $a99 vs $e99")
    }
  }

  test("cube: all 4 grouping sets present, every stratum sums to the grand total") {
    val df = Seq(("A", "F", 1.0), ("A", "O", 2.0), ("B", "F", 4.0), ("A", "F", 8.0))
      .toDF("l_returnflag", "l_linestatus", "l_quantity")
    val rows = Relational.cubePricing(df).collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)),
        r.getLong(2), r.getDouble(3)))
    // lattice: (f,s) 3 cells + f totals 2 + s totals 2 + grand 1
    assert(rows.length === 8)
    val grand = rows.filter(r => r._1.isEmpty && r._2.isEmpty)
    assert(grand === Array((None, None, 4L, 15.0)))
    assert(rows.filter(r => r._1.isDefined && r._2.isEmpty).map(_._4).sum === 15.0)
    assert(rows.filter(r => r._1.isEmpty && r._2.isDefined).map(_._4).sum === 15.0)
  }

  test("pivot: fixed-value-list pivot matches per-cell counts, absent cell is 0") {
    val df = Seq(("O", "1-URGENT"), ("O", "1-URGENT"), ("O", "5-LOW"), ("F", "2-HIGH"))
      .toDF("o_orderstatus", "o_orderpriority")
    val rows = Relational.priorityPivot(df).collect()
      .map(r => r.getString(0) -> (1 to 5).map(r.getLong))
      .toMap
    assert(rows("O") === Seq(2L, 0L, 0L, 0L, 1L))
    assert(rows("F") === Seq(0L, 1L, 0L, 0L, 0L))
  }
}
