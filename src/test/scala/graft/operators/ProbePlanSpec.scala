package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.VectorFunctions._

/** The driver-side batch probe plan ([[Ivf.probePlan]]) must rank
  * exactly like the in-plan `row_number` window it replaced — distance
  * ascending, NaN last, ties to the smaller centroid id — and refuse
  * batches no probe can serve, naming the offending `query_id`.
  */
class ProbePlanSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  /** The replaced in-plan probe formation, with its rank kept. */
  private def windowProbes(cents: DataFrame, queries: DataFrame, nprobe: Int) = {
    val byQc = Window.partitionBy("query_id").orderBy(col("qdist"), col("centroid_id"))
    cents.crossJoin(broadcast(queries))
      .select(col("query_id"), col("centroid_id"),
        l2Distance(col("centroid_vec"), col("query_vec")).as("qdist"))
      .withColumn("rn", row_number().over(byQc))
      .filter(col("rn") <= nprobe)
      .select(col("query_id").cast("long"), col("rn"), col("centroid_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
  }

  private def planned(p: Ivf.ProbePlan) =
    p.queryIds.indices.flatMap { i =>
      p.cells(i).zipWithIndex.map { case (c, r) => (p.queryIds(i), r + 1, c) }
    }.toSet

  private def assertSamePlan(cents: DataFrame, queries: DataFrame, nprobe: Int, clue: String) = {
    val p = Ivf.probePlan(cents, queries, nprobe)
    val expected = windowProbes(cents, queries, nprobe)
    assert(planned(p) === expected, clue)
    assert(p.unionCells === expected.map(_._3).toSeq.sorted, clue)
    assert(p.pairs(spark).collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      expected.map(t => (t._1, t._3)), clue)
    val fromCells = p.byCell.toSeq.flatMap { case (c, qs) => qs.map(q => (q._1, c)) }
    assert(fromCells.toSet === expected.map(t => (t._1, t._3)) &&
      fromCells.size === expected.size, clue)
  }

  /** Points on a small integer grid, so exact distance ties are common. */
  private def grid(rnd: scala.util.Random, n: Int, dim: Int) =
    Seq.fill(n)(Array.fill(dim)(rnd.nextInt(3).toDouble))

  test("driver plan == in-plan window on random batches, ties at the nprobe boundary included") {
    val rnd = new scala.util.Random(20261017L)
    for (trial <- 0 until 6) {
      val dim = 2 + trial % 3
      val cents = grid(rnd, 12, dim).zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("centroid_id", "centroid_vec")
      val queries = grid(rnd, 40, dim).zipWithIndex.map { case (v, i) => (100L + i, v) }
        .toDF("query_id", "query_vec")
      for (nprobe <- Seq(1, 3, 5, 12, 20)) // 20 > C: every cell, ranked
        assertSamePlan(cents, queries, nprobe, s"trial $trial nprobe $nprobe")
    }
  }

  test("NaN components rank last; float queries widen exactly") {
    val cents = Seq((0L, Array(1.0, 1.0)), (1L, Array(Double.NaN, 0.0)),
        (2L, Array(0.0, 0.0)), (3L, Array(2.0, 2.0)))
      .toDF("centroid_id", "centroid_vec")
    val queries = Seq((1L, Array(0.5f, 0.5f)), (2L, Array(Float.NaN, 1f)),
        (3L, Array(2f, 2f)))
      .toDF("query_id", "query_vec")
    for (nprobe <- Seq(1, 2, 3, 4))
      assertSamePlan(cents, queries, nprobe, s"nprobe $nprobe")
    // the NaN centroid is never probed ahead of a finite one
    assert(Ivf.probePlan(cents, queries, 3).cells(0).toSeq === Seq(0L, 2L, 3L))
  }

  test("an empty batch plans no probes; pairs keep the inputs' id types") {
    val cents = Seq((0, Array(0.0, 0.0)), (1, Array(1.0, 1.0)))
      .toDF("centroid_id", "centroid_vec")
    val empty = Seq.empty[(Int, Array[Double])].toDF("query_id", "query_vec")
    val p = Ivf.probePlan(cents, empty, 2)
    assert(p.unionCells.isEmpty && p.byCell.isEmpty)
    assert(p.pairs(spark).count() === 0L)
    assert(windowProbes(cents, empty, 2).isEmpty)
    val one = Seq((7, Array(0.9, 0.9))).toDF("query_id", "query_vec")
    val pairs = Ivf.probePlan(cents, one, 1).pairs(spark)
    assert(pairs.schema("query_id").dataType === IntegerType)
    assert(pairs.schema("cell").dataType === IntegerType)
    assert(pairs.collect().map(r => (r.getInt(0), r.getInt(1))).toSeq === Seq((7, 1)))
  }

  test("a query whose length differs from the centroids' is rejected by query_id") {
    val cents = Seq((0L, Array(0.0, 0.0)), (1L, Array(1.0, 1.0)))
      .toDF("centroid_id", "centroid_vec")
    val queries = Seq((1L, Array(0.0, 0.0)), (7L, Array(0.0, 0.0, 0.0)))
      .toDF("query_id", "query_vec")
    val e = intercept[IllegalArgumentException](Ivf.probePlan(cents, queries, 1))
    assert(e.getMessage.contains("query_id 7"), e.getMessage)
  }

  test("a repeated query_id is rejected by query_id") {
    val cents = Seq((0L, Array(0.0, 0.0)), (1L, Array(1.0, 1.0)))
      .toDF("centroid_id", "centroid_vec")
    val queries = Seq((3L, Array(0.0, 0.0)), (4L, Array(1.0, 0.0)), (3L, Array(1.0, 1.0)))
      .toDF("query_id", "query_vec")
    val e = intercept[IllegalArgumentException](Ivf.probePlan(cents, queries, 1))
    assert(e.getMessage.contains("query_id 3"), e.getMessage)
  }
}
