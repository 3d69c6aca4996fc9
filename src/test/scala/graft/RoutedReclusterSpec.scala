package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions._
import graft.operators.{CellSnapshot, Hnsw, Ivf, Tombstones}

/** Routed-HNSW drift lifecycle: [[Hnsw.cellStatsRouted]] /
  * [[Hnsw.cellSkewRouted]] diagnose imbalance, [[Hnsw.reclusterRouted]]
  * repairs it — re-route + boundary re-replication + per-cell adjacency
  * rebuild, published as one atomic snapshot generation with its
  * generation-scoped centroid file. The claims: reclustered serving is
  * BIT-EQUAL to a fresh routed build over the live vectors with the
  * same centroids; pinned readers keep their pre-recluster snapshot;
  * tombstones fold in; the skew trigger actually moves.
  */
class RoutedReclusterSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val p = Hnsw.Params(numPartitions = 3)

  // one uniform blob, 8-dim in [0, 100) — skew/balance is decided by
  // the CENTROIDS, so the fixtures are deterministic by construction
  private lazy val emb = (0L until 200L).map { i =>
    val rnd = new scala.util.Random(i)
    (i, Array.fill(8)(rnd.nextFloat() * 100f))
  }.toDF("vec_id", "embedding").cache()

  /** Explicit centroid table from raw vectors. */
  private def mkCents(vs: Seq[Array[Double]]) =
    vs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      .toDF("centroid_id", "centroid_vec")

  // one centroid inside the blob + three at increasing distance along
  // e1: EVERY vector's two nearest cells are {0, 1} — cells 2 and 3
  // provably empty, skew = max/mean = 200/100 = 2.0 exactly
  private def centsSkewed = mkCents(Seq(
    Array.fill(8)(50.0),
    { val a = Array.fill(8)(50.0); a(0) = 5000.0; a },
    { val a = Array.fill(8)(50.0); a(0) = 10000.0; a },
    { val a = Array.fill(8)(50.0); a(0) = 15000.0; a }))

  /** Balanced centroids: four spread data points. */
  private def centsOf(ids: Seq[Long]) =
    emb.filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id").as("centroid_id"),
        transform(col("embedding"), x => x.cast("double")).as("centroid_vec"))
      .withColumn("centroid_id", dense_rank().over(
        org.apache.spark.sql.expressions.Window.orderBy("centroid_id")).cast("long") - 1)

  private def served(dir: String, nprobe: Int = 4) = {
    val qs = emb.filter(col("vec_id") % 40 === 0)
      .select(col("vec_id").as("query_id"), perturbQuery(col("embedding")).as("query_vec"))
    Hnsw.search(spark, dir, qs, 10, p, nprobe)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      .sortBy(t => (t._1, t._3, t._2))
  }

  test("cellStatsRouted == independent replicated assignment counts; skew trigger moves") {
    val dir = java.nio.file.Files.createTempDirectory("routed_stats").toString
    val centsA = centsSkewed
    Hnsw.saveRouted(emb, centsA, p, dir, replication = 2)

    val expected = Ivf.assignMulti(emb, centsA, 2)
      .groupBy("cell").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val got = Hnsw.cellStatsRouted(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === expected)

    val skewBefore = Hnsw.cellSkewRouted(spark, dir)
    assert(skewBefore === 2.0, s"two empty cells of four -> skew 2.0, got $skewBefore")
    assert(Hnsw.needsReclusterRouted(spark, dir, maxSkew = 1.6))

    // tombstoned rows leave the stats immediately
    Tombstones.record(spark, dir, emb.filter(col("vec_id") < 10).select("vec_id"))
    val afterDel = Hnsw.cellStatsRouted(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val expectedDel = Ivf.assignMulti(emb.filter(col("vec_id") >= 10), centsA, 2)
      .groupBy("cell").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(afterDel === expectedDel)
  }

  test("reclusterRouted == fresh saveRouted over live vectors; pinned readers keep their snapshot") {
    val dir = java.nio.file.Files.createTempDirectory("routed_rec").toString
    val centsA = centsSkewed
    val centsB = centsOf(Seq(0L, 60L, 120L, 190L)) // spread data points
    Hnsw.saveRouted(emb, centsA, p, dir, replication = 2)
    val preVersion = CellSnapshot.version(spark, dir)
    val skewBefore = Hnsw.cellSkewRouted(spark, dir)

    Hnsw.reclusterRouted(spark, dir, centsB, p, replication = 2)

    // served exactly like a fresh build with the new centroids
    val freshDir = java.nio.file.Files.createTempDirectory("routed_rec_fresh").toString
    Hnsw.saveRouted(emb, centsB, p, freshDir, replication = 2)
    assert(served(dir) === served(freshDir),
      "reclustered routed serving must equal a fresh build on the new centroids")

    // the trigger went quiet
    val skewAfter = Hnsw.cellSkewRouted(spark, dir)
    assert(skewAfter < skewBefore,
      s"recluster must reduce skew ($skewBefore -> $skewAfter)")
    assert(!Hnsw.needsReclusterRouted(spark, dir, maxSkew = 1.6),
      s"balanced centroids must clear the trigger (skew = $skewAfter)")

    // routing resolved consistently: serving centroids are centsB, the
    // flat build-time file is untouched (immutability contract)
    val g = CellSnapshot.version(spark, dir)
    assert(g.nonEmpty && g != preVersion, "recluster must publish a generation")
    def cset(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("centroid_id").collect().map(_.toSeq).toSeq
    assert(cset(Hnsw.routedCentroidsOf(spark, dir)) === cset(centsB))
    assert(cset(spark.read.parquet(s"$dir/centroids")) === cset(centsA))

    // a pre-recluster reader keeps its snapshot: the generation-0 tree
    // is untouched on disk (a reader that planned before the flip reads
    // exactly these files) and version-0 routing resolves to centsA
    assert(preVersion.isEmpty, "fixture: no manifest before the first recluster")
    val oldNodes = spark.read.parquet(s"$dir/nodes")
    assert(oldNodes.select("vec_id").distinct().count() === 200L)
    assert(cset(Hnsw.routedCentroidsAt(spark, dir, 0)) === cset(centsA))
  }

  test("insertIntoRouted: grown layout == fresh build over the union; untouched cells stay at gen 0") {
    val dir = java.nio.file.Files.createTempDirectory("routed_ins").toString
    val cents = centsOf(Seq(0L, 60L, 120L, 190L))
    val base = emb.filter(col("vec_id") < 150)
    val fresh = emb.filter(col("vec_id") >= 150)
    Hnsw.saveRouted(base, cents, p, dir, replication = 2)

    Hnsw.insertIntoRouted(spark, dir, fresh, p, replication = 2)

    // grown == fresh single-pass build over the union, bit-equal
    val freshDir = java.nio.file.Files.createTempDirectory("routed_ins_fresh").toString
    Hnsw.saveRouted(emb, cents, p, freshDir, replication = 2)
    assert(served(dir) === served(freshDir),
      "grown routed layout must serve like a fresh build over the union")

    // only the receiving cells staged into the new generation — cells
    // the batch never touched keep their generation-0 files
    val (v, m) = CellSnapshot.mappingOrBase(spark, dir, "nodes", "part")
    assert(v === 1, "append must publish one new generation")
    val receiving = Ivf.assignMulti(fresh, cents, 2)
      .select("cell").distinct().collect().map(_.getLong(0)).toSet
    val untouched = m.collect { case (cell, gen) if !receiving.contains(cell) => gen }
    assert(untouched.forall(_ == 0),
      s"untouched cells must stay at gen 0: $m (receiving = $receiving)")
    assert(receiving.forall(c => m(c) == 1), "receiving cells must move to gen 1")

    // composes with the lifecycle: tombstone + recluster after the grow
    Tombstones.record(spark, dir, emb.filter(col("vec_id") % 50 === 0).select("vec_id"))
    Hnsw.reclusterRouted(spark, dir, centsOf(Seq(10L, 70L, 130L, 180L)), p, replication = 2)
    val liveIds = Hnsw.readRoutedNodes(spark, dir).select("vec_id")
      .distinct().collect().map(_.getLong(0)).toSet
    assert(liveIds === (0L until 200L).filter(_ % 50 != 0).toSet)
  }

  test("reclusterRouted folds tombstones in and clears them") {
    val dir = java.nio.file.Files.createTempDirectory("routed_rec_t").toString
    val centsA = centsSkewed
    val centsB = centsOf(Seq(0L, 60L, 120L, 190L))
    Hnsw.saveRouted(emb, centsA, p, dir, replication = 2)
    Tombstones.record(spark, dir,
      emb.filter(pmod(col("vec_id"), lit(9)) === 0).select("vec_id"))

    Hnsw.reclusterRouted(spark, dir, centsB, p, replication = 2)
    assert(Tombstones.ids(spark, dir).isEmpty, "recluster must clear _deletes")
    val liveIds = Hnsw.readRoutedNodes(spark, dir)
      .select("vec_id").distinct().collect().map(_.getLong(0)).toSet
    assert(liveIds === (0L until 200L).filter(_ % 9 != 0).toSet,
      "tombstoned rows must not survive the recluster rewrite")

    val freshDir = java.nio.file.Files.createTempDirectory("routed_rec_t_fresh").toString
    Hnsw.saveRouted(emb.filter(pmod(col("vec_id"), lit(9)) =!= 0), centsB, p,
      freshDir, replication = 2)
    assert(served(dir) === served(freshDir),
      "post-tombstone recluster must serve like a fresh build over the survivors")
  }
}
