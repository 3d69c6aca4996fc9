package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions._
import graft.operators.Ivf

/** Range search over the cell-partitioned layout, table-driven over
  * the layout kinds {plain, cosine, mips} × {single query, batch}: the
  * layout's recorded kind chooses the metric, and the result must
  * equal a full-scan filter in that metric (the cell pruning is a
  * triangle-inequality bound — LOSSLESS by construction). On clustered
  * data the pruning must actually skip cells (the scale claim: a query
  * ball that intersects few clusters reads few cells' files).
  */
class IvfRangeSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  /** One row of the kind table: a fixture clustered in the kind's own
    * metric, its layout builder, a threshold that selects the query's
    * cluster only, queries drawn from ONE cluster, and the cluster of
    * every row.
    */
  private case class Kind(name: String, fixture: DataFrame, build: (DataFrame, String) => Unit,
                          threshold: Double, queryIds: Seq[Long], cluster: Long => Long)

  /** 4 well-separated blobs in 8-d (centers at 0, 100, 200, 300 on every
    * coordinate, members within ±1): an L2 ball of radius 10 around one
    * blob provably cannot touch the others.
    */
  private lazy val blobs = (0L until 200L).map { i =>
    val rnd = new scala.util.Random(i)
    val center = (i % 4) * 100.0f
    (i, Array.fill(8)(center + rnd.nextFloat() * 2f - 1f))
  }.toDF("vec_id", "embedding").cache()

  /** Vectors near one of 3 orthogonal axes: after normalization these
    * are tight caps on the sphere (a 0.9 cosine floor clears only the
    * query's cap), and their norms ~10 make a 95 dot floor clear only
    * same-axis pairs.
    */
  private lazy val caps = {
    val rnd = new scala.util.Random(5)
    val axes = Seq(Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f), Array(0f, 0f, 1f, 0f))
    (0L until 120L).map { i =>
      (i, axes((i % 3).toInt).map(x => x * 10f + rnd.nextFloat() * 0.5f))
    }.toDF("vec_id", "embedding").cache()
  }

  private lazy val kinds = Seq(
    Kind("plain", blobs,
      (df, dir) => Ivf.writePartitionedWith(df, Ivf.centroids(df, 8), dir),
      10.0, Seq(0L, 4L, 8L), _ % 4),
    Kind("cosine", caps, (df, dir) => Ivf.ensurePartitioned(df, 6, dir, kind = "cosine"),
      0.9, Seq(0L, 3L, 6L), _ % 3),
    Kind("mips", caps, (df, dir) => Ivf.ensurePartitioned(df, 6, dir, kind = "mips"),
      95.0, Seq(0L, 3L, 6L), _ % 3))

  private def layout(k: Kind, rows: DataFrame): String = {
    val dir = Files.createTempDirectory(s"range_${k.name}").toString
    k.build(rows, dir)
    assert(Ivf.layoutKind(spark, dir) === k.name)
    dir
  }

  private def queriesOf(rows: DataFrame, ids: Seq[Long]): DataFrame =
    rows.filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id").as("query_id"), perturbQuery(col("embedding")).as("query_vec"))

  private type Hit = (Long, Long, Double)

  /** The oracle: every (query, row) pair whose score in the kind's
    * metric clears the threshold, by a full scan — ordered like
    * `rangeSearch`'s ordered form.
    */
  private def fullScan(k: Kind, rows: DataFrame, qs: DataFrame): Seq[Hit] = {
    val (emb, q) = (col("embedding"), col("query_vec"))
    val (stored, query, score) = k.name match {
      case "plain" => (rows, q, l2Distance(emb, q))
      case "cosine" => (Ivf.normalized(rows), normalizeQuery(q),
        lit(1.0) - l2DistanceSq(emb, q) / lit(2.0))
      case "mips" => (rows, q, dotProduct(emb, q))
    }
    val s = col("score")
    val (passes, byScore) =
      if (k.name == "plain") (s <= k.threshold, s) else (s >= k.threshold, s.desc)
    stored.crossJoin(broadcast(qs.select(col("query_id"), query.as("query_vec"))))
      .select(col("query_id"), col("vec_id"), round(score, 6).as("score"))
      .filter(passes)
      .orderBy(col("query_id"), byScore, col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
  }

  private def hits(df: DataFrame): Seq[Hit] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

  /** `rangeSearch` in one form: the whole batch in one call, or each
    * query alone as a one-row `(query_vec)` frame (results tagged with
    * its id, concatenated in id order).
    */
  private def serve(dir: String, qs: DataFrame, threshold: Double, batch: Boolean,
                    predicate: Option[Column] = None, ordered: Boolean = true): Seq[Hit] =
    if (batch) hits(Ivf.rangeSearch(spark, dir, qs, threshold, predicate = predicate,
      ordered = ordered))
    else qs.select("query_id").collect().map(_.getLong(0)).sorted.toSeq.flatMap { qid =>
      val one = qs.filter(col("query_id") === qid).select("query_vec")
      val out = Ivf.rangeSearch(spark, dir, one, threshold, predicate = predicate,
        ordered = ordered)
      assert(out.columns.length === 2, s"a single query returns (vec_id, score): ${out.columns}")
      out.collect().map(r => (qid, r.getLong(0), r.getDouble(1)))
    }

  private val forms = Seq("single" -> false, "batch" -> true)

  /** Cell partitions the layout scan of `df` opened (the scan's
    * "number of partitions read" metric, after running it).
    */
  private def cellsRead(df: DataFrame): Long = {
    df.collect()
    new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec if s.relation.partitionSchema.nonEmpty =>
        s.metrics("numPartitions").value
    }.sum
  }

  /** Pruned `rangeSearch` on `k`'s layout, single and batch: equal to
    * the full-scan filter, only the query's own cluster clears the
    * threshold, and the bound skips the other clusters' cells.
    */
  private def prunesLosslessly(k: Kind): Unit =
    for ((form, batch) <- forms) {
      val dir = layout(k, k.fixture)
      val qs = queriesOf(k.fixture, if (batch) k.queryIds else k.queryIds.take(1))
      val got = serve(dir, qs, k.threshold, batch)
      assert(got === fullScan(k, k.fixture, qs),
        s"${k.name}/$form: pruned range search must equal the full-scan filter")
      assert(got.nonEmpty && got.size < k.fixture.count() * qs.count(),
        s"${k.name}/$form: fixture must select a proper subset")
      assert(got.forall(h => k.cluster(h._2) == k.cluster(k.queryIds.head)),
        s"${k.name}/$form: only the query's own cluster clears the threshold")
      // the scale claim: the bound skipped the other clusters' cells
      val read = cellsRead(if (batch) Ivf.rangeSearch(spark, dir, qs, k.threshold)
        else Ivf.rangeSearch(spark, dir, qs.select("query_vec"), k.threshold))
      val total = spark.read.parquet(dir).select("cell").distinct().count()
      assert(read > 0 && read < total,
        s"${k.name}/$form: clustered fixture must prune: read $read of $total cells")
    }

  private def kind(name: String): Kind = kinds.find(_.name == name).get

  test("rangeSearch == brute-force filter; clustered fixture skips non-intersecting cells") {
    // the L2 ball bound (plain) and the normsq dot bound (mips)
    prunesLosslessly(kind("plain"))
    prunesLosslessly(kind("mips"))
  }

  test("cosineRangeSearch == brute-force cosine filter; direction clusters prune") {
    // a cosine layout served by `rangeSearch`: the cosine ball bound on
    // normalized direction caps, 0.9 floor
    prunesLosslessly(kind("cosine"))
  }

  /** One query per cluster: the union of eligible cells covers the
    * whole layout, and each query is still scored only on its own. The
    * batch form must equal the per-query single form and the full scan.
    */
  private def batchMatchesSingle(k: Kind): Unit = {
    val dir = layout(k, k.fixture)
    val qs = queriesOf(k.fixture, 0L until 6L)
    val batch = serve(dir, qs, k.threshold, batch = true)
    assert(batch === serve(dir, qs, k.threshold, batch = false),
      s"${k.name}: the batch form must equal the per-query single form")
    assert(batch === fullScan(k, k.fixture, qs), s"${k.name}: batch must equal the full scan")
    assert((0L until 6L).forall(qid => batch.exists(_._1 == qid)),
      s"${k.name}: every query finds its own cluster")
  }

  test("batch rangeSearch == per-query brute force, on clustered AND near-uniform data") {
    val plain = kind("plain")
    batchMatchesSingle(plain)
    // near-uniform data: nothing prunes, the result is still exact
    val rnd = new scala.util.Random(11)
    val uniform = (0L until 100L).map(i => (i, Array.fill(8)(rnd.nextFloat())))
      .toDF("vec_id", "embedding")
    val dir = layout(plain, uniform)
    val qs = queriesOf(uniform, 0L until 4L)
    val near = serve(dir, qs, 1.5, batch = true)
    assert(near.nonEmpty && near === fullScan(plain.copy(threshold = 1.5), uniform, qs))
  }

  test("batch cosine/MIPS range == per-query single forms, per query") {
    batchMatchesSingle(kind("cosine"))
    batchMatchesSingle(kind("mips"))
  }

  test("filtered range search: predicate == brute force with the same filter, on every form") {
    val pred = pmod(col("vec_id"), lit(8)) === 0
    for (k <- kinds; (form, batch) <- forms) {
      val dir = layout(k, k.fixture)
      val qs = queriesOf(k.fixture, if (batch) k.queryIds else k.queryIds.take(1))
      val got = serve(dir, qs, k.threshold, batch, predicate = Some(pred))
      assert(got === fullScan(k, k.fixture.filter(pred), qs),
        s"${k.name}/$form: filtered range must equal the full scan of the filtered table")
      assert(got.nonEmpty && got.forall(_._2 % 8 == 0))
    }
  }

  test("ordered=false serving twins return the same row SETS with no top-level sort") {
    for (k <- kinds; (form, batch) <- forms) {
      val dir = layout(k, k.fixture)
      val qs = queriesOf(k.fixture, if (batch) k.queryIds else k.queryIds.take(1))
      assert(serve(dir, qs, k.threshold, batch, ordered = false).toSet ===
        serve(dir, qs, k.threshold, batch).toSet, s"${k.name}/$form")
      val unord = Ivf.rangeSearch(spark, dir,
        if (batch) qs else qs.select("query_vec"), k.threshold, ordered = false)
      assert(!unord.queryExecution.executedPlan.toString.contains("Sort "),
        s"${k.name}/$form: the serving twin must not pay a global sort of an unbounded result")
    }
  }

  /** The layout's tombstones are always excluded by `rangeSearch`:
    * with the query's own source row and two cluster-mates taken down,
    * single and batch results hold none of them and equal a layout
    * built without those rows.
    */
  private def tombstonesExcluded(k: Kind): Unit = {
    val dels = k.queryIds
    val dir = layout(k, k.fixture)
    Ivf.recordDeletes(spark, dir, dels.toDF("vec_id"))
    val clean = layout(k, k.fixture.filter(!col("vec_id").isin(dels: _*)))
    for ((form, batch) <- forms) {
      val qs = queriesOf(k.fixture, if (batch) k.queryIds else k.queryIds.take(1))
      val got = serve(dir, qs, k.threshold, batch)
      assert(got.nonEmpty && got.forall(h => !dels.contains(h._2)),
        s"${k.name}/$form: tombstoned ids must reach no range result")
      assert(got === serve(clean, qs, k.threshold, batch),
        s"${k.name}/$form: tombstone serving must equal a layout built without the deleted rows")
    }
  }

  test("rangeSearchWithDeletes: tombstoned ids vanish; == layout rebuilt without them") {
    tombstonesExcluded(kind("plain"))
  }

  test("cosine/MIPS range under tombstones == layouts rebuilt without the deleted rows") {
    tombstonesExcluded(kind("cosine"))
    tombstonesExcluded(kind("mips"))
  }

  test("a NaN cell radius keeps the cell: a degenerate row cannot hide its cell-mates") {
    // a row with a NaN component normalizes to all-NaN, so its cell's
    // covering radius is NaN (Spark's max ranks NaN highest). The row
    // sits at a high id (not a centroid seed) and lands in cell 0 (all
    // its centroid distances tie at NaN) with the query's own cap. A
    // zero-norm row would serve too, but Spark's ANSI division refuses
    // to normalize it at build time.
    val withNaN = caps.filter(col("vec_id") =!= 117L)
      .union(Seq((117L, Array(Float.NaN, 0f, 0f, 0f))).toDF("vec_id", "embedding"))
    val cosine = kind("cosine")
    val dir = layout(cosine, withNaN)
    Ivf.ensureRadii(spark, dir)
    val radii = spark.read.parquet(s"$dir/_radii")
    assert(radii.filter(isnan(col("radius"))).count() === 1, "fixture must hold one NaN radius")
    def shown(h: Seq[Hit]) = h.map(t => (t._1, t._2, t._3.toString))
    for ((form, batch) <- forms) {
      val qs = queriesOf(withNaN, if (batch) cosine.queryIds else cosine.queryIds.take(1))
      val got = serve(dir, qs, cosine.threshold, batch)
      assert(shown(got) === shown(fullScan(cosine, withNaN, qs)),
        s"$form: range over a NaN-radius cell must equal the full-scan filter")
      assert(got.exists(_._2 == 117L), s"$form: Spark's NaN >= floor keeps the NaN row too")
    }
  }

  test("insertInto drops stale radii so grown cells never under-prune") {
    for (k <- kinds) {
      // the query's cluster-mates arrive after the build; the seeds
      // (low ids) stay in the base
      val late = col("vec_id").isin(k.queryIds.tail: _*)
      val dir = layout(k, k.fixture.filter(!late))
      val qs = queriesOf(k.fixture, k.queryIds.take(1)).select("query_vec")
      // materialize radii for the base layout, then grow it
      Ivf.rangeSearch(spark, dir, qs, k.threshold).count()
      Ivf.insertInto(spark, dir, k.fixture.filter(late))
      val got = serve(dir, queriesOf(k.fixture, k.queryIds.take(1)), k.threshold, batch = false)
      assert(got === fullScan(k, k.fixture, queriesOf(k.fixture, k.queryIds.take(1))),
        s"${k.name}: post-insert range search must see the inserted rows (radii regenerated)")
      assert(k.queryIds.tail.forall(id => got.exists(_._2 == id)),
        s"${k.name}: the inserted near-query rows must be found")
    }
  }
}
