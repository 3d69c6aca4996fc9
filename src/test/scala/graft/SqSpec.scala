package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions._
import graft.operators.{Ivf, Pq, Sq, Tombstones}

/** Scalar-quantization (SQ8) invariants: codes in range, the ADC
  * identity against affine reconstructions, batch ≡ single, two-stage
  * exactness, frozen-bounds inserts (clamping), and tombstones.
  */
class SqSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private lazy val emb = (0L until 300L).map { i =>
    val rnd = new scala.util.Random(i * 31 + 5)
    (i, Array.fill(16)(rnd.nextFloat() * 100f - 50f))
  }.toDF("vec_id", "embedding").cache()

  private lazy val (lo, hi) = Sq.bounds(emb)

  private def query(id: Long) = emb.filter(col("vec_id") === id)
    .select(perturbQuery(col("embedding")).as("query_vec"))

  private def exactTopK(q: org.apache.spark.sql.DataFrame, k: Int): Seq[Long] =
    emb.crossJoin(broadcast(q))
      .select(col("vec_id"), round(l2Distance(col("embedding"), col("query_vec")), 6).as("d"))
      .orderBy(col("d"), col("vec_id")).limit(k).collect().map(_.getLong(0)).toSeq

  test("codes are one per dim, in [0, 255], and hit the extremes") {
    val codes = emb.select(col("vec_id"), Sq.encodeCol(col("embedding"), lo, hi).as("codes"))
    val flat = codes.select(posexplode(col("codes")).as(Seq("i", "c"))).cache()
    assert(flat.count() === 300L * 16)
    val mm = flat.agg(min("c"), max("c")).head()
    assert(mm.getInt(0) === 0, "the per-dim minimum must encode to level 0")
    assert(mm.getInt(1) === 255, "the per-dim maximum must encode to level 255")
  }

  test("ADC distance == distance to the affine reconstruction") {
    val dir = java.nio.file.Files.createTempDirectory("sq_recon").toString + "/codes"
    Sq.ensureEncoded(emb, lo, hi, dir)
    val q = query(3)
    val adc = Sq.adcTopKStored(spark, dir, q, k = 300)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val recon = Sq.reconstruct(spark.read.parquet(dir), lo, hi)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), l2Distance(col("recon"), col("query_vec")).as("d"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(adc.keySet === recon.keySet)
    adc.foreach { case (id, d) =>
      assert(math.abs(d - recon(id)) < 1e-6, s"vec $id: ADC $d vs recon ${recon(id)}")
    }
  }

  test("SQ8 quantization error is small relative to the data spread: rerank recovers exact top-k") {
    val dir = java.nio.file.Files.createTempDirectory("sq_rr").toString + "/codes"
    Sq.ensureEncodedPartitioned(emb, Ivf.centroids(emb, 8), lo, hi, dir)
    val q = query(42)
    // every cell probed + a 5x shortlist: the 8-bit grid (~0.4 unit
    // cells on a 100-unit range) must place the true neighbors in the
    // shortlist
    val got = Pq.topK(spark, dir, q, k = 10, nprobe = 8,
      rerank = Some(Pq.Rerank(emb, 50)))
      .collect().map(_.getLong(0)).toSeq
    assert(got === exactTopK(q, 10))
  }

  test("batch ADC == single-query ADC, per query") {
    val dir = java.nio.file.Files.createTempDirectory("sq_batch").toString + "/codes"
    Sq.ensureEncoded(emb, lo, hi, dir)
    val qs = emb.filter(col("vec_id") < 6)
      .select(col("vec_id").as("query_id"), perturbQuery(col("embedding")).as("query_vec"))
      .cache()
    val batch = Sq.adcTopKStoredBatch(spark, dir, qs, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).sortBy(t => (t._2, t._1))).toMap
    (0L until 6L).foreach { qid =>
      val single = Sq.adcTopKStored(spark, dir,
          qs.filter(col("query_id") === qid).select("query_vec"), k = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(t => (t._2, t._1)).toSeq
      assert(batch(qid).toSeq === single, s"query $qid: batch != single")
    }
  }

  test("fast double-sum ADC == decimal-exact ADC on the fixture (serving twin)") {
    // at d=64-class widths the decimal chain is ~50x a double add per
    // candidate; the double chain sums the same terms in the same
    // fixed dim order, so rankings diverge only where two decimal
    // sums are closer than double rounding error — impossible on this
    // well-separated fixture
    val dir = java.nio.file.Files.createTempDirectory("sq_fast").toString + "/codes"
    Sq.ensureEncoded(emb, lo, hi, dir)
    val qs = emb.filter(col("vec_id") < 6)
      .select(col("vec_id").as("query_id"), perturbQuery(col("embedding")).as("query_vec"))
    val exact = Sq.adcTopKStoredBatch(spark, dir, qs, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fast = Sq.adcTopKStoredBatch(spark, dir, qs, 10, exactSums = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fast === exact)
    val pdir = java.nio.file.Files.createTempDirectory("sq_fast2").toString + "/cells"
    Sq.ensureEncodedPartitioned(emb, Ivf.centroids(emb, 8), lo, hi, pdir)
    val e1 = Pq.topK(spark, pdir, emb.filter(col("vec_id") === 3)
        .select(perturbQuery(col("embedding")).as("query_vec")), 10, nprobe = 8)
      .collect().map(_.getLong(0)).toSeq
    val f1 = Pq.topK(spark, pdir, emb.filter(col("vec_id") === 3)
        .select(perturbQuery(col("embedding")).as("query_vec")), 10, nprobe = 8,
        exactSums = false)
      .collect().map(_.getLong(0)).toSeq
    assert(f1 === e1)
  }

  test("frozen-bounds insert: grown layout == single-pass encode; out-of-range rows clamp") {
    val base = java.nio.file.Files.createTempDirectory("sq_ins").toString
    val grown = s"$base/grown"
    Sq.ensureEncodedPartitioned(emb.filter(pmod(col("vec_id"), lit(5)) =!= 0),
      Ivf.centroids(emb, 8), lo, hi, grown)
    Pq.insertInto(spark, grown, emb.filter(pmod(col("vec_id"), lit(5)) === 0))
    val whole = s"$base/whole"
    Sq.ensureEncodedPartitioned(emb, Ivf.centroids(emb, 8), lo, hi, whole)
    val q = query(17)
    val a = Pq.topK(spark, grown, q, 10, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val b = Pq.topK(spark, whole, q, 10, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a === b)
    // a row outside the trained bounds clamps to the edge levels
    val out = Seq((999L, Array.fill(16)(1e6f))).toDF("vec_id", "embedding")
    Pq.insertInto(spark, grown, out)
    val codes = spark.read.parquet(grown).filter(col("vec_id") === 999L)
      .select("codes").collect()(0).getSeq[Int](0)
    assert(codes.forall(_ === 255), "out-of-range components must clamp to level 255")
  }

  test("tombstones: excluded ids reach no SQ8 result") {
    val dir = java.nio.file.Files.createTempDirectory("sq_del").toString + "/codes"
    Sq.ensureEncodedPartitioned(emb, Ivf.centroids(emb, 8), lo, hi, dir)
    Tombstones.record(spark, dir, emb.filter(pmod(col("vec_id"), lit(7)) === 0).select("vec_id"))
    val got = Pq.topK(spark, dir, query(3), 10, nprobe = 8)
      .collect().map(_.getLong(0)).toSeq
    assert(got.nonEmpty && got.forall(_ % 7 != 0))
  }

  test("kind guard: Sq.insertInto refuses a non-SQ8 layout") {
    val dir = java.nio.file.Files.createTempDirectory("sq_guard").toString + "/cells"
    Ivf.ensurePartitioned(emb, 8, dir)
    val e = intercept[IllegalArgumentException] {
      Pq.insertInto(spark, dir, emb.filter(col("vec_id") < 3))
    }
    assert(e.getMessage.contains("IVF-SQ8"))
  }
}
