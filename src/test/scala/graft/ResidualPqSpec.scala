package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions._
import graft.operators.{Ivf, Pq, Tombstones}

/** Residual IVF-PQ invariants: the ADC identity against centroid+residual
  * reconstructions, the recall claim residual encoding exists for
  * (clustered corpora), batch ≡ single, incremental inserts, and the
  * layout-kind mix-up guards.
  */
class ResidualPqSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val M = 8
  private val SubDim = 2 // dim 16 fixture
  private val C = 16     // product-code centroids per subspace
  private val CoarseC = 16

  // CLUSTERED corpus — the geometry residual encoding exists for: 16
  // well-separated centers (scale ~100), within-cluster noise scale 1,
  // MORE clusters than product codewords (16 > c=8). Plain PQ cannot
  // even represent the 16 centers per subspace, let alone the noise;
  // residual PQ spends its whole budget on the noise ball. The seed
  // coarse centroids (vec_id < 16, one per cluster by construction)
  // give each cluster its own cell.
  private lazy val emb = {
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(16)(Array.fill(16)(rnd.nextGaussian() * 100))
    (0L until 400L).map { i =>
      val ctr = centers((i % 16).toInt)
      (i, ctr.map(v => (v + rnd.nextGaussian()).toFloat))
    }.toDF("vec_id", "embedding").cache()
  }

  private lazy val cents = Ivf.centroids(emb, CoarseC).cache()
  // seedOffset past the coarse seeds: rows vec_id < CoarseC ARE the
  // coarse centroids, so their residuals are exactly zero — seeding
  // product codewords from them collapses Lloyd (see test below)
  private lazy val resBooks = Pq.codebooks(
    Pq.residuals(emb, cents).select(col("vec_id"), col("embedding")),
    M, SubDim, C, iters = 1, seedOffset = CoarseC).cache()

  private def query(id: Long) = emb.filter(col("vec_id") === id)
    .select(perturbQuery(col("embedding")).as("query_vec"))

  private def exactTopK(q: org.apache.spark.sql.DataFrame, k: Int): Seq[Long] =
    emb.crossJoin(broadcast(q))
      .select(col("vec_id"), round(l2Distance(col("embedding"), col("query_vec")), 6).as("d"))
      .orderBy(col("d"), col("vec_id")).limit(k).collect().map(_.getLong(0)).toSeq

  private def layout(tag: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"respq_$tag").toString + "/codes"
    Pq.ensureEncodedPartitionedResidual(emb, cents, resBooks, M, SubDim, dir)
    dir
  }

  test("residual ADC distance == distance to centroid + residual reconstruction") {
    val dir = layout("recon")
    val q = query(3)
    // nprobe = C: every cell probed, so every vector is ADC-scored
    val adc = Pq.topK(spark, dir, q, k = 400, nprobe = CoarseC)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val recon = Pq.reconstructResidual(emb, cents, resBooks, M, SubDim)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), l2Distance(col("recon"), col("query_vec")).as("d"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(adc.keySet === recon.keySet)
    adc.foreach { case (id, d) =>
      assert(math.abs(d - recon(id)) < 1e-6,
        s"vec $id: ADC $d vs reconstruction distance ${recon(id)}")
    }
  }

  test("residual encoding lifts ADC recall over plain encoding on a clustered corpus") {
    // the motivating claim (Jégou §IV): residual energy is the
    // within-cell variance, so the same m·c budget quantizes far finer
    val dir = layout("recall")
    val plainBooks = Pq.codebooks(emb, M, SubDim, C, iters = 1)
    val plainDir = java.nio.file.Files.createTempDirectory("respq_plain").toString + "/codes"
    Pq.ensureEncodedPartitioned(emb, cents, plainBooks, M, SubDim, plainDir)
    val k = 10
    val queries = Seq(3L, 17L, 42L, 99L, 123L)
    def recall(ids: Seq[Long], truth: Seq[Long]): Double =
      ids.toSet.intersect(truth.toSet).size.toDouble / truth.size
    val (resR, plainR) = queries.map { qid =>
      val q = query(qid)
      val truth = exactTopK(q, k)
      val res = Pq.topK(spark, dir, q, k, nprobe = CoarseC)
        .collect().map(_.getLong(0)).toSeq
      val plain = Pq.topK(spark, plainDir, q, k, nprobe = CoarseC)
        .collect().map(_.getLong(0)).toSeq
      (recall(res, truth), recall(plain, truth))
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    assert(resR >= plainR,
      s"residual recall ${resR / queries.size} must beat plain ${plainR / queries.size}")
    // and by a real margin on this geometry, not noise
    assert(resR / queries.size >= plainR / queries.size + 0.2,
      s"residual ${resR / queries.size} vs plain ${plainR / queries.size}")
  }

  test("seeding residual codebooks from the coarse-seed rows is degenerate (the offset exists for a reason)") {
    // rows vec_id < CoarseC are their own cell centroids → residual 0:
    // every seed codeword sits at the origin, Lloyd's tie-break funnels
    // all mass into cid 0, and the codebook carries (almost) no centroid
    // diversity — the failure mode seedOffset prevents
    val degenerate = Pq.codebooks(
      Pq.residuals(emb, cents).select(col("vec_id"), col("embedding")),
      M, SubDim, C, iters = 1, seedOffset = 0)
    val distinctPerSub = degenerate
      .groupBy("subspace")
      .agg(countDistinct(col("centroid_vec").cast("array<string>")).as("n"))
      .collect().map(_.getLong(1))
    assert(distinctPerSub.forall(_ <= 2),
      s"zero-seeded residual codebooks collapse (distinct codewords per subspace: ${distinctPerSub.toSeq})")
    val healthy = resBooks
      .groupBy("subspace")
      .agg(countDistinct(col("centroid_vec").cast("array<string>")).as("n"))
      .collect().map(_.getLong(1))
    assert(healthy.forall(_ >= C / 2),
      s"offset-seeded codebooks must keep codeword diversity: ${healthy.toSeq}")
  }

  test("batch residual serving == single-query serving, per query") {
    val dir = layout("batch")
    val qs = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), perturbQuery(col("embedding")).as("query_vec"))
      .cache()
    val batch = Pq.topK(spark, dir, qs, k = 10, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).sortBy(t => (t._2, t._1))).toMap
    (0L until 8L).foreach { qid =>
      val single = Pq.topK(spark, dir,
          qs.filter(col("query_id") === qid).select("query_vec"), k = 10, nprobe = 4)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(t => (t._2, t._1)).toSeq
      assert(batch(qid).toSeq === single, s"query $qid: batch != single")
    }
  }

  test("residual rerank at nprobe=C, shortlist=corpus == exact top-k") {
    val dir = layout("rerank")
    val q = query(11)
    val got = Pq.topK(spark, dir, q, k = 10, nprobe = CoarseC,
      rerank = Some(Pq.Rerank(emb, 400)))
      .collect().map(_.getLong(0)).toSeq
    assert(got === exactTopK(q, 10),
      "full-shortlist rerank must reproduce the exact ranking")
  }

  test("insertIntoResidual: grown layout serves identically to single-pass encode") {
    val base = java.nio.file.Files.createTempDirectory("respq_ins").toString
    val grown = s"$base/grown"
    Pq.ensureEncodedPartitionedResidual(
      emb.filter(pmod(col("vec_id"), lit(5)) =!= 0), cents, resBooks, M, SubDim, grown)
    Pq.insertInto(spark, grown, emb.filter(pmod(col("vec_id"), lit(5)) === 0))
    val whole = layout("ins_whole")
    val q = query(42)
    val a = Pq.topK(spark, grown, q, 10, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val b = Pq.topK(spark, whole, q, 10, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a === b, "cell-local residual inserts must serve like a full encode")
  }

  test("layout-kind guards: plain insert on residual layout (and vice versa) fail loudly") {
    val dir = layout("guard")
    val rows = emb.filter(col("vec_id") < 3)
    // a raw-vector append into residual codes, and a code append into
    // a plain vector layout, are both refused by the recorded kind
    val e1 = intercept[IllegalArgumentException] {
      Ivf.insertInto(spark, dir, rows)
    }
    assert(e1.getMessage.contains("residual"))
    val plainDir = java.nio.file.Files.createTempDirectory("respq_guard_plain").toString + "/vecs"
    Ivf.writePartitionedWith(emb, cents, plainDir)
    val e2 = intercept[IllegalArgumentException] {
      Pq.insertInto(spark, plainDir, rows)
    }
    assert(e2.getMessage.contains("residual"))
    val e3 = intercept[IllegalArgumentException] {
      Pq.topK(spark, plainDir, query(3), 10, nprobe = CoarseC)
    }
    assert(e3.getMessage.contains("'plain'"), e3.getMessage)
  }

  test("tombstones on the residual layout: excluded ids reach no result") {
    val dir = layout("del")
    Tombstones.record(spark, dir, emb.filter(pmod(col("vec_id"), lit(7)) === 0).select("vec_id"))
    val q = query(3)
    val got = Pq.topK(spark, dir, q, 10, nprobe = CoarseC)
      .collect().map(_.getLong(0)).toSeq
    assert(got.forall(_ % 7 != 0), "tombstoned ids must not appear")
    // and the survivors rank exactly like a layout built without them
    val cleanBase = java.nio.file.Files.createTempDirectory("respq_del_clean").toString + "/codes"
    Pq.ensureEncodedPartitionedResidual(emb.filter(pmod(col("vec_id"), lit(7)) =!= 0),
      cents, resBooks, M, SubDim, cleanBase)
    val clean = Pq.topK(spark, cleanBase, q, 10, nprobe = CoarseC)
      .collect().map(_.getLong(0)).toSeq
    assert(got === clean, "serve-time exclusion must equal rebuild-without")
  }
}
