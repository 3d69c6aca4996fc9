package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.TopKHeap
import graft.functions.VectorFunctions._

/** The bounded-heap top-k aggregate must reproduce the rank window it
  * replaces on every batch serving path — exactly, including ties —
  * and the fused mapPartitions kernel must reproduce the declarative
  * batch probe.
  */
class TopKAggSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("TopKHeap keeps the k smallest (key, id) pairs under the total order, any arrival order") {
    val pairs = Seq((3.0, 7L), (1.0, 9L), (1.0, 2L), (2.0, 1L), (3.0, 1L), (0.5, 4L), (2.0, 0L))
    for (perm <- pairs.permutations.take(50); k <- Seq(1, 3, 5, 10)) {
      val h = new TopKHeap(k)
      perm.foreach { case (d, i) => h.offer(d, i) }
      assert(h.sorted.toSeq === pairs.sorted.take(k), s"k=$k perm=$perm")
    }
  }

  test("heap aggregate == row_number window on random multi-partition data, ties included") {
    val rnd = new scala.util.Random(7)
    // duplicated dist values force tie-breaks; 8 partitions force merges
    val rows = (0 until 20000).map { i =>
      (rnd.nextInt(50).toLong, math.floor(rnd.nextDouble() * 20) / 10.0, rnd.nextLong().abs % 1000)
    }
    val df = rows.toDF("query_id", "dist", "vec_id").repartition(8).cache()
    for (k <- Seq(1, 5, 17)) {
      val w = Window.partitionBy("query_id").orderBy(col("dist"), col("vec_id"))
      val windowed = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
        .select("query_id", "vec_id", "dist")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val heaped = df
        .groupBy("query_id").agg(topKPairs(col("dist"), col("vec_id"), k).as("tk"))
        .select(col("query_id"), explode(col("tk")).as("p"))
        .select(col("query_id"), col("p.id").as("vec_id"), col("p.key").as("dist"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(heaped === windowed, s"k=$k")
    }
    // note: duplicate (query_id, dist, vec_id) triples can collapse in
    // the set compare — the window keeps both, the heap keeps both too
    // (they are distinct heap entries); row multiplicity is covered by
    // the count assert:
    val k = 5
    val nWindow = df.withColumn("rn",
      row_number().over(Window.partitionBy("query_id").orderBy(col("dist"), col("vec_id"))))
      .filter(col("rn") <= k).count()
    val nHeap = df.groupBy("query_id").agg(topKPairs(col("dist"), col("vec_id"), k).as("tk"))
      .select(explode(col("tk"))).count()
    assert(nHeap === nWindow)
  }

  test("fused batch kernel == declarative batch probe, all nprobe settings") {
    val emb = (0L until 200L).map { i =>
      val rnd = new scala.util.Random(i)
      (i, Array.fill(16)(rnd.nextFloat() * 100f))
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivf_fused").toString
    Ivf.ensurePartitioned(emb, 16, s"$dir/idx")
    val qs = emb.filter(col("vec_id") < 40)
      .select(col("vec_id").as("query_id"), perturbQuery(col("embedding")).as("query_vec"))
    for (nprobe <- Seq(2, 4, 16)) {
      val decl = Ivf.topKPartitioned(spark, s"$dir/idx", qs, 10, nprobe)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val fused = Ivf.topKPartitionedBatchFused(spark, s"$dir/idx", qs, 10, nprobe)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(fused === decl, s"nprobe=$nprobe")
    }
  }

  test("fused cosine and MIPS batch kernels == their declarative twins") {
    val emb = (0L until 200L).map { i =>
      val rnd = new scala.util.Random(i)
      (i, Array.fill(16)(rnd.nextFloat() * 100f))
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivf_fused_cm").toString
    Ivf.ensurePartitioned(emb, 16, s"$dir/cos", kind = "cosine")
    Ivf.ensurePartitioned(emb, 16, s"$dir/mips", kind = "mips")
    val qs = emb.filter(col("vec_id") < 40)
      .select(col("vec_id").as("query_id"), perturbQuery(col("embedding")).as("query_vec"))
    for (nprobe <- Seq(2, 16)) {
      val cosD = Ivf.topKPartitioned(spark, s"$dir/cos", qs, 10, nprobe)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val cosF = Ivf.topKPartitionedBatchFused(spark, s"$dir/cos", qs, 10, nprobe)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(cosF === cosD, s"cosine nprobe=$nprobe")
      val mipsD = Ivf.topKPartitioned(spark, s"$dir/mips", qs, 10, nprobe)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val mipsF = Ivf.topKPartitionedBatchFused(spark, s"$dir/mips", qs, 10, nprobe)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(mipsF === mipsD, s"mips nprobe=$nprobe")
    }
  }

  test("a one-row (query_vec) frame == the batch of one, row for row and in order, per kind") {
    val emb = (0L until 200L).map { i =>
      val rnd = new scala.util.Random(i)
      (i, Array.fill(16)(rnd.nextFloat() * 100f))
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivf_batch_of_one").toString
    Ivf.ensurePartitioned(emb, 16, s"$dir/plain")
    Ivf.ensurePartitioned(emb, 16, s"$dir/cosine", kind = "cosine")
    Ivf.ensurePartitioned(emb, 16, s"$dir/mips", kind = "mips")
    // the code layouts: Pq.topK serves each, with and without re-rank
    val cents = Ivf.centroids(emb, 16)
    Pq.ensureEncodedPartitioned(emb, cents, Pq.codebooks(emb, 4, 4, 8, 1), 4, 4, s"$dir/pq")
    Pq.ensureEncodedPartitionedResidual(emb, cents,
      Pq.codebooks(Pq.residuals(emb, cents).select("vec_id", "embedding"), 4, 4, 8, 1,
        seedOffset = 16), 4, 4, s"$dir/pq_residual")
    val (lo, hi) = Sq.bounds(emb)
    Sq.ensureEncodedPartitioned(emb, cents, lo, hi, s"$dir/ivfsq8")
    val vectorKinds = Seq("plain", "cosine", "mips")
    def serve(kind: String, qs: org.apache.spark.sql.DataFrame, nprobe: Int,
              rerank: Option[Pq.Rerank]) =
      if (vectorKinds.contains(kind)) Ivf.topKPartitioned(spark, s"$dir/$kind", qs, 10, nprobe)
      else Pq.topK(spark, s"$dir/$kind", qs, 10, nprobe, rerank = rerank)
    for (kind <- vectorKinds ++ Seq("pq", "pq_residual", "ivfsq8");
         rerank <- if (vectorKinds.contains(kind)) Seq(None) else Seq(None, Some(Pq.Rerank(emb, 30)));
         qid <- Seq(3L, 17L); nprobe <- Seq(2, 16)) {
      val one = emb.filter(col("vec_id") === qid).select(perturbQuery(col("embedding")).as("query_vec"))
      val single = serve(kind, one, nprobe, rerank)
      val batch = serve(kind, one.withColumn("query_id", lit(qid)), nprobe, rerank)
      val what = s"$kind rerank=${rerank.isDefined} q=$qid nprobe=$nprobe"
      assert(single.columns.toSeq === batch.columns.toSeq.tail, s"$what: (vec_id, score) out")
      val rows = single.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(rows.length === 10, what)
      assert(rows === batch.collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq, what)
    }
  }

  test("fused kernels == declarative twins when many candidates sit within 10^-roundTo of the k-th key") {
    // the kernels skip the BigDecimal round for a candidate whose raw key
    // is more than 10^-roundTo above a full heap's root: pile hundreds of
    // candidates within a few units of 10^-6 of the boundary, plus far
    // ones, so both the skipped and the rounded branches decide the top k
    val rnd = new scala.util.Random(20261017L)
    def near(base: Array[Float]) = base.map(x => x + ((rnd.nextDouble() - 0.5) * 4e-6).toFloat)
    val l2 = (0L until 400L).map { i =>
      (i, if (i % 4 == 3) Array(30f, 40f, 0f, 0f) else near(Array(3f, 4f, 0f, 0f)))
    }
    // directions within ~2e-3 rad of the query: cosines within ~2e-6 of 1
    val cos = (0L until 400L).map { i =>
      (i, if (i % 4 == 3) Array(1f, 1f, 0f, 0f)
          else Array(1f, (rnd.nextDouble() * 2e-3).toFloat, 0f, 0f))
    }
    val mips = (0L until 400L).map { i =>
      (i, if (i % 4 == 3) Array(-5f, 0f, 1f, 0f) else near(Array(5f, 0f, 1f, 0f)))
    }
    val dir = java.nio.file.Files.createTempDirectory("ivf_fused_near").toString
    Ivf.ensurePartitioned(l2.toDF("vec_id", "embedding"), 4, s"$dir/l2")
    Ivf.ensurePartitioned(cos.toDF("vec_id", "embedding"), 4, s"$dir/cos", kind = "cosine")
    Ivf.ensurePartitioned(mips.toDF("vec_id", "embedding"), 4, s"$dir/mips", kind = "mips")
    val qs = Seq((0L, Array(0.0, 0.0, 0.0, 0.0)), (1L, Array(1e-7, 0.0, 0.0, 0.0)))
      .toDF("query_id", "query_vec")
    val qDir = Seq((0L, Array(1.0, 0.0, 0.0, 0.0)), (1L, Array(1.0, 1e-4, 0.0, 0.0)))
      .toDF("query_id", "query_vec")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    for (k <- Seq(1, 10, 50)) {
      val l2F = rows(Ivf.topKPartitionedBatchFused(spark, s"$dir/l2", qs, k, 4))
      assert(l2F === rows(Ivf.topKPartitioned(spark, s"$dir/l2", qs, k, 4)), s"l2 k=$k")
      assert(l2F.size === 2 * k)
      assert(rows(Ivf.topKPartitionedBatchFused(spark, s"$dir/cos", qDir, k, 4)) ===
        rows(Ivf.topKPartitioned(spark, s"$dir/cos", qDir, k, 4)), s"cosine k=$k")
      assert(rows(Ivf.topKPartitionedBatchFused(spark, s"$dir/mips", qDir, k, 4)) ===
        rows(Ivf.topKPartitioned(spark, s"$dir/mips", qDir, k, 4)), s"mips k=$k")
    }
  }
}
