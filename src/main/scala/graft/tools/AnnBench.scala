package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Hnsw, Ivf, Pq}

/** The engine's analog of the reference's one benchmark,
  * `SizeTest(1e6, 25, 64)` (hnsw.cc:485-488, BASELINE.md: ≈167 MB
  * vector RSS, 5.6 s wall, ≈5,530 q/s at recall ≈0.30): build a
  * persisted HNSW over 1M synthetic 25-dim vectors, serve a 10k-query
  * batch from it, measure a recall sample against exact kNN, and report
  * bytes/row + q/s as one JSON line (also written to
  * target/scale_smoke.json).
  *
  * Usage: `runMain graft.tools.AnnBench scale`, sized by
  * `SPARK_GRAFT_SCALE_N` (rows, default 1,000,000; at least 256 for
  * the PQ codebooks) and `SPARK_GRAFT_SCALE_DIM` (default 25), on
  * `SPARK_GRAFT_CPUS` local cores (default 32).
  */
object AnnBench {

  /** Locale-independent fixed-decimal rendering: the `f""` interpolator
    * uses the JVM default locale, which can emit comma decimals
    * (invalid JSON) on e.g. de_DE machines.
    */
  private def fmt(d: Double, decimals: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${decimals}f", Double.box(d))

  def main(args: Array[String]): Unit = {
    if (!args.contains("scale")) {
      System.err.println("usage: graft.tools.AnnBench scale")
      sys.exit(2)
    }
    val spark = graft.Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")
    try scaleSmoke(spark) finally spark.stop()
  }

  private def scaleVectors(spark: SparkSession, n: Int, dim: Int): DataFrame =
    spark.range(n).select(col("id").as("vec_id"),
      array((0 until dim).map(i =>
        (pmod(hash(col("id"), lit(i)), lit(100000)) / lit(1000.0)).cast("float")): _*)
        .as("embedding"))

  /** The 1M×25 build + served-search smoke (see object doc). Vectors
    * are a deterministic hash function of (id, dim-index) in [0, 100) —
    * the value range of the driver testdata — so runs are reproducible
    * without an RNG or stored input.
    */
  private def scaleSmoke(spark: SparkSession): Unit = {
    val n = sys.env.get("SPARK_GRAFT_SCALE_N").flatMap(_.toIntOption).getOrElse(1000000)
    val dim = sys.env.get("SPARK_GRAFT_SCALE_DIM").flatMap(_.toIntOption).getOrElse(25)
    val nQueries = math.min(10000, n)
    val p = Hnsw.Params(numPartitions = 32)
    val emb = scaleVectors(spark, n, dim).cache()
    emb.count() // materialize the cache before timing
    val cachedVecBytes = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum

    val dir = s"target/graft_scale_idx/n${n}_d$dim"
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(dirPath, true) // always time a FRESH build
    val t0 = System.nanoTime()
    Hnsw.save(emb, p, dir)
    val buildSec = (System.nanoTime() - t0) / 1e9
    val indexBytes = fs.getContentSummary(dirPath).getLength
    val nEdges = spark.read.parquet(s"$dir/edges").count()

    val qs = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        graft.functions.VectorFunctions.perturbQuery(col("embedding")).as("query_vec"))
      .cache()
    qs.count()
    val sample = qs.filter(col("query_id") < 200)

    /** Warm-up + timed serve + recall sample for one serving function;
      * efSearch is a pure query-time knob (the stored graph is
      * ef-agnostic), so the sweep reuses one persisted index.
      */
    def serveStats(ef: Int)(serve: (DataFrame, Hnsw.Params) => DataFrame): String = {
      val pe = p.copy(efSearch = ef)
      serve(qs.limit(32), pe).write.format("noop").mode("overwrite").save() // warm-up
      val t = System.nanoTime()
      serve(qs, pe).write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t) / 1e9
      val recall = Hnsw.recallOf(serve(sample, pe), emb, sample, 10)
        .agg(avg(col("recall"))).head().getDouble(0)
      s"""{"ef_search":$ef,"serve_sec":${fmt(sec, 2)},""" +
        s""""queries_per_sec":${(nQueries / sec).toInt},"recall_at_10":${fmt(recall, 4)}}"""
    }

    val efs = Seq(64, 128)
    val exhaustive = efs.map(serveStats(_) { (q, pe) => Hnsw.search(spark, dir, q, 10, pe) })

    // ROUTED serving — the O(nprobe)-per-query scale path: 64 k-means
    // cells, 2x boundary replication, 8 probes/query. This is the form
    // that stays sublinear as shard count grows with data size; the
    // exhaustive fan-out above is the recall ceiling / simplicity
    // baseline.
    val rdir = s"target/graft_scale_idx/routed_n${n}_d$dim"
    fs.delete(new org.apache.hadoop.fs.Path(rdir), true)
    val tR = System.nanoTime()
    val cents = Ivf.kmeans(emb, 64, 2)
    Hnsw.saveRouted(emb, cents, p, rdir, replication = 2)
    val routedBuildSec = (System.nanoTime() - tR) / 1e9
    val routedBytes = fs.getContentSummary(new org.apache.hadoop.fs.Path(rdir)).getLength
    val routed = efs.map(serveStats(_) { (q, pe) =>
      Hnsw.search(spark, rdir, q, 10, pe, nprobe = 8)
    })

    // BATCH IVF serving over the cell-partitioned layout (the same
    // k-means cells as the routed graph): the WHOLE query batch pays
    // one scan pruned to the union of probed cells, and per-candidate
    // work is bounded by the (query_id, cell) probe-pair join — the
    // amortized form a serving tier runs for query streams.
    val idir = s"target/graft_scale_idx/ivf_n${n}_d$dim"
    fs.delete(new org.apache.hadoop.fs.Path(idir), true)
    val tI = System.nanoTime()
    Ivf.ensurePartitionedWith(emb, cents, idir, tag = "scale_c64")
    val ivfBuildSec = (System.nanoTime() - tI) / 1e9
    Ivf.topKPartitioned(spark, idir, qs.limit(32), 10, nprobe = 8)
      .write.format("noop").mode("overwrite").save() // warm-up
    // Swept over batch size: flat-IVF batch cost is candidate-PAIR
    // proportional (batch × nprobe/C × N rows through the score join),
    // so wall time scales linearly with batch and q/s stays FLAT — the
    // batch form's win is the shared (pruned) scan, which matters when
    // I/O dominates at 100 TB, not the in-memory scoring measured
    // here. At equal recall the graph-routed path above serves an
    // order of magnitude more q/s; flat IVF is the zero-graph-build
    // option (partition the table and go).
    val ivfServes = Seq(nQueries / 10, nQueries).map { bq =>
      val batch = qs.filter(col("query_id") < bq)
      val t = System.nanoTime()
      Ivf.topKPartitioned(spark, idir, batch, 10, nprobe = 8)
        .write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t) / 1e9
      s"""{"batch":$bq,"serve_sec":${fmt(sec, 2)},"queries_per_sec":${(bq / sec).toInt}}"""
    }
    // FUSED kernel (Ivf.topKPartitionedBatchFused): scoring and the
    // bounded per-query heaps run in one tight primitive loop — the
    // 1.25e9 candidate pairs are never materialized as rows. Same probe,
    // same pruning, bit-identical distances; TopKAggSpec pins result
    // equality with the declarative form.
    Ivf.topKPartitionedBatchFused(spark, idir, qs.limit(32), 10, nprobe = 8)
      .write.format("noop").mode("overwrite").save() // warm-up
    val ivfServesFused = Seq(nQueries / 10, nQueries).map { bq =>
      val batch = qs.filter(col("query_id") < bq)
      val t = System.nanoTime()
      Ivf.topKPartitionedBatchFused(spark, idir, batch, 10, nprobe = 8)
        .write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t) / 1e9
      s"""{"batch":$bq,"serve_sec":${fmt(sec, 2)},"queries_per_sec":${(bq / sec).toInt}}"""
    }
    val ivfRecall = Hnsw.recallOf(
      Ivf.topKPartitioned(spark, idir, sample, 10, nprobe = 8), emb, sample, 10)
      .agg(avg(col("recall"))).head().getDouble(0)
    val ivfBatch =
      s"""{"cells":64,"nprobe":8,"build_sec":${fmt(ivfBuildSec, 2)},""" +
        s""""recall_at_10":${fmt(ivfRecall, 4)},"serves":[${ivfServes.mkString(",")}],""" +
        s""""serves_fused":[${ivfServesFused.mkString(",")}]}"""

    // IVF-PQ two-stage serving at 1M: codes are 5 bytes/vector (m=5
    // over dim 25) vs 100 raw float bytes; the ADC stage reads ONLY
    // codes in the probed cells, the exact re-rank reads raw vectors
    // for the R-row shortlist (~R point reads/query vs the ~nprobe/C·N
    // ≈ 125k raw rows the flat-IVF path scores). ADC-only recall shows
    // the quantization loss; the re-rank recovers it back to the
    // coarse-probe ceiling (= flat-IVF recall at the same nprobe).
    // Round 9 sweeps to a ≥0.9 operating point: rerank recall is the
    // coarse-probe ceiling (raise nprobe) times the shortlist hit rate
    // (raise m — tighter ADC — and/or shortlist). m=25/subDim=1 is
    // per-dimension scalar quantization: 25-byte codes, still 4× under
    // the raw vectors, with near-exact ADC ranking.
    val rerankBatchN = math.min(2000, n)
    val rerankBatch = qs.filter(col("query_id") < rerankBatchN)
    val pqConfigs = Seq(
      (5, 5, 8, 100),   // round-8 anchor
      (5, 5, 16, 400),  // same 5-byte codes, wider probe + shortlist
      (25, 1, 16, 200)) // scalar-quantized codes, wide probe
    val pqBuilt = scala.collection.mutable.Map.empty[Int, (Double, String)]
    val ivfpqPoints = pqConfigs.map { case (m, subDim, nprobe, shortlist) =>
      val (pqBuildSec, pqdir) = pqBuilt.getOrElseUpdate(m, {
        val d = s"target/graft_scale_idx/ivfpq_m${m}_n${n}_d$dim"
        fs.delete(new org.apache.hadoop.fs.Path(d), true)
        val tQ = System.nanoTime()
        val books = Pq.codebooks(emb, m = m, subDim = subDim, c = 256, iters = 2)
        Pq.ensureEncodedPartitioned(emb, cents, books, m, subDim, d)
        ((System.nanoTime() - tQ) / 1e9, d)
      })
      Pq.topK(spark, pqdir, sample.limit(32), 10, nprobe = nprobe)
        .write.format("noop").mode("overwrite").save() // warm-up
      val adcRecall = Hnsw.recallOf(
        Pq.topK(spark, pqdir, sample, 10, nprobe = nprobe), emb, sample, 10)
        .agg(avg(col("recall"))).head().getDouble(0)
      val tRr = System.nanoTime()
      Pq.topK(spark, pqdir, rerankBatch, 10, nprobe = nprobe,
          rerank = Some(Pq.Rerank(emb, shortlist)))
        .write.format("noop").mode("overwrite").save()
      val rrSec = (System.nanoTime() - tRr) / 1e9
      val rrRecall = Hnsw.recallOf(
        Pq.topK(spark, pqdir, sample, 10, nprobe = nprobe,
          rerank = Some(Pq.Rerank(emb, shortlist))),
        emb, sample, 10).agg(avg(col("recall"))).head().getDouble(0)
      s"""{"m":$m,"c":256,"nprobe":$nprobe,"shortlist":$shortlist,""" +
        s""""build_sec":${fmt(pqBuildSec, 2)},""" +
        s""""adc_recall_at_10":${fmt(adcRecall, 4)},""" +
        s""""rerank_recall_at_10":${fmt(rrRecall, 4)},""" +
        s""""rerank_batch":$rerankBatchN,"rerank_serve_sec":${fmt(rrSec, 2)},""" +
        s""""queries_per_sec":${(rerankBatchN / rrSec).toInt}}"""
    }
    val ivfpqRerank = s"""{"points":[${ivfpqPoints.mkString(",")}]}"""

    val json =
      s"""{"scale_smoke":{"n":$n,"dim":$dim,"build_sec":${fmt(buildSec, 2)},""" +
        s""""inserts_per_sec":${(n / buildSec).toInt},""" +
        s""""index_bytes":$indexBytes,"index_bytes_per_row":${fmt(indexBytes.toDouble / n, 1)},""" +
        s""""cached_vector_bytes":$cachedVecBytes,""" +
        s""""n_hnsw_edges":$nEdges,"query_batch":$nQueries,""" +
        s""""recall_sample_queries":200,""" +
        s""""exhaustive":[${exhaustive.mkString(",")}],""" +
        s""""routed":{"cells":64,"nprobe":8,"replication":2,""" +
        s""""build_sec":${fmt(routedBuildSec, 2)},"index_bytes":$routedBytes,""" +
        s""""serves":[${routed.mkString(",")}]},""" +
        s""""ivf_batch":$ivfBatch,""" +
        s""""ivfpq_rerank":$ivfpqRerank,""" +
        s""""reference":"SizeTest(1e6,25,64) hnsw.cc:485-488 -- 167MB vectors, 5.6s wall, 5530 q/s @ recall 0.30"}}"""
    println(json)
    try java.nio.file.Files.writeString(java.nio.file.Paths.get("target/scale_smoke.json"), json + "\n")
    catch { case e: Throwable => System.err.println(s"[annbench] file write failed: ${e.getMessage}") }
  }
}
