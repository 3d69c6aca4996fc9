package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.operators.{Hnsw, Ivf, Pq}
import graft.sources.Tables

/** Targeted ANN micro-benchmark: times the throughput-query shape
  * (every vector perturbed into a query, k=10) for several shard
  * counts and the routed path, with repeats — the signal Bench's
  * single-shot timing can't separate from run variance. Measurement
  * input for tuning `Hnsw.Params.numPartitions`.
  *
  * `runMain graft.tools.AnnBench scale` instead runs the SCALE SMOKE —
  * the engine's analog of the reference's `SizeTest(1e6, 25, 64)`
  * (hnsw.cc:485-488, BASELINE.md: ≈167 MB vector RSS, 5.6 s wall,
  * ≈5,530 q/s at recall ≈0.30): build a persisted HNSW over 1M
  * synthetic 25-dim vectors, serve a 10k-query batch from it, measure
  * a recall sample against exact kNN, and report bytes/row + q/s as
  * one JSON line (also written to target/scale_smoke.json).
  */
object AnnBench {

  /** Locale-independent fixed-decimal rendering: the `f""` interpolator
    * uses the JVM default locale, which can emit comma decimals
    * (invalid JSON) on e.g. de_DE machines.
    */
  private def fmt(d: Double, decimals: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${decimals}f", Double.box(d))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")
    if (args.contains("scale")) { scaleSmoke(spark); spark.stop(); return }
    if (args.contains("adc")) { adcFastSmoke(spark); spark.stop(); return }
    if (args.contains("deletes")) { deleteSmoke(spark); spark.stop(); return }
    if (args.contains("pqclustered")) { pqClusteredSmoke(spark); spark.stop(); return }
    if (args.contains("tiers")) { tiersSmoke(spark); spark.stop(); return }
    if (args.contains("dedupscale")) { dedupScaleSmoke(spark); spark.stop(); return }
    if (args.contains("textscale")) { textScaleSmoke(spark); spark.stop(); return }
    if (args.contains("spanscale")) { spanScaleSmoke(spark); spark.stop(); return }
    if (args.contains("graphscale")) { graphScaleSmoke(spark); spark.stop(); return }
    if (args.contains("layoutscale")) { layoutScaleSmoke(spark); spark.stop(); return }
    if (args.contains("diversity")) { diversitySmoke(spark); spark.stop(); return }
    if (args.contains("streamscale")) { streamScaleSmoke(spark); spark.stop(); return }
    if (args.contains("piiscale")) { piiScaleSmoke(spark); spark.stop(); return }
    if (args.contains("mediascale")) { mediaScaleSmoke(spark); spark.stop(); return }
    if (args.contains("dsirscale")) { dsirScaleSmoke(spark); spark.stop(); return }
    if (args.contains("curatestats")) { curateStatsSmoke(spark); spark.stop(); return }
    if (args.contains("reclusterscale")) { reclusterScaleSmoke(spark); spark.stop(); return }
    if (args.contains("htmlscale")) { htmlScaleSmoke(spark); spark.stop(); return }
    if (args.contains("warcscale")) { warcScaleSmoke(spark); spark.stop(); return }
    if (args.contains("dhashscale")) { dhashScaleSmoke(spark); spark.stop(); return }
    val emb = Tables.embeddings(spark, sfDir)
    val qs = emb.select(col("vec_id").as("query_id"),
      perturbQuery(col("embedding")).as("query_vec"))

    def time(label: String)(f: => Unit): Unit = {
      val ts = (1 to 3).map { _ =>
        System.gc()
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      println(s"[annbench] ${label.padTo(28, ' ')} ${fmt(ts.min, 2)} s " +
        s"(min of 3: ${ts.map(fmt(_, 2)).mkString(", ")})")
    }

    for (p <- Seq(2, 4, 8, 16)) {
      time(s"searchTopK P=$p") {
        Hnsw.searchTopK(emb, qs, 10, Hnsw.Params(numPartitions = p))
          .write.format("noop").mode("overwrite").save()
      }
    }
    val cents = Ivf.kmeans(emb, 8, 2)
    time("searchRouted C=8 nprobe=5 r=2") {
      Hnsw.searchRouted(emb, qs, 10, Hnsw.Params(), cents, nprobe = 5, replication = 2)
        .write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }

  /** PQ-on-realistic-geometry smoke: the scale smoke's PQ table is
    * hash-uniform — PQ's WORST-case input (no structure for the
    * codebooks to exploit), so its recall numbers under-sell the
    * compressed tier. This smoke measures ADC and ADC+rerank recall on
    * a CLUSTERED corpus with a PCA-like decaying variance spectrum
    * (blob structure + anisotropy — the geometry of real embedding
    * spaces), for plain consecutive-slice PQ vs the OPQ-lite
    * variance-balanced permutation (`Pq.balancedPerm`). Deterministic
    * hash data, no RNG. Output: one JSON line + target/pq_clustered.json.
    */
  private def pqClusteredSmoke(spark: SparkSession): Unit = {
    val n = sys.env.get("SPARK_GRAFT_PQC_N").flatMap(_.toIntOption).getOrElse(200000)
    val dim = 32
    val kBlobs = 16
    val (m, subDim, c, iters) = (8, 4, 64, 2)
    // blob centers spread in [-40, 40] on dim 0 decaying ~1/(1+i);
    // member noise at 10% of the center spread — tight, well-separated
    // blobs whose energy concentrates in the leading dims
    val blob = pmod(hash(col("id")), lit(kBlobs))
    val emb = spark.range(n).select(col("id").as("vec_id"),
      array((0 until dim).map { i =>
        val center = (pmod(hash(blob, lit(i)), lit(2001)) - lit(1000)) / lit(1000.0)
        val noise = (pmod(hash(col("id"), lit(i + 7919)), lit(2001)) - lit(1000)) / lit(10000.0)
        ((center + noise) * lit(40.0 / (1.0 + i))).cast("float")
      }: _*).as("embedding")).cache()
    emb.count()
    val qs = emb.filter(col("vec_id") < 2000)
      .select(col("vec_id").as("query_id"), perturbQuery(col("embedding")).as("query_vec"))
      .cache()
    qs.count()

    /** ADC + rerank recall for one table/query pair (recall is against
      * exact L2 over the SAME table — a permutation is orthogonal, so
      * rotated-space ground truth equals raw-space ground truth).
      */
    def point(variant: String, table: DataFrame, queries: DataFrame): String = {
      val dir = s"target/graft_pqc/${variant}_n${n}"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val books = Pq.codebooks(table, m, subDim, c, iters)
      Pq.ensureEncoded(table, books, m, subDim, dir)
      val adc = Pq.adcTopKStoredBatch(spark, dir, queries, 10)
      val adcRecall = Hnsw.recallOf(adc, table, queries, 10)
        .agg(avg(col("recall"))).head().getDouble(0)
      // two-stage: ADC shortlist 100 → exact L2 rerank (window rank is
      // fine here: 2000 queries × 100 candidates)
      val cand = Pq.adcTopKStoredBatch(spark, dir, queries, 100)
        .select(col("query_id"), col("vec_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("dist"), col("vec_id"))
      val reranked = table.join(broadcast(cand), Seq("vec_id"))
        .join(broadcast(queries), Seq("query_id"))
        .select(col("query_id"), col("vec_id"),
          round(l2Distance(col("embedding"), col("query_vec")), 6).as("dist"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
      val rrRecall = Hnsw.recallOf(reranked, table, queries, 10)
        .agg(avg(col("recall"))).head().getDouble(0)
      s"""{"variant":"$variant","adc_recall_at_10":${fmt(adcRecall, 4)},""" +
        s""""rerank100_recall_at_10":${fmt(rrRecall, 4)}}"""
    }

    /** Shared exact re-rank of a (query_id, vec_id) candidate relation. */
    def rerankRecall(table: DataFrame, queries: DataFrame, cand: DataFrame): Double = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("dist"), col("vec_id"))
      val reranked = table.join(broadcast(cand), Seq("vec_id"))
        .join(broadcast(queries), Seq("query_id"))
        .select(col("query_id"), col("vec_id"),
          round(l2Distance(col("embedding"), col("query_vec")), 6).as("dist"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
      Hnsw.recallOf(reranked, table, queries, 10)
        .agg(avg(col("recall"))).head().getDouble(0)
    }

    /** Residual IVF-PQ on the same corpus: kmeans coarse cells at the
      * blob count, residual codebooks (seeded past the coarse rows),
      * nprobe = C so the measured number is PURE quantization recall —
      * apples-to-apples with the flat plain/rotated points.
      */
    def residualPoint(tag: String, table: DataFrame, queries: DataFrame): String = {
      val dir = s"target/graft_pqc/${tag}_n$n"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val coarseC = 16
      val cents = graft.operators.Ivf.kmeans(table, coarseC, 2)
      val books = Pq.codebooks(
        Pq.residuals(table, cents).select(col("vec_id"), col("embedding")),
        m, subDim, c, iters, seedOffset = coarseC)
      Pq.ensureEncodedPartitionedResidual(table, cents, books, m, subDim, dir)
      // double-sum serving twin: recall is unchanged on separated data
      // and the decimal chain prices the 400M-pair recall pass out
      val adc = Pq.topK(spark, dir, queries, 10, nprobe = coarseC,
        exactSums = false)
      val adcRecall = Hnsw.recallOf(adc, table, queries, 10)
        .agg(avg(col("recall"))).head().getDouble(0)
      val cand = Pq.topK(spark, dir, queries, 100, nprobe = coarseC,
          exactSums = false)
        .select(col("query_id"), col("vec_id"))
      val rr = rerankRecall(table, queries, cand)
      s"""{"variant":"$tag","adc_recall_at_10":${fmt(adcRecall, 4)},""" +
        s""""rerank100_recall_at_10":${fmt(rr, 4)}}"""
    }

    /** SQ8 on the same corpus: 8 bits per DIM (32 bytes/row at dim 32
      * vs 8 for PQ m=8) — more storage, zero training, and the recall
      * ceiling of per-dim quantization.
      */
    def sqPoint(table: DataFrame, queries: DataFrame): String = {
      val dir = s"target/graft_pqc/sq8_n$n"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val (lo, hi) = graft.operators.Sq.bounds(table)
      graft.operators.Sq.ensureEncoded(table, lo, hi, dir)
      val adc = graft.operators.Sq.adcTopKStoredBatch(spark, dir, queries, 10)
      val adcRecall = Hnsw.recallOf(adc, table, queries, 10)
        .agg(avg(col("recall"))).head().getDouble(0)
      val cand = graft.operators.Sq.adcTopKStoredBatch(spark, dir, queries, 100)
        .select(col("query_id"), col("vec_id"))
      val rr = rerankRecall(table, queries, cand)
      s"""{"variant":"sq8","adc_recall_at_10":${fmt(adcRecall, 4)},""" +
        s""""rerank100_recall_at_10":${fmt(rr, 4)}}"""
    }

    /** Binary signatures on the same corpus: 1 bit per dim (4 bytes/row
      * at dim 32) — the funnel's cheapest pre-filter; recall reported
      * for the hamming rank itself and for hamming-100 → exact rerank.
      */
    def binaryPoint(table: DataFrame, queries: DataFrame): String = {
      val dir = s"target/graft_pqc/bin_n$n"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val B = graft.operators.Binary
      val thr = B.thresholds(table)
      B.ensureEncoded(table, thr, dir)
      val ham = B.hammingTopKBatch(spark, dir, queries, 10)
      val hamRecall = Hnsw.recallOf(ham.select(col("query_id"), col("vec_id"),
          col("hamming").as("dist")), table, queries, 10)
        .agg(avg(col("recall"))).head().getDouble(0)
      val cand = B.hammingTopKBatch(spark, dir, queries, 100)
        .select(col("query_id"), col("vec_id"))
      val rr = rerankRecall(table, queries, cand)
      s"""{"variant":"binary","hamming_recall_at_10":${fmt(hamRecall, 4)},""" +
        s""""rerank100_recall_at_10":${fmt(rr, 4)}}"""
    }

    val plain = point("plain", emb, qs)
    val perm = Pq.balancedPerm(emb, m, subDim)
    val rotEmb = emb.select(col("vec_id"), Pq.permute(col("embedding"), perm).as("embedding"))
      .cache()
    rotEmb.count()
    val rotQs = qs.select(col("query_id"), Pq.permute(col("query_vec"), perm).as("query_vec"))
    val rotated = point("rotated", rotEmb, rotQs)
    val residual = residualPoint("residual_c16", emb, qs)
    // rotation ∘ residual: balance subspace energy FIRST, then spend
    // the code budget on within-cell residuals — the two lifts compose
    val rotResidual = residualPoint("rotated_residual_c16", rotEmb, rotQs)
    val sq8 = sqPoint(emb, qs)
    val bin = binaryPoint(emb, qs)

    // FULL-rank PCA rotation (the OPQ-lite upgrade beyond a
    // permutation): rotate corpus AND queries by the deterministic
    // Jacobi eigenbasis of the covariance — orthogonal, so exact-L2
    // ground truth is preserved and any recall change is purely the
    // quantizer seeing better-aligned axes. Composed with the
    // balancing permutation IN ROTATED SPACE (PCA concentrates energy
    // into the leading dims, which plain consecutive slicing would
    // trap in one subspace — the permutation re-deals it).
    val P = graft.operators.Pca
    val mu = emb.select((0 until dim).map(i =>
        avg(col("embedding").getItem(i).cast("double"))): _*)
      .head().toSeq.map(_.asInstanceOf[Double])
    val (comps, _) = P.principalComponents(P.covarianceApprox(emb), dim)
    def pcaRotate(t: DataFrame, id: String, vec: String): DataFrame =
      P.project(t.select(col(id).as("vec_id"), col(vec).as("embedding")), mu, comps)
        .select(col("vec_id").as(id), col("proj").cast("array<float>").as(vec))
    val pcaEmb = pcaRotate(emb, "vec_id", "embedding").cache()
    pcaEmb.count()
    val pcaQs = pcaRotate(qs, "query_id", "query_vec").cache()
    val pca = point("pca", pcaEmb, pcaQs)
    val permP = Pq.balancedPerm(pcaEmb, m, subDim)
    val pcaPermEmb = pcaEmb.select(col("vec_id"),
      Pq.permute(col("embedding"), permP).as("embedding")).cache()
    val pcaPermQs = pcaQs.select(col("query_id"),
      Pq.permute(col("query_vec"), permP).as("query_vec"))
    val pcaPerm = point("pca_perm", pcaPermEmb, pcaPermQs)
    val pcaPermResidual = residualPoint("pca_perm_residual_c16", pcaPermEmb, pcaPermQs)

    val json = s"""{"pq_clustered":{"n":$n,"dim":$dim,"blobs":$kBlobs,""" +
      s""""m":$m,"sub_dim":$subDim,"c":$c,"iters":$iters,"queries":2000,""" +
      s""""perm":[${perm.mkString(",")}],"points":[$plain,$rotated,$residual,$rotResidual,""" +
      s"""$sq8,$bin,$pca,$pcaPerm,$pcaPermResidual]}}"""
    println(json)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/pq_clustered.json"), json + "\n")
    catch { case e: Throwable => System.err.println(s"[annbench] file write failed: ${e.getMessage}") }
  }

  /** Text-dedup SCALE smoke (the 1M-vector ANN smoke's counterpart for
    * the dedup/curation family): a synthetic multi-million-doc corpus
    * with PLANTED near/exact duplicates, measured through the blocked
    * pipeline — MinHash-LSH candidates → verified pairs → connected-
    * component clusters → the full curate() flow. Records wall time,
    * cumulative shuffle-WRITE bytes per phase (task-metrics listener;
    * attribution is per-phase snapshot, ±listener-lag), and the
    * measured candidate-pair count against the all-pairs n(n−1)/2
    * bound — the number that proves the banded blocking claim at
    * scale. Deterministic hash text, no RNG.
    */
  /** The dedup-scale synthetic corpus: 40-word docs over a ~150k-token
    * effective vocabulary, with planted near dups (id%20==1 → same word
    * stream as id−1 plus one extra word) and exact dups (id%30==2 →
    * byte-identical to id−2). Shared by the dedup-scale and
    * curate-stats smokes so their numbers describe the same corpus.
    */
  private def syntheticCurationCorpus(spark: SparkSession, n: Int,
                                      wordsPerDoc: Int = 40): org.apache.spark.sql.DataFrame = {
    val vocab = ("the quick brown fox jumps over lazy dog table scan merge sort join filter " +
      "group window batch stream row value data key order hash part small fast slow query " +
      "spark line customer index cache disk memory block shard range probe").split(" ").toSeq
    val vlit = array(vocab.map(lit): _*)
    val baseId = when(pmod(col("id"), lit(20)) === 1, col("id") - 1)
      .when(pmod(col("id"), lit(30)) === 2, col("id") - 2)
      .otherwise(col("id"))
    // word = base word + a hashed numeric suffix: effective vocabulary
    // ~38·4096 ≈ 150k distinct tokens, so non-duplicate docs share
    // almost no 3-gram shingles (a 38-word vocab alone packs 2M docs
    // into a 55k-shingle space — average shingle df ≈ 1.4k — and the
    // posting-list pair generation degenerates toward all-pairs; real
    // corpora are shingle-sparse, which is exactly what the blocked
    // pipeline exploits)
    val baseText = concat_ws(" ", (0 until wordsPerDoc).map(w =>
      concat(
        element_at(vlit, (pmod(hash(baseId, lit(w)), lit(vocab.size)) + 1).cast("int")),
        pmod(hash(baseId, lit(w + 104729)), lit(4096)).cast("string"))): _*)
    val text = when(pmod(col("id"), lit(20)) === 1, concat(baseText, lit(" extensionword")))
      .otherwise(baseText)
    spark.range(n).select(
        col("id").as("doc_id"), text.as("text"),
        concat(lit("src"), pmod(col("id"), lit(8))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  private def dedupScaleSmoke(spark: SparkSession): Unit = {
    import graft.operators.{CorpusPipeline, Dedup}
    val n = sys.env.get("SPARK_GRAFT_DEDUP_N").flatMap(_.toIntOption).getOrElse(2000000)
    val wordsPerDoc = 40
    val docs = syntheticCurationCorpus(spark, n, wordsPerDoc).cache()
    docs.count()

    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    })
    def phase(label: String)(f: => Long): String = {
      System.gc()
      val s0 = shuffleBytes.get()
      val t0 = System.nanoTime()
      val count = f
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // let straggler task-end events drain
      val sb = shuffleBytes.get() - s0
      s""""$label":{"rows":$count,"wall_sec":${fmt(sec, 1)},"shuffle_write_bytes":$sb}"""
    }

    val allPairsBound = n.toLong * (n.toLong - 1) / 2
    val candidates = phase("minhash_candidates") {
      Dedup.minhashCandidates(docs).count()
    }
    val verified = phase("minhash_pairs_verified") {
      Dedup.minhashPairs(docs, threshold = 0.7).count()
    }
    val clusters = phase("neardup_clusters") {
      Dedup.nearDupClusters(docs, Dedup.minhashPairs(docs, 0.7))
        .select(col("cluster_id")).distinct().count()
    }
    val curate = phase("curate_full") {
      // minQuality 0: the quality gate is exercised structurally, not
      // as a corpus-specific threshold; lang from the corpus itself
      val lang = graft.operators.TextAnalysis
        .langPredCol(graft.functions.TextFunctions.tokens(col("text")))
      val majority = docs.limit(1000).select(lang.as("l"))
        .groupBy("l").count().orderBy(col("count").desc).head().getString(0)
      CorpusPipeline.curate(docs, majority, 0.0, 0.7).count()
    }
    val json = s"""{"dedup_scale":{"n_docs":$n,"words_per_doc":$wordsPerDoc,""" +
      s""""planted_near_dups":${n / 20},"planted_exact_dups":${n / 30},""" +
      s""""all_pairs_bound":$allPairsBound,""" +
      s"""$candidates,$verified,$clusters,$curate}}"""
    println(json)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/dedup_scale.json"), json + "\n")
    catch { case e: Throwable => System.err.println(s"[annbench] file write failed: ${e.getMessage}") }
  }

  /** The per-stage pipeline accounting ([[graft.operators.CorpusPipeline
    * .curateStats]]) over the SAME 2M-doc synthetic corpus the dedup
    * smoke uses — emits the stage table (rows in/out/changed + shuffle
    * write bytes per stage) as JSON and a markdown table for
    * SCALE_SMOKE.md. The numbers the smokes used to collect piecemeal,
    * now produced by the operator itself.
    */
  private def curateStatsSmoke(spark: SparkSession): Unit = {
    import graft.operators.CorpusPipeline
    val n = sys.env.get("SPARK_GRAFT_DEDUP_N").flatMap(_.toIntOption).getOrElse(2000000)
    val docs = syntheticCurationCorpus(spark, n).cache()
    docs.count()
    val lang = graft.operators.TextAnalysis
      .langPredCol(graft.functions.TextFunctions.tokens(col("text")))
    val majority = docs.limit(1000).select(lang.as("l"))
      .groupBy("l").count().orderBy(col("count").desc).head().getString(0)
    val t0 = System.nanoTime()
    val rows = CorpusPipeline.curateStats(docs, majority, 0.0, 0.7, redactPii = true)
      .collect()
    val wall = (System.nanoTime() - t0) / 1e9
    val md = new StringBuilder(
      "| stage | rows in | rows out | rows changed | shuffle write |\n|---|---|---|---|---|\n")
    val json = new StringBuilder(s"""{"curate_stats":{"n_docs":$n,"wall_sec":${fmt(wall, 1)},"stages":[""")
    rows.zipWithIndex.foreach { case (r, i) =>
      val (st, ri, ro, rc, sb) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      md ++= f"| $st | $ri%,d | $ro%,d | $rc%,d | ${sb / 1048576.0}%.1f MB |%n"
      if (i > 0) json ++= ","
      json ++= s"""{"stage":"$st","rows_in":$ri,"rows_out":$ro,"rows_changed":$rc,"shuffle_write_bytes":$sb}"""
    }
    json ++= "]}}"
    println(json)
    println(md)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/curate_stats.json"), json + "\n" + md)
    catch { case e: Throwable => System.err.println(s"[annbench] file write failed: ${e.getMessage}") }
  }

  /** Chunking / TF-IDF / classifier scale smoke at 2M docs (80M words):
    *
    *  - `chunk_full`: 16/8 sliding-window chunking. Analytic row count
    *    (docs are fixed-length): exactly `1 + (40−16)/8 = 4` chunks per
    *    doc — the measured count is CHECKED against 4n, and the phase's
    *    shuffle bytes demonstrate the claimed shuffle-free plan (only
    *    the count's own 32-row partial-agg exchange remains).
    *  - `tfidf_topk10`: posting-list TF-IDF over a ~150k-term effective
    *    vocabulary — the explode+groupBy posting build is the measured
    *    corpus-scale exchange; everything above it is vocabulary- or
    *    k-sized.
    *  - `logreg_train4`: 4 unrolled GD rounds over the 2M-doc feature
    *    projection — wall ≈ 4 narrow scans + 4 one-row aggregates; the
    *    shuffle bytes stay task-count-sized (one partial-sum row per
    *    task per round), never corpus-sized.
    *
    * Word 0 of every doc is an UNSUFFIXED vocab word so the query /
    * label / feature terms ("query", "spark", "join", "table") exist
    * with realistic document frequencies.
    */
  /** DSIR data-selection smoke: importance weights + Gumbel-top-k
    * resampling over a 2M-doc synthetic corpus (~40 tokens/doc, 10%
    * marked target). The claims under test: (a) model state is
    * corpus-INDEPENDENT (two bucket-bounded aggregates + a broadcast λ
    * table — the paper's hashing point), so the measured shuffle is
    * dominated by the per-doc weight partials, never gram text; (b)
    * throughput is a scan-rate workload. Output: one JSON line +
    * target/dsir_scale.json.
    */
  private def dsirScaleSmoke(spark: SparkSession): Unit = {
    import graft.operators.Sampling
    val n = sys.env.get("SPARK_GRAFT_DSIR_N").flatMap(_.toIntOption).getOrElse(2000000)
    val base = concat_ws(" ", (0 until 40).map(j =>
      concat(lit("w"), pmod(hash(col("id"), lit(j)), lit(50000)).cast("string"))): _*)
    val docs = spark.range(n).select(
        col("id").as("doc_id"), base.as("text"),
        (pmod(col("id"), lit(10)) === 0).as("is_tgt"))
      .cache()
    docs.count()

    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    })
    def phase(label: String)(f: => Long): String = {
      System.gc()
      val s0 = shuffleBytes.get()
      val t0 = System.nanoTime()
      val count = f
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500)
      val sb = shuffleBytes.get() - s0
      println(s"[annbench] dsirscale $label: $count rows, ${fmt(sec, 1)} s " +
        s"(${(n / sec).toLong} docs/s), shuffle ${sb / 1024} KB")
      s""""$label":{"rows":$count,"wall_sec":${fmt(sec, 1)},""" +
        s""""docs_per_sec":${(n / sec).toLong},"shuffle_write_kb":${sb / 1024}}"""
    }
    // materialize through noop (the Bench convention): count() would let
    // the optimizer prune the DECIMAL weight aggregation itself. Row
    // counts are structural (one weight per doc; exactly k resampled).
    def noop(df: org.apache.spark.sql.DataFrame, rows: Long): Long = {
      df.write.format("noop").mode("overwrite").save(); rows
    }
    val weights = phase("dsir_weights")(
      noop(Sampling.dsirWeights(docs, col("is_tgt"), buckets = 4096), n.toLong))
    val sample = phase("dsir_resample_100k")(
      noop(Sampling.dsirResample(docs, col("is_tgt"), k = 100000, buckets = 4096),
        100000L))
    val json = s"""{"dsir_scale":{"n_docs":$n,$weights,$sample}}"""
    println(json)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/dsir_scale.json"), json + "\n")
    catch { case e: Throwable => System.err.println(s"[annbench] file write failed: ${e.getMessage}") }
  }

  private def textScaleSmoke(spark: SparkSession): Unit = {
    import graft.operators.{Classifier, Packing, Retrieval}
    val n = sys.env.get("SPARK_GRAFT_TEXT_N").flatMap(_.toIntOption).getOrElse(2000000)
    val vocab = ("the quick brown fox jumps over lazy dog table scan merge sort join filter " +
      "group window batch stream row value data key order hash part small fast slow query " +
      "spark line customer index cache disk memory block shard range probe").split(" ").toSeq
    val vlit = array(vocab.map(lit): _*)
    val wordsPerDoc = 40
    val wordCols = (0 until wordsPerDoc).map { w =>
      val base = element_at(vlit, (pmod(hash(col("id"), lit(w)), lit(vocab.size)) + 1).cast("int"))
      if (w == 0) base
      else concat(base, pmod(hash(col("id"), lit(w + 104729)), lit(4096)).cast("string"))
    }
    val docs = spark.range(n).select(
        col("id").as("doc_id"), concat_ws(" ", wordCols: _*).as("text"))
      .cache()
    docs.count()

    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    })
    def phase(label: String)(f: => Long): String = {
      System.gc()
      val s0 = shuffleBytes.get()
      val t0 = System.nanoTime()
      val count = f
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500)
      val sb = shuffleBytes.get() - s0
      s""""$label":{"rows":$count,"wall_sec":${fmt(sec, 1)},"shuffle_write_bytes":$sb}"""
    }

    val chunks = phase("chunk_full") {
      val c = Packing.chunkDocs(docs, window = 16, stride = 8).count()
      require(c == 4L * n, s"chunk count $c != analytic ${4L * n}")
      c
    }
    val tfidf = phase("tfidf_topk10") {
      Retrieval.tfidfTopK(docs, Seq("query", "spark", "join"), 10).count()
    }
    val ixDir = "target/graft_index/textscale_tfidf"
    val ixBuild = phase("tfidf_layout_build") {
      Retrieval.writeTfidfLayout(docs, ixDir); 1L
    }
    val ixServe = phase("tfidf_indexed_topk10") {
      Retrieval.tfidfTopKIndexed(spark, ixDir, Seq("query", "spark", "join"), 10).count()
    }
    val ixBatch = phase("tfidf_indexed_batch1k") {
      val bags = (0L until 1000L).map { q =>
        (q, Seq("query", "spark", "join", "table", "merge", "scan")
          .drop((q % 3).toInt).take(3))
      }
      Retrieval.tfidfTopKBatchIndexed(spark, ixDir, bags, 10).count()
    }
    val logreg = phase("logreg_train4") {
      val w = Classifier.train(docs, "spark", Seq("query", "join", "table"), rounds = 4).head()
      require((0 to 3).exists(j => w.getDecimal(j).signum != 0), "weights must move")
      1L
    }
    val json = s"""{"text_scale":{"n_docs":$n,"words_per_doc":$wordsPerDoc,""" +
      s"""$chunks,$tfidf,$ixBuild,$ixServe,$ixBatch,$logreg}}"""
    println(json)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/text_scale.json"), json + "\n")
    catch { case e: Throwable => System.err.println(s"[annbench] file write failed: ${e.getMessage}") }
  }

  /** Substring-level span-dedup scale smoke: the blocked-linear-work
    * claim for [[graft.operators.Dedup.duplicateSpans]] /
    * [[graft.operators.Dedup.spanDedup]] at 2M docs (80M words, 70M
    * 6-gram windows). Two planted duplication modes with ANALYTIC
    * expectations the measured output is checked against:
    *
    *  - BOILERPLATE: docs with id%10==3 (200k) carry one fixed
    *    12-word template at words 15–26 → 7 windows merging into one
    *    span; every non-first occurrence cut = 12 words.
    *  - HEADERS: every doc opens with its source's fixed 6-word header
    *    (8 sources) → exactly one window at pos 1; all but 8 docs lose
    *    6 words.
    *
    * The hot grams (template df 200k, header df 250k) stress the
    * gram-hash aggregation's skew behavior: counting is a map-side
    * partial aggregate, and the join back to windows fans OUT of the
    * count row (never pairs windows with windows), so work stays
    * linear in total windows — the measured shuffle bytes demonstrate
    * it.
    */
  private def spanScaleSmoke(spark: SparkSession): Unit = {
    import graft.operators.Dedup
    val n = sys.env.get("SPARK_GRAFT_SPAN_N").flatMap(_.toIntOption).getOrElse(2000000)
    val vocab = ("the quick brown fox jumps over lazy dog table scan merge sort join filter " +
      "group window batch stream row value data key order hash part small fast slow query " +
      "spark line customer index cache disk memory block shard range probe").split(" ").toSeq
    val vlit = array(vocab.map(lit): _*)
    val wordsPerDoc = 40
    val header = (0 until 6).map(w => concat(lit(s"hdr${w}s"), pmod(col("id"), lit(8))))
    val boiler = (0 until 12).map(w => lit(s"boiler$w"))
    val uniq = (0 until wordsPerDoc).map(w =>
      concat(
        element_at(vlit, (pmod(hash(col("id"), lit(w)), lit(vocab.size)) + 1).cast("int")),
        lit("_"), hash(col("id"), lit(w + 104729)).cast("string")))
    val isBoiler = pmod(col("id"), lit(10)) === 3
    val wordCols = (0 until wordsPerDoc).map { w =>
      if (w < 6) header(w)
      else if (w >= 14 && w < 26) when(isBoiler, boiler(w - 14)).otherwise(uniq(w))
      else uniq(w)
    }
    val docs = spark.range(n).select(
        col("id").as("doc_id"), concat_ws(" ", wordCols: _*).as("text"))
      .cache()
    docs.count()

    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    })
    def phase(label: String)(f: => Long): (String, Long) = {
      System.gc()
      val s0 = shuffleBytes.get()
      val t0 = System.nanoTime()
      val v = f
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500)
      val sb = shuffleBytes.get() - s0
      (s""""$label":{"value":$v,"wall_sec":${fmt(sec, 1)},"shuffle_write_bytes":$sb}""", v)
    }

    val nBoiler = (0L until n.toLong).count(_ % 10 == 3)
    // expected removals: every non-first boilerplate doc loses 12,
    // every non-first doc per source-header loses 6
    val expectedRemoved = (nBoiler - 1) * 12 + (n.toLong - 8) * 6
    val (spansJson, _) = phase("dup_spans") {
      Dedup.duplicateSpans(docs, n = 6).count()
    }
    val (removedJson, removed) = phase("span_dedup_removed_words") {
      Dedup.spanDedup(docs, n = 6)
        .agg(sum(col("n_removed"))).head().getLong(0)
    }
    val totalWords = n.toLong * wordsPerDoc
    val json = s"""{"span_scale":{"n_docs":$n,"words_per_doc":$wordsPerDoc,""" +
      s""""n_boiler_docs":$nBoiler,"expected_removed_words":$expectedRemoved,""" +
      s""""measured_removed_words":$removed,""" +
      s""""removed_frac":${fmt(removed.toDouble / totalWords, 4)},""" +
      s"""$spansJson,$removedJson}}"""
    println(json)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/span_scale.json"), json + "\n")
    catch { case e: Throwable => System.err.println(s"[annbench] file write failed: ${e.getMessage}") }
  }

  /** Graph + interval-join scale smoke: quantifies the two blocking
    * claims the sf0.1 gate can't stress.
    *
    * 1. Triangle counting's DEGREE ORIENTATION on a power-law
    *    multigraph (endpoints drawn as ⌊n·u³⌋ — node 0's expected
    *    degree is m·n^(−1/3), the hub that kills naive wedge
    *    enumeration). Reports the measured wedge workload both ways —
    *    Σ deg·(deg−1)/2 naive vs Σ outdeg·(outdeg−1)/2 oriented (the
    *    actual join size `Graph.triangleCounts` pays) — plus wall
    *    time and the triangle total. PageRank wall on the same edges.
    * 2. `Events.intervalJoin` bucket blocking: I intervals × P points
    *    with NO equi key — reports wall, matched pairs, and the
    *    I·P comparison bound the cartesian plan would pay.
    */
  private def graphScaleSmoke(spark: SparkSession): Unit = {
    import graft.operators.{Events, Graph}
    val m = sys.env.get("SPARK_GRAFT_GRAPH_M").flatMap(_.toIntOption).getOrElse(5000000)
    val n = 1000000L
    def u(salt: Int) =
      (pmod(hash(col("id"), lit(salt)), lit(1000003)) + 0.5) / lit(1000003.0)
    def endpoint(salt: Int) = {
      val x = u(salt)
      floor(x * x * x * n).cast("long")
    }
    val edges = spark.range(m)
      .select(endpoint(1).as("src"), endpoint(2).as("dst")).cache()
    edges.count()

    // canonical simple graph + both wedge workloads (cheap aggregates)
    val und = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct().cache()
    val nUnd = und.count()
    val deg = und.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg")).cache()
    def wedgeSum(d: DataFrame, c: String): Long =
      d.agg(sum((col(c) * (col(c) - 1) / 2).cast("decimal(38,0)")))
        .head().getDecimal(0).longValueExact()
    val naiveWedges = wedgeSum(deg, "deg")
    val maxDeg = deg.agg(max(col("deg"))).head().getLong(0)
    // oriented out-degree: edges whose (deg, id)-smaller endpoint is this node
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
    val apexIsA = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val outDeg = withDeg
      .select(when(apexIsA, col("a")).otherwise(col("b")).as("node"))
      .groupBy("node").agg(count(lit(1)).as("odeg"))
    val orientedWedges = wedgeSum(outDeg, "odeg")

    def timed[T](f: => T): (T, Double) = {
      System.gc()
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val (nTri, triSec) = timed {
      Graph.triangleCounts(edges)
        .agg(sum(col("n_tri"))).head().getLong(0) / 3
    }
    val (_, prSec) = timed {
      Graph.pageRank(edges, iters = 3)
        .write.format("noop").mode("overwrite").save()
    }
    val (nComms, lpSec) = timed {
      Graph.labelPropagation(edges, iters = 3)
        .select(col("label")).distinct().count()
    }

    // interval join: I short windows × P points over a 30-day span
    val dayUs = 86400L * 1000000L
    val winUs = 600L * 1000000L // 10-min buckets = max interval length
    val nIv = 500000
    val nPt = m
    // xxhash64: long-range hashes so the µs epochs cover the whole span
    val ivs = spark.range(nIv).select(col("id").as("interval_id"),
        pmod(xxhash64(col("id"), lit(3)), lit(30 * dayUs)).as("t0"),
        (pmod(xxhash64(col("id"), lit(3)), lit(30 * dayUs)) + lit(1L) +
          pmod(xxhash64(col("id"), lit(4)), lit(winUs))).as("t1"))
    val pts = spark.range(nPt).select(col("id").as("point_id"),
      pmod(xxhash64(col("id"), lit(5)), lit(30 * dayUs)).as("t"))
    val (nPairs, ivSec) = timed {
      Events.intervalJoin(ivs, pts, winUs).count()
    }

    val json = s"""{"graph_scale":{"m_edges":$m,"n_nodes":$n,""" +
      s""""distinct_undirected_edges":$nUnd,"max_degree":$maxDeg,""" +
      s""""naive_wedges":$naiveWedges,"oriented_wedges":$orientedWedges,""" +
      s""""triangles":$nTri,"triangle_wall_sec":${fmt(triSec, 1)},""" +
      s""""pagerank3_wall_sec":${fmt(prSec, 1)},""" +
      s""""labelprop3_communities":$nComms,"labelprop3_wall_sec":${fmt(lpSec, 1)},""" +
      s""""interval_join":{"n_intervals":$nIv,"n_points":$nPt,""" +
      s""""cartesian_bound":${nIv.toLong * nPt},"matched_pairs":$nPairs,""" +
      s""""wall_sec":${fmt(ivSec, 1)}}}}"""
    println(json)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/graph_scale.json"), json + "\n")
    catch { case e: Throwable => System.err.println(s"[annbench] file write failed: ${e.getMessage}") }
  }

  /** Deterministic hash vectors in [0,100) — the smoke's corpus. */
  /** Recluster-maintenance smoke: a DRIFTED ingest stream (base corpus
    * in one region of the space, insert batch offset far outside it)
    * piles the appended rows into the few build-time Voronoi cells
    * nearest the drift — exactly the skew [[graft.operators.Ivf.cellSkew]]
    * is built to catch and [[graft.operators.Ivf.reclusterPartitioned]]
    * to repair. Measures: the diagnostic's cost (cellStats is a
    * (vec_id, cell)-only scan), skew before/after, the recluster
    * rewrite's wall time and rows/s (its I/O is one full-layout read +
    * one partitioned write — the honest price of moving every row's
    * cell), and that post-recluster serving still partition-prunes.
    * Deterministic hash vectors, no RNG. Output: one JSON line +
    * target/recluster_scale.json.
    */
  private def reclusterScaleSmoke(spark: SparkSession): Unit = {
    val n = sys.env.get("SPARK_GRAFT_REC_N").flatMap(_.toIntOption).getOrElse(500000)
    val dim = sys.env.get("SPARK_GRAFT_SCALE_DIM").flatMap(_.toIntOption).getOrElse(25)
    val c = 64
    val base = scaleVectors(spark, n, dim)
    // drift batch: n/5 rows offset +150 in every dim — far outside the
    // base's [0, 100) cube, so frozen-centroid assignment funnels all
    // of them into the boundary cells
    val drift = spark.range(n / 5).select((col("id") + n).as("vec_id"),
      array((0 until dim).map(i =>
        ((pmod(hash(col("id"), lit(i + 7)), lit(100000)) / lit(1000.0)) + lit(150.0))
          .cast("float")): _*).as("embedding"))
    val dir = s"target/graft_scale_idx/recluster_n$n"
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dirPath, true)

    def timed[T](f: => T): (T, Double) = {
      System.gc()
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val cents = Ivf.kmeansCached(base, c, 1)
    val (_, buildSec) = timed { Ivf.writePartitionedWith(base, cents, dir) }
    val (skewBase, _) = timed { Ivf.cellSkew(spark, dir) }
    val (_, insertSec) = timed { Ivf.insertInto(spark, dir, drift) }
    val (skew0, diagSec) = timed { Ivf.cellSkew(spark, dir) }
    // retrain on the union from REPRESENTATIVE seeds (id stride across
    // base AND drift — the contiguous seed window lives entirely in the
    // base region and Lloyd can't migrate centroids across the gap in
    // few rounds), then rewrite
    val total = n + n / 5
    val stride = math.max(1, total / c).toLong
    val union = base.union(drift)
    val seeds = union
      .filter(pmod(col("vec_id"), lit(stride)) === 0 && col("vec_id") < lit(stride * c))
      .select((col("vec_id") / stride).cast("long").as("centroid_id"),
        expr("transform(embedding, x -> cast(x as double))").as("centroid_vec"))
    val newCents = Ivf.kmeansWith(union, seeds, 1)
    val (_, recSec) = timed { Ivf.reclusterPartitioned(spark, dir, newCents) }
    val (skew1, _) = timed { Ivf.cellSkew(spark, dir) }
    // serving sanity: the reclustered layout still partition-prunes
    val q = base.filter(col("vec_id") === 0)
      .select(graft.functions.VectorFunctions.perturbQuery(col("embedding")).as("query_vec"))
    val served = Ivf.topKPartitioned(spark, dir, q, 10, nprobe = 4)
    val pruned = served.queryExecution.executedPlan.toString.contains("PartitionFilters: [cell")
    val rows = served.count()
    println(s"[annbench] reclusterscale n=$total skew base ${fmt(skewBase, 2)} " +
      s"-> drifted ${fmt(skew0, 2)} -> reclustered ${fmt(skew1, 2)}, " +
      s"diag ${fmt(diagSec, 1)} s, recluster ${fmt(recSec, 1)} s " +
      s"(${(total / recSec).toLong} rows/s), pruned=$pruned")
    val json =
      s"""{"recluster_scale":{"n_rows":$total,"c":$c,"build_sec":${fmt(buildSec, 1)},""" +
        s""""insert_sec":${fmt(insertSec, 1)},"skew_base":${fmt(skewBase, 2)},""" +
        s""""skew_drifted":${fmt(skew0, 2)},""" +
        s""""skew_after":${fmt(skew1, 2)},"cellskew_diag_sec":${fmt(diagSec, 1)},""" +
        s""""recluster_sec":${fmt(recSec, 1)},"recluster_rows_per_sec":${(total / recSec).toLong},""" +
        s""""serve_rows":$rows,"serve_partition_pruned":$pruned}}"""
    println(json)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/recluster_scale.json"), json + "\n")
    catch { case _: Exception => }
  }

  private def scaleVectors(spark: SparkSession, n: Int, dim: Int): DataFrame =
    spark.range(n).select(col("id").as("vec_id"),
      array((0 until dim).map(i =>
        (pmod(hash(col("id"), lit(i)), lit(100000)) / lit(1000.0)).cast("float")): _*)
        .as("embedding"))

  /** Fast-ADC (double-sum shortlist) serve points against the code
    * tables the `scale` smoke persisted — the serving twins of the
    * decimal-exact sweep points. Run AFTER `AnnBench scale`.
    */
  /** New-tier serving smoke at the scale geometry (1M×25): SQ8 flat
    * batch ADC (double-sum serving twin), binary Hamming batch, and
    * the three-tier BATCH cascade — throughput (2k-query batch) +
    * recall@10 + layout bytes at rest per tier. The numbers that place
    * each tier on the cost/recall curve beside the IVF-PQ points
    * (`adc` smoke) and the exact/HNSW baselines (`scale` smoke).
    */
  private def tiersSmoke(spark: SparkSession): Unit = {
    import graft.operators.{Binary, Cascade, Sq}
    val n = sys.env.get("SPARK_GRAFT_SCALE_N").flatMap(_.toIntOption).getOrElse(1000000)
    val dim = sys.env.get("SPARK_GRAFT_SCALE_DIM").flatMap(_.toIntOption).getOrElse(25)
    val emb = scaleVectors(spark, n, dim).cache()
    emb.count()
    val qs = emb.filter(col("vec_id") < 2000)
      .select(col("vec_id").as("query_id"),
        graft.functions.VectorFunctions.perturbQuery(col("embedding")).as("query_vec"))
      .cache()
    qs.count()
    val sample = qs.filter(col("query_id") < 200)

    def dirBytes(dir: String): Long = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) 0L else fs.getContentSummary(p).getLength
    }

    val base = s"target/graft_scale_idx"
    val binDir = s"$base/bin_n${n}_d$dim"
    val sqDir = s"$base/sq8_n${n}_d$dim"
    val tBin = System.nanoTime()
    Binary.ensureEncoded(emb, Binary.thresholds(emb), binDir)
    val binBuild = (System.nanoTime() - tBin) / 1e9
    val tSq = System.nanoTime()
    val (lo, hi) = Sq.bounds(emb)
    Sq.ensureEncoded(emb, lo, hi, sqDir)
    val sqBuild = (System.nanoTime() - tSq) / 1e9

    def timeIt(f: => Unit): Double = {
      val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
    }
    def recallOfDf(df: org.apache.spark.sql.DataFrame): Double =
      Hnsw.recallOf(df, emb, sample, 10).agg(avg(col("recall"))).head().getDouble(0)

    // SQ8 flat batch ADC — double-sum serving twin
    Sq.adcTopKStoredBatch(spark, sqDir, sample.limit(32), 10, exactSums = false)
      .write.format("noop").mode("overwrite").save() // warm-up
    val sqSec = timeIt {
      Sq.adcTopKStoredBatch(spark, sqDir, qs, 10, exactSums = false)
        .write.format("noop").mode("overwrite").save()
    }
    val sqRecall = recallOfDf(
      Sq.adcTopKStoredBatch(spark, sqDir, sample, 10, exactSums = false))

    // binary Hamming batch
    val binSec = timeIt {
      Binary.hammingTopKBatch(spark, binDir, qs, 10)
        .write.format("noop").mode("overwrite").save()
    }
    val binRecall = recallOfDf(
      Binary.hammingTopKBatch(spark, binDir, sample, 10)
        .select(col("query_id"), col("vec_id"), col("hamming").as("dist")))

    // three-tier batch cascade
    val (l1, l2) = (200, 50)
    val cascSec = timeIt {
      Cascade.topKBatch(spark, binDir, sqDir, emb, qs, 10, l1, l2, exactSums = false)
        .write.format("noop").mode("overwrite").save()
    }
    val cascRecall = recallOfDf(
      Cascade.topKBatch(spark, binDir, sqDir, emb, sample, 10, l1, l2,
        exactSums = false))

    val json = s"""{"tiers":{"n":$n,"dim":$dim,"batch":2000,""" +
      s""""binary":{"build_sec":${fmt(binBuild, 2)},"bytes":${dirBytes(binDir)},""" +
      s""""serve_sec":${fmt(binSec, 2)},"queries_per_sec":${(2000 / binSec).toInt},""" +
      s""""recall_at_10":${fmt(binRecall, 4)}},""" +
      s""""sq8":{"build_sec":${fmt(sqBuild, 2)},"bytes":${dirBytes(sqDir)},""" +
      s""""serve_sec":${fmt(sqSec, 2)},"queries_per_sec":${(2000 / sqSec).toInt},""" +
      s""""recall_at_10":${fmt(sqRecall, 4)}},""" +
      s""""cascade":{"l1":$l1,"l2":$l2,""" +
      s""""serve_sec":${fmt(cascSec, 2)},"queries_per_sec":${(2000 / cascSec).toInt},""" +
      s""""recall_at_10":${fmt(cascRecall, 4)}}}}"""
    println(json)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/tiers_smoke.json"), json + "\n")
    catch { case e: Throwable => System.err.println(s"[annbench] file write failed: ${e.getMessage}") }
  }

  private def adcFastSmoke(spark: SparkSession): Unit = {
    val n = sys.env.get("SPARK_GRAFT_SCALE_N").flatMap(_.toIntOption).getOrElse(1000000)
    val dim = sys.env.get("SPARK_GRAFT_SCALE_DIM").flatMap(_.toIntOption).getOrElse(25)
    val emb = scaleVectors(spark, n, dim).cache()
    emb.count()
    val qs = emb.filter(col("vec_id") < 10000)
      .select(col("vec_id").as("query_id"),
        graft.functions.VectorFunctions.perturbQuery(col("embedding")).as("query_vec"))
      .cache()
    qs.count()
    val sample = qs.filter(col("query_id") < 200)
    val rerankBatch = qs.filter(col("query_id") < 2000)
    val points = Seq((5, 16, 400), (25, 16, 200)).map { case (m, nprobe, shortlist) =>
      val pqdir = s"target/graft_scale_idx/ivfpq_m${m}_n${n}_d$dim"
      require(new java.io.File(pqdir).exists(), s"run `AnnBench scale` first: missing $pqdir")
      Pq.topK(spark, pqdir, sample.limit(32), 10, nprobe = nprobe, exactSums = false,
          rerank = Some(Pq.Rerank(emb, shortlist)))
        .write.format("noop").mode("overwrite").save() // warm-up
      val t = System.nanoTime()
      Pq.topK(spark, pqdir, rerankBatch, 10, nprobe = nprobe, exactSums = false,
          rerank = Some(Pq.Rerank(emb, shortlist)))
        .write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t) / 1e9
      val recall = Hnsw.recallOf(
        Pq.topK(spark, pqdir, sample, 10, nprobe = nprobe, exactSums = false,
          rerank = Some(Pq.Rerank(emb, shortlist))),
        emb, sample, 10).agg(avg(col("recall"))).head().getDouble(0)
      s"""{"m":$m,"nprobe":$nprobe,"shortlist":$shortlist,""" +
        s""""rerank_recall_at_10":${fmt(recall, 4)},"rerank_batch":2000,""" +
        s""""rerank_serve_sec":${fmt(sec, 2)},"queries_per_sec":${(2000 / sec).toInt}}"""
    }
    val json = s"""{"adc_fast":{"points":[${points.mkString(",")}]}}"""
    println(json)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/adc_fast.json"), json + "\n")
    catch { case e: Throwable => System.err.println(s"[annbench] file write failed: ${e.getMessage}") }
  }

  /** Deletion-lifecycle smoke at the scale-smoke geometry (1M×25,
    * routed 64-cell layout): measures what a takedown costs a serving
    * tier — (a) recording tombstones (O(batch) sidecar append),
    * (b) the serving overhead while tombstones are live (one broadcast
    * anti-mark join on the node load), (c) cell-local compaction
    * (rebuild ONLY the cells holding deleted rows, swap their
    * subtrees) vs the full build, with the rewritten fraction
    * reported. The takedown batch is 10 scattered ids — the
    * takedown-request shape; at replication 2 they live in ≤ 20 of the
    * 64 cells, so compaction I/O is bounded by the AFFECTED cells,
    * never the index (the fraction reported makes the bound concrete).
    */
  private def deleteSmoke(spark: SparkSession): Unit = {
    val n = sys.env.get("SPARK_GRAFT_SCALE_N").flatMap(_.toIntOption).getOrElse(1000000)
    val dim = sys.env.get("SPARK_GRAFT_SCALE_DIM").flatMap(_.toIntOption).getOrElse(25)
    val nQueries = math.min(10000, n)
    val p = Hnsw.Params(numPartitions = 32, efSearch = 64)
    val emb = scaleVectors(spark, n, dim).cache()
    emb.count()
    val qs = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        graft.functions.VectorFunctions.perturbQuery(col("embedding")).as("query_vec"))
      .cache()
    qs.count()

    val rdir = s"target/graft_scale_idx/routed_del_n${n}_d$dim"
    val fs = new org.apache.hadoop.fs.Path(rdir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(rdir), true)
    val cents = Ivf.kmeans(emb, 64, 2)
    val tB = System.nanoTime()
    Hnsw.saveRouted(emb, cents, p, rdir, replication = 2)
    val buildSec = (System.nanoTime() - tB) / 1e9
    val totalBytes = fs.getContentSummary(new org.apache.hadoop.fs.Path(rdir)).getLength

    def timedServe(serve: DataFrame => DataFrame): Double = {
      serve(qs.limit(32)).write.format("noop").mode("overwrite").save() // warm-up
      val t = System.nanoTime()
      serve(qs).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t) / 1e9
    }
    val serveBase = timedServe(Hnsw.search(spark, rdir, _, 10, p, nprobe = 8))

    // the takedown: 10 scattered ids, recorded as an O(batch) append
    val dels = emb.filter(pmod(col("vec_id"), lit(n / 10)) === lit(7)).select("vec_id")
    val nDels = dels.count()
    val tRec = System.nanoTime()
    graft.operators.Tombstones.record(spark, rdir, dels)
    val recordSec = (System.nanoTime() - tRec) / 1e9

    val serveTomb = timedServe(Hnsw.search(spark, rdir, _, 10, p, nprobe = 8))

    val affected = Hnsw.readRoutedNodes(spark, rdir)
      .join(broadcast(dels), Seq("vec_id"), "left_semi")
      .select(col("part").cast("int")).distinct().collect().map(_.getInt(0))
    val tC = System.nanoTime()
    Hnsw.compactRouted(spark, rdir, p)
    val compactSec = (System.nanoTime() - tC) / 1e9
    // round 10: compaction publishes rebuilt cells as an immutable
    // CellSnapshot generation — the staged `_gen` tree IS the
    // rewritten I/O; vacuum then reclaims the superseded subtrees
    // (no concurrent readers in this smoke)
    val genPath = new org.apache.hadoop.fs.Path(s"$rdir/_gen")
    val rewrittenBytes =
      if (fs.exists(genPath)) fs.getContentSummary(genPath).getLength else 0L
    val tV = System.nanoTime()
    Hnsw.vacuumRouted(spark, rdir)
    val vacuumSec = (System.nanoTime() - tV) / 1e9

    val servePost = timedServe(Hnsw.search(spark, rdir, _, 10, p, nprobe = 8))

    val json =
      s"""{"delete_smoke":{"n":$n,"dim":$dim,"cells":64,"replication":2,""" +
        s""""build_sec":${fmt(buildSec, 2)},"index_bytes":$totalBytes,""" +
        s""""tombstones":$nDels,"record_sec":${fmt(recordSec, 2)},""" +
        s""""query_batch":$nQueries,""" +
        s""""serve_sec_baseline":${fmt(serveBase, 2)},""" +
        s""""serve_sec_with_tombstones":${fmt(serveTomb, 2)},""" +
        s""""serve_sec_post_compaction":${fmt(servePost, 2)},""" +
        s""""affected_cells":${affected.length},"total_cells":64,""" +
        s""""compact_sec":${fmt(compactSec, 2)},"vacuum_sec":${fmt(vacuumSec, 2)},""" +
        s""""rewritten_bytes":$rewrittenBytes,""" +
        s""""rewritten_fraction":${fmt(rewrittenBytes.toDouble / totalBytes, 4)}}}"""
    println(json)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/delete_smoke.json"), json + "\n")
    catch { case e: Throwable => System.err.println(s"[annbench] file write failed: ${e.getMessage}") }
  }

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

  /** Z-order layout smoke: an N-row synthetic 2-D table written both
    * Z-ordered and single-column-sorted, then the SAME box scans on
    * each — records the footer-stats eligible-row-group fraction (the
    * quantity a pruning reader acts on) and the measured scan wall.
    * Deterministic hash data, no RNG. Output: one JSON line +
    * target/layout_scale.json.
    */
  private def layoutScaleSmoke(spark: SparkSession): Unit = {
    import graft.operators.Layout
    val n = sys.env.get("SPARK_GRAFT_LAYOUT_N").flatMap(_.toIntOption).getOrElse(5000000)
    val files = 256
    def u(salt: Int) =
      (pmod(hash(col("id"), lit(salt)), lit(1000003)) + 0.5) / lit(1000003.0)
    val rows = spark.range(n).select(col("id"),
      floor(u(1) * 100000).cast("long").as("x"),
      (u(2) * 100000.0).as("y"))
    val base = "target/graft_layout"
    val (zDir, linDir) = (s"$base/z_n$n", s"$base/lin_n$n")
    def timed[T](f: => T): (T, Double) = {
      System.gc()
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val (_, wz) = timed {
      Layout.zorderWrite(rows, Seq("x", "y"), bits = 16, numFiles = files, zDir)
    }
    val (_, wl) = timed {
      rows.repartitionByRange(files, col("x")).sortWithinPartitions("x")
        .write.mode("overwrite").parquet(linDir)
    }
    println(s"[annbench] layout write: z ${fmt(wz, 1)} s, x-sorted ${fmt(wl, 1)} s ($n rows, $files files)")

    val zStats = Layout.rowGroupStats(spark, zDir, Seq("x", "y"))
    val linStats = Layout.rowGroupStats(spark, linDir, Seq("x", "y"))
    // 1% box on both dims, and a 2% slab on the SECOND dim only (the
    // case a single-column sort cannot serve at all)
    val box2d = Map("x" -> (40000.0, 50000.0), "y" -> (70000.0, 71000.0))
    val slabY = Map("y" -> (70000.0, 72000.0))
    def frac(st: Seq[Map[String, (Double, Double)]], b: Map[String, (Double, Double)]) =
      Layout.eligibleRowGroups(st, b).toDouble / st.size
    val (zBox, linBox) = (frac(zStats, box2d), frac(linStats, box2d))
    val (zSlab, linSlab) = (frac(zStats, slabY), frac(linStats, slabY))
    println(f"[annbench] eligible row groups, 2-D box:  z $zBox%.3f  x-sorted $linBox%.3f")
    println(f"[annbench] eligible row groups, y slab:   z $zSlab%.3f  x-sorted $linSlab%.3f")

    def scan(dir: String, pred: org.apache.spark.sql.Column): Double = {
      val ts = (1 to 3).map { _ =>
        timed(spark.read.parquet(dir).filter(pred).agg(count(lit(1))).head())._2
      }
      ts.min
    }
    val boxPred = col("x").between(40000, 50000) && col("y").between(70000.0, 71000.0)
    val slabPred = col("y").between(70000.0, 72000.0)
    val sZBox = scan(zDir, boxPred); val sLBox = scan(linDir, boxPred)
    val sZSlab = scan(zDir, slabPred); val sLSlab = scan(linDir, slabPred)
    println(s"[annbench] box scan wall: z ${fmt(sZBox, 2)} s vs x-sorted ${fmt(sLBox, 2)} s; " +
      s"y-slab: z ${fmt(sZSlab, 2)} s vs ${fmt(sLSlab, 2)} s")
    val json = s"""{"smoke":"layoutscale","n":$n,"files":$files,""" +
      s""""elig_box_z":${fmt(zBox, 3)},"elig_box_lin":${fmt(linBox, 3)},""" +
      s""""elig_slab_z":${fmt(zSlab, 3)},"elig_slab_lin":${fmt(linSlab, 3)},""" +
      s""""scan_box_z_s":${fmt(sZBox, 2)},"scan_box_lin_s":${fmt(sLBox, 2)},""" +
      s""""scan_slab_z_s":${fmt(sZSlab, 2)},"scan_slab_lin_s":${fmt(sLSlab, 2)},""" +
      s""""write_z_s":${fmt(wz, 1)},"write_lin_s":${fmt(wl, 1)}}"""
    println(json)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/layout_scale.json"), json + "\n")
    catch { case e: Throwable => System.err.println(s"[annbench] file write failed: ${e.getMessage}") }
  }

  /** Multimodal codec smoke: REAL ImageIO / javax.sound throughput at
    * corpus scale — 500k synthetic solid PNGs (formula dims ≤ 63×43)
    * and 500k square-wave WAVs (≤ 450 frames), each synthesized
    * in-task then run through the full decode path (and the images
    * additionally through decode→resize→re-encode). All phases are
    * shuffle-free mapPartitions chains; the measured shuffle bytes per
    * phase must be the count's own partial-agg exchange only.
    * Output: one JSON line + target/media_scale.json.
    */
  /** Perceptual image dedup throughput: decode + dHash fingerprints
    * over SPARK_GRAFT_DHASH_N docs' structured assets (~2.2 assets/doc
    * incl. planted rescale / re-encode / perturbed variants), then the
    * 8-band near-dup pair pass. The hash relation is 16 B/asset — the
    * only thing the pair join shuffles; pixels never move.
    */
  private def dhashScaleSmoke(spark: SparkSession): Unit = {
    import graft.operators.Multimodal
    val n = sys.env.get("SPARK_GRAFT_DHASH_N").flatMap(_.toIntOption).getOrElse(100000)
    val docs = spark.range(n).select(col("id").as("doc_id")).cache()
    docs.count()
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    })
    val nAssets = n + n + n / 5 // base + variant + every-5th perturbed
    def phase(label: String)(f: => Long): String = {
      System.gc()
      val s0 = shuffleBytes.get()
      val t0 = System.nanoTime()
      val count = f
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500)
      val sb = shuffleBytes.get() - s0
      println(s"[annbench] dhashscale $label: $count rows, ${fmt(sec, 1)} s " +
        s"(${(nAssets / sec).toLong} assets/s), shuffle $sb B")
      s""""$label":{"rows":$count,"wall_sec":${fmt(sec, 1)},""" +
        s""""assets_per_sec":${(nAssets / sec).toLong},"shuffle_write_bytes":$sb}"""
    }
    val assets = Multimodal.dhashAssetsFromDocuments(docs)
    val fp = phase("decode_dhash")(
      Multimodal.imageDhash(assets).filter(col("decoded")).count())
    val hashes = Multimodal.imageDhash(assets)
    val pairs = phase("neardup_pairs")(
      Multimodal.imageNearDupPairs(hashes, maxHamming = 6).count())
    // density-guard accounting: candidate volume the banded join
    // actually evaluates (rep level, under the default df cap) vs the
    // structural N²/32 floor an unguarded 8-bit band join would pay —
    // the number that has to stay content-driven at 100×
    val distinctHashes = hashes.filter(col("decoded"))
      .select("dhash").distinct().cache()
    val nDistinct = distinctHashes.count()
    val candRows = Multimodal.dhashBandCandidates(distinctHashes).count()
    val naiveFloor = nAssets.toLong * nAssets.toLong / 32L
    distinctHashes.unpersist()
    println(s"[annbench] dhashscale candidates: $candRows rep-level rows " +
      s"($nDistinct distinct of $nAssets assets) vs naive N^2/32 = $naiveFloor " +
      f"(${candRows.toDouble / naiveFloor}%.6f of floor)")
    val guard = s""""candidates":{"distinct_hashes":$nDistinct,""" +
      s""""candidate_rows":$candRows,"naive_floor":$naiveFloor}"""
    val json = s"""{"dhash_scale":{"n_docs":$n,"n_assets":$nAssets,$fp,$pairs,$guard}}"""
    println(json)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/dhash_scale.json"), json + "\n")
    catch { case e: Throwable => System.err.println(s"[annbench] file write failed: ${e.getMessage}") }
  }

  private def mediaScaleSmoke(spark: SparkSession): Unit = {
    import graft.operators.Multimodal
    val n = sys.env.get("SPARK_GRAFT_MEDIA_N").flatMap(_.toIntOption).getOrElse(500000)
    // a documents-shaped frame (doc_id, n_chars) drives the synthesizers
    val docs = spark.range(n).select(col("id").as("doc_id"),
      (pmod(hash(col("id")), lit(2000)) + 40).cast("long").as("n_chars")).cache()
    docs.count()

    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    })
    def phase(label: String)(f: => Long): String = {
      System.gc()
      val s0 = shuffleBytes.get()
      val t0 = System.nanoTime()
      val count = f
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500)
      val sb = shuffleBytes.get() - s0
      println(s"[annbench] mediascale $label: $count rows, ${fmt(sec, 1)} s " +
        s"(${(n / sec).toLong} assets/s), shuffle $sb B")
      s""""$label":{"rows":$count,"wall_sec":${fmt(sec, 1)},""" +
        s""""assets_per_sec":${(n / sec).toLong},"shuffle_write_bytes":$sb}"""
    }
    val encDec = phase("png_encode_decode")(
      Multimodal.decodeImages(Multimodal.pngAssetsFromDocuments(docs))
        .filter(col("decoded")).count())
    val resize = phase("png_resize_roundtrip")(
      Multimodal.resizeImages(Multimodal.pngAssetsFromDocuments(docs), maxSide = 16)
        .count())
    val audio = phase("wav_encode_decode")(
      Multimodal.decodeAudio(Multimodal.wavAssetsFromDocuments(docs))
        .filter(col("decoded")).count())
    // AVI rows out = frames (2-6 per asset), so assets/s prints low by
    // the frame multiplier; the honest per-asset rate is rows/3.5/sec
    val video = phase("avi_encode_decode_frames")(
      Multimodal.decodeVideoFrames(Multimodal.aviAssetsFromDocuments(docs))
        .count())
    val mjpeg = phase("mjpeg_encode_decode_frames")(
      Multimodal.decodeVideoFrames(
        Multimodal.aviAssetsFromDocuments(docs, mjpeg = true)).count())
    val av = phase("av_encode_demux")(
      Multimodal.demuxAv(Multimodal.avAssetsFromDocuments(docs))
        .filter(col("demuxed")).count())
    // the MP4 metadata-pruning pass: full ISO-BMFF encode + box walk
    // per asset — the pass a real corpus runs BEFORE paying frame decode
    val mp4 = phase("mp4_encode_meta")(
      Multimodal.mp4Meta(Multimodal.mp4AssetsFromDocuments(docs))
        .count())
    val json =
      s"""{"media_scale":{"n_assets":$n,$encDec,$resize,$audio,$video,$mjpeg,$av,$mp4}}"""
    println(json)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/media_scale.json"), json + "\n")
    catch { case e: Throwable => System.err.println(s"[annbench] file write failed: ${e.getMessage}") }
  }

  /** PII curation-stage smoke: span extraction and redaction over a
    * 2M-doc synthetic corpus (~20 tokens/doc; 60% carry injected PII —
    * email / phone / SSN+IPv4 by doc_id%5, the declared-query shapes).
    * The claim under test: both operators are NARROW map-side passes —
    * the measured shuffle-write bytes must be ~0 (only the count's own
    * partial-agg exchange), so at 100 TB the PII stage rides the scan.
    * Output: one JSON line + target/pii_scale.json.
    */
  private def piiScaleSmoke(spark: SparkSession): Unit = {
    import graft.operators.TextAnalysis
    val n = sys.env.get("SPARK_GRAFT_PII_N").flatMap(_.toIntOption).getOrElse(2000000)
    val base = concat_ws(" ", transform(sequence(lit(0), lit(19)),
      j => concat(lit("w"), pmod(hash(col("id"), j), lit(1000)))))
    val m = pmod(col("id"), lit(5))
    val docs = spark.range(n).select(col("id").as("doc_id"),
      when(m === 0, concat(base, lit(" user"), col("id").cast("string"),
          lit("@example.com")))
        .when(m === 1, concat(base, lit(" 555-010-"),
          lpad(pmod(col("id"), lit(10000)).cast("string"), 4, "0")))
        .when(m === 2, concat(base, lit(" 123-45-"),
          lpad(pmod(col("id"), lit(10000)).cast("string"), 4, "0"),
          lit(" at 10.0.42.7")))
        .otherwise(base).as("text")).cache()
    docs.count()

    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    })
    def phase(label: String)(f: => Long): String = {
      System.gc()
      val s0 = shuffleBytes.get()
      val t0 = System.nanoTime()
      val count = f
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500)
      val sb = shuffleBytes.get() - s0
      println(s"[annbench] piiscale $label: $count rows, ${fmt(sec, 1)} s " +
        s"(${(n / sec).toLong} docs/s), shuffle $sb B")
      s""""$label":{"rows":$count,"wall_sec":${fmt(sec, 1)},""" +
        s""""docs_per_sec":${(n / sec).toLong},"shuffle_write_bytes":$sb}"""
    }
    val spans = phase("pii_spans")(
      TextAnalysis.piiSpans(docs).filter(col("kind").isNotNull).count())
    val redact = phase("redact_pii")(
      TextAnalysis.redactPii(docs).filter(col("n_pii") > 0).count())
    val json = s"""{"pii_scale":{"n_docs":$n,$spans,$redact}}"""
    println(json)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/pii_scale.json"), json + "\n")
    catch { case e: Throwable => System.err.println(s"[annbench] file write failed: ${e.getMessage}") }
  }

  /** HTML-extraction throughput smoke: the markup stage every web
    * corpus pays before ANY curation operator. 2M docs of synthesized
    * realistic markup (head with style+script to drop, a comment,
    * entity-laden body paragraphs, a nav link farm — ~1 KB/doc),
    * extracted by the single-forward-pass [[graft.functions.HtmlKernels]]
    * scan. Measures html_text extraction, the link-density boilerplate
    * gate, and the composed extract→gate stage — all expected
    * SHUFFLE-FREE (pure codegen projections over the scan; the
    * listener proves it).
    */
  private def htmlScaleSmoke(spark: SparkSession): Unit = {
    import graft.operators.TextAnalysis
    val n = sys.env.get("SPARK_GRAFT_HTML_N").flatMap(_.toIntOption).getOrElse(2000000)
    val body = concat_ws(" ", transform(sequence(lit(0), lit(39)),
      j => concat(lit("word"), pmod(hash(col("id"), j), lit(5000)))))
    val navy = pmod(col("id"), lit(10)) === 0 // every 10th doc is a link farm
    val html = concat(
      lit("<html><head><title>Doc "), col("id").cast("string"), lit("</title>"),
      lit("<style>p { margin: 0 } .nav > a { color: blue }</style>"),
      lit("<script>if (1 < 2) { track('</p>'); }</script></head>"),
      lit("<body><!-- header --><h1>Doc "), col("id").cast("string"), lit("</h1>"),
      lit("<p>"), body, lit(" &amp; more &#65;</p>"),
      when(navy, concat_ws("", transform(sequence(lit(0), lit(60)),
          j => concat(lit("<a href=\"/p/"), j.cast("string"), lit("\">link "),
            j.cast("string"), lit("</a> ")))))
        .otherwise(lit("<div><a href=\"/next\">next page</a></div>")),
      lit("</body></html>"))
    val docs = spark.range(n).select(col("id").as("doc_id"), html.as("html")).cache()
    docs.count()

    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    })
    def phase(label: String)(f: => Long): String = {
      System.gc()
      val s0 = shuffleBytes.get()
      val t0 = System.nanoTime()
      val count = f
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500)
      val sb = shuffleBytes.get() - s0
      println(s"[annbench] htmlscale $label: $count rows, ${fmt(sec, 1)} s " +
        s"(${(n / sec).toLong} docs/s), shuffle $sb B")
      s""""$label":{"rows":$count,"wall_sec":${fmt(sec, 1)},""" +
        s""""docs_per_sec":${(n / sec).toLong},"shuffle_write_bytes":$sb}"""
    }
    val extract = phase("html_text")(
      docs.select(TextAnalysis.htmlText(col("html")).as("text"))
        .filter(length(col("text")) > 0).count())
    val gate = phase("link_density_gate")(
      docs.filter(TextAnalysis.linkDensity(col("html")) > 0.5).count())
    val composed = phase("extract_and_gate")(
      TextAnalysis.extractHtml(docs, "html", maxLinkDensity = 0.5)
        .filter(!col("boilerplate"))
        .filter(length(col("text")) > 0).count())
    val json = s"""{"html_scale":{"n_docs":$n,$extract,$gate,$composed}}"""
    println(json)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/html_scale.json"), json + "\n")
    catch { case e: Throwable => System.err.println(s"[annbench] file write failed: ${e.getMessage}") }
  }

  /** WARC ingestion throughput smoke: a deterministic synthetic crawl
    * (SPARK_GRAFT_WARC_N docs, default 200k, across 64 segment files —
    * half plain, half per-record-gzip-member) written once, then the
    * READ path measured: raw record parse, and the full
    * crawl-to-curation bridge (records → HTTP split → html_text →
    * canonical_url). Both are whole-file binaryFile scans into narrow
    * mapPartitions — expected shuffle-free (listener proves it); the
    * unit of parallelism is the segment file, exactly the 100-TB shape.
    */
  private def warcScaleSmoke(spark: SparkSession): Unit = {
    import graft.sources.Warc
    val n = sys.env.get("SPARK_GRAFT_WARC_N").flatMap(_.toIntOption).getOrElse(200000)
    val body = concat_ws(" ", transform(sequence(lit(0), lit(39)),
      j => concat(lit("word"), pmod(hash(col("id"), j), lit(5000)))))
    val docs = spark.range(n).select(col("id").as("doc_id"), body.as("text"))
    val dir = new java.io.File(s"target/warc_scale_$n").getAbsolutePath
    val t0 = System.nanoTime()
    val glob = Warc.ensureWarcFiles(docs, dir, buckets = 64)
    println(s"[annbench] warcscale synth: ${fmt((System.nanoTime() - t0) / 1e9, 1)} s " +
      "(fixture fingerprint, plus the write when it changed; not measured)")

    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    })
    def phase(label: String)(f: => Long): String = {
      System.gc()
      val s0 = shuffleBytes.get()
      val t1 = System.nanoTime()
      val count = f
      val sec = (System.nanoTime() - t1) / 1e9
      Thread.sleep(500)
      val sb = shuffleBytes.get() - s0
      println(s"[annbench] warcscale $label: $count rows, ${fmt(sec, 1)} s " +
        s"(${(n / sec).toLong} docs/s), shuffle $sb B")
      s""""$label":{"rows":$count,"wall_sec":${fmt(sec, 1)},""" +
        s""""docs_per_sec":${(n / sec).toLong},"shuffle_write_bytes":$sb}"""
    }
    val parse = phase("parse_records")(Warc.read(spark, glob).count())
    val bridge = phase("extract_bridge")(
      Warc.htmlDocuments(Warc.responses(Warc.read(spark, glob)))
        .filter(length(col("text")) > 0).count())
    val json = s"""{"warc_scale":{"n_docs":$n,$parse,$bridge}}"""
    println(json)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/warc_scale.json"), json + "\n")
    catch { case e: Throwable => System.err.println(s"[annbench] file write failed: ${e.getMessage}") }
  }

  /** Streaming-maintenance throughput smoke: the micro-batch append
    * family is spec-EQUAL to batch (StreamingMultimodalSpec) — this
    * measures its COST. Three maintenance paths, each with sustained
    * append throughput (rows/s across all micro-batches), serve
    * latency BEFORE / MID-STREAM / AFTER appends against the same
    * layout (readers and maintenance share the dir by design), and
    * on-disk state bytes:
    *
    *  - IVF cell-partitioned layout: 500k base + 10 × 50k batches via
    *    `StreamingAnn.maintainIvf` (frozen `_centroids`, cell-local
    *    file appends);
    *  - HNSW exhaustive index: 100k base + 5 × 10k batches via
    *    `StreamingAnn.maintainIndex` (beam-inserts into the affected
    *    shards, one snapshot manifest version per batch);
    *  - CMS sketch: 10 × 20k-doc batches via
    *    `StreamingCuration.maintainCms` (O(width) increments/batch).
    *
    * Output: one JSON line + target/stream_scale.json.
    */
  private def streamScaleSmoke(spark: SparkSession): Unit = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dim = 25
    val fsOf = (d: String) => new org.apache.hadoop.fs.Path(d)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def bytes(d: String): Long =
      fsOf(d).getContentSummary(new org.apache.hadoop.fs.Path(d)).getLength
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    def vecRows(from: Long, until: Long): Seq[(Long, Array[Float])] =
      scaleVectors(spark, until.toInt, dim).filter(col("vec_id") >= from)
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

    // ---- IVF cell-partitioned layout ----
    val ivfBase = sys.env.get("SPARK_GRAFT_STREAM_N").flatMap(_.toIntOption).getOrElse(500000)
    val ivfBatch = ivfBase / 10
    val ivfDir = s"target/graft_stream/ivf_n$ivfBase"
    fsOf(ivfDir).delete(new org.apache.hadoop.fs.Path(ivfDir), true)
    val baseEmb = scaleVectors(spark, ivfBase, dim)
    Ivf.writePartitionedWith(baseEmb, Ivf.kmeans(baseEmb, 32, 1), ivfDir)
    val oneQuery = scaleVectors(spark, 1, dim)
      .select(perturbQuery(col("embedding")).as("query_vec"))
    def serveS(): Double = timed(
      Ivf.topKPartitioned(spark, ivfDir, oneQuery, 10, nprobe = 8).collect())._2
    val serveBefore = serveS()
    val memIvf = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Float])]
    val qIvf = graft.streaming.StreamingAnn.maintainIvf(
      memIvf.toDF().toDF("vec_id", "embedding"), ivfDir)
    var midServe = 0.0
    val (_, ivfWall) = timed {
      for (b <- 0 until 10) {
        memIvf.addData(vecRows(ivfBase + b.toLong * ivfBatch,
          ivfBase + (b + 1).toLong * ivfBatch): _*)
        qIvf.processAllAvailable()
        if (b == 4) midServe = serveS()
      }
    }
    qIvf.stop()
    val serveAfter = serveS()
    val ivfRowsPerSec = (10L * ivfBatch / ivfWall).toLong
    println(s"[annbench] streamscale ivf: ${10 * ivfBatch} rows in ${fmt(ivfWall, 1)} s " +
      s"($ivfRowsPerSec rows/s); serve ${fmt(serveBefore, 2)} s before, " +
      s"${fmt(midServe, 2)} s mid-stream, ${fmt(serveAfter, 2)} s after; " +
      s"layout ${bytes(ivfDir)} B")

    // ---- HNSW exhaustive inserts ----
    val hnswBase = 100000
    val hnswBatch = 10000
    val hp = Hnsw.Params(numPartitions = 8)
    val hnswDir = s"target/graft_stream/hnsw_n$hnswBase"
    fsOf(hnswDir).delete(new org.apache.hadoop.fs.Path(hnswDir), true)
    Hnsw.save(scaleVectors(spark, hnswBase, dim), hp, hnswDir)
    val memH = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Float])]
    val qH = graft.streaming.StreamingAnn.maintainIndex(
      memH.toDF().toDF("vec_id", "embedding"), hnswDir, hp)
    val (_, hWall) = timed {
      for (b <- 0 until 5) {
        memH.addData(vecRows(hnswBase + b.toLong * hnswBatch,
          hnswBase + (b + 1).toLong * hnswBatch): _*)
        qH.processAllAvailable()
      }
    }
    qH.stop()
    val hRowsPerSec = (5L * hnswBatch / hWall).toLong
    val version = graft.operators.CellSnapshot.version(spark, hnswDir).getOrElse(0)
    println(s"[annbench] streamscale hnsw: ${5 * hnswBatch} inserts in ${fmt(hWall, 1)} s " +
      s"($hRowsPerSec inserts/s, manifest version $version); index ${bytes(hnswDir)} B")

    // ---- ROUTED HNSW maintenance + auto-recluster ----
    // 100k-row routed layout; 5 batches of 10k inserts of which the
    // last two are a DRIFTED tail (offset far outside every base
    // centroid) — the auto-recluster policy must fire mid-stream and
    // the layout must end within its skew threshold, with serving
    // answering consistently before / mid-stream / after.
    val rBase = 100000
    val rBatch = 10000
    val rp = Hnsw.Params(numPartitions = 8)
    val routedDir = s"target/graft_stream/routed_n$rBase"
    fsOf(routedDir).delete(new org.apache.hadoop.fs.Path(routedDir), true)
    val rEmb = scaleVectors(spark, rBase, dim)
    Hnsw.saveRouted(rEmb, Ivf.kmeans(rEmb, 16, 1), rp, routedDir, replication = 2)
    val rQs = scaleVectors(spark, 20, dim)
      .select(col("vec_id").as("query_id"), perturbQuery(col("embedding")).as("query_vec"))
    def serveRouted(): Double = timed(
      Hnsw.searchRoutedWithIndex(spark, routedDir, rQs, 10, rp, nprobe = 4).collect())._2
    val rServeBefore = serveRouted()
    def driftRows(from: Long, until: Long): Seq[(Long, Array[Float])] =
      vecRows(from, until).map { case (id, v) => (id, v.map(_ + 2000f)) }
    val memR = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Float])]
    val qR = graft.streaming.StreamingAnn.maintainRouted(
      memR.toDF().toDF("vec_id", "embedding"), routedDir, rp, replication = 2,
      recluster = Some(graft.streaming.StreamingAnn.ReclusterPolicy(maxSkew = 2.5, iters = 1)))
    var rMidServe = 0.0
    val (_, rWall) = timed {
      for (b <- 0 until 5) {
        val (from, until) = (rBase + b.toLong * rBatch, rBase + (b + 1).toLong * rBatch)
        memR.addData((if (b >= 3) driftRows(from, until) else vecRows(from, until)): _*)
        qR.processAllAvailable()
        if (b == 2) rMidServe = serveRouted()
      }
    }
    qR.stop()
    val rServeAfter = serveRouted()
    val rRowsPerSec = (5L * rBatch / rWall).toLong
    val endSkew = Hnsw.cellSkewRouted(spark, routedDir)
    val rGen = graft.operators.CellSnapshot.version(spark, routedDir).getOrElse(-1)
    val nServed = Hnsw.readRoutedNodes(spark, routedDir)
      .select("vec_id").distinct().count()
    println(s"[annbench] streamscale routed: ${5 * rBatch} inserts in ${fmt(rWall, 1)} s " +
      s"($rRowsPerSec inserts/s, ${rGen + 1} generations, end skew ${fmt(endSkew, 2)}, " +
      s"rebalanced=${!Hnsw.needsReclusterRouted(spark, routedDir, maxSkew = 2.5)}, " +
      s"$nServed distinct rows); serve ${fmt(rServeBefore, 2)} s before, " +
      s"${fmt(rMidServe, 2)} s mid-stream, ${fmt(rServeAfter, 2)} s after; " +
      s"layout ${bytes(routedDir)} B")

    // ---- CMS sketch increments ----
    val docBatch = 20000
    val cmsDir = s"target/graft_stream/cms"
    fsOf(cmsDir).delete(new org.apache.hadoop.fs.Path(cmsDir), true)
    def docRows(from: Long, until: Long): Seq[(Long, String)] =
      spark.range(from, until).select(col("id"),
        concat_ws(" ", transform(sequence(lit(0), lit(19)),
          j => concat(lit("w"), pmod(hash(col("id"), j), lit(1000))))).as("text"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
    val memC = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val qC = graft.streaming.StreamingCuration.maintainCms(
      memC.toDF().toDF("doc_id", "text"), cmsDir)
    val (_, cWall) = timed {
      for (b <- 0 until 10) {
        memC.addData(docRows(b.toLong * docBatch, (b + 1).toLong * docBatch): _*)
        qC.processAllAvailable()
      }
    }
    qC.stop()
    val cDocsPerSec = (10L * docBatch / cWall).toLong
    println(s"[annbench] streamscale cms: ${10 * docBatch} docs in ${fmt(cWall, 1)} s " +
      s"($cDocsPerSec docs/s); sketch state ${bytes(cmsDir)} B")

    val json = s"""{"stream_scale":{""" +
      s""""ivf":{"base":$ivfBase,"batches":10,"batch_rows":$ivfBatch,""" +
      s""""append_wall_s":${fmt(ivfWall, 1)},"rows_per_sec":$ivfRowsPerSec,""" +
      s""""serve_before_s":${fmt(serveBefore, 2)},"serve_mid_s":${fmt(midServe, 2)},""" +
      s""""serve_after_s":${fmt(serveAfter, 2)},"layout_bytes":${bytes(ivfDir)}},""" +
      s""""hnsw":{"base":$hnswBase,"batches":5,"batch_rows":$hnswBatch,""" +
      s""""append_wall_s":${fmt(hWall, 1)},"inserts_per_sec":$hRowsPerSec,""" +
      s""""manifest_version":$version,"index_bytes":${bytes(hnswDir)}},""" +
      s""""cms":{"batches":10,"batch_docs":$docBatch,"append_wall_s":${fmt(cWall, 1)},""" +
      s""""docs_per_sec":$cDocsPerSec,"state_bytes":${bytes(cmsDir)}}}}"""
    println(json)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/stream_scale.json"), json + "\n")
    catch { case e: Throwable => System.err.println(s"[annbench] file write failed: ${e.getMessage}") }
  }

  /** HNSW neighbor-selection smoke: closest-first vs the diversity
    * heuristic (Params.diversify, SELECT-NEIGHBORS-HEURISTIC) at the
    * SAME edge budget on the clustered anisotropic corpus (the
    * pqclustered geometry — blob structure + decaying variance, where
    * closest-first selection wastes the budget inside one blob).
    * Measures recall@10 and build wall for both policies at a tight
    * budget and at the default budget. Output: one JSON line +
    * target/diversity.json.
    */
  private def diversitySmoke(spark: SparkSession): Unit = {
    val n = sys.env.get("SPARK_GRAFT_DIV_N").flatMap(_.toIntOption).getOrElse(100000)
    val dim = 32
    val kBlobs = 16
    // SPARK_GRAFT_DIV_GEOM=uniform runs the control geometry (no blob
    // structure) — where the heuristic is expected to tie the baseline
    val uniform = sys.env.get("SPARK_GRAFT_DIV_GEOM").contains("uniform")
    val blob = pmod(hash(col("id")), lit(kBlobs))
    val emb = spark.range(n).select(col("id").as("vec_id"),
      array((0 until dim).map { i =>
        if (uniform)
          (pmod(hash(col("id"), lit(i)), lit(100000)) / lit(1000.0)).cast("float")
        else {
          val center = (pmod(hash(blob, lit(i)), lit(2001)) - lit(1000)) / lit(1000.0)
          val noise = (pmod(hash(col("id"), lit(i + 7919)), lit(2001)) - lit(1000)) / lit(10000.0)
          ((center + noise) * lit(40.0 / (1.0 + i))).cast("float")
        }
      }: _*).as("embedding")).cache()
    emb.count()
    val qs = emb.filter(col("vec_id") < 1000)
      .select(col("vec_id").as("query_id"), perturbQuery(col("embedding")).as("query_vec"))
      .cache()
    qs.count()

    def timed[T](f: => T): (T, Double) = {
      System.gc()
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    def point(tag: String, p: Hnsw.Params): String = {
      val (_, buildS) = timed(
        Hnsw.buildEdges(emb, p).write.format("noop").mode("overwrite").save())
      val recall = Hnsw.recallAtK(emb, qs, 10, p)
        .agg(avg(col("recall"))).head().getDouble(0)
      println(s"[annbench] diversity $tag: recall@10 ${fmt(recall, 4)}, " +
        s"build ${fmt(buildS, 1)} s (m=${p.m}, maxM=${p.maxM}, " +
        s"efC=${p.efConstruction}, efS=${p.efSearch}, diversify=${p.diversify})")
      s"""{"tag":"$tag","recall_at_10":${fmt(recall, 4)},""" +
        s""""build_s":${fmt(buildS, 1)},"m":${p.m},"maxM":${p.maxM},""" +
        s""""efC":${p.efConstruction},"efS":${p.efSearch},"diversify":${p.diversify}}"""
    }

    val tight = Hnsw.Params(m = 4, maxM = 6, efConstruction = 24, efSearch = 16,
      numPartitions = 4)
    val deflt = Hnsw.Params(numPartitions = 4)
    val points = Seq(
      point("tight_closest", tight),
      point("tight_diverse", tight.copy(diversify = true)),
      point("default_closest", deflt),
      point("default_diverse", deflt.copy(diversify = true)))
    val json = s"""{"diversity":{"n":$n,"dim":$dim,"blobs":$kBlobs,""" +
      s""""queries":1000,"points":[${points.mkString(",")}]}}"""
    println(json)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/diversity.json"), json + "\n")
    catch { case e: Throwable => System.err.println(s"[annbench] file write failed: ${e.getMessage}") }
  }
}
