package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CellSnapshot, CorpusPipeline, Dedup, Hnsw, Ivf, Multimodal, Tombstones}
import graft.streaming.{EventStreams, StreamingAnn, StreamingCuration}
import graft.streaming.EventStreams.SessionEvent

/** Structured Streaming operators (MemoryStream → memory sink) and the
  * multimodal binary-column pipeline.
  */
class StreamingMultimodalSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def t(min: Int) = new Timestamp(1704067200000L + min * 60000L) // 2024-01-01 00:00Z

  test("streaming tumbling counts emit finalized windows after watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val events = mem.toDF().toDF("ts", "event_type", "value")
    val q = EventStreams.tumblingCounts(events, watermark = "30 minutes")
      .writeStream.format("memory").queryName("tumbling_out")
      .outputMode("append").start()
    try {
      mem.addData((t(5), "a", 1.0), (t(20), "a", 2.0), (t(65), "b", 4.0))
      q.processAllAvailable()
      // advance event time far enough to close the first two windows
      mem.addData((t(240), "a", 0.5))
      q.processAllAvailable()
      val rows = spark.table("tumbling_out")
        .select("window_start", "event_type", "n_events", "sum_value")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .sortBy(r => (r._1.getTime, r._2))
      assert(rows.toSeq === Seq(
        (t(0), "a", 2L, 3.0),
        (t(60), "b", 1L, 4.0)))
    } finally q.stop()
  }

  test("streaming cluster maintenance: store labels == batch clustering after every micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val mhDir = java.nio.file.Files.createTempDirectory("mh_cluster_stream").toString
    val tbl = "streamspec_clusters"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    val stale = new java.io.File(wh, tbl); if (stale.exists()) rm(stale)
    val baseText = "the quick brown fox jumps over the lazy dog tonight"
    val base = Seq(
      (1L, baseText), (2L, baseText), // exact dups
      (3L, "completely different words about streaming cluster stores here"),
      (4L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    Dedup.writeMinhashStore(base, mhDir)
    Dedup.writeClusterStore(
      Dedup.nearDupClusters(base, Dedup.minhashPairs(base, 0.5)), tbl, buckets = 4)
    val mem = MemoryStream[(Long, String)]
    val q = StreamingCuration.clusterStreamMinhash(
      mem.toDF().toDF("doc_id", "text"), mhDir, tbl, threshold = 0.5)
    // batch 1 dups a BASE doc; batch 2 dups a BATCH-1 doc — the second
    // merge only works if both stores (pairs AND labels) absorbed
    val batches = Seq(
      Seq((10L, baseText), (11L, "fresh unrelated content words flowing through the pipe")),
      Seq((20L, "fresh unrelated content words flowing through the pipe"), (21L, baseText)))
    try {
      var seen = Seq((1L, baseText), (2L, baseText),
        (3L, "completely different words about streaming cluster stores here"),
        (4L, "one two three four five six seven eight nine ten"))
      batches.foreach { b =>
        mem.addData(b: _*)
        q.processAllAvailable()
        seen = seen ++ b
        val allDf = seen.toDF("doc_id", "text")
        val want = Dedup.nearDupClusters(allDf, Dedup.minhashPairs(allDf, 0.5))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        val served = Dedup.clusterStoreLabels(spark, tbl)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        assert(served === want,
          s"after ${seen.size} docs: store labels must equal batch clustering")
      }
      // the transitive merge across batches actually happened
      val labels = Dedup.clusterStoreLabels(spark, tbl)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(labels(21L) === 1L && labels(10L) === 1L,
        "cross-batch dups must share the base cluster")
      assert(labels(20L) === labels(11L) && labels(20L) === 11L,
        "batch-2 dup of a batch-1 doc must share its cluster")
    } finally q.stop()
  }

  test("streaming curation: filters + in-watermark exact dedup match the batch stages") {
    implicit val sqlCtx = spark.sqlContext
    // real corpus rows (lang/quality classifiers need real text), fed
    // in doc_id order with synthetic arrival times
    val fixture = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") < 60)
      .select("doc_id", "text", "n_chars")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1)
    val mem = MemoryStream[(Timestamp, Long, String, Long)]
    val docs = mem.toDF().toDF("ts", "doc_id", "text", "n_chars")
    val q = StreamingCuration.curateStream(docs, lang = "en", minQuality = 0.3,
        watermark = "1 hour")
      .writeStream.format("memory").queryName("curated_out")
      .outputMode("append").start()
    try {
      mem.addData(fixture.zipWithIndex.map { case ((id, tx, nc), i) =>
        (t(i), id, tx, nc)
      }.toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.table("curated_out").select("text").collect()
        .map(_.getString(0)).toSet
      // batch twin: same filters, exact dedup keeps one doc per text
      val batchDocs = fixture.toSeq.toDF("doc_id", "text", "n_chars")
      val kept1 = CorpusPipeline.filtered(batchDocs, "en", 0.3)
      val batch = kept1.join(Dedup.exactKept(kept1), Seq("doc_id"))
        .select("text").collect().map(_.getString(0)).toSet
      assert(batch.nonEmpty, "fixture must keep at least one document")
      assert(streamed === batch,
        "streaming curation must keep exactly the batch pipeline's surviving texts")
    } finally q.stop()
  }

  test("streaming curation with provenance gate + PII redaction == batch curate(redactPii) stages") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextAnalysis
    val blocklist = Seq("bad.example")
    // real corpus rows with PII and URLs spliced in deterministically:
    // every 3rd doc gets an email+SSN, every 5th a blocked link, every
    // 7th a clean link
    val fixture = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") < 60)
      .select("doc_id", "text", "n_chars")
      .collect().map { r =>
        val id = r.getLong(0)
        val base = r.getString(1)
        val tx = base +
          (if (id % 3 == 0) " mail a.123-45-6789@x.com now" else "") +
          (if (id % 5 == 0) " see https://sub.bad.example/p" else "") +
          (if (id % 7 == 0) " see https://ok.example/q" else "")
        (id, tx, r.getLong(2))
      }.sortBy(_._1)
    val mem = MemoryStream[(Timestamp, Long, String, Long)]
    val docs = mem.toDF().toDF("ts", "doc_id", "text", "n_chars")
    val q = StreamingCuration.curateStream(docs, lang = "en", minQuality = 0.3,
        watermark = "1 hour", redactPii = true, blocklist = blocklist)
      .writeStream.format("memory").queryName("curated_pii_out")
      .outputMode("append").start()
    try {
      mem.addData(fixture.zipWithIndex.map { case ((id, tx, nc), i) =>
        (t(i), id, tx, nc)
      }.toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.table("curated_pii_out").select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1))).toMap
      // batch twin: provenance gate -> lang/quality filter -> redact ->
      // exact dedup on the REDACTED bytes (the curatedDocs stage order)
      val batchDocs = fixture.toSeq.toDF("doc_id", "text", "n_chars")
      val gated = batchDocs.filter(!TextAnalysis.blockedCol(col("text"), blocklist))
      val kept1 = CorpusPipeline.filtered(gated, "en", 0.3)
        .withColumn("text", TextAnalysis.redactCol(col("text")))
      val batch = kept1.join(Dedup.exactKept(kept1), Seq("doc_id"))
        .select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1))).toMap
      assert(batch.nonEmpty, "fixture must keep at least one document")
      assert(streamed.values.toSet === batch.values.toSet,
        "streamed keep-set must equal the batch redacted keep-set")
      assert(streamed.keySet.forall(_ % 5 != 0),
        "docs linking the blocked domain must be gated out")
      assert(streamed.forall { case (_, tx) => !tx.contains("@") },
        "kept texts must be redacted (no raw emails survive)")
      assert(streamed.exists(_._2.contains("<EMAIL>")),
        "some kept doc must show the redaction token")
    } finally q.stop()
  }

  test("streaming curation with the Gopher gate == batch filtered + gopher_pass + exact dedup") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextAnalysis
    val fixture = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") < 60)
      .select("doc_id", "text", "n_chars")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1)
    val mem = MemoryStream[(Timestamp, Long, String, Long)]
    val docs = mem.toDF().toDF("ts", "doc_id", "text", "n_chars")
    val q = StreamingCuration.curateStream(docs, lang = "en", minQuality = 0.3,
        watermark = "1 hour", gopher = true)
      .writeStream.format("memory").queryName("curated_gopher_out")
      .outputMode("append").start()
    try {
      mem.addData(fixture.zipWithIndex.map { case ((id, tx, nc), i) =>
        (t(i), id, tx, nc)
      }.toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.table("curated_gopher_out").select("text").collect()
        .map(_.getString(0)).toSet
      // batch twin: lang/quality filter -> gopher_pass -> exact dedup;
      // the gate must be DISCRIMINATING on this fixture (some docs cut)
      val batchDocs = fixture.toSeq.toDF("doc_id", "text", "n_chars")
      val kept0 = CorpusPipeline.filtered(batchDocs, "en", 0.3)
      val passIds = TextAnalysis.gopherRules(batchDocs)
        .filter(col("gopher_pass")).select("doc_id")
      val kept1 = kept0.join(passIds, Seq("doc_id"))
      assert(kept1.count() < kept0.count(),
        "fixture must have docs the gopher gate actually cuts")
      val batch = kept1.join(Dedup.exactKept(kept1), Seq("doc_id"))
        .select("text").collect().map(_.getString(0)).toSet
      assert(batch.nonEmpty, "fixture must keep at least one document")
      assert(streamed === batch,
        "stream gate must keep exactly the docs the batch gopher_pass flags")
    } finally q.stop()
  }

  test("streaming ANN: micro-batches served from a persisted routed index match the batch path") {
    implicit val sqlCtx = spark.sqlContext
    // persisted routed index over the deterministic 200-vector fixture
    val emb = (0L until 200L).map { i =>
      val rnd = new scala.util.Random(i)
      (i, Array.fill(8)(rnd.nextFloat() * 100f))
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("stream_ann").toString
    val p = Hnsw.Params(numPartitions = 3)
    Hnsw.saveRouted(emb, Ivf.kmeans(emb, 8, 2), p, dir, replication = 2)

    val queryRows = emb.filter(col("vec_id") < 6)
      .select(col("vec_id").as("query_id"),
        graft.functions.VectorFunctions.perturbQuery(col("embedding")).as("query_vec"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

    val mem = MemoryStream[(Long, Array[Double])]
    val served = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val q = StreamingAnn.serveQueries(
        mem.toDF().toDF("query_id", "query_vec"), dir, 10, p, nprobe = 5) { (res, _) =>
      served.synchronized {
        served ++= res.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      }
    }
    try {
      mem.addData(queryRows.take(3).toSeq: _*) // micro-batch 1
      q.processAllAvailable()
      mem.addData(queryRows.drop(3).toSeq: _*) // micro-batch 2
      q.processAllAvailable()
    } finally q.stop()

    val batchQs = emb.filter(col("vec_id") < 6)
      .select(col("vec_id").as("query_id"),
        graft.functions.VectorFunctions.perturbQuery(col("embedding")).as("query_vec"))
    val expected = Hnsw.search(spark, dir, batchQs, 10, p, nprobe = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(served.toSet === expected,
      "streamed micro-batches must serve identical results to the batch path")
  }

  test("streaming ANN: a takedown recorded MID-STREAM is excluded from every later micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val emb = (0L until 200L).map { i =>
      val rnd = new scala.util.Random(i)
      (i, Array.fill(8)(rnd.nextFloat() * 100f))
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("stream_ann_del").toString
    val p = Hnsw.Params(numPartitions = 3)
    Hnsw.saveRouted(emb, Ivf.kmeans(emb, 8, 2), p, dir, replication = 2)

    val queryRows = emb.filter(col("vec_id") < 6)
      .select(col("vec_id").as("query_id"),
        graft.functions.VectorFunctions.perturbQuery(col("embedding")).as("query_vec"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val delIds = Seq(3L, 4L, 5L) // the later queries' own vectors — their usual top-1s
    def batchQs(ids: Seq[Long]) = emb.filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id").as("query_id"),
        graft.functions.VectorFunctions.perturbQuery(col("embedding")).as("query_vec"))
    def served(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the batch serve of the first queries before any takedown
    val plain = served(Hnsw.search(spark, dir, batchQs(Seq(0L, 1L, 2L)), 10, p, nprobe = 5))

    val mem = MemoryStream[(Long, Array[Double])]
    val perBatch = scala.collection.mutable.Map.empty[Long, Set[(Long, Long, Double)]]
    val q = StreamingAnn.serveQueries(
        mem.toDF().toDF("query_id", "query_vec"), dir, 10, p, nprobe = 5) { (res, id) =>
      perBatch.synchronized {
        perBatch(id) = res.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      }
    }
    try {
      mem.addData(queryRows.take(3).toSeq: _*) // before the takedown
      q.processAllAvailable()
      Tombstones.record(spark, dir, delIds.toDF("vec_id"))
      mem.addData(queryRows.drop(3).toSeq: _*) // after
      q.processAllAvailable()
    } finally q.stop()

    // batch 0 (pre-takedown) matches the batch serve before the takedown
    assert(perBatch(0L) === plain)
    // batch 1 (post-takedown): no deleted id served, results match the
    // batch serve under the same tombstones
    assert(perBatch(1L).forall(r => !delIds.contains(r._2)),
      "tombstoned ids must vanish from micro-batches after the takedown")
    assert(perBatch(1L) === served(Hnsw.search(spark, dir, batchQs(Seq(3L, 4L, 5L)), 10, p,
      nprobe = 5)))
  }

  test("streaming ANN: a micro-batch with a repeated query_id stops the stream, naming the id") {
    implicit val sqlCtx = spark.sqlContext
    val emb = (0L until 60L).map { i =>
      val rnd = new scala.util.Random(i)
      (i, Array.fill(8)(rnd.nextFloat() * 100f))
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("stream_ann_dup").toString
    val p = Hnsw.Params(numPartitions = 3)
    Hnsw.saveRouted(emb, Ivf.kmeans(emb, 4, 2), p, dir, replication = 2)

    val mem = MemoryStream[(Long, Array[Double])]
    val answered = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = StreamingAnn.serveQueries(
        mem.toDF().toDF("query_id", "query_vec"), dir, 5, p, nprobe = 2) { (res, id) =>
      res.collect()
      answered.synchronized { answered += id }
    }
    try {
      mem.addData((1L, Array.fill(8)(50.0)), (2L, Array.fill(8)(10.0)))
      q.processAllAvailable()
      mem.addData((3L, Array.fill(8)(20.0)), (3L, Array.fill(8)(30.0)))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(!q.isActive, "the stream must stop on the refused micro-batch")
      val cause = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case iae: IllegalArgumentException => iae }
      assert(cause.exists(_.getMessage.contains("query_id 3")), e.toString)
      assert(answered.toSeq === Seq(0L), "the batch before the refused one was answered")
    } finally q.stop()
  }

  test("streaming index maintenance: micro-batch appends == batch incremental lifecycle") {
    implicit val sqlCtx = spark.sqlContext
    val p = Hnsw.Params(numPartitions = 3)
    val all = (0L until 120L).map { i =>
      val rnd = new scala.util.Random(i)
      (i, Array.fill(8)(rnd.nextFloat() * 100f))
    }
    val (baseRows, freshRows) = all.splitAt(100)
    val dir = java.nio.file.Files.createTempDirectory("stream_maint").toString

    val mem = MemoryStream[(Long, Array[Float])]
    val q = StreamingAnn.maintainIndex(mem.toDF().toDF("vec_id", "embedding"), dir, p)
    try {
      mem.addData(baseRows: _*) // micro-batch 0: builds the layout
      q.processAllAvailable()
      mem.addData(freshRows: _*) // micro-batch 1: insertInto → version 1
      q.processAllAvailable()
    } finally q.stop()

    assert(CellSnapshot.version(spark, dir) === Some(1),
      "the second micro-batch must publish one snapshot version")

    // the batch incremental lifecycle over the SAME base/fresh split
    // must produce the IDENTICAL graph (both paths: deterministic build
    // of base, then the same beam-inserts of fresh)
    val bdir = java.nio.file.Files.createTempDirectory("stream_maint_batch").toString
    Hnsw.save(baseRows.toDF("vec_id", "embedding"), p, bdir)
    Hnsw.insertInto(spark, bdir, freshRows.toDF("vec_id", "embedding"), p)
    def rows(df: org.apache.spark.sql.DataFrame, cols: String*) =
      df.select(cols.map(col): _*).collect().map(_.toSeq).toSet
    assert(rows(Hnsw.readRoutedEdges(spark, dir), "part", "src", "dst", "layer")
      === rows(Hnsw.readRoutedEdges(spark, bdir), "part", "src", "dst", "layer"),
      "streamed layout must hold the same edge set as the batch lifecycle")
    assert(rows(Hnsw.readRoutedNodes(spark, dir), "vec_id", "level")
      === rows(Hnsw.readRoutedNodes(spark, bdir), "vec_id", "level"))

    // and serve identically
    val qs = all.take(5).toDF("vec_id", "embedding")
      .select(col("vec_id").as("query_id"),
        graft.functions.VectorFunctions.perturbQuery(col("embedding")).as("query_vec"))
    val fromStream = Hnsw.search(spark, dir, qs, 10, p)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val fromBatch = Hnsw.search(spark, bdir, qs, 10, p)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fromStream === fromBatch)
  }

  test("streaming index maintenance appends to a saved base, which keeps serving") {
    implicit val sqlCtx = spark.sqlContext
    val p = Hnsw.Params(numPartitions = 3)
    val all = (0L until 120L).map { i =>
      val rnd = new scala.util.Random(i)
      (i, Array.fill(8)(rnd.nextFloat() * 100f))
    }
    val (baseRows, freshRows) = all.splitAt(100)
    val dir = java.nio.file.Files.createTempDirectory("stream_maint_base").toString
    Hnsw.save(baseRows.toDF("vec_id", "embedding"), p, dir)

    val mem = MemoryStream[(Long, Array[Float])]
    val q = StreamingAnn.maintainIndex(mem.toDF().toDF("vec_id", "embedding"), dir, p)
    try {
      mem.addData(freshRows: _*)
      q.processAllAvailable()
    } finally q.stop()

    // perturbed self-queries of base and fresh rows find themselves:
    // the stream grew the saved base instead of starting a new index
    val qs = all.filter(r => r._1 < 5 || r._1 >= 115).toDF("vec_id", "embedding")
      .select(col("vec_id").as("query_id"),
        graft.functions.VectorFunctions.perturbQuery(col("embedding")).as("query_vec"))
    val top1 = Hnsw.search(spark, dir, qs, 1, p)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(top1 === (0L until 5L).map(i => i -> i).toMap ++ (115L until 120L).map(i => i -> i),
      "base and streamed ids must both be served")
    assert(Hnsw.readRoutedNodes(spark, dir).count() === 120)
  }

  test("streaming IVF maintenance: micro-batch cell appends == single-pass layout; serves mid-stream") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Ivf
    val all = (0L until 150L).map { i =>
      val rnd = new scala.util.Random(i)
      (i, Array.fill(8)(rnd.nextFloat() * 100f))
    }
    val (baseRows, freshRows) = all.splitAt(100)
    val (fresh1, fresh2) = freshRows.splitAt(25)
    val cents = Ivf.centroids(all.toDF("vec_id", "embedding"), 8)
    val dir = java.nio.file.Files.createTempDirectory("stream_ivf").toString
    Ivf.writePartitionedWith(baseRows.toDF("vec_id", "embedding"), cents, dir)

    val oneQuery = all.take(1).toDF("vec_id", "embedding")
      .select(graft.functions.VectorFunctions.perturbQuery(col("embedding")).as("query_vec"))
    def serve() = Ivf.topKPartitioned(spark, dir, oneQuery, 10, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

    val mem = MemoryStream[(Long, Array[Float])]
    val q = StreamingAnn.maintainIvf(mem.toDF().toDF("vec_id", "embedding"), dir)
    try {
      mem.addData(fresh1: _*)
      q.processAllAvailable()
      // MID-STREAM: the first batch's rows already serve (nprobe=C —
      // every cell probed, so the full corpus-so-far is visible)
      val mid = serve()
      val midDir = java.nio.file.Files.createTempDirectory("stream_ivf_mid").toString
      Ivf.writePartitionedWith((baseRows ++ fresh1).toDF("vec_id", "embedding"), cents, midDir)
      assert(mid === Ivf.topKPartitioned(spark, midDir, oneQuery, 10, nprobe = 8)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq,
        "mid-stream serving must equal a layout built from the rows so far")
      mem.addData(fresh2: _*)
      q.processAllAvailable()
    } finally q.stop()

    val fullDir = java.nio.file.Files.createTempDirectory("stream_ivf_full").toString
    Ivf.writePartitionedWith(all.toDF("vec_id", "embedding"), cents, fullDir)
    assert(serve() === Ivf.topKPartitioned(spark, fullDir, oneQuery, 10, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq,
      "post-stream serving must equal the single-pass layout over all rows")
    assert(spark.read.parquet(dir).count() === 150L,
      "every streamed row must land exactly once")
  }

  test("streaming URL dedup: per-batch keeps == batch form; absorb is replay-idempotent") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Dedup, TextAnalysis}
    val tbl = "stream_url_store"
    Dedup.dropClusterStore(spark, tbl) // generic managed-table sweep
    TextAnalysis.writeUrlStore(
      Seq((1L, "x https://Seed.Example.com/a/")).toDF("doc_id", "text"), tbl, buckets = 4)
    val b1 = Seq(
      (10L, "s https://seed.example.com/a?utm_source=x"), // known spelling variant
      (11L, "s https://seed.example.com/b"))              // novel
    val b2 = Seq(
      (20L, "s https://SEED.example.com/b/"),             // b absorbed in batch 1
      (21L, "s https://seed.example.com/c#f"))            // novel
    val kept = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingCuration.dedupStreamUrls(
      mem.toDF().toDF("doc_id", "text"), tbl) { (df, id) =>
      df.collect().foreach(r => kept += ((id, r.getLong(0), r.getString(1))))
    }
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      mem.addData(b1: _*); q.processAllAvailable() // replay: all known now
    } finally q.stop()
    assert(kept.map(t => (t._2, t._3)).toSet === Set(
      (11L, "https://seed.example.com/b"),
      (21L, "https://seed.example.com/c")),
      s"per-batch keeps must match the batch-form semantics, got $kept")
    assert(kept.size === 2, "the replayed batch must keep nothing")
    assert(spark.table(tbl).count() === 3L, // /a, /b, /c
      "store holds one row per canonical form, replay appends nothing")
  }

  test("auto-recluster policy: a drifted ingest stream ends rebalanced; serving stays exact and untorn") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{CellSnapshot, Ivf}
    import graft.streaming.StreamingAnn.ReclusterPolicy
    // base blob near the origin-ish corner; the streamed tail is a
    // DRIFTED blob far away — with the build-time centroids it piles
    // into one cell, exactly the degradation the policy exists for
    val base = (0L until 100L).map { i =>
      val rnd = new scala.util.Random(i)
      (i, Array.fill(8)(10f + rnd.nextFloat() * 20f))
    }
    val drift = (100L until 260L).map { i =>
      val rnd = new scala.util.Random(i)
      (i, Array.fill(8)(1000f + rnd.nextFloat() * 20f))
    }
    val (drift1, drift2) = drift.splitAt(80)
    def mkDir(tag: String) = java.nio.file.Files.createTempDirectory(tag).toString
    val cents0 = Ivf.centroids(base.toDF("vec_id", "embedding"), 4)

    def streamInto(dir: String, policy: Option[ReclusterPolicy]): Unit = {
      Ivf.writePartitionedWith(base.toDF("vec_id", "embedding"), cents0, dir)
      val mem = MemoryStream[(Long, Array[Float])]
      val q = StreamingAnn.maintainIvf(mem.toDF().toDF("vec_id", "embedding"),
        dir, recluster = policy)
      try {
        mem.addData(drift1: _*)
        q.processAllAvailable()
        // MID-STREAM reader between batches: the one-version pin hands
        // it a consistent (scan, routing) pair whatever the policy did
        val oneQuery = base.take(1).toDF("vec_id", "embedding")
          .select(graft.functions.VectorFunctions.perturbQuery(col("embedding"))
            .as("query_vec"))
        assert(Ivf.topKPartitioned(spark, dir, oneQuery, 10,
          nprobe = Ivf.centroidsOf(spark, dir).count().toInt).count() === 10L)
        mem.addData(drift2: _*)
        q.processAllAvailable()
      } finally q.stop()
    }

    val polDir = mkDir("stream_rec_pol")
    streamInto(polDir, Some(ReclusterPolicy(maxSkew = 2.0, iters = 2)))
    val noDir = mkDir("stream_rec_no")
    streamInto(noDir, None)

    // the policy FIRED (at least one recluster published a generation)…
    assert(CellSnapshot.version(spark, polDir).nonEmpty,
      "drift must trip the skew trigger and publish a recluster generation")
    assert(CellSnapshot.version(spark, noDir).isEmpty,
      "without the policy nothing publishes")
    // …and the stream ends REBALANCED vs the unrepaired twin
    val skewPol = Ivf.cellSkew(spark, polDir)
    val skewNo = Ivf.cellSkew(spark, noDir)
    assert(skewPol < skewNo,
      s"auto-recluster must rebalance the drifted layout ($skewNo -> $skewPol)")

    // no row lost or duplicated through the recluster(s)
    val ids = Ivf.readLayout(spark, polDir).select("vec_id")
      .collect().map(_.getLong(0))
    assert(ids.length === 260 && ids.toSet === (0L until 260L).toSet)

    // end-state serving == a fresh build over the union with the
    // layout's CURRENT (retrained) centroids — the recluster equality
    // contract surviving the whole streamed lifecycle
    val freshDir = mkDir("stream_rec_fresh")
    Ivf.writePartitionedWith((base ++ drift).toDF("vec_id", "embedding"),
      Ivf.centroidsOf(spark, polDir), freshDir)
    val qs = (base.take(1) ++ drift.take(1)).toDF("vec_id", "embedding")
      .select(col("vec_id").as("query_id"),
        graft.functions.VectorFunctions.perturbQuery(col("embedding")).as("query_vec"))
    val c = Ivf.centroidsOf(spark, polDir).count().toInt
    def rows(dir: String) = Ivf.topKPartitioned(spark, dir, qs, 10, nprobe = c)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows(polDir) === rows(freshDir),
      "streamed+reclustered serving must equal a fresh build with the retrained centroids")
  }

  test("streaming cosine/MIPS maintenance: transformed appends == single-pass layouts") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Ivf
    val all = (0L until 150L).map { i =>
      val rnd = new scala.util.Random(i)
      (i, Array.fill(8)(rnd.nextFloat() * 100f))
    }
    // keep the max-norm row in the base split so the streamed MIPS
    // geometry equals the single-pass one
    val maxId = all.maxBy { case (_, v) =>
      math.sqrt(v.map(x => x.toDouble * x).sum) }._1
    val (baseRows, freshRows) = all.partition { case (i, _) =>
      i < 100 || i == maxId }
    val oneQuery = all.take(1).toDF("vec_id", "embedding")
      .select(graft.functions.VectorFunctions.perturbQuery(col("embedding")).as("query_vec"))

    val cosDir = java.nio.file.Files.createTempDirectory("stream_cos").toString
    Ivf.ensurePartitioned(baseRows.toDF("vec_id", "embedding"), 8, cosDir, kind = "cosine")
    val memC = MemoryStream[(Long, Array[Float])]
    val qc = StreamingAnn.maintainIvf(memC.toDF().toDF("vec_id", "embedding"), cosDir)
    try { memC.addData(freshRows: _*); qc.processAllAvailable() } finally qc.stop()

    val mipsDir = java.nio.file.Files.createTempDirectory("stream_mips").toString
    Ivf.ensurePartitioned(baseRows.toDF("vec_id", "embedding"), 8, mipsDir, kind = "mips")
    val memM = MemoryStream[(Long, Array[Float])]
    val qm = StreamingAnn.maintainIvf(memM.toDF().toDF("vec_id", "embedding"), mipsDir)
    try { memM.addData(freshRows: _*); qm.processAllAvailable() } finally qm.stop()

    // nprobe = C: the streamed layouts must serve the exact answers
    // over the full corpus (cell provenance cannot matter)
    val gotCos = Ivf.topKPartitioned(spark, cosDir, oneQuery, 10, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val expCos = graft.operators.Knn.cosineTopK(
        all.toDF("vec_id", "embedding").crossJoin(broadcast(oneQuery)),
        col("query_vec"), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(gotCos === expCos, "streamed cosine layout must serve the exact answer at nprobe=C")

    val gotMips = Ivf.topKPartitioned(spark, mipsDir, oneQuery, 10, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val expMips = graft.operators.Knn.mipsTopK(
        all.toDF("vec_id", "embedding").crossJoin(broadcast(oneQuery)),
        col("query_vec"), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(gotMips === expMips, "streamed MIPS layout must serve the exact answer at nprobe=C")
    assert(spark.read.parquet(cosDir).count() === 150L)
    assert(spark.read.parquet(mipsDir).count() === 150L)
  }

  test("streaming SQ8 maintenance: micro-batch frozen-bounds appends == single-pass encode") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Ivf, Pq, Sq}
    val all = (0L until 150L).map { i =>
      val rnd = new scala.util.Random(i * 3 + 7)
      (i, Array.fill(8)(rnd.nextFloat() * 100f))
    }
    val (baseRows, freshRows) = all.splitAt(100)
    val allDf = all.toDF("vec_id", "embedding")
    val cents = Ivf.centroids(allDf, 8)
    val (lo, hi) = Sq.bounds(allDf)
    val dir = java.nio.file.Files.createTempDirectory("stream_sq").toString + "/codes"
    Sq.ensureEncodedPartitioned(baseRows.toDF("vec_id", "embedding"), cents, lo, hi, dir)

    val mem = MemoryStream[(Long, Array[Float])]
    val q = StreamingAnn.maintainCodes(mem.toDF().toDF("vec_id", "embedding"), dir)
    try {
      mem.addData(freshRows: _*)
      q.processAllAvailable()
    } finally q.stop()

    val oneQuery = all.take(1).toDF("vec_id", "embedding")
      .select(graft.functions.VectorFunctions.perturbQuery(col("embedding")).as("query_vec"))
    val fullDir = java.nio.file.Files.createTempDirectory("stream_sq_full").toString + "/codes"
    Sq.ensureEncodedPartitioned(allDf, cents, lo, hi, fullDir)
    val streamed = Pq.topK(spark, dir, oneQuery, 10, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val batch = Pq.topK(spark, fullDir, oneQuery, 10, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(streamed === batch, "streamed SQ8 layout must serve like a single-pass encode")
  }

  test("streaming binary maintenance: micro-batch frozen-threshold appends == single-pass encode") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Binary
    val all = (0L until 150L).map { i =>
      val rnd = new scala.util.Random(i * 5 + 2)
      (i, Array.fill(8)(rnd.nextFloat() * 100f))
    }
    val (baseRows, freshRows) = all.splitAt(100)
    val thr = Binary.thresholds(all.toDF("vec_id", "embedding"))
    val dir = java.nio.file.Files.createTempDirectory("stream_bin").toString + "/sigs"
    Binary.ensureEncoded(baseRows.toDF("vec_id", "embedding"), thr, dir)

    val mem = MemoryStream[(Long, Array[Float])]
    val q = StreamingAnn.maintainBinary(mem.toDF().toDF("vec_id", "embedding"), dir)
    try {
      mem.addData(freshRows: _*)
      q.processAllAvailable()
    } finally q.stop()

    val oneQuery = all.take(1).toDF("vec_id", "embedding")
      .select(graft.functions.VectorFunctions.perturbQuery(col("embedding")).as("query_vec"))
    val fullDir = java.nio.file.Files.createTempDirectory("stream_bin_full").toString + "/sigs"
    Binary.ensureEncoded(all.toDF("vec_id", "embedding"), thr, fullDir)
    val streamed = Binary.hammingTopK(spark, dir, oneQuery, 10)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    val batch = Binary.hammingTopK(spark, fullDir, oneQuery, 10)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(streamed === batch, "streamed signature table must serve like a single-pass encode")
  }

  test("streaming PQ maintenance: micro-batch frozen-codebook appends == single-pass encode") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Ivf, Pq}
    val all = (0L until 150L).map { i =>
      val rnd = new scala.util.Random(i * 7 + 3)
      (i, Array.fill(8)(rnd.nextFloat() * 100f))
    }
    val (baseRows, freshRows) = all.splitAt(100)
    val allDf = all.toDF("vec_id", "embedding")
    val cents = Ivf.centroids(allDf, 8)
    val books = Pq.codebooks(allDf, 4, 2, 8, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("stream_pq").toString + "/codes"
    Pq.ensureEncodedPartitioned(baseRows.toDF("vec_id", "embedding"), cents, books, 4, 2, dir)

    val mem = MemoryStream[(Long, Array[Float])]
    val q = StreamingAnn.maintainCodes(mem.toDF().toDF("vec_id", "embedding"), dir)
    try {
      mem.addData(freshRows: _*)
      q.processAllAvailable()
    } finally q.stop()

    val oneQuery = all.take(1).toDF("vec_id", "embedding")
      .select(graft.functions.VectorFunctions.perturbQuery(col("embedding")).as("query_vec"))
    val fullDir = java.nio.file.Files.createTempDirectory("stream_pq_full").toString + "/codes"
    Pq.ensureEncodedPartitioned(allDf, cents, books, 4, 2, fullDir)
    val streamed = Pq.topK(spark, dir, oneQuery, 10, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val batch = Pq.topK(spark, fullDir, oneQuery, 10, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(streamed === batch, "streamed PQ code layout must serve like a single-pass encode")
  }

  test("streaming residual-PQ maintenance: micro-batch appends == single-pass residual encode") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Ivf, Pq}
    val all = (0L until 150L).map { i =>
      val rnd = new scala.util.Random(i * 11 + 5)
      (i, Array.fill(8)(rnd.nextFloat() * 100f))
    }
    val (baseRows, freshRows) = all.splitAt(100)
    val allDf = all.toDF("vec_id", "embedding")
    val cents = Ivf.centroids(allDf, 8)
    val resBooks = Pq.codebooks(
      Pq.residuals(allDf, cents).select(col("vec_id"), col("embedding")),
      4, 2, 8, iters = 1, seedOffset = 8)
    val dir = java.nio.file.Files.createTempDirectory("stream_respq").toString + "/codes"
    Pq.ensureEncodedPartitionedResidual(
      baseRows.toDF("vec_id", "embedding"), cents, resBooks, 4, 2, dir)

    val mem = MemoryStream[(Long, Array[Float])]
    val q = StreamingAnn.maintainCodes(mem.toDF().toDF("vec_id", "embedding"), dir)
    try {
      mem.addData(freshRows: _*)
      q.processAllAvailable()
    } finally q.stop()

    val oneQuery = all.take(1).toDF("vec_id", "embedding")
      .select(graft.functions.VectorFunctions.perturbQuery(col("embedding")).as("query_vec"))
    val fullDir = java.nio.file.Files.createTempDirectory("stream_respq_full").toString + "/codes"
    Pq.ensureEncodedPartitionedResidual(allDf, cents, resBooks, 4, 2, fullDir)
    val streamed = Pq.topK(spark, dir, oneQuery, 10, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val batch = Pq.topK(spark, fullDir, oneQuery, 10, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(streamed === batch,
      "streamed residual code layout must serve like a single-pass encode")
  }

  test("streaming MinHash near-dup: micro-batches dedup against the absorbing store") {
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val base = docs.filter(col("doc_id") <= 4)
    val store = java.nio.file.Files.createTempDirectory("mh_stream").toString
    Dedup.writeMinhashStore(base, store)
    val baseText = docs.filter(col("doc_id") === 1).head().getString(1)
    val perBatch = scala.collection.mutable.Map.empty[Long, Set[(Long, Long)]]
    val mem = MemoryStream[(Long, String)]
    val q = StreamingCuration.dedupStreamMinhash(
        mem.toDF().toDF("doc_id", "text"), store, 0.5) { (pairs, id) =>
      perBatch.synchronized {
        perBatch(id) = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
    }
    try {
      mem.addData((100L, baseText), (101L, "totally fresh streaming words " * 3))
      q.processAllAvailable()
      mem.addData((200L, "totally fresh streaming words " * 3)) // dup of ABSORBED 101
      q.processAllAvailable()
    } finally q.stop()
    assert(perBatch(0L).contains((1L, 100L)), "batch 0 pairs with the base twin")
    assert(perBatch(1L).contains((101L, 200L)),
      "batch 1 must pair with the doc batch 0 absorbed — the streaming store works")
  }

  test("streaming dedup drops in-watermark duplicate event ids before aggregation") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double, Long)]
    val events = mem.toDF().toDF("ts", "event_type", "value", "event_id")
    val q = EventStreams.dedupedTumblingCounts(events, watermark = "30 minutes")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      // event 100 delivered twice (at-least-once source); only one counts
      mem.addData((t(5), "a", 1.0, 100L), (t(6), "a", 1.0, 100L), (t(20), "a", 2.0, 101L))
      q.processAllAvailable()
      mem.addData((t(240), "a", 0.5, 102L)) // advance watermark, close window
      q.processAllAvailable()
      val rows = spark.table("dedup_out")
        .select("window_start", "event_type", "n_events", "sum_value")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      assert(rows.toSeq === Seq((t(0), "a", 2L, 3.0)))
    } finally q.stop()
  }

  test("streaming sessionization closes sessions on event-time gap timeout") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SessionEvent]
    val q = EventStreams.sessionize(mem.toDS())
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode("append").start()
    try {
      mem.addData(
        SessionEvent(10L, 1L, t(0)), SessionEvent(10L, 2L, t(10)),
        SessionEvent(20L, 3L, t(1)))
      q.processAllAvailable()
      // 70min later: user 10's first session (gap > 30min) must close
      mem.addData(SessionEvent(10L, 4L, t(80)))
      q.processAllAvailable()
      mem.addData(SessionEvent(10L, 5L, t(300))) // push watermark far ahead
      q.processAllAvailable()
      val rows = spark.table("sessions_out")
        .select("user_id", "session_no", "n_events").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows.contains((10L, 1L, 2L)), s"user 10 first session closed: $rows")
      assert(rows.contains((20L, 1L, 1L)), s"user 20 session closed: $rows")
    } finally q.stop()
  }

  test("streaming sessionization widens bounds on late in-watermark events") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SessionEvent]
    val q = EventStreams.sessionize(mem.toDS())
      .writeStream.format("memory").queryName("sessions_late")
      .outputMode("append").start()
    try {
      mem.addData(SessionEvent(30L, 1L, t(20)))
      q.processAllAvailable()
      // late event BEFORE the stored last, still within the session gap
      mem.addData(SessionEvent(30L, 2L, t(10)))
      q.processAllAvailable()
      mem.addData(SessionEvent(30L, 3L, t(600))) // close it
      q.processAllAvailable()
      val s = spark.table("sessions_late")
        .filter(col("session_no") === 1).head()
      assert(s.getAs[Long]("n_events") === 2L)
      assert(s.getAs[java.sql.Timestamp]("session_start") === t(10), "start widened back")
      assert(s.getAs[java.sql.Timestamp]("session_end") === t(20), "end not moved backward")
    } finally q.stop()
  }

  test("file-source stream of the events table reproduces the batch windows exactly") {
    val dir = "/root/testdata/sf0.001"
    // stage the table into a drop directory (the file source streams
    // directories, not single files)
    val drop = java.nio.file.Files.createTempDirectory("events_drop")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      drop.resolve("events.parquet"))
    val q = EventStreams.tumblingCounts(EventStreams.fileEvents(spark, drop.toString))
      .writeStream.format("memory").queryName("file_tumbling")
      .outputMode("complete") // finite fixture: keep every window
      .start()
    try {
      q.processAllAvailable()
      // stream side is TIMESTAMP (ltz, watermark requirement); batch is
      // NTZ — normalize to NTZ (equal wall clock under UTC) to compare
      val streamed = spark.table("file_tumbling")
        .select(col("window_start").cast("timestamp_ntz").as("window_start"),
          col("event_type"), col("n_events"), col("sum_value"))
        .collect()
        .map(r => (r.get(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      val batch = graft.operators.Events
        .tumblingCounts(graft.sources.Tables.events(spark, dir)).collect()
        .map(r => (r.get(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(streamed === batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("multimodal: batched feature extraction is deterministic with fixed dim") {
    val assets = Seq(
      (1L, "aaaa".getBytes("UTF-8"), "image/png", 100, 50),
      (2L, "bbbbbbbb".getBytes("UTF-8"), "image/png", 30, 60))
      .toDF("asset_id", "media", "mime", "width", "height")
    val f1 = Multimodal.extractFeatures(assets, dim = 8).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val f2 = Multimodal.extractFeatures(assets, dim = 8, batchSize = 1).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(f1 === f2, "batch size must not change results")
    assert(f1(1L).length === 8)
    assert(f1(1L) !== f1(2L))
  }

  test("multimodal: frame sampling slices binary payloads on stride") {
    val assets = Seq((1L, "0123456789AB".getBytes("UTF-8"), "video/raw", 0, 0))
      .toDF("asset_id", "media", "mime", "width", "height")
    val frames = Multimodal.sampleFrames(assets, frameBytes = 4, stride = 2)
      .orderBy("frame_idx").collect()
      .map(r => (r.getInt(1), new String(r.getAs[Array[Byte]](2), "UTF-8")))
    assert(frames.toSeq === Seq((0, "0123"), (2, "89AB")))
  }

  test("stream-stream purchase⋈click join: watermarked range join == batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val events = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = EventStreams.purchaseClickJoin(events, events)
      .writeStream.format("memory").queryName("ppc_out")
      .outputMode("append").start()
    // clicks before/at/after each purchase, two users, spanning the 1h bound
    val fixture = Seq(
      (1L, t(0), 7L, "click", 0.0),
      (2L, t(30), 7L, "click", 0.0),
      (3L, t(61), 7L, "purchase", 0.0),  // t(0) is 61min back: out; t(30): in
      (4L, t(30), 8L, "click", 0.0),
      (5L, t(90), 8L, "purchase", 0.0),  // exactly 60min back: in (closed bound)
      (6L, t(90), 7L, "purchase", 0.0))  // t(30) 60min back in; t(90)? none
    try {
      // two micro-batches so the join must buffer state across batches
      mem.addData(fixture.take(3).toIndexedSeq)
      q.processAllAvailable()
      mem.addData(fixture.drop(3).toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.table("ppc_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = graft.operators.Events.purchaseClicks(
          fixture.toDF("event_id", "ts", "user_id", "event_type", "value"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(batch === Set((3L, 2L, 7L), (5L, 4L, 8L), (6L, 2L, 7L)))
      assert(streamed === batch,
        "stream-stream join must emit exactly the batch twin's pairs")
    } finally q.stop()
  }

  test("multimodal: ImageIO codec round-trips a known 2x2 PNG to exact pixels") {
    import Multimodal.ImageCodec
    val px = Array(0xffff0000, 0xff00ff00, 0xff0000ff, 0xff102030)
    val d = ImageCodec.decode(ImageCodec.encodePng(2, 2, px)).get
    assert((d.width, d.height, d.channels) === ((2, 2, 3)))
    assert(d.argb.toSeq === px.toSeq, "PNG must round-trip RGB losslessly")
    val (mr, mg, mb) = d.channelMeans
    assert(mr === (0xff + 0x00 + 0x00 + 0x10) / 4.0)
    assert(mg === (0x00 + 0xff + 0x00 + 0x20) / 4.0)
    assert(mb === (0x00 + 0x00 + 0xff + 0x30) / 4.0)
  }

  test("multimodal: ImageIO decodes real JPEG and BMP payloads (dims exact)") {
    import Multimodal.ImageCodec
    val img = new java.awt.image.BufferedImage(5, 3, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (fmt <- Seq("jpg", "bmp")) {
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, out), s"JDK must ship a $fmt writer")
      val d = ImageCodec.decode(out.toByteArray).get
      assert((d.width, d.height) === ((5, 3)), s"$fmt decode dims")
    }
  }

  test("multimodal: nearest-neighbor resize picks exact source pixels; fit never upscales") {
    import Multimodal.ImageCodec
    // 4x4 quadrant image: resize to 2x2 must sample (0,0),(2,0),(0,2),(2,2)
    val q = Array.tabulate(16) { i =>
      val x = i % 4; val y = i / 4
      if (x < 2 && y < 2) 0xff110000 else if (y < 2) 0xff002200
      else if (x < 2) 0xff000033 else 0xff444444
    }
    val small = ImageCodec.resizeNearest(ImageCodec.Decoded(4, 4, 3, q), 2, 2)
    assert(small.argb.toSeq === Seq(0xff110000, 0xff002200, 0xff000033, 0xff444444))
    // aspect fit: 100x50 into 20 → 20x10; 4x4 into 16 → unchanged
    val wide = ImageCodec.Decoded(100, 50, 3, Array.fill(5000)(0xff000000))
    val fit = ImageCodec.fitWithin(wide, 20)
    assert((fit.width, fit.height) === ((20, 10)))
    val tiny = ImageCodec.fitWithin(ImageCodec.Decoded(4, 4, 3, q), 16)
    assert((tiny.width, tiny.height) === ((4, 4)), "never upscale")
  }

  test("multimodal: decodeImages decodes real PNGs and poison-safely flags non-images") {
    import Multimodal.ImageCodec
    val assets = Seq(
      (1L, ImageCodec.solidPng(6, 4, 10, 20, 30), "image/png", 6, 4),
      (2L, "not an image at all".getBytes("UTF-8"), "image/png", 0, 0),
      (3L, "plain text payload".getBytes("UTF-8"), "text/plain", 0, 0))
      .toDF("asset_id", "media", "mime", "width", "height")
    val rows = Multimodal.decodeImages(assets).collect()
      .map(r => r.getLong(0) -> r).toMap
    val ok = rows(1L)
    assert((ok.getInt(1), ok.getInt(2), ok.getInt(3)) === ((6, 4, 3)))
    assert((ok.getDouble(4), ok.getDouble(5), ok.getDouble(6)) === ((10.0, 20.0, 30.0)))
    assert(ok.getBoolean(7))
    assert(!rows(2L).getBoolean(7), "corrupt payload flags, never throws")
    assert(!rows(3L).getBoolean(7), "non-image mime skips the codec")
  }

  test("multimodal: image features are real pixel histograms, stable across batch sizes") {
    import Multimodal.ImageCodec
    val assets = Seq(
      (1L, ImageCodec.solidPng(8, 8, 255, 0, 128), "image/png", 8, 8),
      (2L, "audio bytes stand-in".getBytes("UTF-8"), "audio/wav", 0, 0))
      .toDF("asset_id", "media", "mime", "width", "height")
    val f1 = Multimodal.extractFeatures(assets, dim = 9).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val f2 = Multimodal.extractFeatures(assets, dim = 9, batchSize = 1).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(f1 === f2)
    // solid (255, 0, 128): r lands in the top r-bin, g in the first g-bin,
    // b mid-range — one full bin per channel, everything else 0
    assert(math.abs(f1(1L).sum - 3.0f) < 1e-5f, "each pixel lands in one bin per channel")
    assert(f1(1L)(2) === 1.0f, "r=255 fills the last of 3 r-bins")
    assert(f1(1L)(3) === 1.0f, "g=0 fills the first g-bin")
    // non-image mime still flows through the deterministic stub
    assert(f1(2L).length === 9)
  }

  test("multimodal: multi-frame GIF round-trips every frame's dims and colors") {
    import Multimodal.ImageCodec
    val colors = Seq((255, 0, 128), (0, 200, 10), (17, 17, 17))
    val gif = ImageCodec.encodeGifFrames(6, 4, colors)
    val frames = ImageCodec.decodeFrames(gif).get
    assert(frames.length === 3, "all three stored frames must decode")
    frames.zip(colors).foreach { case (f, (r, g, b)) =>
      assert((f.width, f.height) === ((6, 4)))
      assert(f.channelMeans === ((r.toDouble, g.toDouble, b.toDouble)),
        "solid frame colors survive the GIF palette round trip exactly")
    }
    // single-frame containers decode as one frame; corrupt bytes punt
    val png = ImageCodec.solidPng(5, 5, 9, 8, 7)
    assert(ImageCodec.decodeFrames(png).get.map(_.channelMeans) === Seq((9.0, 8.0, 7.0)))
    assert(ImageCodec.decodeFrames("not an image".getBytes("UTF-8")).isEmpty)
    // the frame-extraction operator: stride sampling + poison skip
    val assets = Seq(
      (1L, gif, "image/gif", 0, 0),
      (2L, "garbage".getBytes("UTF-8"), "image/gif", 0, 0))
      .toDF("asset_id", "media", "mime", "width", "height")
    val rows = Multimodal.decodeGifFrames(assets, stride = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(5)))
    assert(rows.toSeq === Seq((1L, 0, 3, 255.0), (1L, 2, 3, 17.0)),
      "stride keeps frames 0 and 2; the corrupt asset yields no rows")
  }

  test("multimodal: AVI/DIB video round-trips every frame's pixels and header fps") {
    import Multimodal.VideoCodec
    // odd width exercises the 4-byte DIB row padding (3*3=9 → stride 12)
    val colors = Seq((255, 0, 128), (0, 200, 10), (17, 17, 17), (1, 2, 3))
    val frames = colors.map { case (r, g, b) =>
      Array.fill(3 * 2)(0xff000000 | (r << 16) | (g << 8) | b)
    }
    val avi = VideoCodec.encodeAvi(3, 2, 10, frames)
    val d = VideoCodec.decode(avi).get
    assert(d.fps === 10.0, "fps comes from the strh rate/scale")
    assert(d.frames.length === 4, "all stored frames decode")
    d.frames.zip(colors).foreach { case (f, (r, g, b)) =>
      assert((f.width, f.height) === ((3, 2)))
      assert(f.channelMeans === ((r.toDouble, g.toDouble, b.toDouble)),
        "raw DIB frames round-trip pixels exactly")
    }
    // per-pixel (not just means): a non-solid frame round-trips bit-exactly
    val grad = Array.tabulate(3 * 2)(i => 0xff000000 | (i * 40 << 16) | (i * 30 << 8) | i)
    val d2 = VideoCodec.decode(VideoCodec.encodeAvi(3, 2, 5, Seq(grad))).get
    assert(d2.frames.head.argb.toSeq === grad.toSeq,
      "bottom-up row order and BGR byte order restore the exact raster")
    // corrupt payloads: None, never a throw, never a hang
    assert(VideoCodec.decode("not a video".getBytes("UTF-8")).isEmpty)
    assert(VideoCodec.decode(avi.take(40)).isEmpty, "truncated mid-header punts")
    for (badSize <- Seq(0xFFFFFFF8, 0xFFFFFFF7, 0)) {
      val bb = java.nio.ByteBuffer.allocate(64)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(56)
        .put("AVI ".getBytes("US-ASCII"))
        .put("junk".getBytes("US-ASCII")).putInt(badSize)
      assert(VideoCodec.decode(bb.array()).isEmpty,
        f"corrupt chunk size 0x$badSize%08x must punt promptly, not loop")
    }
    // crafted biWidth near 2^31: the Int stride product would overflow
    // past the bounds check into a bad allocation — must punt instead
    val evil = avi.clone()
    val strfAt = evil.indices.find(i =>
      evil(i) == 's' && evil(i + 1) == 't' && evil(i + 2) == 'r' && evil(i + 3) == 'f').get
    val wAt = strfAt + 8 + 4 // chunk header + biSize
    evil(wAt) = 0xff.toByte; evil(wAt + 1) = 0xff.toByte
    evil(wAt + 2) = 0xff.toByte; evil(wAt + 3) = 0x7f.toByte
    assert(VideoCodec.decode(evil).isEmpty,
      "a 2^31-ish biWidth must fail the Long bounds check, not allocate")
  }

  test("multimodal: A/V AVI demuxes both streams — exact pixels AND exact PCM16 samples") {
    import Multimodal.VideoCodec
    val frames = Seq((10, 20, 30), (200, 100, 50)).map { case (r, g, b) =>
      Array.fill(5 * 4)(0xff000000 | (r << 16) | (g << 8) | b)
    }
    val samples = Array[Short](100, -100, 2000, -2000, 31000, -31000, 7)
    val avi = VideoCodec.encodeAvi(5, 4, 12, frames, audio = Some((16000, samples)))
    val d = VideoCodec.decode(avi).get
    assert(d.fps === 12.0 && d.frames.length === 2)
    assert(d.frames.head.channelMeans === ((10.0, 20.0, 30.0)),
      "video stream still round-trips exactly with audio interleaved")
    val a = d.audio.get
    assert(a.sampleRate === 16000.0 && a.channels === 1)
    assert(a.samples.toSeq === samples.toSeq,
      "interleaved '01wb' chunks reassemble the exact PCM16 stream")
    // video-only files keep audio None (back-compat)
    assert(VideoCodec.decode(VideoCodec.encodeAvi(5, 4, 12, frames)).get.audio.isEmpty)
    // the demux operator: facts from both streams; poison-safe skip
    val assets = Seq(
      (1L, avi, "video/avi", 5, 4),
      (2L, "junk".getBytes("UTF-8"), "video/avi", 0, 0))
      .toDF("asset_id", "media", "mime", "width", "height")
    val rows = Multimodal.demuxAv(assets).collect()
      .map(r => r.getLong(0) -> r).toMap
    val ok = rows(1L)
    assert((ok.getInt(1), ok.getDouble(2), ok.getInt(3), ok.getInt(4)) ===
      ((2, 12.0, 5, 4)))
    assert((ok.getDouble(5), ok.getInt(6), ok.getLong(7)) === ((16000.0, 1, 7L)))
    assert(ok.getDouble(9) === 31000.0, "peak from the decoded samples")
    assert(ok.getBoolean(10))
    assert(!rows(2L).getBoolean(10), "corrupt payload flags, never throws")
  }

  test("multimodal: MJPEG AVI decodes real JPEG frames through ImageIO") {
    import Multimodal.VideoCodec
    val colors = Seq((200, 64, 32), (10, 180, 90))
    val frames = colors.map { case (r, g, b) =>
      Array.fill(16 * 8)(0xff000000 | (r << 16) | (g << 8) | b)
    }
    val avi = VideoCodec.encodeAvi(16, 8, 25, frames, mjpeg = true)
    val d = VideoCodec.decode(avi).get
    assert(d.fps === 25.0)
    assert(d.frames.length === 2)
    d.frames.zip(colors).foreach { case (f, (r, g, b)) =>
      assert((f.width, f.height) === ((16, 8)), "JPEG dims are lossless")
      val (mr, mg, mb) = f.channelMeans
      // JPEG is lossy: solid frames stay near-solid (DC-only blocks),
      // so channel means land within a small quantization tolerance
      assert(math.abs(mr - r) <= 8 && math.abs(mg - g) <= 8 && math.abs(mb - b) <= 8,
        s"MJPEG frame mean ($mr,$mg,$mb) must approximate ($r,$g,$b)")
    }
  }

  test("multimodal: decodeVideoFrames strides, skips poison, and feeds real features") {
    import Multimodal.VideoCodec
    val colors = Seq((250, 0, 0), (0, 250, 0), (0, 0, 250))
    val frames = colors.map { case (r, g, b) =>
      Array.fill(4 * 4)(0xff000000 | (r << 16) | (g << 8) | b)
    }
    val avi = VideoCodec.encodeAvi(4, 4, 15, frames)
    val assets = Seq(
      (1L, avi, "video/avi", 4, 4),
      (2L, "garbage".getBytes("UTF-8"), "video/avi", 0, 0),
      (3L, avi, "application/octet-stream", 4, 4))
      .toDF("asset_id", "media", "mime", "width", "height")
    val rows = Multimodal.decodeVideoFrames(assets, stride = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3), r.getDouble(6)))
    assert(rows.toSeq === Seq((1L, 0, 3, 15.0, 250.0), (1L, 2, 3, 15.0, 0.0)),
      "stride keeps frames 0 and 2; corrupt and non-video assets yield no rows")
    // extractFeatures: AVI mimes get REAL frame-averaged pixel histograms
    // (nonzero mass in exactly the solid colors' bins), not the stub
    val feats = Multimodal.extractFeatures(
      Seq((1L, avi, "video/avi", 4, 4)).toDF("asset_id", "media", "mime", "width", "height"),
      dim = 6).collect().head.getSeq[Float](1)
    // dim=6 → 2 bins/channel; 250 → high bin, 0 → low bin; each channel
    // is 250 in exactly one frame of three
    assert(feats.toSeq === Seq(2f / 3, 1f / 3, 2f / 3, 1f / 3, 2f / 3, 1f / 3),
      "video features are frame-averaged real pixel histograms")
    val stub = Multimodal.StubCodec.featuresOf(avi, 6)
    assert(feats.toSeq !== stub.toSeq, "the stub path is not used for AVI")
  }

  test("multimodal: WAV codec round-trips exact PCM16 samples, header, and stats") {
    import Multimodal.AudioCodec
    val samples = Array[Short](100, -100, 250, -32768, 32767, 0)
    val d = AudioCodec.decode(AudioCodec.encodeWav(8000f, 1, samples)).get
    assert(d.sampleRate === 8000.0)
    assert(d.channels === 1)
    assert(d.nFrames === 6L)
    assert(d.samples.toSeq === samples.toSeq, "PCM16 must round-trip losslessly")
    val (meanAbs, peak) = d.stats
    assert(peak === 32768.0)
    assert(meanAbs === (100 + 100 + 250 + 32768 + 32767 + 0) / 6.0)
    // stereo: interleaved samples, frames = samples / channels
    val st = AudioCodec.decode(AudioCodec.encodeWav(16000f, 2, samples)).get
    assert(st.channels === 2 && st.nFrames === 3L)
    // corrupt payload: None, never a throw
    assert(AudioCodec.decode("definitely not audio".getBytes("UTF-8")).isEmpty)
    // corrupt CHUNK SIZE: u32 values near 0xFFFFFFFF overflow the Int
    // advance (0xFFFFFFF8 → advance 0), which pre-fix looped the RIFF
    // walk forever. Must return None promptly, never hang the task.
    for (badSize <- Seq(0xFFFFFFF8, 0xFFFFFFF7, 0xFFFFFFFF)) {
      val bb = java.nio.ByteBuffer.allocate(64)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(56)
        .put("WAVE".getBytes("US-ASCII"))
        .put("junk".getBytes("US-ASCII")).putInt(badSize)
      assert(AudioCodec.decode(bb.array()).isEmpty,
        f"corrupt chunk size 0x$badSize%08x must punt, not loop")
    }
    // non-WAV container (AU, big-endian PCM16): the AudioSystem
    // fallback path decodes it to the same samples
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, true)
    val be = new Array[Byte](samples.length * 2)
    samples.indices.foreach { i =>
      be(2 * i) = ((samples(i) >> 8) & 0xff).toByte
      be(2 * i + 1) = (samples(i) & 0xff).toByte
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(be), fmt, samples.length),
      javax.sound.sampled.AudioFileFormat.Type.AU, out)
    val au = AudioCodec.decode(out.toByteArray).get
    assert(au.samples.toSeq === samples.toSeq, "AU decodes via the JDK fallback path")
  }

  test("multimodal: decodeAudio decodes real WAVs and flags non-audio payloads") {
    import Multimodal.AudioCodec
    val wav = AudioCodec.encodeWav(12000f, 1, Array[Short](500, -500, 500, -500))
    val assets = Seq(
      (1L, wav, "audio/wav", 0, 0),
      (2L, "text payload".getBytes("UTF-8"), "audio/wav", 0, 0),
      (3L, wav, "text/plain", 0, 0))
      .toDF("asset_id", "media", "mime", "width", "height")
    val rows = Multimodal.decodeAudio(assets).collect()
      .map(r => r.getLong(0) -> r).toMap
    val ok = rows(1L)
    assert((ok.getDouble(1), ok.getInt(2), ok.getLong(3)) === ((12000.0, 1, 4L)))
    assert((ok.getDouble(4), ok.getDouble(5)) === ((500.0, 500.0)))
    assert(ok.getBoolean(6))
    assert(!rows(2L).getBoolean(6), "corrupt audio flags, never throws")
    assert(!rows(3L).getBoolean(6), "non-audio mime skips the codec")
  }

  test("multimodal: audio features are real amplitude histograms") {
    import Multimodal.AudioCodec
    val wav = AudioCodec.encodeWav(8000f, 1, Array.fill[Short](64)(16000))
    val assets = Seq((1L, wav, "audio/wav", 0, 0))
      .toDF("asset_id", "media", "mime", "width", "height")
    val f = Multimodal.extractFeatures(assets, dim = 4).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    // constant |16000| lands wholly in bin 16000*4/32768 = 1
    assert(f(1L).toSeq === Seq(0f, 1f, 0f, 0f))
  }

  test("multimodal: image decode is streaming-safe (micro-batched decode == batch)") {
    implicit val sqlCtx = spark.sqlContext
    import Multimodal.ImageCodec
    val assets = (1L to 6L).map(i =>
      (i, ImageCodec.solidPng(4 + i.toInt, 3, (i * 40 % 256).toInt, 7, 99), "image/png"))
    val mem = MemoryStream[(Long, Array[Byte], String)]
    val q = Multimodal.decodeImages(
        mem.toDF().toDF("asset_id", "media", "mime"), batchSize = 2)
      .writeStream.format("memory").queryName("decode_out")
      .outputMode("append").start()
    try {
      mem.addData(assets.take(3): _*)
      q.processAllAvailable()
      mem.addData(assets.drop(3): _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("decode_out").collect().map(_.toSeq).toSet
    val batch = Multimodal.decodeImages(
        assets.toDF("asset_id", "media", "mime"), batchSize = 2)
      .collect().map(_.toSeq).toSet
    assert(streamed === batch, "the stateless codec pass must stream unchanged")
    assert(streamed.size === 6)
  }

  test("multimodal: video frame decode is streaming-safe (micro-batched == batch)") {
    implicit val sqlCtx = spark.sqlContext
    import Multimodal.VideoCodec
    val assets = (1L to 4L).map { i =>
      val frames = (0 until (i % 3 + 2).toInt).map(j =>
        Array.fill(4 * 3)(0xff000000 | ((i * 50 + j * 20) % 256).toInt << 16))
      (i, VideoCodec.encodeAvi(4, 3, 10, frames), "video/avi")
    }
    val mem = MemoryStream[(Long, Array[Byte], String)]
    val q = Multimodal.decodeVideoFrames(
        mem.toDF().toDF("asset_id", "media", "mime"), batchSize = 2)
      .writeStream.format("memory").queryName("vdecode_out")
      .outputMode("append").start()
    try {
      mem.addData(assets.take(2): _*)
      q.processAllAvailable()
      mem.addData(assets.drop(2): _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("vdecode_out").collect().map(_.toSeq).toSet
    val batch = Multimodal.decodeVideoFrames(
        assets.toDF("asset_id", "media", "mime"), batchSize = 2)
      .collect().map(_.toSeq).toSet
    assert(streamed === batch, "the stateless video codec pass must stream unchanged")
    assert(streamed.nonEmpty)
  }

  test("multimodal: resize metadata preserves aspect ratio and never upscales") {
    val assets = Seq(
      (1L, Array[Byte](1), "image/png", 1000, 500),
      (2L, Array[Byte](1), "image/png", 100, 50))
      .toDF("asset_id", "media", "mime", "width", "height")
    val out = Multimodal.resizeMeta(assets, maxSide = 200).collect()
      .map(r => r.getLong(0) -> (r.getInt(4), r.getInt(5))).toMap
    assert(out(1L) === ((200, 100)))
    assert(out(2L) === ((100, 50)), "no upscaling")
  }
}
