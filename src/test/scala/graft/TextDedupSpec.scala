package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions._
import graft.operators.{CorpusPipeline, Dedup, TextAnalysis}

/** Text analysis + dedup operator invariants over small crafted inputs. */
class TextDedupSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "the cat sat on the mat", "en", "s0", 22L),
    (2L, "the cat sat on the mat", "en", "s0", 22L), // exact dup of 1
    (3L, "the cat sat on a mat", "en", "s1", 20L),   // near dup of 1
    (4L, "el la de que y totalmente distinto", "es", "s1", 34L),
    (5L, "one two three", "en", "s2", 13L))
    .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("shingles produce n-2 trigrams, empty under 3 tokens") {
    val out = Seq("a b c d", "a b").toDF("text")
      .select(shingles(tokens(col("text"))).as("sh"))
      .collect().map(_.getSeq[String](0))
    assert(out(0) === Seq("a b c", "b c d"))
    assert(out(1) === Seq())
  }

  test("exact dedup clusters duplicates and keeps the min id") {
    val clusters = Dedup.exactClusters(docs).collect()
    assert(clusters.length === 1)
    assert(clusters(0).getAs[Long]("n_dups") === 2)
    assert(clusters(0).getAs[Long]("keep_id") === 1L)
  }

  test("qualityGate keeps exactly the docs at/above the per-source interpolated percentile") {
    // 8 docs across 2 sources with strictly varying token counts ->
    // distinct quality scores per source
    val d = (0L until 8L).map { i =>
      val text = Seq.fill(i.toInt + 2)("tok").mkString(" ")
      (i, text, "en", s"s${i % 2}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val scored = d.select(col("doc_id"), col("source"),
        TextAnalysis.qualityCol(tokens(col("text")), col("n_chars")).as("q"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val expected = scored.groupBy(_._2).toSeq.flatMap { case (_, rows) =>
      val qs = rows.map(_._3).sorted
      val pos = 0.75 * (qs.length - 1)
      val (lo, hi) = (qs(pos.toInt), qs(math.ceil(pos).toInt))
      val thr = BigDecimal(lo + (pos - math.floor(pos)) * (hi - lo))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      rows.filter(_._3 >= thr).toSeq
    }.map(r => (r._1, r._3)).toMap
    val got = TextAnalysis.qualityGate(d, 0.75)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(got === expected)
    assert(got.nonEmpty && got.size < 8, "the gate must actually drop low-quality docs")
  }

  test("qualityGateApprox: sketch threshold is an observed value; kept set within one boundary doc of exact") {
    // same fixture as the exact-gate test: 8 docs, 2 sources, 4 docs
    // each with distinct quality scores. At accuracy=10000 the GK rank
    // error is 0, so approx and exact may disagree ONLY on docs whose
    // quality lies between the exact INTERPOLATED threshold and the
    // sketch's OBSERVED threshold — at most one doc per source.
    val d = (0L until 8L).map { i =>
      val text = Seq.fill(i.toInt + 2)("tok").mkString(" ")
      (i, text, "en", s"s${i % 2}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val scored = d.select(col("doc_id"), col("source"),
        TextAnalysis.qualityCol(tokens(col("text")), col("n_chars")).as("q"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val exact = TextAnalysis.qualityGate(d, 0.75)
      .collect().map(_.getLong(0)).toSet
    val approx = TextAnalysis.qualityGateApprox(d, 0.75)
      .collect().map(_.getLong(0)).toSet
    // the sketch threshold must be an observed per-source quality value
    // (GK returns a sample, never an interpolation) — every kept doc's
    // quality >= some observed value of its own source
    val bySource = scored.groupBy(_._2)
    for ((src, rows) <- bySource) {
      val qs = rows.map(_._3).sorted
      val keptQ = rows.filter(r => approx.contains(r._1)).map(_._3)
      assert(keptQ.nonEmpty, s"approx gate must keep at least the max-quality doc of $src")
      assert(qs.contains(keptQ.min), s"approx threshold for $src must be an observed value")
      // disagreement with exact is at most ONE boundary doc per source
      val exactSrc = rows.filter(r => exact.contains(r._1)).map(_._1).toSet
      val approxSrc = rows.filter(r => approx.contains(r._1)).map(_._1).toSet
      val diff = (exactSrc diff approxSrc) union (approxSrc diff exactSrc)
      assert(diff.size <= 1,
        s"approx/exact kept sets for $src differ by more than a boundary doc: $diff")
    }
  }

  test("incrementalExact: corpus content dropped, within-batch first copy wins, fresh kept") {
    val corpus = docs.filter(col("doc_id") <= 2) // contains "the cat sat on the mat"
    val batch = Seq(
      (10L, "the cat sat on the mat"), // known content -> dropped
      (11L, "brand new content"),      // fresh -> kept
      (12L, "brand new content"),      // batch-internal dup -> 11 wins
      (13L, "one two three"))          // fresh (doc 5 is NOT in corpus)
      .toDF("doc_id", "text")
    val kept = graft.operators.Dedup.incrementalExact(corpus, batch)
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(11L, 13L))
  }

  test("minhash signature is identical for identical texts, and LSH finds exact+near dups") {
    val sigs = Dedup.minhashSignatures(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) === sigs(2L), "identical docs, identical signatures")
    assert(sigs.values.forall(_.length === Dedup.numHashes))
    val pairs = Dedup.minhashPairs(docs, 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "exact dup pair surfaces")
  }

  test("minhashPairsIncremental: batches dedup against base AND earlier absorbed batches") {
    import java.nio.file.Files
    val base = docs.filter(col("doc_id") <= 4)
    val store = Files.createTempDirectory("mh_store").toString
    Dedup.writeMinhashStore(base, store)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // batch 1: one near-dup of a base doc + one fresh doc
    val baseText = docs.filter(col("doc_id") === 1).head().getString(1)
    val b1 = Seq((100L, baseText), (101L, "completely unrelated fresh words " * 3))
      .toDF("doc_id", "text")
    val p1 = pairs(Dedup.minhashPairsIncremental(spark, store, b1, 0.5))
    assert(p1.contains((1L, 100L)), "batch-1 doc must pair with its base twin")
    assert(!p1.exists(t => t._1 >= 100L && t._2 > 101L))
    // batch 2: duplicates of a BATCH-1 doc (only findable if batch 1
    // was absorbed) and of a base doc
    val b2 = Seq((200L, "completely unrelated fresh words " * 3), (201L, baseText))
      .toDF("doc_id", "text")
    val p2 = pairs(Dedup.minhashPairsIncremental(spark, store, b2, 0.5))
    assert(p2.contains((101L, 200L)),
      "batch-2 doc must pair with the ABSORBED batch-1 doc")
    assert(p2.contains((1L, 201L)) && p2.contains((100L, 201L)),
      "batch-2 doc pairs with base and absorbed twins alike")
    // equivalence with the one-shot batch form, restricted to new-member pairs
    val all = base.select("doc_id", "text").unionByName(b1).unionByName(b2)
    val expected = Dedup.minhashPairs(all, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
      .filter(t => t._1 >= 100L || t._2 >= 100L)
    val batchVsB2 = p2
    val got = p1 ++ batchVsB2
    assert(got === expected,
      "incremental pairs across both batches == batch pairs with a new member")
  }

  private def withConfs[T](pairs: (String, String)*)(body: => T): T = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Drop a managed table AND its warehouse location: the metastore is
    * ephemeral per test JVM, so a previous run's managed-table dir
    * survives as an ORPHAN the catalog doesn't know about — and
    * `saveAsTable` then fails with LOCATION_ALREADY_EXISTS.
    */
  private def dropManaged(tables: String*): Unit = tables.foreach { t =>
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    val dir = new java.io.File(wh, t)
    if (dir.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(dir)
    }
  }

  test("bucketed digest store: keeps == in-memory incremental; store side of the anti-join never exchanges") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val corpus = docs.filter(col("doc_id") <= 4)
    dropManaged("digest_store_spec")
    Dedup.writeDigestStore(corpus, "digest_store_spec", buckets = 4)
    val dupOf1 = docs.filter(col("doc_id") === 1).head().getString(1)
    val batch = Seq((11L, "brand new content"), (12L, "brand new content"),
      (13L, dupOf1)).toDF("doc_id", "text")
    // keep semantics identical to the in-memory form
    val ref = Dedup.incrementalExact(corpus, batch)
      .collect().map(_.getLong(0)).toSet
    val kept = Dedup.incrementalExactBucketed(spark, "digest_store_spec", batch,
      absorb = false).collect().map(_.getLong(0)).toSet
    assert(kept === ref && kept === Set(11L))
    // plan pin: force SMJ (no broadcast, no AQE rewrite) — the bucketed
    // store side must come exchange-free; only the batch side shuffles
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
      val df = Dedup.incrementalExactBucketed(spark, "digest_store_spec", batch,
        absorb = false)
      val smj = df.queryExecution.executedPlan
        .collectFirst { case j: SortMergeJoinExec => j }
        .getOrElse(fail("expected a sort-merge anti-join against the store:\n" +
          df.queryExecution.executedPlan.toString))
      assert(smj.right.collectFirst { case e: ShuffleExchangeLike => e }.isEmpty,
        s"store side must read pre-partitioned by bucket:\n${smj.right}")
      assert(smj.left.collectFirst { case e: ShuffleExchangeLike => e }.nonEmpty,
        "the batch side shuffles to the bucket count")
    }
    // absorb + replay idempotence: the kept digests land once; a replay
    // keeps nothing and appends nothing
    val withAbsorb = Dedup.incrementalExactBucketed(spark, "digest_store_spec", batch)
      .collect().map(_.getLong(0)).toSet
    assert(withAbsorb === Set(11L))
    val n1 = spark.table("digest_store_spec").count()
    val replay = Dedup.incrementalExactBucketed(spark, "digest_store_spec", batch)
      .collect()
    assert(replay.isEmpty, "a replayed batch is all duplicates now")
    assert(spark.table("digest_store_spec").count() === n1,
      "replay must not grow the digest store")
  }

  test("minhashPairsIncremental absorb is idempotent under micro-batch replay") {
    import java.nio.file.Files
    val base = docs.filter(col("doc_id") <= 4)
    val store = Files.createTempDirectory("mh_replay").toString
    Dedup.writeMinhashStore(base, store)
    val baseText = docs.filter(col("doc_id") === 1).head().getString(1)
    val b1 = Seq((100L, baseText), (101L, "completely unrelated fresh words " * 3))
      .toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val first = pairs(Dedup.minhashPairsIncremental(spark, store, b1, 0.5))
    val bandsAfter1 = spark.read.parquet(s"$store/bands").count()
    val shAfter1 = spark.read.parquet(s"$store/shingles").count()
    // foreachBatch REPLAYS the same batch after a failure: the absorb must
    // not append duplicate band/shingle rows for already-stored doc_ids
    val replay = pairs(Dedup.minhashPairsIncremental(spark, store, b1, 0.5))
    assert(spark.read.parquet(s"$store/bands").count() === bandsAfter1,
      "replayed absorb must not grow the band store")
    assert(spark.read.parquet(s"$store/shingles").count() === shAfter1,
      "replayed absorb must not grow the shingle store")
    assert(replay.filter(t => t._1 < 100L || t._2 < 100L) ===
      first.filter(t => t._1 < 100L || t._2 < 100L),
      "replay still reports the same base-vs-batch pairs, no fan-out dupes")
    // and a LATER batch against the store still sees single-copy evidence
    val b2 = Seq((200L, baseText)).toDF("doc_id", "text")
    val p2 = pairs(Dedup.minhashPairsIncremental(spark, store, b2, 0.5))
    assert(p2.contains((1L, 200L)) && p2.contains((100L, 200L)))
  }

  test("simhash pairs via quadrant blocking == brute-force hamming (pigeonhole losslessness)") {
    val hashes = Dedup.simhashes(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = (for {
      (i, hi) <- hashes; (j, hj) <- hashes if i < j
      if java.lang.Long.bitCount(hi ^ hj) <= 3
    } yield (i, j)).toSet
    val blocked = Dedup.simhashPairs(docs, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked === brute)
    assert(hashes(1L) === hashes(2L))
  }

  test("jaccard exact pairs: dup pair has jaccard 1.0") {
    val rows = Dedup.jaccardPairsExact(docs, 0.2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(rows((1L, 2L)) === 1.0)
    assert(rows.contains((1L, 3L)), "near-dup pair above threshold")
  }

  test("corpus pipeline: filters, exact dedup and near-dup keep-one compose end to end") {
    // en-predicted docs: 1, 2, 3, 5 (4 is es). minQuality=0 keeps them
    // all → exact dedup drops 2 (dup of 1) → jaccard(1,3) = 2/6, so
    // threshold 0.3 clusters {1, 3} and keeps representative 1 →
    // kept = {1 (s0, 6 tokens), 5 (s2, 3 tokens)}.
    val stats = CorpusPipeline.curate(docs, lang = "en", minQuality = 0.0,
        jaccardThreshold = 0.3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(stats === Set(("s0", 1L, 6L), ("s2", 1L, 3L)))
  }

  test("curateStats: per-stage rows match independently computed stage counts") {
    // same fixture as the end-to-end test: 5 docs in → 4 en → 4 pass
    // quality 0 → exact dedup drops doc 2 → near-dup clusters {1,3},
    // keep 1 → 2 out. Chain consistency: rows_in(k) == rows_out(k-1).
    val st = CorpusPipeline.curateStats(docs, lang = "en", minQuality = 0.0,
        jaccardThreshold = 0.3)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(st("lang_id") === ((5L, 4L, 1L)))
    assert(st("quality") === ((4L, 4L, 0L)))
    assert(st("exact_dedup") === ((4L, 3L, 1L)))
    assert(st("neardup_cluster") === ((3L, 2L, 1L)))
    assert(!st.contains("pii_redact"), "pii stage only appears when enabled")
    // the final stage's rows_out is the pipeline's own kept count
    val kept = CorpusPipeline.curatedDocs(docs, "en", 0.0, 0.3).count()
    assert(st("neardup_cluster")._2 === kept)
    // with redaction on: row-preserving stage, rows_changed counts the
    // docs the matcher actually rewrote (this fixture has no PII)
    val st2 = CorpusPipeline.curateStats(docs, lang = "en", minQuality = 0.0,
        jaccardThreshold = 0.3, redactPii = true)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(st2("pii_redact") === ((4L, 4L, 0L)))
    assert(st2("neardup_cluster")._2 ===
      CorpusPipeline.curatedDocs(docs, "en", 0.0, 0.3, redactPii = true).count())
    // the stages around the PII stage count the same as without it
    assert(st2 - "pii_redact" === st)
    // a document carrying PII: the one scan counts it as rewritten,
    // and the dedup stages key on the redacted text
    val withPii = docs.union(Seq(
      (6L, "the dog ran to mail jane.doe@example.com now", "en", "s2", 43L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val st3 = CorpusPipeline.curateStats(withPii, lang = "en", minQuality = 0.0,
        jaccardThreshold = 0.3, redactPii = true)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(st3("lang_id") === ((6L, 5L, 1L)))
    assert(st3("quality") === ((5L, 5L, 0L)))
    assert(st3("pii_redact") === ((5L, 5L, 1L)))
    assert(st3("exact_dedup") === ((5L, 4L, 1L)))
    assert(st3("neardup_cluster") === ((4L, 3L, 1L)))
    assert(st3("neardup_cluster")._2 ===
      CorpusPipeline.curatedDocs(withPii, "en", 0.0, 0.3, redactPii = true).count())
  }

  test("contamination: corpus docs sharing probe shingles are flagged with exact overlap counts") {
    // probe = docs 1-2 ("the cat sat on the mat": shingles {"the cat sat",
    // "cat sat on", "sat on the", "on the mat"}); corpus = docs 3-5.
    // Doc 3 shares exactly {"the cat sat", "cat sat on"}; docs 4, 5
    // share nothing (5 has only one shingle, "one two three").
    val flagged = Dedup.contamination(docs, col("doc_id") <= 2, minOverlap = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flagged === Map(3L -> 2L))
    // threshold excludes the 2-shingle overlap
    assert(Dedup.contamination(docs, col("doc_id") <= 2, minOverlap = 3).count() === 0)
  }

  test("jaccard df cap: no-op above every fixture df; drops stop-shingle evidence when it bites") {
    def pairs(maxDf: Int) = Dedup.jaccardPairsExact(docs, 0.2, maxDf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // no shingle appears in more than 3 fixture docs → cap 64 is a no-op
    assert(pairs(64) === pairs(Int.MaxValue))
    // cap 1 removes every shared shingle → no pairs at all
    assert(Dedup.jaccardPairsExact(docs, 0.0001, maxDf = 1).collect().isEmpty)
  }

  test("clustersIncremental: multi-batch absorb == batch nearDupClusters at every boundary; delta append is O(changed)") {
    val rnd = new scala.util.Random(41)
    // synthetic doc/pair batches: docs arrive in 3 waves, each wave
    // brings pairs among everything seen so far (the incremental-pair
    // store contract: new x corpus + new x new)
    val allDocs = (0L until 60L).map(i => (i, s"d$i"))
    val docBatches = allDocs.grouped(20).toSeq
    val pairsFor = (seen: Seq[Long], batch: Seq[Long]) => {
      val pool = seen ++ batch
      (0 until 25).map { _ =>
        val a = pool(rnd.nextInt(pool.size)); val b = batch(rnd.nextInt(batch.size))
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).distinct
    }
    val tbl = "textdedup_clusters"
    Dedup.dropClusterStore(spark, tbl)
    // gen-0 snapshot from the first wave
    var seenDocs = docBatches.head.map(_._1)
    var seenPairs = pairsFor(Nil, seenDocs)
    Dedup.writeClusterStore(
      Dedup.nearDupClusters(
        seenDocs.map(i => (i, "")).toDF("doc_id", "text"),
        seenPairs.toDF("id1", "id2")),
      tbl, buckets = 4)
    var lastWaveIds = Seq.empty[Long]
    var lastNewPairs = Seq.empty[(Long, Long)]
    docBatches.tail.foreach { wave =>
      val waveIds = wave.map(_._1)
      val newPairs = pairsFor(seenDocs, waveIds)
      val preRows = spark.table(tbl).count()
      val got = Dedup.clustersIncremental(spark, tbl,
          waveIds.map(i => (i, "")).toDF("doc_id", "text"),
          newPairs.toDF("id1", "id2"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      seenDocs = seenDocs ++ waveIds
      seenPairs = seenPairs ++ newPairs
      lastWaveIds = waveIds; lastNewPairs = newPairs
      val want = Dedup.nearDupClusters(
          seenDocs.map(i => (i, "")).toDF("doc_id", "text"),
          seenPairs.toDF("id1", "id2"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got === want, "absorb must equal batch CC over all docs/pairs so far")
      val served = Dedup.clusterStoreLabels(spark, tbl)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(served === want, "store fold must serve the absorbed labeling")
      // the append was a DELTA: bounded by the batch plus the members
      // of clusters its pairs touch — never the corpus
      val endpointIds = newPairs.flatMap(p => Seq(p._1, p._2)).toSet
      val touched = want.collect { case (d, c) if endpointIds.contains(d) => c }.toSet
      val bound = want.count { case (_, c) => touched.contains(c) } + waveIds.size
      val appended = spark.table(tbl).count() - preRows
      assert(appended <= bound, s"append ($appended) must stay within the delta bound ($bound)")
    }
    // replay idempotency: re-absorbing the EXACT last batch changes nothing
    val lastWave = lastWaveIds
    val replayPairs = lastNewPairs
    val before = Dedup.clusterStoreLabels(spark, tbl)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    Dedup.clustersIncremental(spark, tbl,
      lastWave.map(i => (i, "")).toDF("doc_id", "text"),
      replayPairs.toDF("id1", "id2")).count()
    val after = Dedup.clusterStoreLabels(spark, tbl)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(after === before, "replaying an absorbed batch must not change the labeling")
    // plan pin: the bucketed fold aggregates without an Exchange
    val foldPlan = Dedup.clusterStoreLabels(spark, tbl)
      .queryExecution.executedPlan.toString
    assert(!foldPlan.contains("Exchange hashpartitioning"),
      s"latest-generation fold must ride the bucket layout:\n$foldPlan")
  }

  test("compactClusterStore: serving unchanged, superseded delta rows dropped, fold stays exchange-free") {
    val tbl = "textdedup_clusters_compact"
    Dedup.dropClusterStore(spark, tbl)
    val docsOf = (ids: Seq[Long]) => ids.map(i => (i, "")).toDF("doc_id", "text")
    Dedup.writeClusterStore(
      Dedup.nearDupClusters(docsOf(0L until 20L), Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2")),
      tbl, buckets = 4)
    // two absorb waves pile up delta generations
    Dedup.clustersIncremental(spark, tbl, docsOf(20L until 30L),
      Seq((3L, 21L), (25L, 26L)).toDF("id1", "id2")).count()
    // (0, 3) merges the stored {1,2,3,21} cluster under label 0 —
    // EXISTING docs get relabeled at a later generation, so the store
    // provably holds superseded rows for the compaction to drop
    Dedup.clustersIncremental(spark, tbl, docsOf(30L until 40L),
      Seq((26L, 31L), (0L, 35L), (0L, 3L)).toDF("id1", "id2")).count()
    val before = Dedup.clusterStoreLabels(spark, tbl)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val rowsBefore = spark.table(tbl).count()
    assert(rowsBefore > before.size, "fixture must have superseded delta rows to drop")

    // READER ATOMICITY: a fold PLANNED before the compaction resolves
    // the pre-compaction physical generation and must keep serving
    // through (and after) the flip — the two-table contract
    val plannedBefore = Dedup.clusterStoreLabels(spark, tbl)

    Dedup.compactClusterStore(spark, tbl)
    val after = Dedup.clusterStoreLabels(spark, tbl)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(after === before, "compaction must not change the served labeling")
    assert(spark.table(tbl).count() == before.size.toLong,
      "compacted store must hold exactly one row per doc")
    assert(spark.table(tbl).agg(max("gen")).head.getLong(0) == 0L,
      "compacted store must be a fresh generation-0 snapshot")
    assert(plannedBefore.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      === before, "a reader planned before compaction must still serve")
    // the fold still rides the bucket layout after the flip
    val foldPlan = Dedup.clusterStoreLabels(spark, tbl)
      .queryExecution.executedPlan.toString
    assert(!foldPlan.contains("Exchange hashpartitioning"),
      s"post-compaction fold must stay exchange-free:\n$foldPlan")
    // and absorbing AFTER a compaction still works (bucket count survives)
    val got = Dedup.clustersIncremental(spark, tbl, docsOf(40L until 45L),
        Seq((35L, 41L)).toDF("id1", "id2"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got(41L) == got(35L), "post-compaction absorb must merge the new edge")
    // retention: a SECOND compaction reclaims the generation superseded
    // two flips ago (keep-previous, like the index layouts' vacuum)
    val gens0 = spark.sessionState.catalog.listTables("default", s"${tbl}__g*").map(_.table)
    Dedup.compactClusterStore(spark, tbl)
    val gens1 = spark.sessionState.catalog.listTables("default", s"${tbl}__g*").map(_.table)
    assert(gens1.size <= 2, s"old generations must be reclaimed, have $gens1 (was $gens0)")
    assert(Dedup.clusterStoreLabels(spark, tbl)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap === got,
      "serving survives repeated compactions")
  }

  test("maximalSpans: a long planted duplicate reports as ONE full-extent span, never fragments") {
    // two docs share a 30-word passage embedded at different offsets in
    // otherwise-unique text; a third doc is clean
    val passage = (0 until 30).map(i => s"dup$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta gamma $passage delta epsilon"),
      (2L, s"one two three four five six seven $passage eight"),
      (3L, "totally unrelated words nine ten eleven twelve"))
      .toDF("doc_id", "text")
    val spans = Dedup.maximalSpans(docs, n = 6, minWords = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // doc 1: passage at words 4..33; doc 2: at words 8..37 — exactly one
    // span each, covering the exact planted extent
    assert(spans === Set((1L, 4L, 33L), (2L, 8L, 37L)),
      "each planted duplicate must surface as one exact-extent span")
    // the removal form: doc 1 (first occurrence) keeps everything; doc 2
    // loses the passage as ONE contiguous cut, nothing else
    val byId = Dedup.maxSpanDedup(docs, n = 6, minWords = 20)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(byId(1L)._1 === s"alpha beta gamma $passage delta epsilon" && byId(1L)._2 === 0L,
      "the globally first occurrence must survive intact")
    assert(byId(2L)._1 === "one two three four five six seven eight" && byId(2L)._2 === 30L,
      "a later occurrence must lose the passage as one contiguous cut")
    assert(byId(3L)._2 === 0L)
    // below the floor: a 12-word repeat is NOT a maximal span at L=20
    val short = Seq(
      (1L, "a b c " + (0 until 12).map(i => s"s$i").mkString(" ") + " x y"),
      (2L, "p q r " + (0 until 12).map(i => s"s$i").mkString(" ") + " z"))
      .toDF("doc_id", "text")
    assert(Dedup.maximalSpans(short, n = 6, minWords = 20).count() === 0L)
    assert(Dedup.maximalSpans(short, n = 6, minWords = 12).count() === 2L)
    // fragments never split: duplicateSpans' removal merge (gap<=n) may
    // bridge, but every maximal span is covered by exactly one island —
    // consecutive window positions with no interior break
    val winsPerSpan = Dedup.maximalSpans(docs, n = 6, minWords = 20)
    assert(winsPerSpan.filter(col("span_words") =!= col("span_end") - col("span_start") + 1)
      .count() === 0L)
  }

  test("cluster store hygiene: sweep never touches prefix-colliding neighbors; embedded __gN names resolve") {
    val docsOf = (ids: Seq[Long]) => ids.map(i => (i, "")).toDF("doc_id", "text")
    // 1) a NEIGHBOR table whose name merely starts with `{tbl}__g` (no
    //    digits) must survive creating/dropping the store — the sweep
    //    is exact-name or `__g<digits>` only
    val tbl = "hygiene_store"
    spark.sql("DROP TABLE IF EXISTS hygiene_store__grants")
    Seq((1L, "keep")).toDF("id", "v").write.mode("overwrite")
      .saveAsTable("hygiene_store__grants")
    // and a stray warehouse DIR with the same shape (another session's)
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    val strayDir = new java.io.File(wh, "hygiene_store__gold")
    strayDir.mkdirs()
    val strayFile = new java.io.File(strayDir, "data.txt")
    java.nio.file.Files.write(strayFile.toPath, "x".getBytes)
    try {
      Dedup.dropClusterStore(spark, tbl)
      Dedup.writeClusterStore(
        Dedup.nearDupClusters(docsOf(0L until 5L), Seq((1L, 2L)).toDF("id1", "id2")),
        tbl, buckets = 2)
      assert(spark.table("hygiene_store__grants").count() === 1L,
        "prefix-colliding catalog table must survive the store sweep")
      assert(strayFile.exists(),
        "prefix-colliding warehouse dir must survive the store sweep")
      Dedup.dropClusterStore(spark, tbl)
      assert(spark.table("hygiene_store__grants").count() === 1L)
      assert(strayFile.exists())
    } finally {
      spark.sql("DROP TABLE IF EXISTS hygiene_store__grants")
      strayFile.delete(); strayDir.delete()
    }
    // 2) a logical store name that itself CONTAINS `__g<digits>` must
    //    resolve its generation from the END of the view text, not the
    //    embedded digits — absorb + compact + serve all still work
    val weird = "sf__g2_store"
    Dedup.dropClusterStore(spark, weird)
    Dedup.writeClusterStore(
      Dedup.nearDupClusters(docsOf(0L until 10L), Seq((1L, 2L)).toDF("id1", "id2")),
      weird, buckets = 2)
    Dedup.clustersIncremental(spark, weird, docsOf(10L until 15L),
      Seq((2L, 11L)).toDF("id1", "id2")).count()
    val want = Dedup.clusterStoreLabels(spark, weird)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(want(11L) === want(1L), "absorb through the weird-named store must merge")
    Dedup.compactClusterStore(spark, weird)
    assert(Dedup.clusterStoreLabels(spark, weird)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap === want,
      "compaction of an embedded-__gN-named store must not change serving")
    Dedup.dropClusterStore(spark, weird)
  }

  test("nearDupClusters: transitive chain collapses to one min-labeled cluster") {
    // a(1)~b(2), b(2)~c(3) but 1 and 3 NOT directly paired — transitive
    // closure must still put all three in cluster 1; 4 and 5 stay
    // singletons (doc 4 shares no shingles, doc 5 is too short)
    val chain = Seq(
      (1L, "w x y z q r s t"),
      (2L, "w x y z q r s DIFF"),
      (3L, "DIFF2 x y z q r s DIFF"),
      (4L, "totally different text with nothing shared here at all"),
      (5L, "too short"))
      .toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairsExact(chain, 0.6)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 2L)) && got.contains((2L, 3L)) && !got.contains((1L, 3L)),
      s"fixture should form an open chain, got $got")
    val clusters = Dedup.nearDupClusters(chain, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters(1L) === 1L && clusters(2L) === 1L && clusters(3L) === 1L)
    assert(clusters(4L) === 4L && clusters(5L) === 5L)
  }

  test("clusterRepresentatives: highest quality wins, ties break to the smaller id") {
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L))
      .toDF("doc_id", "cluster_id")
    val quality = Seq((1L, 0.3), (2L, 0.9), (3L, 0.9), (4L, 0.5), (5L, 0.5))
      .toDF("doc_id", "quality")
    val reps = Dedup.clusterRepresentatives(clusters, quality).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    // cluster 1: docs 2 and 3 tie at 0.9 — smaller id (2) wins, size 3
    assert(reps(1L) === ((2L, 0.9, 3L)))
    // cluster 4: tie at 0.5 — doc 4 wins, size 2
    assert(reps(4L) === ((4L, 0.5, 2L)))
    assert(reps.size === 2, "one representative per cluster")
  }

  test("langId predicts by stopword argmax with declaration-order ties") {
    val out = TextAnalysis.langId(docs).select("doc_id", "lang_pred").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === "en")
    assert(out(4L) === "es")
    assert(out(5L) === "en", "all-zero scores fall back to first language")
  }

  test("rolling fingerprint is order-sensitive") {
    val fp = Seq("a b c", "c b a").toDF("text")
      .select(rollingFingerprint(tokens(col("text"))).as("fp"))
      .collect().map(_.getLong(0))
    assert(fp(0) !== fp(1))
  }

  test("token counting: whitespace vs regex tokens") {
    val out = Seq((9L, "ab3 c-d", "en", "s", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextAnalysis.tokenCounting(out).head()
    assert(r.getInt(1) === 2) // "ab3", "c-d"
    assert(r.getInt(2) === 5) // ab | 3 | c | - | d
  }

  test("repetition: duplicate-shingle fraction; short docs excluded") {
    val fixture = Seq(
      (1L, "a b c a b c a b c"), // 7 shingles, 3 distinct → dup_frac 4/7
      (2L, "a b c d e"),         // 3 shingles, all distinct → 0.0
      (3L, "a b"))               // < 3 tokens → no shingles, excluded
      .toDF("doc_id", "text")
    val rep = TextAnalysis.repetition(fixture).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getDouble(3))).toMap
    assert(rep.keySet === Set(1L, 2L))
    assert(rep(1L) === ((7, 3, BigDecimal(4.0 / 7).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    assert(rep(2L) === ((3, 3, 0.0)))
  }

  test("wordEntropy: uniform == log2(k), constant == 0, skew matches hand math") {
    val fixture = Seq(
      (1L, "a b c d"),       // uniform over 4 → exactly 2 bits
      (2L, "a a a a"),       // constant → 0
      (3L, "a a b"),         // H = log2(3) − (2·log2 2 + 1·log2 1)/3
      (4L, "solo"))          // single token → 0
      .toDF("doc_id", "text")
    val got = TextAnalysis.wordEntropy(fixture).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got(1L) === ((4L, 2.0)))
    assert(got(2L) === ((4L, 0.0)))
    assert(got(4L) === ((1L, 0.0)))
    val h3 = BigDecimal(math.log(3) / math.log(2) - 2.0 / 3)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(3L)._2 === h3)
    // entropy separates stuffing from diverse text even when the
    // dup-fraction signal is identical-ish
    assert(got(2L)._2 < got(3L)._2 && got(3L)._2 < got(1L)._2)
    // partitioning invariance (DECIMAL pre-sum truncation)
    val again = TextAnalysis.wordEntropy(fixture.repartition(5)).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(again === got.view.mapValues(_._2).toMap)
  }

  test("editDistancePairs: deletion-neighborhood blocking is LOSSLESS for ed ≤ 1") {
    // planted: exact dup, substitution, insertion, deletion, transposed
    // (ed 2 — must NOT pair), and an unrelated key; keys are the full
    // texts (shorter than keyLen) so the planted distances are exact
    val fixture = Seq(
      (1L, "hello world"),
      (2L, "hello world"),  // ed 0 to 1
      (3L, "hallo world"),  // substitution: ed 1 to 1/2
      (4L, "helloo world"), // insertion: ed 1 to 1/2
      (5L, "hell world"),   // deletion: ed 1 to 1/2
      (6L, "ehllo world"),  // transposition: ed 2 to 1/2 — excluded
      (7L, "goodbye moon"))
      .toDF("doc_id", "text")
    val got = Dedup.editDistancePairs(fixture, keyLen = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute-force truth over all pairs
    val keys = fixture.collect().map(r => (r.getLong(0), r.getString(1)))
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val truth = (for {
      (i1, k1) <- keys; (i2, k2) <- keys if i1 < i2
      e = lev(k1, k2) if e <= 1
    } yield (i1, i2, e.toLong)).toSet
    assert(got === truth)
    assert(got.contains((1L, 2L, 0L)) && got.contains((1L, 3L, 1L)) &&
      got.contains((1L, 4L, 1L)) && got.contains((1L, 5L, 1L)))
    assert(!got.exists(p => p._1 == 6L || p._2 == 6L), "ed-2 transposition must not pair")

    // depth-2 neighborhoods: every ed ≤ 2 shape pairs, ed-3 does not
    val fixture2 = Seq(
      (1L, "hello world"),
      (2L, "hallo wurld"),   // 2 substitutions
      (3L, "helo wrld"),     // 2 deletions
      (4L, "ehllo world"),   // transposition = sub+sub-ish: ed 2
      (5L, "hxello worl"),   // 1 insertion + 1 deletion
      (6L, "haxlo world"),   // sub + insertion: ed 2 to 1
      (7L, "xyzlo world"))   // ed 3 — excluded
      .toDF("doc_id", "text")
    val got2 = Dedup.editDistancePairs(fixture2, keyLen = 16, maxEd = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val keys2 = fixture2.collect().map(r => (r.getLong(0), r.getString(1)))
    val truth2 = (for {
      (i1, k1) <- keys2; (i2, k2) <- keys2 if i1 < i2
      e = lev(k1, k2) if e <= 2
    } yield (i1, i2, e.toLong)).toSet
    assert(got2 === truth2)
    for (i <- 2L to 6L)
      assert(got2.contains((1L, i, 2L)), s"planted ed-2 pair (1,$i) must survive blocking")
    assert(!got2.exists(p => p._2 == 7L && p._1 == 1L), "ed-3 must not pair with 1")
  }

  // Span-dedup fixture (n = 3): doc 5 is a verbatim copy of doc 1, doc 2
  // embeds doc 1's "a b c d e" run, doc 3 is unique, doc 4 is one word
  // repeated (self-repetition within a single doc).
  private val spanDocs = Seq(
    (1L, "a b c d e x y"),
    (2L, "q r a b c d e s"),
    (3L, "m n o p q u v w"),
    (4L, "z z z z z z z z"),
    (5L, "a b c d e x y"))
    .toDF("doc_id", "text")

  test("duplicateSpans finds maximal duplicated runs, incl. self-repetition") {
    val got = Dedup.duplicateSpans(spanDocs, n = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    // (doc, start, end, span_words, n_windows); endpoints inclusive 1-based
    assert(got === Set(
      (1L, 1L, 7L, 7L, 5L),   // whole doc duplicated by doc 5
      (2L, 3L, 7L, 5L, 3L),   // the embedded "a b c d e" run
      (4L, 1L, 8L, 8L, 6L),   // every "z z z" window repeats
      (5L, 1L, 7L, 7L, 5L)))
  }

  test("spanDedup keeps the globally first occurrence and rebuilds the rest") {
    val got = Dedup.spanDedup(spanDocs, n = 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got === Set(
      (1L, "a b c d e x y", 0L),    // first occurrences: untouched
      (2L, "q r s", 5L),            // embedded run cut, frame kept
      (3L, "m n o p q u v w", 0L),  // unique doc: untouched
      (4L, "z", 7L),                // self-repetition collapses to one word
      (5L, "", 7L)))                // full duplicate of doc 1: emptied
  }

  test("incrementalSpanDedup cuts corpus-known and batch-repeated grams, batch-first wins") {
    val corpus = Seq((1L, "a b c d e x y")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "q r a b c d e s"), // embeds the corpus run -> cut
      (11L, "z z z z z z z z"), // self-repetition within the batch
      (12L, "f g h i j"),      // novel content: untouched
      (13L, "z z z z"))        // repeats doc 11's gram; 11 is batch-first
      .toDF("doc_id", "text")
    val got = Dedup.incrementalSpanDedup(corpus, batch, n = 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got === Set(
      (10L, "q r s", 5L),
      (11L, "z", 7L),
      (12L, "f g h i j", 0L),
      (13L, "", 4L)))
  }

  test("bucketed gram store: span dedup == plain form; store side exchange-free; absorb + replay") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val corpus = Seq((1L, "a b c d e x y")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "q r a b c d e s"),
      (11L, "z z z z z z z z"),
      (12L, "f g h i j"),
      (13L, "z z z z"))
      .toDF("doc_id", "text")
    val tbl = "gram_store_spec"
    dropManaged(tbl)
    Dedup.writeGramStore(corpus, tbl, n = 3, buckets = 4)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val plain = rows(Dedup.incrementalSpanDedup(corpus, batch, n = 3))
    assert(rows(Dedup.incrementalSpanDedupBucketed(spark, tbl, batch, n = 3,
      absorb = false)) === plain, "bucketed form must equal the plain form")
    // plan pin: force SMJ — the known-gram join's STORE side must read
    // pre-partitioned by bucket; only the batch side shuffles
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
      val df = Dedup.incrementalSpanDedupBucketed(spark, tbl, batch, n = 3,
        absorb = false)
      val smjs = df.queryExecution.executedPlan
        .collect { case j: SortMergeJoinExec => j }
      // the known-gram join is the plan's one LEFT SEMI sort-merge join
      val storeJoin = smjs
        .find(_.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi)
        .getOrElse(fail("expected a sort-merge semi-join against the gram store:\n" +
          df.queryExecution.executedPlan.toString))
      assert(storeJoin.right.collectFirst { case e: ShuffleExchangeLike => e }.isEmpty,
        s"store side must read pre-partitioned by bucket:\n${storeJoin.right}")
    }
    // absorb appends the batch's novel grams through the bucket spec;
    // a replayed batch is all-known -> cuts to empty, appends nothing
    assert(rows(Dedup.incrementalSpanDedupBucketed(spark, tbl, batch, n = 3)) === plain)
    val n1 = spark.table(tbl).count()
    val replay = rows(Dedup.incrementalSpanDedupBucketed(spark, tbl, batch, n = 3))
    assert(replay.forall(_._2 === ""),
      "a replayed batch's grams are all known — every doc cuts to empty")
    assert(spark.table(tbl).count() === n1, "replay must not grow the gram store")
  }

  test("bigramNll matches the hand-computed smoothed bigram LM") {
    val d = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "x"))
      .toDF("doc_id", "text")
    // counts: cb(a,b)=3 cb(b,a)=1 cb(b,c)=1; cu(a)=3 cu(b)=2; V=4 (a b c x)
    def lp(cb: Long, cu: Long): BigDecimal =
      BigDecimal(math.log((cb + 0.5) / (cu + 0.5 * 4)))
        .setScale(12, BigDecimal.RoundingMode.HALF_UP)
    def nll(lps: Seq[BigDecimal]): Double =
      BigDecimal(-(lps.sum.toDouble / lps.length))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = Map(
      1L -> (3L, nll(Seq(lp(3, 3), lp(1, 2), lp(3, 3)))),
      2L -> (2L, nll(Seq(lp(3, 3), lp(1, 2)))))
    val got = TextAnalysis.bigramNll(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got === expected) // doc 3 has no bigrams and is excluded
    assert(got(1L)._2 < got(2L)._2,
      "the more-predictable doc must score a lower NLL")
  }

  test("CMS heavy hitters: one-sided estimates that recover the exact top tokens") {
    val d = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val exact = TextAnalysis.tokenCounts(d, limit = Int.MaxValue).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val est = TextAnalysis.cmsHeavyHitters(d, k = Int.MaxValue).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet === exact.keySet, "every distinct token gets an estimate")
    for ((t, e) <- est)
      assert(e >= exact(t), s"CMS must never underestimate: $t est $e < ${exact(t)}")
    // sketch width 1024 >> distinct tokens here, so estimates are exact
    // and the heavy-hitter ranking reproduces the exact ranking
    val topExact = exact.toSeq.sortBy { case (t, c) => (-c, t) }.take(10)
    val topEst = est.toSeq.sortBy { case (t, c) => (-c, t) }.take(10)
    assert(topEst === topExact)
  }

  test("streamed CMS maintenance: appended increments sum to the batch sketch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("cms_stream").toString
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingCuration.maintainCms(
      mem.toDF().toDF("doc_id", "text"), dir)
    try {
      val rows = (0L until 200L).map(i => (i, s"tok${i % 11} tok${i % 5} tok${i % 3}"))
      mem.addData(rows.take(90): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(90): _*)
      q.processAllAvailable()
      val served = TextAnalysis.cmsFromDir(spark, dir).collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      val batch = TextAnalysis.cmsSketch(rows.toDF("doc_id", "text")).collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(served === batch)
      // heavy hitters served from the maintained dir ≡ the batch path
      val fromDir = TextAnalysis.cmsHeavyHittersWith(
          TextAnalysis.cmsFromDir(spark, dir), rows.toDF("doc_id", "text"), 5)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val fromBatch = TextAnalysis.cmsHeavyHitters(rows.toDF("doc_id", "text"), 5)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(fromDir === fromBatch)
    } finally q.stop()
  }

  test("CMS sketch is mergeable: sketch(a ∪ b) = cell-wise sum of sketches") {
    val docs = spark.range(100).selectExpr("id AS doc_id",
      "concat('tok', cast(id % 7 AS string), ' tok', cast(id % 3 AS string)) AS text")
    val a = docs.filter(col("doc_id") < 40)
    val b = docs.filter(col("doc_id") >= 40)
    def cells(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.cmsSketch(df).collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val merged = {
      val ca = cells(a); val cb = cells(b)
      (ca.keySet ++ cb.keySet).map(k => k -> (ca.getOrElse(k, 0L) + cb.getOrElse(k, 0L))).toMap
    }
    assert(cells(docs) === merged)
  }

  test("BPE training reproduces the published worked example") {
    import graft.operators.Bpe
    // the Sennrich corpus: low x5, lower x2, newest x6, widest x3
    def rep(w: String, n: Int) = Seq.fill(n)(w)
    val text = (rep("low", 5) ++ rep("lower", 2) ++ rep("newest", 6) ++ rep("widest", 3))
      .mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val rules = Bpe.train(docs, 5).orderBy("step").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(rules === Seq(
      ("e", "s", 9L),        // es/st/t</w> tie at 9 -> lexicographic
      ("es", "t", 9L),
      ("est", "</w>", 9L),
      ("l", "o", 7L),        // lo/ow tie at 7
      ("lo", "w", 7L)))
    val enc = Bpe.encode(docs, 5).collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(enc === Map(
      "low" -> "low </w>",
      "lower" -> "low e r </w>",
      "newest" -> "n e w est</w>",
      "widest" -> "w i d est</w>"))
  }

  test("BPE merge application is greedy left-to-right within equal-symbol runs") {
    import graft.operators.Bpe
    val docs = Seq((1L, "aaaa")).toDF("doc_id", "text")
    // chars a a a a </w>: (a,a) x3 overlapping; greedy takes offsets 1 and 3
    val enc = Bpe.encode(docs, 1).collect().map(r => r.getString(2))
    assert(enc.toSeq === Seq("aa aa </w>"))
  }
}
