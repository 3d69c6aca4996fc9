package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions._
import graft.operators.{Dedup, Hnsw, Ivf, Knn}

/** HNSW build/search invariants + the RgbTest-analog recall harness
  * (hnsw.cc:326-368, generalized per SURVEY.md §5.2.3).
  */
class HnswSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  // deterministic synthetic set: 200 vectors, dim 8, clustered-ish
  private lazy val emb = (0L until 200L).map { i =>
    val rnd = new scala.util.Random(i)
    (i, Array.fill(8)(rnd.nextFloat() * 100f))
  }.toDF("vec_id", "embedding").cache()

  private val params = Hnsw.Params(numPartitions = 3)

  /** The incremental lifecycle built once per (base, fresh) content:
    * [[Hnsw.save]] `base`, then [[Hnsw.insertInto]] `fresh`.
    */
  private def ensureInsertedSaved(base: org.apache.spark.sql.DataFrame,
                                  fresh: org.apache.spark.sql.DataFrame,
                                  p: Hnsw.Params, dir: String): Unit =
    graft.operators.IndexMeta.ensure(dir, s"hnsw_incr;p=$p", base, fresh) {
      Hnsw.save(base, p, dir)
      Hnsw.insertInto(spark, dir, fresh, p)
    }

  test("edges table respects degree cap and layer structure") {
    val edges = Hnsw.buildEdges(emb, params).cache()
    val layers = edges.select("layer").distinct().collect().map(_.getInt(0)).sorted
    assert(layers.head === 0)
    assert(layers.last <= params.maxLevel)
    val maxDeg = edges.groupBy("part", "src", "layer").count()
      .agg(max("count")).head().getLong(0)
    assert(maxDeg <= params.maxM, s"degree cap violated: $maxDeg")
    // every node appears on layer 0
    val n0 = edges.filter(col("layer") === 0).select("src").distinct().count()
    assert(n0 === 200, "all nodes linked on layer 0")
  }

  test("build is deterministic (two runs, identical edge sets)") {
    val e1 = Hnsw.buildEdges(emb, params).collect().map(_.toSeq).toSet
    val e2 = Hnsw.buildEdges(emb, params).collect().map(_.toSeq).toSet
    assert(e1 === e2)
  }

  test("perturbed self-query returns itself as 1-NN (RgbTest protocol)") {
    // qv = stored vector of id 7, perturbed (+1, -1) — hnsw.cc:352-356
    val qs = emb.filter(col("vec_id") === 7)
      .select(lit(7L).as("query_id"), perturbQuery(col("embedding")).as("query_vec"))
    val top1 = Hnsw.searchTopK(emb, qs, 1, params).head()
    assert(top1.getLong(1) === 7L)
  }

  test("recall@10 of sharded HNSW vs exact kNN is high (reference greedy: ~0.30)") {
    val qs = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), perturbQuery(col("embedding")).as("query_vec"))
    val recalls = Hnsw.recallAtK(emb, qs, 10, params).collect().map(_.getDouble(1))
    assert(recalls.length === 20)
    val avg = recalls.sum / recalls.length
    assert(avg >= 0.95, s"avg recall $avg below floor")
  }

  // clustered anisotropic fixture (blob structure + decaying variance —
  // the geometry of real embedding spaces, same shape as AnnBench
  // pqclustered): where closest-first neighbor selection wastes the
  // edge budget inside one blob
  private lazy val clustered = {
    val kBlobs = 12; val dim = 16
    (0L until 600L).map { i =>
      val rc = new scala.util.Random((i % kBlobs) * 7919)
      val center = Array.fill(dim)(rc.nextDouble() * 80 - 40)
      val rn = new scala.util.Random(i * 104729 + 13)
      (i, Array.tabulate(dim)(d =>
        ((center(d) + rn.nextDouble() * 8 - 4) / (1.0 + d)).toFloat))
    }.toDF("vec_id", "embedding").cache()
  }

  test("diversity neighbor selection (opt-in): recall-per-edge on clustered geometry; deterministic") {
    // tight edge budget so selection policy is the binding constraint
    val base = Hnsw.Params(m = 3, maxM = 4, efConstruction = 12, efSearch = 10,
      numPartitions = 1)
    val divp = base.copy(diversify = true)
    val qs = clustered.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("query_id"), perturbQuery(col("embedding")).as("query_vec"))
    def avgRecall(p: Hnsw.Params): Double = {
      val r = Hnsw.recallAtK(clustered, qs, 10, p).collect().map(_.getDouble(1))
      r.sum / r.length
    }
    val rBase = avgRecall(base)
    val rDiv = avgRecall(divp)
    info(f"recall@10 closest-first=$rBase%.3f diversified=$rDiv%.3f (m=3, maxM=4, ef=12/10)")
    assert(rDiv >= rBase,
      f"diversified selection must not lose recall at equal edge budget: $rDiv%.3f < $rBase%.3f")
    // determinism and structural invariants under the heuristic
    val e1 = Hnsw.buildEdges(clustered, divp).collect().map(_.toSeq).toSet
    val e2 = Hnsw.buildEdges(clustered, divp).collect().map(_.toSeq).toSet
    assert(e1 === e2, "diversified build must stay deterministic")
    val edges = Hnsw.buildEdges(clustered, divp)
    val maxDeg = edges.groupBy("part", "src", "layer").count()
      .agg(max("count")).head().getLong(0)
    assert(maxDeg <= divp.maxM, s"degree cap violated under diversify: $maxDeg")
    assert(edges.filter(col("layer") === 0).select("src").distinct().count() === 600,
      "all nodes linked on layer 0")
  }

  test("persisted index roundtrip: searchWithIndex == searchTopK") {
    val dir = java.nio.file.Files.createTempDirectory("hnsw_idx").toString
    Hnsw.save(emb, params, dir)
    val qs = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), perturbQuery(col("embedding")).as("query_vec"))
    val fromIndex = Hnsw.search(spark, dir, qs, 5, params)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val rebuilt = Hnsw.searchTopK(emb, qs, 5, params)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fromIndex === rebuilt)
  }

  test("incremental insert: recall on N+M, untouched shards, save-roundtrip (hnsw.cc:147-215)") {
    val p4 = Hnsw.Params(numPartitions = 4)
    val base = emb.filter(col("vec_id") < 150)
    // 50 new ids, all ≡ 3 (mod 4): exactly ONE of the four hash shards
    // is affected, so the pass-through contract is observable
    val newIds = (0 until 50).map(i => 151L + 4L * i)
    val fresh = newIds.map { i =>
      val rnd = new scala.util.Random(i)
      (i, Array.fill(8)(rnd.nextFloat() * 100f))
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("hnsw_incr").toString
    Hnsw.ensureSaved(base, p4, dir)
    def edgeSet(df: org.apache.spark.sql.DataFrame) =
      df.select("part", "src", "dst", "layer").collect().map(_.toSeq).toSet
    val before = edgeSet(Hnsw.readRoutedEdges(spark, dir).filter(col("part") =!= 3))
    Hnsw.insertInto(spark, dir, fresh, p4)
    val edges1 = Hnsw.readRoutedEdges(spark, dir)
    val all = base.unionByName(fresh)

    // (a) the updated index answers over N+M with recall@10 ≥ 0.95
    // (perturbed self-queries over both old and freshly inserted ids)
    val qs = all.filter(col("vec_id") < 10 || col("vec_id") >= 330)
      .select(col("vec_id").as("query_id"), perturbQuery(col("embedding")).as("query_vec"))
    val ann = Hnsw.search(spark, dir, qs, 10, p4)
    val recalls = Hnsw.recallOf(ann, all, qs, 10).collect().map(_.getDouble(1))
    assert(recalls.length === 15)
    val avgRecall = recalls.sum / recalls.length
    assert(avgRecall >= 0.95, s"post-insert recall $avgRecall below floor")
    // every new id must be findable (its perturbed self-query returns it)
    val selfHits = ann.filter(col("query_id") >= 330 && col("query_id") === col("vec_id")).count()
    assert(selfHits === 5, "inserted vectors must be reachable in their shard graph")

    // (b) unaffected shards' edge rows pass through: the published
    // manifest keeps pointing at their build files, only shard 3 moved
    assert(edgeSet(edges1.filter(col("part") =!= 3)) === before,
      "untouched shards must not be rewritten")
    assert(graft.operators.CellSnapshot.mapping(spark, dir).map(_._2) ===
      Some(Map(0L -> 0, 1L -> 0, 2L -> 0, 3L -> 1)),
      "only the affected shard may move to the new generation")
    assert(edges1.filter(col("part") === 3 && col("src").isin(newIds: _*)).count() > 0,
      "affected shard must link the new nodes")

    // (c) the same base + insert through the memoized lifecycle lands
    // the identical edge set on disk and serves identical results
    val dir2 = java.nio.file.Files.createTempDirectory("hnsw_incr2").toString
    ensureInsertedSaved(base, fresh, p4, dir2)
    val fromDisk = Hnsw.search(spark, dir2, qs, 10, p4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inPlace = ann.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fromDisk === inPlace)
    assert(edgeSet(Hnsw.readRoutedEdges(spark, dir2)) === edgeSet(edges1))
  }

  test("ensureInsertedSaved: a changed base/fresh split of the same rows rebuilds") {
    val p4 = Hnsw.Params(numPartitions = 4)
    val dir = java.nio.file.Files.createTempDirectory("hnsw_split").toString
    ensureInsertedSaved(emb.filter(col("vec_id") < 180),
      emb.filter(col("vec_id") >= 180), p4, dir)
    val fp1 = graft.operators.IndexMeta.read(spark, dir).get
    // same UNION (all 200 rows), different split: the graph differs
    // (which rows took the beam-insert path), so the fingerprint must too
    ensureInsertedSaved(emb.filter(col("vec_id") < 170),
      emb.filter(col("vec_id") >= 170), p4, dir)
    val fp2 = graft.operators.IndexMeta.read(spark, dir).get
    assert(fp1 !== fp2,
      "identical total content under a moved split must invalidate the persisted index")
  }

  test("oversized shard fails fast with a sizing error, not an OOM") {
    val tiny = Hnsw.Params(numPartitions = 2, maxShardRows = 10)
    val e = intercept[Exception] { Hnsw.buildEdges(emb, tiny).collect() }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("maxShardRows")),
      s"expected shard-budget error, got: ${messages(e).mkString(" | ")}")
  }

  test("ensureSaved detects changed source data and rebuilds; unchanged data serves as-is") {
    val dir = java.nio.file.Files.createTempDirectory("hnsw_fp").toString
    val base = emb.filter(col("vec_id") < 100)
    Hnsw.ensureSaved(base, params, dir)
    assert(spark.read.parquet(s"$dir/nodes").count() === 100)
    // same dir, same data → fingerprint match, no rewrite
    def successMtime: Long = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/edges/_SUCCESS")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p).getModificationTime
    }
    val t0 = successMtime
    Hnsw.ensureSaved(base, params, dir)
    assert(successMtime === t0, "unchanged data must not trigger a rebuild")
    // same dir, DIFFERENT data → fingerprint mismatch, rebuilt index
    Hnsw.ensureSaved(emb, params, dir)
    assert(spark.read.parquet(s"$dir/nodes").count() === 200,
      "regenerated source data must rebuild the index")
  }

  test("a rebuild at the same dir drops the old layout's tombstones (exhaustive and routed)") {
    // A holds x and x is taken down; B holds x again: serving B at the
    // old dir must equal serving B from a fresh dir
    val x = 7L
    val a = emb.filter(col("vec_id") < 150)
    val qs = emb.filter(col("vec_id") === x || col("vec_id") === 11)
      .select(col("vec_id").as("query_id"), perturbQuery(col("embedding")).as("query_vec"))
    val cents = Ivf.centroids(emb, 4)
    def served(dir: String) = Hnsw.search(spark, dir, qs, 5, params, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    for ((shape, save) <- Seq[(String, (org.apache.spark.sql.DataFrame, String) => Unit)](
           "exhaustive" -> ((df, d) => Hnsw.save(df, params, d)),
           "routed" -> ((df, d) => Hnsw.saveRouted(df, cents, params, d)))) {
      val dir = java.nio.file.Files.createTempDirectory(s"hnsw_retomb_$shape").toString
      save(a, dir)
      graft.operators.Tombstones.record(spark, dir, Seq(x).toDF("vec_id"))
      assert(!served(dir).exists(_._2 == x), s"$shape: the tombstone must apply to A")
      save(emb, dir)
      val fresh = java.nio.file.Files.createTempDirectory(s"hnsw_retomb_fresh_$shape").toString
      save(emb, fresh)
      assert(served(fresh).exists(r => r._1 == x && r._2 == x), s"$shape: fixture must find x")
      assert(served(dir) === served(fresh), s"$shape: the rebuilt layout must serve like a fresh dir")
    }
  }

  test("persisted routed index serves identically to the rebuilt routed search") {
    val dir = java.nio.file.Files.createTempDirectory("hnsw_routed").toString
    val cents = Ivf.kmeans(emb, 8, 2)
    Hnsw.saveRouted(emb, cents, params, dir, replication = 2)
    val qs = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), perturbQuery(col("embedding")).as("query_vec"))
    val served = Hnsw.search(spark, dir, qs, 10, params, nprobe = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val rebuilt = Hnsw.searchRouted(emb, qs, 10, params, cents, nprobe = 5, replication = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(served === rebuilt)
  }

  test("Hnsw.search refuses a repeated query_id on exhaustive and routed layouts, naming the id") {
    val exhaustive = java.nio.file.Files.createTempDirectory("hnsw_dup_hash").toString
    val routed = java.nio.file.Files.createTempDirectory("hnsw_dup_routed").toString
    Hnsw.save(emb, params, exhaustive)
    Hnsw.saveRouted(emb, Ivf.kmeans(emb, 8, 2), params, routed)
    val qs = Seq((1L, Array.fill(8)(10.0)), (3L, Array.fill(8)(20.0)), (3L, Array.fill(8)(30.0)))
      .toDF("query_id", "query_vec")
    for (dir <- Seq(exhaustive, routed)) {
      val e = intercept[Exception] { Hnsw.search(spark, dir, qs, 5, params, nprobe = 2).collect() }
      val cause = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case iae: IllegalArgumentException => iae }
      assert(cause.exists(_.getMessage.contains("duplicate query_id in the query batch: query_id 3")),
        s"$dir: $e")
    }
    // a hash-sharded rebuild over a routed dir drops its routing: the
    // layout serves exhaustively again (no nprobe needed)
    Hnsw.save(emb, params, routed)
    assert(Hnsw.search(spark, routed, qs.filter(col("query_vec")(0) < 25.0), 5, params)
      .count() === 10)
  }

  test("filtered ANN: only predicate-eligible results; full beam == exact filtered kNN") {
    val dir = java.nio.file.Files.createTempDirectory("hnsw_filtered").toString
    val cents = Ivf.kmeans(emb, 8, 2)
    // full-beam params: ef ≥ corpus size makes every shard search exact
    // over its nodes, so with every shard probed the ONLY approximation
    // left is the filter semantics — which must then match exact kNN
    // over the eligible subset precisely
    val pFull = params.copy(efSearch = 256)
    Hnsw.saveRouted(emb, cents, pFull, dir, replication = 2)
    val qs = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), perturbQuery(col("embedding")).as("query_vec"))
    val pred = col("vec_id") % 2 === 0
    val ann = Hnsw.search(spark, dir, qs, 10, pFull, nprobe = 8,
      predicate = Some(pred)).cache()
    assert(ann.filter(col("vec_id") % 2 =!= 0).count() === 0,
      "ineligible nodes must never surface in filtered results")
    val annIds = ann.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactIds = Knn.topKBatch(emb.filter(pred), qs, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(annIds === exactIds,
      "full-beam all-shard filtered search must equal exact kNN over the eligible subset")
  }

  test("cosine routed search (normalize-then-L2) == exact cosine ids at full beam") {
    val qs = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), perturbQuery(col("embedding")).as("query_vec"))
    val normed = Ivf.normalized(emb)
    val cents = Ivf.kmeans(normed, 8, 2)
    val pFull = params.copy(efSearch = 256)
    // normalize-then-L2: both sides unit-normalize (the graph stores
    // float32 directions, ~1e-7 off — inside ANN slack), the L2 routed
    // search runs unchanged, and cos = 1 − d²/2
    val normedQ = qs.select(col("query_id"),
      graft.functions.VectorFunctions.normalizeQuery(col("query_vec")).as("query_vec"))
    val ann = Hnsw.searchRouted(
        normed.select(col("vec_id"), col("embedding").cast("array<float>").as("embedding")),
        normedQ, 10, pFull, cents, nprobe = 8, replication = 2)
      .select(col("query_id"), col("vec_id"),
        round(lit(1.0) - col("dist") * col("dist") / lit(2.0), 6).as("cos_sim"))
      .cache()
    // scores are genuine cosines
    assert(ann.filter(col("cos_sim") > 1.0001 || col("cos_sim") < -1.0001).count() === 0)
    val annIds = ann.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact cosine top-k == exact L2 top-k on the unit sphere
    val exactIds = Knn.topKBatch(normed, normedQ, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(annIds === exactIds,
      "full-beam all-shard cosine routed search must equal exact cosine kNN ids")
  }

  test("IVF partitioned layout: pruned probe matches in-memory probe") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_cells").toString
    Ivf.writePartitioned(emb, c = 8, dir)
    val qs = emb.filter(col("vec_id") === 7)
      .select(perturbQuery(col("embedding")).as("query_vec"))
    val fromDisk = Ivf.topKPartitioned(spark, dir, qs, 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val inMem = Ivf.topK(emb, qs, 5, c = 8, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(fromDisk === inMem)
    // the probe plan must carry a partition filter on cell
    val plan = Ivf.topKPartitioned(spark, dir, qs, 5, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      "cell probe should be partition-pruned")
  }

  test("batch IVF == per-query single IVF over the partitioned layout (incl. predicate)") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_cells_batch").toString
    Ivf.writePartitioned(emb, c = 8, dir)
    val qids = Seq(3L, 7L, 11L)
    val qs = emb.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("query_id"), perturbQuery(col("embedding")).as("query_vec"))
    def groupBatch(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
    val batch = groupBatch(Ivf.topKPartitioned(spark, dir, qs, k = 5, nprobe = 2))
    val batchPred = groupBatch(Ivf.topKPartitioned(spark, dir, qs, k = 5, nprobe = 2,
      predicate = Some(col("vec_id") >= 20)))
    qids.foreach { qid =>
      val q1 = emb.filter(col("vec_id") === qid)
        .select(perturbQuery(col("embedding")).as("query_vec"))
      val single = Ivf.topKPartitioned(spark, dir, q1, 5, nprobe = 2).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch(qid) === single,
        s"batch IVF for query $qid must equal the single-query probe result")
      val singlePred = Ivf.topKPartitioned(spark, dir, q1, 5, nprobe = 2,
          predicate = Some(col("vec_id") >= 20)).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batchPred(qid) === singlePred,
        s"filtered batch IVF for query $qid must equal the filtered single-query result")
    }
  }

  test("batch cosine == per-query single cosine over the partitioned unit-direction layout") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_cos_batch").toString
    Ivf.ensurePartitioned(emb, 8, dir, kind = "cosine")
    val qids = Seq(3L, 7L, 11L)
    val qs = emb.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("query_id"), perturbQuery(col("embedding")).as("query_vec"))
    val batch = Ivf.topKPartitioned(spark, dir, qs, k = 5, nprobe = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
    qids.foreach { qid =>
      val q1 = emb.filter(col("vec_id") === qid)
        .select(perturbQuery(col("embedding")).as("query_vec"))
      val single = Ivf.topKPartitioned(spark, dir, q1, 5, nprobe = 2).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch(qid) === single,
        s"batch cosine for query $qid must equal the single-query probe result")
    }
  }

  test("blocked kNN graph probing ALL cells == exact kNN graph (rq = C anchor)") {
    val cents = Ivf.centroids(emb, 8)
    val exact = Knn.knnGraph(emb, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(t => (t._1, t._3, t._2))
    val blockedAll = Knn.knnGraphBlocked(emb, cents, 5, rq = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(t => (t._1, t._3, t._2))
    assert(blockedAll === exact,
      "probing every cell must reproduce the exact kNN graph")
    // partial probing returns a per-source subset drawn from probed cells
    val blocked = Knn.knnGraphBlocked(emb, cents, 5, rq = 2)
    assert(blocked.groupBy("src_id").count().agg(max(col("count"))).head().getLong(0) <= 5)
  }

  test("routed search (kmeans shards, 2× replication) keeps recall ≥ 0.95 probing 5 of 8 shards") {
    val qs = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), perturbQuery(col("embedding")).as("query_vec"))
    val cents = Ivf.kmeans(emb, 8, 2)
    val ann = Hnsw.searchRouted(emb, qs, 10, params, cents, nprobe = 5, replication = 2)
    // replication must not surface a vector twice for one query
    assert(ann.groupBy("query_id", "vec_id").count().filter(col("count") > 1).count() === 0)
    val recalls = Hnsw.recallOf(ann, emb, qs, 10).collect().map(_.getDouble(1))
    val avg = recalls.sum / recalls.length
    assert(avg >= 0.95, s"routed avg recall $avg below floor")
  }

  test("kmeans refinement is deterministic and lowers quantization cost vs seeds") {
    def cost(cents: org.apache.spark.sql.DataFrame): Double =
      emb.join(Ivf.assignWith(emb, cents), Seq("vec_id"))
        .join(cents.withColumnRenamed("centroid_id", "cell"), Seq("cell"))
        .select(avg(l2Distance(col("embedding"), col("centroid_vec"))).as("c"))
        .head().getDouble(0)
    val refined = Ivf.kmeans(emb, 8, 2)
    val again = Ivf.kmeans(emb, 8, 2)
    assert(refined.collect().map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
      === again.collect().map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq)
    assert(refined.count() === 8)
    assert(cost(refined) < cost(Ivf.centroids(emb, 8)), "Lloyd iterations should tighten cells")
  }

  test("blocked embedding near-dups == brute force on a Gaussian corpus (no lost pairs)") {
    // zero-mean Gaussian directions — the embedding-like regime the
    // blocking targets (the uniform-positive `emb` fixture above bunches
    // every vector into one narrow cone, which no Voronoi blocking of
    // the sphere can split cleanly; real embedding tables are centered)
    val gauss = (0L until 200L).map { i =>
      val rnd = new scala.util.Random(i + 1000)
      (i, Array.fill(8)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val brute = Dedup.embeddingNearDups(gauss, 0.6).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val blocked = Dedup.embeddingNearDupsBlocked(gauss, 0.6, c = 8, probes = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(brute.nonEmpty, "threshold should yield pairs on this corpus")
    assert(blocked === brute)
  }

  test("IVF topK probes cells and stays consistent with exact on easy queries") {
    val qs = emb.filter(col("vec_id") === 7)
      .select(perturbQuery(col("embedding")).as("query_vec"))
    val ivf = Ivf.topK(emb, qs, 5, c = 8, nprobe = 8) // all cells probed == exact
    val exact = Knn.topK(emb.crossJoin(broadcast(qs)), col("query_vec"), 5)
    assert(ivf.collect().map(_.getLong(0)).toSeq ===
      exact.collect().map(_.getLong(0)).toSeq)
  }
}
