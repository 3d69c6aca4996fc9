package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions._
import graft.operators.{Knn, Pq}

/** Product-quantization invariants: code shape, determinism, and the
  * ADC decomposition identity (‖q − recon(v)‖² = Σ_s ‖q_s − cb_s‖²).
  */
class PqSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val M = 4
  private val SubDim = 4 // dim 16 fixture → 4 subspaces of 4
  private val C = 8

  private lazy val emb = (0L until 100L).map { i =>
    val rnd = new scala.util.Random(i)
    (i, Array.fill(16)(rnd.nextFloat() * 100f))
  }.toDF("vec_id", "embedding").cache()

  private lazy val books = Pq.codebooks(emb, M, SubDim, C, iters = 1).cache()

  test("encode: exactly one code per (vector, subspace), codes within [0, C)") {
    val enc = Pq.encode(emb, books, M, SubDim).cache()
    assert(enc.count() === 100L * M)
    assert(enc.groupBy("vec_id", "subspace").count().filter(col("count") > 1).count() === 0)
    val range = enc.agg(min("code"), max("code")).head()
    assert(range.getInt(0) >= 0 && range.getInt(1) < C)
  }

  test("codebooks and codes are deterministic across runs") {
    val again = Pq.codebooks(emb, M, SubDim, C, iters = 1)
    assert(books.collect().map(_.toSeq).toSet === again.collect().map(_.toSeq).toSet)
    val c1 = Pq.codesAsString(Pq.codesArray(emb, books, M, SubDim)).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val c2 = Pq.codesAsString(Pq.codesArray(emb, books, M, SubDim)).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(c1 === c2)
  }

  test("codesArray agrees with the exploded encode and is a pure map-side plan") {
    val fromArr = Pq.codesAsString(Pq.codesArray(emb, books, M, SubDim)).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val fromEnc = Pq.encode(emb, books, M, SubDim)
      .groupBy("vec_id")
      .agg(concat_ws("_",
        transform(array_sort(collect_list(struct(col("subspace"), col("code")))),
          x => x.getField("code").cast("string"))).as("codes"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(fromArr === fromEnc)
    // the encode itself must be shuffle-free: literal-codebook argmin
    // projection, no join/window/Exchange anywhere in the plan
    val plan = Pq.codesArray(emb, books, M, SubDim).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"encode plan must have no Exchange:\n$plan")
  }

  test("pqEncode expression == the literal-struct argmin formulation, bit for bit") {
    // the formulation PqEncodeExpr replaced, kept here as the semantic
    // pin: per-subspace array_min over (l2DistanceSq to a typedlit
    // centroid, cid) structs — lexicographic min ⇒ ties to smaller cid
    val bySub = books
      .select(col("subspace").cast("int"), col("centroid_id").cast("long"), col("centroid_vec"))
      .as[(Int, Long, Seq[Double])].collect()
      .groupBy(_._1).map { case (s, bs) => s -> bs.sortBy(_._2).map(_._3).toIndexedSeq }
    val codeExprs = (0 until M).map { s =>
      val cands = bySub(s).zipWithIndex.map { case (cv, cid) =>
        struct(
          l2DistanceSq(Pq.subVector(col("embedding"), s, SubDim), typedlit(cv)).as("d"),
          lit(cid).as("cid"))
      }
      array_min(array(cands: _*)).getField("cid")
    }
    val literal = emb.select(col("vec_id"), array(codeExprs: _*).as("codes"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1))).toMap
    val native = Pq.codesArray(emb, books, M, SubDim)
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1))).toMap
    assert(native === literal,
      "PqEncodeExpr must reproduce the literal-struct argmin codes exactly")
  }

  test("pqEncode holds at production codebook size (m=16, c=256) with O(1) plan size") {
    // the shape the literal formulation could NOT safely reach: 4096
    // argmin candidates would be 4096 struct literals in the plan; the
    // reference-object form keeps the plan constant-size
    val rnd = new scala.util.Random(42)
    val bigBooks = Seq.tabulate(16)(_ => Seq.tabulate(256)(_ => Seq(rnd.nextDouble() * 100)))
    val out = emb.select(col("vec_id"), pqEncode(col("embedding"), bigBooks).as("codes"))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.length < 20000, s"plan must not grow with m*c (got ${plan.length} chars)")
    assert(!plan.contains("Exchange"), "encode must stay shuffle-free")
    val rows = out.collect().map(r => (r.getLong(0), r.getSeq[Int](1)))
    assert(rows.length === 100)
    assert(rows.forall { case (_, cs) => cs.length == 16 && cs.forall(c => c >= 0 && c < 256) })
    // deterministic across plans
    val again = emb.select(col("vec_id"), pqEncode(col("embedding"), bigBooks).as("codes"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1)))
    assert(rows.toMap === again.toMap)
  }

  test("pqEncode: a vector whose length != m*subDim yields null codes (no silent padding)") {
    val bks = Seq.tabulate(M)(_ => Seq.tabulate(2)(_ => Seq.fill(SubDim)(1.0)))
    val bad = Seq((1L, Array.fill(15)(1.0f))).toDF("vec_id", "embedding")
    val r = bad.select(pqEncode(col("embedding"), bks).as("codes")).head()
    assert(r.isNullAt(0), "dim-mismatched vectors must yield null, not truncated codes")
  }

  test("ADC distance equals direct distance to the quantized reconstruction") {
    val q = emb.filter(col("vec_id") === 7)
      .select(perturbQuery(col("embedding")).as("query_vec"))
    val adc = Pq.adcTopK(emb, books, q, M, SubDim, k = 100).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    val direct = Pq.reconstruct(emb, books, M, SubDim)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), l2Distance(col("recon"), col("query_vec")).as("d"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(adc.size === 100)
    adc.foreach { case (id, d) =>
      assert(math.abs(d - direct(id)) < 1e-5,
        s"ADC distance for $id ($d) != direct reconstruction distance (${direct(id)})")
    }
  }

  test("codebooksCached is keyed by the scanned table's content, not its path") {
    val dir = java.nio.file.Files.createTempDirectory("pq_memo").toString
    val path = s"$dir/emb.parquet"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("subspace", "centroid_id").collect().map(_.toSeq).toSeq
    emb.write.parquet(path)
    assert(rows(Pq.codebooksCached(spark.read.parquet(path), M, SubDim, C, 1))
      === rows(Pq.codebooks(emb, M, SubDim, C, 1)))
    // the same path regenerated with other data in this JVM: the memo
    // must miss and train on the new rows
    val shifted = emb.withColumn("embedding", transform(col("embedding"), x => x + lit(1.0f)))
    shifted.write.mode("overwrite").parquet(path)
    assert(rows(Pq.codebooksCached(spark.read.parquet(path), M, SubDim, C, 1))
      === rows(Pq.codebooks(shifted, M, SubDim, C, 1)),
      "a regenerated table must not be served the old table's codebooks")
    // a transformed view of the same files is its own entry
    val perm = Pq.balancedPerm(emb, M, SubDim)
    val rot = spark.read.parquet(path)
      .select(col("vec_id"), Pq.permute(col("embedding"), perm).as("embedding"))
    assert(rows(Pq.codebooksCached(rot, M, SubDim, C, 1))
      === rows(Pq.codebooks(rot, M, SubDim, C, 1)))
  }

  test("stored-code serving == in-place ADC on identical inputs") {
    val cdir = java.nio.file.Files.createTempDirectory("pq_codes").toString + "/codes"
    Pq.ensureEncoded(emb, books, M, SubDim, cdir)
    val q = emb.filter(col("vec_id") === 7)
      .select(perturbQuery(col("embedding")).as("query_vec"))
    val stored = Pq.adcTopKStored(spark, cdir, q, k = 100).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val inPlace = Pq.adcTopK(emb, books, q, M, SubDim, k = 100).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(stored.size === 100)
    assert(stored === inPlace,
      "serving from the persisted code table must be bit-identical to encode-and-score")
  }

  test("ivfpqTopK at nprobe=C == adcTopKStored (all cells probed ⇒ flat ADC)") {
    val base = java.nio.file.Files.createTempDirectory("pq_ivfpq").toString
    val coarseC = 8
    val cents = graft.operators.Ivf.centroids(emb, coarseC)
    Pq.ensureEncodedPartitioned(emb, cents, books, M, SubDim, s"$base/ivfpq")
    Pq.ensureEncoded(emb, books, M, SubDim, s"$base/flat")
    val q = emb.filter(col("vec_id") === 7)
      .select(perturbQuery(col("embedding")).as("query_vec"))
    val all = Pq.topK(spark, s"$base/ivfpq", q, k = 100, nprobe = coarseC).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val flat = Pq.adcTopKStored(spark, s"$base/flat", q, k = 100).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(all === flat, "probing every coarse cell must reduce IVF-PQ to flat ADC")
    // pruned probe: results are a subset of the flat ADC ranking in order
    val pruned = Pq.topK(spark, s"$base/ivfpq", q, k = 10, nprobe = 2).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val flatRank = flat.toMap
    assert(pruned.nonEmpty && pruned.forall { case (id, d) => flatRank(id) == d },
      "pruned-probe distances must agree with the flat ADC distances for the same ids")
  }

  test("rerank at shortlist=N, nprobe=C == exact kNN; dist is true L2, not ADC") {
    val base = java.nio.file.Files.createTempDirectory("pq_rerank").toString
    val coarseC = 8
    val cents = graft.operators.Ivf.centroids(emb, coarseC)
    Pq.ensureEncodedPartitioned(emb, cents, books, M, SubDim, s"$base/ivfpq")
    val q = emb.filter(col("vec_id") === 7)
      .select(perturbQuery(col("embedding")).as("query_vec"))
    // full shortlist + all cells probed: PQ error cannot drop any
    // candidate, so the exact re-rank IS exact kNN
    val rr = Pq.topK(spark, s"$base/ivfpq", q, k = 10, nprobe = coarseC,
        rerank = Some(Pq.Rerank(emb, 100))).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val exact = Knn.topK(emb.crossJoin(broadcast(q)), col("query_vec"), 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rr === exact,
      "rerank with a full shortlist must reproduce exact kNN (ids AND true-L2 dists)")
    // narrow shortlist: every returned dist is still the TRUE distance
    val narrow = Pq.topK(spark, s"$base/ivfpq", q, k = 5, nprobe = 2,
        rerank = Some(Pq.Rerank(emb, 8))).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val exactDist = exact.toMap
    assert(narrow.size === 5)
    assert(narrow.filter(p => exactDist.contains(p._1))
      .forall { case (id, d) => exactDist(id) == d },
      "reranked distances must be the exact L2 values, never the ADC approximations")
  }

  test("batch ADC == per-query single ADC on the same stored codes") {
    val cdir = java.nio.file.Files.createTempDirectory("pq_batch").toString + "/codes"
    Pq.ensureEncoded(emb, books, M, SubDim, cdir)
    val qids = Seq(3L, 7L, 11L)
    val qs = emb.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("query_id"), perturbQuery(col("embedding")).as("query_vec"))
    val batch = Pq.adcTopKStoredBatch(spark, cdir, qs, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
    qids.foreach { qid =>
      val single = Pq.adcTopKStored(spark, cdir,
          emb.filter(col("vec_id") === qid)
            .select(perturbQuery(col("embedding")).as("query_vec")), k = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch(qid) === single,
        s"batch ADC for query $qid must equal the single-query ADC ranking")
    }
  }

  test("batch IVF-PQ == per-query single IVF-PQ (probes, pruning, and predicate)") {
    val base = java.nio.file.Files.createTempDirectory("pq_batch_ivfpq").toString
    val cents = graft.operators.Ivf.centroids(emb, 8)
    Pq.ensureEncodedPartitioned(emb, cents, books, M, SubDim, s"$base/ivfpq")
    val qids = Seq(3L, 7L, 11L)
    val qs = emb.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("query_id"), perturbQuery(col("embedding")).as("query_vec"))
    def groupBatch(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
    val batch = groupBatch(Pq.topK(spark, s"$base/ivfpq", qs, k = 10, nprobe = 3))
    val batchPred = groupBatch(Pq.topK(spark, s"$base/ivfpq", qs, k = 10, nprobe = 3,
      predicate = Some(col("vec_id") >= 20)))
    qids.foreach { qid =>
      val q1 = emb.filter(col("vec_id") === qid)
        .select(perturbQuery(col("embedding")).as("query_vec"))
      val single = Pq.topK(spark, s"$base/ivfpq", q1, k = 10, nprobe = 3).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch(qid) === single,
        s"batch IVF-PQ for query $qid must equal the single-query probe result")
      val singlePred = Pq.topK(spark, s"$base/ivfpq", q1, k = 10, nprobe = 3,
          predicate = Some(col("vec_id") >= 20)).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batchPred(qid) === singlePred,
        s"filtered batch IVF-PQ for query $qid must equal the filtered single-query result")
    }
  }

  test("batch rerank == per-query single rerank; full shortlist == exact batch kNN") {
    val base = java.nio.file.Files.createTempDirectory("pq_rrb").toString
    val cents = graft.operators.Ivf.centroids(emb, 8)
    Pq.ensureEncodedPartitioned(emb, cents, books, M, SubDim, s"$base/ivfpq")
    val qids = Seq(3L, 7L, 11L)
    val qs = emb.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("query_id"), perturbQuery(col("embedding")).as("query_vec"))
    def group(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
    val batch = group(Pq.topK(spark, s"$base/ivfpq", qs, k = 5, nprobe = 3,
      rerank = Some(Pq.Rerank(emb, 12))))
    qids.foreach { qid =>
      val q1 = emb.filter(col("vec_id") === qid)
        .select(perturbQuery(col("embedding")).as("query_vec"))
      val single = Pq.topK(spark, s"$base/ivfpq", q1, k = 5, nprobe = 3,
          rerank = Some(Pq.Rerank(emb, 12))).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch(qid) === single,
        s"batch rerank for query $qid must equal the single-query rerank")
    }
    // all cells probed + full shortlist: exact batch kNN, true L2 dists
    val full = group(Pq.topK(spark, s"$base/ivfpq", qs, k = 10, nprobe = 8,
      rerank = Some(Pq.Rerank(emb, 100))))
    val exact = group(Knn.topKBatch(emb, qs, 10))
    assert(full === exact,
      "full-shortlist batch rerank must reproduce exact batch kNN")
  }

  test("batch rerank at 2k queries: no per-id literals, plan O(1) in batch size") {
    // the de-bombed two-stage serving path: shortlist candidates meet
    // the raw vectors via a broadcast join, never a collect + isin —
    // at 2,000 queries the old form would embed Q·R id literals
    val base = java.nio.file.Files.createTempDirectory("pq_rrb2k").toString
    val cents = graft.operators.Ivf.centroids(emb, 8)
    Pq.ensureEncodedPartitioned(emb, cents, books, M, SubDim, s"$base/ivfpq")
    val baseQ = emb.select(col("vec_id"), perturbQuery(col("embedding")).as("query_vec"))
    val qs = (0 until 20).map { i =>
      baseQ.select((col("vec_id") + lit(100L * i)).as("query_id"), col("query_vec"))
    }.reduce(_ unionByName _) // 2,000 queries
    val df = Pq.topK(spark, s"$base/ivfpq", qs, k = 10, nprobe = 4,
      rerank = Some(Pq.Rerank(emb, 20)))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("In(vec_id"),
      s"shortlist ids must meet the raw vectors via a join, not literals:\n$plan")
    assert(plan.length < 100000,
      s"plan must not grow with batch x shortlist: ${plan.length} chars")
    val perQuery = df.groupBy("query_id").count().collect()
    assert(perQuery.length === 2000, "every query must be answered")
    assert(perQuery.forall(_.getLong(1) <= 10))
  }

  test("fast double-sum ADC == decimal-exact ADC on the fixture; fast rerank == exact rerank") {
    // the serving twin (exactSums = false) sums the same LUT terms in
    // the same fixed subspace order in DOUBLE — rankings diverge only
    // where decimal sums are closer than double rounding error, which
    // the fixture (well-separated random vectors) cannot produce
    val base = java.nio.file.Files.createTempDirectory("pq_fast").toString
    val cents = graft.operators.Ivf.centroids(emb, 8)
    Pq.ensureEncodedPartitioned(emb, cents, books, M, SubDim, s"$base/ivfpq")
    val qs = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), perturbQuery(col("embedding")).as("query_vec"))
    val exact = Pq.topK(spark, s"$base/ivfpq", qs, 10, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fast = Pq.topK(spark, s"$base/ivfpq", qs, 10, nprobe = 4,
        exactSums = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fast === exact, "double-sum ADC must select the same candidates on the fixture")
    val exactRr = Pq.topK(spark, s"$base/ivfpq", qs, 5, nprobe = 4,
      rerank = Some(Pq.Rerank(emb, 20)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val fastRr = Pq.topK(spark, s"$base/ivfpq", qs, 5, nprobe = 4, exactSums = false,
      rerank = Some(Pq.Rerank(emb, 20)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fastRr === exactRr,
      "final rerank scores are exact L2 regardless of which ADC picked the shortlist")
  }

  test("PQ over normalized vectors serves cosine (lossless ADC == exact cosine ranking)") {
    // the cosine→L2 reduction composes with PQ unchanged: quantize the
    // UNIT directions and ADC ranks by cosine. With one centroid per
    // vector quantization is lossless, so the ranking must be exact.
    val tiny = emb.filter(col("vec_id") < 8).cache()
    val normed = graft.operators.Ivf.normalized(tiny).cache()
    val losslessBooks = Pq.codebooks(normed, M, SubDim, c = 8, iters = 0)
    val q = tiny.filter(col("vec_id") === 3)
      .select(perturbQuery(col("embedding")).as("query_vec"))
    val qn = q.select(normalizeQuery(col("query_vec")).as("query_vec"))
    val adcIds = Pq.adcTopK(normed, losslessBooks, qn, M, SubDim, k = 8).collect()
      .map(_.getLong(0)).toSeq
    val exactIds = tiny.crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(cosineSimilarity(col("embedding"), col("query_vec")), 6).as("c"))
      .orderBy(col("c").desc, col("vec_id")).collect().map(_.getLong(0)).toSeq
    assert(adcIds === exactIds,
      "normalized-L2 ADC ranking must equal the exact cosine ranking")
  }

  test("filtered IVF-PQ: predicate restricts ADC candidates, ranking order preserved") {
    val base = java.nio.file.Files.createTempDirectory("pq_filtered").toString
    Pq.ensureEncodedPartitioned(emb, graft.operators.Ivf.centroids(emb, 8), books,
      M, SubDim, s"$base/ivfpq")
    Pq.ensureEncoded(emb, books, M, SubDim, s"$base/flat")
    val q = emb.filter(col("vec_id") === 7)
      .select(perturbQuery(col("embedding")).as("query_vec"))
    val filtered = Pq.topK(spark, s"$base/ivfpq", q, k = 100, nprobe = 8,
        predicate = Some(col("vec_id") >= 50)).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // every coarse cell probed ⇒ the filtered ranking must be exactly
    // the flat ADC ranking restricted to the eligible ids
    val flatRestricted = Pq.adcTopKStored(spark, s"$base/flat", q, k = 100).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).filter(_._1 >= 50).toSeq
    assert(filtered.size === 50)
    assert(filtered === flatRestricted)
  }

  test("retrained codebooks invalidate the persisted code table (booksFingerprint)") {
    val cdir = java.nio.file.Files.createTempDirectory("pq_retrain").toString + "/codes"
    def fp() = graft.operators.IndexMeta.read(spark, cdir).get
    def storedCodes() = spark.read.parquet(cdir).orderBy("vec_id")
      .select(col("vec_id"), concat_ws("_", col("codes").cast("array<string>")))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    Pq.ensureEncoded(emb, books, M, SubDim, cdir)
    val fp1 = fp()
    // same books again: validated, NOT rebuilt (fingerprint unchanged)
    Pq.ensureEncoded(emb, books, M, SubDim, cdir)
    assert(fp() === fp1)
    // retrain with different iteration count → different codebooks →
    // the same dir must rebuild, and serve the NEW books' codes
    val retrained = Pq.codebooks(emb, M, SubDim, C, iters = 2)
    Pq.ensureEncoded(emb, retrained, M, SubDim, cdir)
    assert(fp() !== fp1, "retrained codebooks must change the persisted fingerprint")
    val expect = Pq.codesAsString(Pq.codesArray(emb, retrained, M, SubDim))
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(storedCodes() === expect,
      "after retrain, the stored code table must be the new books' encoding")
  }

  test("in-place source regeneration invalidates the persisted code table (IndexMeta.filesKey)") {
    val base = java.nio.file.Files.createTempDirectory("pq_regen").toString
    val src = s"$base/emb.parquet"
    val cdir = s"$base/codes"
    emb.write.mode("overwrite").parquet(src)
    val books1 = Pq.codebooks(spark.read.parquet(src), M, SubDim, C, iters = 1)
    Pq.ensureEncoded(spark.read.parquet(src), books1, M, SubDim, cdir)
    val fp1 = graft.operators.IndexMeta.read(spark, cdir).get
    // regenerate the SAME path with different data (every component
    // shifted by 1), then ensure again in the same JVM: the session
    // fingerprint memo must miss (part-file listing changed) and the
    // recomputed content fingerprint must force a rebuild
    emb.withColumn("embedding", transform(col("embedding"), x => x + lit(1.0f)))
      .write.mode("overwrite").parquet(src)
    val regen = spark.read.parquet(src)
    val books2 = Pq.codebooks(regen, M, SubDim, C, iters = 1)
    Pq.ensureEncoded(regen, books2, M, SubDim, cdir)
    val fp2 = graft.operators.IndexMeta.read(spark, cdir).get
    assert(fp2 !== fp1, "regenerated source data must change the persisted fingerprint")
    val expect = Pq.codesAsString(Pq.codesArray(regen, books2, M, SubDim))
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val stored = spark.read.parquet(cdir).orderBy("vec_id")
      .select(col("vec_id"), concat_ws("_", col("codes").cast("array<string>")))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(stored === expect, "after regeneration, stored codes must encode the NEW data")
  }

  test("ADC ranks the quantized space correctly: self-query's own cell wins at c = N") {
    // with one centroid per vector (c = N on a tiny set), quantization
    // is lossless and ADC == exact kNN
    val tiny = emb.filter(col("vec_id") < 8).cache()
    val losslessBooks = Pq.codebooks(tiny, M, SubDim, c = 8, iters = 0)
    val q = tiny.filter(col("vec_id") === 3)
      .select(perturbQuery(col("embedding")).as("query_vec"))
    val adc = Pq.adcTopK(tiny, losslessBooks, q, M, SubDim, k = 8).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val exact = tiny.crossJoin(broadcast(q))
      .select(col("vec_id"), round(l2Distance(col("embedding"), col("query_vec")), 6).as("d"))
      .orderBy(col("d"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(adc.map(_._1) === exact.map(_._1), "lossless quantization must reproduce exact ranking")
  }

  test("OPQ-lite: balanced permutation splits hot dims across subspaces and lowers quantization error") {
    // variance-skewed fixture: dims 0,1 carry ~10000x the energy of the
    // rest — plain consecutive slicing traps BOTH in subspace 0 (m=4,
    // subDim=2), whose c centroids then carry nearly all corpus energy
    val rnd = new scala.util.Random(3)
    val skewed = (0L until 400L).map { i =>
      val hot = Array(rnd.nextGaussian() * 10, rnd.nextGaussian() * 10)
      val cold = Array.fill(6)(rnd.nextGaussian() * 0.1)
      (i, (hot ++ cold).map(_.toFloat))
    }.toDF("vec_id", "embedding").cache()
    val (m, sd, c, iters) = (4, 2, 8, 2)

    def mse(table: org.apache.spark.sql.DataFrame): Double = {
      val bks = Pq.codebooks(table, m, sd, c, iters)
      table.join(Pq.reconstruct(table, bks, m, sd), Seq("vec_id"))
        .select(l2DistanceSq(
          org.apache.spark.sql.functions.transform(col("embedding"), x => x.cast("double")),
          col("recon")).as("e"))
        .agg(avg("e")).head().getDouble(0)
    }

    val perm = Pq.balancedPerm(skewed, m, sd)
    assert(perm.sorted === (0 until 8), "perm must be a permutation of the dims")
    assert(perm.indexOf(0) / sd != perm.indexOf(1) / sd,
      s"the two hot dims must land in different subspaces (perm=$perm)")

    val rot = skewed.select(col("vec_id"), Pq.permute(col("embedding"), perm).as("embedding"))
    val plainErr = mse(skewed)
    val rotErr = mse(rot)
    // the permutation is orthogonal, so errors are comparable in either
    // space; balancing must strictly improve this worst-case geometry
    assert(rotErr < plainErr,
      s"balanced permutation must reduce quantization MSE: rotated=$rotErr plain=$plainErr")
    // and by a real margin on this fixture, not noise
    assert(rotErr < plainErr * 0.8, s"rotated=$rotErr plain=$plainErr")
  }
}
