package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions._
import graft.operators.{Ivf, Knn}
import graft.plans.{IndexCatalog, IndexRewriteRule}

/** Index-aware planning (SURVEY.md §4 item 3): the NAIVE exact-kNN
  * DataFrame shape — crossJoin + distance projection + orderBy + limit
  * — must execute the IVF probe plan when the scanned table has a
  * registered index, with no change to the user's code.
  */
class IndexRewriteSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val C = 8

  // vector table persisted as parquet (registration is by data path)
  private lazy val dataPath: String = {
    val dir = java.nio.file.Files.createTempDirectory("idxrw").toString
    (0L until 200L).map { i =>
      val rnd = new scala.util.Random(i)
      (i, Array.fill(8)(rnd.nextFloat() * 100f))
    }.toDF("vec_id", "embedding").write.parquet(s"$dir/emb.parquet")
    s"$dir/emb.parquet"
  }

  private lazy val indexDir: String =
    java.nio.file.Files.createTempDirectory("idxrw_index").toString

  /** The naive user query: no index API in sight. */
  private def naive(k: Int, path: String = dataPath): DataFrame = {
    val emb = spark.read.parquet(path)
    val q = emb.filter(col("vec_id") === 7)
      .select(perturbQuery(col("embedding")).as("query_vec"))
    emb.crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(l2Distance(col("embedding"), col("query_vec")), 6).as("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(k)
  }

  /** The naive FILTERED user query — "top-k among eligible rows": a
    * predicate on the scan side under the join, the shape every
    * filtered-serving user writes without an index API in sight.
    */
  private def naiveFiltered(k: Int): DataFrame = {
    val emb = spark.read.parquet(dataPath)
    val q = emb.filter(col("vec_id") === 7)
      .select(perturbQuery(col("embedding")).as("query_vec"))
    emb.filter(col("vec_id") % 2 === 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(l2Distance(col("embedding"), col("query_vec")), 6).as("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(k)
  }

  private def withRule[T](body: => T): T = {
    val prev = spark.experimental.extraOptimizations
    IndexRewriteRule.setup(spark)
    try body finally spark.experimental.extraOptimizations = prev
  }

  private def rows(df: DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("registered index at nprobe = C: probe plan fires and results equal exact") {
    IndexCatalog.register(spark, dataPath, indexDir, c = C, iters = 2,
      nprobe = C)
    val exact = rows(naive(10)) // rule not installed
    withRule {
      val df = naive(10)
      val opt = df.queryExecution.optimizedPlan.toString
      // the cell semi-join against the persisted assignment table + the
      // probed-cell literal membership are both in the plan; the
      // O(C)-per-row CASE rank must NOT be (probe set is computed at
      // plan time from the executed query side)
      assert(opt.contains("cell#"), s"no assignment join in:\n$opt")
      assert(opt.contains(" IN ") || opt.contains("IN ("), s"no cell IN literal filter in:\n$opt")
      assert(!opt.contains("CASE WHEN"), s"per-row CASE rank should be replaced by IN:\n$opt")
      assert(rows(df) === exact, "nprobe = C must reproduce the exact result")
    }
    IndexCatalog.unregister(dataPath)
  }

  test("filtered naive shape: probe fires with the filter preserved, exact at nprobe = C") {
    IndexCatalog.register(spark, dataPath, indexDir, c = C, iters = 2,
      nprobe = C)
    val exact = rows(naiveFiltered(10)) // rule not installed
    assert(exact.forall(_._1 % 2 == 0) && exact.size === 10)
    withRule {
      val df = naiveFiltered(10)
      val opt = df.queryExecution.optimizedPlan.toString
      assert(opt.contains("cell#"), s"no assignment join in:\n$opt")
      assert(opt.contains(" IN ") || opt.contains("IN ("),
        s"no cell IN literal filter in:\n$opt")
      assert(opt.contains("% 2"), s"eligibility filter must survive the rewrite:\n$opt")
      assert(rows(df) === exact, "nprobe = C must reproduce the exact filtered result")
    }
    IndexCatalog.unregister(dataPath)
  }

  test("filtered shape over a partitioned-layout index: pruned scan keeps the filter; nprobe=2 equals the explicit filtered probe") {
    val pdir = java.nio.file.Files.createTempDirectory("idxrw_part_f").toString
    IndexCatalog.register(spark, dataPath, pdir, c = C, iters = 2,
      nprobe = C)
    val exact = rows(naiveFiltered(10)) // rule not installed
    withRule {
      val df = naiveFiltered(10)
      val phys = df.queryExecution.executedPlan.toString
      assert(phys.contains("PartitionFilters: [cell"),
        s"filtered probe should still partition-prune the copy:\n$phys")
      assert(!df.queryExecution.optimizedPlan.toString.contains("assign"),
        "filtered partitioned form should not fall back to the assignment join")
      assert(rows(df) === exact, "nprobe = C must reproduce the exact filtered result")
    }
    // nprobe = 2: the rewritten naive-filtered plan must equal the
    // EXPLICIT filtered serving path (Ivf.topKPartitioned(predicate))
    IndexCatalog.register(spark, dataPath, pdir, c = C, iters = 2, nprobe = 2)
    val emb = spark.read.parquet(dataPath)
    val q = emb.filter(col("vec_id") === 7)
      .select(perturbQuery(col("embedding")).as("query_vec"))
    val explicitProbe = rows(Ivf.topKPartitioned(spark, pdir, q, 10,
      nprobe = 2, predicate = Some(col("vec_id") % 2 === 0)))
    withRule {
      assert(rows(naiveFiltered(10)) === explicitProbe,
        "filtered rewrite must equal the explicit filtered IVF probe")
    }
    IndexCatalog.unregister(dataPath)
  }

  test("batch top-k window shape: probe join fires and equals exact at nprobe = C") {
    IndexCatalog.register(spark, dataPath, indexDir, c = C, iters = 2,
      nprobe = C)
    val emb = spark.read.parquet(dataPath)
    val qs = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), perturbQuery(col("embedding")).as("query_vec"))
    def naiveBatch = Knn.topKBatch(emb, qs, 10)
    val exact = naiveBatch.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    withRule {
      val df = naiveBatch
      val opt = df.queryExecution.optimizedPlan.toString
      assert(opt.contains("graft_probe_qid"), s"no per-query probe join in:\n$opt")
      assert(df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        === exact, "nprobe = C must reproduce the exact batch result")
    }
    IndexCatalog.unregister(dataPath)
  }

  test("partitioned-layout index: naive plan becomes a partition-pruned scan of the copy") {
    val pdir = java.nio.file.Files.createTempDirectory("idxrw_part").toString
    IndexCatalog.register(spark, dataPath, pdir, c = C, iters = 2,
      nprobe = C)
    val exact = rows(naive(10)) // rule not installed
    withRule {
      val df = naive(10)
      val phys = df.queryExecution.executedPlan.toString
      assert(phys.contains("PartitionFilters") && phys.contains("cell"),
        s"probe should be a partition filter on the cell-partitioned copy:\n$phys")
      assert(!df.queryExecution.optimizedPlan.toString.contains("assign"),
        "partitioned form should not join the assignment table")
      assert(rows(df) === exact, "nprobe = C must reproduce the exact result")
    }
    // nprobe = 2 must match the explicit probe semantics too
    IndexCatalog.register(spark, dataPath, pdir, c = C, iters = 2, nprobe = 2)
    val emb = spark.read.parquet(dataPath)
    val q = emb.filter(col("vec_id") === 7)
      .select(perturbQuery(col("embedding")).as("query_vec"))
    val explicitProbe = rows(
      Ivf.topKWith(emb, Ivf.kmeans(emb, C, 2), q, 10, nprobe = 2))
    withRule {
      assert(rows(naive(10)) === explicitProbe,
        "partition-pruned rewrite must equal the explicit IVF probe")
    }
    IndexCatalog.unregister(dataPath)
  }

  test("partitioned-layout index: batch shape prunes partitions and stays exact at nprobe = C") {
    val pdir = java.nio.file.Files.createTempDirectory("idxrw_part_b").toString
    IndexCatalog.register(spark, dataPath, pdir, c = C, iters = 2,
      nprobe = C)
    val emb = spark.read.parquet(dataPath)
    val qs = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), perturbQuery(col("embedding")).as("query_vec"))
    def naiveBatch = Knn.topKBatch(emb, qs, 10)
    val exact = naiveBatch.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    withRule {
      val df = naiveBatch
      val phys = df.queryExecution.executedPlan.toString
      assert(phys.contains("PartitionFilters") && phys.contains("graft_probe_qid"),
        s"batch probe should combine partition pruning with the per-query join:\n$phys")
      assert(df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        === exact, "nprobe = C must reproduce the exact batch result")
    }
    IndexCatalog.unregister(dataPath)
  }

  test("batch shape at nprobe = 2 equals the explicit per-query IVF probe") {
    IndexCatalog.register(spark, dataPath, indexDir, c = C, iters = 2,
      nprobe = 2)
    val emb = spark.read.parquet(dataPath)
    val cents = Ivf.kmeans(emb, C, 2)
    val qs = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), perturbQuery(col("embedding")).as("query_vec"))
    // explicit probe, one query at a time
    val explicitPerQuery = (0L until 5L).map { qid =>
      val q = emb.filter(col("vec_id") === qid)
        .select(perturbQuery(col("embedding")).as("query_vec"))
      qid -> Ivf.topKWith(emb, cents, q, 10, nprobe = 2).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
    }.toMap
    withRule {
      val got = Knn.topKBatch(emb, qs, 10).collect()
        .groupBy(_.getLong(0))
        .map { case (qid, rs) => qid -> rs.map(r => (r.getLong(1), r.getDouble(2))).toSet }
      assert(got === explicitPerQuery,
        "rewritten batch plan must equal the explicit per-query IVF probe")
    }
    IndexCatalog.unregister(dataPath)
  }

  test("registered index at nprobe = 2: rewrite matches the explicit Ivf probe") {
    IndexCatalog.register(spark, dataPath, indexDir, c = C, iters = 2,
      nprobe = 2)
    val emb = spark.read.parquet(dataPath)
    val q = emb.filter(col("vec_id") === 7)
      .select(perturbQuery(col("embedding")).as("query_vec"))
    val explicitProbe = rows(
      Ivf.topKWith(emb, Ivf.kmeans(emb, C, 2), q, 10, nprobe = 2))
    withRule {
      assert(rows(naive(10)) === explicitProbe,
        "rewritten naive plan must equal the explicit IVF probe")
    }
    IndexCatalog.unregister(dataPath)
  }

  test("null query vector: rule declines, planning succeeds, result matches unrewritten") {
    IndexCatalog.register(spark, dataPath, indexDir, c = C, iters = 2,
      nprobe = 2)
    val qdir = java.nio.file.Files.createTempDirectory("idxrw_nullq").toString
    Seq(Tuple1(null: Array[Double])).toDF("query_vec").write.parquet(s"$qdir/q.parquet")
    val q = spark.read.parquet(s"$qdir/q.parquet")
    val emb = spark.read.parquet(dataPath)
    def naiveNull = emb.crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(l2Distance(col("embedding"), col("query_vec")), 6).as("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(10)
    def keyed(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) Double.NaN else r.getDouble(1))).toSeq
    val plain = keyed(naiveNull) // rule not installed: null dist, ordered by vec_id
    withRule {
      val df = naiveNull
      val opt = df.queryExecution.optimizedPlan.toString
      assert(!opt.contains("cell#"),
        s"rule must decline on a null query vector (no probe can reproduce null-distance semantics):\n$opt")
      assert(keyed(df).toString === plain.toString,
        "declined plan must execute with unrewritten semantics")
    }
    IndexCatalog.unregister(dataPath)
  }

  test("batch shape with a null query id: rule declines and matches unrewritten") {
    IndexCatalog.register(spark, dataPath, indexDir, c = C, iters = 2,
      nprobe = 2)
    val emb = spark.read.parquet(dataPath)
    val qdir = java.nio.file.Files.createTempDirectory("idxrw_nullqid").toString
    // one real query id + one NULL id (null forms its own window partition)
    emb.filter(col("vec_id") < 2)
      .select(when(col("vec_id") === 0, col("vec_id")).as("query_id"),
        perturbQuery(col("embedding")).as("query_vec"))
      .write.parquet(s"$qdir/q.parquet")
    val qs = spark.read.parquet(s"$qdir/q.parquet")
    def naiveBatch = Knn.topKBatch(emb, qs, 10)
    def keyed(df: DataFrame) = df.collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val plain = keyed(naiveBatch)
    withRule {
      val df = naiveBatch
      assert(!df.queryExecution.optimizedPlan.toString.contains("graft_probe_qid"),
        "rule must decline on a null query id (the probe join would silently drop that query)")
      assert(keyed(df) === plain)
    }
    IndexCatalog.unregister(dataPath)
  }

  test("no registered index: plan is untouched") {
    IndexCatalog.unregister(dataPath)
    withRule {
      val opt = naive(10).queryExecution.optimizedPlan.toString
      assert(!opt.contains("cell#"), "rule must not fire without an index")
      assert(rows(naive(10)) === rows(naive(10)))
    }
  }

  /** The naive cosine top-k (similarity descending). */
  private def naiveCosine(k: Int, path: String = dataPath): DataFrame = {
    val emb = spark.read.parquet(path)
    val q = emb.filter(col("vec_id") === 7)
      .select(perturbQuery(col("embedding")).as("query_vec"))
    emb.crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(cosineSimilarity(col("embedding"), col("query_vec")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** The naive MIPS top-k (inner product descending). */
  private def naiveMips(k: Int): DataFrame = {
    val emb = spark.read.parquet(dataPath)
    val q = emb.filter(col("vec_id") === 7)
      .select(perturbQuery(col("embedding")).as("query_vec"))
    emb.crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(dotProduct(col("embedding"), col("query_vec")), 6).as("ip"))
      .orderBy(col("ip").desc, col("vec_id"))
      .limit(k)
  }

  test("cosine index at nprobe = C: naive cosine plan fires and equals exact") {
    val cdir = java.nio.file.Files.createTempDirectory("idxrw_cos").toString
    IndexCatalog.register(spark, dataPath, cdir, c = C, iters = 2,
      nprobe = C, kind = "cosine")
    val exact = rows(naiveCosine(10)) // rule not installed
    withRule {
      val df = naiveCosine(10)
      val opt = df.queryExecution.optimizedPlan.toString
      assert(opt.contains("cell#"), s"no assignment join in:\n$opt")
      assert(opt.contains(" IN ") || opt.contains("IN ("),
        s"no probed-cell literal filter in:\n$opt")
      assert(rows(df) === exact,
        "nprobe = C must reproduce the exact cosine result bit-identically")
    }
    IndexCatalog.unregister(dataPath)
  }

  test("MIPS index at nprobe = C: naive inner-product plan fires and equals exact") {
    val mdir = java.nio.file.Files.createTempDirectory("idxrw_mips").toString
    IndexCatalog.register(spark, dataPath, mdir, c = C, iters = 2,
      nprobe = C, kind = "mips")
    val exact = rows(naiveMips(10))
    withRule {
      val df = naiveMips(10)
      val opt = df.queryExecution.optimizedPlan.toString
      assert(opt.contains("cell#"), s"no assignment join in:\n$opt")
      assert(rows(df) === exact,
        "nprobe = C must reproduce the exact MIPS result bit-identically")
    }
    IndexCatalog.unregister(dataPath)
  }

  test("cosine batch window shape fires and equals exact at nprobe = C") {
    val cdir = java.nio.file.Files.createTempDirectory("idxrw_cos_b").toString
    IndexCatalog.register(spark, dataPath, cdir, c = C, iters = 2,
      nprobe = C, kind = "cosine")
    val emb = spark.read.parquet(dataPath)
    val qs = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), perturbQuery(col("embedding")).as("query_vec"))
    def naiveBatch = {
      val scored = emb.crossJoin(broadcast(qs))
        .select(col("query_id"), col("vec_id"),
          round(cosineSimilarity(col("embedding"), col("query_vec")), 6).as("cos_sim"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("vec_id"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 10).drop("rn")
    }
    val exact = naiveBatch.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    withRule {
      val df = naiveBatch
      assert(df.queryExecution.optimizedPlan.toString.contains("graft_probe_qid"),
        "no per-query probe join in the batch cosine plan")
      assert(df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        === exact)
    }
    IndexCatalog.unregister(dataPath)
  }

  test("MIPS batch window shape fires and equals exact at nprobe = C") {
    val mdir = java.nio.file.Files.createTempDirectory("idxrw_mips_b").toString
    IndexCatalog.register(spark, dataPath, mdir, c = C, iters = 2,
      nprobe = C, kind = "mips")
    val emb = spark.read.parquet(dataPath)
    val qs = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), perturbQuery(col("embedding")).as("query_vec"))
    def naiveBatch = {
      val scored = emb.crossJoin(broadcast(qs))
        .select(col("query_id"), col("vec_id"),
          round(dotProduct(col("embedding"), col("query_vec")), 6).as("ip"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("ip").desc, col("vec_id"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 10).drop("rn")
    }
    val exact = naiveBatch.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    withRule {
      val df = naiveBatch
      assert(df.queryExecution.optimizedPlan.toString.contains("graft_probe_qid"),
        "no per-query probe join in the batch MIPS plan")
      assert(df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        === exact)
    }
    IndexCatalog.unregister(dataPath)
  }

  test("metric/kind mismatch declines: cosine plan over an L2 index and vice versa") {
    // L2 index registered — the cosine and MIPS shapes must NOT fire
    IndexCatalog.register(spark, dataPath, indexDir, c = C, iters = 2,
      nprobe = 2)
    withRule {
      assert(!naiveCosine(10).queryExecution.optimizedPlan.toString.contains("cell#"),
        "cosine plan must not prune with L2-geometry cells")
      assert(!naiveMips(10).queryExecution.optimizedPlan.toString.contains("cell#"),
        "MIPS plan must not prune with L2-geometry cells")
    }
    IndexCatalog.unregister(dataPath)
    // cosine index registered — the L2 shape must NOT fire
    val cdir = java.nio.file.Files.createTempDirectory("idxrw_mm").toString
    IndexCatalog.register(spark, dataPath, cdir, c = C, iters = 2,
      nprobe = 2, kind = "cosine")
    withRule {
      assert(!naive(10).queryExecution.optimizedPlan.toString.contains("cell#"),
        "L2 plan must not prune with cosine-geometry cells")
    }
    IndexCatalog.unregister(dataPath)
  }

  /** Every file under `dir` with its length and modification time. */
  private def files(dir: String): Set[(String, Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.walk(java.nio.file.Path.of(dir))
    try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).map { f =>
      (f.toString, java.nio.file.Files.size(f), java.nio.file.Files.getLastModifiedTime(f).toMillis)
    }.toSet
    finally s.close()
  }

  test("re-register after clear(): re-arms over the committed layout, no writes") {
    val rdir = java.nio.file.Files.createTempDirectory("idxrw_restore").toString
    IndexCatalog.register(spark, dataPath, rdir, c = C, iters = 2, nprobe = C)
    val exact = rows(naive(10))
    // simulate a fresh session: the in-memory registry is wiped, the
    // committed layout survives
    IndexCatalog.clear()
    withRule {
      assert(!naive(10).queryExecution.optimizedPlan.toString.contains("cell#"),
        "wiped registry: the rewrite must not fire")
    }
    val before = files(rdir)
    IndexCatalog.register(spark, dataPath, rdir, c = C, iters = 2, nprobe = C)
    assert(files(rdir) === before, "re-registering a committed layout must not write")
    withRule {
      val df = naive(10)
      assert(df.queryExecution.executedPlan.toString.contains("PartitionFilters"),
        "re-armed registration must serve the layout swap")
      assert(rows(df) === exact, "re-armed index at nprobe = C is still exact")
    }
    // nprobe is a serving knob: another budget reuses the layout as is
    IndexCatalog.register(spark, dataPath, rdir, c = C, iters = 2, nprobe = 2)
    assert(IndexCatalog.lookup(spark.read.parquet(dataPath)).get.nprobe === 2)
    assert(files(rdir) === before, "a new nprobe must not rebuild the layout")
    // the cosine kind is recorded by the layout and survives the round trip too
    val cdir = java.nio.file.Files.createTempDirectory("idxrw_restore_c").toString
    IndexCatalog.register(spark, dataPath, cdir, c = C, iters = 2, nprobe = C, kind = "cosine")
    IndexCatalog.clear()
    val cosBefore = files(cdir)
    IndexCatalog.register(spark, dataPath, cdir, c = C, iters = 2, nprobe = C, kind = "cosine")
    assert(files(cdir) === cosBefore)
    assert(Ivf.layoutKind(spark, IndexCatalog.lookup(spark.read.parquet(dataPath)).get.dir) === "cosine")
    IndexCatalog.unregister(dataPath)
  }

  /** The naive RADIUS query — "everything within r", no index API. */
  private def naiveRange(path: String, r: Double): DataFrame = {
    val emb = spark.read.parquet(path)
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("query_vec"))
    emb.crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(l2Distance(col("embedding"), col("query_vec")), 6).as("dist"))
      .filter(col("dist") <= r)
      .orderBy(col("dist"), col("vec_id"))
  }

  // two far-apart blobs: a small ball around a blob-A point provably
  // excludes every blob-B cell — the triangle bound must actually skip
  private lazy val blobPath: String = {
    val dir = java.nio.file.Files.createTempDirectory("idxrw_range").toString
    (0L until 200L).map { i =>
      val rnd = new scala.util.Random(i)
      val base = if (i < 100) 10f else 1000f
      (i, Array.fill(8)(base + rnd.nextFloat()))
    }.toDF("vec_id", "embedding").write.parquet(s"$dir/emb.parquet")
    s"$dir/emb.parquet"
  }

  test("range shape: triangle-pruned partition scan fires, skips far cells, stays exact") {
    val pdir = java.nio.file.Files.createTempDirectory("idxrw_range_idx").toString
    IndexCatalog.register(spark, blobPath, pdir, c = 4, iters = 2,
      nprobe = 1)
    val exact = rows(naiveRange(blobPath, 50.0)) // rule not installed
    assert(exact.nonEmpty && exact.forall(_._1 < 100), "fixture: ball covers blob A only")
    withRule {
      val df = naiveRange(blobPath, 50.0)
      val phys = df.queryExecution.executedPlan.toString
      assert(phys.contains("PartitionFilters") && phys.contains("cell"),
        s"range probe should be a partition filter on the cell copy:\n$phys")
      assert(!df.queryExecution.optimizedPlan.toString.contains("assign"),
        "partitioned range form should not join the assignment table")
      // the bound must EXCLUDE blob B's cells, not list all C = 4:
      // the partition filter carries the eligible-cell literals
      val inList = "(?:IN|INSET)\\s*\\(?([-0-9,\\s]+)\\)?".r
        .findFirstMatchIn(phys.linesIterator.find(_.contains("PartitionFilters")).getOrElse(""))
        .map(_.group(1).split(",").count(_.trim.nonEmpty)).getOrElse(-1)
      assert(inList >= 1 && inList < 4,
        s"triangle bound should skip blob-B cells (eligible = $inList of 4):\n$phys")
      // lossless: exact at ANY nprobe (index registered with nprobe = 1)
      assert(rows(df) === exact, "triangle-pruned range must equal the full scan")
    }
    IndexCatalog.unregister(blobPath)
  }

  test("BATCH range shape: union-of-eligible-cells pruning fires, stays exact, skips unneeded blobs") {
    val pdir = java.nio.file.Files.createTempDirectory("idxrw_range_batch").toString
    IndexCatalog.register(spark, blobPath, pdir, c = 4, iters = 2,
      nprobe = 1)
    def naiveBatch(ids: Seq[Long]): DataFrame = {
      val emb = spark.read.parquet(blobPath)
      val qs = emb.filter(col("vec_id").isin(ids: _*))
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      emb.crossJoin(broadcast(qs))
        .select(col("query_id"), col("vec_id"),
          round(l2Distance(col("embedding"), col("query_vec")), 6).as("dist"))
        .filter(col("dist") <= 50.0)
        .orderBy(col("query_id"), col("dist"), col("vec_id"))
    }
    def rowsB(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // both queries in blob A: blob-B cells must prune from the union
    val exactA = rowsB(naiveBatch(Seq(0L, 1L)))
    withRule {
      val df = naiveBatch(Seq(0L, 1L))
      val phys = df.queryExecution.executedPlan.toString
      assert(phys.contains("PartitionFilters") && phys.contains("cell"),
        s"batch range probe should partition-filter the cell copy:\n$phys")
      val inList = "(?:IN|INSET)\\s*\\(?([-0-9,\\s]+)\\)?".r
        .findFirstMatchIn(phys.linesIterator.find(_.contains("PartitionFilters")).getOrElse(""))
        .map(_.group(1).split(",").count(_.trim.nonEmpty)).getOrElse(-1)
      assert(inList >= 1 && inList < 4,
        s"union bound should still skip blob-B cells (eligible = $inList of 4):\n$phys")
      assert(rowsB(df) === exactA, "union-pruned batch range must equal the full scan")
    }
    // one query per blob: the union covers both blobs — still exact
    val exactAB = rowsB(naiveBatch(Seq(0L, 150L)))
    withRule {
      assert(rowsB(naiveBatch(Seq(0L, 150L))) === exactAB,
        "a cross-blob batch keeps every needed cell in the union")
    }
    IndexCatalog.unregister(blobPath)
  }

  test("range must-not-fire: outside-radius, non-literal threshold, unregistered scan") {
    val pdir = java.nio.file.Files.createTempDirectory("idxrw_range_neg").toString
    IndexCatalog.register(spark, blobPath, pdir, c = 4, iters = 2,
      nprobe = 4)
    withRule {
      val emb = spark.read.parquet(blobPath)
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("query_vec"))
      // "everything OUTSIDE r" — pruning eligible cells would be wrong
      val outside = emb.crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(l2Distance(col("embedding"), col("query_vec")), 6).as("dist"))
        .filter(col("dist") >= 50.0)
      assert(!outside.queryExecution.optimizedPlan.toString.contains("cell#"),
        "outside-radius predicate must not be rewritten")
      assert(outside.count() === 100L, "blob B survives the outside filter")
      // non-literal threshold: no plan-time bound exists
      val nonLit = emb.crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(l2Distance(col("embedding"), col("query_vec")), 6).as("dist"))
        .filter(col("dist") <= col("vec_id").cast("double"))
      assert(!nonLit.queryExecution.optimizedPlan.toString.contains("cell#"),
        "non-literal radius must not be rewritten")
    }
    IndexCatalog.unregister(blobPath)
    // unregistered table: plan untouched even with the rule installed
    withRule {
      assert(!naiveRange(blobPath, 50.0).queryExecution.optimizedPlan.toString
        .contains("cell#"), "no catalog entry -> naive plan")
    }
  }

  // ------------------------------------------------------------------
  // Similarity-floor range shapes (cosine / MIPS)
  // ------------------------------------------------------------------

  /** Two ANGULAR blobs (cosine geometry): A hugs e1, B hugs e2, with
    * random magnitudes (cosine ignores them) — a high similarity floor
    * around an A-direction query provably excludes every B cell.
    */
  private lazy val angularPath: String = {
    val dir = java.nio.file.Files.createTempDirectory("idxrw_cosr").toString
    (0L until 200L).map { i =>
      val rnd = new scala.util.Random(i)
      val mag = 1f + rnd.nextFloat() * 99f
      val v = Array.fill(8)(rnd.nextFloat() * 0.05f)
      if (i < 100) v(0) += 1f else v(1) += 1f
      (i, v.map(_ * mag))
    }.toDF("vec_id", "embedding").write.parquet(s"$dir/emb.parquet")
    s"$dir/emb.parquet"
  }

  private def naiveCosineFloor(path: String, minSim: Double): DataFrame = {
    val emb = spark.read.parquet(path)
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("query_vec"))
    emb.crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(cosineSimilarity(col("embedding"), col("query_vec")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= minSim)
      .orderBy(col("cos_sim").desc, col("vec_id"))
  }

  private def inListSize(planStr: String, marker: String): Int =
    "(?:INSET|IN)\\s*\\(?([-0-9,\\s]+)\\)?".r
      .findFirstMatchIn(planStr.linesIterator.find(_.contains(marker)).getOrElse(""))
      .map(_.group(1).split(",").count(_.trim.nonEmpty)).getOrElse(-1)

  test("cosine similarity-floor shape: normalized-ball pruning fires, skips far cells, stays exact") {
    val cdir = java.nio.file.Files.createTempDirectory("idxrw_cosr_idx").toString
    IndexCatalog.register(spark, angularPath, cdir, c = 4, iters = 2,
      nprobe = 1, kind = "cosine")
    val exact = rows(naiveCosineFloor(angularPath, 0.9)) // rule not installed
    assert(exact.nonEmpty && exact.forall(_._1 < 100),
      "fixture: the floor admits blob A only")
    withRule {
      val df = naiveCosineFloor(angularPath, 0.9)
      val opt = df.queryExecution.optimizedPlan.toString
      assert(opt.contains("cell#"), s"no assignment join in:\n$opt")
      val eligible = inListSize(opt, "IN (")
      assert(eligible >= 1 && eligible < 4,
        s"normalized-space ball should skip blob-B cells (eligible = $eligible of 4):\n$opt")
      // lossless: exact at ANY nprobe (registered with nprobe = 1)
      assert(rows(df) === exact, "pruned cosine floor must equal the full scan")
    }
    IndexCatalog.unregister(angularPath)
  }

  test("BATCH cosine floor: union pruning over executed query vectors stays exact") {
    val cdir = java.nio.file.Files.createTempDirectory("idxrw_cosr_b").toString
    IndexCatalog.register(spark, angularPath, cdir, c = 4, iters = 2,
      nprobe = 1, kind = "cosine")
    def naiveBatch(ids: Seq[Long]): DataFrame = {
      val emb = spark.read.parquet(angularPath)
      val qs = emb.filter(col("vec_id").isin(ids: _*))
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      emb.crossJoin(broadcast(qs))
        .select(col("query_id"), col("vec_id"),
          round(cosineSimilarity(col("embedding"), col("query_vec")), 6).as("cos_sim"))
        .filter(col("cos_sim") >= 0.9)
        .orderBy(col("query_id"), col("cos_sim").desc, col("vec_id"))
    }
    def rowsB(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val exact = rowsB(naiveBatch(Seq(0L, 150L))) // one query per blob
    withRule {
      val df = naiveBatch(Seq(0L, 150L))
      assert(df.queryExecution.optimizedPlan.toString.contains("cell#"),
        "batch cosine floor should fire the assignment join")
      assert(rowsB(df) === exact, "cross-blob union keeps every needed cell")
    }
    IndexCatalog.unregister(angularPath)
  }

  /** Norm-separated blobs (MIPS geometry): A is unit-ish noise, B is
    * ~100× a fixed direction — a high dot floor from a B query
    * provably excludes the A cells via the augmented-space bound.
    */
  private lazy val normPath: String = {
    val dir = java.nio.file.Files.createTempDirectory("idxrw_mipsr").toString
    (0L until 200L).map { i =>
      val rnd = new scala.util.Random(i)
      val v =
        if (i < 100) Array.fill(8)(rnd.nextFloat() * 0.5f)
        else {
          val b = Array.fill(8)(rnd.nextFloat() * 2f)
          b(0) += 100f; b
        }
      (i, v)
    }.toDF("vec_id", "embedding").write.parquet(s"$dir/emb.parquet")
    s"$dir/emb.parquet"
  }

  private def naiveDotFloor(path: String, minDot: Double): DataFrame = {
    val emb = spark.read.parquet(path)
    val q = emb.filter(col("vec_id") === 150)
      .select(col("embedding").as("query_vec"))
    emb.crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(dotProduct(col("embedding"), col("query_vec")), 6).as("ip"))
      .filter(col("ip") >= minDot)
      .orderBy(col("ip").desc, col("vec_id"))
  }

  test("MIPS dot-floor shape: augmented-space pruning fires, skips low-norm cells, stays exact") {
    val mdir = java.nio.file.Files.createTempDirectory("idxrw_mipsr_idx").toString
    IndexCatalog.register(spark, normPath, mdir, c = 4, iters = 2,
      nprobe = 1, kind = "mips")
    val exact = rows(naiveDotFloor(normPath, 5000.0)) // rule not installed
    assert(exact.nonEmpty && exact.forall(_._1 >= 100),
      "fixture: the floor admits blob B only")
    withRule {
      val df = naiveDotFloor(normPath, 5000.0)
      val opt = df.queryExecution.optimizedPlan.toString
      assert(opt.contains("cell#"), s"no assignment join in:\n$opt")
      val eligible = inListSize(opt, "IN (")
      assert(eligible >= 1 && eligible < 4,
        s"dot bound should skip low-norm cells (eligible = $eligible of 4):\n$opt")
      assert(rows(df) === exact, "pruned dot floor must equal the full scan")
    }
    IndexCatalog.unregister(normPath)
  }

  test("BATCH MIPS floor: union pruning over executed query vectors stays exact") {
    val mdir = java.nio.file.Files.createTempDirectory("idxrw_mipsr_b").toString
    IndexCatalog.register(spark, normPath, mdir, c = 4, iters = 2,
      nprobe = 1, kind = "mips")
    def naiveBatch(ids: Seq[Long]): DataFrame = {
      val emb = spark.read.parquet(normPath)
      val qs = emb.filter(col("vec_id").isin(ids: _*))
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      emb.crossJoin(broadcast(qs))
        .select(col("query_id"), col("vec_id"),
          round(dotProduct(col("embedding"), col("query_vec")), 6).as("ip"))
        .filter(col("ip") >= 5000.0)
        .orderBy(col("query_id"), col("ip").desc, col("vec_id"))
    }
    def rowsB(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val exact = rowsB(naiveBatch(Seq(150L, 199L)))
    assert(exact.nonEmpty)
    withRule {
      val df = naiveBatch(Seq(150L, 199L))
      assert(df.queryExecution.optimizedPlan.toString.contains("cell#"),
        "batch MIPS floor should fire the assignment join")
      assert(rowsB(df) === exact, "union-pruned batch dot floor must equal the full scan")
    }
    IndexCatalog.unregister(normPath)
  }

  test("floor must-not-fire: kind mismatch, below-floor direction, shifted score, non-literal") {
    // L2 index registered: neither floor shape may prune with its cells
    val ldir = java.nio.file.Files.createTempDirectory("idxrw_floor_mm").toString
    IndexCatalog.register(spark, angularPath, ldir, c = 4, iters = 2,
      nprobe = 4)
    withRule {
      assert(!naiveCosineFloor(angularPath, 0.9).queryExecution.optimizedPlan
        .toString.contains("cell#"), "cosine floor must not use L2 cells")
    }
    IndexCatalog.unregister(angularPath)
    val cdir = java.nio.file.Files.createTempDirectory("idxrw_floor_neg").toString
    IndexCatalog.register(spark, angularPath, cdir, c = 4, iters = 2,
      nprobe = 4, kind = "cosine")
    val mdir2 = java.nio.file.Files.createTempDirectory("idxrw_floor_negm").toString
    IndexCatalog.register(spark, normPath, mdir2, c = 4, iters = 2,
      nprobe = 4, kind = "mips")
    withRule {
      val emb = spark.read.parquet(angularPath)
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("query_vec"))
      // "everything BELOW the floor" — pruning would be wrong
      val below = emb.crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(cosineSimilarity(col("embedding"), col("query_vec")), 6).as("cos_sim"))
        .filter(col("cos_sim") <= 0.9)
      assert(!below.queryExecution.optimizedPlan.toString.contains("cell#"),
        "below-floor predicate must not be rewritten")
      // arbitrary arithmetic around the dot: a floor on dot+1 is not a
      // floor on dot — exact-match contract
      val embN = spark.read.parquet(normPath)
      val qN = embN.filter(col("vec_id") === 150)
        .select(col("embedding").as("query_vec"))
      val shifted = embN.crossJoin(broadcast(qN))
        .select(col("vec_id"),
          (round(dotProduct(col("embedding"), col("query_vec")), 6) + lit(1.0)).as("ip"))
        .filter(col("ip") >= 5000.0)
      assert(!shifted.queryExecution.optimizedPlan.toString.contains("cell#"),
        "shifted score must not be rewritten")
      // non-literal floor: no plan-time bound exists
      val nonLit = embN.crossJoin(broadcast(qN))
        .select(col("vec_id"),
          round(dotProduct(col("embedding"), col("query_vec")), 6).as("ip"))
        .filter(col("ip") >= col("vec_id").cast("double"))
      assert(!nonLit.queryExecution.optimizedPlan.toString.contains("cell#"),
        "non-literal floor must not be rewritten")
    }
    IndexCatalog.unregister(angularPath)
    IndexCatalog.unregister(normPath)
  }

  test("descending sort (farthest-first) is NOT rewritten") {
    IndexCatalog.register(spark, dataPath, indexDir, c = C, iters = 2,
      nprobe = 2)
    withRule {
      val emb = spark.read.parquet(dataPath)
      val q = emb.filter(col("vec_id") === 7)
        .select(perturbQuery(col("embedding")).as("query_vec"))
      val farthest = emb.crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(l2Distance(col("embedding"), col("query_vec")), 6).as("dist"))
        .orderBy(col("dist").desc, col("vec_id"))
        .limit(10)
      val opt = farthest.queryExecution.optimizedPlan.toString
      assert(!opt.contains("cell#"),
        "probe rewrite is only sound for nearest-first top-k")
    }
    IndexCatalog.unregister(dataPath)
  }

  // ------------------------------------------------------------------
  // Currency: a registration serves only the table it was built from
  // ------------------------------------------------------------------

  /** A 200-row table at `path` (overwritten in place): the query row
    * `vec_id = 7` plus 199 more rows, ids counting from `firstId`,
    * vectors drawn from `seed`.
    */
  private def writeTable(path: String, seed: Int, firstId: Long): Unit =
    (7L +: (firstId until firstId + 200L).filterNot(_ == 7L)).take(200).map { i =>
      val rnd = new scala.util.Random(i * 31 + seed)
      (i, Array.fill(8)(rnd.nextFloat() * 100f))
    }.toDF("vec_id", "embedding").write.mode("overwrite").parquet(path)

  /** Register `kind` over a fresh table at nprobe = C, check the rule
    * serves it, rewrite the table in place (same path and row count,
    * new vectors and ids) and return the results of `naiveAt` on it
    * with the rule installed, and on an unregistered copy of it.
    */
  private def afterRewrite(kind: String, naiveAt: String => DataFrame)
      : (Seq[(Long, Double)], Seq[(Long, Double)]) = {
    val dir = java.nio.file.Files.createTempDirectory(s"idxrw_cur_$kind").toString
    val path = s"$dir/emb.parquet"
    writeTable(path, seed = 0, firstId = 0L)
    IndexCatalog.register(spark, path, s"$dir/index", c = C, iters = 2, nprobe = C, kind = kind)
    withRule(assert(naiveAt(path).queryExecution.optimizedPlan.toString.contains("cell#"),
      s"the $kind registration must serve the table it was built from"))
    writeTable(path, seed = 1, firstId = 1000L)
    writeTable(s"$dir/copy.parquet", seed = 1, firstId = 1000L)
    try (withRule(rows(naiveAt(path))), rows(naiveAt(s"$dir/copy.parquet")))
    finally IndexCatalog.unregister(path)
  }

  test("currency: an L2 layout swap after an in-place table rewrite equals exact") {
    val (got, exact) = afterRewrite("l2", naive(10, _))
    assert(got === exact, "a stale layout must not serve the rewritten table")
  }

  test("currency: a cosine layout join after an in-place table rewrite equals exact") {
    val (got, exact) = afterRewrite("cosine", naiveCosine(10, _))
    assert(got === exact, "a stale layout must not serve the rewritten table")
  }

  test("currency: an insert into the registered layout declines the rewrite") {
    val dir = java.nio.file.Files.createTempDirectory("idxrw_cur_ins").toString
    val path = s"$dir/emb.parquet"
    writeTable(path, seed = 0, firstId = 0L)
    IndexCatalog.register(spark, path, s"$dir/index", c = C, iters = 2, nprobe = C)
    val exact = rows(naive(10, path))
    // every row again under a new id: served, they would tie into the top-10
    Ivf.insertInto(spark, s"$dir/index", spark.read.parquet(path)
      .select((col("vec_id") + 5000L).as("vec_id"), col("embedding")))
    withRule {
      val df = naive(10, path)
      assert(!df.queryExecution.optimizedPlan.toString.contains("cell#"),
        "a layout changed by maintenance is no longer the table's")
      assert(rows(df) === exact)
    }
    IndexCatalog.unregister(path)
  }

  // ------------------------------------------------------------------
  // Lexical tier: posting-layout rewrites
  // ------------------------------------------------------------------

  private lazy val lexData: (String, String) = {
    val dir = java.nio.file.Files.createTempDirectory("idxrw_lex").toString
    Seq(
      (1L, "spark join scan fast table", 25L),
      (2L, "dup vector spark slow merge", 27L),
      (3L, "vector dup dup scan batch", 25L),
      (4L, "plain words only here now", 25L),
      (5L, "spark vector dup mix hash", 25L))
      .toDF("doc_id", "text", "n_chars")
      .write.parquet(s"$dir/docs.parquet")
    graft.operators.Retrieval.ensureTfidfLayout(
      spark.read.parquet(s"$dir/docs.parquet"), s"$dir/tfidf")
    (s"$dir/docs.parquet", s"$dir/tfidf")
  }

  private def lexRows(df: DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  /** Root paths of every file relation in the optimized plan. */
  private def scanPaths(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Seq.empty[String]
        }
    }.flatten

  test("lexical: naive tf-idf top-k serves the posting build from the layout, bit-identical") {
    val (docsPath, layout) = lexData
    def naiveTfidf = graft.operators.Retrieval.tfidfTopK(
      spark.read.parquet(docsPath), Seq("spark", "dup"), 3)
    val want = lexRows(naiveTfidf) // unregistered, unrewritten
    IndexCatalog.registerTfidf(spark, docsPath, layout)
    try withRule {
      val df = naiveTfidf
      val opt = df.queryExecution.optimizedPlan.toString
      assert(scanPaths(df).exists(_.contains("tfidf/postings")),
        s"posting build must serve from the layout:\n$opt")
      assert(!opt.contains("explode"),
        s"every corpus-scale explode (tf AND idf branches) must disappear:\n$opt")
      assert(lexRows(df) === want, "layout-served scores must be bit-identical")
    } finally IndexCatalog.unregisterTfidf(docsPath)
  }

  test("lexical: token-membership filter becomes a pruned posting semi-join; substring contains declines") {
    val (docsPath, layout) = lexData
    def naiveContains = spark.read.parquet(docsPath)
      .filter(array_contains(split(col("text"), " "), "spark") &&
        array_contains(split(col("text"), " "), "vector") &&
        col("n_chars") > 10)
      .select("doc_id", "n_chars").orderBy("doc_id")
    val want = naiveContains.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(want === Seq((2L, 27L), (5L, 25L)))
    IndexCatalog.registerTfidf(spark, docsPath, layout)
    try withRule {
      val df = naiveContains
      val opt = df.queryExecution.optimizedPlan.toString
      assert(opt.contains("LeftSemi") && scanPaths(df).count(_.contains("tfidf/postings")) == 2,
        s"each token predicate must become its own posting semi-join:\n$opt")
      assert(!opt.contains("array_contains"),
        s"matched token predicates must be replaced, not duplicated:\n$opt")
      assert(opt.contains("n_chars"), "non-token conjuncts must survive as residual")
      assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq === want)
      // bare substring contains: lossy to prune → must decline
      val sub = spark.read.parquet(docsPath)
        .filter(col("text").contains("park")).select("doc_id")
      assert(!sub.queryExecution.optimizedPlan.toString.contains("LeftSemi"),
        "substring contains must NOT rewrite (crosses token boundaries)")
      assert(sub.collect().map(_.getLong(0)).toSet === Set(1L, 2L, 5L))
      // non-space tokenizer: not the layout's tokens → decline
      val comma = spark.read.parquet(docsPath)
        .filter(array_contains(split(col("text"), ","), "spark")).select("doc_id")
      assert(!comma.queryExecution.optimizedPlan.toString.contains("LeftSemi"),
        "a different delimiter is not posting membership")
    } finally IndexCatalog.unregisterTfidf(docsPath)
  }

  test("lexical declines: unregistered path untouched; filtered corpus posting build untouched") {
    val (docsPath, layout) = lexData
    withRule {
      val opt = graft.operators.Retrieval.tfidfTopK(
          spark.read.parquet(docsPath), Seq("spark"), 3)
        .queryExecution.optimizedPlan.toString
      assert(!opt.contains("postings"), s"no registration → no rewrite:\n$opt")
    }
    IndexCatalog.registerTfidf(spark, docsPath, layout)
    try withRule {
      // a pre-filtered corpus's postings are NOT the layout's — decline
      val filteredBuild = spark.read.parquet(docsPath)
        .filter(col("doc_id") =!= 2L)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      assert(!scanPaths(filteredBuild).exists(_.contains("tfidf")),
        s"a filtered posting build must not serve from the whole-corpus layout:\n${filteredBuild.queryExecution.optimizedPlan}")
      assert(filteredBuild.filter(col("doc_id") === 2L).count() === 0L)
      // the unfiltered build DOES rewrite and matches stored tf exactly
      val build = spark.read.parquet(docsPath)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      assert(scanPaths(build).exists(_.contains("tfidf/postings")))
      assert(build.filter(col("doc_id") === 3L && col("term") === "dup")
        .head.getLong(2) === 2L)
    } finally IndexCatalog.unregisterTfidf(docsPath)
  }

  test("currency: naive tf-idf after an in-place docs rewrite equals unrewritten") {
    val dir = java.nio.file.Files.createTempDirectory("idxrw_cur_lex").toString
    val docsPath = s"$dir/docs.parquet"
    def writeDocs(texts: Seq[String], path: String = docsPath): Unit =
      texts.zipWithIndex.map { case (t, i) => (i.toLong + 1, t) }.toDF("doc_id", "text")
        .write.mode("overwrite").parquet(path)
    def naiveTfidf(path: String = docsPath) = graft.operators.Retrieval.tfidfTopK(
      spark.read.parquet(path), Seq("spark", "dup"), 3)
    writeDocs(Seq("spark join scan", "dup vector spark", "vector dup dup", "plain words", "spark mix"))
    IndexCatalog.registerTfidf(spark, docsPath, s"$dir/tfidf")
    try {
      withRule(assert(scanPaths(naiveTfidf()).exists(_.contains("tfidf/postings")),
        "the registration must serve the documents it was built from"))
      val rewritten = Seq("plain words", "spark spark dup", "mix only", "dup dup dup", "vector scan")
      writeDocs(rewritten)
      writeDocs(rewritten, s"$dir/copy.parquet")
      withRule(assert(lexRows(naiveTfidf()) === lexRows(naiveTfidf(s"$dir/copy.parquet")),
        "a stale posting layout must not serve the rewritten documents"))
    } finally IndexCatalog.unregisterTfidf(docsPath)
  }
}
