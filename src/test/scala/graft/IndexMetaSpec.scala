package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions._
import graft.operators.{Hnsw, IndexMeta, Ivf}

/** The build-once protocol ([[IndexMeta.ensure]]) and the content-keyed
  * value memo ([[IndexMeta.memo]]): a build that fails part-way is
  * never served, an unchanged source writes nothing, and a table
  * regenerated at the same path is trained on afresh.
  */
/** The read budget of a source that fails part-way through a build. */
private object FlakySource {
  val budget = new java.util.concurrent.atomic.AtomicInteger(Int.MaxValue)
}

class IndexMetaSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private lazy val emb = (0L until 200L).map { i =>
    val rnd = new scala.util.Random(i)
    (i, Array.fill(8)(rnd.nextFloat() * 10f))
  }.toDF("vec_id", "embedding").cache()

  private lazy val queries = emb.filter(col("vec_id") < 10)
    .select(col("vec_id").as("query_id"), perturbQuery(col("embedding")).as("query_vec"))

  private def tmp(name: String): String = Files.createTempDirectory(name).toString

  private def ivfServed(dir: String) =
    Ivf.topKPartitionedBatchFused(spark, dir, queries, 10, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private def hnswServed(dir: String, p: Hnsw.Params) =
    Hnsw.search(spark, dir, queries, 10, p)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  /** Every file under `dir` with its length and modification time. */
  private def files(dir: String): Set[(String, Long, Long)] = {
    val s = Files.walk(Path.of(dir))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
      (f.toString, Files.size(f), Files.getLastModifiedTime(f).toMillis)
    }.toSet
    finally s.close()
  }

  test("a build that throws part-way leaves no fingerprint; the next ensure rebuilds as a fresh dir") {
    val cents = Ivf.centroids(emb, 8)
    val dir = tmp("meta_crash")
    intercept[IllegalStateException] {
      IndexMeta.ensure(dir, "crash", emb, cents) {
        Ivf.writePartitionedWith(emb.filter(col("vec_id") < 100), cents, dir)
        throw new IllegalStateException("build interrupted")
      }
    }
    assert(IndexMeta.read(spark, dir).isEmpty, "an interrupted build must not commit")
    var builds = 0
    IndexMeta.ensure(dir, "crash", emb, cents) {
      builds += 1
      Ivf.writePartitionedWith(emb, cents, dir)
    }
    assert(builds === 1, "the next ensure must rebuild")
    assert(IndexMeta.read(spark, dir).nonEmpty)
    val fresh = tmp("meta_crash_fresh")
    Ivf.writePartitionedWith(emb, cents, fresh)
    assert(ivfServed(dir) === ivfServed(fresh))
    assert(spark.read.parquet(dir).count() === emb.count())
  }

  test("after a failed rebuild from B, ensure from A serves A, never B's partial files") {
    // B's rows read `budget` times, then fail: its fingerprint reads
    // every row once, and the build dies on its first read (the nodes
    // write), after the old layout's edges and fingerprint were left
    val p = Hnsw.Params(numPartitions = 2)
    val a = emb.filter(col("vec_id") < 100)
    val read = udf { (v: Seq[Float]) =>
      if (FlakySource.budget.decrementAndGet() < 0) throw new IllegalStateException("source read failed")
      v
    }
    val b = emb.select(col("vec_id"), read(col("embedding")).as("embedding"))
    val dir = tmp("meta_ab")
    Hnsw.ensureSaved(a, p, dir)
    FlakySource.budget.set(emb.count().toInt)
    try intercept[Exception](Hnsw.ensureSaved(b, p, dir))
    finally FlakySource.budget.set(Int.MaxValue)
    Hnsw.ensureSaved(a, p, dir)
    val fresh = tmp("meta_ab_fresh")
    Hnsw.save(a, p, fresh)
    assert(spark.read.parquet(s"$dir/nodes").select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().map { case (i, e) => (i, e.toSeq) }.toSet
      === a.as[(Long, Array[Float])].collect().map { case (i, e) => (i, e.toSeq) }.toSet,
      "the layout must hold A's nodes")
    assert(hnswServed(dir, p) === hnswServed(fresh, p))
  }

  test("a second ensure on unchanged sources writes nothing") {
    val cents = Ivf.kmeans(emb, 8, 1)
    val dir = tmp("meta_warm")
    var builds = 0
    def ensure(): Unit = IndexMeta.ensure(dir, "warm", emb, cents) {
      builds += 1
      Ivf.writePartitionedWith(emb, cents, dir)
    }
    ensure()
    val before = files(dir)
    Thread.sleep(20) // a rewrite would show as a later modification time
    ensure()
    assert(builds === 1)
    assert(files(dir) === before, "a warm ensure must not touch the layout")
    // other params: another fingerprint, one rebuild
    IndexMeta.ensure(dir, "warm2", emb, cents)(Ivf.writePartitionedWith(emb, cents, dir))
    assert(IndexMeta.read(spark, dir).exists(_.startsWith("warm2|")))
  }

  test("ensure refuses sources that read from the dir it would delete") {
    val root = tmp("meta_own")
    emb.write.parquet(s"$root/idx/src.parquet")
    emb.write.parquet(s"$root/idx2/src.parquet") // a sibling sharing the name prefix
    val e = intercept[IllegalArgumentException] {
      IndexMeta.ensure(s"$root/idx", "own", spark.read.parquet(s"$root/idx/src.parquet"))(())
    }
    assert(e.getMessage.contains("would delete what its sources read"), e.getMessage)
    assert(spark.read.parquet(s"$root/idx/src.parquet").count() === emb.count())
    IndexMeta.ensure(s"$root/idx", "own", spark.read.parquet(s"$root/idx2/src.parquet"))(())
    assert(IndexMeta.read(spark, s"$root/idx").nonEmpty)
  }

  test("memo keys rebuild equal for the same plan built again, lambdas included") {
    var computed = 0
    def residualPlan(): DataFrame = {
      val cents = Ivf.centroids(emb, 8)
      graft.operators.Pq.residuals(emb, cents).select(col("vec_id"), col("embedding"))
    }
    for (_ <- 1 to 2) IndexMeta.memo("probe", residualPlan()) { computed += 1; computed }
    assert(computed === 1, "a plan rebuilt per call must hit its memo entry")
    IndexMeta.memo("probe", residualPlan().filter(col("vec_id") > 0)) { computed += 1; computed }
    assert(computed === 2, "another plan is another entry")
  }

  test("declared stores and substrates follow their tables rewritten in place in one JVM") {
    // a two-table scale-factor dir: `documents` and a `lineitem` whose
    // orders o, o + 40, ... share one part triple (40 repeat triangles);
    // the rewrite keeps every row count and changes the content — the
    // batch docs' URL now also in the stored docs' texts (the URL
    // store's canonical forms), and shifted part keys (the
    // co-occurrence substrate and the stored labeling)
    def writeTables(dir: String, changed: Boolean): Unit = {
      val url = when(lit(changed) || col("id") >= 250,
        concat(lit(" https://changed.example.com/p"), (col("id") % 7).cast("string"))).otherwise("")
      spark.range(500).select(col("id").as("doc_id"),
          concat(lit("doc "), col("id").cast("string"), lit(" body words"), url).as("text"),
          lit("en").as("lang"), lit("web").as("source"), lit(20L).as("n_chars"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      spark.range(480).select(expr("id div 3").as("l_orderkey"),
          expr(s"id % 3 + (id div 3) % 40 * 3 + ${if (changed) 1000 else 0}").as("l_partkey"))
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    }
    def clean(dir: String): String = {
      val f = new java.io.File(dir)
      if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
      f.getAbsolutePath
    }
    val (dir, fresh) = (clean("target/test_sf_rewrite"), clean("target/test_sf_rewrite_fresh"))
    val names = Seq("q_url_dedup_incremental", "q_cc_incremental")
    def served(d: String) =
      names.map(q => SparkEntry.queries(q)(spark, d).collect().map(_.toSeq).toSet)
    writeTables(dir, changed = false)
    val before = served(dir)
    writeTables(dir, changed = true)
    writeTables(fresh, changed = true)
    val after = served(dir)
    val want = served(fresh)
    names.indices.foreach { i =>
      assert(want(i) !== before(i), s"${names(i)}: the rewrite must change the result")
      assert(after(i) === want(i), s"${names(i)} must be served from the rewritten tables")
    }
  }

  test("kmeansCached trains on a table regenerated at the same path") {
    val path = s"${tmp("meta_kmeans")}/emb.parquet"
    def cents(df: DataFrame) =
      df.orderBy("centroid_id").collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    emb.write.parquet(path)
    assert(cents(Ivf.kmeansCached(spark.read.parquet(path), 8, 1)) === cents(Ivf.kmeans(emb, 8, 1)))
    val shifted = emb.withColumn("embedding", transform(col("embedding"), x => x * lit(2.0f)))
    shifted.write.mode("overwrite").parquet(path)
    assert(cents(Ivf.kmeansCached(spark.read.parquet(path), 8, 1))
      === cents(Ivf.kmeans(shifted, 8, 1)),
      "a regenerated table must not be served the old table's centroids")
  }
}
