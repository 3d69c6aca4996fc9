package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions._
import graft.operators.{IndexMeta, Ivf, Pq, Sq}

/** Incremental-insert lifecycle for the cell-partitioned serving
  * layouts — the append twin of IvfDeleteSpec: `Ivf.insertInto` /
  * `Pq.insertInto` append arriving rows to their cells against the
  * layout's FROZEN sidecars (centroids, codebooks), so
  *  (a) only the receiving `cell=` subtrees gain files — every
  *      non-receiving cell's files stay byte-identical (insert I/O is
  *      O(batch), never O(layout)),
  *  (b) the grown layout serves EXACTLY like one built from the union
  *      in a single pass (assignment and encoding are deterministic
  *      given the sidecars), and
  *  (c) the source fingerprint is invalidated — the layout no longer
  *      derives from any single ensure source.
  */
class IvfInsertSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val C = 8

  private lazy val emb = (0L until 200L).map { i =>
    val rnd = new scala.util.Random(i)
    (i, Array.fill(8)(rnd.nextFloat() * 10f))
  }.toDF("vec_id", "embedding").cache()

  private lazy val cents = Ivf.centroids(emb, C)

  private lazy val oneQuery = emb.filter(col("vec_id") === 0)
    .select(perturbQuery(col("embedding")).as("query_vec"))

  private def single(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  /** Files of every `cell=<v>` subtree, keyed by relative path, valued
    * by content checksum — the byte-identity witness (same helper shape
    * as IvfDeleteSpec).
    */
  private def cellFiles(base: String, cells: Set[Long]): Map[String, Int] = {
    def walk(p: Path): Seq[Path] =
      if (Files.isDirectory(p)) {
        val s = Files.list(p); try { import scala.jdk.CollectionConverters._
          s.iterator().asScala.toSeq.flatMap(walk) } finally s.close()
      } else Seq(p)
    cells.toSeq.flatMap { v =>
      val d = Paths.get(s"$base/cell=$v")
      (if (Files.exists(d)) walk(d) else Seq.empty)
        .filter(f => !f.getFileName.toString.endsWith(".crc"))
        .map(f => (s"cell=$v/${d.relativize(f)}",
          java.util.Arrays.hashCode(Files.readAllBytes(f))))
    }.toMap
  }

  private def cellsOf(rows: org.apache.spark.sql.DataFrame): Set[Long] =
    Ivf.assignWith(rows, cents).select("cell").distinct()
      .collect().map(_.getLong(0)).toSet

  test("IVF insertInto: only receiving cells gain files; grown layout == single-pass build; meta invalidated") {
    // fresh = the rows of ONE cell, so the fixture provably leaves
    // other cells untouched
    val freshCell = cellsOf(emb).max
    val fresh = emb.join(Ivf.assignWith(emb, cents).filter(col("cell") === freshCell),
      Seq("vec_id")).select("vec_id", "embedding")
    val base = emb.join(fresh.select("vec_id"), Seq("vec_id"), "left_anti")
    assert(fresh.count() > 0 && base.count() > 0, "fixture must split the rows")

    val dir = Files.createTempDirectory("ivf_ins").toString
    Ivf.ensurePartitionedWith(base, cents, dir, tag = "insspec")
    assert(IndexMeta.read(spark, dir).nonEmpty, "ensure must record a fingerprint")
    val untouched = cellsOf(base) - freshCell
    val before = cellFiles(dir, untouched)
    assert(before.nonEmpty)

    Ivf.insertInto(spark, dir, fresh)

    assert(cellFiles(dir, untouched) === before,
      "non-receiving cells' files must not be rewritten")
    assert(IndexMeta.read(spark, dir).isEmpty,
      "insert must invalidate the source fingerprint")

    // the grown layout serves exactly like a single-pass build over
    // the union with the same centroids
    val fullDir = Files.createTempDirectory("ivf_ins_full").toString
    Ivf.writePartitionedWith(emb, cents, fullDir)
    assert(single(Ivf.topKPartitioned(spark, dir, oneQuery, 10, nprobe = 3))
      === single(Ivf.topKPartitioned(spark, fullDir, oneQuery, 10, nprobe = 3)),
      "insert-grown serving must equal the single-pass layout")
    assert(spark.read.parquet(dir).count() === emb.count(),
      "the grown layout must hold every row exactly once")
  }

  test("cosine/MIPS insertInto: grown layouts serve == single-pass builds; kind guards fire") {
    // MIPS needs the base split to CONTAIN the max-norm row so the
    // recorded augmentation constant equals the single-pass one
    val maxId = emb.select(col("vec_id"),
        graft.functions.VectorFunctions.l2Norm(col("embedding")).as("n"))
      .orderBy(col("n").desc, col("vec_id")).limit(1)
      .collect()(0).getLong(0)
    val fresh = emb.filter(col("vec_id") % 5 === 1 && col("vec_id") =!= maxId)
    val base = emb.join(fresh.select("vec_id"), Seq("vec_id"), "left_anti")

    val cosDir = Files.createTempDirectory("cos_ins").toString
    // seed centroids from the FULL normalized table so grown == full
    val cosCents = Ivf.centroids(Ivf.normalized(emb), C)
    Ivf.ensurePartitionedWith(Ivf.normalized(base), cosCents, cosDir,
      tag = "cosins", kind = "cosine")
    Ivf.insertInto(spark, cosDir, fresh)
    val cosFull = Files.createTempDirectory("cos_ins_full").toString
    Ivf.ensurePartitionedWith(Ivf.normalized(emb), cosCents, cosFull,
      tag = "cosinsfull", kind = "cosine")
    assert(single(Ivf.topKPartitioned(spark, cosDir, oneQuery, 10, nprobe = C))
      === single(Ivf.topKPartitioned(spark, cosFull, oneQuery, 10, nprobe = C)),
      "insert-grown cosine serving must equal the single-pass layout")
    assert(spark.read.parquet(cosDir).count() === emb.count())

    val mipsDir = Files.createTempDirectory("mips_ins").toString
    val m = Ivf.maxNormOf(base)
    assert(m === Ivf.maxNormOf(emb), "fixture must keep the max-norm row in base")
    val mipsCents = Ivf.centroids(Ivf.augmentedWith(emb, m), C)
    Ivf.ensurePartitionedWith(Ivf.augmentedWith(base, m), mipsCents, mipsDir,
      tag = "mipsins", kind = "mips")
    // ensurePartitionedWith doesn't record the constant — mirror
    // writePartitioned(kind = "mips")'s contract through the public entry point
    val e0 = intercept[IllegalStateException] {
      Ivf.insertInto(spark, mipsDir, fresh)
    }
    assert(e0.getMessage.contains("_graft_maxnorm"))
    val mipsDir2 = Files.createTempDirectory("mips_ins2").toString
    Ivf.ensurePartitioned(base, C, mipsDir2, kind = "mips")
    Ivf.insertInto(spark, mipsDir2, fresh)
    val mipsFull = Files.createTempDirectory("mips_ins_full").toString
    Ivf.ensurePartitioned(emb, C, mipsFull, kind = "mips")
    // same m on both sides, so serving geometry matches a single-pass
    // build up to centroid seeding; compare against the EXACT answer
    assert(single(Ivf.topKPartitioned(spark, mipsDir2, oneQuery, 10, nprobe = C))
      === single(Ivf.topKPartitioned(spark, mipsFull, oneQuery, 10, nprobe = C)),
      "insert-grown MIPS serving must equal the single-pass layout at nprobe=C")
    assert(spark.read.parquet(mipsDir2).count() === emb.count())

    // kind guards: a code layout holds no vectors to append to or to
    // score — every vector entry point's error names the recorded kind
    val sqDir = Files.createTempDirectory("ivf_ins_guard").toString
    val (lo, hi) = Sq.bounds(emb)
    Sq.ensureEncodedPartitioned(emb, cents, lo, hi, sqDir)
    val resDir = Files.createTempDirectory("ivf_ins_guard_res").toString
    val resBooks = Pq.codebooks(Pq.residuals(emb, cents).select(col("vec_id"), col("embedding")),
      4, 2, 8, 1, seedOffset = C)
    Pq.ensureEncodedPartitionedResidual(emb, cents, resBooks, 4, 2, resDir)
    val pqDir = Files.createTempDirectory("ivf_ins_guard_pq").toString
    Pq.ensureEncodedPartitioned(emb, cents, Pq.codebooks(emb, 4, 2, 8, 1), 4, 2, pqDir)
    val batchQuery = oneQuery.withColumn("query_id", lit(0L))
    for ((dir, kind) <- Seq(sqDir -> "'ivfsq8'", resDir -> "'pq_residual'", pqDir -> "'pq'");
         (op, call) <- Seq[(String, () => Any)](
           "insertInto" -> (() => Ivf.insertInto(spark, dir, fresh)),
           "topKPartitioned" -> (() => Ivf.topKPartitioned(spark, dir, oneQuery, 10, C)),
           "topKPartitionedBatchFused" ->
             (() => Ivf.topKPartitionedBatchFused(spark, dir, batchQuery, 10, C))))
      assert(intercept[IllegalArgumentException](call()).getMessage.contains(kind), s"$op on $kind")
  }

  test("a zero-norm row is rejected by vec_id when a cosine layout is built or grown") {
    val zero = Seq((900L, Array.fill(8)(0f))).toDF("vec_id", "embedding")
    val e1 = intercept[Exception](Ivf.normalized(emb.unionByName(zero)).collect())
    assert(e1.getMessage.contains("vec_id 900") && e1.getMessage.contains("zero-norm"),
      e1.getMessage)
    val dir = Files.createTempDirectory("cos_zero").toString
    Ivf.ensurePartitioned(emb, C, dir, kind = "cosine")
    val e2 = intercept[Exception](Ivf.insertInto(spark, dir, zero))
    assert(e2.getMessage.contains("vec_id 900"), e2.getMessage)
    // non-zero rows still normalize to unit length
    val norms = Ivf.normalized(emb).select(l2Norm(col("embedding"))).as[Double].collect()
    assert(norms.forall(n => math.abs(n - 1.0) < 1e-12))
  }

  test("ensureInsertedPartitioned memoizes on the (base, fresh, cents) split") {
    val base = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val fresh = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
    val dir = Files.createTempDirectory("ivf_ins_ensure").toString
    def ensureInserted(): Unit =
      IndexMeta.ensure(dir, "insspec2", base, fresh, cents) {
        Ivf.writePartitionedWith(base, cents, dir)
        Ivf.insertInto(spark, dir, fresh)
      }
    ensureInserted()
    val fp1 = IndexMeta.read(spark, dir)
    assert(fp1.nonEmpty, "ensure must leave a valid fingerprint")
    val files1 = cellFiles(dir, cellsOf(emb))
    // second call: no rebuild (same split), files untouched
    ensureInserted()
    assert(cellFiles(dir, cellsOf(emb)) === files1, "repeat ensure must be a no-op")
    assert(spark.read.parquet(dir).count() === emb.count())
  }

  test("PQ insertInto: frozen-codebook encode appends cell-locally; grown code layout serves == single-pass encode") {
    val books = Pq.codebooks(emb, m = 2, subDim = 4, c = 8, iters = 1)
    val freshCell = cellsOf(emb).max
    val fresh = emb.join(Ivf.assignWith(emb, cents).filter(col("cell") === freshCell),
      Seq("vec_id")).select("vec_id", "embedding")
    val base = emb.join(fresh.select("vec_id"), Seq("vec_id"), "left_anti")

    val dir = Files.createTempDirectory("pq_ins").toString
    Pq.ensureEncodedPartitioned(base, cents, books, m = 2, subDim = 4, dir)
    val untouched = cellsOf(base) - freshCell
    val before = cellFiles(dir, untouched)
    assert(before.nonEmpty)

    Pq.insertInto(spark, dir, fresh)

    assert(cellFiles(dir, untouched) === before,
      "non-receiving cells' code files must not be rewritten")

    val fullDir = Files.createTempDirectory("pq_ins_full").toString
    Pq.ensureEncodedPartitioned(emb, cents, books, m = 2, subDim = 4, fullDir)
    assert(single(Pq.topK(spark, dir, oneQuery, 10, nprobe = 4))
      === single(Pq.topK(spark, fullDir, oneQuery, 10, nprobe = 4)),
      "insert-grown ADC serving must equal the single-pass encode")
    // the two-stage rerank path serves the grown layout identically too
    val rerank = Some(Pq.Rerank(emb, 30))
    assert(single(Pq.topK(spark, dir, oneQuery, 10, nprobe = 4, rerank = rerank))
      === single(Pq.topK(spark, fullDir, oneQuery, 10, nprobe = 4, rerank = rerank)),
      "insert-grown rerank serving must equal the single-pass encode")
  }

  test("ensureInsertedEncodedPartitioned memoizes; grown layout holds one code row per vector") {
    val books = Pq.codebooks(emb, m = 2, subDim = 4, c = 8, iters = 1)
    val base = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val fresh = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
    val dir = Files.createTempDirectory("pq_ins_ensure").toString
    def ensureInserted(): Unit =
      IndexMeta.ensure(dir, "pqinsspec", base, fresh, cents, books) {
        Pq.writeEncodedPartitioned(base, cents, books, m = 2, subDim = 4, dir)
        Pq.insertInto(spark, dir, fresh)
      }
    ensureInserted()
    assert(IndexMeta.read(spark, dir).nonEmpty)
    val files1 = cellFiles(dir, cellsOf(emb))
    ensureInserted()
    assert(cellFiles(dir, cellsOf(emb)) === files1, "repeat ensure must be a no-op")
    assert(spark.read.parquet(dir).count() === emb.count())
    assert(spark.read.parquet(dir).select("vec_id").distinct().count() === emb.count())
  }
}
