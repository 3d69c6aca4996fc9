package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions._
import graft.operators.{IndexMeta, Ivf}

/** Deletion lifecycle for the cell-partitioned IVF serving layout —
  * the non-graph twin of IndexDeleteSpec: tombstones exclude rows from
  * serving immediately (single AND batch paths); compaction rewrites
  * ONLY the cells holding deleted rows, leaves every other cell's
  * files byte-identical, clears the sidecar, and invalidates the
  * source fingerprint.
  */
class IvfDeleteSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val C = 8

  private lazy val emb = (0L until 200L).map { i =>
    val rnd = new scala.util.Random(i)
    (i, Array.fill(8)(rnd.nextFloat() * 10f))
  }.toDF("vec_id", "embedding").cache()

  private val delIds = Seq(21L, 22L, 23L, 24L, 60L)

  private lazy val queries = emb.filter(col("vec_id") < 5)
    .select(col("vec_id").as("query_id"), perturbQuery(col("embedding")).as("query_vec"))

  private lazy val oneQuery = queries.filter(col("query_id") === 0).drop("query_id")

  private def single(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private def batch(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  /** Files of every `<key>=<v>` subtree, keyed by relative path, valued
    * by content checksum — the byte-identity witness (`cell=` for IVF
    * layouts, `part=` for routed HNSW).
    */
  private def subtreeFiles(base: String, key: String, ids: Set[Long]): Map[String, Int] = {
    def walk(p: Path): Seq[Path] =
      if (Files.isDirectory(p)) {
        val s = Files.list(p); try { import scala.jdk.CollectionConverters._
          s.iterator().asScala.toSeq.flatMap(walk) } finally s.close()
      } else Seq(p)
    ids.toSeq.flatMap { v =>
      val d = Paths.get(s"$base/$key=$v")
      walk(d).filter(f => !f.getFileName.toString.endsWith(".crc"))
        .map(f => (s"$key=$v/${d.relativize(f)}",
          java.util.Arrays.hashCode(Files.readAllBytes(f))))
    }.toMap
  }

  private def cellFiles(base: String, cells: Set[Long]): Map[String, Int] =
    subtreeFiles(base, "cell", cells)

  private def layoutCells(dir: String): Set[Long] =
    Ivf.readLayout(spark, dir).select(col("cell").cast("long"))
      .distinct().collect().map(_.getLong(0)).toSet

  test("tombstoned ids vanish from single AND batch serving; results == layout rebuilt without them") {
    // every layout kind, stored the way its build stores it; MIPS
    // augments with the FULL corpus's max norm on both sides
    val m = Ivf.maxNormOf(emb)
    val kinds = Seq[(String, DataFrame => DataFrame)](
      "plain" -> (df => df), "cosine" -> Ivf.normalized, "mips" -> (df => Ivf.augmentedWith(df, m)))
    for ((kind, stored) <- kinds) {
      val cents = Ivf.centroids(stored(emb), C)
      val dir = Files.createTempDirectory(s"ivf_del_serve_$kind").toString
      Ivf.writePartitionedWith(stored(emb), cents, dir, kind)
      // the takedown includes each query's best hit, so the exclusion
      // shows in every result
      val best = Ivf.topKPartitioned(spark, dir, queries, 1, nprobe = 3)
        .collect().map(_.getLong(1)).toSeq
      val dels = delIds ++ best
      Ivf.recordDeletes(spark, dir, dels.toDF("vec_id"))

      // vs the SAME centroids over the source minus the deleted rows —
      // identical probe geometry, so serving under tombstones must match
      val cleanDir = Files.createTempDirectory(s"ivf_del_clean_$kind").toString
      Ivf.writePartitionedWith(stored(emb.filter(!col("vec_id").isin(dels: _*))), cents,
        cleanDir, kind)

      val got = single(Ivf.topKPartitioned(spark, dir, oneQuery, 10, nprobe = 3))
      assert(got.forall(r => !dels.contains(r._1)), s"$kind: deleted ids must never be returned")
      assert(got === single(Ivf.topKPartitioned(spark, cleanDir, oneQuery, 10, nprobe = 3)),
        s"$kind single: tombstone serving must equal a layout built without the deleted rows")
      val clean = batch(Ivf.topKPartitioned(spark, cleanDir, queries, 10, nprobe = 3))
      assert(batch(Ivf.topKPartitioned(spark, dir, queries, 10, nprobe = 3)) === clean,
        s"$kind batch: tombstone serving must equal the clean layout's batch results")
      assert(batch(Ivf.topKPartitionedBatchFused(spark, dir, queries, 10, nprobe = 3)) === clean,
        s"$kind fused: tombstone serving must equal the clean layout's batch results")
    }
  }

  test("compaction rewrites only affected cells; untouched cells byte-identical; meta invalidated") {
    val dir = Files.createTempDirectory("ivf_del_compact").toString
    Ivf.ensurePartitionedWith(emb, Ivf.centroids(emb, C), dir, tag = "delspec")
    assert(IndexMeta.read(spark, dir).nonEmpty, "ensure must record a fingerprint")
    Ivf.recordDeletes(spark, dir, delIds.toDF("vec_id"))

    val assigned = Ivf.assignWith(emb, Ivf.centroids(emb, C))
    val affected = assigned.filter(col("vec_id").isin(delIds: _*))
      .select("cell").distinct().collect().map(_.getLong(0)).toSet
    val untouched = layoutCells(dir) -- affected
    assert(affected.nonEmpty && untouched.nonEmpty, "the fixture must split the cells")
    val before = cellFiles(dir, untouched)
    assert(before.nonEmpty)

    Ivf.compactPartitioned(spark, dir)

    assert(cellFiles(dir, untouched) === before,
      "untouched cells' files must not be rewritten")
    assert(Ivf.readLayout(spark, dir).filter(col("vec_id").isin(delIds: _*)).count() === 0,
      "compaction must fold the deletions out of the published snapshot")
    assert(graft.operators.Tombstones.ids(spark, dir).isEmpty,
      "compaction must clear the tombstones")
    assert(IndexMeta.read(spark, dir).isEmpty,
      "compaction must invalidate the source fingerprint")

    // post-compaction serving (no tombstones left) == pre-compaction
    // serving under tombstones
    val got = single(Ivf.topKPartitioned(spark, dir, oneQuery, 10, nprobe = 3))
    val cleanDir = Files.createTempDirectory("ivf_del_compact_clean").toString
    Ivf.writePartitionedWith(emb.filter(!col("vec_id").isin(delIds: _*)),
      Ivf.centroids(emb, C), cleanDir)
    assert(got === single(Ivf.topKPartitioned(spark, cleanDir, oneQuery, 10, nprobe = 3)))
  }

  test("routed HNSW serving under tombstones == routed serving over the index built without them") {
    val p = graft.operators.Hnsw.Params(efSearch = 256, numPartitions = 3)
    val cents = Ivf.kmeans(emb, 8, 2)
    val dir = Files.createTempDirectory("routed_del").toString
    graft.operators.Hnsw.saveRouted(emb, cents, p, dir, replication = 2)
    graft.operators.Hnsw.recordDeletes(spark, dir, delIds.toDF("vec_id"))
    val got = batch(graft.operators.Hnsw.searchRoutedWithIndexDeletes(
      spark, dir, queries, 10, p, nprobe = 8))
    assert(got.nonEmpty && got.forall(r => !delIds.contains(r._2)))
    // nprobe = all cells → exhaustive routed search: must equal the
    // routed search over an index REBUILT without the deleted rows
    val cleanDir = Files.createTempDirectory("routed_del_clean").toString
    graft.operators.Hnsw.saveRouted(emb.filter(!col("vec_id").isin(delIds: _*)),
      cents, p, cleanDir, replication = 2)
    val rebuilt = batch(graft.operators.Hnsw.searchRoutedWithIndex(
      spark, cleanDir, queries, 10, p, nprobe = 8))
    assert(got === rebuilt,
      "routed tombstone serving must equal a routed index built without the deleted rows")
  }

  test("routed compaction rebuilds only affected cells; untouched cells byte-identical; serving == rebuild-without") {
    import graft.operators.Hnsw
    val p = Hnsw.Params(efSearch = 256, numPartitions = 3)
    val cents = Ivf.kmeans(emb, 8, 2)
    val dir = Files.createTempDirectory("routed_compact").toString
    Hnsw.saveRouted(emb, cents, p, dir, replication = 2)
    val dels = delIds.take(2) // few ids -> few affected cells (x2 replication)
    Hnsw.recordDeletes(spark, dir, dels.toDF("vec_id"))

    val nodes = spark.read.parquet(s"$dir/nodes")
    val affected = nodes.filter(col("vec_id").isin(dels: _*))
      .select(col("part").cast("long")).distinct().collect().map(_.getLong(0)).toSet
    val allParts = nodes.select(col("part").cast("long"))
      .distinct().collect().map(_.getLong(0)).toSet
    val untouched = allParts -- affected
    assert(affected.nonEmpty && untouched.nonEmpty, "the fixture must split the cells")
    val nodesBefore = subtreeFiles(s"$dir/nodes", "part", untouched)
    val edgesBefore = subtreeFiles(s"$dir/edges", "part", untouched)
    assert(nodesBefore.nonEmpty && edgesBefore.nonEmpty)

    Hnsw.compactRouted(spark, dir, p)

    assert(subtreeFiles(s"$dir/nodes", "part", untouched) === nodesBefore,
      "untouched node cells must not be rewritten")
    assert(subtreeFiles(s"$dir/edges", "part", untouched) === edgesBefore,
      "untouched edge cells must not be rewritten")
    assert(Hnsw.readRoutedNodes(spark, dir).filter(col("vec_id").isin(dels: _*)).count() === 0)
    assert(Hnsw.readRoutedEdges(spark, dir)
      .filter(col("src").isin(dels: _*) || col("dst").isin(dels: _*)).count() === 0,
      "compacted adjacency must not reference deleted ids")
    assert(graft.operators.Tombstones.ids(spark, dir).isEmpty)
    assert(graft.operators.IndexMeta.read(spark, dir).isEmpty,
      "compaction must invalidate the source fingerprint")

    // full-probe serving of the compacted index == routed index built
    // without the deleted rows (same centroids)
    val got = batch(Hnsw.searchRoutedWithIndex(spark, dir, queries, 10, p, nprobe = 8))
    val cleanDir = Files.createTempDirectory("routed_compact_clean").toString
    Hnsw.saveRouted(emb.filter(!col("vec_id").isin(dels: _*)), cents, p, cleanDir,
      replication = 2)
    assert(got === batch(Hnsw.searchRoutedWithIndex(spark, cleanDir, queries, 10, p,
      nprobe = 8)))
  }

  test("IVF-PQ serving under tombstones == codes encoded without the deleted rows; rerank never reads them") {
    import graft.operators.Pq
    val cents = Ivf.centroids(emb, C)
    val books = Pq.codebooks(emb, m = 4, subDim = 2, c = 8, iters = 1)
    val dir = Files.createTempDirectory("ivfpq_del").toString
    Pq.ensureEncodedPartitioned(emb, cents, books, 4, 2, dir)
    graft.operators.Tombstones.record(spark, dir, delIds.toDF("vec_id"))

    val got = single(Pq.topK(spark, dir, oneQuery, 10, nprobe = 3))
    assert(got.forall(r => !delIds.contains(r._1)))

    // clean twin: SAME books and centroids, codes over the remaining rows
    val cleanDir = Files.createTempDirectory("ivfpq_del_clean").toString
    val remaining = emb.filter(!col("vec_id").isin(delIds: _*))
    Pq.ensureEncodedPartitioned(remaining, cents, books, 4, 2, cleanDir)
    assert(got === single(Pq.topK(spark, cleanDir, oneQuery, 10, nprobe = 3)),
      "compressed-tier tombstone serving must equal codes encoded without the deleted rows")

    // two-stage: tombstones drop at the shortlist, so the exact rerank
    // (single AND batch) can neither return nor read them
    val rr = single(Pq.topK(spark, dir, oneQuery, 10, nprobe = 3,
      rerank = Some(Pq.Rerank(emb, 20))))
    assert(rr.forall(r => !delIds.contains(r._1)))
    assert(rr === single(Pq.topK(spark, cleanDir, oneQuery, 10, nprobe = 3,
      rerank = Some(Pq.Rerank(remaining, 20)))))
    val rrb = batch(Pq.topK(spark, dir, queries, 10, nprobe = 3,
      rerank = Some(Pq.Rerank(emb, 20))))
    assert(rrb.nonEmpty && rrb.forall(r => !delIds.contains(r._2)))
    assert(rrb === batch(Pq.topK(spark, cleanDir, queries, 10, nprobe = 3,
      rerank = Some(Pq.Rerank(remaining, 20)))))
  }

  test("a fully-deleted cell disappears from the layout; probing it reads zero rows, serving still works") {
    val dir = Files.createTempDirectory("ivf_del_empty").toString
    val cents = Ivf.centroids(emb, C)
    Ivf.writePartitionedWith(emb, cents, dir)
    // delete EVERY row of one populated cell
    val victim = Ivf.assignWith(emb, cents)
      .groupBy("cell").count().orderBy("count", "cell")
      .select(col("cell")).first().getLong(0)
    val victims = Ivf.assignWith(emb, cents).filter(col("cell") === victim).select("vec_id")
    val nVictims = victims.count()
    assert(nVictims > 0)
    Ivf.recordDeletes(spark, dir, victims)
    Ivf.compactPartitioned(spark, dir)
    assert(!layoutCells(dir).contains(victim), "an emptied cell must leave the snapshot")
    assert(Ivf.readLayout(spark, dir).count() === 200 - nVictims)
    // probing every cell (nprobe = C) still serves — the emptied cell
    // contributes nothing
    val got = single(Ivf.topKPartitioned(spark, dir, oneQuery, 10, nprobe = C))
    assert(got.size === 10)
  }
}
