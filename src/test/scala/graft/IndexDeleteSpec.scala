package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions._
import graft.operators.{CellSnapshot, Hnsw, Tombstones}

/** Index deletion lifecycle of the exhaustive (hash-sharded) HNSW
  * layout: tombstones exclude rows from serving immediately; compaction
  * folds them into a new snapshot generation rewriting ONLY the
  * affected shards — untouched shards' files stay where the manifest
  * points. Also the publish protocol's crash safety: an insert
  * interrupted before its manifest rename is invisible and overwritten.
  */
class IndexDeleteSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val P = Hnsw.Params(efSearch = 256, numPartitions = 4)

  private lazy val emb = (0L until 100L).map { i =>
    val rnd = new scala.util.Random(i)
    (i, Array.fill(8)(rnd.nextFloat() * 10f))
  }.toDF("vec_id", "embedding").cache()

  // all deleted ids hash to shard 1 (id % 4 == 1): shards 0/2/3 untouched
  private val delIds = Seq(5L, 9L, 13L, 17L)

  private lazy val queries = emb.filter(col("vec_id") < 10)
    .select(col("vec_id").as("query_id"), perturbQuery(col("embedding")).as("query_vec"))

  private def results(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  /** Files of every `part=<k>` subtree, keyed by relative path, valued
    * by content bytes (checksummed) — the byte-identity witness.
    */
  private def partFiles(base: String, parts: Set[Int]): Map[String, Int] = {
    def walk(p: Path): Seq[Path] =
      if (Files.isDirectory(p)) {
        val s = Files.list(p); try { import scala.jdk.CollectionConverters._
          s.iterator().asScala.toSeq.flatMap(walk) } finally s.close()
      } else Seq(p)
    parts.toSeq.flatMap { k =>
      val d = Paths.get(s"$base/part=$k")
      walk(d).filter(f => !f.getFileName.toString.endsWith(".crc"))
        .map(f => (s"part=$k/${d.relativize(f)}",
          java.util.Arrays.hashCode(Files.readAllBytes(f))))
    }.toMap
  }

  test("tombstoned ids vanish from serving immediately and results == rebuild without them") {
    val dir = Files.createTempDirectory("hnsw_del_serve").toString
    Hnsw.save(emb, P, dir)
    Tombstones.record(spark, dir, delIds.toDF("vec_id"))
    val got = results(Hnsw.search(spark, dir, queries, 10, P))
    assert(got.forall(r => !delIds.contains(r._2)), "deleted ids must never be returned")
    // vs an index REBUILT from scratch without the deleted rows
    val remaining = emb.filter(!col("vec_id").isin(delIds: _*))
    val rebuilt = results(Hnsw.searchTopK(remaining, queries, 10, P))
    assert(got === rebuilt, "tombstone serving must equal a rebuild without the deleted rows")
  }

  test("compaction folds tombstones in: only affected shards rewritten, untouched shards byte-identical") {
    val dir = Files.createTempDirectory("hnsw_del_compact").toString
    Hnsw.save(emb, P, dir)
    Tombstones.record(spark, dir, delIds.toDF("vec_id"))

    val untouched = Set(0, 2, 3)
    val nodesBefore = partFiles(s"$dir/nodes", untouched)
    val edgesBefore = partFiles(s"$dir/edges", untouched)
    assert(nodesBefore.nonEmpty && edgesBefore.nonEmpty)

    Hnsw.compactRouted(spark, dir, P)

    assert(CellSnapshot.version(spark, dir) === Some(1), "compaction must publish a new version")
    assert(Tombstones.ids(spark, dir).isEmpty, "compaction must clear the tombstones")

    // untouched shards: not rewritten — the manifest keeps pointing at
    // their build files (same names, same bytes); only shard 1 moves
    assert(CellSnapshot.mapping(spark, dir).map(_._2) ===
      Some(Map(0L -> 0, 1L -> 1, 2L -> 0, 3L -> 0)))
    assert(partFiles(s"$dir/nodes", untouched) === nodesBefore,
      "untouched node shards must not be rewritten")
    assert(partFiles(s"$dir/edges", untouched) === edgesBefore,
      "untouched edge shards must not be rewritten")

    // affected shard: deleted rows gone from nodes AND edges
    val nodes1 = Hnsw.readRoutedNodes(spark, dir)
    val edges1 = Hnsw.readRoutedEdges(spark, dir)
    assert(nodes1.filter(col("vec_id").isin(delIds: _*)).count() === 0)
    assert(edges1.filter(col("src").isin(delIds: _*) || col("dst").isin(delIds: _*))
      .count() === 0, "compacted adjacency must not reference deleted ids")

    // serving the compacted layout == rebuild without deleted rows
    val remaining = emb.filter(!col("vec_id").isin(delIds: _*))
    val got = results(Hnsw.search(spark, dir, queries, 10, P))
    assert(got === results(Hnsw.searchTopK(remaining, queries, 10, P)))
  }

  test("delete -> compact -> append composes: the next generation builds on the compacted files") {
    val dir = Files.createTempDirectory("hnsw_del_append").toString
    val base = emb.filter(col("vec_id") < 80)
    Hnsw.save(base, P, dir)
    Tombstones.record(spark, dir, delIds.toDF("vec_id"))
    Hnsw.compactRouted(spark, dir, P) // version 1
    val fresh = emb.filter(col("vec_id") >= 80)
    Hnsw.insertInto(spark, dir, fresh, P) // version 2: every shard takes rows
    assert(CellSnapshot.version(spark, dir) === Some(2))
    // snapshot GC: keep only the newest version; serving is unchanged
    // and the reclaimed subtrees are gone from disk
    val servedBefore = results(Hnsw.search(spark, dir, queries, 10, P))
    Hnsw.vacuumRouted(spark, dir, keep = 1)
    assert(CellSnapshot.versions(spark, dir) === Seq(2), "the newest version survives GC")
    assert(CellSnapshot.listParts(spark, s"$dir/nodes", "part").isEmpty &&
      !Files.exists(Paths.get(s"$dir/_gen/g=1")),
      "reclaimed generations must leave the disk")
    assert(results(Hnsw.search(spark, dir, queries, 10, P)) === servedBefore,
      "snapshot GC must not change what the current version serves")
    val got = results(Hnsw.search(spark, dir, queries, 10, P))
    assert(got.forall(r => !delIds.contains(r._2)))
    assert(Hnsw.readRoutedNodes(spark, dir).count() === 100 - delIds.length)
  }

  test("an interrupted insert leaves the published version serving; the next insert overwrites it") {
    val base = emb.filter(col("vec_id") < 80)
    val fresh = emb.filter(col("vec_id") >= 80)
    val dir = Files.createTempDirectory("hnsw_interrupted").toString
    Hnsw.save(base, P, dir)
    Tombstones.record(spark, dir, delIds.toDF("vec_id"))
    Hnsw.compactRouted(spark, dir, P) // version 1
    val served1 = results(Hnsw.search(spark, dir, queries, 10, P))
    // what an insert stopped before its manifest rename leaves behind:
    // a complete `_gen/g=2/{nodes,edges}` tree that no manifest names
    // (here every shard, built over different rows)
    val junk = emb.filter(col("vec_id") >= 40).select(col("vec_id"),
      transform(col("embedding"), x => x * 3f).as("embedding"))
    Hnsw.save(junk, P, s"$dir/_gen/g=2")
    assert(CellSnapshot.listParts(spark, CellSnapshot.genRoot(dir, "edges", 2), "part").nonEmpty)
    assert(CellSnapshot.version(spark, dir) === Some(1))
    assert(results(Hnsw.search(spark, dir, queries, 10, P)) === served1,
      "an unpublished generation must not reach readers")

    Hnsw.insertInto(spark, dir, fresh, P)
    assert(CellSnapshot.version(spark, dir) === Some(2))
    // the same history on a clean dir
    val clean = Files.createTempDirectory("hnsw_interrupted_clean").toString
    Hnsw.save(base, P, clean)
    Tombstones.record(spark, clean, delIds.toDF("vec_id"))
    Hnsw.compactRouted(spark, clean, P)
    Hnsw.insertInto(spark, clean, fresh, P)
    def edgeSet(d: String) = Hnsw.readRoutedEdges(spark, d)
      .select("part", "src", "dst", "layer").collect().map(_.toSeq).toSet
    assert(edgeSet(dir) === edgeSet(clean), "the rerun must overwrite the leftover tree")
    assert(Hnsw.readRoutedNodes(spark, dir).count() === 100 - delIds.length)
    assert(results(Hnsw.search(spark, dir, queries, 10, P)) ===
      results(Hnsw.search(spark, clean, queries, 10, P)))
  }
}
