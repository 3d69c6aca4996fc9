package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions._
import graft.operators.{CellSnapshot, Hnsw, Ivf, Pq, Tombstones}

/** Atomic compaction publish ([[CellSnapshot]]): maintenance writes
  * rebuilt cells as a NEW immutable generation and flips one marker —
  * no published file is ever deleted or renamed — so a reader that
  * planned its scan BEFORE a compaction keeps serving a consistent
  * pre-compaction snapshot (no missing cells, no half-swapped trees)
  * while and after the compaction publishes, on every serving family
  * (IVF cells, routed HNSW, IVF-PQ codes). The delete-then-rename it
  * replaces broke exactly this: a concurrent reader could catch a
  * cell between the delete and the rename.
  */
class CellSnapshotSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val C = 8

  private lazy val emb = (0L until 200L).map { i =>
    val rnd = new scala.util.Random(i)
    (i, Array.fill(8)(rnd.nextFloat() * 10f))
  }.toDF("vec_id", "embedding").cache()

  private val delIds = Seq(21L, 22L, 23L, 24L, 60L)

  private lazy val oneQuery = emb.filter(col("vec_id") === 0)
    .select(perturbQuery(col("embedding")).as("query_vec"))

  private def single(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("IVF: a reader planned before compaction serves the full pre-compaction snapshot; new readers see the compacted one") {
    val dir = Files.createTempDirectory("snap_ivf").toString
    Ivf.writePartitionedWith(emb, Ivf.centroids(emb, C), dir)

    // full-probe serving plan + expected rows, both fixed BEFORE the
    // compaction (file listing pins at plan time — this is the
    // concurrent reader)
    val preReader = Ivf.topKPartitioned(spark, dir, oneQuery, 10, nprobe = C)
    val expectedPre = single(Ivf.topKPartitioned(spark, dir, oneQuery, 10, nprobe = C))

    Ivf.recordDeletes(spark, dir, delIds.toDF("vec_id"))
    Ivf.compactPartitioned(spark, dir)

    // the pre-compaction reader still executes cleanly and returns the
    // PRE-compaction results — its generation was never mutated
    assert(single(preReader) === expectedPre,
      "a reader planned before compaction must keep a consistent pre-compaction view")

    // a post-compaction reader resolves the new snapshot: deletions
    // folded, every surviving cell present
    val post = Ivf.readLayout(spark, dir)
    assert(post.filter(col("vec_id").isin(delIds: _*)).count() === 0)
    assert(post.count() === 200 - delIds.size)

    // chain a SECOND compaction over the manifested layout
    val delIds2 = Seq(100L, 101L)
    Ivf.recordDeletes(spark, dir, delIds2.toDF("vec_id"))
    val midReader = Ivf.topKPartitioned(spark, dir, oneQuery, 10, nprobe = C)
    val expectedMid = single(midReader)
    Ivf.compactPartitioned(spark, dir)
    assert(single(midReader) === expectedMid,
      "snapshot isolation must hold across chained compactions")
    assert(Ivf.readLayout(spark, dir).count() === 200 - delIds.size - delIds2.size)
    assert(CellSnapshot.version(spark, dir).exists(_ >= 2), "each compaction publishes a new version")
  }

  test("IVF: tombstoned top-k and range frames planned before a compaction or insert serve their planned rows after it") {
    val dir = Files.createTempDirectory("snap_ivf_sidecars").toString
    Ivf.writePartitionedWith(emb, Ivf.centroids(emb, C), dir)
    Ivf.recordDeletes(spark, dir, delIds.toDF("vec_id"))
    def topK() = Ivf.topKPartitioned(spark, dir, oneQuery, 10, nprobe = C)
    def range() = Ivf.rangeSearch(spark, dir, oneQuery, 8.0)

    // frames built now, collected only after the maintenance below;
    // each must return what the same call returns when collected at once
    val (topKFrame, rangeFrame) = (topK(), range())
    val (topKRows, rangeRows) = (single(topK()), single(range()))
    assert(topKRows.nonEmpty && rangeRows.nonEmpty)
    assert((topKRows ++ rangeRows).forall(r => !delIds.contains(r._1)))
    // clears the `_deletes` sidecar and drops `_radii`
    Ivf.compactPartitioned(spark, dir)
    assert(single(topKFrame) === topKRows, "a tombstoned top-k planned before compaction")
    assert(single(rangeFrame) === rangeRows, "a range search planned before compaction")

    val preInsert = range()
    val preInsertRows = single(range())
    // drops `_radii` again
    Ivf.insertInto(spark, dir, emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 1000).as("vec_id"), col("embedding")))
    assert(single(preInsert) === preInsertRows, "a range search planned before an insert")
  }

  test("IVF: time-travel reads reproduce each published version exactly, through later compactions") {
    val dir = Files.createTempDirectory("snap_tt").toString
    Ivf.writePartitionedWith(emb, Ivf.centroids(emb, C), dir)
    def rows(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("vec_id").collect().map(_.getLong(0)).toSet
    val all = rows(Ivf.readLayout(spark, dir))

    Ivf.recordDeletes(spark, dir, delIds.toDF("vec_id"))
    Ivf.compactPartitioned(spark, dir)
    val v1 = CellSnapshot.version(spark, dir).get
    val afterFirst = rows(Ivf.readLayout(spark, dir))
    assert(afterFirst === all -- delIds)

    Ivf.recordDeletes(spark, dir, Seq(100L, 101L).toDF("vec_id"))
    Ivf.compactPartitioned(spark, dir)
    val v2 = CellSnapshot.version(spark, dir).get
    assert(v2 > v1)

    // v1 still reproduces the first compaction's snapshot exactly,
    // even though a later compaction has published
    assert(CellSnapshot.versions(spark, dir) === Seq(v1, v2))
    assert(rows(Ivf.readLayoutAt(spark, dir, v1)) === afterFirst)
    assert(rows(Ivf.readLayoutAt(spark, dir, v2)) === afterFirst -- Seq(100L, 101L))
    // an unknown/vacuumed version fails loudly
    intercept[IllegalArgumentException] { Ivf.readLayoutAt(spark, dir, 999) }
    Ivf.vacuumPartitioned(spark, dir)
    intercept[IllegalArgumentException] { Ivf.readLayoutAt(spark, dir, v1) }
    assert(rows(Ivf.readLayout(spark, dir)) === afterFirst -- Seq(100L, 101L),
      "vacuum keeps the current version intact")
  }

  test("IVF: vacuum retention window — keep=2 preserves the previous version's time travel, keep=1 then reclaims it") {
    val dir = Files.createTempDirectory("snap_keep").toString
    Ivf.writePartitionedWith(emb, Ivf.centroids(emb, C), dir)
    def rows(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("vec_id").collect().map(_.getLong(0)).toSet
    Ivf.recordDeletes(spark, dir, delIds.toDF("vec_id"))
    Ivf.compactPartitioned(spark, dir)
    val v1 = CellSnapshot.version(spark, dir).get
    val atV1 = rows(Ivf.readLayoutAt(spark, dir, v1))
    Ivf.recordDeletes(spark, dir, Seq(100L, 101L).toDF("vec_id"))
    Ivf.compactPartitioned(spark, dir)
    val v2 = CellSnapshot.version(spark, dir).get
    val bytesBefore = fsBytes(dir)
    // a reader is pinned at v1 (a training run mid-flight): vacuum with
    // keep=2 must reclaim what neither version references while the v1
    // pin keeps reading byte-identically
    Ivf.vacuumPartitioned(spark, dir, keep = 2)
    assert(CellSnapshot.versions(spark, dir) === Seq(v1, v2))
    assert(rows(Ivf.readLayoutAt(spark, dir, v1)) === atV1,
      "a pin inside the retention window must survive vacuum")
    assert(fsBytes(dir) <= bytesBefore)
    // the pin is released: keep=1 reclaims v1 and its exclusive subtrees
    Ivf.vacuumPartitioned(spark, dir, keep = 1)
    assert(CellSnapshot.versions(spark, dir) === Seq(v2))
    intercept[IllegalArgumentException] { Ivf.readLayoutAt(spark, dir, v1) }
    assert(rows(Ivf.readLayout(spark, dir)) === atV1 -- Seq(100L, 101L),
      "the current snapshot serves unchanged after both vacuums")
  }

  test("retention policy: a pinned training-run version survives retain; release reclaims it") {
    val dir = Files.createTempDirectory("snap_retain").toString
    Ivf.writePartitionedWith(emb, Ivf.centroids(emb, C), dir)
    def rows(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("vec_id").collect().map(_.getLong(0)).toSet
    // three published versions: v1 (pinned by a training run), v2
    // (nobody references it), v3 (current)
    Ivf.recordDeletes(spark, dir, delIds.toDF("vec_id"))
    Ivf.compactPartitioned(spark, dir)
    val v1 = CellSnapshot.version(spark, dir).get
    CellSnapshot.pin(spark, dir, v1) // training run R starts reading v1
    val atV1 = rows(Ivf.readLayoutAt(spark, dir, v1))
    Ivf.recordDeletes(spark, dir, Seq(100L, 101L).toDF("vec_id"))
    Ivf.compactPartitioned(spark, dir)
    val v2 = CellSnapshot.version(spark, dir).get
    Ivf.recordDeletes(spark, dir, Seq(102L).toDF("vec_id"))
    Ivf.compactPartitioned(spark, dir)
    val v3 = CellSnapshot.version(spark, dir).get
    val bytesBefore = fsBytes(dir)
    // retain with no age window: keeps current + pins, reclaims v2
    Ivf.retainPartitioned(spark, dir)
    assert(CellSnapshot.versions(spark, dir) === Seq(v1, v3),
      "retain must keep exactly the pinned version and the current one")
    assert(rows(Ivf.readLayoutAt(spark, dir, v1)) === atV1,
      "the pinned version must time-travel bit-identically after retain")
    intercept[IllegalArgumentException] { Ivf.readLayoutAt(spark, dir, v2) }
    assert(fsBytes(dir) <= bytesBefore)
    // run R finishes: unpin + retain reclaims v1's exclusive subtrees
    CellSnapshot.unpin(spark, dir, v1)
    Ivf.retainPartitioned(spark, dir)
    assert(CellSnapshot.versions(spark, dir) === Seq(v3))
    intercept[IllegalArgumentException] { Ivf.readLayoutAt(spark, dir, v1) }
    assert(rows(Ivf.readLayout(spark, dir)) === atV1 -- Seq(100L, 101L, 102L),
      "the current snapshot serves unchanged through both retains")
    // an age window keeps every fresh-enough version (all just written)
    val dir2 = Files.createTempDirectory("snap_retain_age").toString
    Ivf.writePartitionedWith(emb, Ivf.centroids(emb, C), dir2)
    Ivf.recordDeletes(spark, dir2, delIds.toDF("vec_id"))
    Ivf.compactPartitioned(spark, dir2)
    Ivf.recordDeletes(spark, dir2, Seq(100L).toDF("vec_id"))
    Ivf.compactPartitioned(spark, dir2)
    val all = CellSnapshot.versions(spark, dir2)
    Ivf.retainPartitioned(spark, dir2, maxAge = java.time.Duration.ofDays(1))
    assert(CellSnapshot.versions(spark, dir2) === all,
      "versions inside the age window must all survive")
    // pinning an unpublished version fails loudly
    intercept[IllegalArgumentException] { CellSnapshot.pin(spark, dir2, 999) }
  }

  test("IVF: vacuum reclaims superseded subtrees; the current snapshot still serves identically") {
    val dir = Files.createTempDirectory("snap_vac").toString
    Ivf.writePartitionedWith(emb, Ivf.centroids(emb, C), dir)
    Ivf.recordDeletes(spark, dir, delIds.toDF("vec_id"))
    Ivf.compactPartitioned(spark, dir)

    val before = single(Ivf.topKPartitioned(spark, dir, oneQuery, 10, nprobe = C))
    val bytesBefore = fsBytes(dir)
    Ivf.vacuumPartitioned(spark, dir)
    assert(fsBytes(dir) < bytesBefore, "vacuum must reclaim superseded bytes")
    assert(single(Ivf.topKPartitioned(spark, dir, oneQuery, 10, nprobe = C)) === before,
      "vacuum must not change what the current snapshot serves")
    assert(Ivf.readLayout(spark, dir).filter(col("vec_id").isin(delIds: _*)).count() === 0)
  }

  test("IVF: insert after compaction lands in the live snapshot (including a cell emptied by compaction)") {
    val dir = Files.createTempDirectory("snap_ins").toString
    val cents = Ivf.centroids(emb, C)
    Ivf.writePartitionedWith(emb, cents, dir)
    // empty one whole cell, then compact
    val victim = Ivf.assignWith(emb, cents)
      .groupBy("cell").count().orderBy("count", "cell")
      .select(col("cell")).first().getLong(0)
    val victims = Ivf.assignWith(emb, cents).filter(col("cell") === victim).select("vec_id")
    Ivf.recordDeletes(spark, dir, victims)
    Ivf.compactPartitioned(spark, dir)
    val served = Ivf.readLayout(spark, dir).count()

    // re-insert rows that assign back to the emptied cell (their own
    // original rows — deterministic assignment sends them home)
    val back = emb.join(victims.withColumnRenamed("vec_id", "v"),
      col("vec_id") === col("v"), "left_semi")
    val nBack = back.count()
    assert(nBack > 0)
    Ivf.insertInto(spark, dir, back)
    val post = Ivf.readLayout(spark, dir)
    assert(post.count() === served + nBack, "inserted rows must be visible to snapshot reads")
    assert(post.select(col("cell").cast("long")).distinct()
      .collect().map(_.getLong(0)).contains(victim),
      "an emptied cell that receives inserts must rejoin the manifest")
  }

  test("random lifecycle (delete/compact/insert/vacuum) always matches the model") {
    // model-based check: after EVERY operation, the snapshot-resolved
    // layout content equals a driver-side model — hammers the manifest
    // transitions (chained compactions, emptied cells, re-populated
    // cells, vacuum interleavings) that example tests pick one path
    // through
    val rnd = new scala.util.Random(20260814L)
    val dir = Files.createTempDirectory("snap_model").toString
    def vecOf(i: Long): Array[Float] = {
      val r = new scala.util.Random(i); Array.fill(8)(r.nextFloat() * 10f)
    }
    var model: Set[Long] = (0L until 120L).toSet
    var nextId = 120L
    var tombs: Set[Long] = Set.empty
    val cents = Ivf.centroids(model.toSeq.sorted.map(i => (i, vecOf(i))).toDF("vec_id", "embedding"), C)
    Ivf.writePartitionedWith(
      model.toSeq.sorted.map(i => (i, vecOf(i))).toDF("vec_id", "embedding"), cents, dir)

    def layoutIds(): Set[Long] =
      Ivf.readLayout(spark, dir).select("vec_id").collect().map(_.getLong(0)).toSet
    def tombIds(): Set[Long] =
      graft.operators.Tombstones.ids(spark, dir)
        .map(_.collect().map(_.getLong(0)).toSet).getOrElse(Set.empty)

    for (step <- 1 to 14) {
      rnd.nextInt(4) match {
        case 0 if model.nonEmpty => // record a takedown batch
          val ids = rnd.shuffle(model.toSeq).take(1 + rnd.nextInt(8))
          Ivf.recordDeletes(spark, dir, ids.toDF("vec_id"))
          tombs ++= ids
        case 1 => // fold tombstones in
          Ivf.compactPartitioned(spark, dir)
          model --= tombs; tombs = Set.empty
        case 2 => // insert a fresh batch
          val ids = (nextId until nextId + 1 + rnd.nextInt(6)).toSeq
          nextId = ids.max + 1
          Ivf.insertInto(spark, dir, ids.map(i => (i, vecOf(i))).toDF("vec_id", "embedding"))
          model ++= ids
        case _ => // GC — semantically a no-op for the current snapshot
          Ivf.vacuumPartitioned(spark, dir)
      }
      assert(layoutIds() === model, s"layout diverged from model at step $step")
      assert(tombIds() === tombs, s"tombstones diverged from model at step $step")
    }
    // drain: compact everything and confirm the final state end-to-end
    Ivf.compactPartitioned(spark, dir)
    model --= tombs; tombs = Set.empty
    assert(layoutIds() === model)
    Ivf.vacuumPartitioned(spark, dir)
    assert(layoutIds() === model)
  }

  test("routed HNSW: a reader planned before compaction serves the pre-compaction graph; post-compaction reads are consistent") {
    val p = Hnsw.Params(efSearch = 256, numPartitions = 3)
    val cents = Ivf.kmeans(emb, 8, 2)
    val dir = Files.createTempDirectory("snap_routed").toString
    Hnsw.saveRouted(emb, cents, p, dir, replication = 2)

    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), perturbQuery(col("embedding")).as("query_vec"))
    def batch(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    val preReader = Hnsw.search(spark, dir, queries, 10, p, nprobe = 8)
    val expectedPre = batch(Hnsw.search(spark, dir, queries, 10, p, nprobe = 8))

    Tombstones.record(spark, dir, delIds.take(2).toDF("vec_id"))
    Hnsw.compactRouted(spark, dir, p)

    assert(batch(preReader) === expectedPre,
      "a routed reader planned before compaction must keep its consistent graph")

    // post-compaction: nodes and edges resolve at the SAME generation —
    // no deleted ids anywhere, adjacency consistent with membership
    val nodes = Hnsw.readRoutedNodes(spark, dir)
    val edges = Hnsw.readRoutedEdges(spark, dir)
    assert(nodes.filter(col("vec_id").isin(delIds.take(2): _*)).count() === 0)
    assert(edges.filter(col("src").isin(delIds.take(2): _*)
      || col("dst").isin(delIds.take(2): _*)).count() === 0)
    val post = batch(Hnsw.search(spark, dir, queries, 10, p, nprobe = 8))
    assert(post.nonEmpty && post.forall(r => !delIds.take(2).contains(r._2)))

    // routed time travel: the pinned version reproduces the
    // pre-vacuum node/edge sets, nodes and edges at the SAME version
    val v = CellSnapshot.version(spark, dir).get
    val nodesAtV = Hnsw.readRoutedNodesAt(spark, dir, v).count()
    val edgesAtV = Hnsw.readRoutedEdgesAt(spark, dir, v).count()
    assert(nodesAtV === nodes.count() && edgesAtV === edges.count())

    Hnsw.vacuumRouted(spark, dir)
    assert(batch(Hnsw.search(spark, dir, queries, 10, p, nprobe = 8)) === post,
      "vacuum must not change routed serving")
    assert(Hnsw.readRoutedNodesAt(spark, dir, v).count() === nodesAtV,
      "the current version survives vacuum")

    // retention policy on the routed layout: pin v, compact again,
    // retain — the pinned snapshot still time-travels bit-identically
    CellSnapshot.pin(spark, dir, v)
    Tombstones.record(spark, dir, delIds.drop(2).take(1).toDF("vec_id"))
    Hnsw.compactRouted(spark, dir, p)
    Hnsw.retainRouted(spark, dir)
    assert(Hnsw.readRoutedNodesAt(spark, dir, v).count() === nodesAtV,
      "a pinned routed version must survive retain")
    assert(Hnsw.readRoutedEdgesAt(spark, dir, v).count() === edgesAtV)
    CellSnapshot.unpin(spark, dir, v)
    Hnsw.retainRouted(spark, dir)
    intercept[IllegalArgumentException] { Hnsw.readRoutedNodesAt(spark, dir, v) }
  }

  test("IVF-PQ: a code-layout reader planned before compaction is isolated; compaction folds codes") {
    val cents = Ivf.centroids(emb, C)
    val books = Pq.codebooks(emb, m = 4, subDim = 2, c = 8, iters = 1)
    val dir = Files.createTempDirectory("snap_pq").toString
    Pq.ensureEncodedPartitioned(emb, cents, books, 4, 2, dir)

    val preReader = Pq.topK(spark, dir, oneQuery, 10, nprobe = C)
    val expectedPre = single(Pq.topK(spark, dir, oneQuery, 10, nprobe = C))

    Tombstones.record(spark, dir, delIds.toDF("vec_id"))
    Ivf.compactPartitioned(spark, dir) // code layout shares the cell lifecycle

    assert(single(preReader) === expectedPre,
      "a code-layout reader planned before compaction must keep its view")
    assert(Ivf.readLayout(spark, dir).filter(col("vec_id").isin(delIds: _*)).count() === 0)
    val post = single(Pq.topK(spark, dir, oneQuery, 10, nprobe = C))
    assert(post.nonEmpty && post.forall(r => !delIds.contains(r._1)))
  }

  private def fsBytes(dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).getContentSummary(p).getLength
  }
}
