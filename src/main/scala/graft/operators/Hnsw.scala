package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Portable

/** Distributed HNSW (Hierarchical Navigable Small World) approximate
  * nearest-neighbor index — the Spark-native re-expression of the
  * reference's `Hnsw` class (hnsw.cc:94-285).
  *
  * Design (SURVEY.md §7.4): the reference's `Insert` is inherently
  * sequential (every insert reads the graph built by all previous
  * inserts, hnsw.cc:147-215), so it cannot be a Catalyst operator.
  * Instead:
  *
  *  1. Level assignment is a pure column (`Portable.levelOf`, the
  *     portable-hash analog of `RandomLevel`, hnsw.cc:140-145) — narrow,
  *     no shuffle, deterministic across cluster sizes.
  *  2. Points are hash-partitioned by id; each partition builds an
  *     independent in-memory HNSW over its subset inside
  *     `mapPartitions` (shared-nothing, no global mutable state, no
  *     driver involvement). Emits an `edges(src, dst, layer, part)`
  *     DataFrame.
  *  3. Queries meet shards in one shuffle of the vectors keyed by
  *     shard and per-query top-k rows merge — no broadcast of the
  *     vector table, so the index can exceed driver RAM.
  *     [[searchTopK]] probes every shard (recall ≥ a single whole-set
  *     graph) through a cogroup with the queries replicated per shard,
  *     so nothing is collected and a corpus-sized query batch is
  *     served. [[searchRouted]] shards by IVF cell and probes only the
  *     nprobe nearest shards per query — O(nprobe) per query instead
  *     of O(P); its probes are planned on the driver (`Ivf`'s probe
  *     plan collects the query batch, which must fit there) and the
  *     per-shard query lists are broadcast, so only the vectors shuffle.
  *  4. Both shapes persist as one on-disk layout: `nodes` + `edges`
  *     trees partitioned by `part` (hash shard or IVF cell), published
  *     through [[CellSnapshot]] manifests, with routing `centroids`
  *     beside them when the shards are cells. [[search]] is the one
  *     serve over it — the reference's long-lived `Hnsw` object
  *     answering every `FindNearest` (hnsw.cc:114-137) — and the
  *     layout decides exhaustive or routed fan-out; [[insertInto]],
  *     [[compactRouted]] and [[vacuumRouted]] maintain it.
  *
  * The in-partition algorithm is the *paper* algorithm, deliberately
  * fixing the reference's two recall bugs (SURVEY.md §1.4.3-4): search
  * uses an ef-bounded best-first beam with a visited set (the reference
  * hill-climbs greedily and re-visits, hnsw.cc:247-259, recall@1≈0.30),
  * and neighbor lists are degree-capped with closest-first shrink (the
  * reference grows degree unboundedly, hnsw.cc:195-211). The recall
  * harness (`q_knn_recall` + HnswSpec) measures the improvement against
  * the exact-kNN oracle.
  */
object Hnsw {

  /** Index parameters. `m`: out-degree target per insert; `maxM`: hard
    * degree cap after shrink; `efConstruction`/`efSearch`: beam widths;
    * `maxLevel`: level clamp (hnsw.cc:124-126 semantics);
    * `maxShardRows`: fail-fast budget on rows buffered per BUILD TASK —
    * a task's shards' vectors and adjacency must fit its heap (size it
    * to executorHeap / (dim·4B·~3)), and crossing the budget raises a
    * sizing error instead of an OOM mid-build. Per task, not per shard:
    * hash partitioning can land several shards in one task, and it is
    * their sum that occupies the heap.
    */
  /** `diversify`: opt-in SELECT-NEIGHBORS-HEURISTIC (Malkov & Yashunin
    * 2018, Alg. 4) for neighbor selection and degree-cap shrink — a
    * candidate is kept only if it is closer to the base point than to
    * every already-kept neighbor, spreading a node's edge budget across
    * directions/clusters instead of filling it inside one blob (the
    * known recall-per-edge win on clustered real-embedding geometry;
    * pruned slots refill closest-first, the keepPrunedConnections
    * variant, so degree never drops below budget). Deterministic: the
    * candidate scan is (dist, node-index)-ordered. Off by default — the
    * closest-first baseline is the reference-faithful shape.
    */
  case class Params(
      m: Int = 8,
      maxM: Int = 12,
      efConstruction: Int = 64,
      efSearch: Int = 64,
      maxLevel: Int = 4,
      numPartitions: Int = 4,
      maxShardRows: Int = 2000000,
      diversify: Boolean = false)

  // ------------------------------------------------------------------
  // In-partition graph (plain arrays; lives only inside a task)
  // ------------------------------------------------------------------

  /** One partition's HNSW over plain primitive arrays. Deterministic:
    * insertion order is the caller's sorted order, all ties break by
    * node index.
    */
  private[operators] final class LocalGraph(p: Params) {
    private val vecs = mutable.ArrayBuffer.empty[Array[Float]]
    private[operators] val ids = mutable.ArrayBuffer.empty[Long]
    private val levels = mutable.ArrayBuffer.empty[Int]
    // result-eligibility per node (filtered ANN): ineligible nodes are
    // traversed — they keep the graph navigable — but never returned
    private val elig = mutable.ArrayBuffer.empty[Boolean]
    // adjacency(node)(layer) = neighbor node indices
    private val adj = mutable.ArrayBuffer.empty[Array[mutable.ArrayBuffer[Int]]]
    private var entry: Int = -1

    def size: Int = vecs.length

    private def dist(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
      math.sqrt(s)
    }

    /** Best-first ef-bounded search on one layer from entry points.
      * `filtered = true` restricts RESULT admission to eligible nodes
      * while traversal still walks every admitted candidate (the
      * hnswlib filtered-search shape: ineligible nodes stay navigable
      * bridges, so a selective predicate cannot disconnect the beam).
      */
    private def searchLayer(q: Array[Float], eps: Seq[Int], ef: Int, layer: Int,
                            filtered: Boolean = false): mutable.PriorityQueue[(Double, Int)] = {
      val visited = mutable.BitSet.empty
      // candidates: nearest first; results: farthest first (bounded by ef)
      val cand = mutable.PriorityQueue.empty[(Double, Int)](Ordering.by[(Double, Int), (Double, Int)](t => (-t._1, -t._2)))
      val res = mutable.PriorityQueue.empty[(Double, Int)](Ordering.by[(Double, Int), (Double, Int)](t => (t._1, t._2)))
      eps.foreach { e =>
        if (!visited(e)) {
          visited += e
          val d = dist(q, vecs(e))
          cand.enqueue((d, e))
          if (!filtered || elig(e)) res.enqueue((d, e))
        }
      }
      while (res.size > ef) res.dequeue()
      while (cand.nonEmpty) {
        val (dc, c) = cand.dequeue()
        if (res.nonEmpty && dc > res.head._1 && res.size >= ef) {
          cand.clear() // nearest candidate is farther than the worst kept result
        } else {
          adj(c)(layer).foreach { n =>
            if (!visited(n)) {
              visited += n
              val d = dist(q, vecs(n))
              if (res.size < ef || d < res.head._1) {
                cand.enqueue((d, n))
                if (!filtered || elig(n)) {
                  res.enqueue((d, n))
                  if (res.size > ef) res.dequeue()
                }
              }
            }
          }
        }
      }
      res
    }

    /** SELECT-NEIGHBORS-HEURISTIC (Malkov & Yashunin, Alg. 4): scan
      * candidates closest-first (ties by node index — deterministic)
      * and keep a candidate only if it is closer to `base` than to
      * every already-kept neighbor. Slots left by pruning refill with
      * the closest rejected candidates (keepPrunedConnections), so the
      * selected degree equals `math.min(m, candidates)` like the
      * closest-first baseline — only the SPREAD differs.
      */
    private def selectDiverse(base: Array[Float], cands: Seq[Int], m: Int)
        : mutable.ArrayBuffer[Int] = {
      val sorted = cands.map(x => (dist(base, vecs(x)), x)).sorted
      val kept = mutable.ArrayBuffer.empty[Int]
      val rejected = mutable.ArrayBuffer.empty[Int]
      val it = sorted.iterator
      while (it.hasNext && kept.length < m) {
        val (dq, e) = it.next()
        val ev = vecs(e)
        var diverse = true
        var j = 0
        while (diverse && j < kept.length) {
          if (dist(ev, vecs(kept(j))) < dq) diverse = false
          j += 1
        }
        if (diverse) kept += e else rejected += e
      }
      var r = 0
      while (kept.length < m && r < rejected.length) { kept += rejected(r); r += 1 }
      kept
    }

    /** Insert one point with its preassigned level. */
    def insert(id: Long, vec: Array[Float], level: Int, eligible: Boolean = true): Unit = {
      val idx = vecs.length
      vecs += vec; ids += id; levels += level; elig += eligible
      adj += Array.fill(level + 1)(mutable.ArrayBuffer.empty[Int])
      if (entry < 0) { entry = idx; return }

      var ep = entry
      val topLevel = levels(entry)
      // greedy descent above the insert level (hnsw.cc:151-161 analog)
      var layer = topLevel
      while (layer > level) {
        val r = searchLayer(vec, Seq(ep), 1, math.min(layer, levels(ep)))
        if (r.nonEmpty) ep = r.minBy(t => (t._1, t._2))._2
        layer -= 1
      }
      // beam insert on layers min(level, topLevel)..0 (hnsw.cc:169-213 analog)
      var eps = Seq(ep)
      layer = math.min(level, topLevel)
      while (layer >= 0) {
        val res = searchLayer(vec, eps, p.efConstruction, layer).toSeq
        val closest = res.sortBy(t => (t._1, t._2)).map(_._2)
        val neighbors =
          if (p.diversify) selectDiverse(vec, closest, p.m).toSeq
          else closest.take(p.m)
        neighbors.foreach { n =>
          adj(idx)(layer) += n
          adj(n)(layer) += idx
          // degree cap (absent in reference): closest-first shrink, or
          // the diversity heuristic when opted in
          if (adj(n)(layer).length > p.maxM) {
            val nv = vecs(n)
            adj(n)(layer) =
              if (p.diversify) selectDiverse(nv, adj(n)(layer).toSeq, p.maxM)
              else adj(n)(layer)
                .map(x => (dist(nv, vecs(x)), x))
                .sortBy(identity)
                .take(p.maxM)
                .map(_._2)
          }
        }
        eps = closest.take(p.efConstruction)
        layer -= 1
      }
      if (level > levels(entry)) entry = idx
    }

    /** Top-k ANN query: greedy descent to layer 1, beam at layer 0.
      * `filtered = true` returns only result-eligible nodes (descent is
      * always unfiltered — upper layers are pure navigation).
      */
    def search(q: Array[Float], k: Int, filtered: Boolean = false): Seq[(Long, Double)] = {
      if (entry < 0) return Nil
      var ep = entry
      var layer = levels(entry)
      while (layer > 0) {
        val r = searchLayer(q, Seq(ep), 1, layer)
        if (r.nonEmpty) ep = r.minBy(t => (t._1, t._2))._2
        layer -= 1
      }
      searchLayer(q, Seq(ep), math.max(p.efSearch, k), 0, filtered)
        .toSeq.sortBy(t => (t._1, t._2)).take(k)
        .map { case (d, i) => (ids(i), d) }
    }

    /** All (src, dst, layer) edges, by external ids. */
    def edges: Iterator[(Long, Long, Int)] =
      adj.indices.iterator.flatMap { i =>
        adj(i).indices.iterator.flatMap { l =>
          adj(i)(l).iterator.map(j => (ids(i), ids(j), l))
        }
      }

    // -- direct loading from a persisted index (no re-insertion) --

    /** Append a node without linking. Load in ascending id order so the
      * entry point (first node reaching the max level) matches the one
      * the insert path would have selected.
      */
    def loadNode(id: Long, vec: Array[Float], level: Int, eligible: Boolean = true): Unit = {
      val idx = vecs.length
      vecs += vec; ids += id; levels += level; elig += eligible
      adj += Array.fill(level + 1)(mutable.ArrayBuffer.empty[Int])
      if (entry < 0 || level > levels(entry)) entry = idx
    }

    /** Append one directed adjacency edge by node indices. */
    def loadEdge(srcIdx: Int, dstIdx: Int, layer: Int): Unit =
      adj(srcIdx)(layer) += dstIdx
  }

  // ------------------------------------------------------------------
  // Distributed build
  // ------------------------------------------------------------------

  private def levelColumn(p: Params) =
    Portable.levelOf(col("vec_id"), p.m, p.maxLevel)

  /** Build per-partition subgraphs over `embeddings(vec_id, embedding)`.
    * Returns `edges(part, src, dst, layer)`. Deterministic: partition =
    * id mod P (not hashpartitioning of the JVM), insert order = id order
    * within each partition.
    */
  def buildEdges(embeddings: DataFrame, p: Params): DataFrame =
    buildEdgesBy(embeddings
      .select(col("vec_id"), col("embedding"), levelColumn(p).as("level"),
        pmod(col("vec_id"), lit(p.numPartitions)).cast("int").as("part")), p)

  /** [[buildEdges]] over an EXPLICIT shard layout: `prepared(vec_id,
    * embedding, level, part)` with any part assignment (hash shards,
    * IVF cells, …). One independent graph per part value.
    */
  def buildEdgesBy(prepared0: DataFrame, p: Params): DataFrame = {
    val spark = prepared0.sparkSession
    // no sortWithinPartitions: the per-part in-memory sort below is the
    // one that establishes insert order — a Tungsten sort here would be
    // paid and then discarded by the groupBy
    // repartition on the part value (task count = shuffle.partitions;
    // results don't depend on task placement — each task groups by the
    // part VALUE below, so any part→task assignment builds identical
    // graphs)
    val prepared = prepared0
      .select(col("vec_id"), col("embedding"), col("level"), col("part"))
      .repartition(col("part"))
    val outSchema = StructType(Seq(
      StructField("part", IntegerType, nullable = false),
      StructField("src", LongType, nullable = false),
      StructField("dst", LongType, nullable = false),
      StructField("layer", IntegerType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    prepared.mapPartitions { rows =>
      // A task can receive several `part` values (hash partitioning of
      // the part column does not biject values onto task ids) — build
      // one independent graph per part so the shard layout is exactly
      // `vec_id % numPartitions` everywhere (build, search, reload).
      // Buffering is incremental so an oversized shard fails fast at the
      // row that crosses `maxShardRows`, not with an OOM after
      // materializing the rest.
      val byPart = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Row]]
      var buffered = 0
      rows.foreach { r =>
        // The budget bounds the TASK's total buffered rows, not each
        // per-part buffer: several near-budget shards co-located in one
        // task would otherwise OOM without ever tripping the guard.
        if (buffered >= p.maxShardRows)
          throw new IllegalStateException(
            s"HNSW build task exceeds maxShardRows=${p.maxShardRows} rows " +
              "buffered across its shards: raise spark.sql.shuffle.partitions " +
              "(more tasks) or Params.numPartitions (smaller shards), or raise " +
              "the budget, so each task's vectors + adjacency fit its heap")
        buffered += 1
        val part = r.getAs[Int]("part")
        byPart.getOrElseUpdate(part, mutable.ArrayBuffer.empty[Row]) += r
      }
      byPart.iterator.flatMap { case (part, group) =>
        val g = new LocalGraph(p)
        group.sortBy(_.getAs[Long]("vec_id")).foreach { r =>
          g.insert(r.getAs[Long]("vec_id"), r.getAs[Seq[Float]]("embedding").toArray,
            r.getAs[Int]("level"))
        }
        g.edges.map { case (s, d, l) => Row(part, s, d, l) }
      }
    }(enc)
  }

  /** One tagged shard record: `(part, isNode, a, b, c, vec)` — a node
    * `(part, true, vec_id, eligible(0|1), level, embedding)` or a stored
    * adjacency edge `(part, false, src, dst, layer, empty)`. The union
    * shape lets one shuffle carry both the vectors and (for persisted
    * indexes) the adjacency of a shard; the node `b` slot carries the
    * filtered-ANN result eligibility (1 everywhere when unfiltered).
    */
  private type ShardRec = (Int, Boolean, Long, Long, Int, Array[Float])

  /** Build (`rebuild = true`: re-insert, recreating adjacency
    * deterministically from scratch) or load (`false`: stored nodes +
    * edges in O(edges)) ONE shard's LocalGraph from its records.
    */
  private def shardGraph(recs: Array[ShardRec], p: Params, rebuild: Boolean): LocalGraph = {
    val g = new LocalGraph(p)
    val nodes = recs.filter(_._2).sortBy(_._3) // id order = insert/load order
    if (rebuild) nodes.foreach { r => g.insert(r._3, r._6, r._5, r._4 != 0L) }
    else {
      val idxOf = new mutable.LongMap[Int]()
      nodes.foreach { r => idxOf(r._3) = g.size; g.loadNode(r._3, r._6, r._5, r._4 != 0L) }
      recs.foreach { r => if (!r._2) g.loadEdge(idxOf(r._3), idxOf(r._4), r._5) }
    }
    g
  }

  /** Per-query/per-shard `(query_id, vec_id, d)` rows merged to a
    * global top-k with one window keyed by query (k·shards rows per
    * query in, k out).
    */
  private def mergeTopK(perShard: org.apache.spark.sql.Dataset[(Long, Long, Double)],
                        k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("d"), col("vec_id"))
    perShard.toDF("query_id", "vec_id", "d")
      // replicated layouts (searchRouted r>1) can return the same vector
      // from several probed shards — collapse before ranking so dupes
      // don't occupy top-k slots (d is identical across shards: same
      // floats, same deterministic arithmetic)
      .groupBy("query_id", "vec_id").agg(min(col("d")).as("d"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("vec_id"), round(col("d"), 6).as("dist"))
  }

  /** The exhaustive scale path: shard records cogrouped with every
    * query replicated to every shard. Each task materializes ONE
    * shard's payload, builds (or loads) its LocalGraph, and streams its
    * queries through it — no driver collect, no broadcast of the vector
    * table; vectors move through exactly one shuffle keyed by shard,
    * queries through one shuffle keyed by shard, so a query batch as
    * large as the corpus is served. Every shard sees the whole batch,
    * so each one refuses a repeated `query_id` as it streams the ids
    * (the probe plan's rule, at no extra job).
    */
  private def searchCogrouped(
      recs: org.apache.spark.sql.Dataset[ShardRec],
      qrep: org.apache.spark.sql.Dataset[(Int, Long, Array[Double])],
      k: Int, p: Params, rebuild: Boolean, filtered: Boolean = false): DataFrame = {
    val spark = recs.sparkSession
    import spark.implicits._
    mergeTopK(recs.groupByKey(_._1).cogroup(qrep.groupByKey(_._1)) { (_, rs, qs) =>
      if (!qs.hasNext) Iterator.empty // unprobed shard: skip the build
      else {
        val g = shardGraph(rs.toArray, p, rebuild)
        val seen = mutable.HashSet.empty[Long]
        qs.flatMap { case (_, qid, qv) =>
          require(seen.add(qid),
            s"duplicate query_id in the query batch: query_id $qid appears more than once")
          g.search(qv.map(_.toFloat), k, filtered).map { case (id, d) => (qid, id, d) }
        }
      }
    }, k)
  }

  /** The routed scale path: shard records meet the queries probing
    * them. `qByPart` (part → its `(query_id, query_vec)` list, from
    * `Ivf`'s driver-side probe plan) is broadcast; the records are
    * pruned to the probed parts and move through ONE shuffle in which
    * every probed part owns its own shuffle partition
    * (`repartitionById`), so a task holds exactly one shard — the
    * cogroup's memory bound — builds (or loads) its LocalGraph and
    * streams that part's queries through it. No query exchange, no
    * cogroup sort, no broadcast of the vector table; the query batch
    * itself is collected to the driver, so it must fit there.
    */
  private def searchProbed(
      recs: org.apache.spark.sql.Dataset[ShardRec],
      qByPart: Map[Int, Array[(Long, Array[Double])]],
      k: Int, p: Params, rebuild: Boolean, filtered: Boolean = false): DataFrame = {
    val spark = recs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(qByPart)
    val parts = qByPart.keys.toSeq.sorted
    val part = col(recs.columns.head)
    mergeTopK(recs
      .filter(part.isin(parts: _*)) // unprobed shards: never read
      .repartitionById(parts.length.max(1), element_at(typedLit(parts.zipWithIndex.toMap), part))
      .mapPartitions { rows =>
        rows.toArray.groupBy(_._1).iterator.flatMap { case (pt, rs) =>
          val g = shardGraph(rs, p, rebuild)
          bc.value(pt).iterator.flatMap { case (qid, qv) =>
            g.search(qv.map(_.toFloat), k, filtered).map { case (id, d) => (qid, id, d) }
          }
        }
      }, k)
  }

  /** Node records for the hash-sharded layout (`part = vec_id mod P`,
    * the layout [[buildEdges]]/[[save]] use). Levels are recomputed from
    * ids — a pure function of id.
    */
  private def nodeRecs(embeddings: DataFrame, p: Params) = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    embeddings.select(
        pmod(col("vec_id"), lit(p.numPartitions)).cast("int").as("part"),
        lit(true).as("is_node"),
        col("vec_id"), lit(1L).as("b"), levelColumn(p).as("level"), col("embedding"))
      .as[ShardRec]
  }

  /** Replicate every query to every shard (exhaustive probe). */
  private def replicateAll(queries: DataFrame, numParts: Int) = {
    val spark = queries.sparkSession
    import spark.implicits._
    queries
      .crossJoin(broadcast(spark.range(numParts).select(col("id").cast("int").as("part"))))
      .select(col("part"), col("query_id"), col("query_vec"))
      .as[(Int, Long, Array[Double])]
  }

  /** Each query on its `nprobe` nearest cells by centroid distance
    * (`Ivf`'s driver-side probe plan) — the O(nprobe)-per-query
    * fan-out shared by the rebuilt ([[searchRouted]]) and persisted
    * ([[search]] on a routed layout) paths.
    */
  private def routed(queries: DataFrame, centroids: CellSnapshot.Collected, nprobe: Int)
      : Map[Int, Array[(Long, Array[Double])]] =
    Ivf.probePlanOver(centroids, queries, nprobe).byCell.map { case (c, qs) => c.toInt -> qs }

  /** Search by rebuilding shard subgraphs executor-side and fanning
    * every query out to every shard — the queries×shards shuffle form
    * (no driver collect; see [[searchCogrouped]]). Recall of the merged
    * result is at least that of a single whole-set graph, because each
    * shard search is an independent chance to find each true neighbor.
    * For sublinear per-query cost at many shards, use [[searchRouted]].
    */
  def searchTopK(embeddings: DataFrame, queries: DataFrame, k: Int, p: Params): DataFrame =
    searchCogrouped(nodeRecs(embeddings, p), replicateAll(queries, p.numPartitions),
      k, p, rebuild = true)

  /** Persist the EXHAUSTIVE (hash-sharded) index as two Parquet trees
    * partitioned by shard: `nodes(vec_id, embedding, level, part)` +
    * `edges(src, dst, layer, part)` — the relational encoding of the
    * reference's pointer graph (SURVEY.md §1.1), and the same layout
    * [[saveRouted]] writes minus the routing centroids. [[search]] then
    * serves queries without rebuilding; every maintenance op that
    * touches a subset of shards ([[insertInto]], [[compactRouted]]) is a
    * partition-pruned read plus one [[CellSnapshot]] generation.
    */
  def save(embeddings: DataFrame, p: Params, dir: String): Unit = {
    val spark = embeddings.sparkSession
    embeddings
      .select(col("vec_id"), col("embedding"), levelColumn(p).as("level"),
        pmod(col("vec_id"), lit(p.numPartitions)).cast("int").as("part"))
      .write.mode("overwrite").partitionBy("part").parquet(s"$dir/nodes")
    buildEdges(embeddings, p)
      .write.mode("overwrite").partitionBy("part").parquet(s"$dir/edges")
    // a full rebuild supersedes any snapshot lineage at this dir, and
    // any routing a routed layout left there (see [[search]])
    CellSnapshot.reset(spark, dir)
    val cents = new org.apache.hadoop.fs.Path(s"$dir/centroids")
    cents.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(cents, true)
  }

  /** Stored adjacency rows as tagged shard records. */
  private def edgeRecs(edges: DataFrame): org.apache.spark.sql.Dataset[ShardRec] = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select(
        col("part").cast("int").as("part"), lit(false).as("is_node"),
        col("src"), col("dst"), col("layer"),
        lit(Array.empty[Float]).as("embedding"))
      .as[ShardRec]
  }

  /** [[save]] once per content of `embeddings` and `p`
    * ([[IndexMeta.ensure]]), then [[search]] serves it. This is how a
    * serving pipeline amortizes the build the way the reference does
    * (its `Hnsw` object outlives every `FindNearest`, hnsw.cc:114-137):
    * build once, serve many batches.
    */
  def ensureSaved(embeddings: DataFrame, p: Params, dir: String): Unit =
    IndexMeta.ensure(dir, s"p=$p", embeddings)(save(embeddings, p, dir))

  private def exists(spark: org.apache.spark.sql.SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  // ------------------------------------------------------------------
  // Serving and incremental insert (reference FindNearest / Insert,
  // hnsw.cc:114-215)
  // ------------------------------------------------------------------

  /** THE persisted HNSW serve: per-query top-k `(query_id, vec_id,
    * dist)` of `queries(query_id, query_vec)` from the layout at `dir`
    * ([[save]] or [[saveRouted]]), each probed shard's graph loaded from
    * its stored adjacency in O(edges) — nothing is rebuilt.
    *
    * The layout decides the fan-out. One that carries routing
    * `centroids` probes each query's `nprobe` nearest cells
    * ([[searchProbed]]; the probe plan collects the batch, which must
    * fit on the driver). Any other meets every query at every hash
    * shard in the queries×shards cogroup ([[searchCogrouped]]), so a
    * corpus-sized batch never reaches the driver, and `nprobe` is
    * unused. Both refuse a repeated `query_id`. `p` is the build's.
    *
    * Nodes, edges and centroids resolve against ONE manifest version:
    * a maintenance op publishing between independent reads must never
    * hand a query a cross-version node/edge mix or new routing over old
    * shards. The layout's tombstones ([[Tombstones]]) and `predicate`
    * (over the stored node columns; filtered ANN) mark nodes
    * INELIGIBLE: still loaded and traversed — removing them would sever
    * edges and strand regions — but never returned. A takedown
    * therefore reaches serving immediately, with no shard rewrite.
    */
  def search(spark: org.apache.spark.sql.SparkSession, dir: String, queries: DataFrame,
             k: Int, p: Params, nprobe: Int = 0,
             predicate: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    import spark.implicits._
    val snap = CellSnapshot.open(spark, dir)
    val (nodes, edges) = (snap.read("nodes", "part"), snap.read("edges", "part"))
    val tombs = snap.tombstones
    val marked = tombs.fold(nodes)(t =>
      nodes.join(broadcast(t.withColumn("__tomb", lit(true))), Seq("vec_id"), "left"))
    val eligible = (predicate.toSeq ++ tombs.map(_ => col("__tomb").isNull)).reduceOption(_ && _)
    val recs = marked
      .select(col("part"), lit(true).as("is_node"), col("vec_id"),
        eligible.fold(lit(1L))(e => when(e, 1L).otherwise(0L)).as("b"),
        col("level"), col("embedding"))
      .as[ShardRec]
      .union(edgeRecs(edges))
    snap.centroids("centroids") match {
      case Some(cents) =>
        require(nprobe > 0, s"$dir is a routed layout: Hnsw.search needs nprobe >= 1")
        searchProbed(recs, routed(queries, cents, nprobe), k, p, rebuild = false,
          filtered = eligible.isDefined)
      case None => searchCogrouped(recs, replicateAll(queries, p.numPartitions), k, p,
        rebuild = false, filtered = eligible.isDefined)
    }
  }

  /** [[search]] under its former routed name, kept for callers outside
    * `src` (the benchmark).
    */
  def searchRoutedWithIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                            queries: DataFrame, k: Int, p: Params, nprobe: Int,
                            predicate: Option[org.apache.spark.sql.Column] = None): DataFrame =
    search(spark, dir, queries, k, p, nprobe, predicate)

  /** Incremental APPEND into an exhaustive layout ([[save]]): the
    * batch's `rows(vec_id, embedding)` route to their hash shards, ONLY
    * the affected shards load their stored graphs (O(edges) — existing
    * points are not re-inserted) and take the new vectors through the
    * normal beam-insert path, and those shards' nodes and edges are
    * written as one new [[CellSnapshot]] generation published by a
    * single manifest flip. Untouched shards' files are not touched and
    * stay referenced by the manifest, so a batch costs O(batch·ef +
    * affected shard edges), not a full rebuild, and a reader keeps the
    * version it resolved. A dir with no index yet is built by [[save]]
    * from the batch. The source fingerprint is invalidated: the grown
    * layout no longer derives from its source.
    */
  def insertInto(spark: org.apache.spark.sql.SparkSession, dir: String, rows: DataFrame,
                 p: Params): Unit = {
    import spark.implicits._
    if (!exists(spark, s"$dir/edges/_SUCCESS")) return save(rows, p, dir)
    val fresh = rows
      .select(pmod(col("vec_id"), lit(p.numPartitions)).cast("int").as("part"),
        col("vec_id"), levelColumn(p).as("level"), col("embedding"))
      .as[(Int, Long, Int, Array[Float])]
    // affected shard ids: O(P) ints to the driver — partition-filter
    // and manifest-delta formation
    val affected = fresh.select(col("part")).distinct().as[Int].collect().toSeq
    if (affected.isEmpty) return
    val snap = CellSnapshot.open(spark, dir)
    val (v, m) = snap.mappingOrBase("nodes", "part")
    def stored(sub: String) = snap.read(sub, "part")
      .filter(col("part").isin(affected: _*)) // partition-pruned
    val nodes = stored("nodes").select(col("vec_id"), col("embedding"), col("level"),
      col("part").cast("int").as("part"))
    val recs = nodes
      .select(col("part"), lit(true).as("is_node"), col("vec_id"), lit(1L).as("b"),
        col("level"), col("embedding"))
      .as[ShardRec]
      .union(edgeRecs(stored("edges")))
    val edges = recs.groupByKey(_._1).cogroup(fresh.groupByKey(_._1)) { (part, rs, fr) =>
      val g = shardGraph(rs.toArray, p, rebuild = false)
      fr.toArray.sortBy(_._2).foreach { n => g.insert(n._2, n._4, n._3) }
      g.edges.map { case (s, d, l) => (part, s, d, l) }
    }.toDF("part", "src", "dst", "layer")
    val g = v + 1
    nodes.unionByName(fresh.toDF("part", "vec_id", "level", "embedding"))
      .write.mode("overwrite").partitionBy("part").parquet(CellSnapshot.genRoot(dir, "nodes", g))
    edges.write.mode("overwrite").partitionBy("part")
      .parquet(CellSnapshot.genRoot(dir, "edges", g))
    CellSnapshot.publish(spark, dir, g, m ++ affected.map(_.toLong -> g))
    IndexMeta.invalidate(spark, dir)
  }

  /** ROUTED search over a semantically-sharded layout: shards are IVF
    * cells of the (k-means-refined) `centroids` table instead of hash
    * buckets, and each query probes only its `nprobe` nearest shards by
    * centroid distance. Per-query cost is O(nprobe), independent of the
    * total shard count — the missing sublinearity of the exhaustive
    * fan-out (hash shards are statistically identical, so routing can
    * only discriminate when the sharding is semantic).
    *
    * `centroids` is `(centroid_id, centroid_vec)` with centroid_id in
    * `[0, C)` — see [[Ivf.kmeans]]. `replication` posts each vector to
    * its r nearest cells (SPANN-style boundary replication): without
    * it, neighbors sitting just across a Voronoi face are unreachable
    * and recall collapses (measured 0.78 at r=1 vs ≥0.95 at r=2 on the
    * driver corpus). Sublinearity requires C ≫ nprobe·r — at test scale
    * C is small, so the win here is structural (per-query work is
    * nprobe cells regardless of C), not yet a big constant.
    */
  def searchRouted(embeddings: DataFrame, queries: DataFrame, k: Int, p: Params,
                   centroids: DataFrame, nprobe: Int, replication: Int = 2): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val recs = embeddings
      .join(Ivf.assignMulti(embeddings, centroids, replication), Seq("vec_id"))
      .select(col("cell").cast("int").as("part"), lit(true).as("is_node"),
        col("vec_id"), lit(1L).as("b"), levelColumn(p).as("level"), col("embedding"))
      .as[ShardRec]
    searchProbed(recs, routed(queries, CellSnapshot.Collected.of(centroids), nprobe), k, p,
      rebuild = true)
  }

  /** Persist the ROUTED (IVF-cell-sharded) index: `nodes(part, vec_id,
    * embedding, level)` carry their cell assignment (with SPANN
    * replication a vector appears in r cells), `edges` hold one
    * independent HNSW per cell, and the routing `centroids` ride along
    * in the same dir. [[search]] then serves query batches with NO
    * k-means, NO assignment pass and NO graph construction — the
    * reference's long-lived `Hnsw` object (hnsw.cc:114-137), as
    * on-disk state.
    */
  def saveRouted(embeddings: DataFrame, cents: DataFrame, p: Params, dir: String,
                 replication: Int = 2): Unit = {
    val assigned = embeddings
      .join(Ivf.assignMulti(embeddings, cents, replication), Seq("vec_id"))
      .select(col("cell").cast("int").as("part"), col("vec_id"),
        col("embedding"), levelColumn(p).as("level"))
    // stored partitionBy(part): maintenance reads partition-prune and
    // [[compactRouted]] can swap single cells without touching the rest
    assigned.write.mode("overwrite").partitionBy("part").parquet(s"$dir/nodes")
    buildEdgesBy(assigned, p).write.mode("overwrite").partitionBy("part").parquet(s"$dir/edges")
    // a full rebuild supersedes any snapshot lineage from a previous
    // routed index at this dir (see CellSnapshot.reset)
    CellSnapshot.reset(embeddings.sparkSession, dir)
    cents.write.mode("overwrite").parquet(s"$dir/centroids")
  }

  /** Snapshot-resolved reads of a persisted layout's live node/edge
    * rows (routed or exhaustive — both store `part`) — the read path
    * for maintenance. Before the first publish these are plain
    * `spark.read.parquet` (identical plans); after one they resolve the
    * shared [[CellSnapshot]] manifest (ONE manifest governs both trees,
    * so nodes and edges can never be read at different generations).
    */
  def readRoutedNodes(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    CellSnapshot.read(spark, dir, "nodes", "part")

  def readRoutedEdges(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    CellSnapshot.read(spark, dir, "edges", "part")

  /** TIME-TRAVEL reads of a routed index AS OF published snapshot
    * `version` (`Ivf.readLayoutAt`'s routed twin): nodes and edges
    * resolve the SAME versioned manifest, so the graph is consistent
    * at any pinned version until [[vacuumRouted]] reclaims it.
    */
  def readRoutedNodesAt(spark: org.apache.spark.sql.SparkSession, dir: String,
                        version: Int): DataFrame =
    CellSnapshot.readAt(spark, dir, "nodes", "part", version)

  def readRoutedEdgesAt(spark: org.apache.spark.sql.SparkSession, dir: String,
                        version: Int): DataFrame =
    CellSnapshot.readAt(spark, dir, "edges", "part", version)

  /** Reclaim subtrees superseded by [[compactRouted]], [[insertInto]]
    * or [[insertIntoRouted]] (either layout shape) — safe once no
    * reader still serves a pre-vacuum snapshot.
    */
  def vacuumRouted(spark: org.apache.spark.sql.SparkSession, dir: String,
                   keep: Int = 1): Unit =
    CellSnapshot.vacuum(spark, dir, Seq("nodes", "edges"), "part", keep)

  /** Policy-driven GC for a routed layout ([[CellSnapshot.retain]]):
    * keep current + pinned + younger-than-maxAge versions — the routed
    * twin of `Ivf.retainPartitioned`.
    */
  def retainRouted(spark: org.apache.spark.sql.SparkSession, dir: String,
                   maxAge: java.time.Duration = java.time.Duration.ZERO): Unit =
    CellSnapshot.retain(spark, dir, Seq("nodes", "edges"), "part", maxAge)

  /** Fold the tombstones into a persisted layout, routed
    * ([[saveRouted]]) or exhaustive ([[save]]): ONLY the cells or hash
    * shards (`part=` subtrees) holding deleted rows are rebuilt — a
    * deletion invalidates its cell's adjacency, so those cells
    * re-insert their remaining rows from scratch (same determinism as
    * a fresh build). The rebuilt node AND edge subtrees are written as
    * one new immutable [[CellSnapshot]] generation and published by a
    * single atomic manifest flip — no published file is ever deleted
    * or renamed, so a reader that planned against the previous
    * snapshot keeps a consistent index (nodes and edges at the SAME
    * generation, no missing cells) while compaction runs; superseded
    * subtrees are reclaimed by [[vacuumRouted]]. Every other cell's
    * node and edge files are not touched at all — compaction I/O is
    * proportional to the AFFECTED cells (deleted ids live in
    * ≤ replication·|tombstones| of them), never to the index size.
    * The sidecar is cleared and the source fingerprint invalidated —
    * same contract as `Ivf.compactPartitioned`: the compacted layout
    * no longer derives from its source, and a later
    * `ensureSavedRouted` against the UNCHANGED source rebuilds in full
    * (the takedown pipeline must also clean the source of record).
    */
  def compactRouted(spark: org.apache.spark.sql.SparkSession, dir: String,
                    p: Params): Unit = {
    val snap = CellSnapshot.open(spark, dir)
    val dels = snap.tombstones.getOrElse(return)
    val nodes = snap.read("nodes", "part")
    // affected cell ids: ≤ replication·|tombstones| ints to the driver
    // (partition-filter + manifest-delta formation)
    val affected = nodes.join(broadcast(dels.select("vec_id")), Seq("vec_id"), "left_semi")
      .select(col("part").cast("long")).distinct().collect().map(_.getLong(0))
    if (affected.nonEmpty) {
      val kept = nodes.filter(col("part").isin(affected.toIndexedSeq: _*)) // partition-pruned
        .join(broadcast(dels.select("vec_id")), Seq("vec_id"), "left_anti")
        .select(col("part").cast("int").as("part"), col("vec_id"),
          col("embedding"), col("level"))
      val (v, m) = snap.mappingOrBase("nodes", "part")
      val g = v + 1
      kept.write.mode("overwrite").partitionBy("part")
        .parquet(CellSnapshot.genRoot(dir, "nodes", g))
      buildEdgesBy(kept, p).write.mode("overwrite").partitionBy("part")
        .parquet(CellSnapshot.genRoot(dir, "edges", g))
      // a part whose every row was deleted has no staged subtree and
      // simply leaves the manifest
      val survived = CellSnapshot.listParts(spark,
        CellSnapshot.genRoot(dir, "nodes", g), "part")
      CellSnapshot.publish(spark, dir, g, m -- affected ++ survived.map(_ -> g))
    }
    Tombstones.clear(spark, dir)
    IndexMeta.invalidate(spark, dir)
  }

  /** Per-cell occupancy of a ROUTED layout: `(cell, n_rows)` over LIVE
    * node rows — `Ivf.cellStats`'s routed twin, the balance diagnostic
    * that decides when to [[reclusterRouted]] (a drifted ingest piles
    * into few cells and silently degrades the 2× boundary replication
    * the routed recall depends on). Replicated rows count as stored —
    * occupancy measures what a probe of the cell pays. The scan reads
    * only `(vec_id, part)`; tombstoned ids are excluded.
    */
  def cellStatsRouted(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    Ivf.withoutExcluded(
        readRoutedNodes(spark, dir).select(col("vec_id"), col("part")),
        Tombstones.ids(spark, dir))
      .groupBy(col("part").cast("long").as("cell"))
      .agg(count(lit(1)).as("n_rows"))

  /** Cell-balance skew factor of a routed layout (`Ivf.cellSkew`'s
    * routed twin): max/mean live occupancy over the centroid set,
    * empty cells counting as 0.
    */
  def cellSkewRouted(spark: org.apache.spark.sql.SparkSession, dir: String): Double = {
    val c = servingCentroids(CellSnapshot.open(spark, dir)).rows.length.toDouble
    val r = cellStatsRouted(spark, dir)
      .agg(max("n_rows").cast("double").as("mx"), sum("n_rows").cast("double").as("tot"))
      .head()
    if (r.isNullAt(1) || r.getDouble(1) == 0.0) 1.0
    else r.getDouble(0) / (r.getDouble(1) / c)
  }

  /** The routed recluster SCHEDULING TRIGGER (`Ivf.needsRecluster`'s
    * twin): true once [[cellSkewRouted]] crosses `maxSkew`.
    */
  def needsReclusterRouted(spark: org.apache.spark.sql.SparkSession, dir: String,
                           maxSkew: Double = 4.0): Boolean =
    cellSkewRouted(spark, dir) >= maxSkew

  /** The routed layout's SERVING centroids, resolved consistently with
    * the node/edge snapshot: the newest `centroids_g{v'}` with `v' <=`
    * the current manifest version, falling back to the build-time flat
    * `centroids` — the `Ivf.centroidsOf` at-or-below rule (published
    * centroid files are immutable; [[reclusterRouted]] stages a
    * generation-scoped file before its manifest flip).
    */
  def routedCentroidsOf(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    servingCentroids(CellSnapshot.open(spark, dir)).frame(spark)

  private def servingCentroids(snap: CellSnapshot.Snapshot): CellSnapshot.Collected =
    snap.centroids("centroids").getOrElse(throw new IllegalArgumentException(
      s"${snap.dir} has no routing centroids: it is not a routed HNSW layout"))

  /** The centroids pairing with [[readRoutedNodesAt]] `version` (see
    * [[routedCentroidsOf]]).
    */
  def routedCentroidsAt(spark: org.apache.spark.sql.SparkSession, dir: String,
                        version: Int): DataFrame =
    CellSnapshot.centroids(spark, dir, "centroids", Some(version), CellSnapshot.kindOf(spark, dir))
      .getOrElse(throw new IllegalArgumentException(s"$dir has no routing centroids"))
      .frame(spark)

  /** RECLUSTER maintenance for the ROUTED layout — the drift repair
    * after enough appends skew the cells ([[compactRouted]] is the
    * remove half): every LIVE vector re-routes onto `newCents` with the
    * layout's SPANN boundary replication, every cell's HNSW adjacency
    * rebuilds from its new membership (cell graphs are a function of
    * membership — unlike the flat IVF recluster, moving rows without
    * rebuilding edges would serve a stale navigable structure), and the
    * new node AND edge trees publish with the generation-scoped
    * centroid sidecar under ONE atomic manifest flip. Semantics: the
    * reclustered layout serves EXACTLY like a fresh [[saveRouted]] over
    * its live vectors with the same centroids (levels are a pure
    * function of vec_id, assignment and per-cell builds are
    * deterministic) — that equality is the spec's claim. Tombstones
    * fold in and clear; the source fingerprint invalidates. Cost: one
    * full-layout read + assignment + per-cell rebuild — the honest
    * price of moving every row's cell; fire it on [[cellSkewRouted]]'s
    * cadence, not per batch.
    *
    * `newCents` must live in the space the layout stores (raw floats
    * for plain routed, unit directions for the cosine layout).
    */
  def reclusterRouted(spark: org.apache.spark.sql.SparkSession, dir: String,
                      newCents: DataFrame, p: Params, replication: Int = 2): Unit = {
    val snap = CellSnapshot.open(spark, dir)
    val live = Ivf.withoutExcluded(snap.read("nodes", "part"), snap.tombstones)
    // one payload row per vector: replicas carry identical
    // (embedding, level), so any one of them re-routes the vector
    val uniq = live.select(col("vec_id"), col("embedding"), col("level"))
      .dropDuplicates("vec_id")
    val assigned = uniq
      .join(Ivf.assignMulti(uniq, newCents, replication), Seq("vec_id"))
      .select(col("cell").cast("int").as("part"), col("vec_id"),
        col("embedding"), col("level"))
    val (v, _) = snap.mappingOrBase("nodes", "part")
    val g = v + 1
    assigned.write.mode("overwrite").partitionBy("part")
      .parquet(CellSnapshot.genRoot(dir, "nodes", g))
    buildEdgesBy(assigned, p).write.mode("overwrite").partitionBy("part")
      .parquet(CellSnapshot.genRoot(dir, "edges", g))
    // stage routing BEFORE the flip — the flip publishes data + routing
    newCents.write.mode("overwrite").parquet(s"$dir/centroids_g$g")
    val parts = CellSnapshot.listParts(spark,
      CellSnapshot.genRoot(dir, "nodes", g), "part")
    CellSnapshot.publish(spark, dir, g, parts.map(_ -> g).toMap)
    Tombstones.clear(spark, dir)
    IndexMeta.invalidate(spark, dir)
  }

  /** Incremental APPEND into a persisted routed layout — the insert
    * half of the routed lifecycle ([[reclusterRouted]] re-balances,
    * [[compactRouted]] removes): fresh rows route onto the layout's
    * CURRENT serving centroids with its SPANN replication, and ONLY the
    * receiving cells rebuild — nodes union in, each affected cell's
    * HNSW adjacency reconstructs from its full new membership (a cell
    * graph is a function of membership: beam-inserting into stored
    * adjacency would break the grown-≡-fresh-build equality the routed
    * family pins), published as one new immutable [[CellSnapshot]]
    * generation under a single manifest flip. Untouched cells' files
    * are not touched at all, so per-batch I/O is proportional to the
    * AFFECTED cells (a batch lands in ≤ replication·|batch| of them,
    * and in practice far fewer — arrivals cluster). Semantics: the
    * grown layout serves EXACTLY like a fresh [[saveRouted]] over the
    * union (levels are pure functions of vec_id; assignment and
    * per-cell builds are deterministic) — RoutedReclusterSpec pins it.
    */
  def insertIntoRouted(spark: org.apache.spark.sql.SparkSession, dir: String,
                       rows: DataFrame, p: Params, replication: Int = 2): Unit = {
    val snap = CellSnapshot.open(spark, dir)
    val cents = servingCentroids(snap).frame(spark)
    val fresh = rows
      .join(Ivf.assignMulti(rows, cents, replication), Seq("vec_id"))
      .select(col("cell").cast("int").as("part"), col("vec_id"),
        col("embedding"), levelColumn(p).as("level"))
    // receiving cell ids: ≤ replication·|batch| ints to the driver
    // (partition-filter + manifest-delta formation)
    val affected = fresh.select(col("part").cast("long")).distinct()
      .collect().map(_.getLong(0))
    if (affected.isEmpty) return
    val existing = snap.read("nodes", "part")
      .filter(col("part").isin(affected.toIndexedSeq: _*)) // partition-pruned
      .select(col("part").cast("int").as("part"), col("vec_id"),
        col("embedding"), col("level"))
    val union = existing.unionByName(fresh)
    val (v, m) = snap.mappingOrBase("nodes", "part")
    val g = v + 1
    union.write.mode("overwrite").partitionBy("part")
      .parquet(CellSnapshot.genRoot(dir, "nodes", g))
    buildEdgesBy(union, p).write.mode("overwrite").partitionBy("part")
      .parquet(CellSnapshot.genRoot(dir, "edges", g))
    val staged = CellSnapshot.listParts(spark,
      CellSnapshot.genRoot(dir, "nodes", g), "part")
    CellSnapshot.publish(spark, dir, g, m ++ staged.map(_ -> g))
    IndexMeta.invalidate(spark, dir)
  }

  /** Retrain routing centroids from a routed layout's OWN live rows
    * (`Ivf.retrainCentroids`'s routed twin — hash-spread seeds via one
    * TakeOrdered pass, `iters` Lloyd rounds over the distinct node
    * vectors). Feeds [[reclusterRouted]] in an automated drift repair.
    */
  def retrainCentroidsRouted(spark: org.apache.spark.sql.SparkSession, dir: String,
                             c: Int, iters: Int = 1): DataFrame = {
    val live = Ivf.withoutExcluded(
        readRoutedNodes(spark, dir).select(col("vec_id"), col("embedding")),
        Tombstones.ids(spark, dir))
      .dropDuplicates("vec_id")
    val spread = live
      .orderBy(pmod(graft.functions.Portable.md5Int(col("vec_id").cast("string")),
        lit(Int.MaxValue)), col("vec_id"))
      .limit(c)
    val seeds = spread
      .select(row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("vec_id"))).cast("long").as("rid"),
        transform(col("embedding"), x => x.cast("double")).as("centroid_vec"))
      .select((col("rid") - 1).as("centroid_id"), col("centroid_vec"))
    Ivf.kmeansWith(live, seeds, iters)
  }

  /** [[saveRouted]] once per content of `embeddings`, `cents` and the
    * params ([[IndexMeta.ensure]]) — the amortization point for
    * repeated-batch serving; retrained routing centroids rebuild the
    * shards.
    */
  def ensureSavedRouted(embeddings: DataFrame, cents: DataFrame, p: Params, dir: String,
                        replication: Int = 2): Unit =
    IndexMeta.ensure(dir, s"p=$p;r=$replication", embeddings, cents)(
      saveRouted(embeddings, cents, p, dir, replication))

  /** Degree/size statistics per layer over a built edges table —
    * validates the linking invariants (m ≤ degree ≤ maxM after enough
    * inserts; layer sizes decay exponentially).
    */
  def degreeStats(edges: DataFrame): DataFrame =
    edges
      .groupBy("layer", "src")
      .agg(count(lit(1)).as("degree"))
      .groupBy("layer")
      .agg(
        count(lit(1)).as("n_nodes"),
        sum("degree").as("n_edges"),
        round(avg("degree"), 6).as("avg_degree"),
        max("degree").as("max_degree"))
      .orderBy("layer")

  /** Recall@k of the ANN path against exact kNN for a query batch:
    * per-query |ANN ∩ exact| / k. The `RgbTest` analog (hnsw.cc:326-368)
    * generalized to a measured recall (SURVEY.md §5.2).
    */
  def recallAtK(embeddings: DataFrame, queries: DataFrame, k: Int, p: Params): DataFrame =
    recallOf(searchTopK(embeddings, queries, k, p), embeddings, queries, k)

  /** Recall@k of an arbitrary ANN result `(query_id, vec_id, ...)`
    * against exact kNN — lets the routed path reuse the same harness.
    */
  def recallOf(ann0: DataFrame, embeddings: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val ann = ann0
      .select(col("query_id").as("ann_qid"), col("vec_id").as("ann_id"))
    val exact = Knn.topKBatch(embeddings, queries, k)
      .select(col("query_id"), col("vec_id").as("exact_id"))
    exact.join(ann,
        col("query_id") === col("ann_qid") && col("exact_id") === col("ann_id"),
        "left")
      .groupBy("query_id")
      .agg((count(col("ann_id")) / k.toDouble).as("recall"))
  }
}
