package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph

/** PageRank invariants: mass conservation on dangling-free graphs,
  * structural ranking (hubs beat leaves), partition-count determinism
  * (the decimal-sum contract), and the degree relation. Small fixtures
  * take the loops' driver fast path; the distributed plans are pinned
  * under `Graph.distributedOnly`, and the two paths are held equal
  * row for row on random multigraphs.
  */
class GraphSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("cycle: uniform mass is a fixed point and total mass stays 1") {
    val n = 10
    val edges = (0 until n).map(i => (i.toLong, ((i + 1) % n).toLong)).toDF("src", "dst")
    val pr = Graph.pageRank(edges, iters = 5).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(pr.length === n)
    pr.foreach { case (_, p) => assert(math.abs(p - 1.0 / n) < 1e-9) }
    assert(math.abs(pr.map(_._2).sum - 1.0) < 1e-6)
  }

  test("star: the hub out-ranks every leaf, and dangling hub mass is dropped") {
    // leaves 1..9 each point at hub 0; hub has no out-edges (dangling)
    val edges = (1L to 9L).map(i => (i, 0L)).toDF("src", "dst")
    val pr = Graph.pageRank(edges, iters = 3).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    val hub = pr(0L)
    (1L to 9L).foreach(i => assert(hub > pr(i), s"hub must out-rank leaf $i"))
    // dangling convention: total mass < 1 (the hub's mass re-enters nowhere)
    assert(pr.values.sum < 1.0)
  }

  test("partition count does not change a single rounded rank (decimal sums)") {
    val rnd = new scala.util.Random(5)
    val edges = (0 until 3000).map(_ => (rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .toDF("src", "dst").cache()
    val (a, b) = Graph.distributedOnly {
      (Graph.pageRank(edges.repartition(1), iters = 3)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap,
       Graph.pageRank(edges.repartition(32), iters = 3)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap)
    }
    assert(a === b, "ranks must be identical at any partitioning")
  }

  test("degrees: out/in counts match direct aggregation, absent side is 0") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
    val d = Graph.degrees(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(d === Set((1L, 2L, 0L), (2L, 1L, 1L), (3L, 0L, 2L)))
  }

  test("triangles: K4 gives every node 3; a path gives everyone 0") {
    val k4 = (for (a <- 0 to 3; b <- 0 to 3 if a < b) yield (a.toLong, b.toLong))
      .toDF("src", "dst")
    val tk4 = Graph.triangleCounts(k4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(tk4 === Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val tp = Graph.triangleCounts(path).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(tp === Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L))
  }

  test("labelPropagation: two cliques joined by a bridge resolve to two communities") {
    // cliques {1,2,3,4} and {10,11,12,13}, one bridge edge 4-10
    val clique = (ns: Seq[Long]) =>
      for (a <- ns; b <- ns if a < b) yield (a, b)
    val edges = (clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(10L, 11L, 12L, 13L)) :+
      ((4L, 10L))).toDF("src", "dst")
    val got = Graph.labelPropagation(edges, iters = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val c1 = Seq(1L, 2L, 3L, 4L).map(got)
    val c2 = Seq(10L, 11L, 12L, 13L).map(got)
    assert(c1.distinct.size === 1, s"clique 1 must agree on a label: $got")
    assert(c2.distinct.size === 1, s"clique 2 must agree on a label: $got")
    assert(c1.head !== c2.head, "the bridge must not merge the cliques")
  }

  test("labelPropagation: synchronous update matches a reference implementation (ties to smallest)") {
    val rnd = new scala.util.Random(13)
    val raw = (0 until 400).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    val got = Graph.labelPropagation(raw.toDF("src", "dst"), iters = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // reference: same canonicalization + synchronous most-frequent update
    val und = raw.collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }.toSet
    val nbrs = und.flatMap(e => Seq(e, e.swap)).groupBy(_._1).map { case (n, es) => n -> es.map(_._2) }
    var lab = nbrs.keys.map(n => n -> n).toMap
    for (_ <- 0 until 3) {
      lab = nbrs.map { case (n, ns) =>
        val freq = ns.groupBy(lab).map { case (l, xs) => (l, xs.size) }
        n -> freq.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    assert(got === lab)
  }

  test("triangles: degree-oriented counts match naive enumeration; direction/dup/self-loop invariant") {
    val rnd = new scala.util.Random(7)
    // random multigraph with self-loops, both directions, duplicates
    val raw = (0 until 2000).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
    val edges = raw.toDF("src", "dst")
    val got = Graph.triangleCounts(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // naive truth: canonical simple edges, count per-node triangle memberships
    val und = raw.collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }.toSet
    val nodes = und.flatMap(e => Seq(e._1, e._2))
    val adj = nodes.map(n => n -> und.collect {
      case (a, b) if a == n => b
      case (a, b) if b == n => a
    }).toMap
    val naive = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for {
      (a, b) <- und
      c <- adj(a) if c > b && adj(b).contains(c)
    } { naive(a) += 1; naive(b) += 1; naive(c) += 1 }
    assert(got === nodes.map(n => n -> naive(n)).toMap)
    assert(got.values.sum % 3 === 0, "every triangle contributes to exactly 3 nodes")
  }

  test("connectedComponents: random graph matches driver-side union-find; isolated vertices are singletons") {
    val rnd = new scala.util.Random(7)
    val raw = (0 until 300).map(_ => (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
    val edges = raw.toDF("src", "dst")
    val got = Graph.connectedComponents(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // driver-side union-find reference with min-label canonicalization
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r } }
    raw.foreach { case (a, b) =>
      if (a != b) { val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) } }
    val nodes = raw.flatMap(e => Seq(e._1, e._2)).distinct
    val ref = nodes.map(n => n -> find(n)).toMap
    assert(got === ref, "pointer-jumping components == union-find components")
    // explicit vertex set: isolated vertices come out as their own singleton
    val verts = Seq(1L, 2L, 3L, 999L).toDF("node")
    val e2 = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val got2 = Graph.connectedComponents(verts, e2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got2 === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 999L -> 999L))
    // a chain (worst-case diameter) still converges via pointer jumping
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("src", "dst")
    val got3 = Graph.connectedComponents(chain).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got3.forall(_._2 === 0L), "one chain, one min-labeled component")
  }

  test("edge store: bucketed-table results == raw-edge results; iteration join has no edge-side Exchange") {
    val rnd = new scala.util.Random(29)
    val raw = (0 until 500).map(_ => (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter { case (a, b) => a != b }
    val edges = raw.toDF("src", "dst")
    spark.sql("DROP TABLE IF EXISTS graphspec_edges")
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    val stale = new java.io.File(wh, "graphspec_edges")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    if (stale.exists()) rm(stale)
    Graph.writeEdgeStore(edges, "graphspec_edges", buckets = 8)
    val store = spark.table("graphspec_edges")
    // results are identical — the store is the same rows, and every op
    // is partition-order invariant (decimal sums / set semantics)
    // (the distributed loops: this fixture is far below the driver cap)
    Graph.distributedOnly {
      val prRaw = Graph.pageRank(edges, iters = 4).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toMap
      val prStore = Graph.pageRank(store, iters = 4).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toMap
      assert(prStore === prRaw, "pageRank over the store must equal raw edges")
      val kcRaw = Graph.kcore(edges, k = 3, rounds = 3).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      val kcStore = Graph.kcore(store, k = 3, rounds = 3).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(kcStore === kcRaw, "kcore over the store must equal raw edges")
    }
    // plan pins — the per-iteration shapes over the bucketed table:
    // (a) the src-keyed contribution join exchanges ONLY the rank side
    val rank = store.select(col("src")).distinct()
      .select(col("src"), lit(0.1).as("pr"))
    val iterJoin = store.join(rank.hint("shuffle_hash"), Seq("src"))
      .select(col("dst"), col("pr"))
    val jp = iterJoin.queryExecution.executedPlan.toString
    assert(jp.contains("Bucketed: true"), s"store scan must ride the bucket layout:\n$jp")
    val edgeSideExchanges = jp.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).size
    assert(edgeSideExchanges <= 1,
      s"only the O(nodes) rank side may exchange in an iteration join:\n$jp")
    // (b) the out-degree aggregation plans with no Exchange at all
    val degP = store.groupBy("src").count().queryExecution.executedPlan.toString
    assert(!degP.contains("Exchange hashpartitioning"),
      s"bucketed degree agg must not shuffle:\n$degP")
  }

  test("ccAbsorb: multi-batch absorb == batch CC over the union, every batch boundary") {
    val rnd = new scala.util.Random(13)
    val raw = (0 until 400).map(_ => (rnd.nextInt(150).toLong, rnd.nextInt(150).toLong))
    val batches = raw.grouped(134).toSeq // 3 uneven batches
    var store = Graph.connectedComponents(batches.head.toDF("src", "dst"))
    var seen = batches.head
    batches.tail.foreach { b =>
      store = Graph.ccAbsorb(store, b.toDF("src", "dst"))
      seen = seen ++ b
      val got = store.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val ref = Graph.connectedComponents(seen.toDF("src", "dst")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got === ref, s"absorb must equal batch CC over the union at each boundary")
    }
  }

  test("ccAbsorb: empty batch leaves the store unchanged; new-nodes-only batch appends") {
    val store = Graph.connectedComponents(Seq((1L, 2L), (3L, 4L)).toDF("src", "dst"))
    val same = Graph.ccAbsorb(store, Seq.empty[(Long, Long)].toDF("src", "dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(same === Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
    // a batch touching no stored node appends its own components
    val appended = Graph.ccAbsorb(store, Seq((10L, 11L), (11L, 12L)).toDF("src", "dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(appended === Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
    // a batch merging the two stored components rewrites only their labels
    val merged = Graph.ccAbsorb(store, Seq((2L, 4L)).toDF("src", "dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(merged === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("ccAbsorb plan pin: the store side never shuffles — broadcast joins only") {
    // store as a real file-backed table, the incremental-pipeline shape
    val dir = java.nio.file.Files.createTempDirectory("cc_absorb_pin").toString
    Graph.connectedComponents(
      (0L until 200L).map(i => (i, i / 4 * 4)).toDF("src", "dst"))
      .write.mode("overwrite").parquet(s"$dir/labels")
    val store = spark.read.parquet(s"$dir/labels")
    // the contracted-graph CC of the distributed fallback, not the driver union-find
    val out = Graph.distributedOnly(
      Graph.ccAbsorb(store, Seq((0L, 4L), (8L, 300L)).toDF("src", "dst")))
    val p = out.queryExecution.executedPlan.toString
    // the contracted-graph CC is behind localCheckpoint leaves, so the
    // visible plan is exactly the two store passes + union: any
    // Exchange must be a BroadcastExchange (batch-sized sides), never a
    // hash shuffle of the store
    assert(!p.contains("Exchange hashpartitioning"),
      s"store side must not shuffle on absorb:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"remap must broadcast over the store:\n$p")
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got(300L) === 8L && got(0L) === 0L && got(4L) === 0L)
  }

  test("kcore: triangle with a pendant chain — the 2-core is exactly the triangle") {
    // 1-2-3 triangle, chain 3-4-5, isolated-ish leaf 6-1
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (6L, 1L))
      .toDF("src", "dst")
    val got = Graph.kcore(edges, k = 2, rounds = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === Map(1L -> 2L, 2L -> 2L, 3L -> 2L),
      s"2-core must peel the chain and the leaf: $got")
  }

  test("kcore: run to depth, every survivor has >= k surviving neighbors (fixpoint)") {
    val rnd = new scala.util.Random(11)
    val raw = (0 until 600).map(_ => (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
    val edges = raw.toDF("src", "dst")
    val got = Graph.kcore(edges, k = 4, rounds = 12).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // driver-side reference peel to convergence
    var und = raw.collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }.toSet
    var changed = true
    while (changed) {
      val deg = und.toSeq.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
        .view.mapValues(_.size.toLong).toMap
      val keep = deg.filter(_._2 >= 4).keySet
      val next = und.filter(e => keep(e._1) && keep(e._2))
      changed = next != und
      und = next
    }
    val refDeg = und.toSeq.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    assert(got === refDeg, "engine k-core must equal the converged reference peel")
    assert(got.values.forall(_ >= 4), "every survivor keeps >= k surviving neighbors")
    // direction/duplicate invariance: reversing and duplicating edges changes nothing
    val noisy = raw ++ raw.map(_.swap) ++ raw.take(100)
    val got2 = Graph.kcore(noisy.toDF("src", "dst"), k = 4, rounds = 12).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got2 === got)
  }

  /** A random multigraph: both directions, repeated edges, self-loops,
    * and two nodes whose only edges are self-loops.
    */
  private def multigraph(seed: Int, nodes: Int, m: Int, asInt: Boolean): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val es = Seq.fill(m)((rnd.nextInt(nodes).toLong, rnd.nextInt(nodes).toLong))
    val all = es ++ es.take(m / 10).map(_.swap) ++ es.take(m / 10) ++
      Seq((nodes + 1L, nodes + 1L), (nodes + 2L, nodes + 2L), (nodes + 2L, nodes + 2L))
    val df = all.toDF("src", "dst")
    if (asInt) df.select(col("src").cast("int"), col("dst").cast("int")) else df
  }

  /** `op` on the driver fast path == `op` forced onto the distributed
    * plan: same column names and types, same rows.
    */
  private def samePaths(what: String, edges: DataFrame, local: Boolean = true)(
      op: DataFrame => DataFrame): Unit = {
    val fast = op(edges)
    val dist = Graph.distributedOnly(op(edges))
    if (local) assert(fast.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      s"$what must take the driver path:\n${fast.queryExecution.optimizedPlan}")
    assert(!dist.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      s"$what must take the distributed path when forced")
    assert(fast.schema.map(f => (f.name, f.dataType)) === dist.schema.map(f => (f.name, f.dataType)),
      s"$what: column names and types")
    def rows(df: DataFrame) = df.collect().toSeq.sortBy(_.get(0).asInstanceOf[Number].longValue)
    assert(rows(fast) === rows(dist), s"$what: rows")
  }

  test("driver fast path == distributed path, row for row, on random multigraphs (int and long ids)") {
    for (asInt <- Seq(false, true); seed <- Seq(3, 17)) {
      val edges = multigraph(seed, nodes = 60, m = 400, asInt).cache()
      val tag = s"seed $seed, ${if (asInt) "int" else "long"} ids"
      samePaths(s"labelPropagation ($tag)", edges)(Graph.labelPropagation(_, iters = 3))
      for (roundTo <- Seq(6, 15))
        samePaths(s"pageRank roundTo $roundTo ($tag)", edges)(Graph.pageRank(_, iters = 4, roundTo = roundTo))
      samePaths(s"triangleCounts ($tag)", edges)(Graph.triangleCounts)
      samePaths(s"kcore ($tag)", edges)(Graph.kcore(_, k = 3, rounds = 4))
      samePaths(s"connectedComponents ($tag)", edges, local = false)(Graph.connectedComponents)
      edges.unpersist()
    }
  }

  test("driver fast path == distributed path on the empty graph; pageRank refuses it on both") {
    for (edges <- Seq(Seq.empty[(Long, Long)].toDF("src", "dst"), Seq.empty[(Int, Int)].toDF("src", "dst"))) {
      samePaths("labelPropagation (empty)", edges)(Graph.labelPropagation(_, iters = 2))
      samePaths("triangleCounts (empty)", edges)(Graph.triangleCounts)
      samePaths("kcore (empty)", edges)(Graph.kcore(_, k = 2, rounds = 2))
      intercept[IllegalArgumentException](Graph.pageRank(edges, iters = 2))
      intercept[IllegalArgumentException](Graph.distributedOnly(Graph.pageRank(edges, iters = 2)))
    }
    // self-loops only: no simple edge survives, but pageRank ranks the nodes
    val loops = Seq((1L, 1L), (2L, 2L), (2L, 2L)).toDF("src", "dst")
    samePaths("labelPropagation (self-loops only)", loops)(Graph.labelPropagation(_, iters = 2))
    samePaths("pageRank (self-loops only)", loops)(Graph.pageRank(_, iters = 3))
  }
}
