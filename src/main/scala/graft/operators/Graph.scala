package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, Decimal, IntegerType, LongType, ShortType}

/** Graph analytics for corpus curation — the link-graph quality signals
  * a web-scale training pipeline computes beside dedup: PageRank-style
  * centrality (crawl frontier priority, document quality priors,
  * representative selection). The near-dup CLUSTERING half of graph
  * processing already lives in [[Dedup]] (pointer-jumping connected
  * components); this adds the iterative-scoring half.
  *
  * Deterministic by construction, so the whole iteration oracle-checks:
  * fixed iteration count (no convergence test), per-node contribution
  * sums accumulate through DECIMAL(38,12) (partition-order invariant),
  * and every scalar (1/n, (1−d)/n, d) enters as the same double in
  * both engines. Dangling nodes (no out-edges) contribute nothing —
  * the dropped-mass convention, documented and mirrored in SQL.
  *
  * Scale shape: each iteration is ONE join of the edge table with the
  * current rank vector (shuffle keyed on src, then one grouped
  * aggregation keyed on dst) — the vector table carries one double per
  * node, the edge table is never materialized to the driver, and
  * `localCheckpoint` truncates the lineage so iteration t+1 reads
  * iteration t's rows instead of replaying the whole chain (the
  * [[Ivf.kmeans]] lesson, kept distributed because ranks are O(nodes),
  * not O(cells)).
  *
  * Driver fast path: below one shared edge cap ([[localEdgeCap]]) every
  * loop here — PageRank, label propagation, triangle counts, k-core and
  * connected components — collects the edge relation it already cuts
  * or scans and runs its rounds in driver memory, returning a local
  * relation with the distributed path's columns, types and values. At
  * bench scale those rounds are fixed scheduling cost (a job chain per
  * round over a few thousand edges); above the cap the distributed
  * plans below run unchanged.
  */
object Graph {

  /** Part co-occurrence edges from a `lineitem` relation: parts sharing
    * at least `minOrders` orders (src < dst, one row per pair). The
    * canonical graph-analytics input over the TPC-H-ish tables — one
    * definition shared by the declared queries and the SQL TVFs so the
    * two surfaces cannot drift. `minOrders = 1` is the raw (dense)
    * co-occurrence graph; `≥ 2` sparsifies to the repeat graph with
    * real core structure.
    */
  def partCoOccurrence(lineitem: DataFrame, minOrders: Int = 1): DataFrame = {
    val li = lineitem
      .select(col("l_orderkey"), col("l_partkey").cast("long")).distinct()
    val pairs = li.select(col("l_orderkey"), col("l_partkey").as("src"))
      .join(li.select(col("l_orderkey"), col("l_partkey").as("dst")),
        Seq("l_orderkey"))
      .filter(col("src") < col("dst"))
    // minOrders = 1 returns the raw pair stream (one row per shared
    // order — a multigraph; every consumer canonicalizes, and an eager
    // distinct here would only buy an extra exchange)
    if (minOrders <= 1) pairs.select("src", "dst")
    else pairs.groupBy("src", "dst").agg(count(lit(1)).as("n_ord"))
      .filter(col("n_ord") >= minOrders)
      .select("src", "dst")
  }

  /** Persist a DERIVED edge relation as a saved table bucketed (and
    * sorted) by `src` — the [[Dedup.writeDigestStore]] pattern for the
    * graph substrate. Graph ops currently re-derive their edges from
    * raw relations every run (e.g. [[partCoOccurrence]]'s distinct +
    * self-join) and every PageRank iteration re-exchanges the edge
    * stream for its src-keyed contribution join; reading the store back
    * (`spark.table(table)`) makes BOTH free: the derivation is paid
    * once at write time, and the bucket layout means the per-iteration
    * edge↔rank join and the out-degree aggregation plan with NO
    * Exchange on the edge side — only the O(nodes) rank vector moves,
    * every iteration, at any scale (plan-pinned in GraphSpec). Pass the
    * edge stream already canonicalized the way the consumer expects
    * (e.g. [[partCoOccurrence]] output for the declared queries).
    */
  def writeEdgeStore(edges: DataFrame, table: String, buckets: Int = 32): Unit =
    edges.select(col("src"), col("dst"))
      .write.mode("overwrite")
      .bucketBy(buckets, "src").sortBy("src", "dst")
      .saveAsTable(table)

  /** Fixed-iteration PageRank over `edges(src, dst)` (multi-edges
    * count once per row, the adjacency-list convention). Returns
    * `(node, pr)` for every node appearing as a src or dst.
    */
  def pageRank(edges: DataFrame, iters: Int, damping: Double = 0.85,
               roundTo: Int = 6): DataFrame = {
    val spark = edges.sparkSession
    // Keep the edge stream materialized ONCE per run (r17): before
    // this, every iteration's contribution join — and the node-set and
    // out-degree derivations — re-executed the caller's edge subtree
    // (for the declared purchase-graph query that is an
    // orders⋈lineitem join, re-paid iters+2 times per run). LAZY
    // localCheckpoint, not persist(): persist is plan-keyed in the
    // CacheManager, so its blocks would silently serve the NEXT
    // invocation of the same query (cross-run result caching — the
    // bench contract forbids it); a localCheckpoint is RDD-keyed and
    // dies with this run's plan. The node-set count below materializes
    // it; every later pass reads blocks.
    //
    // GATED on the edge plan actually being derived (r18): when the
    // caller passes a bare (bucketed) table scan — q_pagerank_stored's
    // whole design, whose per-iteration joins ride the bucket layout
    // with no edge-side Exchange — an unconditional checkpoint replaces
    // the vectorized parquet scan with row-format blocks AND pays a
    // materialization the path was engineered to avoid (r17 regressed
    // the stored query 1.6-2.3× exactly this way). A scan, optionally
    // under projections/filters, re-executes for free; anything wider
    // (join/aggregate/union subtrees) is cut once.
    val bareScan = {
      import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, LeafNode, Project => LProject}
      edges.queryExecution.optimizedPlan.collectFirst {
        case p if !p.isInstanceOf[LProject] && !p.isInstanceOf[LFilter] &&
          !p.isInstanceOf[LeafNode] => p
      }.isEmpty
    }
    // repartition BEFORE the cut (r18, measured): the derived edge
    // plan's output partitioning is whatever AQE coalesced its last
    // exchange to — ~3 partitions at bench scale — and the checkpoint
    // freezes that width, so every round's broadcast-joined
    // contribution stage ran 3-wide (5.7 s wall against 5.2 task-sec:
    // the loop was SERIALIZED on a handful of tasks). One round-robin
    // exchange up front restores full width for all iters+2 passes;
    // the width is the session's parallelism, not a constant.
    val e = if (bareScan) edges
      else edges.repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(false)
    val idType = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).schema.head.dataType
    val ranks = underCap(e.select("src", "dst")).map { rows =>
      import spark.implicits._
      withIdType(localPageRank(rows, iters, damping).toDF("node", "pr"), idType, "node")
    }.getOrElse(rankRounds(e, iters, damping))
    ranks.select(col("node"), round(col("pr"), roundTo).as("pr"))
  }

  /** [[pageRank]]'s distributed rounds over the edge relation `e`,
    * unrounded.
    */
  private def rankRounds(e: DataFrame, iters: Int, damping: Double): DataFrame = {
    // LAZY cuts on the single-consumer chain (r18, the Bpe lesson):
    // every localCheckpoint here used to be EAGER, so the fixed
    // 3-iteration query ran ~7 scheduled jobs (nodes cut, count, outDeg
    // cut, one per-round cut each, final action). Each per-round rank
    // vector is consumed exactly once (by the next round), and the
    // rounds are strictly sequential, so lazy cuts are safe — the node
    // count below and the caller's single action now drive the whole
    // loop (2 jobs) with no concurrent double-computation. (Lazy cuts
    // on FAN-OUT relations are NOT safe — measured this round: two
    // consumers materializing concurrently within one job re-compute
    // the subtree before its blocks land in the cache.)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint(false)
    val n = nodes.count()
    require(n > 0, "pageRank needs a non-empty edge table")
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(false)
    val base = (1.0 - damping) / n
    // Explicit broadcast of the O(nodes) sides when the vertex count
    // says they comfortably fit (guide §3.1 — use the size you KNOW;
    // AQE reaches the same broadcast join only after materializing both
    // shuffle sides as discovery stages, a per-round barrier cost this
    // skips). Past the gate the shape falls back to the r17 plan:
    // shuffle_hash keyed on the small side, so sort-merge never re-sorts
    // the edge stream — and on the bucketed store path the edge side
    // still plans with no Exchange.
    val bcastRanks = n <= broadcastNodeLimit
    def small(df: DataFrame): DataFrame =
      if (bcastRanks) broadcast(df) else df.hint("shuffle_hash")
    var pr = nodes.select(col("node"), lit(1.0 / n).as("pr"))
    for (_ <- 0 until iters) {
      val contribs = e
        .join(small(pr.withColumnRenamed("node", "src")), Seq("src"))
        .join(small(outDeg), Seq("src"))
        .select(col("dst").as("node"), (col("pr") / col("deg")).as("c"))
      val sums = contribs.groupBy("node")
        .agg(sum(col("c").cast("decimal(38,12)")).cast("double").as("s"))
      pr = nodes
        .join(if (bcastRanks) broadcast(sums) else sums, Seq("node"), "left")
        .select(col("node"),
          (lit(base) + lit(damping) * coalesce(col("s"), lit(0.0))).as("pr"))
        .localCheckpoint(false) // truncate lineage lazily: the caller's one action drives all rounds
    }
    pr
  }

  /** [[pageRank]]'s rounds in driver memory over collected `(src, dst)`
    * rows, bit-identical to the distributed plan: each `pr/deg` goes
    * through Spark's own double → DECIMAL(38,12) cast (HALF_UP), the
    * per-node sums are exact, and `base + damping * s` is the same
    * double expression; dangling mass is dropped the same way.
    */
  private def localPageRank(rows: Array[Row], iters: Int, damping: Double): Seq[(Long, Double)] = {
    val nodes = rows.flatMap(r => Array(id(r, 0), id(r, 1))).distinct
    require(nodes.nonEmpty, "pageRank needs a non-empty edge table")
    val ix = nodes.zipWithIndex.toMap
    val n = nodes.length
    val src = rows.map(r => ix(id(r, 0)))
    val dst = rows.map(r => ix(id(r, 1)))
    val deg = new Array[Long](n)
    src.foreach(i => deg(i) += 1)
    val base = (1.0 - damping) / n
    var pr = Array.fill(n)(1.0 / n)
    for (_ <- 0 until iters) {
      val c = Array.tabulate(n) { i =>
        if (deg(i) == 0) null
        else { val d = Decimal(pr(i) / deg(i)); d.changePrecision(38, 12); d.toJavaBigDecimal }
      }
      val sums = Array.fill(n)(java.math.BigDecimal.ZERO)
      src.indices.foreach(k => sums(dst(k)) = sums(dst(k)).add(c(src(k))))
      pr = sums.map(t => base + damping * Decimal(t).toDouble)
    }
    nodes.toSeq.zip(pr)
  }

  /** Row-count gate for broadcasting an O(nodes) relation (rank/label
    * vectors, degree tables) into an iterative loop's joins: 8M rows of
    * (long, long/double) builds a hash relation in the low hundreds of
    * MB — comfortably inside the guide's §3.1 envelope and far from the
    * 8 GB / 512M-row broadcast caps. Above it the loops keep their
    * shuffle-keyed plans, so the gate is scale-adaptive, not a
    * local-mode constant.
    */
  private val broadcastNodeLimit = 8000000L

  /** Edge-row cap of the driver fast path, shared by every loop in this
    * file: a loop whose edge relation holds at most this many rows
    * collects it and runs its rounds in driver memory (100k id pairs
    * are a few MB, against a scheduled job chain per distributed
    * round); a larger relation keeps the distributed plan. Not a
    * session setting — specs reach the distributed plans through
    * [[distributedOnly]].
    */
  private val localEdgeCap = 100000

  /** The cap in force: [[localEdgeCap]], or -1 inside [[distributedOnly]]. */
  private val edgeCap = new scala.util.DynamicVariable[Int](localEdgeCap)

  /** Runs `body` with the driver fast path off, so every graph loop
    * called inside it takes its distributed plan whatever its size —
    * the seam specs use to pin those plans on small fixtures.
    */
  private[graft] def distributedOnly[T](body: => T): T = edgeCap.withValue(-1)(body)

  /** The capped probe: every row of `edges` when there are at most the
    * cap, else None — never more than cap + 1 rows reach the driver.
    * Callers pass a relation they already cut or scan, so falling
    * through to the distributed plan re-runs nothing upstream; reading
    * it as one partition makes the probe one job (a multi-partition
    * limit scans in scale-up waves, one job each) that stops at the
    * first cap + 1 rows. Only integral, non-null ids take the driver
    * path.
    */
  private def underCap(edges: DataFrame): Option[Array[Row]] = {
    val cap = edgeCap.value
    val integral = edges.schema.forall(_.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    })
    if (cap < 0 || !integral) None
    else Some(edges.coalesce(1).limit(cap + 1).collect())
      .filter(rows => rows.length <= cap && !rows.exists(_.anyNull))
  }

  private def id(r: Row, i: Int): Long = r.get(i).asInstanceOf[Number].longValue

  /** `df` with its `ids` columns cast back to the input's id type. */
  private def withIdType(df: DataFrame, idType: DataType, ids: String*): DataFrame =
    df.select(df.columns.toSeq.map(c => if (ids.contains(c)) col(c).cast(idType).as(c) else col(c)): _*)

  /** The undirected simple graph of `edges(src, dst)` as `(a, b)` rows
    * with a < b: self-loops dropped, direction and multiplicity folded.
    */
  private def simpleEdges(edges: DataFrame): DataFrame =
    edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()

  /** Per-node triangle counts over the UNDIRECTED simple graph induced
    * by `edges(src, dst)` (direction, multiplicity, and self-loops
    * dropped) — the local clustering signal (tightly-knit co-occurrence
    * neighborhoods) of link-graph curation. Returns `(node, n_tri)` for
    * EVERY node of the induced graph, zero-triangle nodes included.
    *
    * Scale shape — degree orientation (the classic O(m^{3/2}) triangle
    * enumeration): orient each undirected edge from its lower-(degree,
    * id) endpoint to the higher, making the graph a DAG in which every
    * triangle u<v<w appears exactly once as edge (u,v) plus one
    * w ∈ out(u) ∩ out(v). Oriented out-degree is O(√m) on ANY graph —
    * a power-law hub's edges orient INTO it, so the hub's neighborhood
    * is never enumerated. Naive id-ordered enumeration (the oracle's
    * form, correct but un-oriented) pays Σ deg² wedges and dies on the
    * first hub; this pays Σ outdeg² ≤ m^{3/2} regardless of skew —
    * and ships it as per-node SORTED ADJACENCY ARRAYS intersected
    * locally at each edge (edge-iterator), never as a materialized
    * wedge-row stream re-shuffled for a closing equi-join. Shuffles:
    * degree agg, adjacency build, and two node-keyed edge↔adjacency
    * joins — all O(m) rows; the only super-linear volume is the array
    * payload, bounded by the same Σ outdeg².
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val und = simpleEdges(edges)
      // reused 3× (degrees, orientation, wedge closing) — EAGER on
      // purpose: a lazy cut was measured this round at 4.3 → 10-13 s,
      // because the three consumers' stages materialize CONCURRENTLY
      // inside the one action and each re-computes the (expensive)
      // distinct before its blocks reach the cache. Fan-out cuts stay
      // eager; only single-consumer chains go lazy.
      .localCheckpoint()
    val idType = und.schema("a").dataType
    underCap(und).map { rows =>
      import edges.sparkSession.implicits._
      withIdType(localTriangles(rows).toDF("node", "n_tri"), idType, "node")
    }.getOrElse(triangleRounds(und))
  }

  /** [[triangleCounts]] in driver memory over the collected simple
    * edges: the same (degree, id) orientation, each triangle closed
    * once at its oriented edge (u, v) by the w ∈ out(u) ∩ out(v).
    */
  private def localTriangles(und: Array[Row]): Seq[(Long, Long)] = {
    val es = und.map(r => (id(r, 0), id(r, 1)))
    val deg = es.flatMap { case (a, b) => Array(a, b) }.groupMapReduce(identity)(_ => 1L)(_ + _)
    def below(x: Long, y: Long) = deg(x) < deg(y) || (deg(x) == deg(y) && x < y)
    val out = es.map { case (a, b) => if (below(a, b)) (a, b) else (b, a) }
      .groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap
    val tri = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
    for ((u, vs) <- out; v <- vs; w <- out.getOrElse(v, Set.empty[Long]) if vs.contains(w)) {
      tri(u) += 1; tri(v) += 1; tri(w) += 1
    }
    deg.keys.toSeq.map(n => n -> tri(n))
  }

  /** [[triangleCounts]]' distributed plan over the cut simple edges. */
  private def triangleRounds(und: DataFrame): DataFrame = {
    val deg = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // shuffle_hash throughout: every join here pairs a LARGE streamed
    // side (edges, then the wedge set) with a SMALLER keyed side (the
    // degree relation, the canonical edge set). Sort-merge would sort
    // the streamed side — for the closing join that is a sort of the
    // whole Σ outdeg² wedge stream, the single biggest cost of the
    // naive plan (~2× the query at sf0.1). Hash-partitioned build on
    // the small side keeps the wedge stream unsorted and is the shape
    // that survives scale: the build side is O(edges)/partition, never
    // O(wedges), and nothing is broadcast.
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")).hint("shuffle_hash"),
        Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")).hint("shuffle_hash"),
        Seq("b"))
    val apexIsA = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = withDeg.select(
      when(apexIsA, col("a")).otherwise(col("b")).as("u"),
      when(apexIsA, col("b")).otherwise(col("a")).as("v"))
    // EDGE-ITERATOR closing over per-node adjacency arrays: in the
    // oriented DAG every triangle u<v<w (by the (deg,id) order) is the
    // edge (u,v) plus one w ∈ out(u) ∩ out(v). Joining each oriented
    // edge to its endpoints' sorted out-neighbor arrays and
    // intersecting LOCALLY replaces the wedge materialization (a
    // Σ outdeg² row stream re-shuffled by its outer pair for the
    // closing equi-join — the old plan's dominant shuffle) with array
    // payloads that never exceed the same Σ outdeg² bound but ship in
    // m rows and close without another exchange.
    val adj = oriented.groupBy("u")
      .agg(sort_array(collect_list(col("v"))).as("nbrs"))
    // ONE pass over the closing join (r18, measured): the old 3-leg
    // union (u-leg ∪ v-leg ∪ w-leg over an uncheckpointed `tri`)
    // re-executed the whole closing join + intersect once per leg —
    // the query's dominant cost ×3. Each edge row now emits all of its
    // triangles' node incidences in a single generator: every w in
    // nu ∩ nv closes one triangle that touches u once, v once, w once,
    // so the emitted multiset is ws ++ repeat(u, |ws|) ++ repeat(v, |ws|)
    // — identical rows to the union, one execution, no extra exchange
    // (the explode feeds the count agg's map-side partials directly).
    val perNode = oriented
      .join(adj.select(col("u"), col("nbrs").as("nu")).hint("shuffle_hash"), Seq("u"))
      .join(adj.select(col("u").as("v"), col("nbrs").as("nv")).hint("shuffle_hash"),
        Seq("v"))
      .select(col("u"), col("v"), array_intersect(col("nu"), col("nv")).as("ws"))
      .select(explode(concat(col("ws"),
        array_repeat(col("u"), size(col("ws"))),
        array_repeat(col("v"), size(col("ws"))))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    deg.select(col("node")).join(perNode, Seq("node"), "left")
      .select(col("node"), coalesce(col("n_tri"), lit(0L)).as("n_tri"))
  }

  /** SYNCHRONOUS label propagation (community detection) over the
    * undirected simple graph of `edges(src, dst)`: every node starts
    * with its own id as label; each round, every node adopts the most
    * frequent label among its NEIGHBORS (ties → the smallest label; a
    * node with no neighbors keeps its label). Fixed `iters` rounds, no
    * convergence test — fully deterministic, so the whole iteration
    * oracle-checks as unrolled SQL (the [[pageRank]] contract). The
    * cheap community signal of link-graph curation — groups tightly
    * interlinked pages without the quadratic machinery of modularity.
    *
    * Scale shape per round: ONE join of the (symmetrized) edge list
    * with the current label vector + one (node, label) count + one
    * max_by argmax — all keyed on node ids; the label vector carries
    * one long per node and `localCheckpoint` truncates lineage between
    * rounds. Synchronous update (not the paper's async sweep) keeps
    * the result independent of row visit order — the property that
    * makes it reproducible on ANY cluster size.
    */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame = {
    val und = simpleEdges(edges)
    // EAGER edge cut (multiply referenced: the node-set distinct and
    // every round's join — a lazy cut double-computes it, measured this
    // round on the triangle path); the per-round label cuts below ARE
    // lazy because each round's labels are consumed exactly once, by
    // the next round — the caller's single action drives the whole
    // fixed-round loop with no per-round jobs (r18).
    val sym = und.select(col("a").as("node"), col("b").as("nbr"))
      .union(und.select(col("b").as("node"), col("a").as("nbr")))
      .localCheckpoint()
    val idType = sym.schema("node").dataType
    underCap(sym).map { rows =>
      import edges.sparkSession.implicits._
      withIdType(localLabels(rows, iters).toDF("node", "label"), idType, "node", "label")
    }.getOrElse(labelRounds(sym, iters))
  }

  /** [[labelPropagation]] in driver memory over the collected symmetric
    * `(node, nbr)` rows: the same synchronous rounds, each node taking
    * its neighbors' most frequent label, ties to the smallest.
    */
  private def localLabels(sym: Array[Row], iters: Int): Seq[(Long, Long)] = {
    val nbrs = sym.groupMap(id(_, 0))(id(_, 1))
    var label = nbrs.map { case (n, _) => n -> n }
    for (_ <- 0 until iters) {
      val prev = label
      label = nbrs.map { case (n, ns) =>
        val freq = mutable.HashMap.empty[Long, Int]
        ns.foreach(m => freq.updateWith(prev(m))(c => Some(c.getOrElse(0) + 1)))
        n -> freq.reduce((x, y) => if (y._2 > x._2 || (y._2 == x._2 && y._1 < x._1)) y else x)._1
      }
    }
    label.toSeq
  }

  /** [[labelPropagation]]'s distributed rounds over the cut symmetric edges. */
  private def labelRounds(sym: DataFrame, iters: Int): DataFrame = {
    // Static node set, cut once: the carry join below reads it instead
    // of the evolving label vector, which is what makes each round's
    // labels single-consumer (lazy-safe). Its count gates the explicit
    // broadcast of the O(nodes) sides (guide §3.1 — skip AQE's
    // per-round broadcast-discovery stages when the size is known;
    // above [[broadcastNodeLimit]] the joins keep their shuffle plans).
    val nodes0 = sym.select(col("node")).distinct().localCheckpoint(false)
    val nNodes = nodes0.count()
    val smallGraph = nNodes <= broadcastNodeLimit
    def small(df: DataFrame): DataFrame =
      if (smallGraph) broadcast(df) else df.hint("shuffle_hash")
    // fold the cached edge list's 2·shuffle.partitions blocks to the
    // session parallelism on the small side of the gate (coalesce is
    // shuffle-free). FULL width, not a fraction (r18, the pageRank
    // measurement): each round's map side does the real work — join +
    // partial (node, label) aggregation over the whole edge list — and
    // /4 serialized it onto 8 tasks at 0.4 s each.
    val symIter = if (smallGraph)
      sym.coalesce(math.max(2, sym.sparkSession.sparkContext.defaultParallelism))
    else sym
    var labels = nodes0.select(col("node"), col("node").as("label"))
    for (_ <- 0 until iters) {
      val freq = symIter
        .join(small(labels.withColumnRenamed("node", "nbr")), Seq("nbr"))
        .groupBy("node", "label").agg(count(lit(1)).as("n"))
      // most frequent neighbor label, ties to the smallest label:
      // max_by over (n, -label) — a single hash aggregate, no window
      val best = freq.groupBy("node")
        .agg(max_by(col("label"), struct(col("n"), (-col("label")).as("t"))).as("label"))
      labels = nodes0
        .join(if (nNodes <= broadcastNodeLimit) broadcast(best) else best,
          Seq("node"), "left")
        .select(col("node"), coalesce(col("label"), col("node")).as("label"))
        .localCheckpoint(false)
    }
    labels
  }

  /** k-core peeling (fixed rounds) over the undirected simple graph of
    * `edges(src, dst)`: each round drops every node whose CURRENT
    * degree is below `k` (with all its incident edges), synchronously.
    * Returns `(node, deg)` for the nodes of the subgraph surviving
    * `rounds` rounds — when `rounds` reaches the peel depth this IS
    * the classic k-core (every survivor has ≥ k neighbors among
    * survivors; GraphSpec pins the fixpoint), and the fixed count
    * keeps the whole iteration deterministic and oracle-checkable as
    * unrolled SQL (the [[labelPropagation]] contract). The
    * dense-subgraph curation signal: spam link farms and boilerplate
    * template clusters sit in high cores; low-core pages are the
    * periphery.
    *
    * Scale shape per round: one degree aggregation + two left-semi
    * joins of the edge list against the O(nodes) survivor relation
    * (shuffle_hash — build on the keyed small side, stream the
    * edges), lineage truncated between rounds.
    */
  def kcore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    val und = simpleEdges(edges)
      .localCheckpoint() // eager: referenced 3× per round (degree union ×2, semi joins)
    val idType = und.schema("a").dataType
    underCap(und).map { rows =>
      import edges.sparkSession.implicits._
      withIdType(localCore(rows, k, rounds).toDF("node", "deg"), idType, "node")
    }.getOrElse(coreRounds(und, k, rounds))
  }

  /** [[kcore]] in driver memory over the collected simple edges: the
    * same synchronous peel, `rounds` times, then survivor degrees.
    */
  private def localCore(und: Array[Row], k: Int, rounds: Int): Seq[(Long, Long)] = {
    var es = und.map(r => (id(r, 0), id(r, 1)))
    def degrees = es.flatMap { case (a, b) => Array(a, b) }.groupMapReduce(identity)(_ => 1L)(_ + _)
    for (_ <- 0 until rounds) {
      val deg = degrees
      es = es.filter { case (a, b) => deg(a) >= k && deg(b) >= k }
    }
    degrees.toSeq
  }

  /** [[kcore]]'s distributed peel over the cut simple edges. */
  private def coreRounds(cut: DataFrame, k: Int, rounds: Int): DataFrame = {
    var und = cut
    // The survivor relation is O(current nodes) ≤ 2·|edges|, monotone
    // shrinking — when the initial edge count proves it broadcastable,
    // every round's two semi-joins run map-side with NO exchange of the
    // edge list (r17's shuffle_hash hints exchanged it twice per
    // round); above the gate the hinted shuffle plan stays (§3.1).
    val bcastKeep = 2 * und.count() <= broadcastNodeLimit
    def small(df: DataFrame): DataFrame =
      if (bcastKeep) broadcast(df) else df.hint("shuffle_hash")
    // narrow the cached edge reads on the small side of the gate (the
    // checkpoint holds ~2·shuffle.partitions tiny blocks; three
    // consumers per round each paid that many no-op tasks)
    // full session width, not /4 (r18, the pageRank measurement): the
    // per-round degree aggregation and semi-joins do their real work
    // map-side over the whole edge list
    val narrowTo = math.max(2, und.sparkSession.sparkContext.defaultParallelism)
    if (bcastKeep) und = und.coalesce(narrowTo)
    for (_ <- 0 until rounds) {
      val keep = und.select(col("a").as("node"))
        .union(und.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
      und = und
        .join(small(keep.select(col("node").as("a"))), Seq("a"), "leftsemi")
        .join(small(keep.select(col("node").as("b"))), Seq("b"), "leftsemi")
        .localCheckpoint()
    }
    und.select(col("a").as("node")).union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
  }

  /** Best-effort PER-PARTITION edge contraction (local union-find →
    * star edges): a connectivity-preserving compression of a pair
    * relation before iterative component work. Each task runs a plain
    * union-find over its partition's edges and emits one star edge
    * `(find(n), n)` per node it saw — so a partition-local clique of k
    * nodes (the shape near-dup pair generators emit: every member pairs
    * with every member) collapses from k·(k−1)/2 rows to k−1, and NO
    * exchange ever carries the quadratic pair volume (guide §2.3/§2.4:
    * the downstream loop only needs connectivity, so shuffle the
    * O(nodes) proxy, not the O(pairs) payload). Self-loops come back as
    * self-loops, so the endpoint node SET is preserved exactly —
    * vertex derivations over the contracted relation see every node.
    *
    * Memory is bounded by `nodeCap` distinct endpoints per task
    * (~48 B/entry; the 4M default is ≤ ~200 MB): past the cap,
    * remaining edges pass through contracted-at-the-ends but unmerged —
    * still connectivity-exact, just less compressed. The star set
    * depends on the physical partitioning (it is NOT deterministic
    * across layouts), so consumers must only depend on connectivity —
    * which is precisely the [[connectedComponents]] contract; the
    * output label (min node id per component) is partitioning-invariant.
    * Chains of stars across partitions raise the contracted graph's
    * diameter to O(#partitions); pointer jumping needs only
    * log₂(diameter) extra rounds over near-empty relations.
    */
  private[operators] def contractEdges(edges: DataFrame,
                                       nodeCap: Int = 4 << 20): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val schema = StructType(Seq(
      StructField("src", LongType, nullable = false),
      StructField("dst", LongType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    edges.select(col("src").cast("long"), col("dst").cast("long"))
      .mapPartitions { it =>
        val parent = new java.util.HashMap[java.lang.Long, java.lang.Long](1 << 12)
        def find(x: Long): Long = {
          var r = x
          while ({ val p = parent.get(r); p != null && p.longValue != r }) r = parent.get(r)
          var c = x
          while ({ val p = parent.get(c); p != null && p.longValue != c && p.longValue != r }) {
            val n = parent.get(c); parent.put(c, r); c = n
          }
          r
        }
        val spill = scala.collection.mutable.ArrayBuffer.empty[Row]
        it.foreach { row =>
          val a = row.getLong(0); val b = row.getLong(1)
          if (a == b) {
            if (parent.size < nodeCap) parent.putIfAbsent(a, a)
            else spill += Row(a, b)
          } else if (parent.size + 2 <= nodeCap ||
                     (parent.containsKey(a) && parent.containsKey(b))) {
            parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
            val ra = find(a); val rb = find(b)
            if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
          } else {
            // cap reached: pass the edge through, endpoints contracted
            // as far as the local structure already knows
            val ra = find(a); val rb = find(b)
            if (ra != rb) spill += Row(ra, rb) else ()
          }
        }
        import scala.jdk.CollectionConverters._
        val stars = parent.keySet().iterator().asScala.map { n =>
          Row(find(n.longValue), n.longValue)
        }
        stars ++ spill.iterator
      }(enc)
  }

  /** Driver-local min-label union-find over collected `(src, dst)`
    * long rows — the shared fast-path core of [[connectedComponents]]
    * and [[ccAbsorbParts]]. Returns `(node, min reachable id)` for the
    * nodes whose component label differs from the node itself (the
    * identity rows are implied — consumers left-join and coalesce).
    */
  private def driverMinLabels(rows: Array[Row]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    rows.foreach { r =>
      val (a, b) = (find(id(r, 0)), find(id(r, 1)))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    val nodes = rows.iterator.flatMap(r => Iterator(id(r, 0), id(r, 1))).toSet
    val minOf = nodes.groupBy(find).map { case (root, members) => root -> members.min }
    nodes.iterator.map(n => (n, minOf(find(n)))).filter { case (n, m) => n != m }
      .toSeq.sortBy(_._1)
  }

  /** Connected components of the undirected graph induced by
    * `edges(src, dst)` (direction ignored; `vertices(node)` supplies
    * the full vertex set so isolated nodes come out as their own
    * singleton component). Returns `(node, component)` where
    * `component` is the smallest node id in the component — the
    * canonical deterministic labeling, so the whole iteration
    * oracle-checks as unrolled SQL (the [[labelPropagation]] contract).
    *
    * Algorithm: iterative min-label propagation with POINTER JUMPING —
    * each round every vertex adopts the smallest label among itself and
    * its neighbors (one equi-join + one aggregation keyed on node id),
    * then follows its label one hop (label := label of label), which
    * halves the remaining path length: convergence in O(log diameter)
    * rounds instead of O(diameter), and each round costs a driver
    * round-trip, so the log matters. Each round runs exactly ONE Spark
    * job whose scalar aggregate doubles as the convergence check (every
    * label is monotone non-increasing, so Σ label is unchanged iff no
    * label changed) — no data is ever collected.
    *
    * This is the op [[Dedup.nearDupClusters]] (and through it semantic
    * dedup and the leakage split) is built on.
    */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
                          maxIters: Int = 20): DataFrame = {
    // NOTE (r17 optimization round, measured and rejected): both
    // shuffle_hash hints on the per-round joins and a pre-partitioned
    // (repartition-by-v) persist of `sym` were tried here. The hints
    // REGRESSED the query ~2-4× — AQE already converts every
    // label-sided join to a runtime broadcast join once it sees the
    // actual O(nodes) exchange sizes, and a join-strategy hint pins
    // shuffled-hash and forbids exactly that conversion. (r18 goes one
    // step further: when the vertex COUNT proves the label side small,
    // broadcast it EXPLICITLY — the same join AQE converges to, minus
    // the per-round discovery stages that materialize both shuffle
    // sides first. Guide §3.1: use the size you know.)
    //
    // Self-loops (r18): appending (node, node) to the symmetrized edge
    // list folds the "keep own label" term into the neighbor-min
    // aggregation itself — `least(own, nmin)` and its left join
    // disappear, the label vector is referenced exactly ONCE per
    // propagation, and isolated vertices still label themselves.
    // PER-PARTITION CONTRACTION first (r18, guide §2.3/§2.4): the loop
    // below only needs CONNECTIVITY, yet near-dup pair generators feed
    // it quadratic clique relations (a k-member duplicate group arrives
    // as k²/2 pairs — millions of rows at bench scale, unbounded at
    // corpus scale). One narrow mapPartitions union-find collapses each
    // partition's edges to ≤ one star edge per node BEFORE anything is
    // symmetrized, persisted, or joined — the eager cut below is the
    // only time the full pair stream is ever read, and it never crosses
    // an exchange. It also de-duplicates the caller's edge subtree:
    // symRaw's two legs (and the endpoint-derived vertex set of the
    // edges-only overload) used to re-execute the raw edge plan per
    // reference; they now read the contracted checkpoint blocks.
    // (Eager, not lazy: sym's two union legs materialize concurrently
    // inside one job — the fan-out rule from the triangle measurement.)
    val contracted = contractEdges(edges).localCheckpoint(true)
    // CAPPED DRIVER FAST PATH (r18, the ccAbsorbParts pattern promoted
    // to the batch op): the contraction above has already collapsed the
    // pair volume to ≤ one star edge per (node, partition), so on any
    // graph whose CONTRACTED relation fits the cap, a driver-local
    // union-find replaces the whole pointer-jumping fixpoint — which at
    // bench scale is pure scheduling latency (Prof: 31 jobs / 45 stages
    // / 22 task-seconds for ~8 rounds over a relation that union-finds
    // in milliseconds). Identical labels by construction (min reachable
    // node id per component, fully converged). Past the cap the probe
    // falls through to the distributed loop — the 100 TB shape — so the
    // gate is contracted-size-adaptive, not a local-mode constant.
    underCap(contracted).map { probe =>
      import vertices.sparkSession.implicits._
      val remapDf = driverMinLabels(probe).toDF("node", "__c")
      vertices.select(col("node"))
        .join(broadcast(remapDf), Seq("node"), "left")
        .select(col("node"), coalesce(col("__c"), col("node")).as("component"))
    }.getOrElse(componentRounds(vertices, contracted, maxIters))
  }

  /** [[connectedComponents]]' distributed pointer-jumping fixpoint over
    * the contracted edges.
    */
  private def componentRounds(vertices: DataFrame, contracted: DataFrame,
                              maxIters: Int): DataFrame = {
    var labels = vertices.select(col("node"), col("node").as("component"))
      .localCheckpoint(false)
    val nNodes = labels.count() // materializes the seed labels; gates the broadcast
    val smallGraph = nNodes <= broadcastNodeLimit
    def small(df: DataFrame): DataFrame = if (smallGraph) broadcast(df) else df
    val symRaw = contracted.filter(col("src") =!= col("dst"))
      .select(col("src").as("u"), col("dst").as("v"))
      .union(contracted.filter(col("src") =!= col("dst"))
        .select(col("dst").as("u"), col("src").as("v")))
      .union(labels.select(col("node").as("u"), col("node").as("v")))
    // The union's legs inherit their subtrees' final shuffle widths
    // (AQE does not coalesce a union's result stages), so a bench-scale
    // sym caches as ~2·shuffle.partitions TINY blocks and every round's
    // scan pays that many no-op tasks. On the small-graph side of the
    // gate, narrow the cache once (coalesce is shuffle-free); past the
    // gate the width is real parallelism and stays.
    val sym = (if (smallGraph)
        symRaw.coalesce(math.max(2, contracted.sparkSession.sparkContext.defaultParallelism / 4))
      else symRaw)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Convergence reads off Σ component, exact in DECIMAL(38,0): every
    // per-node label is monotone non-increasing (prop takes a least();
    // jump maps a label to that node's label, itself ≤ the node id by
    // induction), so the sum is unchanged iff NO label changed — the
    // convergence check is a BY-PRODUCT of the round's materialization.
    var prevSum: Option[java.math.BigDecimal] = None
    var converged = false
    var i = 0
    // On the small-graph side of the gate, run the loop's own actions
    // WITHOUT AQE: every join is already an explicit broadcast and the
    // per-round relations are tiny, so adaptive planning only adds its
    // stage-materialization barriers — each broadcast build and each
    // exchange became its own scheduled job (measured: 6 jobs per round
    // → 2; the loop is driver-latency-bound at bench scale). The large
    // side of the gate keeps AQE (runtime broadcast discovery, skew
    // splits — exactly what r17 measured as load-bearing there). The
    // flag is restored in the finally; the loop's jobs all run inside.
    val spark = vertices.sparkSession
    val aqeKey = "spark.sql.adaptive.enabled"
    val aqePrev = spark.conf.get(aqeKey)
    if (smallGraph) spark.conf.set(aqeKey, "false")
    try {
    while (!converged && i < maxIters) {
      // localCheckpoint (the iteration contract shared by every loop in
      // this file): prop is referenced TWICE by the jump self-join and
      // labels feeds the next round — without truncation each round's
      // logical plan embeds the previous round's at every reference
      // (2^rounds plan nodes). localCheckpoint stores blocks AND makes
      // the plan a leaf. On the small-graph side prop's cut is LAZY
      // (r18): its two jump references are the broadcast build and the
      // stream side of ONE join, and with AQE off the driver resolves
      // the broadcast FUTURE before launching the stream stage — the
      // broadcast-build job materializes prop's blocks, the stream
      // stage reads them; strictly sequential, no concurrent
      // double-compute (unlike the triangle fan-out, where independent
      // consumers materialize in parallel). Net: 2 jobs per round
      // instead of 3, on a loop that is driver-latency-bound over the
      // contracted graph. The large-graph side keeps the eager cut —
      // there AQE plans both references as shuffle stages that DO
      // materialize concurrently.
      val prop = sym
        .join(small(labels.select(col("node").as("v"), col("component").as("nl"))),
          Seq("v"))
        .groupBy(col("u").as("node"))
        .agg(min("nl").as("component"))
        .localCheckpoint(!smallGraph)
      // pointer jump: label := label(label). Labels only ever shrink
      // toward the component min and every label is itself a node id
      // from the vertex set, so the inner self-join is total.
      val next = prop
        .join(small(prop.select(col("node").as("component"), col("component").as("jump"))),
          Seq("component"))
        .select(col("node"), col("jump").as("component"))
        .localCheckpoint(false)
      val newSum = next.agg(sum(col("component").cast("decimal(38,0)"))).head.getDecimal(0)
      // null-safe: an empty vertex set sums to null (and must converge
      // immediately, not NPE) — the ccAbsorb empty-batch path hits this
      converged = prevSum.exists(p =>
        if (p == null || newSum == null) p == newSum else p.compareTo(newSum) == 0)
      labels = next
      prevSum = Some(newSum)
      i += 1
    }
    } finally spark.conf.set(aqeKey, aqePrev)
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"connectedComponents: labels still changing after $maxIters rounds — " +
          "returning PARTIALLY converged components (raise maxIters; " +
          "convergence needs ~log2(graph diameter) rounds)")
    // The final labels are already a (local-)checkpointed leaf whose
    // blocks the last convergence-sum job materialized — downstream
    // re-executions read those blocks directly. The r17 exit path paid
    // an ADDITIONAL reliable checkpoint here (one more full job plus a
    // filesystem write per invocation, ~12 declared queries deep): that
    // bought only block-loss recovery, which every other loop in this
    // file already forgoes by design (localCheckpoint throughout).
    sym.unpersist()
    labels
  }

  /** [[connectedComponents]] with the vertex set derived from the edge
    * endpoints — the plain graph-analytics entry point.
    */
  def connectedComponents(edges: DataFrame): DataFrame = {
    // contract BEFORE deriving the vertex set: endpoints of the
    // contracted relation are exactly the endpoints of the raw one
    // (contractEdges preserves the node set), so the raw edge plan —
    // for the declared CC query a distinct+self-join co-occurrence
    // derivation — executes ONCE here instead of once per reference
    // (two vertex-union legs + two sym legs before r18). The inner
    // call's re-contraction of this already-contracted checkpoint is
    // one cheap narrow job over O(nodes) rows.
    val contracted = contractEdges(edges).localCheckpoint(true)
    connectedComponents(
      contracted.select(col("src").as("node"))
        .union(contracted.select(col("dst").as("node"))).distinct(),
      contracted)
  }

  /** INCREMENTAL connected-components absorb: merge a batch of new
    * edges into a STORED canonical labeling (`(node, component)` where
    * `component` is the component's min node id — [[connectedComponents]]'
    * output contract) and return the full updated labeling, EXACTLY
    * equal to batch CC over the union of the stored graph and the new
    * edges — without re-running the fixpoint over the corpus. This is
    * the missing half of the incremental dedup-store contract: the
    * stores absorb PAIRS incrementally, and this absorbs their cluster
    * LABELS.
    *
    * Work ∝ the batch, not the corpus:
    *  1. Seed lookup — the batch's endpoints (bounded by 2·|batch|)
    *     BROADCAST against the store: one narrow map-side semi-join
    *     pass; the store never shuffles.
    *  2. Contract — each new edge `(u,v)` becomes an edge between the
    *     SEED LABELS `(label(u), label(v))` (a new node seeds as its
    *     own id). The contracted graph has ≤ 2·|batch| vertices.
    *  3. Re-converge — [[connectedComponents]] runs on the CONTRACTED
    *     graph only: O(log batch-diameter) rounds over ∝|batch| rows.
    *     Its min-label output over min-node labels is again the min
    *     node id of each merged component, so canonicality is
    *     preserved by construction.
    *  4. Rewrite — only labels the contraction actually changed
    *     (`old ≠ new`, bounded by the touched components) broadcast
    *     back over the store: a second narrow map-side pass, again no
    *     store-side Exchange. New nodes append with their re-converged
    *     labels.
    *
    * The equality claim (absorb ≡ batch-over-union) holds because the
    * stored labeling is a valid canonical CC of the stored graph: each
    * stored component is internally connected, so contracting it to
    * its label loses no connectivity that the new edges could use, and
    * the min over merged labels equals the min node over merged
    * components.
    */
  def ccAbsorb(stored: DataFrame, newEdges: DataFrame,
               maxIters: Int = 20): DataFrame = {
    val (updated, _, newNodes) = ccAbsorbParts(stored, newEdges, maxIters)
    updated.union(newNodes)
  }

  /** The DELTA form of [[ccAbsorb]]: only the labels the batch actually
    * changes — stored rows whose component merged (bounded by the
    * touched components' membership) plus the batch's new nodes. This
    * is what an APPEND-ONLY label store persists per batch
    * ([[Dedup.clustersIncremental]]): O(changed) rows written, never a
    * corpus rewrite. Union it with the untouched store rows to get
    * exactly [[ccAbsorb]]'s full labeling.
    */
  def ccAbsorbDelta(stored: DataFrame, newEdges: DataFrame,
                    maxIters: Int = 20): DataFrame = {
    val (_, changed, newNodes) = ccAbsorbParts(stored, newEdges, maxIters)
    changed.union(newNodes)
  }

  /** Shared absorb core → (full updated store labels, changed store
    * labels only, new-node labels).
    */
  private def ccAbsorbParts(stored: DataFrame, newEdges: DataFrame,
                            maxIters: Int): (DataFrame, DataFrame, DataFrame) = {
    val e = newEdges.filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
    val endpoints = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint() // referenced 3×; also pins the batch size once
    // 1. seed lookup: store-side map-only (broadcast semi-join)
    val seeds = stored.join(broadcast(endpoints), Seq("node"))
      .select(col("node"), col("component"))
      .localCheckpoint() // bounded by |endpoints|; safe to broadcast back
    // 2. contract new edges to component-level edges
    val contracted = e
      .join(broadcast(seeds.select(col("node").as("src"), col("component").as("lu"))),
        Seq("src"), "left")
      .join(broadcast(seeds.select(col("node").as("dst"), col("component").as("lv"))),
        Seq("dst"), "left")
      .select(coalesce(col("lu"), col("src")).as("src"),
        coalesce(col("lv"), col("dst")).as("dst"))
    // 3. re-converge ONLY the touched subgraph. The contracted graph is
    // BATCH-BOUNDED by contract (≤ |new edges| component-level edges),
    // so the normal path is a driver-local min-label union-find — one
    // collect job instead of an iteration of label-propagation jobs
    // whose fixed scheduling cost dwarfs a small batch (measured 1.5 s
    // for 65 edges). Identical labels to [[connectedComponents]] (min
    // reachable id per set); a contract-violating giant batch falls
    // back to the distributed loop via the capped probe.
    // One materialization before the capped probe: limit().collect()'s
    // incremental executeTake re-runs the upstream plan once per
    // scale-up wave when the relation is under the cap (the
    // nonMinMembers lesson); the checkpoint also serves the fallback's
    // three further references.
    val contractedCk = contracted.localCheckpoint(true)
    val remap = underCap(contractedCk).map { probe =>
      import stored.sparkSession.implicits._
      driverMinLabels(probe).toDF("oldc", "newc")
    }.getOrElse(connectedComponents(
        contractedCk.select(col("src").as("node"))
          .union(contractedCk.select(col("dst").as("node"))).distinct(),
        contractedCk, maxIters)
      .filter(col("node") =!= col("component"))
      .select(col("node").as("oldc"), col("component").as("newc"))
      .localCheckpoint()) // bounded by touched components; broadcast below
    // 4. rewrite: store-side map-only again (broadcast joins)
    val updated = stored
      .join(broadcast(remap), stored("component") === remap("oldc"), "left")
      .select(stored("node"), coalesce(col("newc"), stored("component")).as("component"))
    val changed = stored
      .join(broadcast(remap), stored("component") === remap("oldc"))
      .select(stored("node"), col("newc").as("component"))
    // new nodes seed as their own id, so their remap key is that id
    val newNodes = endpoints
      .join(broadcast(seeds.select(col("node"))), Seq("node"), "left_anti")
      .join(broadcast(remap), col("node") === col("oldc"), "left")
      .select(col("node"), coalesce(col("newc"), col("node")).as("component"))
    (updated, changed, newNodes)
  }

  /** Degree relation `(node, out_deg, in_deg)` — the cheap centrality
    * twin (and the spec's cross-check surface).
    */
  def degrees(edges: DataFrame): DataFrame = {
    val out = edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("out_deg"))
    val in = edges.groupBy(col("dst").as("node")).agg(count(lit(1)).as("in_deg"))
    out.join(in, Seq("node"), "full")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }
}
