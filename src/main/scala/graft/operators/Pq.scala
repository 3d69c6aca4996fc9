package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Product quantization (PQ) — the standard memory-compression path for
  * vector search at 100 TB scale: a dim-d float32 vector (4·d bytes)
  * becomes m sub-space codes (m bytes at c ≤ 256), and queries run
  * against the codes via asymmetric distance computation (ADC) — one
  * m·c lookup table per query instead of any full-vector arithmetic.
  * No counterpart in the reference (its index holds raw vectors,
  * hnsw.cc:33-43); this is the classic Jégou/Douze/Schmid design
  * re-expressed relationally.
  *
  * Everything is deterministic — codebooks are per-subspace
  * [[Ivf.kmeans]] runs (fixed-iteration Lloyd, DECIMAL-exact means),
  * assignment ties break by centroid id, ADC sums accumulate through
  * DECIMAL(38,12) — so both the code table and the ADC top-k
  * hash-check against DuckDB.
  *
  * Scale shape: codebooks are m·c rows (collected/broadcast — the
  * legitimately tiny side); encoding is ONE narrow map-side pass
  * ([[codesArray]] — the per-subspace argmins are literal-codebook
  * expressions inside whole-stage codegen, no join, no shuffle);
  * serving state is the PERSISTED code table ([[ensureEncoded]] /
  * [[ensureEncodedPartitioned]]), so an ADC query reads m small ints
  * per vector — or, composed with the IVF coarse layout
  * ([[topK]]), only the probed cells' code files — and never
  * touches the vector table at all.
  */
object Pq {

  /** 1-based slice of subspace `s` (length `subDim`) of a vector. */
  def subVector(vec: Column, s: Int, subDim: Int): Column =
    slice(vec, s * subDim + 1, subDim)

  /** Per-subspace codebooks `(subspace, centroid_id, centroid_vec)`:
    * one deterministic [[Ivf.kmeans]] per subspace over the sliced
    * sub-vectors (seed rule and tie-breaks identical to IVF's).
    */
  def codebooks(embeddings: DataFrame, m: Int, subDim: Int, c: Int, iters: Int,
                seedOffset: Int = 0): DataFrame =
    (0 until m).map { s =>
      Ivf.kmeans(
          embeddings.select(col("vec_id"),
            subVector(col("embedding"), s, subDim).as("embedding")),
          c, iters, seedOffset)
        .select(lit(s).as("subspace"), col("centroid_id"), col("centroid_vec"))
    }.reduce(_ unionByName _)

  /** [[codebooks]] memoized per content of `embeddings` and
    * `(m, subDim, c, iters, seedOffset)` ([[IndexMeta.memo]]; m·c·subDim
    * doubles per entry) — [[Ivf.kmeansCached]]'s contract. A transformed
    * view of a table (a [[balancedPerm]] rotation, [[residuals]]) has
    * its own plan, so it is its own entry.
    */
  def codebooksCached(embeddings: DataFrame, m: Int, subDim: Int, c: Int, iters: Int,
                      seedOffset: Int = 0): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    IndexMeta.memo(s"codebooks m=$m sd=$subDim c=$c i=$iters off=$seedOffset", embeddings)(
        codebooks(embeddings, m, subDim, c, iters, seedOffset)
          .as[(Int, Long, Seq[Double])].collect())
      .toSeq.toDF("subspace", "centroid_id", "centroid_vec")
  }

  /** OPQ-lite: a variance-BALANCING dimension permutation (the cheap
    * member of the OPQ family — a permutation IS an orthogonal
    * rotation, exactly invertible, zero arithmetic on the data path).
    * Plain PQ slices CONSECUTIVE dims into subspaces, so on real
    * (PCA-correlated / anisotropic) embeddings a few high-variance
    * dims can land in one subspace and starve the rest — that
    * subspace's c centroids carry most of the corpus energy and
    * quantization error concentrates. Ranking dims by variance and
    * dealing them round-robin across the m subspaces (rank r →
    * subspace r mod m) equalizes per-subspace energy, the first-order
    * objective OPQ optimizes with a full learned rotation.
    *
    * Deterministic and oracle-checkable: per-dim variance uses the
    * DECIMAL(38,12)-exact sums of the kmeans machinery (partition-
    * order invariant; E[x²]−E[x]² assembled in fixed double ops), ties
    * rank by dim index. Returns `perm` with `perm(o)` = the 0-based
    * INPUT dim stored at output position `o`. One narrow aggregate
    * scan; the d variances collect driver-side (d doubles).
    */
  def balancedPerm(embeddings: DataFrame, m: Int, subDim: Int): Seq[Int] = {
    val stats = embeddings
      .select(posexplode(transform(col("embedding"), x => x.cast("double")))
        .as(Seq("i", "x")))
      .groupBy("i")
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(38,12)")).cast("double").as("s1"),
        sum((col("x") * col("x")).cast("decimal(38,12)")).cast("double").as("s2"))
      .select(col("i"),
        (col("s2") / col("n") - (col("s1") / col("n")) * (col("s1") / col("n"))).as("v"))
      .collect().map(r => (r.getInt(0), r.getDouble(1)))
    val d = stats.length
    require(d == m * subDim, s"vector dim $d != m*subDim = ${m * subDim}")
    val ranked = stats.sortBy { case (i, v) => (-v, i) }.map(_._1)
    val perm = new Array[Int](d)
    for (r <- 0 until d) perm((r % m) * subDim + r / m) = ranked(r)
    perm.toIndexedSeq
  }

  /** Apply a dimension permutation to a vector column (the rotation's
    * whole data path: d positional reads, inside codegen).
    */
  def permute(vec: Column, perm: Seq[Int]): Column =
    array(perm.map(j => vec.getItem(j)): _*)

  /** Collected codebook rows — the legitimately tiny side (m·c·subDim
    * doubles), grouped by subspace with centroid ids validated dense
    * `0..c-1` (the [[Ivf.centroids]] seed rule guarantees it; positional
    * LUT/code lookups depend on it).
    */
  private def collectBooks(books: DataFrame): Map[Int, IndexedSeq[Seq[Double]]] =
    booksOf(CellSnapshot.Collected.of(books))

  /** [[collectBooks]] over codebook rows already on the driver. */
  private def booksOf(books: CellSnapshot.Collected): Map[Int, IndexedSeq[Seq[Double]]] = {
    val Seq(sub, id, vec) = Seq("subspace", "centroid_id", "centroid_vec").map(books.schema.fieldIndex)
    val rows = books.rows.map(r => (r.getAs[Number](sub).intValue, r.getAs[Number](id).longValue,
      r.getSeq[Number](vec).map(_.doubleValue)))
    rows.groupBy(_._1).map { case (s, bs) =>
      val sorted = bs.sortBy(_._2)
      require(sorted.map(_._2).toSeq == (0L until sorted.length.toLong),
        s"subspace $s centroid ids must be dense 0..c-1 (Ivf seed rule) for positional lookup")
      s -> sorted.map(_._3).toIndexedSeq
    }
  }

  /** The single query vector of a 1-row `(query_vec)` frame, collected
    * driver-side (the ADC LUT is built from it as literals — same
    * legitimacy class as the IVF probe-set collect).
    */
  private def collectQuery(queries: DataFrame): Seq[Double] = {
    val rows = queries.select(col("query_vec")).collect()
    require(rows.length == 1, s"ADC serving takes exactly one query row, got ${rows.length}")
    rows.head.getSeq[Double](0)
  }

  /** Encode every vector in ONE narrow pass: `(vec_id, codes)` with
    * `codes(s)` = nearest centroid of subspace `s` (ties → smaller
    * centroid id, the [[Ivf.assignWith]] convention; squared L2 ranks
    * identically to L2). The whole encode is ONE native codegen
    * expression ([[graft.functions.PqEncodeExpr]]) — the codebooks ride
    * as a single flattened reference object, not m·c struct literals,
    * so the plan stays O(1) nodes at production codebook sizes (m=16,
    * c=256 would otherwise embed 4096 argmin candidates and risk
    * codegen-method limits). Map-side projection inside whole-stage
    * codegen: no join, no window, no Exchange.
    */
  def codesArray(embeddings: DataFrame, books: DataFrame, m: Int, subDim: Int): DataFrame = {
    val bySub = collectBooks(books)
    require(bySub.keySet == (0 until m).toSet,
      s"codebooks must cover subspaces 0..${m - 1}, got ${bySub.keySet.toSeq.sorted}")
    require(bySub.values.forall(_.forall(_.length == subDim)),
      s"codebook centroids must have subDim=$subDim dims")
    embeddings.select(col("vec_id"),
      pqEncode(col("embedding"), (0 until m).map(bySub(_).toSeq)).as("codes"))
  }

  /** [[codesArray]] exploded to `(vec_id, subspace, code)` — the
    * relational form ([[reconstruct]] joins on it). Still zero-shuffle.
    */
  def encode(embeddings: DataFrame, books: DataFrame, m: Int, subDim: Int): DataFrame =
    codesArray(embeddings, books, m, subDim)
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("subspace", "code")))

  /** Code table rendered one row per vector, codes joined subspace-order
    * with '_' (the driver's compare cannot sort list columns). Input is
    * the [[codesArray]] form — a pure projection, no aggregation.
    */
  def codesAsString(codes: DataFrame): DataFrame =
    codes.select(col("vec_id"),
      concat_ws("_", col("codes").cast("array<string>")).as("codes"))

  /** ADC top-k over a code table: the per-query lookup table
    * `lut[s][j] = ‖query_s − codebook_s[j]‖²` (m·c doubles — same
    * in-order double fold as [[graft.functions.L2DistanceSqExpr]]) is
    * computed driver-side and embedded as literals, so per-vector work
    * is m array lookups + one DECIMAL-exact m-term sum, all map-side,
    * and the top-k plans as TakeOrderedAndProject. No join, no
    * aggregation, no re-encode — the vector table is never read.
    */
  def adcTopKFromCodes(codes: DataFrame, books: Map[Int, IndexedSeq[Seq[Double]]],
                       queryVec: Seq[Double], k: Int, roundTo: Int = 6): DataFrame = {
    val m = books.size
    require(books.keySet == (0 until m).toSet)
    val subDim = books(0).head.length
    require(queryVec.length == m * subDim,
      s"query dim ${queryVec.length} != m*subDim = ${m * subDim}")
    val lut: Map[Int, Seq[Double]] = books.map { case (s, cvs) =>
      s -> cvs.map { cv =>
        var acc = 0.0; var i = 0
        while (i < subDim) { val d = cv(i) - queryVec(s * subDim + i); acc += d * d; i += 1 }
        acc
      }
    }
    // exact re-cast per add — see adcDistBatch (decimal promotion
    // would cut scale past 38 digits of precision at large m)
    val total = (0 until m).map { s =>
      element_at(typedlit(lut(s)), col("codes").getItem(s) + 1).cast("decimal(38,12)")
    }.reduce((a, b) => (a + b).cast("decimal(38,12)"))
    codes
      .select(col("vec_id"), round(sqrt(total.cast("double")), roundTo).as("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(k)
  }

  /** In-place ADC top-k (encode + score in one plan) — the spec anchor;
    * serving paths use [[ensureEncoded]] + [[adcTopKStored]] so the
    * encode pass is paid once, not per query.
    */
  def adcTopK(embeddings: DataFrame, books: DataFrame, queries: DataFrame,
              m: Int, subDim: Int, k: Int, roundTo: Int = 6): DataFrame =
    adcTopKFromCodes(codesArray(embeddings, books, m, subDim), collectBooks(books),
      collectQuery(queries), k, roundTo)

  /** Persist the code table once per content of `embeddings` and
    * `books` ([[IndexMeta.ensure]]) — `(vec_id, codes)` parquet plus a
    * `_codebooks` sidecar, so retrained codebooks rebuild the stored
    * codes. This is PQ's serving state: ADC queries read stored codes
    * and never re-encode (the reference analog: serve from the prebuilt
    * structure, hnsw.cc:276-285).
    */
  def ensureEncoded(embeddings: DataFrame, books: DataFrame, m: Int, subDim: Int,
                    dir: String): Unit =
    IndexMeta.ensure(dir, s"pq_m=$m,sd=$subDim", embeddings, books) {
      codesArray(embeddings, books, m, subDim).write.mode("overwrite").parquet(dir)
      books.write.mode("overwrite").parquet(s"$dir/_codebooks")
    }

  /** Serve ADC top-k from a PERSISTED code table ([[ensureEncoded]]):
    * the plan scans only the stored `(vec_id, codes)` files.
    */
  def adcTopKStored(spark: SparkSession, dir: String, queries: DataFrame, k: Int,
                    roundTo: Int = 6): DataFrame =
    adcTopKFromCodes(spark.read.parquet(dir), storedBooks(CellSnapshot.open(spark, dir)),
      collectQuery(queries), k, roundTo)

  /** IVF-PQ serving layout: the code table written partitioned BY
    * coarse cell (`dir/cell=<k>/` holds `(vec_id, codes)`), with
    * `_centroids` and `_codebooks` sidecars and `_graft_kind` = `pq`.
    * The classic composition — coarse quantizer prunes, product codes
    * score — each half already fingerprinted/deterministic on its own.
    * The kind rides in the fingerprint, so a directory written before
    * the marker existed is rebuilt rather than served without it.
    */
  def ensureEncodedPartitioned(embeddings: DataFrame, cents: DataFrame, books: DataFrame,
                               m: Int, subDim: Int, dir: String): Unit =
    IndexMeta.ensure(dir, s"ivfpq_m=$m,sd=$subDim;kind=pq", embeddings, cents, books)(
      writeEncodedPartitioned(embeddings, cents, books, m, subDim, dir))

  /** Write the `pq` code layout of `embeddings` at `dir`: codes by
    * cell, a reset snapshot lineage, the kind marker and both sidecars.
    */
  def writeEncodedPartitioned(embeddings: DataFrame, cents: DataFrame,
                              books: DataFrame, m: Int, subDim: Int, dir: String): Unit = {
    val spark = embeddings.sparkSession
    codesArray(embeddings, books, m, subDim)
      .join(Ivf.assignWith(embeddings, cents), Seq("vec_id"))
      .write.mode("overwrite").partitionBy("cell").parquet(dir)
    // a full rebuild supersedes any snapshot lineage from a previous
    // code layout at this dir (see CellSnapshot.reset)
    CellSnapshot.reset(spark, dir)
    Ivf.writeLayoutKind(spark, dir, "pq")
    cents.write.mode("overwrite").parquet(s"$dir/_centroids")
    books.write.mode("overwrite").parquet(s"$dir/_codebooks")
  }

  private type Books = Map[Int, IndexedSeq[Seq[Double]]]

  /** The layout's `_codebooks` sidecar, collected once per file set. */
  private def storedBooks(snap: CellSnapshot.Snapshot): Books =
    booksOf(snap.sidecar("_codebooks").getOrElse(throw new IllegalStateException(
      s"${snap.dir} has no _codebooks sidecar")))

  /** How an IVF code layout kind ([[Ivf.layoutKind]]) is served and
    * grown — the one table [[topK]] and [[insertInto]] read:
    *  - `pq` ([[ensureEncodedPartitioned]]): `_codebooks`, one LUT per
    *    query;
    *  - `pq_residual` ([[ensureEncodedPartitionedResidual]]): the
    *    residual-trained `_codebooks`, one LUT per probed (query, cell)
    *    — the LUT of the query's residual `q − centroid(cell)`, so the
    *    true ADC distance `‖(q − c) − r̂‖ = ‖q − (c + r̂)‖` needs no
    *    correction term;
    *  - `ivfsq8` ([[Sq.ensureEncodedPartitioned]]): the affine
    *    codebooks of `_bounds` ([[Sq.affineBooks]]: d subspaces of one
    *    dim, 256 levels each), one LUT per query.
    * `encode` turns `rows(vec_id, embedding)` into the layout's
    * `(vec_id, codes, cell)` rows against its frozen sidecars and the
    * given centroids.
    */
  private final case class CodeKind(books: CellSnapshot.Snapshot => Books,
                                    lutPerCell: Boolean,
                                    encode: (CellSnapshot.Snapshot, DataFrame, DataFrame) => DataFrame)

  private val codeKinds: Map[String, CodeKind] = {
    def codes(books: Books): Column =
      pqEncode(col("embedding"), (0 until books.size).map(books(_).toSeq)).as("codes")
    Map(
      "pq" -> CodeKind(storedBooks, lutPerCell = false, (snap, rows, cents) =>
        rows.select(col("vec_id"), codes(storedBooks(snap)))
          .join(Ivf.assignWith(rows, cents), Seq("vec_id"))),
      "pq_residual" -> CodeKind(storedBooks, lutPerCell = true, (snap, rows, cents) =>
        residuals(rows, cents).select(col("vec_id"), codes(storedBooks(snap)), col("cell"))),
      "ivfsq8" -> CodeKind(snap => {
          val (lo, hi) = Sq.boundsOf(snap)
          Sq.affineBooks(lo, hi)
        }, lutPerCell = false, (snap, rows, cents) => {
          val (lo, hi) = Sq.boundsOf(snap)
          rows.select(col("vec_id"), Sq.encodeCol(col("embedding"), lo, hi).as("codes"))
            .join(Ivf.assignWith(rows, cents), Seq("vec_id"))
        }))
  }

  /** The [[CodeKind]] of `snap`; `op` names the refusing entry point
    * when the layout holds vectors or no codes it knows.
    */
  private def codeKindOf(snap: CellSnapshot.Snapshot, op: String): CodeKind = {
    require(codeKinds.contains(snap.kind),
      s"$op takes IVF-PQ ('pq'), residual IVF-PQ ('pq_residual') and IVF-SQ8 " +
        s"('ivfsq8') code layouts, but ${snap.dir} is a '${snap.kind}' layout")
    codeKinds(snap.kind)
  }

  /** Exact L2 re-rank of the ADC shortlist: the `shortlist` best ADC
    * candidates of each query are re-scored against their raw vectors
    * in `embeddings(vec_id, embedding)`. One value carries both, so a
    * shortlist cannot be asked for without the vectors that re-rank it.
    */
  final case class Rerank(embeddings: DataFrame, shortlist: Int)

  /** THE IVF top-k over a code layout, served the way its recorded kind
    * says ([[CodeKind]]; any other kind is refused by name).
    *
    * `queries` is either `(query_id, query_vec)` rows — per-query
    * `(query_id, vec_id, dist)` top-k out — or the one-row
    * `(query_vec)` frame of a single query, served as a batch of one
    * with the id dropped: `(vec_id, dist)`, nearest first, ties by
    * `vec_id` (for one query the final rank is a `TakeOrdered`).
    *
    * Every query probes its `nprobe` nearest cells ([[Ivf.probePlan]],
    * formed on the driver); the code scan is partition-pruned to the
    * UNION of probed cells (unprobed cells' code files are never
    * opened); each candidate meets only the LUT rows of the queries
    * that probed ITS cell; ADC scores it ([[adcDistBatch]]) and the
    * bounded-heap aggregate ranks per query. The whole batch costs ONE
    * pruned code scan and zero reads of the raw vectors — m bytes of
    * information per candidate, the form PQ exists for at 100 TB. The
    * LUT side is built from the query vectors the probe plan already
    * collected, so the query frame is read once, on the driver.
    *
    * `predicate` (filtered ANN: "nearest neighbors WHERE attr = x") sits
    * directly above the pruned code scan, so a scan-pushable predicate
    * lands in `PushedFilters`; it narrows ADC input, it does not widen
    * the probe. The layout's tombstones ([[Tombstones]]) are always
    * excluded by a broadcast anti-join, before the shortlist: a
    * takedown reaches no shortlist, no re-rank read and no result.
    *
    * `exactSums = false` sums the ADC terms as doubles
    * ([[adcDistBatchDouble]]) — the serving twin of the decimal-exact
    * sum, for wide codes where the decimal chain prices the ADC stage
    * out (SCALE_SMOKE.md).
    *
    * `rerank` is two-stage serving with EXACT re-ranking (IVF-ADC+R):
    * ADC picks each query's `shortlist` candidates from the codes alone,
    * then the raw-vector table meets that Q·R-row candidate relation
    * through ONE broadcast hash join on `vec_id` and exact L2 orders the
    * final top-k. PQ error can only affect WHICH candidates survive,
    * never their final ordering, so recall is recovered by widening the
    * shortlist (R = 3-5×k typical). No driver round-trip and no per-id
    * plan literals: a batch of 10k queries × shortlist 100 would
    * otherwise embed 1M `In` literals; the join keeps the plan O(1) in
    * batch × shortlist.
    */
  def topK(spark: SparkSession, dir: String, queries: DataFrame, k: Int, nprobe: Int,
           roundTo: Int = 6, predicate: Option[Column] = None, exactSums: Boolean = true,
           rerank: Option[Rerank] = None): DataFrame = {
    val snap = CellSnapshot.open(spark, dir) // one-version pin
    val code = codeKindOf(snap, "Pq.topK")
    rerank.foreach(r => require(r.shortlist >= k, s"shortlist ${r.shortlist} must be >= k $k"))
    val single = !queries.columns.contains("query_id")
    val plan = Ivf.probePlanOver(Ivf.servingCentroids(snap),
      if (single) queries.select(lit(0L).as("query_id"), col("query_vec")) else queries, nprobe)
    val qs = broadcast(plan.queries(spark))
    val books = code.books(snap)
    val pruned = snap.read("", "cell").filter(col("cell").isin(plan.unionCells: _*)) // partition-pruned
    val live = Ivf.withoutExcluded(predicate.fold(pruned)(pruned.filter), snap.tombstones)
    // each candidate meets only the LUT rows of the queries probing its
    // cell; the LUTs are built from the vectors the probe plan collected
    val withLut =
      if (code.lutPerCell) // one LUT per probe pair: the `cell` join IS the probe
        live.join(broadcast(plan.residuals(spark).select(col("query_id"), col("cell"),
          pqLut(col("query_vec"), (0 until books.size).map(books(_).toSeq)).as("lut"))),
          Seq("cell"))
      else {
        val luts = broadcast(withLuts(qs, books))
        // one query's pruned cells are exactly its probes
        if (plan.keys.length == 1) live.crossJoin(luts)
        else live.join(broadcast(plan.pairs(spark)), Seq("cell")).join(luts, Seq("query_id"))
      }
    val (m, c) = (books.size, books(0).length)
    val adc = if (exactSums) adcDistBatch(m, c, roundTo) else adcDistBatchDouble(m, c, roundTo)
    // per-query `n` nearest: the bounded heap, a TakeOrdered for one query
    def nearest(rows: DataFrame, n: Int): DataFrame =
      if (single) rows.orderBy(col("dist"), col("vec_id")).limit(n)
      else Ivf.heapTopKPerQuery(rows, n, "dist")
    val scored = withLut.select(col("query_id"), col("vec_id"), adc.as("dist"))
    val ranked = rerank.fold(scored) { r =>
      // the ADC dist is discarded: the final ranking is exact
      val cand = nearest(scored, r.shortlist).select("query_id", "vec_id")
      r.embeddings.select(col("vec_id"), col("embedding"))
        .join(broadcast(cand), Seq("vec_id"))
        .join(qs, Seq("query_id"))
        .select(col("query_id"), col("vec_id"),
          round(l2Distance(col("embedding"), col("query_vec")), roundTo).as("dist"))
    }
    val top = nearest(ranked, k)
    if (single) top.drop("query_id") else top
  }

  /** [[topK]] with exact re-ranking, under its former batch name. */
  def ivfpqTopKRerankBatch(spark: SparkSession, dir: String, embeddings: DataFrame,
                           queries: DataFrame, k: Int, nprobe: Int, shortlist: Int): DataFrame =
    topK(spark, dir, queries, k, nprobe, rerank = Some(Rerank(embeddings, shortlist)))

  /** Cell-local incremental insert into an IVF code layout — the
    * compressed-tier twin of `Ivf.insertInto`: `rows(vec_id, embedding)`
    * are encoded the way the layout's recorded kind stores them
    * ([[CodeKind]]; any other kind is refused by name), against its
    * FROZEN sidecars, assigned with its `_centroids` and appended to
    * their cells:
    *  - `pq`: the rows encoded with `_codebooks`;
    *  - `pq_residual`: their residuals `x − centroid(cell)` encoded with
    *    the residual-trained `_codebooks`;
    *  - `ivfsq8`: the rows encoded with `_bounds` — out-of-range
    *    components clamp, the documented SQ8 drift posture.
    * Only the receiving `cell=` subtrees gain files; encoding against
    * frozen sidecars is deterministic, so the grown layout serves
    * identically to one encoded from the union in a single pass
    * (IvfInsertSpec, ResidualPqSpec, SqSpec). The source fingerprint is
    * invalidated, same contract as the IVF form.
    *
    * Frozen sidecars are the production posture (retraining would
    * re-encode the whole corpus); drift under a shifting distribution
    * is caught by the build fingerprint when the owner eventually
    * retrains.
    */
  def insertInto(spark: SparkSession, dir: String, rows: DataFrame): Unit = {
    val snap = CellSnapshot.open(spark, dir)
    val code = codeKindOf(snap, "Pq.insertInto")
    CellSnapshot.appendAssigned(spark, snap,
      code.encode(snap, rows, Ivf.servingCentroids(snap).frame(spark)), "cell")
    IndexMeta.invalidate(spark, dir)
  }

  /** RECLUSTER the IVF-PQ code layout onto new coarse centroids — the
    * compressed-tier twin of [[Ivf.reclusterPartitioned]]. Plain-PQ
    * codes are CELL-INDEPENDENT (codebooks trained on raw vectors), so
    * a recluster changes only the routing: stored codes are rewritten
    * under their new cells byte-for-byte, and ADC scores are untouched
    * — serving equality with a fresh encode-partitioned build over the
    * live rows is exact, not approximate. Codes carry no geometry to
    * assign with, so the SOURCE vector table supplies the assignment
    * (`embeddings` must cover every live id — checked, because an
    * inner join would silently drop unmatched rows from the index).
    * Residual layouts fail fast: their codes encode `x − centroid(x)`,
    * so moving a row's cell invalidates its code — rebuild through
    * [[ensureEncodedPartitionedResidual]] (and retrain, since the
    * codebooks were fit to the old cells' residual distribution).
    * Atomicity: generation tree + generation-scoped centroid sidecar
    * staged before the single manifest flip (`Ivf.centroidsOf` resolves
    * routing consistently); tombstones folded and cleared.
    */
  def reclusterEncodedPartitioned(spark: SparkSession, dir: String,
                                  embeddings: DataFrame, newCents: DataFrame): Unit = {
    val kind = Ivf.layoutKind(spark, dir)
    require(kind != "pq_residual",
      s"$dir holds residual codes — cell-coupled, rebuild through " +
        "ensureEncodedPartitionedResidual instead of reclustering")
    Ivf.reclusterPayloadPartitioned(spark, dir, embeddings, newCents)
  }

  /** BATCH ADC score column over `(codes, lut)` rows: a static chain of
    * m DECIMAL(38,12) term additions (identical decimal-widening
    * semantics to [[adcTopKFromCodes]], so batch == single bit-for-bit),
    * the LUT a per-query COLUMN (flattened m·c doubles from
    * [[graft.functions.PqLutExpr]]) instead of plan literals — so one
    * plan serves every query in the batch.
    */
  private[operators] def adcDistBatch(m: Int, c: Int, roundTo: Int): Column = {
    // re-cast after EVERY add: Spark's decimal promotion grows the
    // result type by one digit per chained addition, and past precision
    // 38 it rescues precision by cutting scale (to as low as 6) — at
    // SQ8's m=64 the sum would silently round to 6 decimals and break
    // the oracle hash. The interposed casts are exact (ADC sums are
    // far below 10^26) and keep every intermediate at scale 12.
    val total = (0 until m).map { s =>
      element_at(col("lut"), col("codes").getItem(s) + lit(s * c + 1)).cast("decimal(38,12)")
    }.reduce((a, b) => (a + b).cast("decimal(38,12)"))
    round(sqrt(total.cast("double")), roundTo)
  }

  /** [[adcDistBatch]] with plain DOUBLE term additions — the SERVING
    * twin of the decimal-exact sum. The decimal widening exists for
    * oracle portability, but it prices wide codes out of serving:
    * decimal adds are ~50× a double add, and at m=25 the ADC stage
    * drops to ~2 q/s at 1M (SCALE_SMOKE.md). The double chain sums the
    * same terms in the same fixed subspace order (deterministic — the
    * fold order never depends on partitioning), so rankings can differ
    * from the exact form only where two candidates' decimal sums are
    * closer than double rounding error; PqSpec pins fixture equality.
    * Used by the fast shortlist stage ([[topK]] with
    * `exactSums = false`) — in two-stage serving the ADC only SELECTS
    * candidates and the final ranking is exact L2 either way.
    */
  private[operators] def adcDistBatchDouble(m: Int, c: Int, roundTo: Int): Column = {
    val total = (0 until m).map { s =>
      element_at(col("lut"), col("codes").getItem(s) + lit(s * c + 1))
    }.reduce(_ + _)
    round(sqrt(total), roundTo)
  }

  /** Per-query LUT rows `(query_id, lut)` computed ON THE EXECUTORS —
    * the distributed form of the driver-side LUT in
    * [[adcTopKFromCodes]]: Q queries stay a DataFrame, each mapping to
    * its flattened m·c-double LUT in one narrow codegen pass.
    */
  def withLuts(queries: DataFrame, books: Map[Int, IndexedSeq[Seq[Double]]]): DataFrame = {
    val m = books.size
    require(books.keySet == (0 until m).toSet)
    queries.select(col("query_id"),
      pqLut(col("query_vec"), (0 until m).map(books(_).toSeq)).as("lut"))
  }

  /** BATCH ADC top-k from a persisted code table ([[ensureEncoded]]):
    * `(query_id, query_vec)` in, per-query `(query_id, vec_id, dist)`
    * top-k out. The LUTs broadcast (Q·m·c doubles — the legitimately
    * small side), the code table is scanned ONCE for the whole batch,
    * and ranking is the bounded-heap aggregate — the amortized serving shape
    * for production query streams (vs one scan per query in the
    * single-query path).
    */
  def adcTopKStoredBatch(spark: SparkSession, dir: String, queries: DataFrame, k: Int,
                         roundTo: Int = 6): DataFrame = {
    val books = storedBooks(CellSnapshot.open(spark, dir))
    val m = books.size
    val c = books(0).length
    val scored = spark.read.parquet(dir)
      .crossJoin(broadcast(withLuts(queries, books)))
      .select(col("query_id"), col("vec_id"), adcDistBatch(m, c, roundTo).as("dist"))
    Ivf.heapTopKPerQuery(scored, k, "dist")
  }

  /** Quantized reconstruction `(vec_id, recon)` — concatenated codebook
    * centroids of each vector's codes (spec surface: ADC distances must
    * equal direct distances to these reconstructions).
    */
  def reconstruct(embeddings: DataFrame, books: DataFrame, m: Int, subDim: Int): DataFrame =
    encode(embeddings, books, m, subDim)
      .join(broadcast(books), Seq("subspace"))
      .filter(col("code") === col("centroid_id").cast("int"))
      .groupBy("vec_id")
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("subspace"), col("centroid_vec")))),
        x => x.getField("centroid_vec"))).as("recon"))

  // ======================================================================
  // Residual IVF-PQ — codes quantize x − centroid(cell), not x
  // ======================================================================

  /** Residual table `(vec_id, cell, embedding)`: each vector's coarse
    * assignment plus its DOUBLE residual `x − centroid(cell)`. This is
    * the classic IVF-PQ refinement (Jégou/Douze/Schmid §IV: quantize
    * the residual of the coarse quantizer, not the vector): residual
    * energy is the WITHIN-cell variance — a fraction of total corpus
    * energy — so the same m·c code budget covers a much smaller sphere
    * and ADC error shrinks accordingly (SCALE_SMOKE.md measures the
    * lift on the clustered corpus). Fully deterministic: the coarse
    * assignment is [[Ivf.assignWith]]'s argmin and the subtraction is
    * elementwise double — both mirrored exactly in the DuckDB oracle.
    *
    * Scale shape: one broadcast-assign pass + one broadcast centroid
    * join — the vector table is scanned, never shuffled.
    */
  def residuals(embeddings: DataFrame, cents: DataFrame): DataFrame =
    embeddings
      .join(Ivf.assignWith(embeddings, cents), Seq("vec_id"))
      .join(broadcast(cents.select(col("centroid_id").as("cell"), col("centroid_vec"))),
        Seq("cell"))
      .select(col("vec_id"), col("cell"),
        zip_with(transform(col("embedding"), x => x.cast("double")),
          col("centroid_vec"), (x, cv) => x - cv).as("embedding"))

  /** Codebooks trained on the RESIDUALS of `cents`' cells
    * ([[codebooks]] over [[residuals]]), memoized like
    * [[codebooksCached]] (the residual plan carries `cents`, so another
    * coarse-centroid choice is another entry). `seedOffset` should lie
    * PAST the coarse seed rows: when `cents` are [[Ivf.centroids]]-seeded,
    * rows `vec_id < coarseC` ARE the coarse centroids, so their
    * residuals are exactly zero — seeding the product codebooks from
    * them would collapse every codeword to the origin
    * (ResidualPqSpec's degeneracy pin).
    */
  def residualCodebooksCached(embeddings: DataFrame, cents: DataFrame,
                              m: Int, subDim: Int, c: Int, iters: Int,
                              seedOffset: Int): DataFrame =
    codebooksCached(residuals(embeddings, cents).select(col("vec_id"), col("embedding")),
      m, subDim, c, iters, seedOffset)

  /** Residual-encoded IVF-PQ serving layout: `dir/cell=<k>/` holds
    * `(vec_id, codes)` where `codes` quantize the RESIDUAL against the
    * cell's centroid (`_centroids` / `_codebooks` sidecars as in
    * [[ensureEncodedPartitioned]]; `_graft_kind` records `pq_residual`
    * so maintenance entry points cannot silently mix plain and residual
    * codes). Encode is the same single narrow pass — the residual
    * subtraction fuses into the projection feeding
    * [[graft.functions.PqEncodeExpr]].
    */
  def ensureEncodedPartitionedResidual(embeddings: DataFrame, cents: DataFrame,
                                       books: DataFrame, m: Int, subDim: Int,
                                       dir: String): Unit =
    IndexMeta.ensure(dir, s"ivfpqres_m=$m,sd=$subDim", embeddings, cents, books) {
      val spark = embeddings.sparkSession
      val bySub = collectBooks(books)
      require(bySub.keySet == (0 until m).toSet,
        s"codebooks must cover subspaces 0..${m - 1}, got ${bySub.keySet.toSeq.sorted}")
      residuals(embeddings, cents)
        .select(col("vec_id"),
          pqEncode(col("embedding"), (0 until m).map(bySub(_).toSeq)).as("codes"),
          col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(dir)
      CellSnapshot.reset(spark, dir)
      Ivf.writeLayoutKind(spark, dir, "pq_residual")
      cents.write.mode("overwrite").parquet(s"$dir/_centroids")
      books.write.mode("overwrite").parquet(s"$dir/_codebooks")
    }

  /** Residual reconstruction `x̂ = centroid(cell) + decode(codes)` —
    * spec surface: residual ADC distances must equal direct distances
    * to these reconstructions.
    */
  def reconstructResidual(embeddings: DataFrame, cents: DataFrame, books: DataFrame,
                          m: Int, subDim: Int): DataFrame = {
    val res = residuals(embeddings, cents)
    reconstruct(res.select(col("vec_id"), col("embedding")), books, m, subDim)
      .join(res.select(col("vec_id"), col("cell")), Seq("vec_id"))
      .join(broadcast(cents.select(col("centroid_id").as("cell"), col("centroid_vec"))),
        Seq("cell"))
      .select(col("vec_id"),
        zip_with(col("centroid_vec"), col("recon"), (cv, r) => cv + r).as("recon"))
  }
}
