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
  * ([[ivfpqTopK]]), only the probed cells' code files — and never
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

  // Driver-resident codebook memo (m·c·subDim doubles per entry) —
  // same amortization contract as Ivf.kmeansCached: `key` must
  // identify the source table (the declared queries key by data dir).
  private val memo = scala.collection.concurrent.TrieMap
    .empty[(String, Int, Int, Int, Int), Array[(Int, Long, Seq[Double])]]

  /** [[codebooks]] memoized per (key+tag, m, subDim, c, iters). `tag`
    * distinguishes TRANSFORMED views of the same source table (e.g. the
    * [[balancedPerm]]-rotated copy) whose scan leaves — and therefore
    * `key` — are identical to the raw table's.
    */
  def codebooksCached(embeddings: DataFrame, m: Int, subDim: Int, c: Int, iters: Int,
                      key: String, tag: String = "", seedOffset: Int = 0): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    // Same hazard as Ivf.kmeansCached: a different table under a reused
    // key would get bit-wrong codebooks with no error — fail loudly.
    IndexMeta.requireKeyMatchesScan(embeddings, key)
    memo.getOrElseUpdate((key + tag + s"@$seedOffset", m, subDim, c, iters),
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
  private def collectBooks(books: DataFrame): Map[Int, IndexedSeq[Seq[Double]]] = {
    val spark = books.sparkSession
    import spark.implicits._
    val rows = books
      .select(col("subspace").cast("int"), col("centroid_id").cast("long"), col("centroid_vec"))
      .as[(Int, Long, Seq[Double])].collect()
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

  /** Order-invariant content CRC of a codebook table (tiny: m·c rows) —
    * rides in the persisted-code-table fingerprints so retrained
    * codebooks invalidate stored codes.
    */
  private def booksFingerprint(books: DataFrame): String =
    String.valueOf(books.agg(
      sum(crc32(concat_ws(":", col("subspace"), col("centroid_id"),
        concat_ws(",", col("centroid_vec").cast("array<string>")))))).head().get(0))

  /** Persist the code table once per dir — `(vec_id, codes)` parquet
    * plus a `_codebooks` sidecar — under the same content-fingerprint
    * staleness contract as `Ivf.ensurePartitioned`. This is PQ's
    * serving state: ADC queries read stored codes and never re-encode
    * (the reference analog: serve from the prebuilt structure,
    * hnsw.cc:276-285).
    */
  def ensureEncoded(embeddings: DataFrame, books: DataFrame, m: Int, subDim: Int,
                    dir: String): Unit = {
    val spark = embeddings.sparkSession
    val fp = IndexMeta.cachedFingerprint(dir, s"pq_m=$m,sd=$subDim", Seq(embeddings, books)) {
      IndexMeta.fingerprint(embeddings, s"pq_m=$m,sd=$subDim;b=${booksFingerprint(books)}")
    }
    if (!IndexMeta.valid(spark, dir, "_SUCCESS", fp)) {
      codesArray(embeddings, books, m, subDim).write.mode("overwrite").parquet(dir)
      books.write.mode("overwrite").parquet(s"$dir/_codebooks")
      IndexMeta.write(spark, dir, fp)
    }
  }

  /** Serve ADC top-k from a PERSISTED code table ([[ensureEncoded]]):
    * the plan scans only the stored `(vec_id, codes)` files.
    */
  def adcTopKStored(spark: SparkSession, dir: String, queries: DataFrame, k: Int,
                    roundTo: Int = 6): DataFrame =
    adcTopKFromCodes(spark.read.parquet(dir),
      collectBooks(spark.read.parquet(s"$dir/_codebooks")), collectQuery(queries), k, roundTo)

  /** IVF-PQ serving layout: the code table written partitioned BY
    * coarse cell (`dir/cell=<k>/` holds `(vec_id, codes)`), with
    * `_centroids` and `_codebooks` sidecars. The classic composition —
    * coarse quantizer prunes, product codes score — each half already
    * fingerprinted/deterministic on its own.
    */
  def ensureEncodedPartitioned(embeddings: DataFrame, cents: DataFrame, books: DataFrame,
                               m: Int, subDim: Int, dir: String): Unit = {
    val spark = embeddings.sparkSession
    val fp = IndexMeta.cachedFingerprint(dir, s"ivfpq_m=$m,sd=$subDim",
        Seq(embeddings, cents, books)) {
      IndexMeta.fingerprint(embeddings, s"ivfpq_m=$m,sd=$subDim" +
        s";c=${IndexMeta.centroidFingerprint(cents)};b=${booksFingerprint(books)}")
    }
    if (!IndexMeta.valid(spark, dir, "_SUCCESS", fp)) {
      codesArray(embeddings, books, m, subDim)
        .join(Ivf.assignWith(embeddings, cents), Seq("vec_id"))
        .write.mode("overwrite").partitionBy("cell").parquet(dir)
      // a full rebuild supersedes any snapshot lineage from a previous
      // code layout at this dir (see CellSnapshot.reset)
      CellSnapshot.reset(spark, dir)
      cents.write.mode("overwrite").parquet(s"$dir/_centroids")
      books.write.mode("overwrite").parquet(s"$dir/_codebooks")
      IndexMeta.write(spark, dir, fp)
    }
  }

  /** IVF-PQ top-k: probe the `nprobe` nearest coarse cells (a PARTITION
    * filter — unprobed cells' code files are never opened), then ADC
    * over the surviving codes. Per-query cost is nprobe/C of the code
    * table — m bytes of information per candidate vector — with zero
    * reads of the raw vectors: the form PQ exists for at 100 TB.
    */
  def ivfpqTopK(spark: SparkSession, dir: String, queries: DataFrame, k: Int, nprobe: Int,
                roundTo: Int = 6, predicate: Option[Column] = None,
                excluded: Option[DataFrame] = None): DataFrame = {
    // data + routing pinned to one manifest version (Ivf contract)
    val (stored, cents) = Ivf.readLayoutWithCentroids(spark, dir)
    // nprobe cell ids to the driver — partition-filter formation, ranked
    // as Ivf.probePlan ranks them
    val probed = cents.crossJoin(broadcast(queries))
      .select(col("centroid_id"),
        l2Distance(col("centroid_vec"), col("query_vec")).as("qdist"))
      .orderBy(col("qdist"), col("centroid_id"))
      .limit(nprobe)
      .collect().map(_.getLong(0))
    // filtered ANN: the predicate sits directly above the pruned code
    // scan (pushable parts land in PushedFilters), narrowing ADC input;
    // tombstones drop via a broadcast anti-join (Ivf.withoutExcluded)
    val pruned = stored.filter(col("cell").isin(probed: _*))
    adcTopKFromCodes(Ivf.withoutExcluded(predicate.fold(pruned)(pruned.filter), excluded),
      collectBooks(spark.read.parquet(s"$dir/_codebooks")), collectQuery(queries), k, roundTo)
  }

  /** [[ivfpqTopK]] under the code layout's `_deletes` tombstones
    * ([[Tombstones]]): a takedown reaches the compressed serving tier
    * immediately — tombstoned ids never enter ADC scoring, so they can
    * appear in no shortlist and no final result. Same sidecar contract
    * as `Ivf.topKPartitioned`, which always excludes them.
    */
  def ivfpqTopKWithDeletes(spark: SparkSession, dir: String, queries: DataFrame,
                           k: Int, nprobe: Int, roundTo: Int = 6): DataFrame =
    ivfpqTopK(spark, dir, queries, k, nprobe, roundTo,
      excluded = Tombstones.ids(spark, dir))

  /** Record takedown ids against an encoded layout ([[Tombstones]]). */
  def recordDeletes(spark: SparkSession, dir: String, ids: DataFrame): Unit =
    Tombstones.record(spark, dir, ids)

  /** Cell-local incremental insert into an [[ensureEncodedPartitioned]]
    * code layout — the compressed-tier twin of `Ivf.insertInto`:
    * `rows(vec_id, embedding)` are ENCODED with the layout's own
    * `_codebooks` sidecar, assigned with its `_centroids`, and appended
    * to their cells. Only the receiving `cell=` subtrees gain files;
    * encoding against the frozen codebooks is deterministic, so the
    * grown layout serves (ADC, batch, rerank) identically to one
    * encoded from the union in a single pass (IvfInsertSpec). The
    * source fingerprint is invalidated, same contract as the IVF form.
    *
    * Frozen-codebook inserts are the production posture (re-training
    * codebooks would re-encode the whole corpus); codebook drift under
    * a shifting distribution is caught by the `booksFingerprint`
    * staleness check when the owner eventually retrains.
    */
  def insertInto(spark: SparkSession, dir: String, rows: DataFrame,
                 m: Int, subDim: Int): Unit = {
    // layout-kind guard: raw-vector encode appended to a RESIDUAL code
    // layout would serve silently wrong distances — fail loudly
    val kind = Ivf.layoutKind(spark, dir)
    require(kind != "pq_residual",
      s"$dir holds residual codes — use insertIntoResidual, not insertInto")
    val cents = Ivf.centroidsOf(spark, dir)
    val books = spark.read.parquet(s"$dir/_codebooks")
    CellSnapshot.appendAssigned(spark, dir,
      codesArray(rows, books, m, subDim)
        .join(Ivf.assignWith(rows, cents), Seq("vec_id")))
    IndexMeta.invalidate(spark, dir)
  }

  /** Cell-local incremental insert into a RESIDUAL code layout
    * ([[ensureEncodedPartitionedResidual]]): fresh rows assign with the
    * frozen `_centroids`, encode their residuals with the frozen
    * `_codebooks`, and append to their cells — deterministic, so the
    * grown layout serves identically to a single-pass residual encode
    * of the union (ResidualPqSpec).
    */
  def insertIntoResidual(spark: SparkSession, dir: String, rows: DataFrame): Unit = {
    require(Ivf.layoutKind(spark, dir) == "pq_residual",
      s"$dir does not hold residual codes — use insertInto")
    val cents = Ivf.centroidsOf(spark, dir)
    val books = spark.read.parquet(s"$dir/_codebooks")
    val bySub = collectBooks(books)
    CellSnapshot.appendAssigned(spark, dir,
      residuals(rows, cents)
        .select(col("vec_id"),
          pqEncode(col("embedding"), (0 until bySub.size).map(bySub(_).toSeq)).as("codes"),
          col("cell")))
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

  /** The full insert-then-recluster lifecycle on the code layout,
    * memoized once per dir — build on `base` with `buildCents`,
    * [[insertInto]] `fresh`, then [[reclusterEncodedPartitioned]] onto
    * `newCents` with the union as the assignment source (the declared
    * `q_ivfpq_recluster_topk` state; `Ivf.ensureReclusteredPartitioned`
    * on the compressed tier).
    */
  def ensureReclusteredEncodedPartitioned(base: DataFrame, fresh: DataFrame,
                                          buildCents: DataFrame, newCents: DataFrame,
                                          books: DataFrame, m: Int, subDim: Int,
                                          dir: String): Unit = {
    val spark = base.sparkSession
    val fp = IndexMeta.cachedFingerprint(dir, s"ivfpqrec_m=$m,sd=$subDim",
        Seq(base, fresh, buildCents, newCents, books)) {
      val tail = s"cb=${IndexMeta.centroidFingerprint(buildCents)}" +
        s";cn=${IndexMeta.centroidFingerprint(newCents)};b=${booksFingerprint(books)}"
      s"${IndexMeta.fingerprint(base, s"ivfpqrec_m=$m,sd=$subDim;$tail;base")}|" +
        IndexMeta.fingerprint(fresh, "fresh")
    }
    if (!IndexMeta.valid(spark, dir, "_SUCCESS", fp)) {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      codesArray(base, books, m, subDim)
        .join(Ivf.assignWith(base, buildCents), Seq("vec_id"))
        .write.mode("overwrite").partitionBy("cell").parquet(dir)
      buildCents.write.mode("overwrite").parquet(s"$dir/_centroids")
      books.write.mode("overwrite").parquet(s"$dir/_codebooks")
      insertInto(spark, dir, fresh, m, subDim)
      reclusterEncodedPartitioned(spark, dir, base.union(fresh), newCents)
      IndexMeta.write(spark, dir, fp)
    }
  }

  /** Build-on-base + [[insertInto]]-the-rest for the code layout,
    * memoized — the declared-query form (`Ivf.ensureInsertedPartitioned`
    * on the compressed tier).
    */
  def ensureInsertedEncodedPartitioned(base: DataFrame, fresh: DataFrame,
                                       cents: DataFrame, books: DataFrame,
                                       m: Int, subDim: Int, dir: String): Unit = {
    val spark = base.sparkSession
    val fp = IndexMeta.cachedFingerprint(dir, s"ivfpqins_m=$m,sd=$subDim",
        Seq(base, fresh, cents, books)) {
      val tail = s"c=${IndexMeta.centroidFingerprint(cents)};b=${booksFingerprint(books)}"
      s"${IndexMeta.fingerprint(base, s"ivfpqins_m=$m,sd=$subDim;$tail;base")}|" +
        IndexMeta.fingerprint(fresh, "fresh")
    }
    if (!IndexMeta.valid(spark, dir, "_SUCCESS", fp)) {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      codesArray(base, books, m, subDim)
        .join(Ivf.assignWith(base, cents), Seq("vec_id"))
        .write.mode("overwrite").partitionBy("cell").parquet(dir)
      cents.write.mode("overwrite").parquet(s"$dir/_centroids")
      books.write.mode("overwrite").parquet(s"$dir/_codebooks")
      insertInto(spark, dir, fresh, m, subDim)
      IndexMeta.write(spark, dir, fp)
    }
  }

  /** Two-stage IVF-PQ serving with EXACT re-ranking: ADC over the
    * probed cells picks a `shortlist`-sized candidate set from the
    * compressed codes alone ([[ivfpqTopK]]), then raw vectors are read
    * for ONLY those ids — an id-pushdown scan of the vector table
    * (`vec_id IN (…)` lands in PushedFilters; with vector files
    * sorted/bucketed by id these are row-group point reads, R rows
    * instead of a corpus scan) — and exact L2 orders the final top-k.
    *
    * The standard accuracy/IO trade (IVF-ADC+R in the PQ literature):
    * PQ quantization error can only affect WHICH `shortlist` candidates
    * survive, never their final ordering, so recall vs exact search is
    * recovered by widening the shortlist (R = 3-5×k typical) while the
    * per-query raw-vector read stays R rows at any corpus size.
    */
  def ivfpqTopKRerank(spark: SparkSession, dir: String, embeddings: DataFrame,
                      queries: DataFrame, k: Int, nprobe: Int, shortlist: Int,
                      roundTo: Int = 6, excluded: Option[DataFrame] = None): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    // R candidate ids to the driver — id-filter formation, the same
    // driver round-trip the coarse probe already pays. Tombstones
    // (`excluded`) are dropped at the SHORTLIST stage, so they never
    // reach the rerank read either.
    val ids = ivfpqTopK(spark, dir, queries, shortlist, nprobe, roundTo,
        excluded = excluded)
      .select("vec_id").collect().map(_.getLong(0))
    embeddings.filter(col("vec_id").isin(ids: _*))
      .crossJoin(broadcast(queries))
      .select(col("vec_id"),
        round(l2Distance(col("embedding"), col("query_vec")), roundTo).as("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(k)
  }

  /** BATCH ADC score column over `(codes, lut)` rows: the same static
    * chain of m DECIMAL(38,12) term additions as [[adcTopKFromCodes]]
    * (identical decimal-widening semantics, so batch == single
    * bit-for-bit), but the LUT is a per-query COLUMN (flattened m·c
    * doubles from [[graft.functions.PqLutExpr]]) instead of plan
    * literals — so one plan serves every query in the batch.
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
    * Used by the fast shortlist stage ([[ivfpqTopKBatch]] with
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
    val books = collectBooks(spark.read.parquet(s"$dir/_codebooks"))
    val m = books.size
    val c = books(0).length
    val scored = spark.read.parquet(dir)
      .crossJoin(broadcast(withLuts(queries, books)))
      .select(col("query_id"), col("vec_id"), adcDistBatch(m, c, roundTo).as("dist"))
    Ivf.heapTopKPerQuery(scored, k, "dist")
  }

  /** BATCH IVF-PQ top-k over an [[ensureEncodedPartitioned]] layout:
    * every query probes its `nprobe` nearest coarse cells; the scan is
    * partition-pruned to the UNION of all probed cells (files of cells
    * no query probed are never opened); each candidate row joins only
    * the queries that probed ITS cell (broadcast probe-pair join); ADC
    * scores per (candidate, query); the bounded-heap aggregate ranks
    * per query without sorting the candidate set. The
    * whole batch costs ONE pruned scan — the form a 100 TB serving
    * tier runs for query streams.
    */
  def ivfpqTopKBatch(spark: SparkSession, dir: String, queries: DataFrame, k: Int,
                     nprobe: Int, roundTo: Int = 6,
                     predicate: Option[Column] = None,
                     exactSums: Boolean = true,
                     excluded: Option[DataFrame] = None): DataFrame = {
    val books = collectBooks(spark.read.parquet(s"$dir/_codebooks"))
    val m = books.size
    val c = books(0).length
    // shared probe machinery (Ivf.probePlan): probes ranked on the
    // driver, pairs broadcast as a local relation, probed cells the
    // partition filter's literals
    val (probes, pruned) = Ivf.batchPrunedCandidates(spark, dir, queries, nprobe)
    val adc = if (exactSums) adcDistBatch(m, c, roundTo)
              else adcDistBatchDouble(m, c, roundTo)
    val scored = Ivf.withoutExcluded(predicate.fold(pruned)(pruned.filter), excluded)
      .join(probes, Seq("cell")) // candidate meets only the queries probing its cell
      .join(broadcast(withLuts(queries, books)), Seq("query_id"))
      .select(col("query_id"), col("vec_id"), adc.as("dist"))
    Ivf.heapTopKPerQuery(scored, k, "dist")
  }

  /** BATCH two-stage serving: [[ivfpqTopKBatch]] picks a per-query
    * `shortlist` from the compressed codes (one pruned scan for the
    * whole batch), then exact L2 re-ranks — the raw-vector table meets
    * the Q·R-row candidate relation through ONE broadcast hash join on
    * `vec_id` (the candidate side is tiny relative to the corpus at
    * any scale), and the bounded-heap aggregate emits the final
    * per-query top-k without sorting.
    * Batch analog of [[ivfpqTopKRerank]]: PQ error affects WHICH
    * candidates survive, never the final (true-L2) ordering.
    *
    * No driver round-trip and no per-id plan literals: a serving batch
    * of 10k queries × shortlist 100 would otherwise collect 1M ids and
    * embed 1M `In` literals — a plan-size/codegen bomb on exactly the
    * path this engine serves at 100 TB. The join keeps the plan O(1)
    * in batch × shortlist; Spark's runtime bloom/semi-join filters can
    * still push candidate membership into the scan. (The SINGLE-query
    * form keeps literal-id pushdown: ≤ `shortlist` ids get true
    * row-group point reads, [[ivfpqTopKRerank]].)
    */
  def ivfpqTopKRerankBatch(spark: SparkSession, dir: String, embeddings: DataFrame,
                           queries: DataFrame, k: Int, nprobe: Int, shortlist: Int,
                           roundTo: Int = 6, exactSums: Boolean = true,
                           excluded: Option[DataFrame] = None): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    // exactSums=false: the fast double-sum ADC selects the shortlist —
    // the final ranking below is exact L2 either way, so the knob
    // trades oracle-grade shortlist selection for serving throughput
    // (the wide-code operating points need it; SCALE_SMOKE.md).
    // Tombstones drop at the shortlist stage — they never reach the
    // rerank read.
    val cand = ivfpqTopKBatch(spark, dir, queries, shortlist, nprobe, roundTo,
        exactSums = exactSums, excluded = excluded)
      .select(col("query_id"), col("vec_id")) // ADC dist discarded: rerank is exact
    val scored = embeddings.select(col("vec_id"), col("embedding"))
      .join(broadcast(cand), Seq("vec_id"))
      .join(broadcast(queries), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(l2Distance(col("embedding"), col("query_vec")), roundTo).as("dist"))
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
    * [[codebooksCached]] — `tag` must encode the coarse-centroid choice
    * (residual geometry changes with it). `seedOffset` defaults PAST
    * the coarse seed rows: when `cents` are [[Ivf.centroids]]-seeded,
    * rows `vec_id < coarseC` ARE the coarse centroids, so their
    * residuals are exactly zero — seeding the product codebooks from
    * them would collapse every codeword to the origin
    * (ResidualPqSpec's degeneracy pin).
    */
  def residualCodebooksCached(embeddings: DataFrame, cents: DataFrame,
                              m: Int, subDim: Int, c: Int, iters: Int,
                              key: String, tag: String, seedOffset: Int): DataFrame =
    codebooksCached(residuals(embeddings, cents).select(col("vec_id"), col("embedding")),
      m, subDim, c, iters, key, tag, seedOffset)

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
                                       dir: String): Unit = {
    val spark = embeddings.sparkSession
    val fp = IndexMeta.cachedFingerprint(dir, s"ivfpqres_m=$m,sd=$subDim",
        Seq(embeddings, cents, books)) {
      IndexMeta.fingerprint(embeddings, s"ivfpqres_m=$m,sd=$subDim" +
        s";c=${IndexMeta.centroidFingerprint(cents)};b=${booksFingerprint(books)}")
    }
    if (!IndexMeta.valid(spark, dir, "_SUCCESS", fp)) {
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
      IndexMeta.write(spark, dir, fp)
    }
  }

  /** Per-cell residual-query LUT relation `(cell, lut)` (single query)
    * or `(query_id, cell, lut)` (batch): the ADC lookup table of the
    * query's RESIDUAL `q − centroid(cell)` against the residual
    * codebooks, one row per probed (query, cell) pair. Computed in-plan
    * ([[graft.functions.PqLutExpr]] over a `zip_with` subtraction) —
    * centroids and queries are the broadcast-small sides, no driver
    * LUT loop. Size contract: rows = Σ probes (nprobe per query) of
    * m·c doubles each — broadcastable for serving batches (Q ≤ ~1k at
    * m=16,c=256); beyond that the final join should drop the broadcast
    * hint and let AQE pick a shuffled hash join.
    */
  private def residualLuts(cents: DataFrame, queries: DataFrame,
                           books: Map[Int, IndexedSeq[Seq[Double]]],
                           keyCols: Seq[String]): DataFrame = {
    val m = books.size
    queries
      .crossJoin(broadcast(cents.select(col("centroid_id").as("cell"), col("centroid_vec"))))
      .select((keyCols.map(col) :+
        pqLut(zip_with(col("query_vec"), col("centroid_vec"), (q, cv) => q - cv),
          (0 until m).map(books(_).toSeq)).as("lut")): _*)
  }

  /** Residual IVF-PQ top-k: probe `nprobe` coarse cells (partition
    * filter), ADC-score the probed cells' RESIDUAL codes against the
    * query's per-cell residual LUTs. Same plan skeleton as
    * [[ivfpqTopK]] with one extra broadcast join (codes meet their
    * cell's LUT on `cell`); the true ADC distance
    * `‖(q − c) − r̂‖ = ‖q − (c + r̂)‖` needs no correction term.
    */
  def ivfpqResidualTopK(spark: SparkSession, dir: String, queries: DataFrame,
                        k: Int, nprobe: Int, roundTo: Int = 6,
                        predicate: Option[Column] = None,
                        excluded: Option[DataFrame] = None): DataFrame = {
    val (stored, cents) = Ivf.readLayoutWithCentroids(spark, dir) // one-version pin
    val books = collectBooks(spark.read.parquet(s"$dir/_codebooks"))
    val m = books.size
    val c = books(0).length
    // nprobe cell ids to the driver — partition-filter formation
    val probed = cents.crossJoin(broadcast(queries))
      .select(col("centroid_id"),
        l2Distance(col("centroid_vec"), col("query_vec")).as("qdist"))
      .orderBy(col("qdist"), col("centroid_id"))
      .limit(nprobe)
      .collect().map(_.getLong(0))
    val luts = residualLuts(cents.filter(col("centroid_id").isin(probed: _*)),
      queries, books, Seq("cell"))
    val pruned = stored.filter(col("cell").isin(probed: _*))
    Ivf.withoutExcluded(predicate.fold(pruned)(pruned.filter), excluded)
      .join(broadcast(luts), Seq("cell"))
      .select(col("vec_id"), adcDistBatch(m, c, roundTo).as("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(k)
  }

  /** BATCH residual IVF-PQ: one scan pruned to the union of probed
    * cells; each candidate meets exactly the (query, cell) LUT rows of
    * queries that probed ITS cell — the `cell` join IS the probe
    * semantics (no separate probe-pair join needed). Bounded-heap rank
    * per query, as every batch serving path.
    */
  def ivfpqResidualTopKBatch(spark: SparkSession, dir: String, queries: DataFrame,
                             k: Int, nprobe: Int, roundTo: Int = 6,
                             exactSums: Boolean = true,
                             excluded: Option[DataFrame] = None): DataFrame = {
    val books = collectBooks(spark.read.parquet(s"$dir/_codebooks"))
    val m = books.size
    val c = books(0).length
    val (probes, pruned, cents) =
      Ivf.batchPrunedCandidatesWithCents(spark, dir, queries, nprobe)
    // LUTs only for the probed (query, cell) pairs: probes ⋈ queries ⋈
    // centroids (on cell), all broadcast-small
    val luts = probes
      .join(broadcast(queries), Seq("query_id"))
      .join(broadcast(cents.select(col("centroid_id").as("cell"), col("centroid_vec"))),
        Seq("cell"))
      .select(col("query_id"), col("cell"),
        pqLut(zip_with(col("query_vec"), col("centroid_vec"), (q, cv) => q - cv),
          (0 until m).map(books(_).toSeq)).as("lut"))
    val adc = if (exactSums) adcDistBatch(m, c, roundTo)
              else adcDistBatchDouble(m, c, roundTo)
    val scored = Ivf.withoutExcluded(pruned, excluded)
      .join(broadcast(luts), Seq("cell"))
      .select(col("query_id"), col("vec_id"), adc.as("dist"))
    Ivf.heapTopKPerQuery(scored, k, "dist")
  }

  /** Two-stage residual serving: residual-ADC shortlist → exact L2
    * re-rank of only the shortlisted raw rows ([[ivfpqTopKRerank]]'s
    * contract on the residual layout).
    */
  def ivfpqResidualTopKRerank(spark: SparkSession, dir: String, embeddings: DataFrame,
                              queries: DataFrame, k: Int, nprobe: Int, shortlist: Int,
                              roundTo: Int = 6, excluded: Option[DataFrame] = None): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val ids = ivfpqResidualTopK(spark, dir, queries, shortlist, nprobe, roundTo,
        excluded = excluded)
      .select("vec_id").collect().map(_.getLong(0))
    embeddings.filter(col("vec_id").isin(ids: _*))
      .crossJoin(broadcast(queries))
      .select(col("vec_id"),
        round(l2Distance(col("embedding"), col("query_vec")), roundTo).as("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(k)
  }

  /** BATCH two-stage residual serving: [[ivfpqResidualTopKBatch]]
    * picks per-query shortlists from the residual codes (one pruned
    * scan for the whole batch), then exact L2 re-ranks through one
    * broadcast hash join — [[ivfpqTopKRerankBatch]]'s contract on the
    * residual layout.
    */
  def ivfpqResidualTopKRerankBatch(spark: SparkSession, dir: String,
                                   embeddings: DataFrame, queries: DataFrame,
                                   k: Int, nprobe: Int, shortlist: Int,
                                   roundTo: Int = 6, exactSums: Boolean = true,
                                   excluded: Option[DataFrame] = None): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val cand = ivfpqResidualTopKBatch(spark, dir, queries, shortlist, nprobe,
        roundTo, exactSums, excluded)
      .select(col("query_id"), col("vec_id"))
    val scored = embeddings.select(col("vec_id"), col("embedding"))
      .join(broadcast(cand), Seq("vec_id"))
      .join(broadcast(queries), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(l2Distance(col("embedding"), col("query_vec")), roundTo).as("dist"))
    Ivf.heapTopKPerQuery(scored, k, "dist")
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
