package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** IVF (inverted-file) approximate similarity search — the scale path
  * for vector search, complementing [[Hnsw]] (graph) and [[Knn]]
  * (exact). No counterpart exists in the reference (its only pruning
  * structure is the layer hierarchy, hnsw.cc:276-285); this is the
  * standard coarse-quantization design.
  *
  * Everything here is deterministic and declarative (no RNG, no
  * training iterations): centroids are the vectors with the C smallest
  * ids — a fixed, documented seeding rule (k-means refinement would be
  * a drop-in improvement; determinism matters more for the oracle).
  * That makes the whole operator SQL-expressible, so unlike most ANN
  * code paths it hash-checks against DuckDB.
  *
  * Scale shape: centroids are broadcast (C ≪ N always); assignment is
  * one narrow pass over the vectors (crossJoin with C rows + per-vector
  * argmin — no shuffle of the big side); the search probes `nprobe`
  * cells, i.e. reads ~nprobe/C of the data. Cell assignment would be
  * written once as a partition column (`partitionBy("cell")`) in a
  * production pipeline, making the probe a partition-pruned scan.
  */
object Ivf {

  /** The C seed centroids: `(centroid_id, centroid_vec)` as doubles.
    * Seed rule: the vectors with `vec_id < c` — correct for the dense
    * 0-based ids of every driver table. A sparse id space needs a
    * rank-based seed (`row_number over (order by vec_id) <= c`) here
    * AND in the oracle SQL; the filter form keeps both sides trivially
    * identical.
    */
  def centroids(embeddings: DataFrame, c: Int): DataFrame =
    centroidsFrom(embeddings, c, 0)

  /** [[centroids]] with a SEED OFFSET: rows `off ≤ vec_id < off + c`,
    * centroid ids re-based to `0..c-1`. Exists for composed quantizers:
    * PQ codebooks trained on the RESIDUALS of coarse cells must NOT
    * seed from the coarse seeds themselves — those rows' residuals are
    * exactly zero (each is its own cell centroid), so every product
    * codeword would start at the origin and Lloyd collapses into one
    * degenerate cell (ResidualPqSpec pins the non-degenerate path).
    */
  def centroidsFrom(embeddings: DataFrame, c: Int, off: Int): DataFrame =
    embeddings.filter(col("vec_id") >= off && col("vec_id") < off + c)
      .select((col("vec_id") - off).as("centroid_id"),
        transform(col("embedding"), x => x.cast("double")).as("centroid_vec"))

  /** Assign every vector to its nearest centroid (ties → smaller
    * centroid id). One broadcast nested-loop + per-vector argmin.
    */
  def assign(embeddings: DataFrame, c: Int): DataFrame =
    assignWith(embeddings, centroids(embeddings, c))

  /** [[assign]] with an explicit `(centroid_id, centroid_vec)` table
    * (seeded or k-means-refined). Centroids are always broadcast.
    */
  def assignWith(embeddings: DataFrame, cents: DataFrame): DataFrame =
    assignMulti(embeddings, cents, 1)

  /** Multi-assignment: every vector posted to its `r` nearest cells
    * (ties → smaller centroid id). `r = 1` is plain IVF assignment;
    * `r > 1` is SPANN-style boundary replication — a vector near a
    * Voronoi boundary lives in the neighboring cells too, which is what
    * lets cell-routed search keep recall while probing few cells. Index
    * size grows by exactly r×.
    */
  def assignMulti(embeddings: DataFrame, cents: DataFrame, r: Int): DataFrame = {
    val byVec = Window.partitionBy("vec_id").orderBy(col("cdist"), col("centroid_id"))
    embeddings
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("centroid_id"),
        l2Distance(col("embedding"), col("centroid_vec")).as("cdist"))
      .withColumn("rn", row_number().over(byVec))
      .filter(col("rn") <= r)
      .select(col("vec_id"), col("centroid_id").as("cell"))
  }

  /** Lloyd-refined centroids: `iters` FIXED iterations from the seed
    * centroids — fully deterministic (no RNG, no convergence test), so
    * the refined assignment stays oracle-checkable. Per-dimension means
    * accumulate in DECIMAL(38,12) (exact, partition-order-invariant)
    * and divide in DOUBLE — any engine reproduces the values bit-for-bit
    * (float sources cannot tie at the 12th decimal: a tie needs a
    * denominator divisible by 5^12 > 2^24). Cells that lose all members
    * keep their previous centroid.
    *
    * Each iteration: one broadcast-assign pass + one (cell, dim)
    * aggregation — both shuffle only C·dim rows; the vector table is
    * never shuffled.
    */
  def kmeans(embeddings: DataFrame, c: Int, iters: Int,
             seedOffset: Int = 0): DataFrame =
    kmeansWith(embeddings, centroidsFrom(embeddings, c, seedOffset), iters)

  /** [[kmeans]] from an EXPLICIT seed table `(centroid_id,
    * centroid_vec)` — the retrain entry point for maintenance flows
    * where the contiguous-id seed window no longer represents the
    * corpus (a drifted layout about to [[reclusterPartitioned]] wants
    * seeds spread across base AND drift rows, e.g. an id stride).
    * Deterministic given the seeds, same Lloyd arithmetic as
    * [[kmeans]].
    */
  def kmeansWith(embeddings: DataFrame, seeds: DataFrame, iters: Int): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    var cents = seeds.select(col("centroid_id"),
      transform(col("centroid_vec"), x => x.cast("double")).as("centroid_vec"))
    for (_ <- 0 until iters) {
      val means = embeddings
        .join(assignWith(embeddings, cents), Seq("vec_id"))
        .select(col("cell"), posexplode(col("embedding")).as(Seq("i", "x")))
        .groupBy("cell", "i")
        .agg((sum(col("x").cast("double").cast("decimal(38,12)")).cast("double")
          / count(lit(1))).as("m"))
        .groupBy("cell")
        .agg(transform(array_sort(collect_list(struct(col("i"), col("m")))),
          s => s.getField("m")).as("new_vec"))
        .select(col("cell").as("centroid_id"), col("new_vec"))
      val next = cents.join(means, Seq("centroid_id"), "left")
        .select(col("centroid_id"),
          coalesce(col("new_vec"), col("centroid_vec")).as("centroid_vec"))
      // Materialize each iteration into a LOCAL relation: C·dim doubles
      // on the driver (C ≤ a few hundred by construction — this is the
      // legitimate small side of every IVF plan). Without this, iteration
      // t+1 references iteration t's plan TWICE (assign + carry-forward
      // join), so the Lloyd DAG re-executes ~2^t times per consumer —
      // and every consumer action (searchRouted routes + assigns,
      // topKWith probes + assigns) replays the whole chain. Collecting
      // makes each iteration read the vector table exactly once and
      // downstream consumers pay zero recompute. Doubles round-trip
      // exactly, so the DuckDB oracle hash is unaffected.
      cents = next.as[(Long, Seq[Double])].collect().toSeq
        .toDF("centroid_id", "centroid_vec")
    }
    cents
  }

  /** [[kmeans]] memoized per content of `embeddings` and `(c, iters)`
    * ([[IndexMeta.memo]]): the reference amortizes Lloyd by keeping its
    * index object alive across queries; this is the engine's analog
    * for the declared queries. The memo holds the collected local
    * relation [[kmeans]] already materializes, so a hit costs one
    * local-relation rebuild and zero Spark jobs; values (and therefore
    * every downstream oracle hash) are bit-identical to the uncached
    * path.
    */
  def kmeansCached(embeddings: DataFrame, c: Int, iters: Int): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    IndexMeta.memo(s"kmeans c=$c i=$iters", embeddings)(
        kmeans(embeddings, c, iters).as[(Long, Seq[Double])].collect())
      .toSeq.toDF("centroid_id", "centroid_vec")
  }

  /** Materialize the cell layout: vectors written as Parquet
    * partitioned BY cell (`dir/cell=<k>/...`), plus the centroid table
    * as a `_centroids` sidecar (underscore-prefixed → invisible to
    * partition discovery). This is the production form of the index — a
    * probe becomes a partition-pruned scan that never opens unprobed
    * cells' files, and centroid recovery reads C sidecar rows instead
    * of scanning the data. `kind` picks the metric the layout serves
    * ([[Metric]]): the rows are stored in its space
    * ([[inLayoutSpace]]) and partitioned by cells of the `c` seed
    * centroids of the stored rows.
    */
  def writePartitioned(embeddings: DataFrame, c: Int, dir: String,
                       kind: String = "plain"): Unit =
    writePartitionedBy(embeddings, dir, kind)(centroids(_, c))

  /** [[writePartitioned]] with the centroids `cents` derives from the
    * stored rows (seeds, or k-means over them): `embeddings` are put in
    * the space of `kind` ([[inLayoutSpace]]), and a `mips` layout
    * records its augmentation constant in `_graft_maxnorm` for
    * [[insertInto]].
    */
  private[graft] def writePartitionedBy(embeddings: DataFrame, dir: String, kind: String)(
      cents: DataFrame => DataFrame): Unit = {
    val maxNorm = if (kind == "mips") Some(maxNormOf(embeddings)) else None
    val rows = inLayoutSpace(kind, embeddings, maxNorm.get).getOrElse(
      throw new IllegalArgumentException(
        s"Ivf.writePartitioned builds plain, cosine and mips layouts, not '$kind'"))
    writePartitionedWith(rows, cents(rows), dir, kind)
    // the augmentation constant, for insertInto (after the root write,
    // which would delete it)
    maxNorm.foreach(m => writeScalarFile(embeddings.sparkSession, dir, "_graft_maxnorm", m.toString))
  }

  /** `rows` in the vector space a `kind` layout stores — the one
    * per-kind row transform of [[writePartitionedBy]] and [[insertInto]]:
    * raw floats (`plain`), unit-normalized doubles (`cosine`), or
    * doubles augmented with the layout's max norm (`mips`, the build
    * corpus's, recorded in `_graft_maxnorm`). None for a kind that
    * holds codes instead of vectors.
    */
  private def inLayoutSpace(kind: String, rows: DataFrame,
                            maxNorm: => Double): Option[DataFrame] = kind match {
    case "plain" => Some(rows)
    case "cosine" => Some(normalized(rows))
    case "mips" => Some(augmentedWith(rows, maxNorm))
    case _ => None
  }

  /** [[writePartitioned]] with an EXPLICIT centroid table (seed or
    * k-means-refined): cells of the given centroids become the
    * partition column, and the centroid table itself is the sidecar —
    * so the refined layout serves probes with no assignment pass and
    * no Lloyd replay.
    */
  def writePartitionedWith(embeddings: DataFrame, cents: DataFrame, dir: String,
                           kind: String = "plain"): Unit = {
    embeddings
      .join(assignWith(embeddings, cents), Seq("vec_id"))
      .write.mode("overwrite").partitionBy("cell").parquet(dir)
    // a full rebuild supersedes any snapshot lineage from a previous
    // layout at this dir — a stale manifest over fresh cells would
    // resolve to garbage
    CellSnapshot.reset(embeddings.sparkSession, dir)
    writeKind(embeddings.sparkSession, dir, kind)
    cents.write.mode("overwrite").parquet(s"$dir/_centroids")
  }

  /** The vector TRANSFORM the layout's rows carry (`plain` raw floats,
    * `cosine` normalized doubles, `mips` augmented doubles), recorded
    * at build time so maintenance entry points can validate instead of
    * silently mixing element types (`_graft_kind` sidecar; layouts
    * predating the marker read as `plain`).
    */
  def layoutKind(spark: org.apache.spark.sql.SparkSession, dir: String): String =
    CellSnapshot.kindOf(spark, dir)

  /** Record a layout's vector-transform kind (see [[layoutKind]]) —
    * shared with the code layouts (e.g. `pq_residual`) so their
    * maintenance entry points get the same mix-up guard.
    */
  private[operators] def writeLayoutKind(spark: org.apache.spark.sql.SparkSession,
                                         dir: String, kind: String): Unit =
    writeKind(spark, dir, kind)

  private def writeKind(spark: org.apache.spark.sql.SparkSession, dir: String,
                        kind: String): Unit =
    writeScalarFile(spark, dir, "_graft_kind", kind)

  private def writeScalarFile(spark: org.apache.spark.sql.SparkSession, dir: String,
                              name: String, value: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$name")
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true)
    try out.write(value.getBytes("UTF-8")) finally out.close()
  }

  private def readScalarFile(spark: org.apache.spark.sql.SparkSession, dir: String,
                             name: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$name")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8").trim)
      finally in.close()
    }
  }

  /** Snapshot-resolved read of the layout's live rows — THE read path
    * for every serving entry point. Before the first compaction this
    * is exactly `spark.read.parquet(dir)` (same plan, zero overhead);
    * after one it resolves the [[CellSnapshot]] manifest, so
    * maintenance can publish atomically while readers keep a
    * consistent view (see [[compactPartitioned]]).
    */
  def readLayout(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    CellSnapshot.read(spark, dir, "", "cell")

  /** TIME-TRAVEL read: the layout AS OF published snapshot `version`
    * ([[CellSnapshot.readAt]]) — pin the version a training run
    * consumed and re-reading it stays bit-identical through later
    * compactions (until [[vacuumPartitioned]] reclaims it). Versions
    * come from [[CellSnapshot.version]] after each publish.
    */
  def readLayoutAt(spark: org.apache.spark.sql.SparkSession, dir: String,
                   version: Int): DataFrame =
    CellSnapshot.readAt(spark, dir, "", "cell", version)

  /** Reclaim subtrees superseded by compactions ([[CellSnapshot.vacuum]]):
    * storage GC on the takedown pipeline's cadence — safe once no
    * reader still serves a pre-vacuum snapshot.
    */
  def vacuumPartitioned(spark: org.apache.spark.sql.SparkSession, dir: String,
                        keep: Int = 1): Unit =
    CellSnapshot.vacuum(spark, dir, Seq(""), "cell", keep)

  /** Policy-driven GC ([[CellSnapshot.retain]]): keep the current
    * version, every [[CellSnapshot.pin]]ned version (live training
    * runs), and versions younger than `maxAge` — the scheduler-facing
    * retention knob a production job runs nightly.
    */
  def retainPartitioned(spark: org.apache.spark.sql.SparkSession, dir: String,
                        maxAge: java.time.Duration = java.time.Duration.ZERO): Unit =
    CellSnapshot.retain(spark, dir, Seq(""), "cell", maxAge)

  /** [[writePartitioned]] once per content of `embeddings`
    * ([[IndexMeta.ensure]]) — the amortization point for serving
    * repeated probes from one layout.
    */
  def ensurePartitioned(embeddings: DataFrame, c: Int, dir: String,
                        kind: String = "plain"): Unit =
    IndexMeta.ensure(dir, s"ivf_c=$c;kind=$kind", embeddings)(
      writePartitioned(embeddings, c, dir, kind))

  /** [[writePartitionedWith]] once per content of `embeddings` and
    * `cents` (explicit centroids — the k-means-refined serving layout).
    */
  def ensurePartitionedWith(embeddings: DataFrame, cents: DataFrame, dir: String,
                            tag: String, kind: String = "plain"): Unit =
    IndexMeta.ensure(dir, s"ivfw_$tag;kind=$kind", embeddings, cents)(
      writePartitionedWith(embeddings, cents, dir, kind))

  /** How a layout kind ([[layoutKind]]) is served — the one table that
    * [[topKPartitioned]], [[topKPartitionedBatchFused]] and
    * [[rangeSearch]] read:
    *  - `plain`: the raw query, `dist` (L2) ascending;
    *  - `cosine`: the normalized query,
    *    `cos_sim = 1 − ‖û−v̂‖²/2` descending (cosine on the unit sphere);
    *  - `mips`: the zero-augmented query,
    *    the raw inner product `ip` descending (the query's extra
    *    coordinate is 0, so the augmented dot IS the raw dot).
    * `fold` is the fused kernel's `score`: the same double fold in the
    * same element order, over the layout's stored element type (raw
    * floats for `plain`, doubles otherwise), so no row is widened into
    * a copy.
    */
  private final case class Metric(kind: String, query: Column => Column,
                                  score: (Column, Column) => Column, name: String,
                                  asc: Boolean, fold: Fold[_]) {
    /** The rank order: best score first. */
    def order: Column = if (asc) col(name) else col(name).desc
  }

  /** The fused kernel's score of a stored row (element type `E`)
    * against a query in the layout's space; `rows` decodes the
    * kernel's `(cell, vec_id, embedding)` input on the driver.
    */
  private abstract class Fold[E](@transient val rows: Encoder[(Long, Long, E)])
      extends Serializable {
    def apply(e: E, q: Array[Double]): Double
  }

  private val metrics: Map[String, Metric] = Seq(
    Metric("plain", q => q, l2Distance, "dist", asc = true,
      new Fold[Array[Float]](Encoders.product[(Long, Long, Array[Float])]) {
        def apply(e: Array[Float], q: Array[Double]): Double = {
          var s = 0.0; var j = 0
          while (j < e.length) { val d = e(j).toDouble - q(j); s += d * d; j += 1 }
          math.sqrt(s)
        }
      }),
    Metric("cosine", normalizeQuery, (e, q) => lit(1.0) - l2DistanceSq(e, q) / lit(2.0),
      "cos_sim", asc = false,
      new Fold[Array[Double]](Encoders.product[(Long, Long, Array[Double])]) {
        def apply(e: Array[Double], q: Array[Double]): Double = {
          var s = 0.0; var j = 0
          while (j < e.length) { val d = e(j) - q(j); s += d * d; j += 1 }
          1.0 - s / 2.0
        }
      }),
    Metric("mips", q => concat(transform(q, x => x.cast("double")), array(lit(0.0))),
      dotProduct, "ip", asc = false,
      new Fold[Array[Double]](Encoders.product[(Long, Long, Array[Double])]) {
        def apply(e: Array[Double], q: Array[Double]): Double = {
          var s = 0.0; var j = 0
          while (j < e.length) { s += e(j) * q(j); j += 1 }
          s
        }
      })
  ).map(m => m.kind -> m).toMap

  /** The [[Metric]] of the layout at `dir`; `op` names the refusing
    * entry point when the layout holds codes instead of vectors.
    */
  private def metricOf(snap: CellSnapshot.Snapshot, op: String): Metric = {
    require(metrics.contains(snap.kind),
      s"$op serves plain, cosine and mips layouts, but ${snap.dir} is a '${snap.kind}' layout")
    metrics(snap.kind)
  }

  /** `queries` as a `(query_id, query_vec)` batch in the layout's
    * space; a one-row `(query_vec)` frame is the batch of one, id 0.
    */
  private def asBatch(queries: DataFrame, m: Metric): DataFrame = {
    val id = if (queries.columns.contains("query_id")) col("query_id") else lit(0L).as("query_id")
    queries.select(id, m.query(col("query_vec")).as("query_vec"))
  }

  /** THE declarative IVF top-k over a partitioned layout, in the metric
    * its recorded kind serves ([[Metric]]; any other kind is refused).
    *
    * `queries` is either `(query_id, query_vec)` rows — per-query
    * `(query_id, vec_id, score)` top-k out — or the one-row
    * `(query_vec)` frame of a single query, served as a batch of one
    * with the id dropped: `(vec_id, score)`, best first, ties by
    * `vec_id` (for one query the bounded heap is a `TakeOrdered`).
    *
    * Every query probes its `nprobe` nearest cells ([[probePlan]],
    * formed on the driver); the scan is partition-pruned to the UNION
    * of probed cells and each candidate is scored only against the
    * queries that probed ITS cell (broadcast probe-pair join); the
    * bounded-heap aggregate ([[heapTopKPerQuery]]) ranks per query
    * without sorting. The whole batch costs ONE pruned scan.
    *
    * `predicate` (filtered ANN: "nearest neighbors WHERE attr = x") is
    * applied to the stored rows directly above the pruned scan, so a
    * scan-pushable predicate lands in `PushedFilters`; it narrows the
    * candidates, it does not widen the probe. The layout's tombstones
    * ([[Tombstones]]) are always excluded by a broadcast anti-join —
    * the takedown contract, no layout rewrite.
    */
  def topKPartitioned(spark: org.apache.spark.sql.SparkSession, dir: String,
                      queries: DataFrame, k: Int, nprobe: Int,
                      roundTo: Int = 6, predicate: Option[Column] = None): DataFrame = {
    // data and routing pinned to ONE manifest version: probes formed
    // from v's centroids prune v's cell scan, never a cross-version mix
    val snap = CellSnapshot.open(spark, dir)
    val m = metricOf(snap, "Ivf.topKPartitioned")
    val plan = probePlanOver(servingCentroids(snap), asBatch(queries, m), nprobe)
    val pruned = snap.read("", "cell").filter(col("cell").isin(plan.unionCells: _*))
    val scored = withoutExcluded(predicate.fold(pruned)(pruned.filter), snap.tombstones)
      // candidate meets only the queries probing its cell
      .join(broadcast(plan.pairs(spark)), Seq("cell"))
      // the vectors the probe plan collected: no second query scan
      .join(broadcast(plan.queries(spark)), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(m.score(col("embedding"), col("query_vec")), roundTo).as(m.name))
    if (queries.columns.contains("query_id")) heapTopKPerQuery(scored, k, m.name, m.asc)
    else scored.drop("query_id").orderBy(m.order, col("vec_id")).limit(k)
  }

  /** Drop `excluded(vec_id)` rows (index tombstones) from a candidate
    * set via a broadcast anti-join — O(1) plan nodes regardless of how
    * many ids are tombstoned (never an `isin` literal list), and the
    * tombstone set is contractually small (bounded by takedown rate ×
    * compaction cadence — [[Tombstones]]), so the broadcast is safe.
    * Repeated ids change nothing (an anti-join keeps a row iff no id
    * matches), so they are not deduplicated here.
    */
  private[operators] def withoutExcluded(candidates: DataFrame, excluded: Option[DataFrame]): DataFrame =
    excluded.fold(candidates) { dels =>
      candidates.join(broadcast(dels.select(col("vec_id"))), Seq("vec_id"), "left_anti")
    }

  /** [[topKPartitioned]] under its former batch-with-tombstones name. */
  def topKPartitionedBatchWithDeletes(spark: org.apache.spark.sql.SparkSession, dir: String,
                                      queries: DataFrame, k: Int, nprobe: Int,
                                      roundTo: Int = 6): DataFrame =
    topKPartitioned(spark, dir, queries, k, nprobe, roundTo)

  /** Record takedown ids against a cell-partitioned layout (appends to
    * the `_deletes` sidecar; see [[Tombstones]]).
    */
  def recordDeletes(spark: org.apache.spark.sql.SparkSession, dir: String,
                    ids: DataFrame): Unit =
    Tombstones.record(spark, dir, ids)

  /** Fold the tombstones into the cell-partitioned layout: ONLY the
    * cells that hold deleted rows are rebuilt — their surviving rows
    * are written as a NEW immutable generation ([[CellSnapshot]]
    * `_gen/g=N` subtrees) and the manifest flips atomically; every
    * untouched cell's files are not touched at all, and no published
    * file is ever deleted or renamed, so a reader that planned against
    * the previous snapshot keeps a consistent view (no missing cells)
    * while — and after — compaction runs. Compaction I/O is
    * proportional to the AFFECTED cells (≤ |tombstones| of them),
    * never to the layout size; superseded subtrees are reclaimed by
    * [[vacuumPartitioned]] on the caller's cadence.
    * The `_deletes` sidecar is cleared and the layout's source
    * fingerprint is invalidated: the compacted layout no longer derives
    * from its source table, so a later `ensurePartitioned` against the
    * UNCHANGED source rebuilds in full — and resurrects the deleted
    * rows. That is deliberate: tombstones cover the serving gap between
    * a takedown and the upstream source-of-record cleanup; the takedown
    * pipeline must also delete from the source table.
    */
  def compactPartitioned(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val snap = CellSnapshot.open(spark, dir)
    val dels = snap.tombstones.getOrElse(return)
    val stored = snap.read("", "cell")
    // affected cell ids: ≤ |tombstones| longs to the driver (needed to
    // form the partition filter and the manifest delta)
    // cast: the partition column's read type is inferred (int for small
    // cell ids), while centroid ids are long everywhere else
    val affected = stored.join(broadcast(dels.select("vec_id")), Seq("vec_id"), "left_semi")
      .select(col("cell").cast("long")).distinct().collect().map(_.getLong(0))
    if (affected.nonEmpty) {
      val (v, m) = snap.mappingOrBase("", "cell")
      val g = v + 1
      val out = CellSnapshot.genRoot(dir, "", g)
      // rebuild ONLY the affected cells' rows (partition-pruned read)
      // into the next generation's tree — never over the input files
      stored.filter(col("cell").isin(affected: _*))
        .join(broadcast(dels.select("vec_id")), Seq("vec_id"), "left_anti")
        .write.mode("overwrite").partitionBy("cell").parquet(out)
      // a cell whose every row was deleted has no staged subtree — it
      // simply leaves the manifest (its centroid stays; a probe of it
      // reads zero rows)
      val survived = CellSnapshot.listParts(spark, out, "cell")
      CellSnapshot.publish(spark, dir, g, m -- affected ++ survived.map(_ -> g))
    }
    Tombstones.clear(spark, dir)
    // compaction only REMOVES rows, so the stale radii over-estimate —
    // still lossless for pruning — but regenerating costs one narrow
    // scan, so keep the sidecar's meaning exact rather than "some
    // upper bound of unknown vintage"
    dropRadii(spark, dir)
    IndexMeta.invalidate(spark, dir)
  }

  /** The layout's SERVING centroids, resolved consistently with the
    * data snapshot: the NEWEST generation-scoped sidecar
    * (`_centroids_g{v'}`, written by [[reclusterPartitioned]] for the
    * manifest version it publishes) with `v' <=` the current manifest
    * version, falling back to the build-time flat `_centroids`. The
    * "newest at-or-below" rule is what makes the whole lifecycle
    * atomic: a recluster at version g writes `_centroids_g{g}` and
    * LATER maintenance that bumps the version without moving cells
    * ([[insertInto]] appends, [[compactPartitioned]]) keeps resolving
    * g's centroids — never the pre-recluster flat file — while a
    * reader still pinned before g resolves the flat build-time
    * centroids it was built with. Published centroid files are
    * immutable (nothing ever rewrites `_centroids` in place), so
    * every version's routing is torn-proof by construction. Before the
    * first recluster no generation sidecar exists and this is exactly
    * the flat read (zero overhead beyond one directory listing).
    */
  def centroidsOf(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    servingCentroids(CellSnapshot.open(spark, dir)).frame(spark)

  /** [[centroidsOf]] as the collected sidecar rows of `snap`'s version. */
  private[graft] def servingCentroids(snap: CellSnapshot.Snapshot): CellSnapshot.Collected =
    snap.centroids("_centroids").getOrElse(throw new IllegalArgumentException(
      s"${snap.dir} has no _centroids sidecar: it is not a cell-partitioned layout"))

  /** The centroids that pair with [[readLayoutAt]] `version` — the
    * newest `_centroids_g{v'}` with `v' <= version`, else the flat
    * build-time `_centroids` (see [[centroidsOf]] for why
    * at-or-below). Pin both halves of a time-travel read with this.
    */
  def centroidsAt(spark: org.apache.spark.sql.SparkSession, dir: String,
                  version: Int): DataFrame =
    CellSnapshot.centroids(spark, dir, "_centroids", Some(version), layoutKind(spark, dir))
      .getOrElse(throw new IllegalArgumentException(s"$dir has no _centroids sidecar"))
      .frame(spark)

  /** Both halves of the serving state — live rows AND routing
    * centroids — resolved against ONE manifest version. Every serving
    * path that needs both must use this (not separate [[readLayout]] +
    * [[centroidsOf]] calls): the two reads each re-list `_manifests`,
    * so a recluster publishing between them would hand one query new
    * centroids over the old cell scan (or vice versa). Resolving the
    * version once pins data and routing to the same snapshot.
    */
  def readLayoutWithCentroids(spark: org.apache.spark.sql.SparkSession,
                              dir: String): (DataFrame, DataFrame) = {
    val snap = CellSnapshot.open(spark, dir)
    (snap.read("", "cell"), servingCentroids(snap).frame(spark))
  }

  /** Per-cell occupancy of the serving layout: `(cell, n_rows)` over
    * LIVE rows — the balance diagnostic that decides when to
    * [[reclusterPartitioned]] (incremental [[insertInto]] batches keep
    * the build-time Voronoi cells, so a drifted ingest stream piles
    * into few cells and probe cost skews with it). The aggregation
    * reads only `(vec_id, cell)` — cell is the partition value and
    * vec_id is one narrow column, so the scan never touches the
    * vectors; tombstoned rows are excluded (they occupy files but no
    * longer serve).
    */
  def cellStats(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    withoutExcluded(
        readLayout(spark, dir).select(col("vec_id"), col("cell")),
        Tombstones.ids(spark, dir))
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("n_rows"))

  /** Cell-balance SKEW factor of the serving layout: max/mean live
    * cell occupancy over the centroid set (empty cells count as 0 —
    * a drained cell is exactly the imbalance this measures). 1.0 is
    * perfectly balanced; probe latency degrades with the factor, since
    * a probe's cost is the cells it opens. One [[cellStats]] pass +
    * a C-row aggregate.
    */
  def cellSkew(spark: org.apache.spark.sql.SparkSession, dir: String): Double = {
    val c = servingCentroids(CellSnapshot.open(spark, dir)).rows.length.toDouble
    val r = cellStats(spark, dir)
      .agg(max("n_rows").cast("double").as("mx"), sum("n_rows").cast("double").as("tot"))
      .head()
    if (r.isNullAt(1) || r.getDouble(1) == 0.0) 1.0
    else r.getDouble(0) / (r.getDouble(1) / c)
  }

  /** The recluster SCHEDULING TRIGGER: true once [[cellSkew]] crosses
    * `maxSkew` — the check a maintenance job runs per ingest window so
    * [[reclusterPartitioned]] (full-layout I/O) fires on drift, not on
    * a timer.
    */
  def needsRecluster(spark: org.apache.spark.sql.SparkSession, dir: String,
                     maxSkew: Double = 4.0): Boolean =
    cellSkew(spark, dir) >= maxSkew

  /** Retrain serving centroids from the layout's OWN live rows — the
    * centroid half of an automated drift repair ([[reclusterPartitioned]]
    * is the data half). Seeds are the `c` first rows in deterministic
    * hash order (one TakeOrdered pass — a per-partition heap, never a
    * global sort): hash order mixes base and drifted arrivals, the
    * reclusterscale lesson that a contiguous seed window cannot migrate
    * across a distribution gap in few Lloyd rounds. The rows (and hence
    * the trained centroids) live in the layout's stored vector space —
    * raw, normalized, or augmented — which is exactly what
    * [[reclusterPartitioned]] assigns against, so one retrain entry
    * point serves all three metric layouts.
    */
  def retrainCentroids(spark: org.apache.spark.sql.SparkSession, dir: String,
                       c: Int, iters: Int = 1): DataFrame = {
    val live = withoutExcluded(readLayout(spark, dir).drop("cell"),
      Tombstones.ids(spark, dir))
    val spread = live
      .select(col("vec_id"), col("embedding"))
      .orderBy(pmod(graft.functions.Portable.md5Int(col("vec_id").cast("string")),
        lit(Int.MaxValue)), col("vec_id"))
      .limit(c)
    // number the ≤ c seeds by vec_id inside one sorted array (a global
    // aggregate, not a partition-less window)
    val seeds = spread
      .agg(sort_array(collect_list(struct(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v")))).as("s"))
      .select(posexplode(col("s")).as(Seq("i", "seed")))
      .select(col("i").cast("long").as("centroid_id"), col("seed.v").as("centroid_vec"))
    kmeansWith(live, seeds, iters)
  }

  /** RECLUSTER maintenance — the drift repair after enough
    * [[insertInto]] batches skew the layout ([[compactPartitioned]] is
    * the remove half; this is the re-balance): re-assign every LIVE
    * row to `newCents` and publish the re-partitioned tree as the next
    * snapshot generation. Semantics: the reclustered layout serves
    * exactly like a fresh [[writePartitionedWith]] build over its live
    * rows with the same centroids — that equality is the declared
    * query's oracle (the `q_ivf_insert_topk` pattern, one lifecycle
    * step further).
    *
    * Cost and atomicity at scale: one full-layout read + one
    * partitioned write — the same I/O as the original build, which is
    * the honest price of moving every row's cell; run it on the drift
    * cadence, not per batch ([[cellStats]] is the trigger). The new
    * generation's tree and its generation-scoped centroid sidecar are
    * both staged BEFORE the one-file manifest flip, so concurrent
    * readers see either the old layout with old centroids or the new
    * with new — never a torn mix (see [[centroidsOf]]). Tombstones are
    * folded in (a recluster is also a compaction) and cleared; radii
    * are dropped (cell membership moved — [[ensureRadii]] regenerates
    * on the next range query); the source fingerprint is invalidated
    * like every other maintenance write.
    *
    * `newCents` must live in the SAME vector space the layout stores
    * (raw floats for `plain`, unit doubles for `cosine`, augmented
    * doubles for `mips`) — assignment runs over stored rows as-is.
    */
  def reclusterPartitioned(spark: org.apache.spark.sql.SparkSession, dir: String,
                           newCents: DataFrame): Unit = {
    val live = withoutExcluded(readLayout(spark, dir).drop("cell"),
      Tombstones.ids(spark, dir))
    val (v, _) = CellSnapshot.mappingOrBase(spark, dir, "", "cell")
    val g = v + 1
    val out = CellSnapshot.genRoot(dir, "", g)
    live.join(assignWith(live, newCents), Seq("vec_id"))
      .write.mode("overwrite").partitionBy("cell").parquet(out)
    // stage the generation-scoped centroids BEFORE the manifest flip —
    // the flip is the single atomic publish point for data AND routing
    newCents.write.mode("overwrite").parquet(s"$dir/_centroids_g$g")
    val parts = CellSnapshot.listParts(spark, out, "cell")
    CellSnapshot.publish(spark, dir, g, parts.map(_ -> g).toMap)
    // the flat `_centroids` is NOT rewritten: published centroid files
    // are immutable, and [[centroidsOf]]'s newest-at-or-below rule
    // routes every version at or past g to `_centroids_g{g}` while
    // readers pinned before g keep the build-time flat file
    Tombstones.clear(spark, dir)
    dropRadii(spark, dir)
    IndexMeta.invalidate(spark, dir)
  }

  /** Payload-agnostic recluster body shared by the ENCODED layouts
    * whose per-row payload is cell-independent (plain PQ codes, SQ8
    * codes): live rows keep their payload byte-for-byte, assignment is
    * re-derived from `source` (the raw vector table — codes carry no
    * geometry), and the re-partitioned tree publishes atomically with
    * the generation-scoped centroid sidecar (the
    * [[reclusterPartitioned]] protocol). Guards live in the per-layout
    * wrappers (`Pq.reclusterEncodedPartitioned`,
    * `Sq.reclusterEncodedPartitioned`) — the coverage check here
    * protects every caller from an inner join silently dropping index
    * rows whose id is missing from `source`.
    */
  private[operators] def reclusterPayloadPartitioned(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      source: DataFrame, newCents: DataFrame): Unit = {
    val live = withoutExcluded(readLayout(spark, dir).drop("cell"),
      Tombstones.ids(spark, dir))
    // coverage guard folded INTO the rewrite pass (a left join whose
    // null cells raise): an inner join would silently DROP live rows
    // missing from `source`, and a separate count-compare pre-flight
    // would cost a second full assignment pass — at the layout sizes
    // recluster exists for, the single-pass form is the honest one
    // duplicate vec_ids in the caller-supplied source would fan live
    // rows out through the left join, duplicating index rows in the
    // published generation — collapse the assignment to one row per id
    // (the assignment relation is narrow: (vec_id, cell) only)
    val moved = live.join(
        assignWith(source, newCents).dropDuplicates("vec_id"),
        Seq("vec_id"), "left")
      .withColumn("cell",
        when(col("cell").isNotNull, col("cell")).otherwise(
          raise_error(concat(lit("recluster: live row "),
            col("vec_id").cast("string"),
            lit(" is missing from the source vector table — it covers only part " +
              "of the layout; pass the table the layout was encoded from")))
            .cast("long")))
    val (v, _) = CellSnapshot.mappingOrBase(spark, dir, "", "cell")
    val g = v + 1
    val out = CellSnapshot.genRoot(dir, "", g)
    moved.write.mode("overwrite").partitionBy("cell").parquet(out)
    newCents.write.mode("overwrite").parquet(s"$dir/_centroids_g$g")
    val parts = CellSnapshot.listParts(spark, out, "cell")
    CellSnapshot.publish(spark, dir, g, parts.map(_ -> g).toMap)
    // flat `_centroids` stays immutable — see [[reclusterPartitioned]]
    Tombstones.clear(spark, dir)
    IndexMeta.invalidate(spark, dir)
  }

  // ------------------------------------------------------------------
  // Range (radius) search
  // ------------------------------------------------------------------

  private def radiiPath(dir: String) = new org.apache.hadoop.fs.Path(s"$dir/_radii")

  private def dropRadii(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val p = radiiPath(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Per-cell covering radii (`_radii` sidecar): for each cell, the
    * max L2 distance from any member to the cell centroid. Written
    * once per layout — ONE narrow scan, amortized like the build
    * itself — and invalidated by [[insertInto]]/[[compactPartitioned]]
    * (membership changes move the covering radius). Range serving uses
    * it to skip whole cells by the triangle inequality:
    * `‖q−x‖ ≥ ‖q−c‖ − rad(cell)` for every member x, so a cell with
    * `‖q−c‖ − rad(cell) > r` can hold NO result — the pruning is
    * lossless, never a recall trade.
    */
  def ensureRadii(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val p = radiiPath(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) {
      val (stored, cents) = readLayoutWithCentroids(spark, dir)
      stored
        .join(broadcast(cents), col("cell") === col("centroid_id"))
        .groupBy(col("cell").cast("long").as("cell"))
        .agg(
          max(l2Distance(col("embedding"), col("centroid_vec"))).as("radius"),
          // per-cell max squared norm: the MIPS similarity-floor bound
          // needs it (d² = ‖q‖² + ‖x‖² − 2·dot); L2/cosine ignore it
          max(dotProduct(col("embedding"), col("embedding"))).as("normsq"))
        .write.mode("overwrite").parquet(s"$dir/_radii")
    }
  }

  /** RANGE search over the partitioned layout: every stored vector
    * whose score against a query clears `threshold`, in the metric the
    * layout's recorded kind ([[layoutKind]]) serves — the "find all
    * matches" twin of [[topKPartitioned]], the shape dedup and
    * recommendation pipelines ask when k is unknown:
    *  - `plain`: `dist` (L2) ≤ `threshold`, nearest first;
    *  - `cosine`: `cos_sim` ≥ `threshold`, most similar first. On the
    *    unit sphere `cos = 1 − ‖û−v̂‖²/2`, so the floor is the L2 ball
    *    of radius `√(2(1−threshold))` around the normalized query;
    *  - `mips`: `ip` (raw inner product) ≥ `threshold`, largest first.
    *    In the augmented space
    *    `d(q̂,x̂)² = ‖q̂‖² + ‖x̂‖² − 2·dot(q,x)` (the query's extra
    *    coordinate is 0, so the augmented dot IS the raw dot), so the
    *    floor confines members to a ball whose radius depends on the
    *    member's norm, bounded per cell by the `_radii` max squared norm.
    * Any other kind is rejected. Ties order by `vec_id`.
    *
    * `queries` is either `(query_id, query_vec)` rows — every
    * `(query_id, vec_id, score)` pair comes back — or the one-row
    * `(query_vec)` frame of a single query, served as a batch of one
    * with the id dropped (`(vec_id, score)` out).
    *
    * Cells are pruned with the [[ensureRadii]] triangle-inequality
    * bound, per (query, cell) pair, executor-side (C×Q rows — never
    * collected): a cell is skipped only when no member can clear the
    * threshold, so the result equals a full-scan filter and
    * hash-checks against a one-line DuckDB oracle. The bound carries a
    * 10^-roundTo margin so boundary rows that ROUND across the
    * threshold are never lost to raw-double pruning, and a cell with a
    * NaN radius (a degenerate member, e.g. a row with a NaN component)
    * is always kept — `d − NaN <= r` is false in Spark, yet the NaN row
    * passes a Spark `>=` floor and its cell-mates may qualify too.
    * One scan is pruned to the UNION of eligible cells (≤ C ids to the
    * driver — the partition filter); each candidate is scored only
    * against the queries whose ball intersects ITS cell — the join
    * geometry of [[topKPartitioned]], without the heap (range
    * output is unbounded by design). On clustered corpora most cells fail the
    * bound and are never read (IvfRangeSpec proves the skip per kind);
    * on uniform unit-sphere data every ball intersects every cell,
    * which is a property of the data, not the operator.
    *
    * `predicate` (filtered range: "matches WHERE attr = x") applies to
    * the stored rows directly above the pruned scan, so a scan-pushable
    * predicate lands in `PushedFilters`. The layout's tombstones
    * ([[Tombstones]]) are always excluded — the takedown contract, no
    * layout rewrite. `ordered = false` returns the same row SET with no
    * global sort: the `orderBy` form is the oracle anchor, but a
    * serving tier must not sort an unbounded result.
    */
  def rangeSearch(spark: org.apache.spark.sql.SparkSession, dir: String,
                  queries: DataFrame, threshold: Double, roundTo: Int = 6,
                  predicate: Option[Column] = None,
                  ordered: Boolean = true): DataFrame = {
    val snap = CellSnapshot.open(spark, dir)
    val m = metricOf(snap, "Ivf.rangeSearch")
    ensureRadii(spark, dir)
    val margin = math.pow(10.0, -roundTo)
    val q = col("query_vec") // in the layout's space
    // how far the query lies outside the cell's covering ball
    val lb = l2Distance(col("centroid_vec"), q) - col("radius")
    val cellBound = m.kind match {
      case "plain" => lb <= lit(threshold) + lit(margin)
      case "cosine" => lb <= lit(math.sqrt(2.0 * (1.0 - threshold) + margin))
      case "mips" => lb <= lit(0.0) || lb * lb <= dotProduct(q, q) + col("normsq") -
        lit(2.0 * threshold) + lit(margin)
    }
    val s = col(m.name)
    val passes = if (m.asc) s <= threshold else s >= threshold
    val qs = asBatch(queries, m)
    // the C radii rows are taken now, like the tombstones: maintenance
    // drops the sidecar, and a frame built before it must still run
    val radii = snap.sidecar("_radii").getOrElse(throw new IllegalStateException(
      s"the _radii sidecar of $dir vanished before the range search read it")).frame(spark)
    val probePairs = servingCentroids(snap).frame(spark)
      .join(radii, col("centroid_id") === col("cell"))
      .drop("cell")
      .crossJoin(broadcast(qs))
      .filter(isnan(col("radius")) || cellBound)
      .select(col("query_id"), col("centroid_id").as("cell"))
    val unionCells = probePairs.select("cell").distinct().collect().map(_.getLong(0))
    val pruned = snap.read("", "cell").filter(col("cell").isin(unionCells.toIndexedSeq: _*))
    val hits = withoutExcluded(predicate.fold(pruned)(pruned.filter), snap.tombstones)
      .join(broadcast(probePairs), Seq("cell")) // predicate scan-pushable → PushedFilters
      .join(broadcast(qs), Seq("query_id"))
      .select(col("query_id"), col("vec_id"), round(m.score(col("embedding"), q), roundTo).as(m.name))
      .filter(passes)
    val out = if (ordered) hits.orderBy(col("query_id"), m.order, col("vec_id")) else hits
    if (queries.columns.contains("query_id")) out else out.drop("query_id")
  }

  /** Cell-local incremental insert — the append half of the layout
    * lifecycle ([[compactPartitioned]] is the remove half): transform
    * `rows(vec_id, embedding)` the way the layout's recorded kind
    * ([[layoutKind]]) stores them, assign them with the layout's own
    * `_centroids` sidecar and APPEND them to their cells:
    *  - `plain`: raw rows as they are;
    *  - `cosine`: unit-normalized ([[normalized]]);
    *  - `mips`: augmented with the layout's RECORDED build-time
    *    constant (`_graft_maxnorm`), not a fresh max — the geometry
    *    every stored row already lives in. A new row with norm > m
    *    clamps its extra coordinate to 0: its served dot is still
    *    exact (see [[augmentedWith]]); only its cell assignment
    *    degrades, so serving matches a single-pass build whenever the
    *    base corpus contains the max-norm row.
    * Any other kind (a code layout) is rejected — appending vectors
    * there would drift the parquet schema and serve wrong results.
    *
    * Only the receiving `cell=` subtrees gain files; every other cell's
    * files are not touched at all — insert I/O is proportional to the
    * batch, never to the layout. Serving needs no change: the pruned
    * probe scan picks up appended files automatically, and assignment
    * against the UNCHANGED sidecar centroids is deterministic, so an
    * incrementally-grown layout serves identically to one built from
    * the union in a single pass (IvfInsertSpec pins this and the
    * byte-identity of non-receiving cells).
    *
    * The source fingerprint is invalidated: the layout no longer
    * derives from any single `ensurePartitioned` source, so a later
    * ensure against an updated source-of-record table rebuilds in
    * full — inserts cover the serving gap until then, mirroring the
    * tombstone contract on the delete side.
    */
  def insertInto(spark: org.apache.spark.sql.SparkSession, dir: String,
                 rows: DataFrame): Unit = {
    val snap = CellSnapshot.open(spark, dir)
    val prepared = inLayoutSpace(snap.kind, rows,
      readScalarFile(spark, dir, "_graft_maxnorm").map(_.toDouble).getOrElse(
        throw new IllegalStateException(
          s"MIPS layout at $dir has no _graft_maxnorm sidecar — rebuild through " +
            "writePartitioned(kind = \"mips\") before appending"))).getOrElse(
      throw new IllegalArgumentException(
        s"Ivf.insertInto appends to plain, cosine and mips layouts, but $dir is a " +
          s"'${snap.kind}' layout — append code layouts through Pq.insertInto"))
    CellSnapshot.appendAssigned(spark, snap,
      prepared.join(assignWith(prepared, servingCentroids(snap).frame(spark)), Seq("vec_id")), "cell")
    // inserted rows can EXTEND a cell's covering radius, so a stale
    // `_radii` sidecar would under-estimate and make range pruning
    // lossy — drop it (the next range serve regenerates in one scan)
    dropRadii(spark, dir)
    IndexMeta.invalidate(spark, dir)
  }

  /** Per-query top-k of `scored(query_id, vec_id, <scoreName>)` via the
    * bounded-heap aggregate ([[graft.functions.TopKPairsAgg]]) —
    * ascending by default, descending for similarity scores. This is
    * the batch serving rank: the `row_number` window it replaces
    * LOCAL-SORTS the full candidate-pair set before WindowGroupLimit
    * can truncate (measured 85% of flat-IVF batch wall at 1M — 125M
    * pairs sorted to keep 10/query); the heap keeps ≤k rows per
    * (query, task) with an O(1) root comparison per rejected candidate
    * and map-side partial aggregation, no sort anywhere. Identical
    * output: the (rounded score, vec_id) order is total, so results
    * and oracle hashes are unchanged. Descending scores negate on the
    * way in and back out — IEEE negation is exact, bit-identical
    * round-trip.
    */
  private[operators] def heapTopKPerQuery(scored: DataFrame, k: Int, scoreName: String,
                                          asc: Boolean = true): DataFrame = {
    val keyIn = if (asc) col(scoreName) else -col(scoreName)
    scored
      .groupBy("query_id")
      .agg(topKPairs(keyIn, col("vec_id"), k).as("tk"))
      .select(col("query_id"), explode(col("tk")).as("p"))
      .select(col("query_id"), col("p.id").as("vec_id"),
        (if (asc) col("p.key") else -col("p.key")).as(scoreName))
  }

  /** FUSED batch top-k — the serving-tier throughput kernel, in the
    * metric the layout's kind serves ([[Metric]]; any other kind is
    * refused): one tight per-partition primitive loop scores each
    * pruned candidate against the queries that probed its cell
    * (`Metric.fold`) and feeds per-query bounded heaps
    * ([[graft.functions.TopKHeap]]), so the 10⁸–10⁹ (candidate, query)
    * pairs are never materialized as rows and never pass through the
    * aggregate framework (measured: the per-pair row/eval overhead is
    * ~3× the L2 arithmetic itself). [[topKPartitioned]] is the
    * oracle-anchored form; this kernel computes BIT-IDENTICAL scores
    * (same double fold in the same order as the score column) AND
    * ranks by the same `roundTo`-rounded key with the same vec_id tie
    * order ([[roundKey]] replicates Spark `round`'s HALF_UP double
    * semantics, RoundKeySpec pins the equality) — so fused results are
    * IDENTICAL to the declarative form on every input, including
    * raw-score ties at the k boundary that round equal. Probe
    * formation, partition pruning and the tombstone anti-join are the
    * declarative path's (with no `_deletes` sidecar the exclusion costs
    * one filesystem `exists` check); `mapPartitions` is used exactly
    * per the custom-operator ladder — the semantics (fused multi-query
    * scan + bounded heaps) have no declarative expression.
    */
  def topKPartitionedBatchFused(spark: org.apache.spark.sql.SparkSession, dir: String,
                                queries: DataFrame, k: Int, nprobe: Int,
                                roundTo: Int = 6): DataFrame = {
    val snap = CellSnapshot.open(spark, dir) // one-version pin
    val m = metricOf(snap, "Ivf.topKPartitionedBatchFused")
    val plan = probePlanOver(servingCentroids(snap), asBatch(queries, m), nprobe)
    val pruned = snap.read("", "cell").filter(col("cell").isin(plan.unionCells: _*)) // partition-pruned
    val live = withoutExcluded(pruned, snap.tombstones)
      .select(col("cell"), col("vec_id"), col("embedding"))
    // per-cell query lists: the same Q·nprobe payload the declarative
    // path ships through its BroadcastExchange, grouped for O(1) cell
    // lookup
    val perTask = fusedHeaps(live, m.fold, spark.sparkContext.broadcast(plan.byCell),
      k, roundTo, negate = !m.asc, m.name)
    heapTopKPerQuery(perTask, k, m.name, m.asc) // merge the ≤ tasks·k rows per query
  }

  /** The fused kernel's per-partition loop: each `(cell, vec_id,
    * embedding)` row is scored by `fold` against every query probing
    * its cell into per-query bounded heaps, keyed by the ROUNDED score
    * ([[offerRounded]]; negated for largest-first metrics). Returns
    * each task's heaps as `(query_id, vec_id, <scoreName>)` rows.
    */
  private def fusedHeaps[E](rows: DataFrame, fold: Fold[E],
                            byCell: org.apache.spark.broadcast.Broadcast[
                              Map[Long, Array[(Long, Array[Double])]]],
                            k: Int, roundTo: Int, negate: Boolean,
                            scoreName: String): DataFrame = {
    import rows.sparkSession.implicits._
    val margin = math.pow(10.0, -roundTo)
    rows.as(fold.rows).mapPartitions { it =>
      val heaps = new java.util.HashMap[Long, graft.functions.TopKHeap]()
      it.foreach { case (cell, vid, emb) =>
        val qs = byCell.value.getOrElse(cell, null)
        if (qs != null) {
          var i = 0
          while (i < qs.length) {
            val (qid, qv) = qs(i)
            var h = heaps.get(qid)
            if (h == null) { h = new graft.functions.TopKHeap(k); heaps.put(qid, h) }
            offerRounded(h, fold(emb, qv), vid, roundTo, margin, negate)
            i += 1
          }
        }
      }
      import scala.jdk.CollectionConverters._
      heaps.entrySet().iterator().asScala.flatMap { e =>
        e.getValue.sorted.iterator.map { case (key, vid) =>
          (e.getKey, vid, if (negate) -key else key) // IEEE negation is exact
        }
      }
    }.toDF("query_id", "vec_id", scoreName)
  }

  /** Offer `score` to `h` under its ROUNDED key ([[roundKey]]; negated
    * for largest-first rankings). The `BigDecimal` round is paid only
    * when the candidate can still enter: HALF_UP moves a value by at
    * most half a unit of `10^-roundTo` (`margin`), so once the heap is
    * full a raw key more than `margin` above the root rounds above it
    * too and is rejected unrounded. A NaN score is never skipped.
    */
  private def offerRounded(h: graft.functions.TopKHeap, score: Double, vid: Long,
                           roundTo: Int, margin: Double, negate: Boolean): Unit = {
    val raw = if (negate) -score else score
    if (h.size < h.k || !(raw > h.rootKey + margin)) {
      val r = roundKey(score, roundTo)
      h.offer(if (negate) -r else r, vid)
    }
  }

  /** Spark `round(col, s)` for a non-negative finite double, replicated
    * on the JVM side so the fused kernels can rank by the ROUNDED key:
    * identical HALF_UP decimal semantics (RoundKeySpec property-pins
    * equality against the Catalyst expression), which makes fused
    * selection — including k-boundary ties — exactly the declarative
    * path's.
    */
  private[graft] def roundKey(d: Double, s: Int): Double =
    java.math.BigDecimal.valueOf(d)
      .setScale(s, java.math.RoundingMode.HALF_UP).doubleValue()

  /** A query batch's probes, formed on the driver: each query's
    * `nprobe` nearest cells (`cells`, aligned with `keys`), the union
    * of probed cells and each cell's query list. A query is named by
    * its key columns (`query_id`, or `(query_id, tok_id)` for token
    * bags), collected as longs in `keys`; `centroids` holds the
    * collected centroid vectors by id. Ranking is the in-plan window
    * it replaces, exactly: `l2Distance`'s double fold (element order,
    * centroid minus query), distance ascending, NaN last, ties to the
    * smaller `centroid_id`.
    */
  private[operators] final class ProbePlan(
      val keys: Array[Array[Long]], val queryVecs: Array[Array[Double]],
      val cells: Array[Array[Long]], centroids: Map[Long, Array[Double]],
      keyFields: Seq[org.apache.spark.sql.types.StructField],
      cellType: org.apache.spark.sql.types.DataType) {

    /** Each query's first key column — its `query_id` in a one-key batch. */
    def queryIds: Array[Long] = keys.map(_(0))

    /** Distinct probed cells, ascending — the partition-filter literals. */
    lazy val unionCells: Seq[Long] = cells.flatten.distinct.sorted.toSeq

    /** cell → the `(query_id, query_vec)` of every query probing it. */
    lazy val byCell: Map[Long, Array[(Long, Array[Double])]] =
      keys.indices.flatMap(i => cells(i).map(_ -> i)).groupBy(_._1)
        .map { case (c, qs) => c -> qs.map { case (_, i) => (keys(i)(0), queryVecs(i)) }.toArray }

    /** The `(key columns…, cell)` pairs as a local relation, typed like
      * the inputs' key columns and `centroid_id`.
      */
    def pairs(spark: org.apache.spark.sql.SparkSession): DataFrame = {
      import org.apache.spark.sql.types._
      val rows = for (i <- keys.indices; c <- cells(i))
        yield org.apache.spark.sql.Row.fromSeq(keys(i).toSeq :+ c)
      val fields = (keyFields.map(_.name) :+ "cell").map(StructField(_, LongType, nullable = false))
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(fields))
        .select(keyFields.map(f => col(f.name).cast(f.dataType)) :+ col("cell").cast(cellType): _*)
    }

    /** The collected `(query_id, query_vec)` batch as a local relation:
      * `query_id` typed like the input's first key column, `query_vec`
      * as the collected doubles (float components widened exactly).
      */
    def queries(spark: org.apache.spark.sql.SparkSession): DataFrame =
      localRelation(spark, keys.indices.map(i =>
        org.apache.spark.sql.Row(keys(i)(0), queryVecs(i).toSeq)), withCell = false)

    /** One row per probe pair, `(query_id, cell, query_vec)`, where
      * `query_vec` is the query's residual `q − centroid(cell)` in
      * doubles — the query side of residual-code scoring.
      */
    def residuals(spark: org.apache.spark.sql.SparkSession): DataFrame =
      localRelation(spark, for (i <- keys.indices; c <- cells(i)) yield {
        val (q, cv) = (queryVecs(i), centroids(c))
        org.apache.spark.sql.Row(keys(i)(0), c, Array.tabulate(q.length)(j => q(j) - cv(j)).toSeq)
      }, withCell = true)

    private def localRelation(spark: org.apache.spark.sql.SparkSession,
                              rows: Seq[org.apache.spark.sql.Row], withCell: Boolean): DataFrame = {
      import org.apache.spark.sql.types._
      val cell = if (withCell) Seq("cell") else Nil
      val fields = ("query_id" +: cell).map(StructField(_, LongType, nullable = false)) :+
        StructField("query_vec", ArrayType(DoubleType, containsNull = false), nullable = false)
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(fields))
        .select((col("query_id").cast(keyFields.head.dataType) +:
          cell.map(col(_).cast(cellType))) :+ col("query_vec"): _*)
    }
  }

  /** Collect a query batch to the driver — its `keyCols` as longs and
    * `query_vec` as doubles (float components widen exactly) —
    * rejecting what no probe can serve: a null or repeated key, a null
    * vector and a null component, each named by its key.
    */
  private def collectQueries(queries: DataFrame, keyCols: Seq[String])
      : (Array[Array[Long]], Array[Array[Double]]) = {
    val rows = queries.select(keyCols.map(c => col(c).cast("long")) :+
      transform(col("query_vec"), x => x.cast("double")): _*).collect()
    val seen = scala.collection.mutable.HashSet.empty[Seq[Long]]
    val keys = rows.map { r =>
      keyCols.indices.map { j =>
        require(!r.isNullAt(j), s"a query row has a null ${keyCols(j)}")
        r.getLong(j)
      }
    }
    val vecs = rows.indices.map { i =>
      require(seen.add(keys(i)), s"duplicate ${keyCols.last} in the query batch: " +
        s"${keyLabel(keyCols, keys(i))} appears more than once")
      vectorOf(rows(i), keyCols.length, keyLabel(keyCols, keys(i)))
    }.toArray
    (keys.map(_.toArray), vecs)
  }

  /** `query_id 3` / `query_id 3 tok_id 7`: a query named by its key. */
  private def keyLabel(keyCols: Seq[String], key: Seq[Long]): String =
    keyCols.zip(key).map { case (c, v) => s"$c $v" }.mkString(" ")

  /** Field `i` of a collected row as a dense double vector; `label`
    * names the row when the vector or one of its components is null.
    */
  private def vectorOf(r: org.apache.spark.sql.Row, i: Int, label: => String)
      : Array[Double] = {
    require(!r.isNullAt(i), s"$label has a null query_vec")
    r.getSeq[Any](i).iterator.map {
      case d: Double => d
      case _ => throw new IllegalArgumentException(s"$label has a null component")
    }.toArray
  }

  /** Build the [[ProbePlan]] of `queries(keyCols…, query_vec)` against
    * `cents(centroid_id, centroid_vec)`: both are collected (C rows and
    * the batch) and ranked by [[rankCells]].
    */
  private[operators] def probePlan(cents: DataFrame, queries: DataFrame, nprobe: Int,
                                   keyCols: Seq[String] = Seq("query_id")): ProbePlan =
    probePlanOver(CellSnapshot.Collected.of(cents), queries, nprobe, keyCols)

  /** [[probePlan]] over centroid rows already on the driver (a layout's
    * memoized sidecar): only the query batch is collected.
    */
  private[operators] def probePlanOver(cents: CellSnapshot.Collected, queries: DataFrame,
                                       nprobe: Int, keyCols: Seq[String] = Seq("query_id")): ProbePlan = {
    val (keys, vecs) = collectQueries(queries, keyCols)
    val cs = centroidVectors(cents)
    new ProbePlan(keys, vecs, rankCells(cs, vecs, nprobe, i => keyLabel(keyCols, keys(i))),
      cs.toMap, keyCols.map(queries.schema(_)), cents.schema("centroid_id").dataType)
  }

  /** Collected `(centroid_id, centroid_vec)` rows as doubles, ascending
    * by id — the order [[rankCells]] expects (its stable sort by
    * distance leaves ties id-ascending).
    */
  private[graft] def centroidVectors(cents: CellSnapshot.Collected): Array[(Long, Array[Double])] = {
    val (id, vec) = (cents.schema.fieldIndex("centroid_id"), cents.schema.fieldIndex("centroid_vec"))
    cents.rows
      .map(r => (r.getAs[Number](id).longValue, r.getSeq[Number](vec).iterator.map(_.doubleValue).toArray))
      .sortBy(_._1)
  }

  /** Each vector's `nprobe` nearest centroid ids, nearest first (all C
    * when `nprobe > C`): every vector is ranked against every collected
    * centroid `cs` (ascending by id). A vector whose length differs from
    * the centroids' is rejected, named by `label`.
    */
  private[graft] def rankCells(cs: Array[(Long, Array[Double])], vecs: Array[Array[Double]],
                        nprobe: Int, label: Int => String): Array[Array[Long]] = {
    val dim = cs.headOption.map(_._2.length)
    vecs.indices.map { i =>
      val q = vecs(i)
      dim.foreach(d => require(q.length == d,
        s"${label(i)} has ${q.length} components but the layout's centroids have $d"))
      val dist = cs.map { case (_, c) =>
        var s = 0.0; var j = 0
        while (j < c.length) { val x = c(j) - q(j); s += x * x; j += 1 }
        math.sqrt(s)
      }
      cs.indices.sortBy(j => dist(j))(Ordering.Double.TotalOrdering) // NaN sorts last
        .take(nprobe).map(cs(_)._1).toArray
    }.toArray
  }

  /** Unit-normalized copy of the vector table (doubles): for unit
    * vectors, cosine similarity is a pure function of L2 distance
    * (`cos = 1 − ‖u−v‖²/2`), so EVERY L2 index path — IVF cells, HNSW
    * shards, PQ codes — serves cosine by indexing this table instead of
    * the raw one. Same reduction the blocked near-dup join proves
    * ([[Dedup.embeddingNearDupsBlocked]]).
    *
    * A zero-norm row has no direction: it is rejected with an error
    * naming its `vec_id` (a NaN norm passes through as NaN components).
    */
  def normalized(embeddings: DataFrame): DataFrame = {
    val n = l2Norm(col("embedding"))
    embeddings.select(col("vec_id"),
      when(n === 0.0,
        raise_error(concat(lit("Ivf.normalized: vec_id "), col("vec_id").cast("string"),
          lit(" has a zero-norm embedding, which has no direction to normalize")))
          .cast("array<double>"))
        .otherwise(transform(col("embedding"), x => x.cast("double") / n))
        .as("embedding"))
  }

  // ---- MIPS: max-inner-product search on the L2 machinery ----

  /** Augmented copy of the vector table for MIPS serving (the
    * Bachrach et al. 2014 reduction): append `sqrt(M² − ‖x‖²)` (M =
    * corpus max L2 norm) as one extra coordinate. Queries augment with
    * a 0, so `‖aug(x) − aug(q)‖² = M² + ‖q‖² − 2·x·q` — L2 NN on the
    * augmented space IS max-inner-product on the raw space, and every
    * L2 index path (IVF cells, HNSW shards, PQ codes) serves MIPS by
    * indexing this table. Because the query's extra coordinate is 0,
    * `dot(aug(x), aug(q)) == dot(x, q)` EXACTLY (adding a `+ extra·0.0`
    * term is an IEEE no-op), so scores need no back-conversion and the
    * DuckDB oracle composes from `list_inner_product` unchanged.
    *
    * The max-norm reduction to the driver is ONE scalar (a plan
    * literal) — never data-proportional. The extra coordinate clamps at
    * 0 (fp roundoff could drive `M² − ‖x‖²` epsilon-negative on the
    * max-norm row itself).
    */
  def augmented(embeddings: DataFrame): DataFrame =
    augmentedWith(embeddings, maxNormOf(embeddings))

  /** The corpus max L2 norm — THE augmentation constant: recorded at
    * MIPS-layout build time so incremental inserts augment with the
    * SAME geometry the layout was built in.
    */
  def maxNormOf(embeddings: DataFrame): Double = {
    val maxRow = embeddings.agg(max(l2Norm(col("embedding")))).collect()(0)
    // max over zero rows is null — fail with a real message instead of
    // an NPE (an augmented layout over nothing is meaningless anyway)
    require(!maxRow.isNullAt(0),
      "Ivf.augmented needs a non-empty vector table to derive the max norm from")
    maxRow.getDouble(0)
  }

  /** Augment with an EXPLICIT constant `m`: rows with norm > m clamp
    * the extra coordinate to 0 — their stored d+1-dot is still the
    * exact raw dot (the query's extra coordinate is 0), so MIPS
    * serving stays exact; only the cell-assignment geometry degrades
    * for such rows.
    */
  def augmentedWith(embeddings: DataFrame, m: Double): DataFrame =
    embeddings.select(col("vec_id"),
      concat(
        transform(col("embedding"), x => x.cast("double")),
        array(sqrt(greatest(
          lit(m * m) - dotProduct(col("embedding"), col("embedding")),
          lit(0.0))))).as("embedding"))

  /** Top-k by L2 for one query vector, probing the `nprobe` cells whose
    * centroids are closest to the query. Approximate (a true neighbor
    * can live in an unprobed cell) but fully deterministic.
    *
    * `queryVec` must be a double-array column present on `queries`
    * (single row).
    */
  def topK(embeddings: DataFrame, queries: DataFrame, k: Int, c: Int, nprobe: Int,
           roundTo: Int = 6): DataFrame =
    topKWith(embeddings, centroids(embeddings, c), queries, k, nprobe, roundTo)

  /** [[topK]] with an explicit centroid table — the entry point for
    * k-means-refined probing ([[kmeans]] cents): tighter cells put more
    * of each query's true neighbors inside the probed fraction.
    */
  def topKWith(embeddings: DataFrame, cents: DataFrame, queries: DataFrame,
               k: Int, nprobe: Int, roundTo: Int = 6): DataFrame = {
    val probed = cents
      .crossJoin(broadcast(queries))
      .select(col("centroid_id"),
        l2Distance(col("centroid_vec"), col("query_vec")).as("qdist"))
      .orderBy(col("qdist"), col("centroid_id"))
      .limit(nprobe)
      .select(col("centroid_id").as("cell"))
    embeddings
      .join(assignWith(embeddings, cents), Seq("vec_id"))
      .join(broadcast(probed), Seq("cell")) // semi-join shaped cell filter
      .crossJoin(broadcast(queries))
      .select(col("vec_id"),
        round(l2Distance(col("embedding"), col("query_vec")), roundTo).as("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(k)
  }
}
