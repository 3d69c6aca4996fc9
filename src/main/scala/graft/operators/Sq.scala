package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scalar quantization (SQ8) — the second compressed serving tier: each
  * dimension quantizes INDEPENDENTLY to an 8-bit level on a trained
  * per-dim [lo, hi] range, so a dim-d float32 vector (4·d bytes)
  * becomes d byte-sized codes with zero training cost beyond one
  * min/max scan. Coarser than PQ per bit on correlated data, but
  * training-free, insert-friendly (no codebook drift), and the decode
  * is a two-FLOP affine map — the tier FAISS calls SQ8 and most vector
  * stores ship as their default compression. No counterpart in the
  * reference (raw vectors only, hnsw.cc:33-43).
  *
  * The whole family is deterministic and oracle-checkable: bounds are
  * exact min/max; the encode is a fixed arithmetic formula (explicit
  * `floor(t·255 + 0.5)` — no round-half-even ambiguity); serving
  * reuses the PQ ADC machinery verbatim by viewing SQ8 as product
  * quantization with d subspaces of 1 dim and a FIXED affine codebook
  * `level_i(v) = lo_i + v·(hi_i−lo_i)/255` — the per-query LUT comes
  * from the same [[graft.functions.PqLutExpr]], distances from the
  * same decimal-exact [[Pq.adcDistBatch]] sum.
  *
  * Scale shape: bounds collect as 2·d doubles (the legitimately tiny
  * side); encode is one narrow map-side projection; serving state is
  * the persisted code table — flat ([[ensureEncoded]]) or partitioned
  * by coarse IVF cell ([[ensureEncodedPartitioned]]) so probes prune
  * partitions exactly like IVF-PQ. Codes store as `array<int>` rows of
  * 0..255 — parquet dictionary/bit-packing brings them to ~1 byte at
  * rest, and the positional math never depends on the storage width.
  */
object Sq {

  /** Per-dim quantization bounds `(lo, hi)` — exact min/max over the
    * corpus, one aggregation scan, d pairs collected driver-side.
    */
  def bounds(embeddings: DataFrame): (Seq[Double], Seq[Double]) = {
    val rows = embeddings
      .select(posexplode(transform(col("embedding"), x => x.cast("double")))
        .as(Seq("i", "x")))
      .groupBy("i")
      .agg(min("x").as("lo"), max("x").as("hi"))
      .orderBy("i")
      .collect()
    require(rows.nonEmpty, "Sq.bounds needs a non-empty vector table")
    (rows.map(_.getDouble(1)).toSeq, rows.map(_.getDouble(2)).toSeq)
  }

  /** The encode column: `code_i = floor(clamp((x_i−lo_i)/(hi_i−lo_i),
    * 0, 1)·255 + 0.5)` as int (constant dims → 0). An explicit
    * floor-of-plus-half — deterministic and exactly the SQL spelling,
    * with no dependence on round-half-even vs half-up conventions.
    */
  def encodeCol(vec: Column, lo: Seq[Double], hi: Seq[Double]): Column = {
    val loL = typedlit(lo)
    val hiL = typedlit(hi)
    transform(vec, (x, i) => {
      val l = element_at(loL, (i + 1).cast("int"))
      val h = element_at(hiL, (i + 1).cast("int"))
      when(h === l, lit(0)).otherwise(
        floor(least(greatest((x.cast("double") - l) / (h - l), lit(0.0)), lit(1.0))
          * 255.0 + 0.5).cast("int"))
    })
  }

  /** The affine "codebooks" view of the bounds: d subspaces of 1 dim,
    * 256 codewords `lo_i + v·step_i` each — the representation that
    * lets the PQ ADC machinery serve SQ8 unchanged.
    */
  def affineBooks(lo: Seq[Double], hi: Seq[Double]): Map[Int, IndexedSeq[Seq[Double]]] = {
    val d = lo.length
    (0 until d).map { i =>
      val step = (hi(i) - lo(i)) / 255.0
      i -> (0 until 256).map(v => Seq(lo(i) + v * step)).toIndexedSeq
    }.toMap
  }

  private def boundsPath(dir: String) = s"$dir/_bounds"

  private[operators] def readBounds(spark: SparkSession, dir: String): (Seq[Double], Seq[Double]) =
    boundsOf(CellSnapshot.open(spark, dir))

  /** The layout's `_bounds`, collected once per file set. */
  private[operators] def boundsOf(snap: CellSnapshot.Snapshot): (Seq[Double], Seq[Double]) = {
    // d rows: sorted on the driver, not by a distributed sort
    val rows = snap.sidecar("_bounds").getOrElse(throw new IllegalStateException(
      s"${snap.dir} has no _bounds sidecar")).rows.sortBy(_.getInt(0))
    (rows.map(_.getDouble(1)).toSeq, rows.map(_.getDouble(2)).toSeq)
  }

  private def writeBounds(spark: SparkSession, dir: String,
                          lo: Seq[Double], hi: Seq[Double]): Unit = {
    import spark.implicits._
    lo.indices.map(i => (i, lo(i), hi(i))).toDF("i", "lo", "hi")
      .coalesce(1).write.mode("overwrite").parquet(boundsPath(dir))
  }

  private def boundsTag(lo: Seq[Double], hi: Seq[Double]): String =
    s"b=${(lo ++ hi).hashCode}"

  /** Persist the flat SQ8 code table `(vec_id, codes)` once per content
    * with the `_bounds` sidecar — [[Pq.ensureEncoded]]'s contract on
    * the scalar tier.
    */
  def ensureEncoded(embeddings: DataFrame, lo: Seq[Double], hi: Seq[Double],
                    dir: String): Unit =
    IndexMeta.ensure(dir, s"sq8;${boundsTag(lo, hi)}", embeddings) {
      val spark = embeddings.sparkSession
      embeddings.select(col("vec_id"), encodeCol(col("embedding"), lo, hi).as("codes"))
        .write.mode("overwrite").parquet(dir)
      Ivf.writeLayoutKind(spark, dir, "sq8")
      writeBounds(spark, dir, lo, hi)
    }

  /** IVF-SQ8 serving layout: the code table partitioned by coarse cell
    * (`_centroids` + `_bounds` sidecars, `_graft_kind` = `ivfsq8`) —
    * coarse quantizer prunes, scalar codes score, the
    * [[Pq.ensureEncodedPartitioned]] geometry with zero codebook
    * training. [[Pq.topK]] serves it and [[Pq.insertInto]] grows it.
    */
  def ensureEncodedPartitioned(embeddings: DataFrame, cents: DataFrame,
                               lo: Seq[Double], hi: Seq[Double], dir: String): Unit =
    IndexMeta.ensure(dir, s"ivfsq8;${boundsTag(lo, hi)}", embeddings, cents) {
      val spark = embeddings.sparkSession
      embeddings
        .select(col("vec_id"), encodeCol(col("embedding"), lo, hi).as("codes"))
        .join(Ivf.assignWith(embeddings, cents), Seq("vec_id"))
        .write.mode("overwrite").partitionBy("cell").parquet(dir)
      CellSnapshot.reset(spark, dir)
      Ivf.writeLayoutKind(spark, dir, "ivfsq8")
      cents.write.mode("overwrite").parquet(s"$dir/_centroids")
      writeBounds(spark, dir, lo, hi)
    }

  /** In-place flat ADC (encode + score in one plan) — the TVF/spec
    * anchor; serving paths use the persisted forms below.
    */
  def adcTopK(embeddings: DataFrame, lo: Seq[Double], hi: Seq[Double],
              queries: DataFrame, k: Int, roundTo: Int = 6): DataFrame = {
    val books = affineBooks(lo, hi)
    val d = lo.length
    embeddings.select(col("vec_id"), encodeCol(col("embedding"), lo, hi).as("codes"))
      .crossJoin(broadcast(Pq.withLuts(
        queries.select(lit(0L).as("query_id"), col("query_vec")), books)))
      .select(col("vec_id"), Pq.adcDistBatch(d, 256, roundTo).as("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(k)
  }

  /** Flat ADC top-k from a persisted SQ8 code table: the per-query LUT
    * (d·256 doubles) computed executor-side from the affine codebooks,
    * broadcast against ONE scan of the codes — the raw vector table is
    * never read.
    */
  def adcTopKStored(spark: SparkSession, dir: String, queries: DataFrame, k: Int,
                    roundTo: Int = 6, predicate: Option[Column] = None,
                    exactSums: Boolean = true,
                    candidates: Option[DataFrame] = None): DataFrame = {
    val (lo, hi) = readBounds(spark, dir)
    val books = affineBooks(lo, hi)
    val d = lo.length
    // `candidates`: an optional (vec_id) gate met through a broadcast
    // LEFT SEMI join — the cascade's stage coupling, equivalent to a
    // vec_id-membership predicate but with zero driver round-trips and
    // an O(|candidates|)-bounded build side instead of an In-literal plan
    val stored0 = spark.read.parquet(dir)
    val stored = candidates.fold(stored0)(c =>
      stored0.join(broadcast(c.select("vec_id")), Seq("vec_id"), "left_semi"))
    // exactSums=false: plain double-chain term sum — the SERVING twin.
    // At d=64 the decimal chain is 64 decimal adds per candidate
    // (~50x a double add); the double chain sums the same terms in the
    // same fixed dim order (deterministic), diverging only where two
    // candidates' decimal sums are closer than double rounding error
    // (SqSpec pins fixture equality — the Pq.adcDistBatchDouble
    // contract on the scalar tier).
    val adc = if (exactSums) Pq.adcDistBatch(d, 256, roundTo)
              else Pq.adcDistBatchDouble(d, 256, roundTo)
    val scored = predicate.fold(stored)(stored.filter)
      .crossJoin(broadcast(Pq.withLuts(
        queries.select(lit(0L).as("query_id"), col("query_vec")), books)))
      .select(col("vec_id"), adc.as("dist"))
    scored.orderBy(col("dist"), col("vec_id")).limit(k)
  }

  /** BATCH flat ADC: Q queries, one scan of the code table, bounded-
    * heap rank per query ([[Pq.adcTopKStoredBatch]]'s shape).
    */
  def adcTopKStoredBatch(spark: SparkSession, dir: String, queries: DataFrame, k: Int,
                         roundTo: Int = 6, exactSums: Boolean = true): DataFrame = {
    val (lo, hi) = readBounds(spark, dir)
    val books = affineBooks(lo, hi)
    val d = lo.length
    val adc = if (exactSums) Pq.adcDistBatch(d, 256, roundTo)
              else Pq.adcDistBatchDouble(d, 256, roundTo)
    // Spread the flat code table before the Q-way ADC fan-out (r18,
    // guide §2.5 output-volume partitioning): the table lands as ONE
    // parquet file at bench scale, so the Q·N decimal term chains —
    // the whole query's compute, ~50× a double add each — ran in ONE
    // task (profiled: 1.6 s single-task stage, 9 tasks total). Row-local
    // math and a partition-invariant heap rank make the spread free of
    // semantic risk.
    val scored = graft.functions.Skew.spreadToCores(spark.read.parquet(dir))
      .crossJoin(broadcast(Pq.withLuts(queries, books)))
      .select(col("query_id"), col("vec_id"), adc.as("dist"))
    Ivf.heapTopKPerQuery(scored, k, "dist")
  }

  /** RECLUSTER the IVF-SQ8 layout onto new coarse centroids — the SQ8
    * instance of the encoded-layout recluster
    * (`Pq.reclusterEncodedPartitioned` is the PQ one, both over
    * `Ivf.reclusterPayloadPartitioned`): SQ8 codes quantize against the
    * GLOBAL `_bounds`, so they are cell-independent and the rewrite
    * moves routing only — codes byte-identical, serving equality with a
    * fresh [[ensureEncodedPartitioned]] build over the live rows is
    * exact. `embeddings` supplies the assignment geometry (must cover
    * every live id — checked in the shared body); tombstones folded;
    * publish is atomic with the generation-scoped centroid sidecar.
    */
  def reclusterEncodedPartitioned(spark: SparkSession, dir: String,
                                  embeddings: DataFrame, newCents: DataFrame): Unit = {
    require(Ivf.layoutKind(spark, dir) == "ivfsq8",
      s"$dir is not an IVF-SQ8 layout")
    Ivf.reclusterPayloadPartitioned(spark, dir, embeddings, newCents)
  }

  /** Dequantized reconstruction `(vec_id, recon)` — the affine decode
    * `lo_i + code_i·step_i` (spec surface: ADC distances must equal
    * direct distances to these reconstructions).
    */
  def reconstruct(codes: DataFrame, lo: Seq[Double], hi: Seq[Double]): DataFrame = {
    val loL = typedlit(lo)
    val stepL = typedlit(lo.indices.map(i => (hi(i) - lo(i)) / 255.0))
    codes.select(col("vec_id"),
      transform(col("codes"), (c, i) =>
        element_at(loL, (i + 1).cast("int"))
          + c.cast("double") * element_at(stepL, (i + 1).cast("int"))).as("recon"))
  }
}
