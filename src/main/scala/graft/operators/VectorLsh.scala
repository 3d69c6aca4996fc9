package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Portable
import graft.functions.VectorFunctions._

/** Random-hyperplane LSH over embedding columns — the
  * `BucketedRandomProjectionLSH`-shaped comparison path promised in
  * SURVEY.md §7.5.4, built portable instead of wrapping MLlib so the
  * whole pipeline (signatures, banding, candidate pairs) is
  * oracle-checkable in any engine.
  *
  * Hyperplanes are ±1 sign vectors derived from [[Portable.md5Int]] of
  * `"lsh_<bit>_<dim>"` — fixed constants computed ONCE at plan time and
  * embedded as literals in both the Spark plan and the generated DuckDB
  * SQL, so the two engines cannot drift. Signature bit i is
  * `dot(v, signs_i) > 0` (sign-of-projection, the classic SimHash-for-
  * vectors scheme): cosine-similar vectors agree on a bit with
  * probability 1 − θ/π.
  *
  * Scale shape mirrors MinHash LSH: one narrow projection pass per
  * vector (16 codegen'd dot products), banding turns the all-pairs
  * search into an equi-join on (band, band_key) — the shuffle key is
  * the band bucket, never n² — and candidates are verified with ONE
  * true cosine per pair before the threshold filter.
  */
object VectorLsh {

  val numBits = 16
  val bands = 8
  val rowsPerBand = 2 // bits per band; numBits = bands * rowsPerBand

  /** ±1.0 hyperplane components for bit `i` over `dim` dimensions —
    * deterministic for all engines (md5 parity).
    */
  def signs(i: Int, dim: Int): Seq[Double] =
    (0 until dim).map(d => if (Portable.md5IntOf(s"lsh_${i}_$d") % 2 == 0) 1.0 else -1.0)

  /** Signature column: little-endian bit pack of the projection signs. */
  private def signatureCol(v: Column, dim: Int): Column =
    (0 until numBits).map { i =>
      val proj = dotProduct(v, lit(signs(i, dim).toArray))
      when(proj > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Per-vector signatures `(vec_id, sig)`. `dim` is the (fixed)
    * embedding dimensionality — part of the index definition, like the
    * hyperplanes themselves.
    */
  def signatures(embeddings: DataFrame, dim: Int): DataFrame =
    embeddings.select(col("vec_id"), signatureCol(col("embedding"), dim).as("sig"))

  /** Candidate-blocked cosine near-dup pairs: band equi-join on
    * `rowsPerBand`-bit slices of the signature, dedup, ONE true-cosine
    * verification per candidate, threshold filter. Same contract as
    * [[Dedup.embeddingNearDups]] but sublinear candidate generation;
    * pair recall per band bucket is governed by (1−θ/π)^rowsPerBand.
    */
  def pairs(embeddings: DataFrame, dim: Int, threshold: Double): DataFrame = {
    val mask = (1L << rowsPerBand) - 1
    val bandArray = array((0 until bands).map(b =>
      shiftright(col("sig"), b * rowsPerBand).bitwiseAND(mask)): _*)
    val banded = signatures(embeddings, dim)
      .select(col("vec_id"), posexplode(bandArray).as(Seq("band", "band_key")))
    // Spread the STREAM side of the band self-join (r18, guide §2.5
    // output-volume partitioning): band keys are `rowsPerBand`-bit
    // values — 2^rowsPerBand distinct buckets per band — so the
    // Σ_bucket df² candidate fan-out of a single-file scan ran in ONE
    // task (profiled: 1.66 s single-task stage). The right side is the
    // same O(n·bands) slim relation, explicitly broadcast.
    val cand = graft.functions.Skew.spreadToCores(
        banded.select(col("band"), col("band_key"), col("vec_id").as("id1")))
      .join(broadcast(banded.select(col("band"), col("band_key"), col("vec_id").as("id2"))),
        Seq("band", "band_key"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2")
      .distinct()
    val withNorm = embeddings.select(col("vec_id"), col("embedding"),
      l2Norm(col("embedding")).as("nrm"))
    // BROADCAST the O(vectors) embedding side explicitly (r18, guide
    // §3.1 — size estimates after an aggregation are unreliable): the
    // planner was broadcasting the CANDIDATE side — Σ_bucket df² pairs,
    // quadratic in bucket occupancy — building a multi-million-row hash
    // relation in one task (profiled: 1.95 s single-task broadcast build)
    // while the genuinely small per-vector relation streamed.
    cand
      .join(broadcast(withNorm.select(col("vec_id").as("id1"), col("embedding").as("e1"),
        col("nrm").as("n1"))), Seq("id1"))
      .join(broadcast(withNorm.select(col("vec_id").as("id2"), col("embedding").as("e2"),
        col("nrm").as("n2"))), Seq("id2"))
      .withColumn("cos_sim",
        round(dotProduct(col("e1"), col("e2")) / (col("n1") * col("n2")), 6))
      .filter(col("cos_sim") >= threshold)
      .select("id1", "id2", "cos_sim")
  }
}
