package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Binary (sign) quantization + Hamming serving — the third and
  * cheapest compressed tier: one BIT per dimension (threshold at the
  * per-dim mean), so a dim-d float32 vector (4·d bytes) becomes d/8
  * bytes — 32× — and candidate scoring is XOR + popcount, the fastest
  * distance a CPU can compute. Far coarser than SQ8/PQ per vector, but
  * the standard FIRST stage of a multi-tier funnel: Hamming shortlists
  * feed an exact (or SQ8/PQ) re-rank, and the 1-bit table is small
  * enough to pin in memory at corpus sizes where even codes spill.
  * No counterpart in the reference (raw vectors only, hnsw.cc:33-43).
  *
  * Everything is deterministic and oracle-checkable: thresholds are
  * the DECIMAL-exact per-dim means (the kmeans-mean arithmetic),
  * signatures pack sign bits 32 per 64-bit word (bit 63 of a single
  * word would collide with the sign under ANSI overflow checks — and
  * 32-bit words keep every SQL sum far from any overflow), Hamming is
  * a fixed per-word popcount sum.
  *
  * Scale shape: thresholds collect as d doubles; the encode is one
  * narrow map-side projection; serving scans only the `(vec_id, sig)`
  * table (d/8 bytes of information per row) and plans as
  * TakeOrderedAndProject — the raw vector table is read only by the
  * explicit re-rank stage, for shortlist rows.
  */
object Binary {

  /** Bits packed per signature word (see scaladoc: 32 keeps both the
    * engine and the SQL oracle away from signed-64 edge cases).
    */
  val BitsPerWord = 32

  /** Per-dim sign thresholds — the DECIMAL(38,12)-exact per-dim means
    * (same arithmetic as the Lloyd means, so any engine reproduces
    * them bit-for-bit). One aggregation scan; d doubles collected.
    */
  def thresholds(embeddings: DataFrame): Seq[Double] = {
    val rows = embeddings
      .select(posexplode(transform(col("embedding"), x => x.cast("double")))
        .as(Seq("i", "x")))
      .groupBy("i")
      .agg((sum(col("x").cast("decimal(38,12)")).cast("double")
        / count(lit(1))).as("m"))
      .orderBy("i")
      .collect()
    require(rows.nonEmpty, "Binary.thresholds needs a non-empty vector table")
    rows.map(_.getDouble(1)).toSeq
  }

  /** Signature words for a vector column: `array<long>` of
    * ceil(d/32) words, word `w` holding bit `i − 32w` = 1 iff
    * `x_i > thr_i`. Pure projection (comparisons + literal adds)
    * inside whole-stage codegen.
    */
  def signatureCol(vec: Column, thr: Seq[Double]): Column = {
    val words = (thr.length + BitsPerWord - 1) / BitsPerWord
    array((0 until words).map { w =>
      (w * BitsPerWord until math.min((w + 1) * BitsPerWord, thr.length)).map { i =>
        when(vec.getItem(i).cast("double") > lit(thr(i)),
          lit(1L << (i - w * BitsPerWord))).otherwise(lit(0L))
      }.reduce(_ + _)
    }: _*)
  }

  /** Hamming distance between a stored `sig` column and a second
    * signature column of the same word count: Σ_w popcount(xor).
    */
  def hammingCol(sig: Column, other: Column, words: Int): Column =
    (0 until words).map { w =>
      bit_count(element_at(sig, w + 1).bitwiseXOR(element_at(other, w + 1)))
    }.reduce(_ + _)

  private def thrPath(dir: String) = s"$dir/_thresholds"

  private def readThresholds(spark: SparkSession, dir: String): Seq[Double] =
    spark.read.parquet(thrPath(dir)).orderBy("i").collect().map(_.getDouble(1)).toSeq

  /** Persist the signature table `(vec_id, sig)` once per dir with the
    * `_thresholds` sidecar — the binary tier's serving state.
    */
  def ensureEncoded(embeddings: DataFrame, thr: Seq[Double], dir: String): Unit =
    IndexMeta.ensure(dir, s"bin;t=${thr.hashCode}", embeddings) {
      val spark = embeddings.sparkSession
      embeddings.select(col("vec_id"), signatureCol(col("embedding"), thr).as("sig"))
        .write.mode("overwrite").parquet(dir)
      Ivf.writeLayoutKind(spark, dir, "binary")
      import spark.implicits._
      thr.indices.map(i => (i, thr(i))).toDF("i", "thr")
        .coalesce(1).write.mode("overwrite").parquet(thrPath(dir))
    }

  /** Hamming top-k from the persisted signature table for ONE query:
    * the query binarizes with the layout's own thresholds, candidates
    * score by XOR+popcount, ties break by vec_id — fully deterministic,
    * so the ranking (not just the set) oracle-checks.
    */
  def hammingTopK(spark: SparkSession, dir: String, queries: DataFrame, k: Int,
                  excluded: Option[DataFrame] = None): DataFrame = {
    val thr = readThresholds(spark, dir)
    val words = (thr.length + BitsPerWord - 1) / BitsPerWord
    val qsig = queries.select(signatureCol(col("query_vec"), thr).as("qsig"))
    Ivf.withoutExcluded(spark.read.parquet(dir), excluded)
      .crossJoin(broadcast(qsig))
      .select(col("vec_id"), hammingCol(col("sig"), col("qsig"), words).as("hamming"))
      .orderBy(col("hamming"), col("vec_id"))
      .limit(k)
  }

  /** BATCH Hamming top-k: Q queries binarize in-plan, ONE scan of the
    * signature table, bounded-heap rank per query.
    */
  def hammingTopKBatch(spark: SparkSession, dir: String, queries: DataFrame, k: Int,
                       excluded: Option[DataFrame] = None): DataFrame = {
    val thr = readThresholds(spark, dir)
    val words = (thr.length + BitsPerWord - 1) / BitsPerWord
    val qsigs = queries.select(col("query_id"),
      signatureCol(col("query_vec"), thr).as("qsig"))
    val scored = Ivf.withoutExcluded(spark.read.parquet(dir), excluded)
      .crossJoin(broadcast(qsigs))
      .select(col("query_id"), col("vec_id"),
        hammingCol(col("sig"), col("qsig"), words).cast("double").as("hamming"))
    Ivf.heapTopKPerQuery(scored, k, "hamming")
  }

  /** Two-stage binary serving — the funnel this tier exists for:
    * Hamming shortlists from 1-bit signatures, exact L2 re-ranks only
    * the shortlisted raw rows.
    */
  def hammingRerankTopK(spark: SparkSession, dir: String, embeddings: DataFrame,
                        queries: DataFrame, k: Int, shortlist: Int,
                        roundTo: Int = 6, excluded: Option[DataFrame] = None): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val ids = hammingTopK(spark, dir, queries, shortlist, excluded)
      .select("vec_id").collect().map(_.getLong(0))
    embeddings.filter(col("vec_id").isin(ids: _*))
      .crossJoin(broadcast(queries))
      .select(col("vec_id"),
        round(l2Distance(col("embedding"), col("query_vec")), roundTo).as("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(k)
  }

  /** Append rows encoded with the FROZEN `_thresholds` — the binary
    * tier's incremental insert (the flat-table analog of the cell
    * layouts' cell-local appends).
    */
  def insertInto(spark: SparkSession, dir: String, rows: DataFrame): Unit = {
    require(Ivf.layoutKind(spark, dir) == "binary", s"$dir is not a binary layout")
    val thr = readThresholds(spark, dir)
    rows.select(col("vec_id"), signatureCol(col("embedding"), thr).as("sig"))
      .write.mode("append").parquet(dir)
    IndexMeta.invalidate(spark, dir)
  }
}
