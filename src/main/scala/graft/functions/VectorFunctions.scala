package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector scalar functions over `ArrayType(FloatType)` columns.
  *
  * Semantics derive from the reference's `Vector` ADT
  * (hnsw.cc:33-92): fixed-dim dense float vectors with Euclidean (L2)
  * distance (hnsw.cc:74-83). Differences by design (SURVEY.md §1.4):
  *  - distances accumulate in Double (the reference accumulates in
  *    float32, hnsw.cc:79), for oracle parity and accuracy at dim 64+;
  *  - unequal dimensions are NOT zero-padded (the reference's masked
  *    OOB read, hnsw.cc:29-31/66-72, silently truncates) — zip_with
  *    yields null elements for the shorter side, which propagates to a
  *    null distance, surfacing the bug instead of hiding it.
  *
  * All functions are pure Catalyst column expressions — no UDF
  * serialization, no Python. The fold kernels are native codegen'd
  * expressions ([[VectorFoldExpression]]) that read primitives straight
  * out of Tungsten arrays; they accumulate element-in-order in Double,
  * so results are bit-reproducible across engines (DuckDB
  * list_distance on DOUBLE[] matches exactly — verified).
  */
object VectorFunctions {

  private def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(e)
  private def expr(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.graft.ColumnBridge.expression(c)

  /** Squared L2 distance, accumulated in Double, in element order. */
  def l2DistanceSq(a: Column, b: Column): Column =
    column(L2DistanceSqExpr(expr(a), expr(b)))

  /** Euclidean (L2) distance — reference `Vector::Distance`, hnsw.cc:74-83. */
  def l2Distance(a: Column, b: Column): Column = sqrt(l2DistanceSq(a, b))

  /** Dot product in Double. */
  def dotProduct(a: Column, b: Column): Column =
    column(DotProductExpr(expr(a), expr(b)))

  /** All m PQ subspace codes in one codegen pass ([[PqEncodeExpr]]);
    * `books(s)(cid)` is centroid `cid` of subspace `s`.
    */
  def pqEncode(v: Column, books: Seq[Seq[Seq[Double]]]): Column =
    column(PqEncodeExpr(expr(v), books))

  /** The flattened per-query ADC lookup table ([[PqLutExpr]]):
    * `lut[s·c + j] = ‖v_s − books(s)(j)‖²`, computed executor-side.
    */
  def pqLut(v: Column, books: Seq[Seq[Seq[Double]]]): Column =
    column(PqLutExpr(expr(v), books))

  /** Bounded-heap top-k aggregation ([[TopKPairsAgg]]): the k smallest
    * `(key, id)` pairs per group as `array<struct<id, key>>`, ascending.
    * The serving-path replacement for a `row_number` rank window — no
    * sort of the candidate set, O(1) per rejected candidate, map-side
    * partial aggregation.
    */
  def topKPairs(key: Column, id: Column, k: Int): Column =
    column(TopKPairsAgg(expr(key), expr(id), k).toAggregateExpression())

  /** L2 norm. */
  def l2Norm(a: Column): Column = sqrt(dotProduct(a, a))

  /** Cosine similarity in Double (null if either side has zero norm). */
  def cosineSimilarity(a: Column, b: Column): Column =
    dotProduct(a, b) / (l2Norm(a) * l2Norm(b))

  /** Unit-normalize a double-array vector (the cosine→L2 reduction's
    * query side: `cos(a,b) = 1 − ‖â−b̂‖²/2` for unit â, b̂).
    */
  def normalizeQuery(v: Column): Column = transform(v, x => x / l2Norm(v))

  /** Query-perturbation protocol inspired by the reference's RgbTest
    * (hnsw.cc:352-356 perturbs components 1 and 2 of a 3-vector; this
    * applies +1/-1 to the first two components — same spirit, not
    * component-identical). Oracle parity holds because the Spark and
    * DuckDB sides share THIS definition.
    * Returns a DOUBLE array (the query side of distance computations).
    */
  def perturbQuery(e: Column): Column =
    concat(
      array(
        element_at(e, 1).cast("double") + lit(1.0),
        element_at(e, 2).cast("double") - lit(1.0)),
      transform(slice(e, lit(3), greatest(size(e) - lit(2), lit(0))), x => x.cast("double")))
}
