package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Exact k-nearest-neighbor operators — the semantic contract of the
  * reference's `Hnsw::FindNearest` (hnsw.cc:276-285), made distributed.
  *
  * Physical shapes (SURVEY.md §3.1):
  *  - single query: `orderBy(dist, id).limit(k)` plans as
  *    `TakeOrderedAndProject` — per-partition heap top-k, final top-k on
  *    the driver. This is exactly the reference's priority-queue
  *    truncation (hnsw.cc:266-273) but partition-parallel: at 100 TB,
  *    each task ships only k rows to the driver.
  *  - query batch: broadcast the (small) query side into a nested-loop
  *    join, then per-query top-k via a row_number window; the scored
  *    product shuffles once on query_id. For huge query sets the ANN
  *    paths (Hnsw.searchTopK / Ivf.topK) replace the window entirely.
  *
  * Distances are rounded where declared (oracle hashing), raw where
  * composed further.
  */
object Knn {

  /** Exact top-k for a single query vector. `embeddings(idCol, vecCol)`.
    * Tie-break on id (top-k ties are real at small scale).
    */
  def topK(embeddings: DataFrame, queryVec: Column, k: Int,
           idCol: String = "vec_id", vecCol: String = "embedding",
           roundTo: Int = 6): DataFrame =
    embeddings
      .select(col(idCol), round(l2Distance(col(vecCol), queryVec), roundTo).as("dist"))
      .orderBy(col("dist"), col(idCol))
      .limit(k)

  /** Exact per-query top-k for a batch of queries.
    * `queries(queryIdCol, queryVecCol)` is expected to be small enough to
    * broadcast (the scored product is |emb| × |q|; callers cap |q|).
    */
  def topKBatch(embeddings: DataFrame, queries: DataFrame, k: Int,
                idCol: String = "vec_id", vecCol: String = "embedding",
                queryIdCol: String = "query_id", queryVecCol: String = "query_vec",
                roundTo: Int = 6): DataFrame = {
    val scored = embeddings.crossJoin(broadcast(queries))
      .select(
        col(queryIdCol),
        col(idCol),
        round(l2Distance(col(vecCol), col(queryVecCol)), roundTo).as("dist"))
    val w = Window.partitionBy(col(queryIdCol)).orderBy(col("dist"), col(idCol))
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .drop("rn")
  }

  /** Brute-force cosine top-k (similarity search baseline over an
    * embedding column). Highest similarity first.
    */
  def cosineTopK(embeddings: DataFrame, queryVec: Column, k: Int,
                 idCol: String = "vec_id", vecCol: String = "embedding",
                 roundTo: Int = 6): DataFrame =
    embeddings
      .select(col(idCol), round(cosineSimilarity(col(vecCol), queryVec), roundTo).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)

  /** Exact max-inner-product top-k (MIPS — the retrieval-model scoring
    * norm: recommendation / dual-encoder scores are dot products, not
    * distances). Highest inner product first, ties by id. Same
    * TakeOrderedAndProject shape as [[topK]]; the indexed scale path is
    * `Ivf.topKPartitioned` on a `mips` layout (`Ivf.ensurePartitioned`), via
    * the augmented-vector reduction.
    */
  def mipsTopK(embeddings: DataFrame, queryVec: Column, k: Int,
               idCol: String = "vec_id", vecCol: String = "embedding",
               roundTo: Int = 6): DataFrame =
    embeddings
      .select(col(idCol), round(dotProduct(col(vecCol), queryVec), roundTo).as("ip"))
      .orderBy(col("ip").desc, col(idCol))
      .limit(k)

  /** EXACT kNN graph: for EVERY vector, its k nearest OTHER vectors
    * (ties → smaller neighbor id) — the all-pairs form behind semantic
    * dedup, graph clustering, and diversity sampling. O(N²) distance
    * pairs: the declared exact twin that anchors [[knnGraphBlocked]]
    * the way brute-force near-dup anchors its blocked twin — the
    * blocked form is the 100 TB path.
    */
  def knnGraph(embeddings: DataFrame, k: Int, roundTo: Int = 6): DataFrame = {
    // the cross product fans each src row out N× — partition the
    // PROBE side by output volume, not scan bytes (Skew.spreadToCores;
    // the anchor is still declared-quadratic, just not needlessly
    // single-threaded)
    val l = graft.functions.Skew.spreadToCores(
      embeddings.select(col("vec_id").as("src_id"), col("embedding").as("src_vec")))
    val r = embeddings.select(col("vec_id").as("nbr_id"), col("embedding").as("nbr_vec"))
    val bySrc = Window.partitionBy("src_id").orderBy(col("dist"), col("nbr_id"))
    l.crossJoin(r)
      .filter(col("src_id") =!= col("nbr_id"))
      .select(col("src_id"), col("nbr_id"),
        round(l2Distance(col("src_vec"), col("nbr_vec")), roundTo).as("dist"))
      .withColumn("rn", row_number().over(bySrc))
      .filter(col("rn") <= k)
      .select(col("src_id"), col("nbr_id"), col("dist"))
  }

  /** CELL-BLOCKED kNN graph — the scale path: candidates post to their
    * home cell ([[Ivf.assignMulti]] r=1), every vector PROBES its `rq`
    * nearest cells (SPANN-style boundary replication on the query
    * side), and distances are computed only inside co-located cells —
    * an equi-join on `cell` instead of the N² cross product, so the
    * shuffle is bounded by cell size and the pair count by
    * rq·(cell population). A pair meeting in several probed cells is
    * collapsed before ranking (identical distances, so the collapse is
    * order-insensitive). Deterministic given `cents` → oracle-checkable;
    * `rq = C` probes every cell and reproduces [[knnGraph]] exactly.
    */
  def knnGraphBlocked(embeddings: DataFrame, cents: DataFrame, k: Int, rq: Int,
                      roundTo: Int = 6): DataFrame = {
    val cands = Ivf.assignWith(embeddings, cents)
      .join(embeddings, Seq("vec_id"))
      .select(col("cell"), col("vec_id").as("nbr_id"), col("embedding").as("nbr_vec"))
    val probes = Ivf.assignMulti(embeddings, cents, rq)
      .join(embeddings, Seq("vec_id"))
      .select(col("cell"), col("vec_id").as("src_id"), col("embedding").as("src_vec"))
    val bySrc = Window.partitionBy("src_id").orderBy(col("dist"), col("nbr_id"))
    probes.join(cands, Seq("cell"))
      .filter(col("src_id") =!= col("nbr_id"))
      .select(col("src_id"), col("nbr_id"),
        round(l2Distance(col("src_vec"), col("nbr_vec")), roundTo).as("dist"))
      .dropDuplicates("src_id", "nbr_id")
      .withColumn("rn", row_number().over(bySrc))
      .filter(col("rn") <= k)
      .select(col("src_id"), col("nbr_id"), col("dist"))
  }

  /** Exact diversified top-k: the best `k` rows of `scored` by
    * `score` subject to AT MOST `j` per `group` — the result-diversity
    * quota every serving tier ends up needing (≤ j hits per source /
    * domain / near-dup cluster in a recommendation or retrieval
    * response).
    *
    * Exact in two stages, neither of which sorts the input corpus:
    * rows beyond a group's j-th can NEVER appear in the answer, so a
    * CONSTANT-cutoff per-group rank prunes first — which Catalyst
    * compiles to `WindowGroupLimit`, truncating each task's partition
    * to j rows per group BEFORE the window exchange (the
    * `stratifiedExact` shape, immune to group skew — never a
    * parallelism-equals-#groups sort); the global
    * `orderBy(...).limit(k)` over the ≤ j·|groups| survivors then
    * plans as `TakeOrderedAndProject` (plan-pinned).
    *
    * `asc = true` ranks ascending (distances); `false` descending
    * (similarities/scores). Ties break on `id` in both stages.
    */
  def diversifiedTopK(scored: DataFrame, group: Column, score: Column, id: Column,
                      k: Int, j: Int, asc: Boolean = true): DataFrame = {
    require(j >= 1 && k >= 1, s"need j >= 1 and k >= 1 (got j=$j, k=$k)")
    val ord = if (asc) Seq(score.asc, id.asc) else Seq(score.desc, id.asc)
    val w = Window.partitionBy(group).orderBy(ord: _*)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= j).drop("rn")
      .orderBy(ord: _*)
      .limit(k)
  }

  /** Mean-pool token vectors into one embedding per group (the
    * token→document reduction every multi-vector pipeline runs before
    * single-vector indexing — the batch complement of the
    * late-interaction path, which keeps the token vectors). Per-dim
    * means accumulate through DECIMAL(38,12) (the Lloyd-mean
    * arithmetic: exact, partition-order invariant, oracle-checkable);
    * ONE explode + grouped aggregation, shuffle keyed on (group, dim)
    * then (group) — never on the vector payload itself.
    */
  def meanPool(vectors: DataFrame, group: Column, vec: Column,
               roundTo: Int = 6): DataFrame =
    vectors
      .select(group.as("group_id"), posexplode(transform(vec, x => x.cast("double")))
        .as(Seq("i", "x")))
      .groupBy("group_id", "i")
      .agg((sum(col("x").cast("decimal(38,12)")).cast("double")
        / count(lit(1))).as("m"))
      .groupBy("group_id")
      .agg(transform(array_sort(collect_list(struct(col("i"), col("m")))),
        s => round(s.getField("m"), roundTo)).as("embedding"))
}
