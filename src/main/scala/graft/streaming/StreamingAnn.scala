package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Hnsw

/** Streaming ANN serving: a STREAM of query vectors answered from a
  * PERSISTED HNSW layout — the retrieval-endpoint loop of a production
  * pipeline (queries arrive continuously; the index is the long-lived
  * state, exactly the reference's resident `Hnsw` object,
  * hnsw.cc:114-137, with the stream replacing the call site).
  *
  * Each micro-batch is served by [[Hnsw.search]]: on a routed layout it
  * routes through the stored centroids and probes only its nprobe
  * cells' stored graphs, on an exhaustive one it meets every hash
  * shard — no k-means, no graph construction. The composition is
  * `foreachBatch` because the search is a batch plan; results are
  * byte-identical to the batch [[Hnsw.search]] over the same rows
  * (spec-pinned).
  */
object StreamingAnn {

  /** Auto-recluster policy for the [[maintainIvf]] family: after each
    * micro-batch append, if the layout's cell skew has crossed
    * `maxSkew` ([[graft.operators.Ivf.needsRecluster]]), retrain
    * centroids from the layout's own live rows
    * ([[graft.operators.Ivf.retrainCentroids]] — hash-spread seeds +
    * `iters` Lloyd rounds) and [[graft.operators.Ivf
    * .reclusterPartitioned]] BEFORE the next batch. The recluster
    * publishes one atomic snapshot generation with its
    * generation-scoped centroids, so concurrent readers mid-stream see
    * either the old layout with old routing or the new with new —
    * never a torn mix. `c = 0` keeps the layout's current centroid
    * count. The skew check costs one narrow `(vec_id, cell)` scan per
    * batch; the recluster itself is full-layout I/O and fires only on
    * drift.
    */
  final case class ReclusterPolicy(maxSkew: Double = 4.0, c: Int = 0, iters: Int = 1)

  private def maybeRecluster(spark: org.apache.spark.sql.SparkSession,
                             layoutDir: String,
                             policy: Option[ReclusterPolicy]): Unit =
    policy.foreach { pol =>
      if (graft.operators.Ivf.needsRecluster(spark, layoutDir, pol.maxSkew)) {
        val c = if (pol.c > 0) pol.c
          else graft.operators.Ivf.centroidsOf(spark, layoutDir).count().toInt
        graft.operators.Ivf.reclusterPartitioned(spark, layoutDir,
          graft.operators.Ivf.retrainCentroids(spark, layoutDir, c, pol.iters))
      }
    }

  /** Start serving `queries` — a streaming DataFrame with
    * `(query_id, query_vec)` — from the index at `indexDir`, handing
    * each answered micro-batch `(query_id, vec_id, dist)` to `sink`.
    *
    * The `_deletes` tombstone sidecar is consulted PER MICRO-BATCH
    * ([[Hnsw.search]] always applies it): a takedown recorded while
    * the stream runs is excluded from every subsequent batch's results
    * with no restart and no index rewrite — the serving-tier contract
    * that makes takedowns immediate. Each batch is byte-identical to
    * the batch serve of the same rows (spec-pinned).
    *
    * A micro-batch the search refuses — a repeated `query_id` (either
    * layout), or on a routed layout a null `query_id`, a null vector or
    * component, or a query whose length differs from the centroids' —
    * raises `IllegalArgumentException`
    * naming the `query_id`, and like any exception in `foreachBatch` it
    * STOPS the stream (`StreamingQuery.exception` holds it); batches
    * answered before it stay delivered. A source that can repeat an id
    * within one trigger must deduplicate upstream.
    */
  def serveQueries(queries: DataFrame, indexDir: String, k: Int, p: Hnsw.Params,
                   nprobe: Int)(sink: (DataFrame, Long) => Unit): StreamingQuery =
    queries.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        sink(Hnsw.search(batch.sparkSession, indexDir, batch.toDF(), k, p, nprobe), batchId)
      }
      .start()

  /** Streaming index MAINTENANCE: a stream of new vectors
    * `(vec_id, embedding)` appended into the exhaustive HNSW layout at
    * `indexDir` ([[Hnsw.save]]'s; the first micro-batch builds it when
    * the dir holds none) — each micro-batch runs the incremental insert
    * ([[Hnsw.insertInto]]: only affected shards take the new vectors)
    * and publishes one new [[graft.operators.CellSnapshot]] version, so
    * concurrent readers keep serving the version they resolved. The
    * daily/streaming-append half of a production retrieval pipeline;
    * [[serveQueries]] is the query half.
    */
  def maintainIndex(newVectors: DataFrame, indexDir: String,
                    p: Hnsw.Params): StreamingQuery =
    newVectors.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        Hnsw.insertInto(batch.sparkSession, indexDir, batch.toDF(), p)
      }
      .start()

  /** Streaming maintenance of a cell-partitioned IVF layout: each
    * micro-batch of `(vec_id, embedding)` rows appends cell-locally
    * through [[graft.operators.Ivf.insertInto]] — transformed the way
    * the layout's recorded kind stores rows (raw for `plain`,
    * normalized for `cosine`, augmented with the recorded build
    * constant for `mips`; any other kind fails on the FIRST batch),
    * assigned against the layout's frozen `_centroids` sidecar; only
    * the receiving `cell=` subtrees gain files, so per-batch I/O is
    * O(batch) and the probe scan of concurrent readers picks each
    * appended file up as it lands (Parquet is immutable-file append —
    * readers never see a torn row). The flat-layout twin of
    * [[maintainIndex]]: no graph to re-link means appended files need
    * no new snapshot version; a streamed layout is IDENTICAL to a batch-built one
    * (StreamingMultimodalSpec pins serving equality).
    */
  def maintainIvf(newVectors: DataFrame, layoutDir: String,
                  recluster: Option[ReclusterPolicy] = None): StreamingQuery =
    newVectors.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        graft.operators.Ivf.insertInto(batch.sparkSession, layoutDir, batch.toDF())
        maybeRecluster(batch.sparkSession, layoutDir, recluster)
      }
      .start()

  /** Streaming maintenance of a binary signature table: each
    * micro-batch encodes with the frozen `_thresholds` and appends
    * ([[graft.operators.Binary.insertInto]]) — the funnel's widest gate
    * grows with the corpus, no rebuild.
    */
  def maintainBinary(newVectors: DataFrame, layoutDir: String): StreamingQuery =
    newVectors.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        graft.operators.Binary.insertInto(batch.sparkSession, layoutDir, batch.toDF())
      }
      .start()

  /** Streaming maintenance of an IVF code layout (`pq`, `pq_residual`
    * or `ivfsq8`): each micro-batch is encoded the way the layout's
    * recorded kind stores it, against the frozen `_codebooks` or
    * `_bounds`, assigned with the frozen `_centroids` and appended
    * cell-locally ([[graft.operators.Pq.insertInto]]; any other kind is
    * refused by name on the first batch) — the compressed-tier member of
    * the [[maintainIvf]] family.
    */
  def maintainCodes(newVectors: DataFrame, layoutDir: String): StreamingQuery =
    newVectors.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        graft.operators.Pq.insertInto(batch.sparkSession, layoutDir, batch.toDF())
      }
      .start()
}
