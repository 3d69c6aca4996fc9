package perfbench

/** The workloads by name, the per-layer metric names, and checks shared
  * by the workloads.
  */
object Workload {
  val byName: Map[String, (Harness, Double) => Outcome] = Map(
    "ann" -> Ann.run,
    "curation" -> Curation.run)

  /** The public calls the benchmark makes, each traced as its own span. */
  val SpanNames: Seq[String] = Seq(
    "Ivf.topKPartitionedBatchFused", "Ivf.kmeans", "Ivf.ensurePartitionedWith", "Ivf.insertInto",
    "Ivf.compactPartitioned", "Ivf.topKPartitionedBatchWithDeletes",
    "Hnsw.searchRoutedWithIndex", "Hnsw.saveRouted",
    "Pq.ivfpqTopKRerankBatch", "Pq.codebooks", "Pq.ensureEncodedPartitioned",
    "Tombstones.record",
    "Dedup.minhashPairs", "Dedup.nearDupClusters", "Dedup.semDedup",
    "Graph.labelPropagation", "Graph.pageRank", "Graph.triangleCounts",
    "Knn.topKBatch")

  val Modules: Seq[String] = Seq("Ivf", "Hnsw", "Pq", "Tombstones", "Dedup", "Graph")

  /** Per-layer values a workload measures itself; zero where the
    * workload does not touch the layer.
    */
  val OwnLayerMetrics: Seq[String] = Seq(
    "Ivf.recall_at_10", "Hnsw.recall_at_10", "Pq.recall_at_10",
    "Ivf.layout_bytes", "Hnsw.layout_bytes", "Pq.layout_bytes")

  def expectCount(got: Int, want: Long, what: String): Seq[String] =
    if (got == want) Nil else Seq(s"$got $what, expected $want")

  def nonEmpty(h: Harness, dir: String): Seq[String] =
    if (h.bytesUnder(dir) > 0) Nil else Seq(s"nothing written under $dir")

  /** The outcome of a run that could not reach its measured loop: it
    * reports no metrics, and its failure is already counted.
    */
  def aborted(h: Harness, why: String): Outcome = {
    h.failures += why
    Outcome(Map.empty, Map.empty, Map("aborted" -> why))
  }
}
