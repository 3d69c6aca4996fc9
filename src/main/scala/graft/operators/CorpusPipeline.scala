package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** The canonical LLM training-data curation pipeline, composed from the
  * engine's own operators: language ID → quality filter → exact dedup →
  * transitive near-dup clustering (keep one per cluster) → corpus
  * statistics. The reference has no pipeline surface at all (its API is
  * one index object, hnsw.cc:114-137); this is the composition a 100 TB
  * curation job actually runs, declared end-to-end so the whole DAG is
  * one Catalyst plan.
  *
  * Stage order is the scale-critical part: the narrow per-row filters
  * (language, quality) prune the corpus BEFORE any pair-generating
  * shuffle; the exact-dedup hash-agg kills byte-identical copies before
  * shingling; the transitive near-dup clustering — the only iterative
  * stage — runs over the doubly-pruned survivors only. Every stage is
  * individually oracled by its own declared query; `curate` is oracled
  * end-to-end by the same composition in SQL.
  */
object CorpusPipeline {

  /** Docs surviving the language + quality filters (all source columns
    * kept). Both classifiers are PURE COLUMNS over one tokenization —
    * a single narrow filter over the scan, no joins (codegen CSE
    * shares the repeated `split` across the score expressions).
    */
  def filtered(documents: DataFrame, lang: String, minQuality: Double): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    documents
      .filter(TextAnalysis.langPredCol(toks) === lang &&
        TextAnalysis.qualityCol(toks, col("n_chars")) >= minQuality)
  }

  /** Exact-dup survivors of `kept1` (min doc_id per content md5, all
    * columns) — semantically `kept1 ⋈ Dedup.exactKept(kept1)`, but as
    * ONE window pass: `row_number() over (partition by md5 order by
    * doc_id) = 1` compiles to `WindowGroupLimit` (map-side per-group
    * truncation before the exchange, so a pathological duplicate flood
    * never piles into one reducer), and the upstream stage prefix —
    * the language/quality filters and, in the redacted pipeline, the
    * N-pattern PII rewrite — is evaluated ONCE instead of once per
    * join side. The join form double-paid that prefix; on the
    * redacted pipeline the rewrite is the dominant narrow cost, so
    * this halves it.
    */
  private def exactSurvivors(kept1: DataFrame): DataFrame =
    kept1
      .withColumn("__rn", row_number().over(
        Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
      .filter(col("__rn") === 1)
      .drop("__rn")

  /** Kept documents after all three filter/dedup stages (all source
    * columns) — the intermediate the mixing/packing stages consume.
    */
  def curatedDocs(documents: DataFrame, lang: String, minQuality: Double,
                  jaccardThreshold: Double, maxDf: Int = 10000,
                  redactPii: Boolean = false,
                  normalize: Boolean = false): DataFrame = {
    // the fix-text stage (mojibake repair + NFKC) runs AHEAD of
    // lang-ID — stopword matching and quality signals assume composed,
    // correctly-decoded text — and therefore ahead of everything else;
    // a narrow codegen projection, order-invariant with the scan
    val docs =
      if (normalize)
        documents.withColumn("text", TextAnalysis.fixText(col("text")))
      else documents
    // PII redaction slots between quality filtering and dedup (the
    // production stage order): a narrow per-row rewrite, so exact dedup
    // then keys on the redacted bytes and identical documents that
    // differed only in their PII still collapse.
    val kept1raw = filtered(docs, lang, minQuality)
    val kept1 =
      if (redactPii) kept1raw.withColumn("text", TextAnalysis.redactCol(col("text")))
      else kept1raw
    // Exact-dup survivors, CHECKPOINTED: kept2 feeds three consumers
    // (pair generation, the clustering vertex set, the final stats
    // join) and the iterative clustering downstream — without the cut,
    // the filter pipeline re-executes once per consumer.
    // block-level eager cut (r18): the r17 reliable checkpoint wrote
    // the full kept corpus (text included) to the checkpoint dir per
    // run; localCheckpoint materializes the same cut into cached blocks
    val kept2 = exactSurvivors(kept1).localCheckpoint(true)
    val pairs = Dedup.jaccardPairsExact(kept2, jaccardThreshold, maxDf)
    val reps = Dedup.nearDupClusters(kept2, pairs)
      .filter(col("doc_id") === col("cluster_id")) // one representative per cluster
      .select("doc_id")
    kept2.join(reps, Seq("doc_id"))
  }

  /** Full curation run: per-source kept-document counts and token sums
    * after all three dedup/filter stages.
    */
  def curate(documents: DataFrame, lang: String, minQuality: Double,
             jaccardThreshold: Double, maxDf: Int = 10000,
             redactPii: Boolean = false,
             normalize: Boolean = false): DataFrame =
    curatedDocs(documents, lang, minQuality, jaccardThreshold, maxDf, redactPii, normalize)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(TextFunctions.tokens(col("text"))).cast("long")).as("n_tokens"))

  /** Per-stage selectivity accounting for [[curate]]: one row per
    * pipeline stage — `(stage, rows_in, rows_out, rows_changed)` — the
    * numbers a pipeline owner tunes with (which stage kills how many
    * docs). The counts come from the SAME deterministic stage
    * predicates the pipeline runs; `rows_changed` is `rows_in −
    * rows_out` for filter/dedup stages and the count of DOCUMENTS
    * REWRITTEN for the (row-preserving) PII stage.
    *
    * ONE tokenization pass over the corpus: the per-doc language and
    * quality flags are projected once, with the text of dropped rows
    * blanked, so the cut caches flags for the whole corpus but text
    * only for the survivor working set. One conditional-count scan of
    * the cut reads the narrow-stage counts (and the PII rewrite
    * count); the dedup stages read the cut's survivors through the
    * same exact-dedup survivor cut [[curatedDocs]] makes, so the raw
    * corpus is scanned and tokenized exactly once. Kept in lockstep
    * with [[curatedDocs]]'s body (that equality is spec-pinned against
    * the declared counts).
    */
  def curateStats(documents: DataFrame, lang: String, minQuality: Double,
                  jaccardThreshold: Double, maxDf: Int = 10000,
                  redactPii: Boolean = false): DataFrame = {
    val spark = documents.sparkSession
    val toks = TextFunctions.tokens(col("text"))
    val langOk = TextAnalysis.langPredCol(toks) === lang
    val qualOk = langOk && TextAnalysis.qualityCol(toks, col("n_chars")) >= minQuality
    val flagged = documents
      .withColumn("__l", langOk)
      .withColumn("__q", qualOk)
      .withColumn("text", when(col("__q"), col("text")))
      .localCheckpoint(true)
    val r = flagged.agg(
      count(lit(1)),
      count_if(col("__l")),
      count_if(col("__q")),
      if (redactPii)
        count_if(col("__q") && TextAnalysis.redactCol(col("text")) =!= col("text"))
      else count_if(lit(false))).head()
    val (n0, n1, n2, nPii) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val kept1Src = flagged.filter(col("__q")).drop("__l", "__q")
    val kept1 =
      if (redactPii) kept1Src.withColumn("text", TextAnalysis.redactCol(col("text")))
      else kept1Src
    val kept2 = exactSurvivors(kept1).localCheckpoint(true)
    val n3 = kept2.count()
    val pairs = Dedup.jaccardPairsExact(kept2, jaccardThreshold, maxDf)
    val reps = Dedup.nearDupClusters(kept2, pairs)
      .filter(col("doc_id") === col("cluster_id"))
      .select("doc_id")
    val n4 = kept2.join(reps, Seq("doc_id")).count()
    import spark.implicits._
    val base = Seq(
      ("lang_id", n0, n1, n0 - n1),
      ("quality", n1, n2, n1 - n2)) ++
      (if (redactPii) Seq(("pii_redact", n2, n2, nPii)) else Nil) ++ Seq(
      ("exact_dedup", n2, n3, n2 - n3),
      ("neardup_cluster", n3, n4, n3 - n4))
    base.toDF("stage", "rows_in", "rows_out", "rows_changed")
  }
}
