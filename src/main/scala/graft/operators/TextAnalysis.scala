package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Portable._
import graft.functions.TextFunctions._

/** Text-analysis operators over the `documents` table: language ID,
  * quality scoring, token statistics, fingerprinting. Everything is a
  * narrow per-row projection or a single hash aggregation — shuffle-free
  * or one-shuffle plans that scale linearly with document count.
  */
object TextAnalysis {

  private def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(e)
  private def exprOf(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.graft.ColumnBridge.expression(c)

  /** Visible text of an HTML/markup column ([[graft.functions.HtmlKernels]]):
    * tag strip, comment/script/style removal, entity decode, block-level
    * line structure, whitespace collapse — one codegen kernel call per
    * row, the extraction stage a web corpus runs BEFORE any of the
    * text-curation operators here (lang ID, quality, dedup all assume
    * plain text).
    */
  def htmlText(markup: Column): Column =
    column(graft.functions.HtmlTextExpr(exprOf(markup)))

  /** Fix-text stage ([[graft.functions.TextNormKernels]]): mojibake
    * repair (strict cp1252→UTF-8 round trip, two rounds) + Unicode
    * normalization (NFKC by default — ligatures, fullwidth forms, and
    * NBSP fold; `nfkc = false` for plain canonical NFC). Sits between
    * HTML extraction and lang-ID in the pipeline ordering
    * ([[CorpusPipeline.curatedDocs]]'s `normalize` flag).
    */
  def fixText(text: Column, nfkc: Boolean = true): Column =
    column(graft.functions.FixTextExpr(exprOf(text), nfkc))

  /** Anchor-text fraction of the visible characters — the classic
    * link-density boilerplate signal (0.0 when nothing is visible).
    */
  def linkDensity(markup: Column): Column =
    column(graft.functions.LinkDensityExpr(exprOf(markup)))

  /** Anchor `href` targets in document order — what feeds
    * [[urlDomains]]/[[domainGate]] when the corpus arrives as markup
    * instead of plain text.
    */
  def htmlLinks(markup: Column): Column =
    column(graft.functions.HtmlLinksExpr(exprOf(markup)))

  /** The HTML extraction STAGE: replace `markupCol` with its extracted
    * text and flag boilerplate-dominated rows (`link_density >
    * maxLinkDensity` — nav/footer link farms). Shuffle-free (one
    * codegen projection over the scan); composes directly upstream of
    * [[CorpusPipeline.curate]]'s lang filter:
    * `curate(extractHtml(raw).filter(!col("boilerplate")).select(id, text, …), …)`.
    */
  private[graft] def extractHtml(documents: DataFrame, markupCol: String = "html",
                                 maxLinkDensity: Double = 0.5): DataFrame = {
    val m = col(markupCol)
    // this stage's contract is that the extracted text BECOMES the
    // `text` column — a pre-existing `text` alongside a distinct
    // markup column is superseded (dropping it up front avoids the
    // ambiguous duplicate `text` the rename would otherwise create)
    val base =
      if (markupCol != "text" && documents.columns.contains("text"))
        documents.drop("text")
      else documents
    val out = base
      .withColumn("link_density", round(linkDensity(m), 6))
      .withColumn("boilerplate", linkDensity(m) > maxLinkDensity)
      .withColumn(markupCol, htmlText(m))
    if (markupCol == "text") out else out.withColumnRenamed(markupCol, "text")
  }

  /** Stopword lists per language for the n-gram/stopword heuristic
    * language identifier. Order matters: it is the deterministic
    * tie-break (first language with the max score wins).
    */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "les", "des", "et", "une"),
    "zh" -> Seq("de0", "shi4", "bu4", "le0", "zai4"))

  /** Per-language stopword hit count over a token array column. */
  def stopwordScore(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(words)))

  /** Argmax language prediction as a PURE COLUMN over a token array
    * (ties resolved by [[stopwords]] order) — composable into any
    * projection without a join.
    */
  def langPredCol(toks: Column): Column = {
    val scores = stopwords.map { case (l, ws) => l -> stopwordScore(toks, ws) }
    val best = greatest(scores.map(_._2): _*)
    // first language (in declaration order) hitting the max score wins
    scores.reverse.foldLeft(lit("und")) { case (alt, (l, s)) =>
      when(s === best, lit(l)).otherwise(alt)
    }
  }

  /** Language ID: per-language stopword scores + argmax prediction.
    * Output: doc_id, s_en..s_zh, lang_pred.
    */
  def langId(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    documents.select(
      col("doc_id") +:
        stopwords.map { case (l, ws) => stopwordScore(toks, ws).as(s"s_$l") } :+
        langPredCol(toks).as("lang_pred"): _*)
  }

  /** Heuristic quality score in [0,1] as a PURE COLUMN: token volume,
    * stopword density, and mean token length, each saturating.
    * Deterministic per-row double arithmetic, rounded to 6.
    */
  def qualityCol(toks: Column, nChars: Column): Column = {
    val nToks = size(toks).cast("double")
    val avgLen = (nChars.cast("double") - (nToks - 1.0)) / nToks
    val stopRatio = stopwordScore(toks, stopwords.head._2).cast("double") / nToks
    round(
      least(nToks / 100.0, lit(1.0)) * 0.5 +
      stopRatio * 0.3 +
      least(avgLen / 8.0, lit(1.0)) * 0.2, 6)
  }

  /** Quality scores per doc. Output: doc_id, n_toks, quality. */
  def qualityScore(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    documents.select(col("doc_id"), size(toks).as("n_toks"),
      qualityCol(toks, col("n_chars")).as("quality"))
  }

  /** Per-source quality GATE: keep documents whose quality score is at
    * or above their source's `p`-th exact interpolated percentile —
    * "drop the worst quartile of every crawl" as one composable stage.
    * Threshold-then-filter, NOT rank-then-cut: per-source thresholds
    * (one boundary-rank window pass, ≤ 2 boundary rows per source kept,
    * same spill-safe machinery and `p·(n-1)` position arithmetic as
    * [[Relational.priceQuantiles]] — bit-compatible with DuckDB
    * `quantile_cont`) are broadcast (S rows) and the corpus passes
    * through one narrow filter.
    *
    * SCALE HONESTY: the threshold pass SORTS THE WHOLE SCORED CORPUS —
    * `row_number` over `partitionBy(source)` shuffles every (doc_id,
    * source, quality) row and its parallelism is the number of
    * sources. The projection is narrow and the sort spills, so it
    * completes, but with billions of rows per source it is a
    * wall-clock bottleneck. This exact form is the small-scale oracle
    * anchor; [[qualityGateApprox]] is the 100-TB path (fixed-size GK
    * sketch per source, one hash aggregation, no sort) — the gate
    * filter itself is identical.
    *
    * Output: doc_id, source, quality (rounded, as in [[qualityScore]]).
    */
  def qualityGate(documents: DataFrame, p: Double = 0.75): DataFrame = {
    val scored = documents.select(col("doc_id"), col("source"),
      qualityCol(tokens(col("text")), col("n_chars")).as("quality"))
    val w = Window.partitionBy("source").orderBy("quality")
    val ranked = scored.withColumn("rk0", row_number().over(w) - lit(1))
    val counts = ranked.groupBy("source").agg(count(lit(1)).as("n"))
    def pos(n: Column): Column = lit(p) * (n - lit(1)).cast("double")
    val thresholds = ranked.join(broadcast(counts), Seq("source"))
      .filter(col("rk0") === floor(pos(col("n"))) ||
        col("rk0") === ceil(pos(col("n"))))
      .groupBy("source")
      .agg(max(col("n")).as("n"),
        max(when(col("rk0") === floor(pos(col("n"))), col("quality"))).as("lo"),
        max(when(col("rk0") === ceil(pos(col("n"))), col("quality"))).as("hi"))
      .select(col("source"), {
        val frac = pos(col("n")) - floor(pos(col("n"))).cast("double")
        round(col("lo") + frac * (col("hi") - col("lo")), 6).as("thr")
      })
    scored.join(broadcast(thresholds), Seq("source"))
      .filter(col("quality") >= col("thr"))
      .select("doc_id", "source", "quality")
  }

  /** Scale path for [[qualityGate]]: per-source thresholds via
    * `approx_percentile` (Greenwald-Khanna sketch, fixed-size state,
    * ONE hash aggregation — no corpus-wide sort, no per-source-sized
    * reducer). Rank error ≤ n/accuracy per source; the threshold is an
    * OBSERVED quality value (GK returns a sample, not an interpolation),
    * so the kept set can differ from the exact gate by at most the
    * documents between the interpolated and sketched thresholds —
    * bounded in TextDedupSpec against [[qualityGate]]. No DuckDB oracle
    * (sketch merge order isn't engine-portable), same precedent as
    * [[Relational.priceQuantilesApprox]].
    */
  def qualityGateApprox(documents: DataFrame, p: Double = 0.75,
                        accuracy: Int = 10000): DataFrame = {
    val scored = documents.select(col("doc_id"), col("source"),
      qualityCol(tokens(col("text")), col("n_chars")).as("quality"))
    val thresholds = scored.groupBy("source")
      .agg(expr(s"approx_percentile(quality, $p, $accuracy)").as("thr"))
    scored.join(broadcast(thresholds), Seq("source"))
      .filter(col("quality") >= col("thr"))
      .select("doc_id", "source", "quality")
  }

  // -------------------------------------------------------------------
  // URL / domain analysis — the provenance-filter curation stage
  // (extract every document's linked domains; gate on a domain
  // blocklist with subdomain-suffix semantics). Lookaround-free
  // patterns, so Java regex (engine) and RE2 (oracle) agree.
  // -------------------------------------------------------------------

  /** Full-URL matcher (scheme + host, optional path up to whitespace);
    * host may not end in '.'/'-'.
    */
  val urlPattern: String = "https?://[A-Za-z0-9.-]+[A-Za-z0-9](/[^ ]*)?"

  /** Host-capturing variant — group 1 is the domain. */
  val domainPattern: String = "https?://([A-Za-z0-9.-]+[A-Za-z0-9])"

  /** All URLs in a text column (full matches, document order). */
  def urlsCol(text: Column): Column =
    regexp_extract_all(text, lit(urlPattern), lit(0))

  /** URL/domain table: `(doc_id, url, domain)` — one row per URL
    * occurrence. Narrow map-side pass (scan → matcher → explode).
    */
  def urlDomains(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), explode(urlsCol(col("text"))).as("url"))
      .select(col("doc_id"), col("url"),
        regexp_extract(col("url"), domainPattern, 1).as("domain"))

  /** Canonical URL form ([[graft.functions.UrlKernels]]): lowercase
    * scheme/host, default port + fragment + tracking params stripped,
    * one trailing slash removed — the normalize-before-dedup step
    * (the same page arrives under many spellings; URL dedup without
    * this silently keeps them all).
    */
  def canonicalUrl(url: Column): Column =
    column(graft.functions.CanonicalUrlExpr(exprOf(url)))

  /** URL-level dedup: one row per CANONICAL URL, keeping the smallest
    * doc_id that linked it — `(canonical_url, doc_id, n_occurrences)`.
    * One gram-sized shuffle on the canonical string; text never moves.
    */
  def urlDedup(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), explode(urlsCol(col("text"))).as("url"))
      .select(col("doc_id"), canonicalUrl(col("url")).as("canonical_url"))
      .groupBy("canonical_url")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_occurrences"))

  /** Persisted BUCKETED canonical-URL store for crawl-ingestion dedup:
    * the corpus' distinct canonical URLs as a saved table bucketed
    * (and sorted) by `canonical_url` — `Dedup.writeDigestStore`'s
    * contract at URL granularity (a crawl frontier dedups arrivals by
    * URL before fetching/processing the page twice). Repeat
    * ingestion's anti-join reads the store PRE-PARTITIONED on the join
    * key: no store-side Exchange, ever.
    */
  def writeUrlStore(documents: DataFrame, table: String, buckets: Int = 32): Unit =
    documents
      .select(explode(urlsCol(col("text"))).as("url"))
      .select(canonicalUrl(col("url")).as("canonical_url"))
      .distinct()
      .write.mode("overwrite")
      .bucketBy(buckets, "canonical_url").sortBy("canonical_url")
      .saveAsTable(table)

  /** Ingestion-time URL dedup against the bucketed store: a batch
    * doc's URL survives iff its CANONICAL form is absent from the
    * store AND it is the batch's first (min doc_id) holder of that
    * form — `Dedup.incrementalExactBucketed`'s keep semantics on the
    * URL column. Returns `(doc_id, canonical_url)` for the kept
    * arrivals. `absorb = true` appends the kept (novel) canonical
    * forms back through the bucket spec — O(batch), replay-idempotent
    * (a replayed batch's URLs are all known, keeps nothing, appends
    * nothing).
    */
  def incrementalUrlDedup(spark: org.apache.spark.sql.SparkSession,
                          table: String, batch: DataFrame,
                          absorb: Boolean = true): DataFrame = {
    // cross-session freshness: the clusterStoreLabels refresh contract
    spark.catalog.refreshTable(table)
    val kept = batch
      .select(col("doc_id"), explode(urlsCol(col("text"))).as("url"))
      .select(col("doc_id"), canonicalUrl(col("url")).as("canonical_url"))
      .join(spark.table(table), Seq("canonical_url"), "left_anti")
      .groupBy("canonical_url").agg(min("doc_id").as("doc_id"))
      .select("doc_id", "canonical_url")
    if (!absorb) kept
    else {
      val pinned = kept.localCheckpoint(true) // materialize before the store moves
      pinned.select("canonical_url")
        .write.mode("append")
        .bucketBy(bucketCountOfTable(spark, table), "canonical_url")
        .sortBy("canonical_url")
        .saveAsTable(table)
      pinned
    }
  }

  private def bucketCountOfTable(spark: org.apache.spark.sql.SparkSession,
                                 table: String): Int =
    spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(table))
      .bucketSpec.map(_.numBuckets)
      .getOrElse(throw new IllegalArgumentException(
        s"store table $table has no bucket spec"))

  /** True when any linked domain is `b` or a subdomain of `b`, for any
    * blocklist entry — the standard provenance-filter semantics.
    */
  def blockedCol(text: Column, blocklist: Seq[String]): Column = {
    require(blocklist.nonEmpty, "empty blocklist blocks nothing — pass the real list")
    val doms = transform(urlsCol(text), u => regexp_extract(u, domainPattern, 1))
    exists(doms, d =>
      blocklist.map(b => d === b || d.endsWith("." + b)).reduce(_ || _))
  }

  /** Domain blocklist gate: documents with NO blocked-domain link
    * survive (doc_id, source). One narrow filter over the scan —
    * streaming-safe like [[langId]]; the blocklist rides as plan
    * literals (provenance lists are small; a corpus-sized list would
    * broadcast-anti-join via [[urlDomains]] instead).
    */
  def domainGate(documents: DataFrame, blocklist: Seq[String]): DataFrame =
    documents
      .filter(!blockedCol(col("text"), blocklist))
      .select("doc_id", "source")

  // -------------------------------------------------------------------
  // Mergeable quality-quantile sketch — the CMS `_sketch` sidecar
  // pattern for ORDER STATISTICS, so streaming curation can maintain
  // per-source gate thresholds without ever re-scanning the corpus.
  // Quality scores are rounded to 6 decimals ([[qualityCol]]), so a
  // histogram on 1e-6-wide bins is LOSSLESS: the "sketch" is exact at
  // any merge order (cells sum, like CMS rows), and its size is
  // bounded by 1e6+1 bins per source regardless of corpus size.
  // -------------------------------------------------------------------

  private val qbinScale = 1e6

  /** One sketch increment over a document batch: `(source, qbin, c)`.
    * Mergeable by cell-wise sum; O(distinct bins) rows per source.
    */
  def qualitySketch(documents: DataFrame): DataFrame =
    documents
      .select(col("source"),
        round(qualityCol(tokens(col("text")), col("n_chars")) * qbinScale)
          .cast("long").as("qbin"))
      .groupBy("source", "qbin")
      .agg(count(lit(1)).as("c"))

  /** The merged sketch of an append-only increment dir (cell-wise sum —
    * read cost bounded by appended increments, never corpus size).
    */
  def qualitySketchFromDir(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)
      .groupBy("source", "qbin")
      .agg(sum("c").as("c"))

  /** Per-source `p`-th quantile threshold from a (merged) sketch: the
    * exact TYPE-1 (lower) quantile of the binned distribution — the
    * smallest value whose cumulative count reaches `ceil(p·n)`.
    * Deterministic and merge-order-invariant; `thr` is bit-equal to
    * the corresponding `round(quality, 6)` double, so gate comparisons
    * are exact. The sketch is source-bounded, so the rank window costs
    * O(bins), never O(corpus).
    */
  def thresholdsFromSketch(sketch: DataFrame, p: Double): DataFrame = {
    val w = Window.partitionBy("source").orderBy("qbin")
    val tot = sketch.groupBy("source").agg(sum("c").as("n"))
    sketch
      .withColumn("cum", sum("c").over(w))
      .join(broadcast(tot), Seq("source"))
      .filter(col("cum") >= ceil(lit(p) * col("n")))
      .groupBy("source")
      .agg(min("qbin").as("qbin"))
      .select(col("source"), (col("qbin") / qbinScale).as("thr"))
  }

  /** The quality gate served from a maintained sketch: score the batch,
    * broadcast the sketch thresholds, ONE narrow filter — no corpus
    * sort, no re-scan of anything the sketch already summarized. The
    * type-1 threshold is ≤ the exact interpolated one by at most one
    * quality value, so the kept set is a boundary-superset of
    * [[qualityGate]]'s (spec-pinned).
    */
  def qualityGateFromSketch(documents: DataFrame, sketch: DataFrame,
                            p: Double = 0.75): DataFrame = {
    val scored = documents.select(col("doc_id"), col("source"),
      qualityCol(tokens(col("text")), col("n_chars")).as("quality"))
    scored.join(broadcast(thresholdsFromSketch(sketch, p)), Seq("source"))
      .filter(col("quality") >= col("thr"))
      .select("doc_id", "source", "quality")
  }

  /** Global token frequency: top `limit` tokens by count (count desc,
    * token asc). One explode + one hash aggregate + TakeOrdered.
    */
  def tokenCounts(documents: DataFrame, limit: Int = 100): DataFrame =
    documents
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(limit)

  /** Per (lang, source) document statistics: counts, exact char sums,
    * mean chars, token sums. Integer sums — fully deterministic.
    */
  def docStats(documents: DataFrame): DataFrame =
    documents
      .groupBy("lang", "source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("sum_chars"),
        round(sum("n_chars").cast("double") / count(lit(1)), 6).as("avg_chars"),
        sum(size(tokens(col("text"))).cast("long")).as("sum_tokens"))

  /** Whitespace vs BPE-ish regex token counts per document. */
  def tokenCounting(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      size(tokens(col("text"))).as("n_ws_tokens"),
      regexTokenCount(col("text")).as("n_re_tokens"))

  /** Rolling-hash document fingerprint (order-sensitive). */
  def fingerprints(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      rollingFingerprint(tokens(col("text"))).as("fp"))

  /** Repetition signal (the Gopher-rules style quality cut): the
    * fraction of a document's 3-gram shingles that repeat an earlier
    * shingle, `1 − distinct/total`. Boilerplate and template spam
    * score high; a curation pass drops docs above a cut (~0.2–0.3).
    * Narrow per-row projection; docs with < 3 tokens have no shingles
    * and are excluded (mirrors the oracle's WHERE).
    */
  def repetition(documents: DataFrame): DataFrame =
    documents
      // guard on the CHEAP token count, not size(shingles): a filter on
      // the shingle array gets the alias substituted under pushdown and
      // rebuilds the whole shingle construction once in the predicate
      // and again in the projection (the round-1 CollapseProject trap)
      .filter(size(tokens(col("text"))) >= 3)
      .select(col("doc_id"), shingles(tokens(col("text"))).as("sh"))
      .select(col("doc_id"), size(col("sh")).as("n_shingles"),
        size(array_distinct(col("sh"))).as("n_distinct"))
      .withColumn("dup_frac",
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_shingles"), 6))

  /** Per-document word-distribution entropy (bits) — the Gopher-style
    * "natural text has a diverse vocabulary" quality signal: low
    * entropy flags keyword stuffing and templated boilerplate, the
    * failure mode [[repetition]]'s shingle dup-fraction misses when the
    * repeats are non-contiguous. Computed via the aggregation-friendly
    * identity `H = log2(n) − (Σ c_w·log2 c_w)/n` so ONE (doc, word)
    * count plus one per-doc aggregate does it — the shuffle carries
    * each doc's DISTINCT words, never the corpus. Determinism: the
    * per-word `c·log2 c` terms truncate to DECIMAL(38,12) pre-sum (the
    * bigram-NLL libm discipline); output rounds to 6.
    */
  def wordEntropy(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n"),
        sum((col("c") * log2(col("c"))).cast("decimal(38,12)")).as("s"))
      .select(col("doc_id"), col("n").as("n_tokens"),
        round(log2(col("n")) - col("s").cast("double") / col("n"), 6).as("entropy"))

  /** The Gopher rule BUNDLE (Rae et al. 2021, table A1) — the
    * document-shape sanity cuts a corpus pass runs before any learned
    * scorer: word-count bounds, mean-word-length bounds, a minimum
    * fraction of words containing an alphabetic character, and a
    * minimum stopword count. Each signal is emitted alongside the
    * composite `gopher_pass` so a pipeline owner can see WHICH rule
    * kills a document, not just that one did (the [[curateStats]]
    * philosophy at per-doc grain). All signals are pure codegen
    * columns over ONE tokenization — a narrow shuffle-free projection,
    * the same scan-fused shape as [[qualityScore]]. The reference
    * line-based rules (bullet-line ratio, ellipsis-line ratio) are
    * deliberately absent: the corpus is single-line by construction,
    * so they would be constant columns, not signals.
    */
  def gopherRules(documents: DataFrame,
                  minWords: Int = 50, maxWords: Int = 100000,
                  minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                  minAlphaFrac: Double = 0.8, minStopwords: Int = 2): DataFrame =
    documents
      .select(col("doc_id"),
        size(tokens(col("text"))).as("n_words"),
        gopherMeanLenCol(tokens(col("text"))).as("mean_word_len"),
        gopherAlphaFracCol(tokens(col("text"))).as("frac_alpha_words"),
        stopwordScore(tokens(col("text")), stopwords.head._2).as("n_stopwords"))
      .withColumn("gopher_pass",
        col("n_words").between(minWords, maxWords) &&
          col("mean_word_len").between(minMeanLen, maxMeanLen) &&
          col("frac_alpha_words") >= minAlphaFrac &&
          col("n_stopwords") >= minStopwords)

  /** Mean word length over a token array, rounded like the declared
    * signal (shared by the batch relation and the streaming column so
    * borderline docs can never disagree between the two forms).
    */
  private def gopherMeanLenCol(w: Column): Column =
    round(aggregate(w, lit(0L), (acc, x) => acc + length(x)).cast("double") / size(w), 6)

  /** Fraction of words containing an alphabetic character (rounded —
    * same sharing rationale as [[gopherMeanLenCol]]).
    */
  private def gopherAlphaFracCol(w: Column): Column =
    round(size(filter(w, x => x.rlike("[a-zA-Z]"))).cast("double") / size(w), 6)

  /** The composite Gopher verdict as a PURE COLUMN over a token array
    * — the streaming-composable form of [[gopherRules]] (identical
    * rounded signals and thresholds, so the stream gate keeps exactly
    * the docs the batch relation flags `gopher_pass`).
    */
  def gopherPassCol(w: Column,
                    minWords: Int = 50, maxWords: Int = 100000,
                    minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                    minAlphaFrac: Double = 0.8, minStopwords: Int = 2): Column =
    size(w).between(minWords, maxWords) &&
      gopherMeanLenCol(w).between(minMeanLen, maxMeanLen) &&
      gopherAlphaFracCol(w) >= minAlphaFrac &&
      stopwordScore(w, stopwords.head._2) >= minStopwords

  // ---- Count-Min Sketch heavy hitters ----

  /** CMS shape: `cmsRows` independent hash rows × `cmsWidth` counters.
    * Row hashes are affine transforms of the token's portable 32-bit
    * hash mod a >2³² prime, reduced mod the width — deterministic,
    * engine-independent, mirrored literally in the oracle SQL.
    *
    * The multipliers MUST be large (hash-derived odd constants < 2³¹,
    * sized so h·A never overflows int64): with small multipliers the
    * products never wrap mod the prime, every row's counter is a
    * function of the SAME low bits of h, and any two tokens congruent
    * mod the width collide in ALL rows at once (measured: "the" and
    * "join" collided 4/4 on the gate corpus). Wrapping restores
    * per-row independence: all-row collision probability is the
    * designed (1/width)^rows.
    *
    * One-sided error: each row's counter ≥ the true count, so the min
    * over rows OVERestimates by at most the row's collision mass
    * (≤ N/width in expectation).
    */
  val cmsRows = 4
  val cmsWidth = 1024

  /** Per-row odd multiplier < 2³¹ and offset < 2³², hash-derived. */
  def cmsA(j: Int): Long = (md5IntOf(s"cms_a_$j") % (1L << 30)) * 2 + 1
  def cmsC(j: Int): Long = md5IntOf(s"cms_c_$j")

  private def cmsRowHash(h: Column, j: Int): Column =
    pmod((h * cmsA(j) + cmsC(j)) % 4294967311L, lit(cmsWidth))

  /** The Count-Min sketch of the corpus token stream:
    * `(row, counter, c)` — `cmsRows × cmsWidth` cells. MERGEABLE: the
    * sketch of a union of corpora is the cell-wise sum of their
    * sketches, so shards/partitions/days aggregate without rescans
    * (the property the approx-distinct and quantile sketches already
    * provide, completed here for heavy hitters).
    *
    * Scale shape: tokens are hashed at the scan; one groupBy on
    * (row, counter) whose partial aggregation collapses each task to
    * ≤ rows·width cells — the exchange carries O(tasks · rows · width)
    * regardless of corpus size.
    */
  def cmsSketch(documents: DataFrame): DataFrame = {
    val probes = array((0 until cmsRows).map { j =>
      struct(lit(j).as("row"), cmsRowHash(col("h"), j).as("counter"))
    }: _*)
    documents
      .select(explode(tokens(col("text"))).as("token"))
      .select(md5Int(col("token")).as("h"))
      .select(explode(probes).as("p"))
      .groupBy(col("p.row").as("row"), col("p.counter").as("counter"))
      .agg(count(lit(1)).as("c"))
  }

  /** Heavy hitters by CMS estimate: every DISTINCT token's estimate
    * `min_j sketch[j][h_j(token)]`, top `k` by (estimate desc, token).
    * The sketch is rows·width cells — the BROADCAST side of the probe
    * join at any corpus scale; the exact twin ([[tokenCounts]]) is the
    * anchor, and the estimate is ≥ the true count per token (the
    * one-sided CMS guarantee, pinned in the spec).
    */
  def cmsHeavyHitters(documents: DataFrame, k: Int = 50): DataFrame =
    cmsHeavyHittersWith(cmsSketch(documents), documents, k)

  /** [[cmsHeavyHitters]] against an EXTERNALLY maintained sketch (e.g.
    * the streamed increments of `StreamingCuration.maintainCms`, read
    * back via [[cmsFromDir]]): estimates the given corpus's distinct
    * tokens against whatever token stream the sketch summarizes. The
    * sketch join is LEFT with absent cells coalesced to 0: a SPARSE
    * external sketch (increment dirs store only touched cells) must
    * estimate 0 for a token whose cells were never incremented, not
    * silently skip those cells and over-estimate from the rest.
    */
  def cmsHeavyHittersWith(sketch: DataFrame, documents: DataFrame, k: Int): DataFrame = {
    val probes = array((0 until cmsRows).map { j =>
      struct(lit(j).as("row"), cmsRowHash(col("h"), j).as("counter"))
    }: _*)
    documents
      .select(explode(tokens(col("text"))).as("token"))
      .distinct()
      .select(col("token"), md5Int(col("token")).as("h"))
      .select(col("token"), explode(probes).as("p"))
      .select(col("token"), col("p.row").as("row"), col("p.counter").as("counter"))
      .join(broadcast(sketch), Seq("row", "counter"), "left")
      .groupBy("token")
      .agg(min(coalesce(col("c"), lit(0L))).as("est"))
      .orderBy(col("est").desc, col("token"))
      .limit(k)
  }

  /** The served sketch from an append-only increment dir: cell-wise
    * sum (mergeability). Read cost is bounded by appended increments
    * (≤ batches · rows · width cells), not corpus size.
    */
  def cmsFromDir(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)
      .groupBy("row", "counter")
      .agg(sum("c").as("c"))

  /** Fold an increment dir to a single summed generation at `outDir`
    * (a maintenance-window fold — callers needing crash-safe in-place
    * compaction should ride the CellSnapshot manifest machinery).
    */
  def compactCms(spark: org.apache.spark.sql.SparkSession, dir: String, outDir: String): Unit =
    cmsFromDir(spark, dir).write.mode("overwrite").parquet(outDir)

  /** Adjacent word-token bigram array over `text`: zip the token array
    * against its own tail — one narrow projection, exploded once by
    * the caller.
    */
  private def bigramsCol: Column = {
    val t = tokens(col("text"))
    arrays_zip(slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1))
  }

  /** Bigram-LM negative log-likelihood per document — the perplexity
    * quality filter (the CCNet-style cut: docs whose text the corpus
    * LM finds surprising are boilerplate, wrong-language, or junk;
    * docs it finds TOO predictable are templates). The LM is trained
    * on the corpus itself: add-alpha-smoothed conditional
    * `p(w2|w1) = (c(w1,w2) + a) / (c(w1·) + a·V)` with `V` the corpus
    * vocabulary and `c(w1·)` the bigram-prefix count. Returns
    * `(doc_id, n_bigrams, nll)` with `nll = −mean log p`, i.e.
    * `perplexity = exp(nll)`; docs with < 2 tokens have no bigrams
    * and are excluded.
    *
    * Determinism: each per-bigram log term is truncated to
    * DECIMAL(38,12) BEFORE the mean — decimal addition is associative,
    * so the cross-partition aggregation order cannot move the hash
    * (the k-means moment-pass pattern).
    *
    * Scale shape: counts are two hash aggregations on slim keys
    * (map-side partial); the scoring join keys on (w1, w2) and w1 —
    * the LM tables are the SMALL side (vocabulary-sized, not
    * corpus-sized) so AQE broadcasts them at any corpus scale; one
    * doc_id aggregation ends the plan. The vocabulary size is one
    * scalar — the BM25 stats-row contract.
    */
  def bigramNll(documents: DataFrame, alpha: Double = 0.5): DataFrame = {
    val pairs = documents
      .filter(size(tokens(col("text"))) >= 2)
      .select(col("doc_id"), explode(bigramsCol).as("bg"))
      .select(col("doc_id"), col("bg.0").as("w1"), col("bg.1").as("w2"))
    val cb = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val cu = cb.groupBy("w1").agg(sum("cb").as("cu"))
    val vocab = documents
      .select(explode(tokens(col("text"))).as("w"))
      .agg(countDistinct(col("w"))).first().getLong(0)
    pairs
      .join(cb, Seq("w1", "w2"))
      .join(cu, Seq("w1"))
      .select(col("doc_id"),
        log((col("cb") + alpha) / (col("cu") + lit(alpha) * vocab))
          .cast("decimal(38,12)").as("lp"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        round(-(sum(col("lp")).cast("double") / count(lit(1))), 6).as("nll"))
  }

  // -------------------------------------------------------------------
  // PII detection / redaction — the curation stage between quality
  // filtering and packing. Deterministic regex rules only (no model):
  // every pattern is lookaround-free so Java regex (engine) and RE2
  // (DuckDB oracle) agree match-for-match, and the oracle SQL is
  // GENERATED from these same constants so the two sides cannot drift.
  // -------------------------------------------------------------------

  /** (kind, pattern, replacement token), in REDACTION ORDER — applied
    * top to bottom; replacements contain no digits/@, so later rules
    * can never re-match inside an earlier rule's token.
    */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("card",  "\\b\\d{4}[- ]\\d{4}[- ]\\d{4}[- ]\\d{4}\\b",      "<CARD>"),
    ("ssn",   "\\b\\d{3}-\\d{2}-\\d{4}\\b",                      "<SSN>"),
    ("phone", "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b",                "<PHONE>"),
    ("ipv4",  "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IPV4>"))

  /** All PII spans of one kind as a column:
    * `array<struct<start, stop, pii>>` (one matcher sweep per row via
    * the codegen [[graft.functions.RegexpSpansExpr]]).
    */
  def piiSpansCol(text: Column, pattern: String): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.RegexpSpansExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(text),
        org.apache.spark.sql.catalyst.expressions.Literal(pattern)))

  /** PII span table: `(doc_id, kind, start, stop, pii)` — every match
    * of every rule with [start, stop) char offsets. ONE corpus scan:
    * all rules run per row and concat into a single exploded array
    * (narrow, shuffle-free, streaming-safe like [[langId]]). Documents
    * with no PII produce no rows.
    */
  def piiSpans(documents: DataFrame): DataFrame = {
    val tagged = piiPatterns.map { case (kind, pat, _) =>
      transform(piiSpansCol(col("text"), pat), s =>
        struct(lit(kind).as("kind"), s.getField("start").as("start"),
          s.getField("stop").as("stop"), s.getField("pii").as("pii")))
    }
    documents
      .select(col("doc_id"), explode(concat(tagged: _*)).as("m"))
      .select(col("doc_id"), col("m.kind"), col("m.start"), col("m.stop"), col("m.pii"))
  }

  /** Luhn checksum as a column (codegen
    * [[graft.functions.LuhnCheckExpr]], SQL `luhn_check`).
    */
  def luhnCheckCol(c: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.LuhnCheckExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(c)))

  /** Card-shaped candidates with Luhn validation:
    * `(doc_id, start, stop, card, luhn_valid)` — the regex rule finds
    * digit-shaped candidates, the mod-10 checksum promotes them to
    * plausible PANs (the standard false-positive gate for card
    * detection: a random 16-digit string passes the shape test always
    * and the checksum 1-in-10). Narrow: one matcher sweep + one
    * codegen checksum per candidate, shuffle-free, streaming-safe.
    */
  def cardCandidates(documents: DataFrame): DataFrame = {
    val pat = piiPatterns.find(_._1 == "card").get._2
    documents
      .select(col("doc_id"), explode(piiSpansCol(col("text"), pat)).as("s"))
      .select(col("doc_id"), col("s.start").as("start"),
        col("s.stop").as("stop"), col("s.pii").as("card"),
        luhnCheckCol(col("s.pii")).as("luhn_valid"))
  }

  /** Redacted text as a pure column: the [[piiPatterns]] replace chain
    * in declared order (regexp_replace replaces ALL occurrences).
    */
  def redactCol(text: Column): Column =
    piiPatterns.foldLeft(text) { case (t, (_, pat, rep)) =>
      regexp_replace(t, pat, rep)
    }

  /** PII redaction: `(doc_id, text_redacted, n_pii)` — the curation
    * stage's output plus how many spans were masked (cheap audit
    * signal). Narrow per-row projection, no shuffle.
    *
    * n_pii counts each rule on the PROGRESSIVELY-REDACTED intermediate
    * (the text after all earlier rules), mirroring the replace fold —
    * so a span consumed by an earlier rule (an SSN-shaped substring
    * inside an email local part, say) is counted exactly once, and
    * n_pii always equals the number of spans actually masked.
    */
  def redactPii(documents: DataFrame): DataFrame = {
    val (redacted, counts) =
      piiPatterns.foldLeft((col("text"), Seq.empty[Column])) {
        case ((t, cs), (_, pat, rep)) =>
          (regexp_replace(t, pat, rep), cs :+ regexp_count(t, lit(pat)))
      }
    documents.select(col("doc_id"),
      redacted.as("text_redacted"),
      counts.reduce(_ + _).cast("long").as("n_pii"))
  }
}
