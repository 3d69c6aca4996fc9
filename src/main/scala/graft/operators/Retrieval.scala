package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.tokens

/** Text retrieval over the `documents` corpus: BM25 lexical scoring and
  * reciprocal-rank-fusion hybrid (lexical + embedding) retrieval — the
  * query side of a training-data pipeline (mining domain-relevant
  * documents, sourcing eval-adjacent data, deduplicating a retrieval
  * pool before annotation).
  *
  * Scale shape (the part that matters at 100 TB):
  *   - Corpus statistics (N, avgdl, per-term document frequency) come
  *     from ONE partial-aggregated scan producing a single row —
  *     map-side combine all the way, broadcast back to the scoring scan.
  *     At 100 TB these stats are a once-per-corpus artifact; recompute
  *     cost is one narrow column scan, and the broadcast is O(|terms|).
  *   - Scoring is a NARROW projection: per-document term frequencies
  *     come from `size(filter(tokens, _ = term))` over the row's own
  *     token array — no explode, no (doc, term) shuffle, no posting
  *     list materialization. The only wide node in the whole plan is
  *     the TakeOrderedAndProject top-k (per-partition heads, driver
  *     merge of |partitions| × k rows).
  *   - Fusion joins two ALREADY-truncated k-row rank lists — the join
  *     input is O(k), never corpus-sized.
  */
object Retrieval {

  /** Okapi BM25 top-k for a bag-of-terms query.
    *
    * Standard formulation (Robertson/Sparck Jones, the +1-smoothed idf
    * used by Lucene): for each query term t with document frequency
    * df(t) over N docs,
    *   idf(t)   = ln(1 + (N - df + 0.5) / (df + 0.5))
    *   score(d) = Σ_t idf(t) · tf(t,d)·(k1+1) / (tf(t,d) + k1·(1-b + b·dl/avgdl))
    * Zero-score documents (no query term present) are dropped; ties
    * break on doc_id. Scores are rounded for cross-engine portability.
    *
    * Width bounds: the stats row carries one `df_i` column per query
    * term and the score is a static Σ over terms, so BOTH the stats
    * row and the scoring expression grow linearly with |terms| — the
    * 64-term cap keeps the single-row broadcast and the codegen method
    * bounded (a 64-term query works and is spec-pinned; 65 fails fast
    * here, not in codegen). Queries wider than the cap are not a BM25
    * serving shape — route them through a posting-list join instead.
    * An EMPTY corpus yields an empty result, not an error: the
    * degenerate stats row (n_docs=0, avgdl=null) never meets a
    * document row.
    */
  def bm25TopK(documents: DataFrame, terms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75,
               roundTo: Int = 6): DataFrame = {
    require(terms.nonEmpty, "bm25TopK needs at least one query term")
    require(terms.size <= 64,
      s"bm25TopK supports at most 64 query terms (got ${terms.size}): the per-term " +
        "df columns and the static score sum grow with the term list")
    val toks = tokens(col("text"))
    // one partial-agg stats scan → 1 row: N, avgdl, df per term
    val statCols =
      count(lit(1)).cast("double").as("n_docs") +:
        avg(size(toks).cast("double")).as("avgdl") +:
        terms.zipWithIndex.map { case (t, i) =>
          sum(when(array_contains(toks, t), 1L).otherwise(0L))
            .cast("double").as(s"df_$i")
        }
    val stats = documents.agg(statCols.head, statCols.tail: _*)
    val score = scoreCol(terms, k1, b,
      col("n_docs"), col("avgdl"), i => col(s"df_$i"))
    documents.crossJoin(broadcast(stats))
      .select(col("doc_id"), round(score, roundTo).as("bm25"))
      .filter(col("bm25") > 0)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
  }

  /** The BM25 score as a PURE COLUMN over a row carrying `text`, with
    * the corpus statistics supplied as columns — `col("n_docs")`-style
    * references for the batch top-k (stats row crossJoined in) or
    * literals for the frozen-stats streaming scorer. One code path, so
    * the two cannot drift (and the IEEE evaluation order is shared).
    */
  private def scoreCol(terms: Seq[String], k1: Double, b: Double,
                       nDocs: Column, avgdl: Column, df: Int => Column): Column = {
    val toks = tokens(col("text"))
    val dl = size(toks).cast("double")
    val norm = lit(k1) * (lit(1 - b) + lit(b) * dl / avgdl)
    terms.zipWithIndex.map { case (t, i) =>
      val tf = size(filter(toks, x => x === t)).cast("double")
      val idf = log(lit(1.0) + (nDocs - df(i) + lit(0.5)) / (df(i) + lit(0.5)))
      idf * tf * lit(k1 + 1) / (tf + norm)
    }.reduce(_ + _)
  }

  /** STREAMING-ready BM25 scorer: corpus statistics are computed ONCE
    * from the (batch) reference corpus, collected, and frozen into the
    * returned column as LITERALS — scoring an incoming document stream
    * is then a stateless narrow projection (no agg, no join): the
    * `readStream → select(bm25) → route` form a pipeline runs at
    * ingestion. Stats staleness is the caller's policy knob (recompute
    * per corpus snapshot), exactly like a serving index. Identical
    * arithmetic to [[bm25TopK]]'s scoring phase (spec-pinned equal).
    */
  def bm25Scorer(referenceCorpus: DataFrame, terms: Seq[String],
                 k1: Double = 1.2, b: Double = 0.75,
                 roundTo: Int = 6): Column = {
    val toks = tokens(col("text"))
    val statCols =
      count(lit(1)).cast("double").as("n_docs") +:
        avg(size(toks).cast("double")).as("avgdl") +:
        terms.zipWithIndex.map { case (t, i) =>
          sum(when(array_contains(toks, t), 1L).otherwise(0L))
            .cast("double").as(s"df_$i")
        }
    val row = referenceCorpus.agg(statCols.head, statCols.tail: _*).head()
    // avg() over zero rows is null — fail with a real message instead
    // of an NPE three lines later (frozen stats from nothing are
    // meaningless anyway; the caller must pick a non-empty snapshot)
    require(!row.isNullAt(1) && row.getDouble(0) > 0,
      "bm25Scorer needs a non-empty reference corpus to freeze statistics from")
    round(scoreCol(terms, k1, b,
      lit(row.getDouble(0)), lit(row.getDouble(1)), i => lit(row.getDouble(2 + i))),
      roundTo)
  }

  /** TF-IDF cosine retrieval through the POSTING-LIST shape — the
    * complement of [[bm25TopK]]'s narrow per-row scan, and the form
    * the BM25 doc points wide queries at: corpus terms are exploded
    * once into a `(doc_id, term, tf)` posting table, document
    * frequencies and idf weights come from one vocabulary-sized
    * aggregate of it, and a single per-document aggregation produces
    * BOTH the true cosine norm (over the document's ENTIRE tf-idf
    * vector, every term — what the narrow BM25 shape cannot reach)
    * and the query-term numerator:
    *   idf(t)    = ln((N+1)/(df+1)) + 1          (smoothed, ≥ 1)
    *   w(t,d)    = tf(t,d)·idf(t);  q(t) = idf(t), t ∈ query
    *   score(d)  = Σ_{t∈q} w(t,d)·q(t) / (‖w(·,d)‖ · ‖q‖)
    *
    * Scale shape: the explode+groupBy posting build is the ONE
    * corpus-scale exchange (keyed (doc_id, term) — map-side combine
    * collapses repeats within a partition first); idf is
    * vocabulary-sized and BROADCASTs onto the postings; the norm +
    * numerator fold is one hash aggregate back on doc_id; top-k is
    * TakeOrderedAndProject. Nothing after the posting build touches
    * corpus-scale data twice.
    *
    * Determinism (the cross-engine contract): idf is truncated to
    * DECIMAL(38,12) once per TERM; each posting's norm/numerator
    * contribution is computed in IEEE doubles (products only —
    * correctly rounded everywhere) and truncated to DECIMAL(38,12)
    * BEFORE the per-document sums, so partition order cannot move a
    * bit; the final score is double arithmetic over exact sums,
    * rounded to `roundTo`.
    */
  /** The shared TF-IDF substrate: the `(doc_id, term, tf)` posting
    * table (ONE corpus-scale explode+groupBy) and the vocabulary-sized
    * `(term, idf)` relation with idf truncated to DECIMAL(38,12).
    */
  private def postingsWithIdf(documents: DataFrame): (DataFrame, DataFrame) = {
    val postings = documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))
    // one scalar to the driver (the bigramNll vocabulary pattern)
    val nDocs = documents.count()
    val idf = postings
      .groupBy("term")
      .agg(count(lit(1)).as("df"))
      .select(col("term"),
        (log(lit((nDocs + 1).toDouble) / (col("df") + lit(1)).cast("double")) + lit(1.0))
          .cast("decimal(38,12)").as("idf"))
    (postings, idf)
  }

  /** Per-posting tf·idf weight in IEEE doubles (over the frozen
    * decimal idf) — the unit both the norm and the numerator truncate.
    */
  private def tfidfW: Column = col("tf").cast("double") * col("idf").cast("double")

  def tfidfTopK(documents: DataFrame, terms: Seq[String], k: Int,
                roundTo: Int = 6): DataFrame = {
    require(terms.nonEmpty, "tfidfTopK needs at least one query term")
    require(terms.distinct == terms, "tfidfTopK query terms must be distinct")
    val (postings, idf) = postingsWithIdf(documents)
    val w = tfidfW
    val perDoc = postings
      .join(broadcast(idf), Seq("term"))
      .groupBy("doc_id")
      .agg(
        sum((w * w).cast("decimal(38,12)")).as("norm2"),
        sum(when(col("term").isin(terms: _*),
          (w * col("idf").cast("double")).cast("decimal(38,12)"))
          .otherwise(lit(0).cast("decimal(38,12)"))).as("num"))
    val qnorm2 = idf
      .filter(col("term").isin(terms: _*))
      .agg(sum((col("idf").cast("double") * col("idf").cast("double"))
        .cast("decimal(38,12)")).as("qnorm2"))
    perDoc
      .crossJoin(broadcast(qnorm2))
      .filter(col("num") > 0)
      .select(col("doc_id"),
        round(col("num").cast("double") /
          (sqrt(col("norm2").cast("double")) * sqrt(col("qnorm2").cast("double"))),
          roundTo).as("tfidf"))
      .orderBy(col("tfidf").desc, col("doc_id"))
      .limit(k)
  }

  /** BATCH TF-IDF serving — Q query term bags amortize ONE posting
    * build (the batch `Pq.topK` economics applied to lexical
    * retrieval): the per-query single form re-explodes the corpus per
    * query; here the posting table and the per-document norms are
    * built once and every query's numerator rides the same relation.
    *
    * Shape: `(query_id, term)` pairs (bag-sized) join the vocabulary
    * idf and BROADCAST onto the postings — each posting meets only
    * the queries containing its term, so the numerator aggregate is
    * bounded by Σ_q df(terms_q), never Q×corpus; per-document norms
    * are the same once-per-corpus doc-keyed aggregate as the single
    * form; ranking is the bounded-heap per-query aggregate (map-side
    * partials, ≤k rows per query per task — no sort), on the ROUNDED
    * score so k-boundary ties resolve exactly like the declarative
    * `ORDER BY score DESC, doc_id`.
    *
    * Same truncation contract as [[tfidfTopK]], so batch output at
    * any Q ≡ the single form per query — spec-pinned and oracled.
    */
  def tfidfTopKBatch(documents: DataFrame, queries: Seq[(Long, Seq[String])],
                     k: Int, roundTo: Int = 6): DataFrame = {
    require(queries.nonEmpty, "tfidfTopKBatch needs at least one query")
    require(queries.map(_._1).distinct.size == queries.size, "query ids must be distinct")
    queries.foreach { case (qid, ts) =>
      require(ts.nonEmpty && ts.distinct == ts,
        s"query $qid: terms must be non-empty and distinct")
    }
    val spark = documents.sparkSession
    import spark.implicits._
    val (postings, idf) = postingsWithIdf(documents)
    val w = tfidfW
    val qrel = queries.flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("query_id", "term")
    val qterms = broadcast(idf.join(broadcast(qrel), Seq("term")))
    val norms = postings.join(broadcast(idf), Seq("term"))
      .groupBy("doc_id")
      .agg(sum((w * w).cast("decimal(38,12)")).as("norm2"))
    val nums = postings.join(qterms, Seq("term"))
      .groupBy("query_id", "doc_id")
      .agg(sum((w * col("idf").cast("double")).cast("decimal(38,12)")).as("num"))
    val qnorms = qterms.groupBy("query_id")
      .agg(sum((col("idf").cast("double") * col("idf").cast("double"))
        .cast("decimal(38,12)")).as("qnorm2"))
    val scored = nums
      .filter(col("num") > 0)
      .join(norms, Seq("doc_id"))
      .join(broadcast(qnorms), Seq("query_id"))
      .select(col("query_id"), col("doc_id").as("vec_id"),
        round(col("num").cast("double") /
          (sqrt(col("norm2").cast("double")) * sqrt(col("qnorm2").cast("double"))),
          roundTo).as("tfidf"))
    Ivf.heapTopKPerQuery(scored, k, "tfidf", asc = false)
      .withColumnRenamed("vec_id", "doc_id")
  }

  /** Build the PERSISTED inverted-index layout — the 100-TB serving
    * form of TF-IDF retrieval (the ANN tiers' layout pattern applied
    * to lexical search). One corpus-scale explode builds the posting
    * table; it is stored TERM-CLUSTERED (`repartition(term)` +
    * `sortWithinPartitions(term)`), so a query-term predicate both
    * pushes into the parquet scan (`PushedFilters`) and skips row
    * groups by footer min/max — serve cost is bounded by the query
    * terms' summed document frequency, not corpus size. The
    * vocabulary-sized idf table and the per-document norm² sidecar
    * are derived FROM the stored postings (no second corpus pass)
    * and written beside it:
    *
    *   dir/postings  (doc_id, term, tf)   term-clustered, corpus-scale
    *   dir/idf       (term, idf)          vocabulary-sized
    *   dir/norms     (doc_id, norm2)      one row per document
    *
    * All decimals survive the parquet round trip exactly, so
    * layout-served scores ≡ the in-memory forms — the indexed queries
    * share their full-compute twins' oracles.
    */
  def writeTfidfLayout(documents: DataFrame, dir: String): Unit = {
    val spark = documents.sparkSession
    val nDocs = documents.count()
    // POSITIONAL postings: the sorted 0-based token offsets ride beside
    // tf (tf = their count, so the two cannot drift). Positions cost
    // O(total tokens) — the same as the explode — and make phrase /
    // proximity queries servable from the layout ([[phraseTopK]]);
    // frequency-only readers simply never project the column (parquet
    // columnar: they don't pay for it either).
    documents
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "term")))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"), sort_array(collect_list(col("pos"))).as("positions"))
      .repartition(spark.sessionState.conf.numShufflePartitions, col("term"))
      .sortWithinPartitions("term")
      .write.mode("overwrite").parquet(s"$dir/postings")
    val stored = spark.read.parquet(s"$dir/postings")
    stored
      .groupBy("term")
      .agg(count(lit(1)).as("df"))
      .select(col("term"),
        (log(lit((nDocs + 1).toDouble) / (col("df") + lit(1)).cast("double")) + lit(1.0))
          .cast("decimal(38,12)").as("idf"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/idf")
    val storedIdf = spark.read.parquet(s"$dir/idf")
    stored.join(broadcast(storedIdf), Seq("term"))
      .groupBy("doc_id")
      .agg(sum((tfidfW * tfidfW).cast("decimal(38,12)")).as("norm2"))
      .write.mode("overwrite").parquet(s"$dir/norms")
  }

  /** [[writeTfidfLayout]] once per corpus content
    * ([[IndexMeta.ensure]]). The rebuild clears the dir, so it is this
    * layout's compaction too: a rebuild from a cleaned corpus starts
    * without the old `_deletes` tombstones, which would otherwise hide
    * any later document reusing a tombstoned id.
    */
  def ensureTfidfLayout(documents: DataFrame, dir: String): Unit =
    IndexMeta.ensure(dir, tfidfLayoutParams, documents)(writeTfidfLayout(documents, dir))

  /** The build params every [[ensureTfidfLayout]] commits under (v2:
    * positional postings).
    */
  private[graft] val tfidfLayoutParams = "tfidf_v2"

  /** A fresh read of the layout's `(doc_id, term, tf, positions)`
    * postings: each call plans its own relation, so two reads never
    * share attribute ids.
    */
  private[graft] def readPostings(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/postings")

  /** Record document takedowns against the inverted-index layout —
    * the shared `_deletes` sidecar contract ([[Tombstones]]): O(batch)
    * append, serve-time exclusion in both indexed forms, no layout
    * rewrite. Unlike the doc/cell-partitioned ANN layouts there is no
    * bounded compaction here (postings are TERM-clustered, so folding
    * a takedown touches every term's files) — the compaction story for
    * this layout is a rebuild from the cleaned source
    * (`writeTfidfLayout`), and the sidecar bounds live exclusions
    * until then. Exclusion-only semantics: corpus statistics (idf,
    * norms) stay those of the built corpus until rebuild — the same
    * staleness contract as the ANN tiers' serve-time exclusion.
    */
  def deleteDocs(spark: org.apache.spark.sql.SparkSession, dir: String,
                 docIds: DataFrame): Unit =
    Tombstones.record(spark, dir, docIds.select(col("doc_id").as("vec_id")))

  /** [[deleteDocs]] only when no sidecar exists (idempotent across
    * re-runs of declared queries).
    */
  def deleteDocsOnce(spark: org.apache.spark.sql.SparkSession, dir: String,
                     docIds: DataFrame): Unit =
    Tombstones.recordOnce(spark, dir, docIds.select(col("doc_id").as("vec_id")))

  /** Tombstone exclusion above a doc-keyed relation: a broadcast
    * anti-join on the (small, takedown-rate-bounded) sidecar.
    */
  private def excludeDeleted(spark: org.apache.spark.sql.SparkSession, dir: String,
                             docs: DataFrame): DataFrame =
    Tombstones.ids(spark, dir) match {
      case Some(dels) =>
        docs.join(broadcast(dels.select(col("vec_id").as("doc_id"))),
          Seq("doc_id"), "left_anti")
      case None => docs
    }

  /** TF-IDF top-k SERVED from the persisted layout: the postings scan
    * carries `term IN (...)` as a pushed parquet filter over the
    * term-clustered files, so only the query terms' posting lists are
    * read; idf and the query-side norm come from the vocabulary
    * sidecar; document norms join back on doc_id; tombstoned docs are
    * excluded by a broadcast anti-join before ranking. Identical
    * arithmetic to [[tfidfTopK]] — same oracle (plus the takedown
    * predicate when tombstones exist).
    */
  def tfidfTopKIndexed(spark: org.apache.spark.sql.SparkSession, dir: String,
                       terms: Seq[String], k: Int, roundTo: Int = 6): DataFrame = {
    require(terms.nonEmpty, "tfidfTopKIndexed needs at least one query term")
    require(terms.distinct == terms, "query terms must be distinct")
    val postings = readPostings(spark, dir)
    val idfQ = spark.read.parquet(s"$dir/idf").filter(col("term").isin(terms: _*))
    val norms = spark.read.parquet(s"$dir/norms")
    val nq = excludeDeleted(spark, dir, postings
      .filter(col("term").isin(terms: _*))
      .join(broadcast(idfQ), Seq("term"))
      .groupBy("doc_id")
      .agg(sum((tfidfW * col("idf").cast("double")).cast("decimal(38,12)")).as("num")))
    val qn = idfQ.agg(sum((col("idf").cast("double") * col("idf").cast("double"))
      .cast("decimal(38,12)")).as("qnorm2"))
    nq.filter(col("num") > 0)
      .join(norms, Seq("doc_id"))
      .crossJoin(broadcast(qn))
      .select(col("doc_id"),
        round(col("num").cast("double") /
          (sqrt(col("norm2").cast("double")) * sqrt(col("qnorm2").cast("double"))),
          roundTo).as("tfidf"))
      .orderBy(col("tfidf").desc, col("doc_id"))
      .limit(k)
  }

  /** BATCH serving from the persisted layout: the postings scan is
    * pruned to the UNION of all queries' terms (one pushed filter,
    * one pass), each posting meets only the queries containing its
    * term, and the bounded-heap rank closes per query — the
    * [[tfidfTopKBatch]] economics with the build amortized to zero.
    * Same arithmetic — shares the batch oracle.
    */
  def tfidfTopKBatchIndexed(spark: org.apache.spark.sql.SparkSession, dir: String,
                            queries: Seq[(Long, Seq[String])], k: Int,
                            roundTo: Int = 6): DataFrame = {
    require(queries.nonEmpty, "tfidfTopKBatchIndexed needs at least one query")
    require(queries.map(_._1).distinct.size == queries.size, "query ids must be distinct")
    queries.foreach { case (qid, ts) =>
      require(ts.nonEmpty && ts.distinct == ts,
        s"query $qid: terms must be non-empty and distinct")
    }
    import spark.implicits._
    val allTerms = queries.flatMap(_._2).distinct
    val postings = readPostings(spark, dir)
      .filter(col("term").isin(allTerms: _*))
    val idf = spark.read.parquet(s"$dir/idf")
    val norms = spark.read.parquet(s"$dir/norms")
    val qrel = queries.flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("query_id", "term")
    val qterms = broadcast(idf.join(broadcast(qrel), Seq("term")))
    val nums = excludeDeleted(spark, dir, postings.join(qterms, Seq("term"))
      .groupBy("query_id", "doc_id")
      .agg(sum((tfidfW * col("idf").cast("double")).cast("decimal(38,12)")).as("num")))
    val qnorms = qterms.groupBy("query_id")
      .agg(sum((col("idf").cast("double") * col("idf").cast("double"))
        .cast("decimal(38,12)")).as("qnorm2"))
    val scored = nums
      .filter(col("num") > 0)
      .join(norms, Seq("doc_id"))
      .join(broadcast(qnorms), Seq("query_id"))
      .select(col("query_id"), col("doc_id").as("vec_id"),
        round(col("num").cast("double") /
          (sqrt(col("norm2").cast("double")) * sqrt(col("qnorm2").cast("double"))),
          roundTo).as("tfidf"))
    Ivf.heapTopKPerQuery(scored, k, "tfidf", asc = false)
      .withColumnRenamed("vec_id", "doc_id")
  }

  /** PHRASE top-k over the positional inverted index: documents
    * containing the exact token sequence `phrase` (adjacent, in
    * order), ranked by occurrence count (`n_phrase` desc, doc_id).
    *
    * Adjacency via position-list intersection — the classic phrase
    * algorithm: slot i of the phrase contributes its term's positions
    * shifted by −i, and a phrase occurrence starting at p exists iff p
    * survives the intersection of all slots' shifted lists. Duplicate
    * phrase terms are fine (each slot joins the same posting row,
    * shifts differently).
    *
    * Scale shape: the postings scan carries `term IN (phrase)` as a
    * pushed filter over the term-clustered files (serve cost bounded
    * by the phrase terms' summed df, like [[tfidfTopKIndexed]]); the
    * slot table broadcasts; ONE doc-keyed aggregation collects the m
    * shifted lists and the intersection folds per doc (array math over
    * that doc's own lists — never a corpus-wide positional join);
    * tombstones excluded before ranking; final k via
    * TakeOrderedAndProject.
    */
  def phraseTopK(spark: org.apache.spark.sql.SparkSession, dir: String,
                 phrase: Seq[String], k: Int): DataFrame = {
    require(phrase.size >= 2, "a phrase needs at least two terms")
    import spark.implicits._
    val m = phrase.size
    val slots = phrase.zipWithIndex.map { case (t, i) => (i, t) }.toDF("slot", "term")
    val postings = readPostings(spark, dir)
      .filter(col("term").isin(phrase.distinct: _*))
      .select(col("doc_id"), col("term"), col("positions"))
    val shifted = postings
      .join(broadcast(slots), Seq("term"))
      .select(col("doc_id"), col("slot"),
        transform(col("positions"), p => p - col("slot")).as("qpos"))
    val perDoc = shifted
      .groupBy("doc_id")
      // one row per matched slot (postings are unique per (doc, term)):
      // count == m iff every slot's term occurs in the doc
      .agg(count(lit(1)).as("n_slots"), collect_list(col("qpos")).as("ls"))
      .filter(col("n_slots") === m)
      // fold intersection over the doc's own m lists; positions are
      // distinct ints, so the intersection SIZE is collect-order
      // invariant (set semantics) — deterministic despite collect_list
      .withColumn("n_phrase",
        size(aggregate(slice(col("ls"), lit(2), lit(m - 1)),
          element_at(col("ls"), 1),
          (acc, x) => array_intersect(acc, x))))
      .filter(col("n_phrase") > 0)
      .select(col("doc_id"), col("n_phrase").cast("long").as("n_phrase"))
    excludeDeleted(spark, dir, perDoc)
      .orderBy(col("n_phrase").desc, col("doc_id"))
      .limit(k)
  }

  /** PROXIMITY top-k over the positional postings — [[phraseTopK]]'s
    * relaxation and the other standard positional query: rank documents
    * by the number of ordered near co-occurrences of two terms, i.e.
    * position pairs (p1, p2) with 0 < p2 − p1 ≤ slop (slop = 1
    * degenerates to the exact 2-term phrase count). Same serving shape
    * as the phrase query: the postings scan is term-pushed so cost is
    * ∝ df(termA) + df(termB), and pair counting is LOCAL per document
    * over the tf-bounded position arrays (a nested HOF fold — tf², but
    * tf is tens, not corpus-scale). Takedowns ride the shared
    * `_deletes` sidecar.
    */
  def proximityTopK(spark: org.apache.spark.sql.SparkSession, dir: String,
                    termA: String, termB: String, slop: Int, k: Int): DataFrame = {
    require(slop >= 1, s"slop must be positive, got $slop")
    val postings = readPostings(spark, dir)
      .select(col("doc_id"), col("term"), col("positions"))
    val a = postings.filter(col("term") === termA)
      .select(col("doc_id"), col("positions").as("pa"))
    val b = postings.filter(col("term") === termB)
      .select(col("doc_id"), col("positions").as("pb"))
    val paired = a.join(b, Seq("doc_id"))
      .withColumn("n_near",
        aggregate(col("pa"), lit(0), (acc, p1) =>
          acc + size(filter(col("pb"), p2 => p2 > p1 && p2 <= p1 + slop))))
      .filter(col("n_near") > 0)
      .select(col("doc_id"), col("n_near").cast("long").as("n_near"))
    excludeDeleted(spark, dir, paired)
      .orderBy(col("n_near").desc, col("doc_id"))
      .limit(k)
  }

  /** Hybrid retrieval by reciprocal-rank fusion (Cormack et al.):
    * fuse the BM25 top-`poolK` lexical list with the cosine top-`poolK`
    * embedding list (doc_id ≡ vec_id row alignment),
    *   rrf(d) = Σ_lists 1 / (kRrf + rank_list(d))
    * over the lists that contain d. Rank-based fusion needs no score
    * normalization across modalities — exactly why serving tiers use it.
    * Both inputs are k-row lists, so the windows and the full-outer
    * join touch O(poolK) rows, not the corpus.
    */
  /** Late-interaction (maxsim) top-k — ColBERT-style multi-vector
    * retrieval: a document is a BAG of token vectors, the query is a
    * bag of token vectors, and
    *   score(doc) = Σ_{t ∈ query} max_{v ∈ doc} ⟨t, v⟩
    * — each query token matches its best document token, so fine-
    * grained term-level interaction survives into a corpus-scale
    * index scan (the retrieval-quality step between single-vector
    * cosine and full cross-attention re-ranking).
    *
    * `docVectors(doc_id, embedding)` (one row per document token
    * vector); `queryTokens(tok_id, query_vec)` — query-sized, like a
    * BM25 term list, so it broadcasts.
    *
    * Scale shape: ONE scan of the doc-vector table; each row meets
    * the broadcast T query tokens (a bounded ×T blowup, like nprobe —
    * never doc×doc); the per-(doc, token) max PARTIAL-aggregates
    * map-side, so the first shuffle carries ≤ T rows per doc, the
    * second ≤ 1 — both post-agg tiny. Final k via
    * TakeOrderedAndProject. The dot is the codegen `dotProduct` fold,
    * so scores hash-match DuckDB `list_inner_product`.
    */
  def maxsimTopK(docVectors: DataFrame, queryTokens: DataFrame, k: Int,
                 roundTo: Int = 6): DataFrame = {
    import graft.functions.VectorFunctions.dotProduct
    // the token ids pivot into one max column each and the score is a
    // STATIC ascending-tok-id chain of adds — a fixed fold order, so
    // the rounded score is bit-reproducible across engines (the same
    // portability rule as bm25's static Σ over terms; an unordered
    // float `sum` agg would be run-dependent in the last bits). Query
    // size is bounded like bm25's term list.
    val tokIdsAll = queryTokens.select(col("tok_id")).collect().map(_.getLong(0))
    val tokIds = tokIdsAll.distinct.sorted
    // duplicate tok_ids would emit duplicate m_<id> pivot columns — an
    // ambiguous-reference AnalysisException at best, a double-counted
    // token at worst — and the intended semantics are undefined anyway
    require(tokIds.length == tokIdsAll.length,
      "maxsimTopK: queryTokens carries duplicate tok_id rows — give each query " +
        "token a unique tok_id")
    require(tokIds.nonEmpty && tokIds.length <= 64,
      s"maxsimTopK supports 1..64 query tokens (got ${tokIds.length}): the per-token " +
        "max columns and the static score chain grow with the query")
    val maxCols = tokIds.map(t =>
      max(when(col("tok_id") === t, col("dot"))).as(s"m_$t"))
    val score = tokIds.map(t => col(s"m_$t")).reduce(_ + _)
    docVectors.crossJoin(broadcast(queryTokens))
      .select(col("doc_id"), col("tok_id"),
        dotProduct(col("embedding"), col("query_vec")).as("dot"))
      .groupBy(col("doc_id"))
      .agg(maxCols.head, maxCols.tail: _*)
      .select(col("doc_id"), round(score, roundTo).as("maxsim"))
      .orderBy(col("maxsim").desc, col("doc_id"))
      .limit(k)
  }

  /** [[maxsimTopK]] served from a cell-partitioned doc-vector layout
    * (`Ivf.ensurePartitioned*` over the token-vector table) — the
    * 100-TB form: each query token probes its `nprobe` nearest cells
    * and the scan is pruned to the UNION of probed cells, so scoring
    * touches ~|tokens|·nprobe/C of the doc-vector files instead of
    * the corpus. `docIdOf` maps a stored `vec_id` to its document.
    *
    * Approximate: a document token outside every probed cell
    * contributes nothing; a (doc, token) pair with NO surviving dot
    * scores that token as 0 — the conventional no-match floor (note
    * it can exceed a true NEGATIVE best-dot; on similarity-normalized
    * corpora best-dots are non-negative and the floor is exact-or-
    * under, never over). At `nprobe = C`
    * every cell is probed, no pair is missing, and the result is
    * EXACTLY [[maxsimTopK]] (spec-pinned; the declared query runs at
    * nprobe = C against the same full-scan oracle, the
    * `q_knn_rewrite_topk` pattern — machinery oracled exact, pruning
    * exercised by spec/bench).
    */
  def maxsimTopKPruned(spark: org.apache.spark.sql.SparkSession, dir: String,
                       queryTokens: DataFrame, docIdOf: Column => Column,
                       k: Int, nprobe: Int, roundTo: Int = 6,
                       excluded: Option[DataFrame] = None): DataFrame = {
    import graft.functions.VectorFunctions.dotProduct
    // data + routing pinned to one manifest version; per-token probes
    // ride the batch machinery keyed by tok_id, which also rejects a
    // repeated tok_id (its dots would double-join with undefined intent)
    val (stored, cents) = Ivf.readLayoutWithCentroids(spark, dir)
    val plan = Ivf.probePlan(cents, queryTokens, nprobe, keyCols = Seq("tok_id"))
    val tokIds = plan.queryIds.sorted
    require(tokIds.nonEmpty && tokIds.length <= 64,
      s"maxsimTopKPruned supports 1..64 query tokens (got ${tokIds.length})")
    val probes = plan.pairs(spark)
    val pruned = stored
      .filter(col("cell").isin(plan.unionCells: _*)) // partition-pruned
    val maxCols = tokIds.map(t =>
      max(when(col("tok_id") === t, col("dot"))).as(s"m_$t"))
    // a token with no surviving (doc, token) dot floors at 0
    val score = tokIds.map(t => coalesce(col(s"m_$t"), lit(0.0))).reduce(_ + _)
    // takedowns: excluded token-vector ids (a doc takedown records all
    // its token ids) drop above the pruned scan — the shared
    // `_deletes` broadcast anti-join contract (Ivf.withoutExcluded)
    Ivf.withoutExcluded(pruned, excluded)
      .join(broadcast(probes), Seq("cell"))
      .join(broadcast(queryTokens), Seq("tok_id"))
      .select(docIdOf(col("vec_id")).as("doc_id"), col("tok_id"),
        dotProduct(col("embedding"), col("query_vec")).as("dot"))
      .groupBy(col("doc_id"))
      .agg(maxCols.head, maxCols.tail: _*)
      .select(col("doc_id"), round(score, roundTo).as("maxsim"))
      .orderBy(col("maxsim").desc, col("doc_id"))
      .limit(k)
  }

  /** BATCH late-interaction maxsim over a cell-partitioned token-vector
    * layout — the serving form of [[maxsimTopKPruned]]: Q query token
    * BAGS (`queryTokens(query_id, tok_id, query_vec)`) are served by
    * ONE pruned scan. Each (query, token) probes its `nprobe` nearest
    * cells (ranked on the driver like every IVF batch probe — the
    * token bags are collected, the Q·T·nprobe probe pairs ride as a
    * broadcast local relation, and the probed-cell ids become the
    * partition-filter literals); each stored token row meets only the
    * (query, token) pairs probing ITS cell; the per-(query, doc,
    * token) best dot partial-aggregates map-side, and the per-(query,
    * doc) score folds the best dots in STATIC ascending-tok_id order
    * (deterministic float sum — the same portability rule as the
    * single-bag pivot chain, expressed as a sorted-array fold because
    * the batch form cannot pivot per-query columns). Per-query top-k
    * via the bounded-heap aggregate.
    *
    * At `nprobe = C` every pair survives and results are EXACTLY the
    * per-query [[maxsimTopK]] (RetrievalSpec pins batch ≡ single; the
    * declared query runs at nprobe = C against the full-scan oracle —
    * the established rewrite pattern). A (doc, token) pair with no
    * surviving dot floors at 0, as in [[maxsimTopKPruned]].
    */
  def maxsimTopKBatch(spark: org.apache.spark.sql.SparkSession, dir: String,
                      queryTokens: DataFrame, docIdOf: Column => Column,
                      k: Int, nprobe: Int, roundTo: Int = 6,
                      excluded: Option[DataFrame] = None): DataFrame = {
    import graft.functions.VectorFunctions.dotProduct
    // per-(query, token) probes ranked on the driver, keyed by the
    // composite (query_id, tok_id) — a duplicate key would double-join
    // its dots with undefined intent and is rejected, the single-bag
    // contract; data and routing pinned to ONE manifest version — a
    // reclustered token-embedding layout must never probe with
    // stale/torn routing
    val (stored, cents) = Ivf.readLayoutWithCentroids(spark, dir)
    val plan = Ivf.probePlan(cents, queryTokens, nprobe, keyCols = Seq("query_id", "tok_id"))
    val probes = plan.pairs(spark)
    val pruned = stored
      .filter(col("cell").isin(plan.unionCells: _*)) // partition-pruned
    // takedowns drop above the pruned scan (shared `_deletes` contract)
    val best = Ivf.withoutExcluded(pruned, excluded)
      .join(broadcast(probes), Seq("cell"))
      .join(broadcast(queryTokens), Seq("query_id", "tok_id"))
      .select(col("query_id"), docIdOf(col("vec_id")).as("doc_id"), col("tok_id"),
        dotProduct(col("embedding"), col("query_vec")).as("dot"))
      .groupBy("query_id", "doc_id", "tok_id")
      .agg(max(col("dot")).as("m"))
    // deterministic score: fold the (tok_id, m) pairs ascending by
    // tok_id — bit-reproducible across partitionings and engines
    val scored = best.groupBy("query_id", "doc_id")
      .agg(aggregate(
        array_sort(collect_list(struct(col("tok_id"), col("m")))),
        lit(0.0), (acc, x) => acc + x.getField("m")).as("s"))
      .select(col("query_id"), col("doc_id").as("vec_id"),
        round(col("s"), roundTo).as("maxsim"))
    Ivf.heapTopKPerQuery(scored, k, "maxsim", asc = false)
      .select(col("query_id"), col("vec_id").as("doc_id"), col("maxsim"))
  }

  /** `(id, rank)` over a small (≤ pool-size) list: 1-based rank by
    * `score` descending, ties to the smaller id — numbered inside one
    * sorted array (a global aggregate), not a partition-less window.
    */
  private def rankedDesc(df: DataFrame, score: String, idCol: String,
                         rank: String): DataFrame =
    df.agg(sort_array(collect_list(struct(col(score), (-col(idCol)).as("neg"))),
        asc = false).as("r"))
      .select(posexplode(col("r")).as(Seq("i", "e")))
      .select((-col("e.neg")).as("id"), (col("i") + 1).cast("long").as(rank))

  def hybridRrfTopK(documents: DataFrame, embeddings: DataFrame,
                    terms: Seq[String], queryVecId: Long, k: Int,
                    kRrf: Int = 60, poolK: Int = 20,
                    roundTo: Int = 6): DataFrame = {
    val lex = rankedDesc(bm25TopK(documents, terms, poolK), "bm25", "doc_id", "lex_rank")
    val q = embeddings.filter(col("vec_id") === queryVecId)
      .select(transform(col("embedding"), x => x.cast("double")).as("query_vec"))
    val sem = rankedDesc(
      Knn.cosineTopK(embeddings.crossJoin(broadcast(q)), col("query_vec"), poolK),
      "cos_sim", "vec_id", "sem_rank")
    lex.join(sem, Seq("id"), "full_outer")
      .select(col("id").as("doc_id"),
        round(
          coalesce(lit(1.0) / (lit(kRrf) + col("lex_rank")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(kRrf) + col("sem_rank")), lit(0.0)),
          roundTo).as("rrf"),
        col("lex_rank"), col("sem_rank"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(k)
  }
}
