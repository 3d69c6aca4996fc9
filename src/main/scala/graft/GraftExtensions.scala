package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Sqrt}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.{broadcast, col}

import graft.functions.{DotProductExpr, L2DistanceSqExpr}
import graft.functions.VectorFunctions.perturbQuery
import graft.operators.{Dedup, Knn, Retrieval, TextAnalysis}
import graft.sources.Tables

/** SparkSessionExtensions entry point: registers the engine's native
  * vector expressions as SQL functions, so `spark.sql("... l2_distance
  * (a, b) ...")` works alongside the Column API (SURVEY.md §2.1 #5 —
  * the reference's only API is direct method calls; this engine exposes
  * both DataFrame and SQL surfaces).
  *
  * Wire up with `.config("spark.sql.extensions", "graft.GraftExtensions")`
  * or call [[GraftExtensions.register]] on a live session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (ident, info, builder) =>
      ext.injectFunction((ident, info, builder))
    }
    GraftExtensions.tableFunctions.foreach { case (ident, info, builder) =>
      ext.injectTableFunction((ident, info, builder))
    }
    // Index-aware planning: naive exact-kNN plans over tables with a
    // registered IVF index execute the probe instead (IndexRewriteRule).
    ext.injectOptimizerRule(session => graft.plans.IndexRewriteRule(session))
  }
}

object GraftExtensions {
  private def info(name: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, name)

  private def binary(name: String, mk: (Expression, Expression) => Expression)
      : Seq[Expression] => Expression = { args =>
    require(args.length == 2, s"$name requires exactly 2 arguments, got ${args.length}")
    mk(args(0), args(1))
  }

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("l2_distance"), info("l2_distance"),
      binary("l2_distance", (a, b) => Sqrt(L2DistanceSqExpr(a, b)))),
    (FunctionIdentifier("l2_distance_sq"), info("l2_distance_sq"),
      binary("l2_distance_sq", L2DistanceSqExpr(_, _))),
    (FunctionIdentifier("dot_product"), info("dot_product"),
      binary("dot_product", DotProductExpr(_, _))),
    (FunctionIdentifier("regexp_spans"), info("regexp_spans"),
      binary("regexp_spans", graft.functions.RegexpSpansExpr(_, _))),
    (FunctionIdentifier("luhn_check"), info("luhn_check"),
      { args =>
        require(args.length == 1,
          s"luhn_check requires exactly 1 argument, got ${args.length}")
        graft.functions.LuhnCheckExpr(args(0))
      }),
    (FunctionIdentifier("html_text"), info("html_text"),
      { args =>
        require(args.length == 1,
          s"html_text requires exactly 1 argument, got ${args.length}")
        graft.functions.HtmlTextExpr(args(0))
      }),
    (FunctionIdentifier("link_density"), info("link_density"),
      { args =>
        require(args.length == 1,
          s"link_density requires exactly 1 argument, got ${args.length}")
        graft.functions.LinkDensityExpr(args(0))
      }),
    (FunctionIdentifier("html_links"), info("html_links"),
      { args =>
        require(args.length == 1,
          s"html_links requires exactly 1 argument, got ${args.length}")
        graft.functions.HtmlLinksExpr(args(0))
      }),
    (FunctionIdentifier("canonical_url"), info("canonical_url"),
      { args =>
        require(args.length == 1,
          s"canonical_url requires exactly 1 argument, got ${args.length}")
        graft.functions.CanonicalUrlExpr(args(0))
      }),
    (FunctionIdentifier("fix_text"), info("fix_text"),
      { args =>
        require(args.length == 1,
          s"fix_text requires exactly 1 argument, got ${args.length}")
        graft.functions.FixTextExpr(args(0))
      }))

  /** Lift a DataFrame builder over literal arguments into a TVF plan
    * builder: arguments must be foldable (the SQL-literal contract of a
    * parameterized view), evaluated at resolution time.
    */
  private def tvf(name: String)(build: (SparkSession, Seq[Any]) => org.apache.spark.sql.DataFrame)
      : Seq[Expression] => LogicalPlan = { args =>
    require(args.forall(_.foldable), s"$name arguments must be literals")
    val spark = SparkSession.active
    build(spark, args.map(_.eval())).queryExecution.logical
  }

  private def asString(a: Any): String = a.toString // UTF8String included
  private def asInt(a: Any): Int = a.asInstanceOf[Number].intValue()
  private def asDouble(a: Any): Double = a match {
    case d: org.apache.spark.sql.types.Decimal => d.toDouble
    case n: Number => n.doubleValue()
  }

  /** SQL-callable operator surface (SURVEY.md §4: the reference's only
    * API is C++ method calls; this engine exposes DataFrame, scalar-SQL
    * AND table-function surfaces). Each TVF mirrors a declared-query
    * operator over the canonical tables at a data dir:
    *
    *  - `knn_topk(dir, k)`: exact top-k by L2 for the RgbTest protocol
    *    query (perturbed vector of vec_id=0) over `dir/embeddings`.
    *  - `minhash_pairs(dir, threshold)`: MinHash-LSH candidate pairs
    *    with exact-Jaccard verification ≥ threshold over
    *    `dir/documents`.
    *  - `bm25_topk(dir, k, term, ...)`: Okapi BM25 top-k over
    *    `dir/documents` for a variadic bag of query terms.
    *  - `range_search(dir, radius)`: every vector within `radius` of
    *    the protocol query (full-scan form — the `q_range_search`
    *    oracle semantics; the layout-pruned form is the Column API's
    *    `Ivf.rangeSearch` over a `plain` layout).
    *  - `maxsim_topk(dir, k)`: late-interaction (ColBERT-style) top-k
    *    over `dir/embeddings` for the multi-vector protocol (4 token
    *    vectors per doc, query = 4 perturbed tokens — the
    *    `q_maxsim_topk` semantics).
    *  - `diversified_topk(dir, k, j)`: best k by L2 to the protocol
    *    query subject to AT MOST j per document `source` — the
    *    `q_diversified_topk` semantics.
    *  - `sq_topk(dir, k)`: scalar-quantized (SQ8) ADC top-k for the
    *    protocol query — the `q_sq_topk` semantics in one in-plan
    *    encode+score pass.
    *  - `hamming_topk(dir, k)`: binary-signature Hamming top-k for the
    *    protocol query — the `q_hamming_topk` semantics.
    *  - `cascade_topk(dir, k, l1, l2)`: the three-tier serving funnel
    *    (binary Hamming shortlist → SQ8 ADC shortlist → exact L2) for
    *    the protocol query, fully declarative — the `q_cascade_topk`
    *    semantics with in-plan encoding ([[graft.operators.Cascade.topKFlat]]).
    *  - `pagerank(dir, iters)`: PageRank over the customer→supplier
    *    purchase graph derived from `dir/{orders,lineitem}` — the
    *    `q_pagerank` semantics.
    *  - `kcore(dir, k, rounds)`: fixed-round k-core peeling over the
    *    repeat (≥2 shared orders) part co-occurrence graph — the
    *    `q_kcore` semantics.
    *  - `triangle_counts(dir)`: per-node triangle counts over the part
    *    co-occurrence graph — the `q_triangle_counts` semantics.
    *  - `connected_components(dir)`: pointer-jumping connected
    *    components over the repeat part co-occurrence graph — the
    *    `q_connected_components` semantics.
    *  - `phrase_topk(dir, k, term1, term2, ...)`: exact-phrase top-k
    *    from the positional inverted index (slot-shifted position-list
    *    intersection, ranked by occurrence count) — the
    *    `q_phrase_topk` semantics.
    *  - `dup_spans(dir, n)` / `span_dedup(dir, n)`: substring-level
    *    dedup over `dir/documents` — maximal duplicated n-gram runs,
    *    and the keep-first rebuild (the `q_dup_spans` /
    *    `q_span_dedup` semantics).
    *  - `semdedup(dir, c, iters, tau)`: semantic dedup labeling over
    *    `dir/embeddings` — the `q_semdedup` semantics.
    *  - `bigram_nll(dir)`: corpus-trained bigram-LM perplexity scores
    *    over `dir/documents` — the `q_bigram_nll` semantics.
    *  - `chunk_docs(dir, window, stride)`: sliding-window word
    *    chunking over `dir/documents` — the `q_chunk_docs` semantics.
    *  - `tfidf_topk(dir, k, term, ...)`: TF-IDF cosine top-k (posting-
    *    list shape, full-vocabulary doc norms) over `dir/documents` —
    *    the `q_tfidf_topk` semantics.
    *  - `logreg_scores(dir, rounds, label, feat, ...)`: corpus scored
    *    under the in-engine GD-trained linear classifier — the
    *    `q_logreg_scores` semantics.
    *  - `leakage_split(dir, trainFrac, valFrac)`: near-dup-cluster-keyed
    *    train/val/test labels — the `q_leakage_split` semantics.
    */
  val tableFunctions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan)] = Seq(
    (FunctionIdentifier("knn_topk"), info("knn_topk"),
      tvf("knn_topk") { (spark, args) =>
        require(args.length == 2, "knn_topk(dir, k)")
        val emb = Tables.embeddings(spark, asString(args(0)))
        val q = emb.filter(col("vec_id") === 0)
          .select(perturbQuery(col("embedding")).as("query_vec"))
        Knn.topK(emb.crossJoin(broadcast(q)), col("query_vec"), asInt(args(1)))
      }),
    (FunctionIdentifier("minhash_pairs"), info("minhash_pairs"),
      tvf("minhash_pairs") { (spark, args) =>
        require(args.length == 2, "minhash_pairs(dir, threshold)")
        Dedup.minhashPairs(Tables.documents(spark, asString(args(0))), asDouble(args(1)))
      }),
    (FunctionIdentifier("bm25_topk"), info("bm25_topk"),
      tvf("bm25_topk") { (spark, args) =>
        require(args.length >= 3, "bm25_topk(dir, k, term, ...)")
        Retrieval.bm25TopK(Tables.documents(spark, asString(args(0))),
          args.drop(2).map(asString), asInt(args(1)))
      }),
    (FunctionIdentifier("range_search"), info("range_search"),
      tvf("range_search") { (spark, args) =>
        require(args.length == 2, "range_search(dir, radius)")
        val emb = Tables.embeddings(spark, asString(args(0)))
        val q = emb.filter(col("vec_id") === 0)
          .select(perturbQuery(col("embedding")).as("query_vec"))
        val r = asDouble(args(1))
        import org.apache.spark.sql.functions.round
        emb.crossJoin(broadcast(q))
          .select(col("vec_id"),
            round(graft.functions.VectorFunctions.l2Distance(
              col("embedding"), col("query_vec")), 6).as("dist"))
          .filter(col("dist") <= r)
          .orderBy(col("dist"), col("vec_id"))
      }),
    (FunctionIdentifier("maxsim_topk"), info("maxsim_topk"),
      tvf("maxsim_topk") { (spark, args) =>
        require(args.length == 2, "maxsim_topk(dir, k)")
        val emb = Tables.embeddings(spark, asString(args(0)))
        import org.apache.spark.sql.functions.floor
        val docs = emb.select(floor(col("vec_id") / 4).cast("long").as("doc_id"),
          col("embedding"))
        val toks = emb.filter(col("vec_id") < 4)
          .select(col("vec_id").as("tok_id"), perturbQuery(col("embedding")).as("query_vec"))
        Retrieval.maxsimTopK(docs, toks, asInt(args(1)))
      }),
    (FunctionIdentifier("sq_topk"), info("sq_topk"),
      tvf("sq_topk") { (spark, args) =>
        require(args.length == 2, "sq_topk(dir, k)")
        val emb = Tables.embeddings(spark, asString(args(0)))
        val (lo, hi) = graft.operators.Sq.bounds(emb)
        val q = emb.filter(col("vec_id") === 0)
          .select(perturbQuery(col("embedding")).as("query_vec"))
        graft.operators.Sq.adcTopK(emb, lo, hi, q, asInt(args(1)))
      }),
    (FunctionIdentifier("hamming_topk"), info("hamming_topk"),
      tvf("hamming_topk") { (spark, args) =>
        require(args.length == 2, "hamming_topk(dir, k)")
        val emb = Tables.embeddings(spark, asString(args(0)))
        val B = graft.operators.Binary
        val thr = B.thresholds(emb)
        val words = (thr.length + B.BitsPerWord - 1) / B.BitsPerWord
        val q = emb.filter(col("vec_id") === 0)
          .select(perturbQuery(col("embedding")).as("query_vec"))
        val qsig = q.select(B.signatureCol(col("query_vec"), thr).as("qsig"))
        emb.select(col("vec_id"), B.signatureCol(col("embedding"), thr).as("sig"))
          .crossJoin(broadcast(qsig))
          .select(col("vec_id"), B.hammingCol(col("sig"), col("qsig"), words).as("hamming"))
          .orderBy(col("hamming"), col("vec_id"))
          .limit(asInt(args(1)))
      }),
    (FunctionIdentifier("cascade_topk"), info("cascade_topk"),
      tvf("cascade_topk") { (spark, args) =>
        require(args.length == 4, "cascade_topk(dir, k, l1, l2)")
        val emb = Tables.embeddings(spark, asString(args(0)))
        val q = emb.filter(col("vec_id") === 0)
          .select(perturbQuery(col("embedding")).as("query_vec"))
        graft.operators.Cascade.topKFlat(emb, q, asInt(args(1)), asInt(args(2)),
          asInt(args(3)))
      }),
    (FunctionIdentifier("pagerank"), info("pagerank"),
      tvf("pagerank") { (spark, args) =>
        require(args.length == 2, "pagerank(dir, iters)")
        val dir = asString(args(0))
        val edges = Tables.orders(spark, dir)
          .join(Tables.lineitem(spark, dir), col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").cast("long").as("src"),
            (col("l_suppkey").cast("long") + 1000000L).as("dst"))
        graft.operators.Graph.pageRank(edges, asInt(args(1)))
      }),
    (FunctionIdentifier("kcore"), info("kcore"),
      tvf("kcore") { (spark, args) =>
        require(args.length == 3, "kcore(dir, k, rounds)")
        graft.operators.Graph.kcore(
          graft.operators.Graph.partCoOccurrence(
            Tables.lineitem(spark, asString(args(0))), minOrders = 2),
          asInt(args(1)), asInt(args(2)))
      }),
    (FunctionIdentifier("triangle_counts"), info("triangle_counts"),
      tvf("triangle_counts") { (spark, args) =>
        require(args.length == 1, "triangle_counts(dir)")
        graft.operators.Graph.triangleCounts(
          graft.operators.Graph.partCoOccurrence(
            Tables.lineitem(spark, asString(args(0)))))
      }),
    (FunctionIdentifier("connected_components"), info("connected_components"),
      tvf("connected_components") { (spark, args) =>
        require(args.length == 1, "connected_components(dir)")
        graft.operators.Graph.connectedComponents(
          graft.operators.Graph.partCoOccurrence(
            Tables.lineitem(spark, asString(args(0))), minOrders = 2))
      }),
    (FunctionIdentifier("diversified_topk"), info("diversified_topk"),
      tvf("diversified_topk") { (spark, args) =>
        require(args.length == 3, "diversified_topk(dir, k, j)")
        val dir = asString(args(0))
        val emb = Tables.embeddings(spark, dir)
        val docs = Tables.documents(spark, dir)
        val q = emb.filter(col("vec_id") === 0)
          .select(perturbQuery(col("embedding")).as("query_vec"))
        import org.apache.spark.sql.functions.round
        val scored = emb.crossJoin(broadcast(q))
          .select(col("vec_id"),
            round(graft.functions.VectorFunctions.l2Distance(
              col("embedding"), col("query_vec")), 6).as("dist"))
          .join(docs.select(col("doc_id").as("vec_id"), col("source")), Seq("vec_id"))
        Knn.diversifiedTopK(scored, col("source"), col("dist"), col("vec_id"),
          asInt(args(1)), asInt(args(2)))
      }),
    (FunctionIdentifier("dup_spans"), info("dup_spans"),
      tvf("dup_spans") { (spark, args) =>
        require(args.length == 2, "dup_spans(dir, n)")
        Dedup.duplicateSpans(Tables.documents(spark, asString(args(0))), asInt(args(1)))
      }),
    (FunctionIdentifier("span_dedup"), info("span_dedup"),
      tvf("span_dedup") { (spark, args) =>
        require(args.length == 2, "span_dedup(dir, n)")
        Dedup.spanDedup(Tables.documents(spark, asString(args(0))), asInt(args(1)))
      }),
    (FunctionIdentifier("semdedup"), info("semdedup"),
      tvf("semdedup") { (spark, args) =>
        require(args.length == 4, "semdedup(dir, c, iters, tau)")
        val emb = Tables.embeddings(spark, asString(args(0)))
        Dedup.semDedup(emb,
          graft.operators.Ivf.kmeansCached(emb, asInt(args(1)), asInt(args(2))),
          asDouble(args(3)))
      }),
    (FunctionIdentifier("bigram_nll"), info("bigram_nll"),
      tvf("bigram_nll") { (spark, args) =>
        require(args.length == 1, "bigram_nll(dir)")
        graft.operators.TextAnalysis.bigramNll(Tables.documents(spark, asString(args(0))))
      }),
    (FunctionIdentifier("chunk_docs"), info("chunk_docs"),
      tvf("chunk_docs") { (spark, args) =>
        require(args.length == 3, "chunk_docs(dir, window, stride)")
        graft.operators.Packing.chunkDocs(Tables.documents(spark, asString(args(0))),
          asInt(args(1)), asInt(args(2)))
      }),
    (FunctionIdentifier("tfidf_topk"), info("tfidf_topk"),
      tvf("tfidf_topk") { (spark, args) =>
        require(args.length >= 3, "tfidf_topk(dir, k, term, ...)")
        Retrieval.tfidfTopK(Tables.documents(spark, asString(args(0))),
          args.drop(2).map(asString), asInt(args(1)))
      }),
    (FunctionIdentifier("proximity_topk"), info("proximity_topk"),
      tvf("proximity_topk") { (spark, args) =>
        require(args.length == 5, "proximity_topk(dir, k, termA, termB, slop)")
        val sfDir = asString(args(0))
        val base = spark.conf.getOption("spark.graft.indexDir")
          .getOrElse("target/graft_index")
        val ldir = s"$base/v2_tfidf_m_${sfDir.replaceAll("[^A-Za-z0-9.]", "_")}"
        Retrieval.ensureTfidfLayout(Tables.documents(spark, sfDir), ldir)
        Retrieval.proximityTopK(spark, ldir, asString(args(2)), asString(args(3)),
          asInt(args(4)), asInt(args(1)))
      }),
    (FunctionIdentifier("phrase_topk"), info("phrase_topk"),
      tvf("phrase_topk") { (spark, args) =>
        require(args.length >= 4, "phrase_topk(dir, k, term1, term2, ...)")
        val sfDir = asString(args(0))
        // same layout keying as the declared queries, so the TVF and
        // q_phrase_topk share one persisted positional index
        val base = spark.conf.getOption("spark.graft.indexDir")
          .getOrElse("target/graft_index")
        val ldir = s"$base/v2_tfidf_m_${sfDir.replaceAll("[^A-Za-z0-9.]", "_")}"
        Retrieval.ensureTfidfLayout(Tables.documents(spark, sfDir), ldir)
        Retrieval.phraseTopK(spark, ldir, args.drop(2).map(asString), asInt(args(1)))
      }),
    (FunctionIdentifier("leakage_split"), info("leakage_split"),
      tvf("leakage_split") { (spark, args) =>
        require(args.length == 3, "leakage_split(dir, trainFrac, valFrac)")
        val docs = Tables.documents(spark, asString(args(0)))
        val clusters = Dedup.nearDupClusters(docs,
          Dedup.jaccardPairsExact(docs, 0.5, maxDf = 10000))
        graft.operators.Sampling.leakageSafeSplit(docs, clusters,
          asDouble(args(1)), asDouble(args(2)))
      }),
    (FunctionIdentifier("logreg_scores"), info("logreg_scores"),
      tvf("logreg_scores") { (spark, args) =>
        require(args.length >= 4, "logreg_scores(dir, rounds, label, feat, ...)")
        graft.operators.Classifier.scores(Tables.documents(spark, asString(args(0))),
          asString(args(2)), args.drop(3).map(asString), asInt(args(1)))
      }),
    (FunctionIdentifier("corpus_pipeline"), info("corpus_pipeline"),
      tvf("corpus_pipeline") { (spark, args) =>
        require(args.length == 4 || args.length == 5,
          "corpus_pipeline(dir, lang, minQuality, jaccardThreshold[, redactPii])")
        graft.operators.CorpusPipeline.curate(
          Tables.documents(spark, asString(args(0))), asString(args(1)),
          asDouble(args(2)), asDouble(args(3)),
          redactPii = args.length == 5 && asString(args(4)).toBoolean)
      }),
    (FunctionIdentifier("pii_spans"), info("pii_spans"),
      tvf("pii_spans") { (spark, args) =>
        require(args.length == 1, "pii_spans(dir)")
        TextAnalysis.piiSpans(Tables.documents(spark, asString(args(0))))
      }),
    (FunctionIdentifier("redact_pii"), info("redact_pii"),
      tvf("redact_pii") { (spark, args) =>
        require(args.length == 1, "redact_pii(dir)")
        TextAnalysis.redactPii(Tables.documents(spark, asString(args(0))))
      }))

  /** Register on an already-created session (tests, notebooks). */
  def register(spark: SparkSession): Unit = {
    functions.foreach { case (ident, inf, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, inf, builder)
    }
    tableFunctions.foreach { case (ident, inf, builder) =>
      spark.sessionState.tableFunctionRegistry.registerFunction(ident, inf, builder)
    }
  }
}
