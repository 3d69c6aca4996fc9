package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Byte-pair-encoding tokenizer TRAINING in-engine — the published
  * merge-rule learner (Sennrich et al.: iteratively merge the most
  * frequent adjacent symbol pair), run as k declarative rounds.
  *
  * Formulation: training operates on the WORD-TYPE table (distinct
  * words weighted by corpus frequency) — the standard reduction. The
  * corpus-scale cost is exactly ONE groupBy(word) count; every round
  * after that is vocabulary-sized (a 100-TB corpus still has a
  * bounded word-type table, the broadcast side of any plan that uses
  * the learned rules).
  *
  * Semantics pinned for the oracle (all deterministic):
  *  - initial symbols: the word's characters plus a final `</w>`
  *    end-of-word marker;
  *  - pair counts: EVERY adjacent symbol pair, weighted by word freq
  *    (overlapping occurrences counted, the reference implementation's
  *    get_stats behavior);
  *  - rule selection: max count, ties by (w1, w2) lexicographic;
  *  - merge application: greedy left-to-right non-overlapping. For a
  *    rule (a,b) with a ≠ b adjacent matches can never overlap; for
  *    a = b they overlap exactly within runs of equal symbols, where
  *    greedy takes every OTHER match (run-parity) — that equivalence
  *    is what lets both engines apply merges with window functions
  *    instead of a per-row fold.
  */
object Bpe {

  /** Corpus word-type table: `(word, freq)`. The one corpus-scale pass. */
  def wordTypes(documents: DataFrame): DataFrame =
    documents
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("freq"))

  /** Initial symbol table: `(word, freq, sym: array<string>)`. */
  def initialSymbols(words: DataFrame): DataFrame =
    words.select(col("word"), col("freq"),
      concat(
        filter(split(col("word"), ""), s => length(s) > 0),
        array(lit("</w>"))).as("sym"))

  /** Adjacent-pair frequencies over a symbol table:
    * `(w1, w2, c)` with c = Σ freq over every adjacent occurrence.
    */
  def pairCounts(syms: DataFrame): DataFrame = {
    val s = col("sym")
    val zipped = arrays_zip(
      slice(s, lit(1), size(s) - 1), slice(s, lit(2), size(s) - 1))
    syms
      .filter(size(s) >= 2)
      .select(col("freq"), explode(zipped).as("p"))
      .groupBy(col("p.0").as("w1"), col("p.1").as("w2"))
      .agg(sum("freq").as("c"))
  }

  /** Apply one merge rule (a,b) → "ab" to every row's symbol array —
    * greedy left-to-right as ONE narrow `aggregate` fold over the
    * array, entirely inside the row (guide §2.4/§4: the r16 form was
    * explode → two windows → join → regroup, i.e. FOUR exchanges of
    * the exploded symbol stream per merge round; this is zero).
    *
    * The fold IS the greedy scan: append each symbol unless the
    * accumulator's last element is `a` and the incoming symbol is `b`,
    * in which case replace the last element with "ab". Run-parity for
    * a = b falls out for free — after a merge the last element is
    * "aa" ≠ "a", so the next `a` of the run appends (1st, 3rd, …
    * matches merge, exactly the reference greedy). The one case that
    * could confuse the scan — a freshly merged element colliding with
    * `a` — is impossible: `a + b` is strictly longer than `a` since
    * symbols are non-empty.
    *
    * Cost: every step of the fold builds a new accumulator array (a
    * `concat`/`slice` copy), so one row costs O(L²) in its symbol
    * count L. That is cheap for word-level rows, where L is one word's
    * length, but grows fast on long sequences: document-level byte BPE
    * would need a per-row loop instead of this fold.
    */
  def applyMerge(syms: DataFrame, a: String, b: String): DataFrame = {
    val merged = a + b
    syms.select(col("word"), col("freq"),
      aggregate(
        col("sym"),
        array().cast("array<string>"),
        (acc, s) => when(
          size(acc) > 0 && element_at(acc, -1) === lit(a) && s === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(merged))))
          .otherwise(concat(acc, array(s)))).as("sym"))
  }

  /** Learn `k` merge rules: `(step, w1, w2, c)`, step 1-based in learn
    * order. Each round collects ONE row (the argmax rule) to the
    * driver — the centroid-collect contract; the symbol table is
    * localCheckpointed per round to truncate the unrolled lineage.
    */
  def train(documents: DataFrame, k: Int): DataFrame =
    trainWithSymbols(documents, k)._1

  /** [[train]] that ALSO returns the final merged symbol table, so
    * [[encode]] reuses it instead of re-deriving all k rounds from a
    * fresh table (which would double the whole BPE workload per call).
    */
  def trainWithSymbols(documents: DataFrame, k: Int): (DataFrame, DataFrame) = {
    val spark = documents.sparkSession
    import spark.implicits._
    var syms = initialSymbols(wordTypes(documents))
    val rules = Seq.newBuilder[(Int, String, String, Long)]
    for (step <- 1 to k) {
      val top = pairCounts(syms)
        .orderBy(col("c").desc, col("w1"), col("w2"))
        .limit(1).collect()
      if (top.nonEmpty) {
        val r = top(0)
        val (a, b) = (r.getString(0), r.getString(1))
        rules += ((step, a, b, r.getLong(2)))
        // LAZY checkpoint (r17): applyMerge is now a narrow projection,
        // so the next round's top-1 job materializes the cut as a
        // by-product — an eager checkpoint would pay one extra job per
        // round for data this small. The cut still keeps the plan flat
        // (8 nested folds would otherwise re-analyze per round).
        syms = applyMerge(syms, a, b).localCheckpoint(false)
      }
    }
    (rules.result().toDF("step", "w1", "w2", "c"), syms)
  }

  /** The word-type table re-encoded under `k` learned merges:
    * `(word, freq, toks)` with `toks` the space-joined symbol string
    * (symbols never contain spaces). The trained-tokenizer view a
    * pipeline joins against its corpus — vocabulary-sized, broadcast
    * side at any scale.
    */
  def encode(documents: DataFrame, k: Int): DataFrame = {
    val (_, syms) = trainWithSymbols(documents, k)
    syms.select(col("word"), col("freq"),
      array_join(col("sym"), " ").as("toks"))
  }
}
