package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Portable._
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._

/** Deduplication operators for a training-data pipeline: exact,
  * MinHash+LSH near-dup, SimHash, n-gram Jaccard, embedding-cosine.
  *
  * Scale design:
  *  - exact dedup = one hash aggregation on a 128-bit digest (never
  *    groupBy the raw text — the digest is 16 bytes, the text is KBs).
  *  - MinHash: per-row signature (narrow, codegen'd); LSH banding turns
  *    the O(n²) similarity join into an equi-join on (band, band_hash) —
  *    the only shuffle is on band keys, exactly the published
  *    shingle→minhash→band→bucket-join pipeline.
  *  - candidate pairs are verified with the *real* Jaccard on the pair
  *    (false-positive filter), so output quality doesn't depend on LSH
  *    luck; verification touches only candidate pairs, not n².
  *  - embedding near-dup: brute-force threshold join is the correctness
  *    baseline; the scale path blocks by IVF cell (see Ivf).
  *
  * Hash functions are Portable (md5-derived integer arithmetic) — the
  * same signatures are computable in any engine, which is what makes
  * these oracle-checkable.
  */
object Dedup {

  /** Exact duplicate clusters by full-text md5: digest, cluster size,
    * kept (minimum) doc_id. `minSize = 2` restricts to true duplicate
    * clusters; the declared query uses 1 (the testdata plants no exact
    * dups, and an all-clusters dump is a stronger oracle check).
    */
  def exactClusters(documents: DataFrame, minSize: Long = 2): DataFrame =
    documents
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(
        count(lit(1)).as("n_dups"),
        min("doc_id").as("keep_id"))
      .filter(col("n_dups") >= minSize)

  /** Kept view after exact dedup: one doc per distinct text (min id). */
  def exactKept(documents: DataFrame): DataFrame =
    documents
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id")

  /** Ingestion-time INCREMENTAL exact dedup: keep an incoming-batch doc
    * iff its content md5 is (a) absent from the existing corpus and
    * (b) first among its duplicates WITHIN the batch (min doc_id) —
    * the form every later ingestion pays, where [[exactClusters]] is
    * the once-per-corpus compaction.
    *
    * Scale shape: the corpus side reduces to its DISTINCT md5 set
    * before the join (map-side partial agg — the corpus text itself is
    * never shuffled), then a left-anti equi-join on md5 drops known
    * content and one md5-keyed agg keeps the batch's first copy. Both
    * joins key on md5, so with corpus digests bucketed by md5 repeated
    * ingestion is a co-located join against a digest table, never a
    * corpus rescan.
    */
  def incrementalExact(corpus: DataFrame, batch: DataFrame): DataFrame =
    batch.select(col("doc_id"), md5(col("text")).as("text_md5"))
      .join(corpus.select(md5(col("text")).as("text_md5")).distinct(),
        Seq("text_md5"), "left_anti")
      .groupBy("text_md5").agg(min("doc_id").as("doc_id"))
      .select("doc_id", "text_md5")

  /** Persisted BUCKETED digest store for incremental exact dedup: the
    * corpus' distinct content md5s as a saved table bucketed (and
    * sorted) by `text_md5`. Repeat ingestion's anti-join then reads
    * the store PRE-PARTITIONED on the join key — no Exchange on the
    * store side, ever (only the O(batch) side shuffles to match the
    * bucket count) — the co-located-join layout [[incrementalExact]]'s
    * contract promises.
    */
  def writeDigestStore(documents: DataFrame, table: String,
                       buckets: Int = 32): Unit =
    documents.select(md5(col("text")).as("text_md5")).distinct()
      .write.mode("overwrite")
      .bucketBy(buckets, "text_md5").sortBy("text_md5")
      .saveAsTable(table)

  /** Ingestion-time exact dedup against the BUCKETED digest store:
    * same keep semantics as [[incrementalExact]] (absent from the
    * store AND first of its md5 within the batch), with the store side
    * of the anti-join exchange-free by bucket layout. `absorb = true`
    * appends the kept batch's (novel, hence store-disjoint) digests
    * back through the same bucket spec — an O(batch) append that is
    * idempotent under micro-batch replay: a replayed batch's digests
    * are all in the store already, so the anti-join keeps nothing and
    * the append writes nothing.
    */
  def incrementalExactBucketed(spark: org.apache.spark.sql.SparkSession,
                               table: String, batch: DataFrame,
                               absorb: Boolean = true): DataFrame = {
    // cross-session freshness: an absorb from a cloned session (e.g. a
    // streaming micro-batch) never invalidates THIS session's cached
    // relation — refresh before reading (the clusterStoreLabels note)
    spark.catalog.refreshTable(table)
    val kept = batch.select(col("doc_id"), md5(col("text")).as("text_md5"))
      .join(spark.table(table), Seq("text_md5"), "left_anti")
      .groupBy("text_md5").agg(min("doc_id").as("doc_id"))
      .select("doc_id", "text_md5")
    if (!absorb) kept // read-only: hand back the lazy plan unmaterialized
    else {
      // materialize BEFORE the absorb mutates the store
      val pinned = kept.localCheckpoint(true)
      pinned.select("text_md5")
        .write.mode("append")
        .bucketBy(bucketCountOf(spark, table), "text_md5").sortBy("text_md5")
        .saveAsTable(table)
      pinned
    }
  }

  /** The bucket count a saved store table was created with — appends
    * must ride the EXISTING spec (Spark rejects a mismatched one), so
    * it is read from the catalog, never passed in.
    */
  private def bucketCountOf(spark: org.apache.spark.sql.SparkSession,
                            table: String): Int =
    spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(table))
      .bucketSpec.map(_.numBuckets)
      .getOrElse(throw new IllegalArgumentException(
        s"store table $table has no bucket spec"))

  // ---- MinHash ----

  /** Number of hash functions in the MinHash signature and the LSH
    * banding shape (numHashes = bands * rowsPerBand).
    */
  val numHashes = 16
  val bands = 8
  val rowsPerBand = 2
  val minhashPrime = 4294967311L // smallest prime > 2^32

  // The i-th portable hash of a shingle = affine transform of md5Int
  // modulo a >2^32 prime; coefficients fixed, small, overflow-safe
  // (max ~2e15 < 2^63). Mirrored literally in the generated oracle SQL.

  /** The i-th affine transform of an already-md5-hashed shingle. */
  private def affineHash(h: Column, i: Int): Column =
    (h * (2L * i + 1L) + 12582917L * i) % minhashPrime

  /** Per-doc MinHash signature table (docs with ≥3 tokens; docs below
    * that have no shingles and drop out in the explode).
    *
    * Shape: explode shingles → md5 ONCE per (doc, shingle) → one hash
    * aggregation computing all `numHashes` minima map-side. A per-row
    * array-of-array_min formulation would recompute the md5 of every
    * shingle `numHashes` times (CollapseProject inlines the common
    * subexpression away) — measured 100× slower at bench scale.
    */
  def minhashSignatures(documents: DataFrame): DataFrame = {
    val hashed = documents
      .select(col("doc_id"), explode(shingles(tokens(col("text")))).as("s"))
      .select(col("doc_id"), md5Int(col("s")).as("h"))
    val mins = (0 until numHashes).map(i => min(affineHash(col("h"), i)).as(s"m$i"))
    hashed.groupBy("doc_id")
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), array((0 until numHashes).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** LSH band keys: (doc_id, band, band_key) where band_key summarises
    * rowsPerBand consecutive signature slots. Emitting rows (via
    * posexplode of the banded signature) keys the join.
    */
  def lshBands(signatures: DataFrame): DataFrame = {
    val bandArray = array((0 until bands).map { b =>
      concat_ws("_",
        (0 until rowsPerBand).map(r => element_at(col("sig"), b * rowsPerBand + r + 1)): _*)
    }: _*)
    signatures
      .select(col("doc_id"), posexplode(bandArray).as(Seq("band", "band_key")))
  }

  /** Candidate near-dup pairs: equi-join on (band, band_key), id1<id2,
    * distinct. The shuffle key is the band bucket — never an n² product.
    */
  private def minhashCandidates(documents: DataFrame): DataFrame = {
    val b = lshBands(minhashSignatures(documents))
    val l = b.select(col("band"), col("band_key"), col("doc_id").as("id1"))
    val r = b.select(col("band"), col("band_key"), col("doc_id").as("id2"))
    l.join(r, Seq("band", "band_key"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2")
      .distinct()
  }

  /** Distinct hashed-shingle sets per doc: `(doc_id, sh: array<long>)`.
    * Shingles are md5-hashed before set ops — long comparisons instead
    * of repeated string comparisons (this is the standard "shingle =
    * its hash" identification from the MinHash literature; the oracle
    * hashes identically, so collisions — ~2⁻³² per pair — cannot cause
    * a mismatch).
    */
  private def hashedShingleSets(documents: DataFrame): DataFrame =
    // tokenize + ~tokens shingles + an md5 EACH — per-row crypto work
    // dwarfs scan bytes, so widen first (Skew.spreadToCores); every
    // consumer aggregates or joins afterwards, so results are
    // partition-invariant
    graft.functions.Skew.spreadToCores(documents)
      .filter(size(tokens(col("text"))) >= 3)
      .select(col("doc_id"),
        array_distinct(transform(shingles(tokens(col("text"))), s => md5Int(s))).as("sh"))

  /** Benchmark-contamination detection: flag corpus documents sharing
    * at least `minOverlap` distinct shingles (3-gram hashes) with a
    * PROBE set of documents (an eval benchmark) — the
    * train-vs-test-overlap check a training pipeline runs before every
    * data release. Asymmetric by design, which is what makes it scale:
    * the probe side (benchmark suites are small) collapses to a
    * DISTINCT shingle-hash set and is BROADCAST, so the corpus is
    * scanned once map-side — no shuffle of corpus rows, no pair
    * explosion (contrast [[jaccardPairsExact]]'s corpus×corpus shape).
    * Partial aggregation keeps the one shuffle at (flagged doc, count)
    * width. Output: `(doc_id, n_overlap)` for corpus docs (those NOT
    * in the probe) meeting the threshold.
    */
  def contamination(documents: DataFrame, isProbe: Column, minOverlap: Long = 1): DataFrame = {
    // Split BEFORE shingling: hashedShingleSets projects down to
    // (doc_id, sh), so filtering its output would reject any probe
    // predicate over other document columns (source, an is_benchmark
    // flag — the natural way to mark an eval set). Filtering the input
    // lets the predicate reference anything on `documents`, and the
    // narrow filters also prune both sides before tokenization.
    val probe = hashedShingleSets(documents.filter(isProbe))
      .select(explode(col("sh")).as("h")).distinct()
    hashedShingleSets(documents.filter(!isProbe))
      .select(col("doc_id"), explode(col("sh")).as("h"))
      .join(broadcast(probe), Seq("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)
  }

  /** |a ∩ b| / |a ∪ b| with the union via inclusion-exclusion — one
    * array op per pair instead of two.
    */
  private def jaccardOf(sh1: Column, sh2: Column): Column = {
    val ni = size(array_intersect(sh1, sh2))
    round(ni.cast("double") / (size(sh1) + size(sh2) - ni), 6)
  }

  /** Persist the MinHash near-dup state for a corpus at `dir`: the LSH
    * band buckets (`bands/`: doc_id, band, band_key) and the hashed
    * shingle sets (`shingles/`: doc_id, sh) — everything
    * [[minhashPairsIncremental]] needs to dedup ARRIVALS against the
    * absorbed corpus without ever recomputing its signatures. Sizes:
    * B rows/doc for bands, one set/doc for shingles — both O(corpus),
    * never O(corpus²).
    */
  def writeMinhashStore(documents: DataFrame, dir: String): Unit = {
    lshBands(minhashSignatures(documents))
      .write.mode("overwrite").parquet(s"$dir/bands")
    hashedShingleSets(documents)
      .write.mode("overwrite").parquet(s"$dir/shingles")
  }

  /** INCREMENTAL near-dup: every pair (new × absorbed-corpus and
    * new × new) whose LSH bands collide and whose true shingle Jaccard
    * meets the threshold — then (by default) the batch is ABSORBED
    * (bands + shingle sets appended), so the next batch dedups against
    * it too. This is ingest-time near-dup at the cost of the BATCH:
    * the batch's bands broadcast against one scan of the stored
    * buckets (never corpus × corpus, never recomputing stored
    * signatures), verification joins touch only candidate ids, and
    * the append is O(batch). Identical pair semantics to running
    * [[minhashPairs]] over (absorbed ∪ batch) restricted to pairs with
    * a batch member — the oracle's form.
    */
  def minhashPairsIncremental(spark: org.apache.spark.sql.SparkSession, dir: String,
                              newDocs: DataFrame, threshold: Double = 0.7,
                              absorb: Boolean = true): DataFrame = {
    val storedBands = spark.read.parquet(s"$dir/bands")
    val storedSh = spark.read.parquet(s"$dir/shingles")
    val newBands = lshBands(minhashSignatures(newDocs))
      .localCheckpoint(true) // computed once: candidates + the absorb append
    val newSh = hashedShingleSets(newDocs).localCheckpoint(true)
    val cross = storedBands
      .join(broadcast(newBands.select(col("band"), col("band_key"),
        col("doc_id").as("id_new"))), Seq("band", "band_key"))
      .select(least(col("doc_id"), col("id_new")).as("id1"),
        greatest(col("doc_id"), col("id_new")).as("id2"))
    val withinL = newBands.select(col("band"), col("band_key"), col("doc_id").as("id1"))
    val withinR = newBands.select(col("band"), col("band_key"), col("doc_id").as("id2"))
    val within = withinL.join(withinR, Seq("band", "band_key"))
      .select(col("id1"), col("id2"))
    val cands = cross.unionByName(within)
      .filter(col("id1") < col("id2"))
      .distinct()
    val allSh = storedSh.unionByName(newSh)
    val pairs = cands
      .join(allSh.select(col("doc_id").as("id1"), col("sh").as("sh1")), Seq("id1"))
      .join(allSh.select(col("doc_id").as("id2"), col("sh").as("sh2")), Seq("id2"))
      .withColumn("jaccard", jaccardOf(col("sh1"), col("sh2")))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
      .localCheckpoint(true) // materialize BEFORE the absorb mutates the store
    if (absorb) {
      // REPLAY-SAFE append: docs already absorbed are anti-joined away —
      // one semi-join of the store against the broadcast-sized batch ids
      // finds the overlap, so a replayed micro-batch can never duplicate
      // store rows or fan out later candidate joins
      val newIds = newSh.select(col("doc_id")).distinct()
      val alreadyIds = storedSh
        .join(broadcast(newIds), Seq("doc_id"), "left_semi")
        .select("doc_id").distinct()
        .localCheckpoint(true) // batch-bounded, materialized pre-append
      newBands.join(broadcast(alreadyIds), Seq("doc_id"), "left_anti")
        .write.mode("append").parquet(s"$dir/bands")
      newSh.join(broadcast(alreadyIds), Seq("doc_id"), "left_anti")
        .write.mode("append").parquet(s"$dir/shingles")
    }
    pairs
  }

  /** Near-dup pairs, LSH candidates verified by true shingle-set Jaccard
    * ≥ threshold. Join back to the shingle sets is on doc_id; Jaccard
    * itself is per-candidate-pair array math — never touches non-pairs.
    */
  def minhashPairs(documents: DataFrame, threshold: Double = 0.7): DataFrame = {
    // lazy cut: the shingle sets are consumed by BOTH verification
    // joins (and the signature path re-derives them) — without it each
    // consumer re-tokenizes and re-hashes the corpus (r17; RDD-keyed
    // localCheckpoint, so nothing leaks across runs)
    val sh = hashedShingleSets(documents).localCheckpoint(false)
    minhashCandidates(documents)
      .join(sh.select(col("doc_id").as("id1"), col("sh").as("sh1")), Seq("id1"))
      .join(sh.select(col("doc_id").as("id2"), col("sh").as("sh2")), Seq("id2"))
      .withColumn("jaccard", jaccardOf(col("sh1"), col("sh2")))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** Exact n-gram Jaccard for ALL pairs above a threshold, via an
    * inverted index: post (doc, shingle-hash) rows, equi-join on the
    * hash, count common shingles per pair, then inclusion-exclusion
    * with the per-doc set sizes. Cost is Σ_shingle (docs with it)² —
    * near-linear when shingles are rare — instead of |docs|²; the
    * equi-join shuffle key is the shingle hash, so it scales out.
    * A pair appears iff it shares ≥1 surviving shingle, so for any
    * threshold > 0 this is EXACT whenever `maxDf` doesn't bind (no
    * candidate loss); with a binding cap it is conservative (see below).
    */
  def jaccardPairsExact(documents: DataFrame, threshold: Double = 0.7,
                        maxDf: Int = 10000): DataFrame = {
    // lazy cut (r17): `sh` feeds both the posting explode and the
    // per-doc size relation — uncut, the tokenize+shingle+md5 pass
    // (the dominant narrow cost) ran once per consumer. RDD-keyed
    // localCheckpoint: materializes inside this run's first job, never
    // serves a later run.
    val sh = hashedShingleSets(documents).localCheckpoint(false)
    val posts = sh.select(col("doc_id"), explode(col("sh")).as("h"))
    // Per-doc set sizes come straight from the shingle sets — one narrow
    // pass, independent of the posting lists, and exactly the |A|/|B| of
    // the textbook Jaccard (the oracle's len(a.sh)). The posting-list
    // aggregation below is therefore consumed exactly ONCE (round 2
    // computed sizes FROM the lists, evaluating the groupBy twice).
    val sizes = sh.select(col("doc_id"), size(col("sh")).as("n"))
    // ONE grouped pass builds the per-shingle posting list; `maxDf`
    // drops stop-shingles (df > cap), which bounds the collect_list
    // buffer and the df² pair fan-out per shingle — the skew guard for
    // corpora where one shingle appears everywhere. The default is
    // FINITE on purpose: an unbounded hot shingle means an O(df²)
    // single-row array (2 GB task cap) long before it means a wrong
    // answer. Capped shingles are excluded from the intersection but
    // still count toward |A|+|B|, so a binding cap can only LOWER a
    // pair's Jaccard — conservative (may miss pairs, never invents
    // them). On the driver corpora max df ≪ 10000, so the declared
    // query is output-identical to the uncapped form (spec-verified).
    val lists = posts.groupBy("h")
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) <= maxDf)
    // pair generation is LOCAL per posting list (ds sorted, so id1<id2
    // by construction) — no self-join, Σ_shingle df² work with df ≤ maxDf
    val combos = flatten(transform(col("ds"), (x, i) =>
      transform(slice(col("ds"), i + lit(2), size(col("ds"))),
        y => struct(x.as("id1"), y.as("id2")))))
    lists
      .filter(size(col("ds")) >= 2)
      .select(explode(combos).as("p"))
      .select(col("p.id1"), col("p.id2"))
      .groupBy("id1", "id2")
      .agg(count(lit(1)).as("ni"))
      .join(sizes.select(col("doc_id").as("id1"), col("n").as("n1")), Seq("id1"))
      .join(sizes.select(col("doc_id").as("id2"), col("n").as("n2")), Seq("id2"))
      .withColumn("jaccard",
        round(col("ni").cast("double") / (col("n1") + col("n2") - col("ni")), 6))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** Transitive near-dup clusters: connected components over the
    * near-dup pair graph, labeled by the minimum doc_id of each
    * component — the "keep one representative per duplicate cluster"
    * step of a dedup pipeline (pairs alone under-delete: a~b, b~c must
    * collapse to ONE kept doc even when a~c is below threshold).
    *
    * Algorithm: iterative min-label propagation with POINTER JUMPING:
    * each round every vertex adopts the smallest label among itself
    * and its neighbors (one equi-join + one aggregation keyed on doc
    * id — scales out), then follows its label one hop (label := label
    * of label), which halves the remaining path length — convergence
    * in O(log diameter) rounds instead of O(diameter), and each round
    * costs a driver round-trip, so the log matters. Each round runs
    * exactly ONE Spark job, whose scalar aggregate doubles as the
    * convergence check — no data is ever collected.
    *
    * Input `pairs` must be `(id1, id2, ...)` with id1 < id2; `allDocs`
    * supplies the vertex set so isolated documents come out as their
    * own singleton cluster. Output: `(doc_id, cluster_id)` for every
    * document.
    */
  def nearDupClusters(allDocs: DataFrame, pairs: DataFrame, maxIters: Int = 20): DataFrame =
    // The generic op lives in [[Graph.connectedComponents]] (promoted
    // from here) — this is the dedup-vocabulary adapter over it.
    Graph.connectedComponents(
        allDocs.select(col("doc_id").as("node")),
        pairs.select(col("id1").as("src"), col("id2").as("dst")),
        maxIters)
      .select(col("node").as("doc_id"), col("component").as("cluster_id"))

  /** Persist a cluster labeling ([[nearDupClusters]] output) as the
    * APPEND-ONLY bucketed label store `(doc_id, cluster_id, gen)`:
    * generation 0 is the full snapshot; [[clustersIncremental]] appends
    * only CHANGED labels at higher generations. Bucketed (and sorted)
    * by `doc_id`, so the serve-side latest-generation fold
    * ([[clusterStoreLabels]]) aggregates with no Exchange.
    *
    * Layout: the PHYSICAL bucketed table is `{table}__gN` and `table`
    * itself is a stable VIEW over the current generation — the tiny
    * manifest that makes [[compactClusterStore]] reader-atomic (the
    * view repoint is one in-catalog swap; physical tables are never
    * overwritten in place). Readers and writers address the store by
    * its logical name only.
    */
  def writeClusterStore(labels: DataFrame, table: String, buckets: Int = 32): Unit = {
    val spark = labels.sparkSession
    dropClusterStore(spark, table)
    labels.select(col("doc_id"), col("cluster_id"), lit(0L).as("gen"))
      .write.mode("overwrite")
      .bucketBy(buckets, "doc_id").sortBy("doc_id")
      .saveAsTable(genTable(table, 0))
    spark.sql(s"CREATE OR REPLACE VIEW $table AS SELECT * FROM ${genTable(table, 0)}")
  }

  private def genTable(table: String, g: Long): String = s"${table}__g$g"

  /** Drop a cluster store completely: the stable view and every
    * physical generation table (handles legacy plain-table stores and
    * half-dropped leftovers alike — the fixture/reset helper).
    */
  def dropClusterStore(spark: org.apache.spark.sql.SparkSession, table: String): Unit = {
    val cat = spark.sessionState.catalog
    val id = spark.sessionState.sqlParser.parseTableIdentifier(table)
    if (cat.tableExists(id)) {
      val isView = cat.getTableMetadata(id).tableType ==
        org.apache.spark.sql.catalyst.catalog.CatalogTableType.VIEW
      spark.sql(if (isView) s"DROP VIEW $table" else s"DROP TABLE $table")
    }
    // only OUR generation tables: exactly `{table}__g<digits>` — a
    // prefix match would also hit an unrelated table that merely
    // starts with the same characters (e.g. `{table}__grants`)
    val genName = s"^${java.util.regex.Pattern.quote(table)}__g\\d+$$".r
    cat.listTables(id.database.getOrElse(cat.getCurrentDatabase), s"${table}__g*")
      .filter(t => genName.matches(t.table))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${t.quotedString}"))
    // a NEW session's in-memory catalog has no entry for a previous
    // session's tables, but their warehouse dirs survive — saveAsTable
    // would fail with LOCATION_ALREADY_EXISTS; sweep ONLY the dirs
    // whose names are exactly this store's (the logical name or a
    // `__g<digits>` generation) — never anything that merely shares a
    // prefix, which could be another session's unrelated table
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    val whDir = new java.io.File(wh)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    Option(whDir.listFiles()).foreach(_.foreach { f =>
      if (f.getName == table || genName.matches(f.getName)) rm(f)
    })
  }

  /** The current physical generation table behind the store's stable
    * view (legacy plain-table stores resolve to themselves), plus its
    * generation number.
    */
  private def physicalOf(spark: org.apache.spark.sql.SparkSession,
                         table: String): (String, Long) = {
    val cat = spark.sessionState.catalog
    val id = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val meta = cat.getTableMetadata(id)
    if (meta.tableType != org.apache.spark.sql.catalyst.catalog.CatalogTableType.VIEW)
      (table, 0L)
    // the view text is exactly `SELECT * FROM {table}__gN` — anchor the
    // generation match to the END of the referenced identifier, else a
    // logical name that itself contains `__g<digits>` (e.g. `sf__g2`)
    // would resolve ITS embedded digits instead of the generation
    else meta.viewText
      .flatMap(t => "__g(\\d+)`?\\s*$".r.findFirstMatchIn(t.trim).map(_.group(1).toLong))
      .map(g => (genTable(table, g), g))
      .getOrElse(throw new IllegalStateException(
        s"cluster store view $table does not point at a generation table"))
  }

  /** The CURRENT labeling served from the append-only store: each doc's
    * label at its highest generation — one bucketed-scan aggregation,
    * exchange-free by layout (plan-pinned). Replayed batches append
    * content-identical rows at a later generation, so the fold is
    * replay-stable by construction.
    */
  def clusterStoreLabels(spark: org.apache.spark.sql.SparkSession,
                         table: String): DataFrame = {
    // Sessions CACHE resolved catalog relations (file listings
    // included); an append from ANOTHER session — e.g. the cloned
    // session a streaming micro-batch runs foreachBatch in — never
    // invalidates this session's entry, so an un-refreshed read serves
    // the labeling as of its own first read, forever. Refresh is a
    // metadata-only invalidation (the next scan re-lists); correctness
    // over a cached listing for a read-your-writes store API. The
    // PHYSICAL generation table is what holds the cached listing — the
    // stable view is re-expanded at every analysis anyway.
    spark.catalog.refreshTable(physicalOf(spark, table)._1)
    spark.table(table)
      .groupBy("doc_id")
      .agg(max(struct(col("gen"), col("cluster_id"))).as("m"))
      .select(col("doc_id"), col("m.cluster_id").as("cluster_id"))
  }

  /** INCREMENTAL cluster maintenance — the contract one level above the
    * incremental PAIR stores: absorb a batch's docs and its new
    * near-dup pairs (e.g. [[minhashPairsIncremental]]'s output)
    * into the persisted labeling WITHOUT re-running connected
    * components over the corpus. Semantics: the returned labeling (and
    * the absorbed store) equals batch [[nearDupClusters]] over (all
    * docs so far, all pairs so far) — that equality is the spec's
    * claim, checked at every batch boundary.
    *
    * Scale shape, all batch-proportional: [[Graph.ccAbsorbDelta]] does
    * two map-only passes over the store (seed lookup + changed-label
    * selection, both against broadcast batch-sized sides) and
    * re-converges only the contracted touched subgraph; docs with no
    * pair become singleton labels via broadcast anti-joins; the absorb
    * APPENDS only the delta — changed labels + the batch's docs —
    * at the next generation through the store's bucket spec. No
    * corpus-sized shuffle, no corpus rewrite, ever.
    */
  def clustersIncremental(spark: org.apache.spark.sql.SparkSession, table: String,
                          newDocs: DataFrame, newPairs: DataFrame,
                          absorb: Boolean = true): DataFrame = {
    val stored = clusterStoreLabels(spark, table)
      .select(col("doc_id").as("node"), col("cluster_id").as("component"))
    val edges = newPairs.select(col("id1").as("src"), col("id2").as("dst"))
    val delta = Graph.ccAbsorbDelta(stored, edges)
    val newIds = newDocs.select(col("doc_id")).distinct().localCheckpoint()
    // docs already labeled (replay / re-ingest): map-side semi-join of
    // the store against the broadcast batch ids — the store never moves
    val known = stored.join(broadcast(newIds), stored("node") === newIds("doc_id"))
      .select(col("doc_id")).localCheckpoint()
    val endpoints = edges.select(col("src").as("doc_id"))
      .union(edges.select(col("dst").as("doc_id"))).distinct()
    // pairless novel docs are their own singleton cluster
    val singletons = newIds
      .join(broadcast(known), Seq("doc_id"), "left_anti")
      .join(broadcast(endpoints), Seq("doc_id"), "left_anti")
      .select(col("doc_id").as("node"), col("doc_id").as("component"))
    val deltaAll = checkpointed(delta.union(singletons)
      .select(col("node").as("doc_id"), col("component").as("cluster_id")))
    if (absorb) {
      // append to the CURRENT physical generation table — Spark cannot
      // append through a view, and the bucket spec lives on the
      // physical relation
      val (phys, _) = physicalOf(spark, table)
      val nextGen = spark.table(table).agg(max("gen")).head().getLong(0) + 1L
      deltaAll.select(col("doc_id"), col("cluster_id"), lit(nextGen).as("gen"))
        .write.mode("append")
        .bucketBy(bucketCountOf(spark, phys), "doc_id").sortBy("doc_id")
        .saveAsTable(phys)
    }
    // full updated labeling: untouched store rows + the delta
    stored.join(broadcast(deltaAll.select(col("doc_id"))),
        stored("node") === col("doc_id"), "left_anti")
      .select(col("node").as("doc_id"), col("component").as("cluster_id"))
      .union(deltaAll)
  }

  /** COMPACT the append-only cluster-label store: rewrite the CURRENT
    * labeling ([[clusterStoreLabels]]'s fold) as a fresh generation-0
    * snapshot, dropping every superseded delta row — the bounded-store
    * half of the incremental contract (absorb appends grow the table
    * by |changed labels| per batch; without compaction the serve-side
    * latest-generation fold pays Σ appended rows forever, the same
    * reason the index layouts have `Hnsw.compactRouted`/
    * `Ivf.compactPartitioned`). Run on the maintenance cadence, not per
    * batch.
    *
    * READER-ATOMIC via the two-table flip: the compacted labeling is
    * staged as the NEXT physical generation table `{table}__g{N+1}`
    * (same bucket spec — the serve fold stays exchange-free), then the
    * stable view repoints in one in-catalog swap, then generations
    * OLDER than the one just superseded are reclaimed. A reader that
    * planned against the pre-compaction store resolved `__g{N}` and
    * keeps serving it — nothing it references is dropped until the
    * FOLLOWING compaction (the keep-previous retention the index
    * layouts' vacuum uses). Serving before/after is identical — that
    * equality is the spec's claim. A crashed compaction leaves a
    * half-written `__g{N+1}` that the next attempt drops and
    * re-stages; the view never points at an unpublished table.
    */
  def compactClusterStore(spark: org.apache.spark.sql.SparkSession, table: String): Unit = {
    val (phys, g) = physicalOf(spark, table)
    val buckets = bucketCountOf(spark, phys)
    val current = clusterStoreLabels(spark, table)
      .select(col("doc_id"), col("cluster_id"), lit(0L).as("gen"))
      .localCheckpoint(true) // sever from the relations we may drop below
    val next = genTable(table, g + 1)
    spark.sql(s"DROP TABLE IF EXISTS $next") // crashed-compaction leftover
    current.write.mode("overwrite")
      .bucketBy(buckets, "doc_id").sortBy("doc_id")
      .saveAsTable(next)
    if (phys == table) {
      // legacy plain-table store: one-time migration to the view
      // layout — this drop/create seam is exactly the old overwrite
      // behavior; every store written by this version starts as a view
      spark.sql(s"DROP TABLE $table")
      spark.sql(s"CREATE OR REPLACE VIEW $table AS SELECT * FROM $next")
    } else {
      spark.sql(s"CREATE OR REPLACE VIEW $table AS SELECT * FROM $next")
      // reclaim everything OLDER than the generation just superseded:
      // g stays for already-planned readers, g-1 and earlier go
      val cat = spark.sessionState.catalog
      val id = spark.sessionState.sqlParser.parseTableIdentifier(table)
      cat.listTables(id.database.getOrElse(cat.getCurrentDatabase), s"${table}__g*")
        .foreach { t =>
          "__g(\\d+)$".r.findFirstMatchIn(t.table).map(_.group(1).toLong)
            .filter(_ < g).foreach(_ => spark.sql(s"DROP TABLE IF EXISTS ${t.quotedString}"))
        }
    }
  }

  /** Per-cluster representative selection — the KEEP side of dedup:
    * for every near-dup cluster, keep the member with the highest
    * quality score (ties → smaller doc id), with the cluster size
    * alongside. `clusters(doc_id, cluster_id)` ([[nearDupClusters]]),
    * `quality(doc_id, quality, ...)`.
    *
    * Scale shape: both inputs are doc-keyed narrow tables; one
    * equi-join on doc_id, then ONE shuffle on cluster_id shared by the
    * size count and the rank window — no pair explosion, nothing
    * data-proportional on the driver.
    */
  def clusterRepresentatives(clusters: DataFrame, quality: DataFrame): DataFrame = {
    val byCluster = Window.partitionBy("cluster_id")
    val rank = Window.partitionBy("cluster_id").orderBy(col("quality").desc, col("doc_id"))
    clusters.join(quality.select(col("doc_id"), col("quality")), Seq("doc_id"))
      .withColumn("n_members", count(lit(1)).over(byCluster))
      .withColumn("rn", row_number().over(rank))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("rep_id"),
        col("quality").as("rep_quality"), col("n_members"))
  }

  /** Eager reliable checkpoint with the engine's dir-resolution rule:
    * the caller's sparkContext setting wins; else the session conf
    * `spark.graft.checkpointDir`; else a dir under the warehouse path —
    * resolves against the cluster's default FS, never a driver-local
    * relative path. Use to cut the lineage of a multiply-consumed
    * intermediate (the materialization runs ONCE, re-executions read
    * the checkpoint files).
    */
  def checkpointed(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    if (spark.sparkContext.getCheckpointDir.isEmpty)
      spark.sparkContext.setCheckpointDir(
        spark.conf.getOption("spark.graft.checkpointDir").getOrElse(
          spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/") + "/graft_checkpoints"))
    df.checkpoint(eager = true)
  }

  // ---- SimHash ----

  val simhashBits = 32

  /** 32-bit SimHash over the token multiset: bit j of the fingerprint is
    * set iff the count of tokens whose md5Int has bit j set exceeds half
    * the token count.
    *
    * Shape: explode tokens → md5 once per token → ONE hash aggregation
    * with 32 bit-count sums (all map-side partial), reassemble the
    * fingerprint from the sums. One shuffle keyed on doc_id; md5 is
    * computed once per token (not once per bit).
    */
  def simhashes(documents: DataFrame): DataFrame = {
    // token explode with an md5 each — pre-fan-out spread
    // (Skew.spreadToCores; the bit-count aggregation is
    // partition-invariant)
    val tok = graft.functions.Skew.spreadToCores(documents)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), md5Int(col("tok")).as("h"))
    val bitSums = (0 until simhashBits).map(j =>
      sum(shiftright(col("h"), j).bitwiseAND(1L)).as(s"b$j"))
    val counted = tok.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), bitSums: _*)
    val fp = (0 until simhashBits)
      .map(j => when(col(s"b$j") * 2 > col("n"), lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    counted.select(col("doc_id"), fp.as("simhash"))
  }

  /** SimHash near-dup pairs: hamming distance ≤ maxDist, candidate-blocked
    * by identical 8-bit simhash quadrant (any pair within hamming 3 of a
    * 32-bit hash shares at least one exact quadrant — pigeonhole), so the
    * join is an equi-join on (quadrant index, quadrant value), not n².
    */
  def simhashPairs(documents: DataFrame, maxDist: Int = 3): DataFrame = {
    val s = simhashes(documents)
    val quads = s.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(q =>
        shiftright(col("simhash"), q * 8).bitwiseAND(0xFFL)): _*)).as(Seq("q", "qv")))
    val l = quads.select(col("q"), col("qv"), col("doc_id").as("id1"), col("simhash").as("h1"))
    val r = quads.select(col("q"), col("qv"), col("doc_id").as("id2"), col("simhash").as("h2"))
    l.join(r, Seq("q", "qv"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), bit_count(col("h1").bitwiseXOR(col("h2"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** Edit-distance ≤ 1 key pairs via DELETION-NEIGHBORHOOD blocking
    * (the SymSpell observation): for keys a, b, ed(a,b) ≤ 1 implies
    * ({a} ∪ D(a)) ∩ ({b} ∪ D(b)) ≠ ∅ where D(x) is the set of 1-char
    * deletions of x — equality shares the key itself, an insert/delete
    * pair shares the shorter key, a substitution at position i shares
    * del_i. So posting each key under its |key|+1 variants and
    * EQUI-joining on the variant is a LOSSLESS blocking for ed ≤ 1:
    * candidate work is O(n·|key|²) postings instead of the n² theta-join
    * a raw `levenshtein(a,b) ≤ 1` predicate forces (which Catalyst can
    * only run as a cartesian). Survivors verify with the real
    * levenshtein — the distinct() between block-join and verify dedups
    * multi-variant collisions once, BEFORE the per-pair edit-distance
    * work. Here applied to the leading `keyLen` chars of each document
    * (the "near-identical title" curation probe).
    *
    * `maxEd = 2` deepens the neighborhoods to two deletions (≤ 1 +
    * len + len·(len−1) variants/key): every ed ≤ 2 case — two
    * substitutions, sub+indel, two indels — still shares a variant
    * (each edit is absorbed by deleting its touched position from the
    * side(s) carrying it), so the blocking stays lossless and the
    * levenshtein verify stays the only quadratic-free filter.
    */
  def editDistancePairs(documents: DataFrame, keyLen: Int = 16,
                        maxEd: Int = 1): DataFrame = {
    require(maxEd == 1 || maxEd == 2,
      s"editDistancePairs blocks deletion neighborhoods of depth 1 or 2, got $maxEd")
    // ed(a,b) ≤ e ⟹ the ≤e-deletion neighborhoods intersect: each of
    // the ≤e edits is absorbed by deleting its touched position from
    // whichever side carries the longer form (substitution: from both)
    val del1 = "transform(sequence(1, length(%s)), i -> " +
      "concat(substring(%s, 1, i-1), substring(%s, i+1, length(%s))))"
    def d1(x: String) = del1.format(x, x, x, x)
    val variantsExpr =
      if (maxEd == 1) s"array_union(array(k), ${d1("k")})"
      else s"array_distinct(concat(array(k), ${d1("k")}, " +
        s"flatten(transform(${d1("k")}, v -> ${d1("v")}))))"
    // the depth-2 neighborhood fans each key out 1+L+L(L−1) ≈ 241×
    // with per-variant string builds — pre-fan-out spread
    // (Skew.spreadToCores) before the explode
    val keyed = graft.functions.Skew.spreadToCores(
      documents.select(col("doc_id"), substring(col("text"), 1, keyLen).as("k")))
    val variants = keyed.select(col("doc_id"), col("k"),
      explode(expr(variantsExpr)).as("v"))
    val l = variants.select(col("v"), col("doc_id").as("id1"), col("k").as("k1"))
    val r = variants.select(col("v"), col("doc_id").as("id2"), col("k").as("k2"))
    l.join(r, Seq("v"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2", "k1", "k2").distinct()
      .filter(levenshtein(col("k1"), col("k2")) <= maxEd)
      .select(col("id1"), col("id2"),
        levenshtein(col("k1"), col("k2")).cast("long").as("ed"))
  }

  // ---- Embedding near-dup ----

  /** Embedding cosine near-duplicates: all pairs with cosine similarity
    * ≥ threshold. Brute-force n² self-join — the correctness baseline
    * (the blocked scale path is IVF-cell-local pairing, see Ivf).
    * Norms are computed once per vector BELOW the join (a projection on
    * the join input), so each pair costs exactly one dot product.
    */
  def embeddingNearDups(embeddings: DataFrame, threshold: Double = 0.99): DataFrame = {
    val withNorm = embeddings.select(
      col("vec_id"), col("embedding"), l2Norm(col("embedding")).as("nrm"))
    // probe side partitioned by OUTPUT volume (N× fan-out per row,
    // Skew.spreadToCores): a single-file scan would otherwise
    // serialize the N² cosine sweep into one task
    val l = graft.functions.Skew.spreadToCores(
      withNorm.select(col("vec_id").as("id1"), col("embedding").as("e1"), col("nrm").as("n1")))
    val r = withNorm.select(col("vec_id").as("id2"), col("embedding").as("e2"), col("nrm").as("n2"))
    l.crossJoin(r)
      .filter(col("id1") < col("id2"))
      .withColumn("cos_sim",
        round(dotProduct(col("e1"), col("e2")) / (col("n1") * col("n2")), 6))
      .filter(col("cos_sim") >= threshold)
      .select("id1", "id2", "cos_sim")
  }

  /** The SCALE path for [[embeddingNearDups]]: multi-probe IVF-cell
    * blocking. Every vector is posted to its `probes` nearest cells
    * (broadcast centroids + per-vector top-`probes`); candidate pairs
    * are generated by an equi-join ON CELL — the shuffle key is the
    * cell id and pair work is Σ_cell (probes·N/C)², never the full n²
    * cross product. Pairs sharing several cells are deduped BEFORE the
    * single cosine evaluation.
    *
    * Blocking happens on NORMALIZED vectors (direction only): cosine
    * similarity ≥ t is exactly normalized-L2 distance ≤ √(2−2t), so
    * Voronoi cells of the unit sphere align with the cosine threshold
    * regardless of vector magnitudes (blocking raw vectors misses
    * same-direction/different-norm pairs). With multi-probing both
    * members of a near pair land in a common cell unless they sit in
    * an adversarial cell-corner: approximate in the worst case, exact
    * on the declared corpus at the declared parameters — which is why
    * the brute-force form stays the oracle and the declared query
    * hash-checks against it.
    */
  /** Candidate-dot-products-per-cell threshold above which a
    * cell-keyed pair join is worth salting. Below it the s-way payload
    * replication through the pair shuffle costs more than the task
    * serialization it removes (r17 measured both directions at sf0.1:
    * q_semdedup REGRESSED 1.89 → 2.86 s under a blanket salt at ~62k
    * dots/cell; the blocked text path IMPROVED 1.73 → 1.19 s at ~1e6
    * dots/cell). Work-derived, not a core-count constant: at corpus
    * scale every cell crosses it and salting engages on any cluster.
    */
  private val cellSweepSaltThreshold = 4e5

  /** Salt factor for a cell-keyed quadratic pair sweep (guide §2.5 —
    * salt hot keys, not every key): 1 (caller emits the salt-free
    * plan) unless the per-cell candidate-pair volume, estimated from
    * the posting count `nVec · probes / c`, crosses
    * [[cellSweepSaltThreshold]]; then sized so each cell spreads over
    * the session's spare parallelism, capped at 16 replicas, and
    * degenerating back to 1 once `c` alone saturates the cluster.
    * Callers pass a materialized/scan-backed relation, so the count
    * they feed in is one cheap job.
    */
  private[operators] def saltForCellSweep(df: DataFrame, nVec: Long,
                                          c: Int, probes: Int): Int = {
    val avgCellRows = nVec.toDouble * probes / math.max(1, c)
    if (avgCellRows * avgCellRows < cellSweepSaltThreshold) 1
    else math.min(16, math.max(1,
      df.sparkSession.sparkContext.defaultParallelism * 2 / math.max(1, c)))
  }

  def embeddingNearDupsBlocked(embeddings: DataFrame, threshold: Double,
                               c: Int = 8, probes: Int = 4): DataFrame =
    // pair-RELATION consumers need each survivor once: dedupe the
    // multi-cell re-meets (a pair sharing j probe cells survives j
    // times). Connectivity consumers skip this exchange entirely —
    // see [[embeddingNearDupCandidates]].
    embeddingNearDupCandidates(embeddings, threshold, c, probes)
      .dropDuplicates("id1", "id2")

  /** The blocked near-dup sweep WITHOUT the final pair dedup: every
    * surviving `(id1, id2, cos_sim)` candidate, repeated once per
    * shared probe cell. For consumers that only need CONNECTIVITY
    * (cluster labeling via [[nearDupClusters]]/[[nonMinMembers]], both
    * of which per-partition-contract their input — r18), duplicate
    * pairs are free but the dropDuplicates exchange is not: at
    * probes = 2 it re-shuffles the entire surviving pair volume (~4×
    * the true pair count, quadratic in duplicate-group size) purely to
    * remove rows the contraction would absorb map-side anyway.
    */
  private[operators] def embeddingNearDupCandidates(
      embeddings: DataFrame, threshold: Double,
      c: Int = 8, probes: Int = 4): DataFrame = {
    val normed = embeddings.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double") / l2Norm(col("embedding")))
        .as("embedding"))
    val byVec = Window.partitionBy("vec_id").orderBy(col("cdist"), col("centroid_id"))
    val cells = normed
      .crossJoin(broadcast(Ivf.centroids(normed, c)))
      .select(col("vec_id"), col("centroid_id"),
        l2Distance(col("embedding"), col("centroid_vec")).as("cdist"))
      .withColumn("rn", row_number().over(byVec))
      .filter(col("rn") <= probes)
      .select(col("centroid_id").as("cell"), col("vec_id"))
    val posted = embeddings
      .select(col("vec_id"), col("embedding"), l2Norm(col("embedding")).as("nrm"))
      .join(cells, Seq("vec_id"))
    // The pair join keys on `cell` alone — c distinct values. When c is
    // below the session's parallelism, a cell's whole quadratic pair
    // sweep lands on ONE task (guide §2.5: low-cardinality join keys
    // collapse parallelism). SALT the join: each left row keeps
    // salt = pmod(hash(id1), s), the right side replicates s ways, so
    // every pair still meets exactly once per shared cell but a cell's
    // sweep spreads over s tasks. GATED on measured sweep work (r18):
    // s > 1 only when a cell's candidate-dot volume crosses
    // [[cellSweepSaltThreshold]] — below it the replication overhead
    // exceeds the serialization it removes, and the join is emitted
    // with NO salt column and NO explode (the true s = 1 plan).
    val nSalt = saltForCellSweep(embeddings, embeddings.count(), c, probes)
    // SPREAD the stream side before the pair join (r18, profiled):
    // when the right side broadcasts — the bench-scale plan — the join
    // parallelism is the STREAM side's partitioning, and a
    // checkpoint-fed single-block relation ran the entire Σ_cell sweep
    // (millions of candidate dots on clique fixtures) in ONE task
    // (3.2 task-sec single-task stage); the salt only re-keys SHUFFLE
    // joins, so it never engaged. An EXPLICIT repartition-by-number,
    // not Skew.spreadToCores: the input is post-exchange, so the
    // helper's width probe reads the pre-AQE partition count (32) and
    // no-ops, while AQE's runtime coalescing then folds the tiny
    // posting exchange to ONE partition — REPARTITION_BY_NUM is the
    // one width AQE never coalesces. Costs one slim exchange of
    // O(n·probes) rows and parallelizes the sweep at any join strategy.
    // BOTH sides widened: the planner broadcasts whichever side it
    // sizes smaller and the join runs at the OTHER side's width —
    // widening only one leaves a one-block stream when the planner
    // builds on the widened one (measured: the 3.5 s single-task
    // sweep survived a left-only repartition).
    val wide = posted.sparkSession.sparkContext.defaultParallelism
    val l = posted.select(col("cell"), col("vec_id").as("id1"),
        col("embedding").as("e1"), col("nrm").as("n1"))
      .repartition(wide)
    val r = posted.select(col("cell"), col("vec_id").as("id2"),
        col("embedding").as("e2"), col("nrm").as("n2"))
      .repartition(wide)
    // cosine is evaluated CELL-LOCALLY right after the join and the
    // threshold filter runs before the pair dedup: a pair sharing two
    // cells costs one redundant local dot product, but the
    // dropDuplicates shuffle then carries only the few surviving slim
    // rows — deduping the full candidate set first would shuffle every
    // candidate WITH both embedding payloads (measured 16× slower).
    // (r17 note: a min-shared-cell filter carrying each side's probe
    // array was tried instead of this dropDuplicates — per-candidate
    // array_intersect cost 4× the whole stage; rejected on measurement.)
    val swept =
      if (nSalt <= 1) l.join(r, Seq("cell"))
      else l.withColumn("salt", pmod(hash(col("id1")), lit(nSalt)))
        .join(r.withColumn("salt", explode(sequence(lit(0), lit(nSalt - 1)))),
          Seq("cell", "salt"))
        .drop("salt")
    swept
      .filter(col("id1") < col("id2"))
      .withColumn("cos_sim",
        round(dotProduct(col("e1"), col("e2")) / (col("n1") * col("n2")), 6))
      .filter(col("cos_sim") >= threshold)
      .select("id1", "id2", "cos_sim")
  }

  /** SemDeDup-style SEMANTIC dedup: k-means-cluster the embedding
    * space, find duplicate groups as connected components of the
    * within-cell cosine-≥-tau relation, and keep per group the member
    * FARTHEST from its cell centroid (lowest cosine to centroid — the
    * published keep rule: boundary points carry more information than
    * cell-center redundancy), ties → smaller id. Returns every vector
    * labeled: `(vec_id, cluster_id, cos_centroid, keep)` with
    * `keep ∈ {0,1}` (singletons keep themselves).
    *
    * `cents` are refined k-means centroids (pass [[Ivf.kmeansCached]]).
    * Cross-cell duplicate pairs are missed BY DESIGN — that is the
    * published algorithm's approximation contract; it is what bounds
    * pair work at Σ_cell (N/C)² instead of N².
    *
    * Scale shape: one equi-join on cell for pair generation (cosine
    * evaluated cell-locally, threshold before any pair shuffle),
    * pointer-jumping components over the surviving slim pairs, one
    * cluster_id window for the keep rank; centroids are the broadcast
    * side everywhere.
    */
  def semDedup(embeddings: DataFrame, cents: DataFrame, tau: Double): DataFrame = {
    val assigned = Ivf.assignWith(embeddings, cents)
    val posted = embeddings
      .select(col("vec_id"), col("embedding"), l2Norm(col("embedding")).as("nrm"))
      .join(assigned, Seq("vec_id"))
    // salt the cell-keyed pair join exactly as in
    // [[embeddingNearDupsBlocked]] (guide §2.5) — and exactly as
    // GATED there (r18): r17's blanket salt replicated the embedding
    // payload s ways through the pair shuffle for a corpus whose
    // per-cell sweeps (~62k dots at sf0.1) never needed the split —
    // q_semdedup regressed 1.89 → 2.86 s. Below the work threshold the
    // plan now carries no salt column and no explode at all.
    // `cents` is the kmeans local relation, so the count is driver-cheap.
    val nSalt = saltForCellSweep(embeddings, embeddings.count(),
      cents.count().toInt, probes = 1)
    // spread the stream side before the cell join — the
    // [[embeddingNearDupCandidates]] fix (broadcast pair joins run at
    // the stream side's width; AQE coalesces the tiny posting exchange
    // to one partition and the whole within-cell sweep lands on one
    // task; REPARTITION_BY_NUM is exempt from that coalescing)
    // BOTH sides widened: the planner broadcasts whichever side it
    // sizes smaller and the join runs at the OTHER side's width —
    // widening only one leaves a one-block stream when the planner
    // builds on the widened one (measured: the 3.5 s single-task
    // sweep survived a left-only repartition).
    val wide = posted.sparkSession.sparkContext.defaultParallelism
    val l = posted.select(col("cell"), col("vec_id").as("id1"),
        col("embedding").as("e1"), col("nrm").as("n1"))
      .repartition(wide)
    val r = posted.select(col("cell"), col("vec_id").as("id2"),
        col("embedding").as("e2"), col("nrm").as("n2"))
      .repartition(wide)
    val swept =
      if (nSalt <= 1) l.join(r, Seq("cell"))
      else l.withColumn("salt", pmod(hash(col("id1")), lit(nSalt)))
        .join(r.withColumn("salt", explode(sequence(lit(0), lit(nSalt - 1)))),
          Seq("cell", "salt"))
        .drop("salt")
    val pairs = swept
      .filter(col("id1") < col("id2"))
      .filter(round(dotProduct(col("e1"), col("e2")) / (col("n1") * col("n2")), 6) >= tau)
      .select("id1", "id2")
    val comps = nearDupClusters(embeddings.select(col("vec_id").as("doc_id")), pairs)
      .select(col("doc_id").as("vec_id"), col("cluster_id"))
    val cosc = posted
      .join(broadcast(cents.select(col("centroid_id").as("cell"),
        col("centroid_vec"), l2Norm(col("centroid_vec")).as("cnrm"))), Seq("cell"))
      .select(col("vec_id"),
        round(dotProduct(col("embedding"), col("centroid_vec"))
          / (col("nrm") * col("cnrm")), 6).as("cos_centroid"))
    val byCluster = Window.partitionBy("cluster_id")
      .orderBy(col("cos_centroid"), col("vec_id"))
    comps.join(cosc, Seq("vec_id"))
      .withColumn("keep",
        when(row_number().over(byCluster) === 1, 1).otherwise(0))
      .select("vec_id", "cluster_id", "cos_centroid", "keep")
  }

  // ---- Incremental embedding-tier near-dup store (r17) ----

  /** Key-layout stamp for the persisted embedding store — the
    * [[graft.operators.Multimodal.writeDhashStore]] discipline: the
    * store is a cross-session contract, so the probe side validates
    * the layout it was written under and fails fast with a rebuild
    * message on mismatch instead of silently joining on wrong keys.
    */
  private val EmbStoreLayoutKey = "graft.embstore.layout"
  private val EmbStoreLayoutVersion = "cell-top1-v1"

  private def assertEmbStoreLayout(spark: org.apache.spark.sql.SparkSession,
                                   table: String): Unit = {
    val props = spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(table))
      .properties
    val got = props.getOrElse(EmbStoreLayoutKey, "<absent>")
    require(got == EmbStoreLayoutVersion,
      s"embedding store $table has layout '$got' but this build probes " +
        s"'$EmbStoreLayoutVersion' — rebuild with writeEmbeddingStore")
  }

  /** Top-`probes` cell assignment of raw embeddings against broadcast
    * centroids (centroids were fit on NORMALIZED vectors — direction
    * blocking, the [[embeddingNearDupsBlocked]] geometry).
    */
  private def assignTopCells(embeddings: DataFrame, cents: DataFrame,
                             probes: Int): DataFrame = {
    val normed = embeddings.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double") / l2Norm(col("embedding")))
        .as("nembedding"))
    val byVec = Window.partitionBy("vec_id").orderBy(col("cdist"), col("centroid_id"))
    normed.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("centroid_id"),
        l2Distance(col("nembedding"), col("centroid_vec")).as("cdist"))
      .withColumn("rn", row_number().over(byVec))
      .filter(col("rn") <= probes)
      .select(col("centroid_id").as("cell"), col("vec_id"))
  }

  /** Persisted CELL-KEYED embedding store for incremental semantic
    * dedup — the `writeDhashStore` contract at the embedding tier:
    * corpus representatives saved WITH their top-1 IVF cell, bucketed
    * (and sorted) by `cell`, so repeat ingestion's candidate join
    * reads the store pre-partitioned on its join key — no store-side
    * Exchange, ever — and candidate work stays Σ_cell collisions,
    * never batch×corpus. Centroids (fit on normalized vectors, c
    * cells) persist in a `<table>_cents` sidecar the probe side
    * broadcasts. Centroids are FROZEN at write time — drift is a
    * rebuild (`writeEmbeddingStore` again), the IVF recluster
    * discipline, which the layout stamp makes explicit.
    */
  def writeEmbeddingStore(embeddings: DataFrame, table: String,
                          c: Int = 8, buckets: Int = 16): Unit = {
    val spark = embeddings.sparkSession
    val normed = embeddings.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double") / l2Norm(col("embedding")))
        .as("embedding"))
    Ivf.centroids(normed, c).write.mode("overwrite").saveAsTable(table + "_cents")
    val assigned = assignTopCells(embeddings, spark.table(table + "_cents"), 1)
    embeddings
      .select(col("vec_id"), col("embedding"), l2Norm(col("embedding")).as("nrm"))
      .join(assigned, Seq("vec_id"))
      .select("vec_id", "embedding", "nrm", "cell")
      .write.mode("overwrite")
      .bucketBy(buckets, "cell").sortBy("cell")
      .saveAsTable(table)
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES " +
      s"('$EmbStoreLayoutKey' = '$EmbStoreLayoutVersion')")
  }

  /** The candidate join of a batch against the store: each batch
    * vector posts to its top-`probes` cells under the STORED centroids
    * (multi-probe — the recall knob [[embeddingNearDupsBlocked]]
    * validates; one probe loses pairs that straddle a cell split) and
    * meets the stored representatives of those cells; `cos_sim` is
    * evaluated cell-locally. Store side reads pre-partitioned by its
    * bucket key.
    */
  private[graft] def embeddingStoreCandidates(spark: org.apache.spark.sql.SparkSession,
                                              table: String, batch: DataFrame,
                                              probes: Int = 2): DataFrame = {
    assertEmbStoreLayout(spark, table)
    val cells = assignTopCells(batch, spark.table(table + "_cents"), probes)
    // spread the probe side before the store sweep (r18): the batch
    // arrives as a one-block checkpoint, and the per-cell candidate
    // join runs at the stream side's width (profiled: the whole
    // batch×store cosine sweep in ONE 1.3 s task). Explicit
    // repartition-by-number — the one width AQE never coalesces.
    val posted = batch
      .select(col("vec_id"), col("embedding"), l2Norm(col("embedding")).as("nrm"))
      .join(cells, Seq("vec_id"))
      .repartition(batch.sparkSession.sparkContext.defaultParallelism)
    posted.join(
        spark.table(table).select(col("cell"), col("vec_id").as("rep_id"),
          col("embedding").as("rep_emb"), col("nrm").as("rep_nrm")),
        Seq("cell"))
      .withColumn("cos_sim",
        round(dotProduct(col("embedding"), col("rep_emb"))
          / (col("nrm") * col("rep_nrm")), 6))
  }

  /** The members of a pair relation that are NOT their connected
    * component's minimum — the drop set of every keep-min-per-cluster
    * incremental path. Batch-bounded pair relations take the capped
    * driver union-find fast path (the `ccAbsorbParts` discipline);
    * past the cap it falls back to distributed pointer-jumping.
    */
  def nonMinMembers(pairs: DataFrame, cap: Int = 100000): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // CONTRACT, then materialize ONCE before the capped probe (r18):
    // only connectivity matters here, and near-dup pair generators
    // emit quadratic clique relations (a k-member duplicate group is
    // k²/2 rows — the image-semdedup batches arrive as ~1.5M pairs over
    // ~2.5k nodes at sf0.1, blowing the cap and forcing the distributed
    // fallback every run). Graph.contractEdges collapses each partition
    // to ≤ one star edge per node in a single narrow pass, so the probe
    // sees O(nodes) rows, the driver union-find fast path engages at
    // any clique size, and the quadratic stream never crosses an
    // exchange. (r17 note kept: `limit(n).collect()` runs incremental
    // executeTake whose scale-up waves re-execute an uncheckpointed
    // plan several times — measured 12 s against a 2.7 s pair plan —
    // so the eager cut below stays.)
    val p = graft.operators.Graph.contractEdges(
        pairs.select(col("id1").as("src"), col("id2").as("dst")))
      .select(col("src").as("id1"), col("dst").as("id2"))
      .localCheckpoint(true)
    val probe = p.limit(cap + 1).collect()
    if (probe.length <= cap) {
      // the nodes whose component minimum is another node
      Graph.driverMinLabels(probe).map(_._1).toDF("doc_id")
    } else {
      val nodes = p.select(col("id1").as("doc_id"))
        .unionByName(p.select(col("id2").as("doc_id"))).distinct()
      nearDupClusters(nodes, p)
        .filter(col("doc_id") =!= col("cluster_id"))
        .select("doc_id")
    }
  }

  /** Ingestion-time SEMANTIC dedup against the store: labels every
    * batch vector `(vec_id, matched_store, kept)` — `matched_store`
    * when some stored representative lies within `threshold` cosine
    * (the vector is redundant corpus: drop), `kept` when it is novel
    * AND its batch-internal near-dup cluster's min member (transitive,
    * via the blocked pair stage at `probes ≥ 2`). `absorb = true`
    * appends the kept representatives through the store's bucket spec
    * — O(batch), replay-idempotent (a replayed batch matches its own
    * stored copies at cosine 1 and keeps nothing).
    */
  def incrementalEmbeddingDedup(spark: org.apache.spark.sql.SparkSession,
                                table: String, batch: DataFrame,
                                threshold: Double, probes: Int = 2,
                                absorb: Boolean = true): DataFrame = {
    spark.catalog.refreshTable(table)
    val b = batch.select("vec_id", "embedding").localCheckpoint(true) // r18: block-level cut
    // localCheckpoint: `matched` is referenced twice (the novel
    // anti-join and the final labeling join) — without the cut the
    // store-candidates join executes once per reference (r17: 1.8 s
    // each at sf0.1). The relation is batch-bounded vec_ids.
    val matched = embeddingStoreCandidates(spark, table, b, probes)
      .filter(col("cos_sim") >= threshold)
      .select("vec_id").distinct().localCheckpoint(true)
    val novel = b.join(matched, Seq("vec_id"), "left_anti").localCheckpoint(true)
    val drop =
      if (novel.isEmpty) novel.select(col("vec_id").as("doc_id"))
      // UN-deduped candidates (r18): nonMinMembers only needs
      // connectivity and contracts its input per-partition, so the
      // dropDuplicates exchange over the full multi-cell pair volume
      // is pure overhead here
      else nonMinMembers(
        embeddingNearDupCandidates(novel, threshold, c = 8,
          probes = math.max(2, probes)).select("id1", "id2"))
    val labeled = b.select("vec_id")
      .join(matched.withColumn("matched_store", lit(true)), Seq("vec_id"), "left")
      .join(drop.withColumnRenamed("doc_id", "vec_id")
        .withColumn("dropped", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("matched_store"), lit(false)).as("matched_store"),
        (coalesce(col("matched_store"), lit(false)) === false &&
          col("dropped").isNull).as("kept"))
    if (absorb) {
      val kept = novel.join(drop.withColumnRenamed("doc_id", "vec_id"),
        Seq("vec_id"), "left_anti").localCheckpoint(true)
      val cells = assignTopCells(kept, spark.table(table + "_cents"), 1)
      kept.select(col("vec_id"), col("embedding"), l2Norm(col("embedding")).as("nrm"))
        .join(cells, Seq("vec_id"))
        .select("vec_id", "embedding", "nrm", "cell")
        .write.mode("append")
        .bucketBy(bucketCountOf(spark, table), "cell").sortBy("cell")
        .saveAsTable(table)
    }
    labeled
  }

  // ---- Duplicated-span (substring-level) dedup ----

  /** Word-position cap for the span-occurrence encoding: an occurrence
    * is identified as `doc_id * spanPosCap + pos`, so "first occurrence
    * of a gram" = min over one 64-bit key — computable as a plain `min`
    * aggregate in ANY engine (no struct/arg-min needed). Requires
    * `pos < spanPosCap` (docs under 2²⁰ words) and
    * `doc_id < 2⁶³ / spanPosCap ≈ 8.8e12`; [[spanWindows]] fails fast
    * on the former.
    */
  val spanPosCap = 1048576L

  /** Duplicated n-gram windows with 1-based start positions:
    * `(doc_id, pos, g)` where `g` is the WIDE portable hash
    * ([[graft.functions.Portable.md5Long]], 60 bits) of the n-word
    * gram starting at word `pos`. Wide because the hash is the gram's
    * IDENTITY here — equal hash ⇒ treated as duplicated content — and
    * 32 bits birthday-collides from ~10⁵ distinct grams (a 2M-doc
    * corpus carries 70M); 60 bits is collision-free past 10⁹. One
    * narrow explode per doc — no shuffle; text leaves the scan only
    * as 8-byte gram hashes.
    */
  private def spanWindows(documents: DataFrame, n: Int): DataFrame =
    // ~words-per-doc explode with an 8-byte hash per gram — pre-fan-out
    // spread (Skew.spreadToCores; every consumer aggregates on g or
    // doc_id afterwards, so results are partition-invariant)
    graft.functions.Skew.spreadToCores(documents)
      .select(col("doc_id"), posexplode(shingles(tokens(col("text")), n)).as(Seq("p0", "gram")))
      .select(col("doc_id"),
        when(col("p0") + 1 < spanPosCap, col("p0") + 1)
          .otherwise(raise_error(lit("spanWindows: doc exceeds spanPosCap words")))
          .cast("long").as("pos"),
        md5Long(col("gram")).as("g"))

  /** Merge duplicated windows into MAXIMAL spans per doc (gaps-and-
    * islands): windows at `p` and `p'` (p < p') cover overlapping or
    * touching word ranges iff `p' - p <= n`, so a new island starts
    * exactly when the gap exceeds n. Output one row per maximal span:
    * `(doc_id, span_start, span_end, span_words, n_windows)` with both
    * endpoints inclusive 1-based word indices.
    *
    * Scale shape: one shuffle on doc_id shared by the lag flag, the
    * running span-id sum, and the span aggregation (all three window/
    * group operations key on doc_id, so AQE plans them over a single
    * Exchange); per-doc window state is O(1).
    */
  private def mergeWindows(wins: DataFrame, n: Int): DataFrame = {
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    wins
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(byDoc) > n, 1).otherwise(0))
      .withColumn("span_id",
        sum("brk").over(byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(
        min("pos").as("span_start"),
        (max("pos") + (n - 1)).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_words"),
        col("n_windows"))
  }

  /** Substring-level duplicate DETECTION (the published train-data
    * span-dedup shape: find every maximal run of words whose n-gram
    * windows all occur at least twice in the corpus — including
    * self-repetition within one doc). Returns the maximal duplicated
    * spans `(doc_id, span_start, span_end, span_words, n_windows)`.
    *
    * Scale shape: grams are hashed at the scan (text never shuffles);
    * ONE shuffle on the 8-byte gram hash for the occurrence count; the
    * join back to windows is the same key (no new shuffle side for the
    * counted relation under AQE); the island merge is one doc_id
    * shuffle. Nothing is quadratic: work is linear in total words.
    */
  def duplicateSpans(documents: DataFrame, n: Int = 6): DataFrame = {
    val wins = spanWindows(documents, n)
    val counts = wins.groupBy("g").agg(count(lit(1)).as("c"))
    val dup = wins.join(counts.filter(col("c") >= 2), Seq("g")).select("doc_id", "pos")
    mergeWindows(dup, n)
  }

  /** Substring-level dedup REMOVAL — keep the globally FIRST occurrence
    * (minimal `(doc_id, pos)`, encoded as one 64-bit key, see
    * [[spanPosCap]]) of every duplicated n-gram and cut every other
    * occurrence, greedily merging the cut windows into maximal spans
    * before rebuilding each doc's text from its surviving words.
    * Returns `(doc_id, clean_text, n_removed)` for EVERY input doc
    * (`clean_text = ""` when the whole doc was duplicated content).
    *
    * Greedy-cut caveat (shared with the published byte-range form): a
    * kept first occurrence can still lose words when an overlapping
    * LATER window of a different gram is cut — the output is a
    * deterministic function of the corpus, not a guarantee that one
    * verbatim copy of every gram survives.
    *
    * Scale shape: one gram-hash shuffle (count + first-occurrence min
    * in the SAME aggregate), one doc_id shuffle for the island merge,
    * and one doc_id shuffle for the rebuild; the rebuild join is
    * doc-keyed with the span-range predicate evaluated as a residual
    * condition, so no pair explosion. Span rows are the only payload
    * broadcast-or-shuffled beside word tokens.
    */
  def spanDedup(documents: DataFrame, n: Int = 6): DataFrame = {
    val occ = spanWindows(documents, n)
      .withColumn("occ", col("doc_id") * spanPosCap + col("pos"))
    val stats = occ.groupBy("g")
      .agg(count(lit(1)).as("c"), min("occ").as("first_occ"))
    val drops = occ.join(stats.filter(col("c") >= 2), Seq("g"))
      .filter(col("occ") =!= col("first_occ"))
      .select("doc_id", "pos")
    rebuildWithoutSpans(documents, mergeWindows(drops, n), n)
  }

  /** MAXIMAL repeated spans ≥ `minWords` tokens — the suffix-array
    * dedup contract (the published train-data substring dedup) WITHOUT
    * a literal suffix array: a substring of m ≥ n words repeats in the
    * corpus iff every one of its m−n+1 n-gram windows repeats, so the
    * maximal runs of CONSECUTIVE duplicated window positions (gap == 1
    * islands) report the FULL extent of every repeated substring in one
    * row each. ([[duplicateSpans]]' gap ≤ n merge answers the REMOVAL
    * question — which words are covered by any duplicated window — and
    * would bridge across non-duplicated junction windows; this one
    * answers the suffix-array question.) Output
    * `(doc_id, span_start, span_end, span_words)`, inclusive 1-based.
    *
    * Scale shape identical to [[duplicateSpans]]: one 8-byte gram-hash
    * shuffle for the occurrence count, one doc_id shuffle for the
    * island merge; linear in total words. Gram-chain caveat (shared
    * with every windowed approximation of the suffix-array method):
    * windows of one run may repeat against DIFFERENT partners, so a
    * reported span is a union of overlapping repeats — the right
    * removal semantics, a superset of single-partner repeats.
    */
  def maximalSpans(documents: DataFrame, n: Int = 6, minWords: Int = 15): DataFrame = {
    require(minWords >= n, s"a span shorter than one window (n=$n) is not detectable")
    val wins = spanWindows(documents, n)
    val counts = wins.groupBy("g").agg(count(lit(1)).as("c"))
    val dup = wins.join(counts.filter(col("c") >= 2), Seq("g")).select("doc_id", "pos")
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    dup
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(byDoc) > 1, 1).otherwise(0))
      .withColumn("span_id",
        sum("brk").over(byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(min("pos").as("span_start"), (max("pos") + (n - 1)).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_words"))
      .filter(col("span_words") >= minWords)
  }

  /** Maximal-span REMOVAL: cut every occurrence of each repeated
    * ≥ `minWords`-token substring except the globally first (minimal
    * `(doc_id, span_start)` as one 64-bit key), each occurrence excised
    * as ONE contiguous span — long planted duplicates disappear whole,
    * never as fragments. Span identity is the md5 of its exact word
    * range (the repeated SUBSTRING, not its window set), so two
    * differently-extended overlapping repeats keep independent
    * first-occurrence accounting. Returns `(doc_id, clean_text,
    * n_removed)` for every input doc.
    *
    * Scale shape: [[maximalSpans]] + one additional doc-keyed
    * words×spans range join to read each span's text (spans are rare
    * and bounded by corpus duplication; words never leave their doc
    * key), one hash agg on the 8-byte span key, and the
    * [[rebuildWithoutSpans]] doc_id shuffle. Still nothing quadratic.
    */
  def maxSpanDedup(documents: DataFrame, n: Int = 6, minWords: Int = 15): DataFrame = {
    val spans = maximalSpans(documents, n, minWords)
      .select(col("doc_id").as("span_doc"), col("span_start"), col("span_end"))
    // span text via ONE slice of the doc's token array (r18): the old
    // form exploded every word of every doc, range-joined the word
    // stream against the spans, and re-assembled each span with a
    // sort + collect_list aggregation — a full-corpus word shuffle to
    // read back substrings the token array already holds contiguously.
    // Joining the spans to one tokens() row per doc and slicing is the
    // same string (wpos is 1-based off the same tokens()), with the
    // word explode, the range join, and the per-span sort-agg all gone.
    val keyed = documents
      .select(col("doc_id").as("span_doc"), tokens(col("text")).as("__toks"))
      .join(spans, Seq("span_doc"))
      .select(col("span_doc"), col("span_start"), col("span_end"),
        md5Long(array_join(slice(col("__toks"), col("span_start").cast("int"),
          (col("span_end") - col("span_start") + 1).cast("int")), " "))
          .as("span_key"),
        (col("span_doc") * spanPosCap + col("span_start")).as("occ"))
    val firsts = keyed.groupBy("span_key").agg(min("occ").as("first_occ"))
    val drops = keyed.join(firsts, Seq("span_key"))
      .filter(col("occ") =!= col("first_occ"))
      .select(col("span_doc").as("doc_id"), col("span_start"), col("span_end"))
    rebuildWithoutSpans(documents, drops, n)
  }

  /** Ingestion-time INCREMENTAL span dedup: cut from each BATCH doc
    * every n-gram window whose gram (a) already occurs anywhere in the
    * existing corpus or (b) repeats within the batch and is not the
    * batch-first occurrence — the form every later ingestion pays,
    * where [[spanDedup]] is the once-per-corpus compaction. Returns
    * `(doc_id, clean_text, n_removed)` for every batch doc; corpus
    * docs are never rewritten.
    *
    * Scale shape: the corpus reduces to its DISTINCT gram-hash set
    * map-side (corpus text never shuffles; 8 bytes per distinct gram),
    * the known-gram check is a left-semi equi-join on the hash, and
    * with the corpus gram set bucketed by `g` repeated ingestion is a
    * co-located join against a gram table, never a corpus rescan —
    * exactly [[incrementalExact]]'s contract one level down. The
    * persisted form of that layout is [[writeGramStore]] +
    * [[incrementalSpanDedupBucketed]].
    */
  def incrementalSpanDedup(corpus: DataFrame, batch: DataFrame, n: Int = 6): DataFrame = {
    val corpusGrams = spanWindows(corpus, n).select("g").distinct()
    val bw = spanWindows(batch, n)
      .withColumn("occ", col("doc_id") * spanPosCap + col("pos"))
    val known = bw.join(corpusGrams, Seq("g"), "left_semi").select("doc_id", "pos")
    val stats = bw.groupBy("g").agg(count(lit(1)).as("c"), min("occ").as("first_occ"))
    val batchDups = bw.join(stats.filter(col("c") >= 2), Seq("g"))
      .filter(col("occ") =!= col("first_occ"))
      .select("doc_id", "pos")
    val drops = known.unionByName(batchDups).distinct()
    rebuildWithoutSpans(batch, mergeWindows(drops, n), n)
  }

  /** Persisted BUCKETED gram store for incremental span dedup: the
    * corpus' DISTINCT 8-byte gram hashes as a saved table bucketed
    * (and sorted) by `g` — [[writeDigestStore]]'s contract one level
    * down, at n-gram granularity. Repeat span-level ingestion's
    * known-gram join then reads the store PRE-PARTITIONED on the join
    * key: no Exchange on the store side, ever (only the O(batch) side
    * shuffles to the bucket count), instead of re-shuffling the corpus
    * gram relation every batch.
    */
  def writeGramStore(documents: DataFrame, table: String, n: Int = 6,
                     buckets: Int = 32): Unit =
    spanWindows(documents, n).select("g").distinct()
      .write.mode("overwrite")
      .bucketBy(buckets, "g").sortBy("g")
      .saveAsTable(table)

  /** [[incrementalSpanDedup]] against the BUCKETED gram store: same cut
    * semantics (gram known to the corpus OR a non-first repeat within
    * the batch), with the store side of the known-gram join
    * exchange-free by bucket layout. `absorb = true` appends the
    * batch's NOVEL grams — from its ORIGINAL text, matching what the
    * plain form's `corpus ∪ batch` would contain on the next call —
    * through the same bucket spec: an O(batch) append, idempotent
    * under micro-batch replay (a replayed batch's grams are all known,
    * so the anti-join appends nothing — and the replayed docs cut to
    * empty, which is what re-ingesting already-ingested content means
    * at span granularity).
    */
  def incrementalSpanDedupBucketed(spark: org.apache.spark.sql.SparkSession,
                                   table: String, batch: DataFrame, n: Int = 6,
                                   absorb: Boolean = true): DataFrame = {
    // cross-session freshness: see the clusterStoreLabels note
    spark.catalog.refreshTable(table)
    val corpusGrams = spark.table(table)
    val bw = spanWindows(batch, n)
      .withColumn("occ", col("doc_id") * spanPosCap + col("pos"))
    val known = bw.join(corpusGrams, Seq("g"), "left_semi").select("doc_id", "pos")
    val stats = bw.groupBy("g").agg(count(lit(1)).as("c"), min("occ").as("first_occ"))
    val batchDups = bw.join(stats.filter(col("c") >= 2), Seq("g"))
      .filter(col("occ") =!= col("first_occ"))
      .select("doc_id", "pos")
    val drops = known.unionByName(batchDups).distinct()
    val out = rebuildWithoutSpans(batch, mergeWindows(drops, n), n)
    if (!absorb) out // read-only: the lazy plan, unmaterialized
    else {
      // materialize BEFORE the absorb mutates the store — the cut
      // plan's known-gram join must never see the batch's own grams
      val pinned = out.localCheckpoint(true)
      bw.select("g").distinct()
        .join(corpusGrams, Seq("g"), "left_anti")
        .write.mode("append")
        .bucketBy(bucketCountOf(spark, table), "g").sortBy("g")
        .saveAsTable(table)
      pinned
    }
  }

  /** Shared rebuild tail: docs minus the words covered by `spans`
    * (`doc_id, span_start, span_end`), one doc_id-keyed anti-join with
    * the range predicate as a residual condition, then one doc_id
    * aggregation reassembling the surviving words in order.
    */
  private def rebuildWithoutSpans(documents: DataFrame, spans0: DataFrame, n: Int): DataFrame = {
    // the span side is re-keyed to a distinct column name: both sides
    // descend from `documents`, and a same-name join condition on a
    // self-derived pair is the classic ambiguous-attribute trap
    val spans = spans0
      .select(col("doc_id").as("span_doc"), col("span_start"), col("span_end"))
    val words = documents
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("w0", "word")))
      .select(col("doc_id"), (col("w0") + 1).cast("long").as("wpos"), col("word"))
    val kept = words.join(spans,
      col("doc_id") === col("span_doc") &&
        col("wpos") >= col("span_start") && col("wpos") <= col("span_end"),
      "left_anti")
    val rebuilt = kept.groupBy("doc_id")
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("wpos"), col("word")))),
            s => s.getField("word")), " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
    documents
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_words"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (col("n_words") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }
}
