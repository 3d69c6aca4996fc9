package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.operators.{IndexMeta, Ivf, Retrieval}

/** Session-scoped registry of index layouts, keyed by the DATA PATH of
  * the table they cover — the engine's analog of a database's index
  * catalog. [[IndexRewriteRule]] consults it to decide whether a naive
  * exact-kNN or TF-IDF plan over a scanned table can be served by the
  * layout instead (the reference has no planner at all — its only
  * access path is the `Hnsw` object the caller explicitly holds,
  * hnsw.cc:114-137; an engine must make the index reachable from the
  * QUERY, not the call site).
  *
  * Every registration is a layout built by [[IndexMeta.ensure]] from
  * the table at its path, and a lookup returns it only while it is
  * CURRENT for the table a plan scans ([[IndexMeta.current]]): a table
  * rewritten in place lists new files and fingerprints afresh, and a
  * maintenance write (append, compaction) has invalidated the layout's
  * fingerprint, so in both cases the rule keeps the exact plan. The
  * layouts persist; the registry does not. A new session re-arms by
  * calling [[register]] again, which over a committed layout runs one
  * fingerprint job and builds nothing.
  *
  * Two tiers share the [[Registration]] type:
  *  - IVF ([[register]]): a cell-partitioned layout whose recorded kind
  *    picks the metric the rule rewrites. Registering declares an
  *    approximation budget: the rewrite probes `nprobe` of the C cells,
  *    which is exact when `nprobe >= C` and the standard IVF recall
  *    trade below that;
  *  - lexical ([[registerTfidf]]): a TF-IDF posting layout
  *    ([[Retrieval.ensureTfidfLayout]]) served bit-exactly.
  */
object IndexCatalog {

  /** The layout at `dir`, probed `nprobe` cells deep (the lexical tier
    * has no probe budget and records 0).
    */
  final case class Registration(dir: String, nprobe: Int)

  // (tier, canonical table path) → (registration, its layout's build params)
  private val registry = TrieMap.empty[(String, String), (Registration, String)]

  /** Canonical form: authority + path — "file:/x/y", "/x/y" and
    * "file:///x/y" coincide (no authority), while "s3://bucketA/x" and
    * "s3://bucketB/x" stay distinct. Scheme is still dropped (hdfs vs
    * s3 with the SAME authority+path would collide — not a layout any
    * one deployment produces).
    */
  private def canon(p: String): String = {
    val uri = new org.apache.hadoop.fs.Path(p).toUri
    Option(uri.getAuthority).getOrElse("") + uri.getPath.stripSuffix("/")
  }

  /** The root path of the one file relation `table` scans. */
  private def pathOf(table: DataFrame): Option[String] =
    table.queryExecution.analyzed.collectLeaves() match {
      case Seq(lr: LogicalRelation) => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.headOption.map(p => canon(p.toString))
        case _ => None
      }
      case _ => None
    }

  /** Register an IVF layout for the parquet table at `dataPath`, built
    * under `indexDir` once per table content and `(c, iters, kind)`:
    * the cell-partitioned layout of kind "l2" (a `plain` layout),
    * "cosine" or "mips" ([[Ivf.writePartitionedBy]], which puts the
    * rows in that kind's space) over [[Ivf.kmeans]] centroids of the
    * stored rows, and its `_radii` sidecar, so serving never writes.
    * `nprobe` is a serving knob, not a build parameter: re-registering
    * with another budget reuses the layout.
    */
  def register(spark: SparkSession, dataPath: String, indexDir: String,
               c: Int, iters: Int, nprobe: Int, kind: String = "l2"): Unit = {
    require(Seq("l2", "cosine", "mips").contains(kind),
      s"IndexCatalog.register builds l2, cosine and mips layouts, not '$kind'")
    val table = spark.read.parquet(dataPath)
    val params = s"catalog_ivf_c=$c;iters=$iters;kind=$kind"
    IndexMeta.ensure(indexDir, params, table) {
      Ivf.writePartitionedBy(table, indexDir, if (kind == "l2") "plain" else kind)(
        Ivf.kmeans(_, c, iters))
      Ivf.ensureRadii(spark, indexDir)
    }
    put("ivf", table, Registration(indexDir, nprobe), params)
  }

  /** Register the TF-IDF posting layout of the documents table at
    * `dataPath` (built under `layoutDir` by
    * [[Retrieval.ensureTfidfLayout]] unless committed there).
    *
    * Registration CONTRACT (what the token-contains rewrite relies on):
    * the relation holds ONE row per `doc_id`, with the SAME text the
    * layout was built from. A duplicate doc_id would let the posting
    * semi-join keep a row whose own text lacks the term — the rewrite
    * would be silently lossy — so uniqueness is asserted here (one
    * aggregate over doc_id); sameness is the layout's currency.
    */
  def registerTfidf(spark: SparkSession, dataPath: String, layoutDir: String): Unit = {
    import org.apache.spark.sql.functions.{count, countDistinct, lit, col}
    val table = spark.read.parquet(dataPath)
    val r = table.agg(count(lit(1)), countDistinct(col("doc_id"))).head
    require(r.getLong(0) == r.getLong(1),
      s"registerTfidf($dataPath): doc_id must be unique — " +
        s"${r.getLong(0)} rows vs ${r.getLong(1)} distinct; a duplicate " +
        "doc_id makes the token-contains posting semi-join lossy")
    Retrieval.ensureTfidfLayout(table, layoutDir)
    put("tfidf", table, Registration(layoutDir, 0), Retrieval.tfidfLayoutParams)
  }

  private def put(tier: String, table: DataFrame, r: Registration, params: String): Unit =
    registry((tier, pathOf(table).getOrElse(sys.error(s"not a file table: $table")))) = (r, params)

  /** The IVF registration of the table `table` scans, if current for it. */
  def lookup(table: DataFrame): Option[Registration] = currentFor("ivf", table)

  /** The TF-IDF registration of the table `table` scans, if current for it. */
  def lookupTfidf(table: DataFrame): Option[Registration] = currentFor("tfidf", table)

  private def currentFor(tier: String, table: DataFrame): Option[Registration] =
    pathOf(table).flatMap(p => registry.get((tier, p))).collect {
      case (r, params) if IndexMeta.current(r.dir, params, table) => r
    }

  def unregister(dataPath: String): Unit = registry.remove(("ivf", canon(dataPath)))

  def unregisterTfidf(dataPath: String): Unit = registry.remove(("tfidf", canon(dataPath)))

  def clear(): Unit = registry.clear()
}
