package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The build-once protocol of everything the engine derives from its
  * tables and keeps: every persisted index layout (IVF, PQ, SQ, binary,
  * HNSW, Z-order, TF-IDF), every on-disk fixture and store the declared
  * queries read (derived substrates, WARC / JSONL / PDF corpora,
  * parquet stores), the layout behind each [[graft.plans.IndexCatalog]]
  * registration, the stores that live in the session catalog, and the
  * in-memory values the builders are fed from.
  *
  * Output on disk goes through [[ensure]]; output that lives only in
  * this JVM (a managed table's catalog entry, a trained value) goes
  * through [[memo]], which re-runs its build once per JVM and per
  * source content. A catalog registration is a layout built by
  * [[ensure]], and the rewrite serves it only while [[current]] holds
  * for the table it scans.
  *
  * [[ensure]] is the one rule:
  *  - fingerprint: each source frame's content — row count plus an
  *    order-invariant sum of per-row CRCs over ALL its columns, one
  *    aggregate job per source — and the caller's `params` string.
  *    Sources fingerprint separately, so the same rows under a moved
  *    split (the built base vs the appended batch) are another layout;
  *  - serve: when `dir/_graft_fingerprint` holds exactly that, return
  *    without reading or writing anything else;
  *  - rebuild: otherwise delete `dir`, run the build, and write the
  *    fingerprint LAST. The fingerprint is the commit marker: a build
  *    that throws part-way leaves a dir without one, so the next
  *    `ensure` rebuilds instead of serving partial files.
  * The dir belongs to the index, so no source may read from it. A
  * maintenance write (append, compaction, recluster) [[invalidate]]s
  * the fingerprint: the layout no longer derives from its sources, so
  * the next `ensure` against them rebuilds.
  *
  * Content fingerprints and [[memo]] values are kept per JVM, keyed by
  * each source's plan SEMANTIC HASH and FILE LISTING (part-file paths,
  * which carry a per-job UUID, plus total size): data regenerated at
  * the same path lists new files and misses, and another table or
  * filter has another semantic hash. Neither key is a caller's path
  * string.
  */
private[graft] object IndexMeta {

  private val fingerprints =
    scala.collection.concurrent.TrieMap.empty[(Int, Int), String]
  private val values =
    scala.collection.concurrent.TrieMap.empty[(String, Int, Int), Any]

  /** Build `dir` from `sources` once per content + `params` (see the
    * object doc); a call on unchanged sources writes nothing.
    */
  def ensure(dir: String, params: String, sources: DataFrame*)(build: => Unit): Unit = {
    require(sources.nonEmpty, s"ensure($dir) needs at least one source")
    val spark = sources.head.sparkSession
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val owned = fs.makeQualified(root).toString.stripSuffix("/") + "/"
    val inside = sources.flatMap(fileIndexes).flatMap(_.rootPaths).map(_.toString)
      .filter(p => (p.stripSuffix("/") + "/").startsWith(owned))
    require(inside.isEmpty, s"ensure($dir) would delete what its sources read: ${inside.mkString(", ")}")
    if (!current(dir, params, sources: _*)) {
      fs.delete(root, true)
      build
      // the sources' listings are unchanged, so this is a memo hit
      write(spark, dir, fingerprint(params, sources))
    }
  }

  /** Whether `dir` holds a committed build of `sources` under `params`
    * — the check half of [[ensure]]: one fingerprint per source
    * (memoized per JVM, see the object doc) and one read of the
    * recorded fingerprint. A rewritten source lists new files and is
    * fingerprinted afresh; a maintenance write has [[invalidate]]d the
    * recorded one.
    */
  def current(dir: String, params: String, sources: DataFrame*): Boolean =
    read(sources.head.sparkSession, dir).contains(fingerprint(params, sources))

  private def fingerprint(params: String, sources: Seq[DataFrame]): String =
    (params +: sources.map(s =>
      fingerprints.getOrElseUpdate(keyOf(Seq(s)), contentFingerprint(s)))).mkString("|")

  /** A driver-side value computed once per (`name`, content of
    * `sources`) in this JVM — the amortization of k-means centroids,
    * codebooks, SQ bounds, binary thresholds and PCA components across
    * the calls that train them on the same table.
    */
  def memo[T](name: String, sources: DataFrame*)(compute: => T): T = {
    val (plans, files) = keyOf(sources)
    values.getOrElseUpdate((name, plans, files), compute).asInstanceOf[T]
  }

  private def keyOf(sources: Seq[DataFrame]): (Int, Int) =
    (sources.map(_.queryExecution.analyzed.semanticHash()).hashCode(), filesKey(sources))

  /** Driver-side listing signature of every file-based leaf: the file
    * paths + the listed total bytes. In-memory frames contribute
    * nothing (their semantic hash carries their identity).
    */
  private def filesKey(sources: Seq[DataFrame]): Int =
    sources.map(fileIndexes(_).flatMap(i => i.inputFiles.toSeq :+ i.sizeInBytes.toString)).hashCode()

  /** The file listings `df` scans. */
  private def fileIndexes(df: DataFrame): Seq[org.apache.spark.sql.execution.datasources.FileIndex] =
    df.queryExecution.analyzed.collectLeaves().flatMap {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation => Seq(fs.location)
          case _ => Nil
        }
      case _ => Nil
    }

  /** Row count + summed per-row CRC over every column (each cast to
    * string, `\u0001`-separated). One narrow aggregate job; the sum
    * makes it partition-order invariant.
    */
  private def contentFingerprint(df: DataFrame): String = {
    val r = df.agg(count(lit(1)), sum(crc32(
      concat_ws("\u0001", df.columns.toSeq.map(c => col(s"`$c`").cast("string")): _*)))).head()
    s"n=${r.getLong(0)};h=${r.get(1)}"
  }

  private def fpFile(dir: String) = new org.apache.hadoop.fs.Path(s"$dir/_graft_fingerprint")

  private def write(spark: org.apache.spark.sql.SparkSession, dir: String, fp: String): Unit = {
    val path = fpFile(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(path, true)
    try out.write(fp.getBytes("UTF-8")) finally out.close()
  }

  /** The recorded fingerprint of `dir`, if its last build committed. */
  def read(spark: org.apache.spark.sql.SparkSession, dir: String): Option[String] = {
    val path = fpFile(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) None
    else {
      val in = fs.open(path)
      try Some(new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8"))
      finally in.close()
    }
  }

  /** Drop the recorded fingerprint: the layout no longer derives from
    * its sources (e.g. a compaction folded tombstones in), so the next
    * [[ensure]] against them must rebuild rather than serve it.
    */
  def invalidate(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val path = fpFile(dir)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(path, false)
  }
}
