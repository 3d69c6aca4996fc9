package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Whole-file `(path, content)` ingestion for directories of MANY
  * SMALL files — the `binaryFile` shape without its per-file cost.
  *
  * The stock `binaryFile` source pays a Hadoop `FileSystem` open /
  * status / stream per file plus driver-side `InMemoryFileIndex`
  * listing on every load; over a 5,000-file fixture directory that is
  * ~9 s of pure overhead for 20 MB of payload (measured at sf0.1,
  * local[32] — the whole q_pdf_extract wall was the scan, not the
  * parse). This reader lists once on the driver (one `listFiles`),
  * parallelizes the path list across `defaultParallelism` tasks, and
  * reads each file with one `java.nio.Files.readAllBytes` — same
  * rows, same `file:<abs path>` path format, ~17× less scan wall.
  *
  * Scope: LOCAL directories of small files (fixture corpora, spool
  * dirs) under a local master — tasks read with `java.nio`, so they
  * must share the driver's filesystem; anything else is refused
  * ([[localDir]]). Big multi-record archives keep the streaming
  * scanners ([[Warc.read]]); genuinely remote/distributed storage
  * keeps `binaryFile`, whose per-file cost is amortized by large files.
  */
object BinaryFiles {

  /** `(path string, content binary)` over every regular file under
    * `dir` whose name ends with `suffix`, sorted by name so the
    * partitioning (and any downstream task attribution) is
    * deterministic regardless of directory-listing order. `dir` is a
    * plain or `file:` path; see [[localDir]] for what is refused.
    */
  def read(spark: SparkSession, dir: String, suffix: String): DataFrame = {
    import spark.implicits._
    val local = localDir(dir, spark.sparkContext.master)
    val paths = Option(new java.io.File(local).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(suffix))
      .map(_.getAbsolutePath)
      .sorted.toSeq
    val par = math.max(1, math.min(paths.size, spark.sparkContext.defaultParallelism))
    spark.createDataset(paths).repartition(par).mapPartitions { it =>
      it.map { p =>
        ("file:" + p, java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))
      }
    }.toDF("path", "content")
  }

  /** The local filesystem path of `dir`, or a failure naming `dir`
    * when the reader cannot serve it: a scheme other than `file:`
    * (hdfs:, s3a:, … — executors would not see it through java.nio)
    * or a non-local `master` (cluster executors have their own
    * filesystems). Use the `binaryFile` source for either case.
    */
  private[graft] def localDir(dir: String, master: String): String = {
    val uri = new org.apache.hadoop.fs.Path(dir).toUri
    require(uri.getScheme == null || uri.getScheme == "file",
      s"BinaryFiles.read reads local files only, not '$dir' " +
        "(use the binaryFile source for remote storage)")
    require(master == "local" || master.startsWith("local["),
      s"BinaryFiles.read of '$dir' needs a local master, whose tasks share " +
        s"the driver's filesystem; the master is '$master' (use the binaryFile source)")
    uri.getPath
  }
}
