package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Snapshot-isolated publication for cell-partitioned index layouts
  * ([[Ivf]] `cell=` trees, [[Hnsw]] `part=` trees — routed cells and
  * exhaustive hash shards alike — and [[Pq]] code cells): the one
  * publish protocol of every persisted index. The reference has no
  * storage lifecycle at all (hnsw.cc is a single in-memory structure);
  * this is the piece that makes the on-disk layouts SAFE under
  * concurrent readers: published files are IMMUTABLE — a maintenance
  * operation never deletes or renames a file a reader could have
  * planned against — and visibility flips through the atomic
  * appearance of a NEW manifest file, written only after every data
  * file of its generation is in place.
  *
  * Physical layout under an index root `dir` (per sub-tree `sub`,
  * empty for IVF, `nodes`/`edges` for HNSW):
  *
  *   dir/<sub>/<partCol>=<id>/...          generation-0 subtrees (the
  *                                         original build — partition
  *                                         discovery works unchanged)
  *   dir/_gen/g=<N>/<sub>/<partCol>=<id>/  subtrees rewritten by the
  *                                         maintenance op (compaction,
  *                                         recluster, graph insert)
  *                                         that published version N
  *                                         (N >= 1)
  *   dir/_manifests/m<V>                   manifest version V: one
  *                                         "<id> <gen>" line per live
  *                                         cell (immutable, never
  *                                         overwritten; appears via an
  *                                         ATOMIC tmp-write + rename —
  *                                         THE flip point)
  *
  * The current version is the LARGEST m<V> present — no mutable marker
  * file exists anywhere in the lifecycle (a create-overwrite marker
  * would itself be a truncate-then-write race for concurrent readers),
  * so every publish is one atomic rename of a new name. Concurrent
  * maintenance is single-writer by contract (two compactions racing
  * the same version is a caller error; the loser's rename fails loudly
  * rather than silently clobbering). A writer interrupted before its
  * rename leaves an unpublished `_gen/g=<V+1>` tree that no manifest
  * names: readers keep serving V, and the next writer overwrites it.
  *
  * Until a first maintenance op publishes a manifest, none exists and
  * [[read]] is exactly `spark.read.parquet` — zero overhead on the
  * build-then-serve path. After one, readers resolve the newest
  * manifest once at plan time and union the per-generation trees
  * filtered to their live cells; a reader that resolved version V
  * keeps a consistent view forever, because no file referenced by
  * manifest V is ever mutated (only [[vacuum]] — an explicitly
  * unsafe-with-old-readers GC — reclaims superseded subtrees).
  *
  * Scale contract: the manifest is O(C) lines (C = cell count, never
  * data-proportional); compaction writes only the affected cells'
  * replacement subtrees + one manifest file + one marker flip.
  */
private[graft] object CellSnapshot {

  private def manifestDir(dir: String) = new org.apache.hadoop.fs.Path(s"$dir/_manifests")

  private def manifestPath(dir: String, v: Int) =
    new org.apache.hadoop.fs.Path(s"$dir/_manifests/m$v")

  private def fsOf(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Root of generation `g`'s `sub` tree (g = 0 is the original build). */
  def genRoot(dir: String, sub: String, g: Int): String = {
    val base = if (g == 0) dir else s"$dir/_gen/g=$g"
    if (sub.isEmpty) base else s"$base/$sub"
  }

  private def readSmallFile(spark: SparkSession, p: org.apache.hadoop.fs.Path): Option[String] = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8"))
      finally in.close()
    }
  }

  /** Current published snapshot version — the largest `m<V>` in the
    * manifest dir (one driver-side listing of an O(compaction-count)
    * dir; [[vacuum]] trims old versions). A manifest file is only ever
    * VISIBLE complete (tmp-write + rename), so the max is always safe
    * to read.
    */
  def version(spark: SparkSession, dir: String): Option[Int] =
    versions(spark, dir).maxOption

  /** Current `(version, cell → generation)` manifest, if published. */
  def mapping(spark: SparkSession, dir: String): Option[(Int, Map[Long, Int])] =
    version(spark, dir).map(v => (v, mappingAt(spark, dir, v)
      .getOrElse(throw new IllegalStateException(
        s"manifest m$v at $dir vanished between listing and read (concurrent " +
          "vacuum of the current version?)"))))

  /** All published versions still on disk, ascending — the time-travel
    * catalog ([[vacuum]] trims all but the current one).
    */
  def versions(spark: SparkSession, dir: String): Seq[Int] = {
    val md = manifestDir(dir)
    val fs = md.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(md)) Seq.empty
    else fs.listStatus(md).toSeq
      .map(_.getPath.getName)
      .filter(n => n.startsWith("m") && n.drop(1).forall(_.isDigit) && n.length > 1)
      .map(_.drop(1).toInt)
      .sorted
  }

  /** The cell → generation manifest of a SPECIFIC published version,
    * if that version's manifest still exists ([[vacuum]] reclaims old
    * versions along with their superseded subtrees).
    */
  def mappingAt(spark: SparkSession, dir: String, v: Int): Option[Map[Long, Int]] =
    readSmallFile(spark, manifestPath(dir, v)).map { txt =>
      txt.linesIterator.filter(_.nonEmpty).map { l =>
        val parts = l.split(' ')
        parts(0).toLong -> parts(1).toInt
      }.toMap
    }

  /** Current manifest, synthesizing the implicit version-0 state (every
    * `partCol=` child of `sub`'s generation-0 tree lives at gen 0) when
    * none has been published yet.
    */
  def mappingOrBase(spark: SparkSession, dir: String, sub: String,
                    partCol: String): (Int, Map[Long, Int]) =
    mapping(spark, dir).getOrElse(
      (0, listParts(spark, genRoot(dir, sub, 0), partCol).map(_ -> 0).toMap))

  /** The `partCol=` child ids of `root` (driver-side listing — O(C)). */
  def listParts(spark: SparkSession, root: String, partCol: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith(partCol + "="))
      .map(_.substring(partCol.length + 1).toLong)
      .sorted
  }

  /** Snapshot-resolved read of `sub`'s live rows. No manifest → plain
    * `spark.read.parquet` (identical plan to the pre-snapshot engine);
    * with one, a union of the per-generation trees each filtered to its
    * live cells — the cell filters stay partition filters, so probe
    * pruning composes unchanged. Only the oldest live tree's read infers
    * a schema (generation 0 while any build cell is live): later
    * generations are read with it, so a read costs one inference job
    * however many compactions have published, and still resolves once
    * [[vacuum]] has reclaimed every generation-0 cell.
    */
  def read(spark: SparkSession, dir: String, sub: String, partCol: String): DataFrame =
    readResolved(spark, dir, sub, partCol, mapping(spark, dir).map(_._2))

  /** TIME-TRAVEL read: `sub`'s live rows AS OF published version `v`.
    * Generations are immutable and manifests version-named, so any
    * not-yet-[[vacuum]]ed snapshot reproduces exactly — the
    * reproducible-training-run contract (pin the snapshot version a
    * run trained against; a later takedown compaction does not change
    * what that version serves). Fails loudly when `v` was vacuumed.
    */
  def readAt(spark: SparkSession, dir: String, sub: String, partCol: String,
             v: Int): DataFrame =
    readResolved(spark, dir, sub, partCol, Some(mappingAt(spark, dir, v)
      .getOrElse(throw new IllegalArgumentException(
        s"no manifest m$v under $dir: the version was never published or was vacuumed"))))

  private def readResolved(spark: SparkSession, dir: String, sub: String, partCol: String,
                           mapping: Option[Map[Long, Int]]): DataFrame = {
    val basePath = genRoot(dir, sub, 0)
    mapping match {
      case None => spark.read.parquet(basePath)
      case Some(m) =>
        val fs = fsOf(spark, dir)
        // a generation whose `sub` tree is empty was never written
        // (e.g. a rebuilt part with zero edges) — contributes nothing
        val live = m.groupBy(_._2).toSeq.sortBy(_._1)
          .map { case (g, cells) => (genRoot(dir, sub, g), cells.keys.toSeq) }
          .filter { case (root, _) => fs.exists(new org.apache.hadoop.fs.Path(root)) }
        live.headOption match {
          case None => spark.read.parquet(basePath).filter(lit(false))
          case Some((root0, _)) =>
            // every generation is written with the build tree's columns:
            // reading the rest with the oldest's schema skips a
            // schema-inference job per generation
            val first = spark.read.parquet(root0)
            live.map { case (root, cells) =>
              (if (root == root0) first else spark.read.schema(first.schema).parquet(root))
                .filter(col(partCol).isin(cells: _*))
            }.reduce(_ unionByName _)
        }
    }
  }

  /** Publish manifest version `v`: write the body to a dot-prefixed
    * temp file (invisible to [[version]]'s listing), then RENAME it to
    * its immutable `m<v>` name — an atomic create of a NEW name on
    * both local filesystems and HDFS, so no reader can ever observe a
    * partial manifest and no existing file is ever overwritten. A
    * crash before the rename leaves the previous snapshot fully live
    * (the orphan temp/generation files are inert and replaced on
    * retry); after it, the new snapshot is fully live. A rename
    * failure (m<v> already exists) means a concurrent writer raced
    * this publish — fail loudly, maintenance is single-writer by
    * contract.
    */
  def publish(spark: SparkSession, dir: String, v: Int, m: Map[Long, Int]): Unit = {
    val fs = fsOf(spark, dir)
    val body = m.toSeq.sorted.map { case (c, g) => s"$c $g" }.mkString("\n")
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/_manifests/.m$v.tmp")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    val dst = manifestPath(dir, v)
    if (!fs.rename(tmp, dst))
      throw new IllegalStateException(
        s"snapshot publish of m$v at $dir failed: another writer published it " +
          "concurrently (the lifecycle is single-writer)")
  }

  /** Manifest-aware cell append (the insert half of the lifecycle):
    * rows land in the subtree their cell CURRENTLY lives in, so a
    * post-compaction insert is visible to the next snapshot read.
    * Appends only add files — a concurrent reader's planned file list
    * is unaffected. A cell absent from the manifest (emptied by a
    * compaction, now receiving rows again) appends into the CURRENT
    * version's generation tree — guaranteed to hold no superseded
    * files for it (its gen-0 / older-gen subtrees may still exist for
    * old readers, so appending there would resurrect them) — and is
    * re-added to the manifest (one version bump).
    */
  def appendAssigned(spark: SparkSession, dir: String, assigned: DataFrame,
                     partCol: String = "cell"): Unit =
    mapping(spark, dir) match {
      case None =>
        assigned.write.mode("append").partitionBy(partCol).parquet(dir)
      case Some((v, m)) =>
        val batchCells = assigned.select(col(partCol).cast("long"))
          .distinct().collect().map(_.getLong(0))
        // manifest-absent cells land at gen v (v >= 1 whenever a
        // manifest exists, so this is never the gen-0 tree)
        batchCells.groupBy(c => m.getOrElse(c, v)).foreach { case (g, cells) =>
          assigned.filter(col(partCol).isin(cells.toIndexedSeq: _*))
            .write.mode("append").partitionBy(partCol).parquet(genRoot(dir, "", g))
        }
        val fresh = batchCells.filterNot(m.contains)
        if (fresh.nonEmpty) publish(spark, dir, v + 1, m ++ fresh.map(_ -> v))
    }

  /** Drop all snapshot state — called by every full-rebuild writer so a
    * fresh layout can never resolve a stale manifest.
    */
  def reset(spark: SparkSession, dir: String): Unit = {
    val fs = fsOf(spark, dir)
    Seq(manifestDir(dir), new org.apache.hadoop.fs.Path(s"$dir/_gen"), pinsDir(dir))
      .foreach(p => if (fs.exists(p)) fs.delete(p, true))
  }

  /** Reclaim superseded subtrees: delete every `partCol=` child (in the
    * gen-0 tree and each `_gen/g=N` tree, per `sub`) that none of the
    * RETAINED manifests reference, plus manifests older than the
    * retention window.
    *
    * `keep` is the snapshot-retention knob (default 1 = current only):
    * the newest `keep` published versions — and therefore every
    * [[readAt]] time-travel pin inside the window — survive the GC
    * byte-identically. This is how a production deployment bounds
    * storage while honoring "training run R reads version V until it
    * finishes": vacuum with `keep` ≥ the oldest live pin's distance
    * from the head. UNSAFE only for readers pinned OUTSIDE the window —
    * run on the takedown pipeline's cadence. No manifest published →
    * nothing is superseded → no-op.
    */
  def vacuum(spark: SparkSession, dir: String, subs: Seq[String],
             partCol: String, keep: Int = 1): Unit = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    val vs = versions(spark, dir)
    if (vs.nonEmpty) gc(spark, dir, subs, partCol, vs.takeRight(keep).toSet)
  }

  // ------------------------------------------------------------------
  // Retention policy: pins + age — the production knob ("keep versions
  // referenced by live training runs and anything newer than N days")
  // instead of a manual keep-count.
  // ------------------------------------------------------------------

  private def pinsDir(dir: String) = new org.apache.hadoop.fs.Path(s"$dir/_pins")
  private def pinPath(dir: String, v: Int) =
    new org.apache.hadoop.fs.Path(s"$dir/_pins/p$v")

  /** PIN a published version: an empty `_pins/p<V>` marker. A training
    * run pins the snapshot version it reads before starting; [[retain]]
    * never reclaims a pinned version, so the run's [[readAt]] view
    * stays bit-identical however many takedown compactions land while
    * it trains. Fails loudly on a never-published / already-vacuumed
    * version (pinning it could not protect anything).
    */
  def pin(spark: SparkSession, dir: String, v: Int): Unit = {
    require(versions(spark, dir).contains(v),
      s"cannot pin version $v at $dir: no manifest m$v is published")
    val fs = fsOf(spark, dir)
    val out = fs.create(pinPath(dir, v), true)
    out.close()
  }

  /** Release a pin (idempotent) — the training run finished. */
  def unpin(spark: SparkSession, dir: String, v: Int): Unit = {
    val fs = fsOf(spark, dir)
    val p = pinPath(dir, v)
    if (fs.exists(p)) fs.delete(p, false)
  }

  /** Currently pinned versions, ascending. */
  def pins(spark: SparkSession, dir: String): Seq[Int] = {
    val pd = pinsDir(dir)
    val fs = pd.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(pd)) Seq.empty
    else fs.listStatus(pd).toSeq
      .map(_.getPath.getName)
      .filter(n => n.startsWith("p") && n.length > 1 && n.drop(1).forall(_.isDigit))
      .map(_.drop(1).toInt)
      .sorted
  }

  /** POLICY-driven GC: keep the CURRENT version, every PINNED version,
    * and every version whose manifest was published within `maxAge` of
    * now (manifest files are immutable, so their filesystem mtime IS
    * the publish time); reclaim everything else — superseded subtrees
    * and manifests alike. `maxAge = 0` keeps only current + pins. This
    * is the scheduler-facing form of [[vacuum]]: a nightly
    * `retain(dir, subs, partCol, maxAge = 7 days)` bounds storage while
    * honoring "training run R reads version V until it finishes"
    * (the run pins V; see [[pin]]).
    */
  def retain(spark: SparkSession, dir: String, subs: Seq[String], partCol: String,
             maxAge: java.time.Duration = java.time.Duration.ZERO): Unit = {
    val vs = versions(spark, dir)
    if (vs.nonEmpty) {
      val fs = fsOf(spark, dir)
      val cutoff = System.currentTimeMillis() - maxAge.toMillis
      val young = vs.filter { v =>
        maxAge.toMillis > 0 &&
          fs.getFileStatus(manifestPath(dir, v)).getModificationTime >= cutoff
      }
      val kept = (Set(vs.max) ++ pins(spark, dir).filter(vs.contains) ++ young)
      gc(spark, dir, subs, partCol, kept)
    }
  }

  /** The GC core shared by [[vacuum]] and [[retain]]: delete every
    * `partCol=` child (gen-0 tree and each `_gen/g=N` tree, per `sub`)
    * that no KEPT manifest references, then every manifest outside the
    * kept set. Kept versions — contiguous or not — survive
    * byte-identically ([[readAt]] of any kept version is unchanged).
    */
  private def gc(spark: SparkSession, dir: String, subs: Seq[String],
                 partCol: String, kept: Set[Int]): Unit = {
    val fs = fsOf(spark, dir)
    // union of live (cell → gen) references across every kept version
    val liveByGen: Map[Int, Set[Long]] = kept.toSeq
      .flatMap(v => mappingAt(spark, dir, v).getOrElse(Map.empty).toSeq)
      .groupBy(_._2).map { case (g, cells) => g -> cells.map(_._1).toSet }
    val gens = 0 +: listParts(spark, s"$dir/_gen", "g").map(_.toInt)
    for (g <- gens; sub <- subs) {
      val root = genRoot(dir, sub, g)
      val live = liveByGen.getOrElse(g, Set.empty[Long])
      listParts(spark, root, partCol).filterNot(live.contains).foreach { c =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$root/$partCol=$c"), true)
      }
      // a generation with no live cells left: drop its whole dir
      if (g > 0 && live.isEmpty) {
        val gdir = new org.apache.hadoop.fs.Path(s"$dir/_gen/g=$g")
        if (fs.exists(gdir)) fs.delete(gdir, true)
      }
    }
    val mdir = new org.apache.hadoop.fs.Path(s"$dir/_manifests")
    if (fs.exists(mdir)) fs.listStatus(mdir).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("m") && name.drop(1).toIntOption.exists(!kept.contains(_)))
        fs.delete(st.getPath, false)
    }
  }
}
