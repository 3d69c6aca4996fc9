package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions._
import graft.operators.{CellSnapshot, IndexMeta, Ivf, Tombstones}

/** Recluster lifecycle for the cell-partitioned layout — the
  * re-balance half of maintenance (IvfInsertSpec is the append half,
  * IvfDeleteSpec the remove half): `Ivf.reclusterPartitioned`
  * re-assigns every LIVE row onto a new centroid set and publishes the
  * re-partitioned tree atomically, so
  *  (a) the reclustered layout serves EXACTLY like a fresh build over
  *      its live rows with the same centroids (the declared query's
  *      oracle claim),
  *  (b) tombstones are folded in (a recluster is also a compaction)
  *      and cleared,
  *  (c) the serving centroids resolve consistently with the data
  *      snapshot (`centroidsOf` prefers the generation-scoped sidecar
  *      staged before the manifest flip), and
  *  (d) `cellStats` reports live per-cell occupancy — the diagnostic
  *      that schedules the recluster in the first place.
  */
class IvfReclusterSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val C = 8

  private lazy val emb = (0L until 240L).map { i =>
    val rnd = new scala.util.Random(i)
    (i, Array.fill(8)(rnd.nextFloat() * 10f))
  }.toDF("vec_id", "embedding").cache()

  private lazy val centsA = Ivf.centroids(emb, C)
  private lazy val centsB = Ivf.centroidsFrom(emb, C, 100)

  private lazy val oneQuery = emb.filter(col("vec_id") === 0)
    .select(perturbQuery(col("embedding")).as("query_vec"))

  private def served(dir: String, nprobe: Int) =
    Ivf.topKPartitioned(spark, dir, oneQuery, 10, nprobe)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("recluster == fresh build over the union with the new centroids; meta invalidated") {
    val base = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val fresh = emb.filter(pmod(col("vec_id"), lit(5)) === 0)

    val dir = Files.createTempDirectory("ivf_rec").toString
    def ensureReclustered(): Unit =
      IndexMeta.ensure(dir, "recspec", base, fresh, centsA, centsB) {
        Ivf.writePartitionedWith(base, centsA, dir)
        Ivf.insertInto(spark, dir, fresh)
        Ivf.reclusterPartitioned(spark, dir, centsB)
      }
    ensureReclustered()

    val freshDir = Files.createTempDirectory("ivf_rec_fresh").toString
    Ivf.writePartitionedWith(emb, centsB, freshDir)

    // exact serving equality at every probe width, including partial
    // probes (cell membership must match, not just the global top-k)
    for (np <- Seq(1, 2, C))
      assert(served(dir, np) == served(freshDir, np),
        s"reclustered layout must serve like a fresh centsB build at nprobe=$np")

    // ensure is memoized: a second call must not rebuild
    val v0 = CellSnapshot.version(spark, dir)
    ensureReclustered()
    assert(CellSnapshot.version(spark, dir) == v0, "memoized ensure must not republish")
  }

  test("centroid files are immutable: scoped sidecar serves, flat stays build-time, later versions inherit") {
    val dir = Files.createTempDirectory("ivf_rec_c").toString
    Ivf.writePartitionedWith(emb, centsA, dir)
    assert(Ivf.centroidsOf(spark, dir).agg(max("centroid_id")).head.getLong(0) == C - 1)
    def cset(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("centroid_id").collect().toSeq
    val flatBefore = cset(spark.read.parquet(s"$dir/_centroids"))

    Ivf.reclusterPartitioned(spark, dir, centsB)
    val g = CellSnapshot.version(spark, dir)
    assert(g.nonEmpty, "recluster must publish a snapshot generation")
    // generation-scoped sidecar exists and is what centroidsOf serves
    val scoped = cset(spark.read.parquet(s"$dir/_centroids_g${g.get}"))
    assert(cset(Ivf.centroidsOf(spark, dir)) == scoped)
    assert(scoped == cset(centsB))
    // published centroid files are IMMUTABLE: the flat build-time
    // sidecar is untouched, so a reader still pinned before the
    // recluster resolves the routing it was built with
    assert(cset(spark.read.parquet(s"$dir/_centroids")) == flatBefore)
    assert(cset(Ivf.centroidsAt(spark, dir, g.get - 1)) == cset(centsA),
      "pre-recluster version must resolve build-time centroids")

    // a LATER version bump that moves no cells (tombstone compaction)
    // must keep serving the recluster's centroids — the newest-at-or-
    // below rule, covering the crash-between-publish-and-converge
    // window the in-place flat rewrite used to leave open
    Tombstones.record(spark, dir, emb.filter(col("vec_id") < 5).select("vec_id"))
    Ivf.compactPartitioned(spark, dir)
    val g2 = CellSnapshot.version(spark, dir)
    assert(g2.exists(_ > g.get), "compaction must bump the version")
    assert(cset(Ivf.centroidsOf(spark, dir)) == scoped,
      "post-recluster maintenance versions must inherit the reclustered routing")
    // and the one-resolve serving pair agrees with itself
    val (_, cents) = Ivf.readLayoutWithCentroids(spark, dir)
    assert(cset(cents) == scoped)
  }

  test("recluster folds tombstones in and clears them") {
    val dir = Files.createTempDirectory("ivf_rec_t").toString
    Ivf.writePartitionedWith(emb, centsA, dir)
    val doomed = emb.filter(pmod(col("vec_id"), lit(7)) === 0).select("vec_id")
    Tombstones.record(spark, dir, doomed)

    Ivf.reclusterPartitioned(spark, dir, centsB)
    assert(Tombstones.ids(spark, dir).isEmpty, "recluster must clear _deletes")
    val survivors = Ivf.readLayout(spark, dir).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(survivors == (0L until 240L).filter(_ % 7 != 0).toSet,
      "tombstoned rows must not survive the recluster rewrite")

    // and the rewritten layout serves like a fresh centsB build over
    // the survivors only
    val freshDir = Files.createTempDirectory("ivf_rec_t_fresh").toString
    Ivf.writePartitionedWith(emb.filter(pmod(col("vec_id"), lit(7)) =!= 0), centsB, freshDir)
    assert(served(dir, 2) == served(freshDir, 2))
  }

  test("cellStats: live per-cell occupancy, tombstones excluded, == independent assignment counts") {
    val dir = Files.createTempDirectory("ivf_stats").toString
    Ivf.writePartitionedWith(emb, centsA, dir)

    def expected(rows: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      Ivf.assignWith(rows, centsA).groupBy("cell").count()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    def observed(): Map[Long, Long] =
      Ivf.cellStats(spark, dir).collect().map(r => (r.getLong(0), r.getLong(1))).toMap

    assert(observed() == expected(emb))

    // tombstoned rows leave the stats immediately (before any compaction)
    Tombstones.record(spark, dir, emb.filter(col("vec_id") < 50).select("vec_id"))
    assert(observed() == expected(emb.filter(col("vec_id") >= 50)))
  }

  test("PQ code-layout recluster: routing changes, codes byte-identical, == fresh encode build; residual + coverage guards") {
    import graft.operators.Pq
    val M = 4; val SubDim = 2 // dim 8 fixture → 4 subspaces of 2
    val books = Pq.codebooks(emb, M, SubDim, 8, iters = 1).cache()

    val dir = Files.createTempDirectory("pq_rec").toString
    Pq.ensureEncodedPartitioned(emb, centsA, books, M, SubDim, dir)
    Pq.reclusterEncodedPartitioned(spark, dir, emb, centsB)

    val freshDir = Files.createTempDirectory("pq_rec_fresh").toString
    Pq.ensureEncodedPartitioned(emb, centsB, books, M, SubDim, freshDir)

    def serve(d: String, np: Int) =
      Pq.topK(spark, d, oneQuery, 10, np)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    for (np <- Seq(1, 2, C))
      assert(serve(dir, np) == serve(freshDir, np),
        s"reclustered code layout must serve like a fresh centsB encode at nprobe=$np")
    // codes themselves are untouched — only the routing moved
    val codesOf = (d: String) => Ivf.readLayout(spark, d)
      .select(col("vec_id"), col("codes").cast("array<int>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1))).toMap
    assert(codesOf(dir) == codesOf(freshDir))

    // coverage guard: a source table missing live ids must fail (the
    // rewrite's left join raises on the first uncovered row — a single
    // pass, not a pre-flight count), never silently drop
    val partial = emb.filter(col("vec_id") < 100)
    val err = intercept[Exception] {
      Pq.reclusterEncodedPartitioned(spark, dir, partial, centsA)
    }
    def rootChain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .map(e => Option(e.getMessage).getOrElse("")).toSeq
    assert(rootChain(err).exists(_.contains("missing from the source")),
      s"expected the coverage raise, got: ${rootChain(err).mkString(" | ")}")

    // residual guard: cell-coupled codes refuse to recluster
    val resDir = Files.createTempDirectory("pq_rec_res").toString
    val resBooks = Pq.codebooks(
      Pq.residuals(emb, centsA).select(col("vec_id"), col("embedding")),
      M, SubDim, 8, iters = 1, seedOffset = C)
    Pq.ensureEncodedPartitionedResidual(emb, centsA, resBooks, M, SubDim, resDir)
    val err2 = intercept[IllegalArgumentException] {
      Pq.reclusterEncodedPartitioned(spark, resDir, emb, centsB)
    }
    assert(err2.getMessage.contains("residual"))
  }

  test("cosine-layout recluster: stored-space centroids, == fresh cosine build") {
    // the layout stores NORMALIZED doubles; newCents must live in that
    // space (the documented contract) — seed them from the normalized
    // table at offset 100, exactly like a fresh cosine build would
    val normed = Ivf.normalized(emb)
    val dir = Files.createTempDirectory("cos_rec").toString
    Ivf.ensurePartitioned(emb, C, dir, kind = "cosine")
    Ivf.reclusterPartitioned(spark, dir, Ivf.centroidsFrom(normed, C, 100))

    val freshDir = Files.createTempDirectory("cos_rec_fresh").toString
    Ivf.ensurePartitionedWith(normed, Ivf.centroidsFrom(normed, C, 100), freshDir,
      tag = "cosrecfresh", kind = "cosine")

    def serve(d: String, np: Int) =
      Ivf.topKPartitioned(spark, d, oneQuery, 10, np)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    for (np <- Seq(1, 2, C))
      assert(serve(dir, np) == serve(freshDir, np),
        s"reclustered cosine layout must serve like a fresh build at nprobe=$np")
    // the kind marker survives the rewrite (insertInto still normalizes)
    assert(Ivf.layoutKind(spark, dir) == "cosine")
  }

  test("SQ8 code-layout recluster: routing-only rewrite == fresh encode build; kind guard") {
    import graft.operators.{Pq, Sq}
    val (lo, hi) = Sq.bounds(emb)
    val dir = Files.createTempDirectory("sq_rec").toString
    Sq.ensureEncodedPartitioned(emb, centsA, lo, hi, dir)
    Sq.reclusterEncodedPartitioned(spark, dir, emb, centsB)

    val freshDir = Files.createTempDirectory("sq_rec_fresh").toString
    Sq.ensureEncodedPartitioned(emb, centsB, lo, hi, freshDir)

    def serve(d: String, np: Int) =
      Pq.topK(spark, d, oneQuery, 10, np)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    for (np <- Seq(1, 2, C))
      assert(serve(dir, np) == serve(freshDir, np),
        s"reclustered SQ8 layout must serve like a fresh centsB encode at nprobe=$np")

    // a plain vector layout refuses the SQ entry point
    val vdir = Files.createTempDirectory("sq_rec_guard").toString
    Ivf.writePartitionedWith(emb, centsA, vdir)
    val err = intercept[IllegalArgumentException] {
      Sq.reclusterEncodedPartitioned(spark, vdir, emb, centsB)
    }
    assert(err.getMessage.contains("IVF-SQ8"))
  }

  test("maintenance state machine: random insert/delete/compact/recluster interleavings serve the live set exactly") {
    import graft.operators.Tombstones
    // deterministic random op sequences; invariant after EVERY op: a
    // full-probe topK over the layout == brute-force kNN over the live
    // rows (whatever mix of appends, tombstones, compactions, and
    // recluster rewrites produced the on-disk state)
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val dir = Files.createTempDirectory(s"ivf_life$seed").toString
      var nextId = 120L
      var live = (0L until 120L).toSet
      Ivf.writePartitionedWith(emb.filter(col("vec_id") < 120), centsA, dir)
      var deleted = Set.empty[Long]

      def check(step: String): Unit = {
        val got = Ivf.topKPartitioned(spark, dir, oneQuery, 10, nprobe = C)
          .collect().map(_.getLong(0)).toSeq
        val want = emb.filter(col("vec_id").isin((live -- deleted).toSeq: _*))
          .crossJoin(broadcast(oneQuery))
          .select(col("vec_id"),
            round(l2Distance(col("embedding"), col("query_vec")), 6).as("d"))
          .orderBy(col("d"), col("vec_id")).limit(10)
          .collect().map(_.getLong(0)).toSeq
        assert(got == want, s"seed=$seed after $step: $got != $want")
      }

      for (_ <- 1 to 6) {
        rnd.nextInt(4) match {
          case 0 if nextId < 240 => // insert a fresh batch
            val hi = math.min(240L, nextId + 30)
            Ivf.insertInto(spark, dir,
              emb.filter(col("vec_id") >= nextId && col("vec_id") < hi))
            live ++= (nextId until hi); nextId = hi
            check(s"insert->$hi")
          case 1 => // tombstone a random slice of the live set
            val doomed = (live -- deleted).filter(_ => rnd.nextBoolean()).take(15)
            if (doomed.nonEmpty) {
              Tombstones.record(spark, dir,
                spark.createDataFrame(spark.sparkContext.parallelize(
                    doomed.toSeq.map(org.apache.spark.sql.Row(_))),
                  org.apache.spark.sql.types.StructType(Seq(
                    org.apache.spark.sql.types.StructField("vec_id",
                      org.apache.spark.sql.types.LongType)))))
              deleted ++= doomed
              check(s"delete ${doomed.size}")
            }
          case 2 => // fold tombstones into the files
            Ivf.compactPartitioned(spark, dir)
            live --= deleted; deleted = Set.empty
            check("compact")
          case _ => // full rewrite onto the other centroid set
            Ivf.reclusterPartitioned(spark, dir,
              if (rnd.nextBoolean()) centsB else centsA)
            live --= deleted; deleted = Set.empty
            check("recluster")
        }
      }
    }
  }

  test("cellSkew / needsRecluster: max-over-mean trigger, empty cells count against balance") {
    val dir = Files.createTempDirectory("ivf_skew").toString
    Ivf.writePartitionedWith(emb, centsA, dir)
    val counts = Ivf.assignWith(emb, centsA).groupBy("cell").count()
      .collect().map(_.getLong(1))
    val want = counts.max.toDouble / (counts.sum.toDouble / C)
    val got = Ivf.cellSkew(spark, dir)
    assert(math.abs(got - want) < 1e-9, s"skew $got != expected $want")
    assert(got >= 1.0)
    assert(Ivf.needsRecluster(spark, dir, maxSkew = 1.0))
    assert(!Ivf.needsRecluster(spark, dir, maxSkew = 1000.0))
  }
}
