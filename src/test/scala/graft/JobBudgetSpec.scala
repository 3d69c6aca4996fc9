package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions._
import graft.operators.{CellSnapshot, Hnsw, Ivf, Pq, Sq, Tombstones}

/** Per-call Spark job budgets of the batch serving paths on a small
  * layout. A job is a scheduling round trip that every call pays
  * whatever its batch size, so a probe or schema-inference job that
  * creeps back in fails here, before it shows up as latency. The
  * counts must also not grow as compactions publish generations.
  *
  * A layout's tree schemas and sidecar rows are read once per file set
  * (`CellSnapshot.open`): the first call on a freshly built layout pays
  * those reads, and the pins below count both that first call and the
  * warm calls after it. Each case first serves a throwaway layout, so
  * the first calls of a shape in this JVM do not count.
  */
class JobBudgetSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val C = 8

  private lazy val emb = (0L until 400L).map { i =>
    val rnd = new scala.util.Random(i)
    (i, Array.fill(8)(rnd.nextFloat() * 10f))
  }.toDF("vec_id", "embedding").cache()

  private lazy val queries = emb.filter(col("vec_id") < 16)
    .select(col("vec_id").as("query_id"), perturbQuery(col("embedding")).as("query_vec"))
    .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
    .toDF("query_id", "query_vec")

  /** Counts the jobs started while the calling thread carries its tag. */
  private object Jobs extends SparkListener {
    private val Key = "graft.test.jobBudget"
    private val counts = new ConcurrentHashMap[String, AtomicInteger]()
    private val next = new AtomicInteger()
    spark.sparkContext.addSparkListener(this)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Key))).foreach { tag =>
        counts.computeIfAbsent(tag, _ => new AtomicInteger()).incrementAndGet()
      }

    def of(body: => Unit): Int = {
      val sc = spark.sparkContext
      val tag = s"call-${next.incrementAndGet()}"
      sc.setLocalProperty(Key, tag)
      try body finally sc.setLocalProperty(Key, null)
      TestListenerBus.drain(sc)
      Option(counts.get(tag)).map(_.get).getOrElse(0)
    }
  }

  /** Jobs of one call, from building the frame to collecting its rows. */
  private def callJobs(call: => DataFrame): Int = Jobs.of(call.collect())

  private def takedown(ids: Seq[Long]) = ids.toDF("vec_id")

  test("per-call jobs of fused IVF, routed HNSW and IVF-PQ rerank, before and after two compactions") {
    val cents = Ivf.kmeans(emb, C, 1)
    val books = Pq.codebooks(emb, 4, 2, 8, 1)
    val p = Hnsw.Params(numPartitions = 3)
    def build(): (String, String, String) = {
      val root = Files.createTempDirectory("job_budget").toString
      val (ivf, hnsw, pq) = (s"$root/ivf", s"$root/hnsw", s"$root/pq")
      Ivf.writePartitionedWith(emb, cents, ivf)
      Hnsw.saveRouted(emb, cents, p, hnsw)
      Pq.ensureEncodedPartitioned(emb, cents, books, 4, 2, pq)
      (ivf, hnsw, pq)
    }
    def measure(dirs: (String, String, String)): Seq[Int] = Seq(
      callJobs(Ivf.topKPartitionedBatchFused(spark, dirs._1, queries, 10, 3)),
      callJobs(Hnsw.search(spark, dirs._2, queries, 10, p, 3)),
      callJobs(Pq.topK(spark, dirs._3, queries, 10, 3, rerank = Some(Pq.Rerank(emb, 40)))))
    measure(build())
    val (ivf, hnsw, pq) = build()
    val first = measure((ivf, hnsw, pq))
    val before = measure((ivf, hnsw, pq))
    for (ids <- Seq(Seq(20L, 21L, 300L), Seq(22L, 140L))) {
      Ivf.recordDeletes(spark, ivf, takedown(ids))
      Ivf.compactPartitioned(spark, ivf)
      Tombstones.record(spark, hnsw, takedown(ids))
      Hnsw.compactRouted(spark, hnsw, p)
      Tombstones.record(spark, pq, takedown(ids))
      Ivf.compactPartitioned(spark, pq)
    }
    val after = measure((ivf, hnsw, pq))
    // measured on this layout (local[2]). The first call also reads the
    // trees' schemas and collects the sidecars: IVF the layout and
    // centroid schemas + 1 centroid collect, HNSW the node, edge and
    // centroid schemas + 1 centroid collect, PQ IVF's 3 + the codebook
    // read and collect. Warm: IVF = the scan and the heap merge; HNSW =
    // the shard shuffle and the merge; PQ = the code scan, shortlist
    // merge and rerank with their broadcasts
    assert(first === Seq(5, 8, 12), "per-call jobs (ivf, hnsw, pq) of a fresh layout's first call")
    assert(before === Seq(2, 4, 7), "per-call jobs (ivf, hnsw, pq) of warm calls")
    assert(after === before, s"per-call jobs must not grow with published generations")
  }

  test("per-call jobs of the exhaustive Hnsw.search, before and after two compactions") {
    val p = Hnsw.Params(numPartitions = 3)
    def build(): String = {
      val dir = Files.createTempDirectory("job_budget_hash").toString
      Hnsw.save(emb, p, dir)
      dir
    }
    callJobs(Hnsw.search(spark, build(), queries, 10, p))
    val dir = build()
    val first = callJobs(Hnsw.search(spark, dir, queries, 10, p))
    val before = callJobs(Hnsw.search(spark, dir, queries, 10, p))
    for (ids <- Seq(Seq(20L, 21L, 300L), Seq(22L, 140L))) {
      Tombstones.record(spark, dir, takedown(ids))
      Hnsw.compactRouted(spark, dir, p)
    }
    // measured on this layout (local[2]): the cogroup search's 6, plus
    // the node and edge schema reads on the first call
    assert(first === 8, "per-call jobs of the exhaustive search's first call")
    assert(before === 6, "per-call jobs of the warm exhaustive search")
    // the takedowns hit all 3 shards, so no build shard is live and the
    // oldest live trees are new files: the first call reads their
    // schemas again, and only that call
    assert(callJobs(Hnsw.search(spark, dir, queries, 10, p)) === first,
      "the first call on the compacted trees")
    assert(callJobs(Hnsw.search(spark, dir, queries, 10, p)) === before,
      "per-call jobs must not grow with published generations")
  }

  test("per-call jobs of fused and single-query IVF top-k are the same on plain, cosine and MIPS layouts") {
    def build(): Seq[String] = {
      val root = Files.createTempDirectory("job_budget_kinds").toString
      val dirs = Seq(s"$root/plain", s"$root/cosine", s"$root/mips")
      Ivf.writePartitionedWith(emb, Ivf.centroids(emb, C), dirs(0))
      Ivf.ensurePartitioned(emb, C, dirs(1), kind = "cosine")
      Ivf.ensurePartitioned(emb, C, dirs(2), kind = "mips")
      dirs
    }
    val oneQuery = queries.filter(col("query_id") === 0).drop("query_id")
    def measure(dirs: Seq[String]): Seq[Int] =
      dirs.map(d => callJobs(Ivf.topKPartitionedBatchFused(spark, d, queries, 10, 3))) ++
        dirs.map(d => callJobs(Ivf.topKPartitioned(spark, d, oneQuery, 10, 3)))
    measure(build())
    val dirs = build()
    // fused: the plain layout's counts of the first test on every kind;
    // single query: one more, as many as the per-kind single forms with
    // their in-plan probe collect — the kind dispatch and the batch of
    // one add no job. The fused call comes first, so the single call
    // finds the schemas and centroids read
    assert(measure(dirs) === Seq(5, 5, 5, 3, 3, 3),
      "per-call jobs of the first calls (fused plain/cosine/mips, single plain/cosine/mips)")
    assert(measure(dirs) === Seq(2, 2, 2, 3, 3, 3),
      "per-call jobs of warm calls (fused plain/cosine/mips, single plain/cosine/mips)")
  }

  test("per-call jobs of a one-row frame on pq, pq_residual and ivfsq8 code layouts") {
    val cents = Ivf.kmeans(emb, C, 1)
    val books = Pq.codebooks(emb, 4, 2, 8, 1)
    val resBooks = Pq.codebooks(Pq.residuals(emb, cents).select("vec_id", "embedding"), 4, 2, 8, 1)
    val (lo, hi) = Sq.bounds(emb)
    def build(): Seq[String] = {
      val root = Files.createTempDirectory("job_budget_codes").toString
      val dirs = Seq(s"$root/pq", s"$root/pq_residual", s"$root/ivfsq8")
      Pq.ensureEncodedPartitioned(emb, cents, books, 4, 2, dirs(0))
      Pq.ensureEncodedPartitionedResidual(emb, cents, resBooks, 4, 2, dirs(1))
      Sq.ensureEncodedPartitioned(emb, cents, lo, hi, dirs(2))
      dirs
    }
    val oneQuery = queries.filter(col("query_id") === 0).drop("query_id")
    def measure(dirs: Seq[String]): Seq[Int] =
      dirs.map(d => callJobs(Pq.topK(spark, d, oneQuery, 10, 3))) ++
        dirs.map(d => callJobs(Pq.topK(spark, d, oneQuery, 10, 3, rerank = Some(Pq.Rerank(emb, 40)))))
    measure(build())
    val dirs = build()
    // measured on these layouts (local[2]). Warm: the LUT broadcast and
    // the top-k; re-rank adds the shortlist and query broadcasts. The
    // LUTs come from the collected query vectors, so no kind pays for a
    // centroid scan or a query rescan in the plan. The first call also
    // reads the layout and centroid schemas, collects the centroids and
    // reads and collects `_codebooks` or `_bounds`; the re-rank calls
    // come second and find them read
    assert(measure(dirs) === Seq(7, 7, 7, 4, 4, 4),
      "per-call jobs of the first calls (pq, pq_residual, ivfsq8; then each with re-rank)")
    assert(measure(dirs) === Seq(2, 2, 2, 4, 4, 4),
      "per-call jobs of warm calls (pq, pq_residual, ivfsq8; then each with re-rank)")
  }

  test("cold and warm jobs of Ivf.ensurePartitionedWith and Pq.ensureEncodedPartitioned") {
    val cents = Ivf.kmeans(emb, C, 1)
    val books = Pq.codebooks(emb, 4, 2, 8, 1)
    // each build reads sources no earlier call fingerprinted (another
    // plan over the same rows), so its first ensure pays one fingerprint
    // job per source, as on a fresh JVM
    var run = 0
    def fresh() = {
      run += 1
      (emb.filter(col("vec_id") < 400 + run), cents.filter(col("centroid_id") < C + run),
        books.filter(col("subspace") < 4 + run))
    }
    def build(): Seq[Int] = {
      val root = Files.createTempDirectory("job_budget_ensure").toString
      val (e1, c1, _) = fresh()
      val (e2, c2, b2) = fresh()
      def ivf() = Jobs.of(Ivf.ensurePartitionedWith(e1, c1, s"$root/ivf", "bench"))
      def pq() = Jobs.of(Pq.ensureEncodedPartitioned(e2, c2, b2, 4, 2, s"$root/pq"))
      Seq(ivf(), pq(), ivf(), pq())
    }
    build()
    // cold (measured, local[2]): a fingerprint job per source, then
    // the writes; warm: the fingerprints are memoized and the recorded
    // one matches, so nothing runs
    assert(build() === Seq(9, 13, 0, 0),
      "jobs of cold then warm calls (ivf, pq, ivf, pq)")
  }

  test("a layout read infers one schema however many compactions published") {
    val dir = Files.createTempDirectory("job_budget_read").toString
    Ivf.writePartitionedWith(emb, Ivf.centroids(emb, C), dir)
    val all = emb.select("vec_id").as[Long].collect().toSet
    def compact(ids: Seq[Long]): Unit = {
      Ivf.recordDeletes(spark, dir, takedown(ids))
      Ivf.compactPartitioned(spark, dir)
    }
    def read(): (Int, Set[Long]) = {
      var ids = Set.empty[Long]
      val n = Jobs.of { ids = Ivf.readLayout(spark, dir).select("vec_id").as[Long].collect().toSet }
      (n, ids)
    }
    compact(Seq(3L, 4L))
    val (jobs1, rows1) = read()
    assert(rows1 === all -- Seq(3L, 4L))
    compact(Seq(50L, 51L))
    compact(Seq(120L, 250L, 399L))
    assert(CellSnapshot.mapping(spark, dir).get._2.values.toSet.size >= 3,
      "the read must resolve several generations")
    val (jobs3, rows3) = read()
    assert(rows3 === all -- Seq(3L, 4L, 50L, 51L, 120L, 250L, 399L))
    assert(jobs3 === jobs1, "each published generation must not add a schema-inference job")
  }

  test("Ivf.insertInto runs as many jobs in every lifecycle round once a manifest exists") {
    val dir = Files.createTempDirectory("job_budget_insert").toString
    Ivf.writePartitionedWith(emb.filter(col("vec_id") < 300), Ivf.kmeans(emb, C, 1), dir)
    val jobs = (0 until 3).map { r =>
      val batch = emb.filter(col("vec_id") >= 300 + r * 30 && col("vec_id") < 330 + r * 30)
      val n = Jobs.of(Ivf.insertInto(spark, dir, batch))
      Ivf.recordDeletes(spark, dir, takedown(Seq(r * 7L + 1, 300L + r * 30)))
      Ivf.compactPartitioned(spark, dir)
      n
    }
    // round 1 appends before any manifest; rounds 2 and 3 place the
    // batch against one and compute it once, however many generations
    // its cells live in (the former per-generation writes measured
    // 5, 14, 18 here)
    assert(CellSnapshot.mapping(spark, dir).get._2.values.toSet.size >= 3,
      "the cells must live in several generations")
    assert(jobs(1) === jobs(2), s"insertInto jobs per round: $jobs")
    assert(jobs.forall(_ < 10), s"insertInto jobs per round: $jobs")
  }
}
