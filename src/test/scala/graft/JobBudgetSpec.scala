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
import graft.operators.{Hnsw, Ivf, Pq, Sq, Tombstones}

/** Per-call Spark job budgets of the batch serving paths on a small
  * layout. A job is a scheduling round trip that every call pays
  * whatever its batch size, so a probe or schema-inference job that
  * creeps back in fails here, before it shows up as latency. The
  * counts must also not grow as compactions publish generations.
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
    val root = Files.createTempDirectory("job_budget").toString
    val cents = Ivf.kmeans(emb, C, 1)
    val (ivf, hnsw, pq) = (s"$root/ivf", s"$root/hnsw", s"$root/pq")
    val p = Hnsw.Params(numPartitions = 3)
    Ivf.writePartitionedWith(emb, cents, ivf)
    Hnsw.saveRouted(emb, cents, p, hnsw)
    Pq.ensureEncodedPartitioned(emb, cents, Pq.codebooks(emb, 4, 2, 8, 1), 4, 2, pq)

    def measure(): Seq[Int] = Seq(
      callJobs(Ivf.topKPartitionedBatchFused(spark, ivf, queries, 10, 3)),
      callJobs(Hnsw.searchRoutedWithIndex(spark, hnsw, queries, 10, p, 3)),
      callJobs(Pq.topK(spark, pq, queries, 10, 3, rerank = Some(Pq.Rerank(emb, 40)))))
    // warm: the first call of a shape may compile or list more
    measure()
    val before = measure()
    for (ids <- Seq(Seq(20L, 21L, 300L), Seq(22L, 140L))) {
      Ivf.recordDeletes(spark, ivf, takedown(ids))
      Ivf.compactPartitioned(spark, ivf)
      Hnsw.recordDeletes(spark, hnsw, takedown(ids))
      Hnsw.compactRouted(spark, hnsw, p)
      Tombstones.record(spark, pq, takedown(ids))
      Ivf.compactPartitioned(spark, pq)
    }
    val after = measure()
    // measured on this layout (local[2]): IVF = layout and centroid
    // schema reads + 1 centroid collect + the scan and the heap merge;
    // HNSW = node, edge and centroid reads + 1 centroid collect + the
    // shard shuffle and the merge; PQ = codebook read and collect +
    // IVF's 3 probe jobs + the code scan, shortlist merge and rerank
    assert(before === Seq(5, 8, 12), s"per-call jobs (ivf, hnsw, pq) before compactions")
    assert(after === before, s"per-call jobs must not grow with published generations")
  }

  test("per-call jobs of fused and single-query IVF top-k are the same on plain, cosine and MIPS layouts") {
    val root = Files.createTempDirectory("job_budget_kinds").toString
    val dirs = Seq(s"$root/plain", s"$root/cosine", s"$root/mips")
    Ivf.writePartitionedWith(emb, Ivf.centroids(emb, C), dirs(0))
    Ivf.ensurePartitionedCosine(emb, C, dirs(1))
    Ivf.ensurePartitionedMips(emb, C, dirs(2))
    val oneQuery = queries.filter(col("query_id") === 0).drop("query_id")
    def measure(): Seq[Int] =
      dirs.map(d => callJobs(Ivf.topKPartitionedBatchFused(spark, d, queries, 10, 3))) ++
        dirs.map(d => callJobs(Ivf.topKPartitioned(spark, d, oneQuery, 10, 3)))
    measure()
    // fused: the plain layout's 5 of the first test on every kind;
    // single query: 6 on every kind, as many as the per-kind single
    // forms with their in-plan probe collect measured on this layout —
    // the kind dispatch and the batch of one add no job
    assert(measure() === Seq(5, 5, 5, 6, 6, 6),
      "per-call jobs (fused plain/cosine/mips, single plain/cosine/mips)")
  }

  test("per-call jobs of a one-row frame on pq, pq_residual and ivfsq8 code layouts") {
    val root = Files.createTempDirectory("job_budget_codes").toString
    val cents = Ivf.kmeans(emb, C, 1)
    val dirs = Seq(s"$root/pq", s"$root/pq_residual", s"$root/ivfsq8")
    Pq.ensureEncodedPartitioned(emb, cents, Pq.codebooks(emb, 4, 2, 8, 1), 4, 2, dirs(0))
    Pq.ensureEncodedPartitionedResidual(emb, cents,
      Pq.codebooks(Pq.residuals(emb, cents).select("vec_id", "embedding"), 4, 2, 8, 1),
      4, 2, dirs(1))
    val (lo, hi) = Sq.bounds(emb)
    Sq.ensureEncodedPartitioned(emb, cents, lo, hi, dirs(2))
    val oneQuery = queries.filter(col("query_id") === 0).drop("query_id")
    def measure(): Seq[Int] =
      dirs.map(d => callJobs(Pq.topK(spark, d, oneQuery, 10, 3))) ++
        dirs.map(d => callJobs(Pq.topK(spark, d, oneQuery, 10, 3, rerank = Some(Pq.Rerank(emb, 40)))))
    measure()
    // measured on these layouts (local[2]): layout and centroid schema
    // reads + 1 centroid collect + the sidecar read and collect + the
    // LUT broadcast and the top-k; re-rank adds the shortlist and query
    // broadcasts. The LUTs come from the collected query vectors, so no
    // kind pays for a centroid scan or a query rescan in the plan
    assert(measure() === Seq(7, 7, 7, 9, 9, 9),
      "per-call jobs (pq, pq_residual, ivfsq8; then each with re-rank)")
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
    assert(graft.operators.CellSnapshot.mapping(spark, dir).get._2.values.toSet.size >= 3,
      "the read must resolve several generations")
    val (jobs3, rows3) = read()
    assert(rows3 === all -- Seq(3L, 4L, 50L, 51L, 120L, 250L, 399L))
    assert(jobs3 === jobs1, "each published generation must not add a schema-inference job")
  }
}
