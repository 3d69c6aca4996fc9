package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.functions.VectorFunctions.perturbQuery
import graft.operators.{Hnsw, Ivf, Knn, Pq}

/** `ann`: vector serving over three layouts built on the same k-means
  * cells (IVF cell partitions, HNSW routed shards, IVF-PQ codes), with
  * writes landing between reads.
  *
  * Each loop cycle starts with three batch searches of perturbed
  * self-queries (the reference protocol), one per family: distance
  * kernels, heaps and beam search do their work, and `work_per_s` is the
  * queries of one rotation of the three batches over the time the
  * rotation takes. One lifecycle round on the IVF layout follows: append
  * a batch, record takedowns, look up 1 to 16 of the fresh rows
  * (read-your-writes), then compact. Those calls are small, so per-call
  * fixed costs dominate them (jobs, manifest resolution, file listing,
  * driver collects, planning). `call_s` is the mean over the seven call
  * kinds of each kind's median latency in the loop. Set-up answers the
  * recall sample with each family and runs one lifecycle round, so no
  * measured call is a cold first call.
  */
object Ann {
  val Rows = 4000
  val Dim = 64
  val Blobs = 16
  val Cells = 16
  val Iters = 2
  val K = 10
  val Nprobe = 4
  val HnswParams: Hnsw.Params = Hnsw.Params()
  val PqM = 4
  val PqSubDim = 16
  val PqCodes = 16
  val PqIters = 1
  val PqTrainRows = 1000
  val Shortlist = 100
  val StageReps = 3
  val RecallQueries = 64
  val BatchesPerFamily = 2
  /** Per-family batch sizes, chosen so each family's call takes a
    * similar time.
    */
  val BatchSize: Map[String, Int] = Map("ivf" -> 256, "hnsw" -> 96, "pq" -> 24)
  /** Recall@10 against exact kNN below these fails the call. */
  val RecallFloor: Map[String, Double] = Map("ivf" -> 0.9, "hnsw" -> 0.7, "pq" -> 0.3)
  val InsertRows = 100
  val TakedownsPerRound = 8
  val MaxLookup = 16

  val Families = Seq("ivf", "hnsw", "pq")
  val SpanOf = Map("ivf" -> "Ivf.topKPartitionedBatchFused",
    "hnsw" -> "Hnsw.searchRoutedWithIndex", "pq" -> "Pq.ivfpqTopKRerankBatch")
  val Module = Map("ivf" -> "Ivf", "hnsw" -> "Hnsw", "pq" -> "Pq")

  /** The served layouts and the state of their write lifecycle. */
  final class Index(val emb: DataFrame, val dirs: Map[String, String]) {
    var nextId: Long = Rows
    val tombstoned = mutable.Set.empty[Long]
  }

  def run(h: Harness, sessionS: Double): Outcome = {
    val (stageSecs, built, buildS) = h.tracer.span("bench.setup") {
      val reps = (0 until StageReps).map { rep =>
        val t0 = System.nanoTime()
        val df = h.vectors(s"vectors-$rep", Gen.vectors(h.seed, "base", Rows, Dim, Blobs))
        (df, (System.nanoTime() - t0) / 1e9)
      }
      // one build: a cold build costs more than the rest of the run
      val t0 = System.nanoTime()
      val b = build(h, reps.last._1)
      (reps.map(_._2), b, (System.nanoTime() - t0) / 1e9)
    }
    val ix = built.getOrElse(return Workload.aborted(h, "ann: index build failed"))

    // perturbed self-queries of sampled rows
    val perCycle = Families.map(BatchSize).sum
    val ids = Gen.sample(h.seed, "query-rows", Rows, RecallQueries + BatchesPerFamily * perCycle)
      .map(_.toLong)
    val qv: Map[Long, Array[Double]] = ix.emb.filter(col("vec_id").isin(ids.toIndexedSeq: _*))
      .select(col("vec_id"), perturbQuery(col("embedding")))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def batch(xs: Seq[Long]) = h.queries(xs.map(i => i -> qv(i)))
    val recallQ = batch(ids.take(RecallQueries).toIndexedSeq)
    var next = RecallQueries
    val batches = Families.map { f =>
      f -> (0 until BatchesPerFamily).map { _ =>
        val xs = ids.slice(next, next + BatchSize(f)).toIndexedSeq
        next += xs.size
        batch(xs)
      }
    }.toMap

    // exact ground truth for the recall sample, outside any timing
    val truth = h.tracer.span("bench.setup") {
      h.call("Knn.topKBatch")(h.rows(Knn.topKBatch(ix.emb, recallQ, K)))(rs =>
        expectAnswers(rs, RecallQueries)).getOrElse(Array.empty[Row])
    }.groupBy(_.getAs[Long]("query_id")).map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSet }

    // warm-up: each family answers the recall sample before any write,
    // then one lifecycle round
    val warm0 = System.nanoTime()
    val recall = h.tracer.span("bench.setup") {
      val r = Families.map { f =>
        var r = 0.0
        h.call(SpanOf(f))(h.rows(search(h, ix, f, recallQ))) { rs =>
          r = Harness.recall(rs, truth)
          expectAnswers(rs, RecallQueries) ++ h.sameAsBefore(s"$f/recall", rs) ++
            (if (r >= RecallFloor(f)) Nil else Seq(f"recall@$K $r%.4f below floor ${RecallFloor(f)}"))
        }
        f -> r
      }.toMap
      round(h, ix, 0).foreach(_())
      r
    }
    val warmS = (System.nanoTime() - warm0) / 1e9

    var rounds = 0
    h.loop { c =>
      val searches = Families.map { f => () =>
        h.call(SpanOf(f))(h.rows(search(h, ix, f, batches(f)(c % BatchesPerFamily))))(rs =>
          expectAnswers(rs, BatchSize(f)) ++ h.sameAsBefore(s"cycle$c/$f", rs))
        ()
      }
      rounds += 1
      searches ++ round(h, ix, rounds)
    }

    // per-family medians, so a run that ends inside a cycle is not skewed
    val callS = Families.map(f => h.medianOf(SpanOf(f)))
    val bytes = Families.map(f => f -> h.bytesUnder(ix.dirs(f)).toDouble).toMap
    Outcome(
      // the session start is left out: it is the JVM's and Spark's, not the engine's
      Map("setup_s" -> (Stats.median(stageSecs) + buildS + warmS),
        "work_per_s" -> Families.map(BatchSize).sum / callS.sum,
        "call_s" -> h.medianCallS(Families.map(SpanOf) ++ RoundCalls),
        "quality" -> Families.map(recall).sum / Families.size),
      Families.flatMap(f => Seq(s"${Module(f)}.recall_at_10" -> recall(f),
        s"${Module(f)}.layout_bytes" -> bytes(f))).toMap,
      Map("session_s" -> sessionS, "stage_s" -> stageSecs, "build_s" -> buildS, "warmup_s" -> warmS,
        "rounds" -> rounds,
        "index_bytes_per_row" -> bytes.values.sum / (ix.nextId - ix.tombstoned.size)) ++
        Families.zip(callS).map { case (f, s) => s"${f}_queries_per_s" -> BatchSize(f) / s })
  }

  private def search(h: Harness, ix: Index, f: String, q: DataFrame): DataFrame = f match {
    case "ivf" => Ivf.topKPartitionedBatchFused(h.spark, ix.dirs(f), q, K, Nprobe)
    case "hnsw" => Hnsw.searchRoutedWithIndex(h.spark, ix.dirs(f), q, K, HnswParams, Nprobe)
    case "pq" => Pq.ivfpqTopKRerankBatch(h.spark, ix.dirs(f), ix.emb, q, K, Nprobe, Shortlist)
  }

  /** Every query gets exactly K neighbours at valid distances. */
  private def expectAnswers(rs: Array[Row], queries: Int): Seq[String] = {
    val byQ = rs.groupBy(_.getAs[Long]("query_id"))
    val bad = byQ.count { case (_, xs) =>
      xs.length != K || xs.exists(r => !(r.getAs[Double]("dist") >= 0.0))
    }
    (if (byQ.size == queries) Nil else Seq(s"${byQ.size} of $queries queries answered")) ++
      (if (bad == 0) Nil else Seq(s"$bad queries without $K valid neighbours"))
  }

  /** The three layouts over shared k-means cells. */
  private def build(h: Harness, emb: DataFrame): Option[Index] = {
    val dirs = Families.map(f => f -> h.dir(f)).toMap
    for {
      cents <- h.call("Ivf.kmeans") {
        val c = Ivf.kmeans(emb, Cells, Iters)
        c -> h.rows(c)
      } { case (_, rs) => Workload.expectCount(rs.length, Cells, "centroids") ++ h.sameAsBefore("kmeans", rs) }
        .map(_._1)
      _ <- h.call("Ivf.ensurePartitionedWith")(
        Ivf.ensurePartitionedWith(emb, cents, dirs("ivf"), "bench"))(_ => Workload.nonEmpty(h, dirs("ivf")))
      _ <- h.call("Hnsw.saveRouted")(
        Hnsw.saveRouted(emb, cents, HnswParams, dirs("hnsw")))(_ => Workload.nonEmpty(h, dirs("hnsw")))
      books <- h.call("Pq.codebooks") {
        val bk = Pq.codebooks(emb.filter(col("vec_id") < PqTrainRows), PqM, PqSubDim, PqCodes, PqIters)
        bk -> h.rows(bk)
      } { case (_, rs) => Workload.expectCount(rs.length, PqM * PqCodes, "codewords") ++ h.sameAsBefore("codebooks", rs) }
        .map(_._1)
      _ <- h.call("Pq.ensureEncodedPartitioned")(
        Pq.ensureEncodedPartitioned(emb, cents, books, PqM, PqSubDim, dirs("pq")))(_ =>
        Workload.nonEmpty(h, dirs("pq")))
    } yield new Index(emb, dirs)
  }

  /** The calls of a lifecycle round. */
  val RoundCalls = Seq("Ivf.insertInto", "Tombstones.record", "Ivf.topKPartitionedBatchWithDeletes",
    "Ivf.compactPartitioned")

  /** The steps of one lifecycle round on the IVF layout, one call each. */
  private def round(h: Harness, ix: Index, r: Int): Seq[() => Unit] = {
    val spark = h.spark
    val ivf = ix.dirs("ivf")

    val first = ix.nextId
    ix.nextId += InsertRows
    val fresh = Gen.vectors(h.seed, s"insert-$r", InsertRows, Dim, Blobs, first)
    // staged before any call, so the append's time is the engine's alone
    val staged = h.vectors(s"insert-$r", fresh)
    // takedowns: half among this batch, half among rows indexed earlier
    val rng = Gen.rng(h.seed, s"round-$r")
    val down = mutable.LinkedHashSet.empty[Long]
    while (down.size < TakedownsPerRound / 2) down += first + rng.nextInt(InsertRows)
    while (down.size < TakedownsPerRound) {
      val id = rng.nextLong(first)
      if (!ix.tombstoned.contains(id)) down += id
    }
    ix.tombstoned ++= down
    val downDf = spark.createDataFrame(down.toSeq.map(Tuple1(_))).toDF("vec_id")
    // read-your-writes: exact self-queries of 1 to 16 surviving fresh rows
    val asked = fresh.filterNot(v => down.contains(v._1)).take(1 + rng.nextInt(MaxLookup)).toSeq
    val q = h.queries(asked.map { case (id, v) => id -> v.map(_.toDouble) })
    val name = "Ivf.topKPartitionedBatchWithDeletes"

    Seq(
      () => h.call("Ivf.insertInto")(Ivf.insertInto(spark, ivf, staged))(),
      () => h.call("Tombstones.record")(Ivf.recordDeletes(spark, ivf, downDf))(),
      () => h.call(name)(h.rows(Ivf.topKPartitionedBatchWithDeletes(spark, ivf, q, K, Nprobe)))(rs =>
        readYourWrites(rs, asked.map(_._1), ix.tombstoned) ++ h.sameAsBefore(s"round$r/$name", rs)),
      // compaction closes every round: at this run length about one
      // round fits, and the compaction must be measured
      () => h.call("Ivf.compactPartitioned")(Ivf.compactPartitioned(spark, ivf))()
    ).map(step => () => { step(); () })
  }

  /** Each asked id is its own query's nearest result (distance 0, rank
    * 1), and no taken-down id is returned.
    */
  private def readYourWrites(rs: Array[Row], asked: Seq[Long], tombstoned: collection.Set[Long]): Seq[String] = {
    val top = rs.groupBy(_.getAs[Long]("query_id")).map { case (q, xs) =>
      val t = xs.minBy(r => (r.getAs[Double]("dist"), r.getAs[Long]("vec_id")))
      q -> (t.getAs[Long]("vec_id"), t.getAs[Double]("dist"))
    }
    val missed = asked.filterNot(id => top.get(id).contains((id, 0.0)))
      .map(id => s"$id (top ${top.get(id).fold("none")(t => s"${t._1} at ${t._2}")})")
    val leaked = rs.map(_.getAs[Long]("vec_id")).filter(tombstoned.contains).distinct
    (if (missed.isEmpty) Nil else Seq(s"own id not at rank 1 for ${missed.take(3).mkString(", ")}")) ++
      (if (leaked.isEmpty) Nil else Seq(s"taken-down ids returned: ${leaked.take(5).mkString(",")}"))
  }
}
