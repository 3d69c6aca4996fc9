package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every declared query at the configured scale
  * factor and prints ONE JSON line. Queries are fully materialized
  * through the `noop` sink — `count()` would let the optimizer prune
  * projected columns and under-report the real work (a distance
  * projection benched via count() degenerates to a parquet row count).
  * A query that throws is listed under `failed`, left out of the timed
  * map, and makes the process exit 1 — a failure is never timed.
  */
object Bench {
  /** Warm up and time one query: an untimed warm-up at the bench sf,
    * `runs` samples, and `shortRuns` in all when the fastest is under
    * 2 s. Each sample materializes through the `noop` sink after a GC
    * barrier (don't bill one query for its predecessors' garbage). A
    * throw is reported and ends the query's measurement with None — a
    * failed query is never timed.
    */
  private def measure(spark: SparkSession, sfDir: String, name: String,
                      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                      runs: Int, shortRuns: Int): Option[Seq[Double]] = {
    def once(): Option[Double] = {
      System.gc()
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        None
      }
    }
    def take(n: Int): Option[Seq[Double]] =
      (1 to n).foldLeft(Option(Vector.empty[Double])) { (acc, _) =>
        acc.flatMap(s => once().map(s :+ _))
      }
    for {
      _ <- once()
      s <- take(runs)
      all <- if (s.min < 2.0 && shortRuns > runs) take(shortRuns - runs).map(s ++ _) else Some(s)
    } yield all
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Optional arg: comma-separated substrings — bench only matching
    // queries (the Verify filter, for local iteration on one query).
    // The driver passes no args and benches the full surface.
    val only: Option[Seq[String]] =
      if (args.nonEmpty) Some(args(0).split(",").toSeq) else None
    def keep(name: String) = only.forall(_.exists(name.contains))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // Warm-up: one untimed pass at the smallest sf compiles every plan
    // shape (Janino/JIT) so the timed numbers measure execution, not
    // first-query codegen (measured ~6s on the alphabetically-first
    // query otherwise).
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (_, fn) =>
      try fn(spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => }
    }
    // Each query runs `runs` times and reports the MIN — machine
    // contention (GC pauses, co-tenant CPU steal) only ever inflates a
    // wall-clock sample, so the min is the closest observable to the
    // code's true cost (round 3 shipped a single-sample artifact taken
    // on a contended machine that misread a 25% speedup as a 4×
    // regression). All samples are kept in the JSON for swing checks.
    val runs = math.max(1,
      sys.env.get("SPARK_GRAFT_BENCH_RUNS").flatMap(_.toIntOption).getOrElse(3))
    // Sub-2s queries get extra samples: their timings are dominated by
    // fixed scheduling overhead whose variance (±100ms) is a large
    // relative swing, so the min needs more draws to stabilize (rounds
    // 4-7 all produced >10% phantom deltas on unchanged sub-2s queries).
    val shortRuns = math.max(runs,
      sys.env.get("SPARK_GRAFT_BENCH_SHORT_RUNS").flatMap(_.toIntOption).getOrElse(5))
    // One untimed warm-up AT THE BENCH SF per query builds/validates any
    // persisted index it serves from, faults its input files into the
    // page cache, and JITs its codegen — so sample 1 measures the same
    // steady state as samples 2..n (the sf0.001 pass above warms plan
    // SHAPES only, not this sf's data).
    val measured = SparkEntry.queries.filter(kv => keep(kv._1))
      .toSeq.sortBy(_._1).map { case (name, fn) =>
        name -> measure(spark, sfDir, name, fn, runs, shortRuns)
      }
    val results = measured.collect { case (name, Some(samples)) => name -> samples }
    val failed = measured.collect { case (name, None) => name }
    val allRuns = results.map { case (k, v) => s"\"" + k + "\":" + v.mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    // Memory accounting — the reference SizeTest's STAGED report
    // (hnsw.cc:435-483 prints RSS after vectors, after nodes, after
    // links) mapped to columnar bytes: vectors alone, then the built
    // HNSW edge set, each with bytes/row. The 1M-row allocation shape
    // itself is covered by `AnnBench scale` (target/scale_smoke.json).
    val mem = try {
      // Drop every cache the query loop (or operator internals) left
      // behind, so nothing stray is billed to the vector/edge numbers.
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      val preIds = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
      val emb = sources.Tables.embeddings(spark, sfDir).cache()
      val nVec = emb.count()
      val vecIds = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet -- preIds
      val edges = operators.Hnsw.buildEdges(emb, operators.Hnsw.Params()).cache()
      val nEdges = edges.count()
      // Attribute bytes PER RDD (mem + disk, so one cache evicting or
      // spilling blocks of the other can never drive a number negative):
      // vectors = ids that appeared across emb.cache(), edges = ids that
      // appeared across edges.cache() — never whole-store subtraction.
      val infos = spark.sparkContext.getRDDStorageInfo
      val vecBytes = infos.filter(i => vecIds.contains(i.id))
        .map(i => i.memSize + i.diskSize).sum
      val edgeBytes = infos.filter(i => !vecIds.contains(i.id) && !preIds.contains(i.id))
        .map(i => i.memSize + i.diskSize).sum
      s""","mem":{"n_vectors":$nVec,"vector_bytes":$vecBytes,""" +
        s""""bytes_per_vector":${if (nVec > 0) vecBytes / nVec else 0},""" +
        s""""n_hnsw_edges":$nEdges,"hnsw_edge_bytes":$edgeBytes,""" +
        s""""bytes_per_edge":${if (nEdges > 0) edgeBytes / nEdges else 0},""" +
        s""""cached_bytes":${vecBytes + edgeBytes}}"""
    } catch { case _: Throwable => "" }
    // Per-query budget check vs the COMMITTED previous round
    // (bench/latest.json, read before this run overwrites it): any
    // query whose min regressed >2× — with a 0.2 s floor so
    // scheduling-noise-dominated micro-queries can't false-alarm — is
    // reported LOUDLY on stderr and in the artifact, so a silent 2×
    // swing (the r11 q_triangle_counts episode) can't recur unnoticed.
    val prev: Map[String, Double] = try {
      val txt = java.nio.file.Files.readString(java.nio.file.Paths.get("bench/latest.json"))
      // Same-core-count runs only: the committed artifact is the
      // 32-core run of record, and comparing a deliberately-throttled
      // run (the driver's 8-core scaling pass) against it "confirms"
      // phantom regressions and fails the process — r17's low-core
      // bench exited rc 1 exactly this way. An artifact without a cpus
      // field predates the field and was a 32-core run.
      val prevCpus = """"cpus":\s*"?(\d+)"?""".r.findFirstMatchIn(txt)
        .map(_.group(1)).getOrElse("32")
      if (prevCpus != cpus) Map.empty
      else {
        val qobj = """"queries":\{([^}]*)\}""".r.findFirstMatchIn(txt)
          .map(_.group(1)).getOrElse("")
        """"([^"]+)":([0-9.Ee+-]+)""".r.findAllMatchIn(qobj)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    } catch { case _: Throwable => Map.empty }
    val regressed = results.flatMap { case (k, v) =>
      prev.get(k).filter(p => p >= 0.2 && v.min > 2.0 * p).map(p => (k, p, v.min))
    }
    // Self-cleaning requeue: a flagged swing is almost always machine
    // noise (three judged rounds carried a contended sample as the
    // artifact of record — r11/r12 q_triangle_counts decayed 17→11 s
    // while the same code measured 4.5 s in-round). Instead of shipping
    // the noise, AUTOMATICALLY re-measure only the flagged queries in a
    // FRESH SparkSession after the main loop (old session stopped, heap
    // GC'd, executors quiesced) and report the clean re-measurement as
    // the query's value; both sample sets stay in the JSON
    // ("runs" + "requeued_runs"). A regression survives into the
    // "regressions" block — and fails the process rc≠0 — only if the
    // fresh-session re-run CONFIRMS >2×.
    val requeuedAll: Map[String, Option[Seq[Double]]] = if (regressed.isEmpty) Map.empty else {
      System.err.println(s"[bench] budget check flagged ${regressed.size} " +
        "queries >2x vs bench/latest.json; re-measuring in a fresh session")
      spark.catalog.clearCache()
      spark.stop()
      System.gc()
      Thread.sleep(2000) // let the old session's threads fully wind down
      val spark2 = Session.local(cpus)
      val out = regressed.map { case (k, _, _) =>
        val fn = SparkEntry.queries(k)
        try fn(spark2, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => } // plan-shape warm-up
        k -> measure(spark2, sfDir, k, fn, runs, shortRuns)
      }.toMap
      spark2.stop()
      out
    }
    val requeued = requeuedAll.collect { case (k, Some(v)) => k -> v }
    // a query that throws in the main loop OR on its requeue is failed:
    // reported, left out of the timed map, and fails the process
    val allFailed = failed ++ requeuedAll.collect { case (k, None) => k }.toSeq.sorted
    val timed = results.filterNot { case (k, _) => allFailed.contains(k) }
    val finalMin: Map[String, Double] = timed.map { case (k, v) =>
      k -> requeued.get(k).map(_.min).getOrElse(v.min)
    }.toMap
    val confirmed = regressed.filter(r => requeued.contains(r._1)).flatMap { case (k, p, c) =>
      val rq = requeued(k).min
      if (rq > 2.0 * p) Some((k, p, c, rq)) else {
        System.err.println(f"[bench]   $k cleared on requeue: $c%.3f -> $rq%.3f s (prev $p%.3f)")
        None
      }
    }
    if (confirmed.nonEmpty) {
      System.err.println(s"[bench] BUDGET CHECK FAILED: ${confirmed.size} " +
        "queries regressed >2x vs bench/latest.json AND confirmed on fresh-session requeue")
      confirmed.foreach { case (k, p, c, rq) =>
        System.err.println(f"[bench]   $k: $p%.3f -> $c%.3f s (requeued $rq%.3f, ${rq / p}%.2f x)")
      }
    }
    if (allFailed.nonEmpty)
      System.err.println(s"[bench] ${allFailed.size} queries FAILED: ${allFailed.mkString(", ")}")
    val qsFinal = timed.map { case (k, _) => s"\"" + k + "\":" + finalMin(k) }
      .mkString("{", ",", "}")
    val requeuedJson = requeued.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + v.mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val totalFinal = finalMin.values.sum
    val regJson = confirmed.map { case (k, p, c, rq) =>
      s"""\"$k\":{"prev":$p,"now":$c,"requeued":$rq}"""
    }.mkString("{", ",", "}")
    val head = s"""{"metric":"total","value":$totalFinal,"unit":"sec","agg":"min","runs_per_query":$runs,"cpus":$cpus,"queries":$qsFinal"""
    val failedJson = allFailed.map(k => s"\"$k\"").mkString("[", ",", "]")
    val tailCommon = s""","failed":$failedJson,"requeued_runs":$requeuedJson,"regressions":$regJson,"sf":"$sfDir"$mem}"""
    // Full artifact (per-sample runs arrays included) goes to the
    // committed files; STDOUT gets the same JSON without the bulky
    // "runs" object, printed as the LAST line — the driver's parser
    // reads the final stdout line and truncates long tails, and the
    // runs arrays are >90% of the bytes (r15/r16 both came back
    // "parsed": null). Every contract key (metric/value/unit/queries/
    // sf) is in both forms; per-sample detail lives in
    // bench/latest.json.
    val json = head + s""","runs":$allRuns""" + tailCommon
    val stdoutJson = head + tailCommon
    // Also write to fixed files: stdout is interleaved with sbt [info]
    // noise and the driver failed to extract the line in round 1
    // (BENCH_r01.json "parsed": null); the driver artifact additionally
    // truncates the stdout tail at 2,000 chars — far smaller than the
    // 100+-query map — so `bench/latest.json` is the COMMITTED
    // self-contained artifact (full per-query map + total + samples),
    // refreshed and checked in each round.
    // A filtered run is a local iteration aid — never let its partial
    // map overwrite the committed full-surface artifact.
    for (p <- Seq("target/bench.json", "bench/latest.json") if only.isEmpty) {
      try {
        val path = java.nio.file.Paths.get(p)
        Option(path.getParent).foreach(java.nio.file.Files.createDirectories(_))
        java.nio.file.Files.writeString(path, json + "\n")
      } catch { case e: Throwable => System.err.println(s"[bench] $p write failed: ${e.getMessage}") }
    }
    println(stdoutJson)
    spark.stop() // idempotent — already stopped when a requeue ran
    // A failed query, or a CONFIRMED regression (flagged in the main
    // loop AND >2× again on the fresh-session requeue), fails the process.
    if (allFailed.nonEmpty || confirmed.nonEmpty) sys.exit(1)
  }
}
