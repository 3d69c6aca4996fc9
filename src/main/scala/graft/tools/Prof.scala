package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators._
import graft.sources.Tables

/** Ad-hoc stage profiler for optimization rounds: times labeled
  * sub-plans of the hot declared queries through the noop sink (the
  * Bench methodology at single-query granularity). Local iteration
  * aid only — the driver never runs this.
  *
  * Usage: runMain graft.tools.Prof <sfDir> <profile> [cpus]
  */
object Prof {
  private def time(label: String)(df: => DataFrame): Unit = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    val t1 = System.nanoTime()
    println(f"[prof] $label%-40s ${(t1 - t0) / 1e9}%8.3f s")
  }
  private def timeAct(label: String)(act: => Unit): Unit = {
    val t0 = System.nanoTime()
    act
    val t1 = System.nanoTime()
    println(f"[prof] $label%-40s ${(t1 - t0) / 1e9}%8.3f s")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val profile = args(1)
    val cpus = if (args.length > 2) args(2) else sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Session.local(cpus)
    spark.sparkContext.setLogLevel("WARN")

    profile match {
      case "semdedup_inc" =>
        // mirror q_image_semdedup_incremental's stages
        val q = SparkEntry.queries("q_image_semdedup_incremental")
        timeAct("full query (warm 1)") { q(spark, sfDir).write.format("noop").mode("overwrite").save() }
        timeAct("full query (warm 2)") { q(spark, sfDir).write.format("noop").mode("overwrite").save() }
        val assets = Multimodal.semAssetsFromDocuments(Tables.documents(spark, sfDir))
        time("assets (fixture encode, unsubstrated)") { assets }
        val feats = Multimodal.extractFeatures(assets, dim = 9)
          .select(col("asset_id").as("vec_id"), col("features").as("embedding"))
        time("extractFeatures (incl. encode)") { feats }
        val table = "graft_semstore_" + sfDir.replaceAll("[^A-Za-z0-9]", "_")
        val batch = feats.filter(col("vec_id") % 4 >= 1)
        timeAct("incrementalEmbeddingDedup") {
          Dedup.incrementalEmbeddingDedup(spark, table, batch, 0.99, probes = 2,
            absorb = false).write.format("noop").mode("overwrite").save()
        }
        // step-by-step replica of incrementalEmbeddingDedup's body
        timeAct("  refreshTable") { spark.catalog.refreshTable(table) }
        var b: DataFrame = null
        timeAct("  checkpointed(batch)") { b = Dedup.checkpointed(batch.select("vec_id", "embedding")) }
        var matched: DataFrame = null
        timeAct("  store candidates + filter + distinct") {
          matched = Dedup.embeddingStoreCandidates(spark, table, b, 2)
            .filter(col("cos_sim") >= 0.99)
            .select("vec_id").distinct()
          matched.write.format("noop").mode("overwrite").save()
        }
        var novel: DataFrame = null
        timeAct("  novel anti-join + localCheckpoint") {
          novel = b.join(matched, Seq("vec_id"), "left_anti").localCheckpoint(true)
        }
        timeAct("  novel.isEmpty") { val _ = novel.isEmpty }
        var blocked: DataFrame = null
        timeAct("  embeddingNearDupsBlocked(novel)") {
          blocked = Dedup.embeddingNearDupsBlocked(novel, 0.99, c = 8, probes = 2)
            .select("id1", "id2")
          blocked.write.format("noop").mode("overwrite").save()
        }
        timeAct("  nonMinMembers(blocked)") {
          Dedup.nonMinMembers(blocked).write.format("noop").mode("overwrite").save()
        }
      case "pdf" =>
        val q = SparkEntry.queries("q_pdf_extract")
        timeAct("full query (warm 1)") { q(spark, sfDir).write.format("noop").mode("overwrite").save() }
        timeAct("full query (warm 2)") { q(spark, sfDir).write.format("noop").mode("overwrite").save() }
        val glob = "target/graft_index/corpus_pdf_" + sfDir.replace("/", "_") + "/*.pdf"
        timeAct("ensurePdfFiles (fingerprint hit)") {
          graft.sources.PdfCodec.ensurePdfFiles(Tables.documents(spark, sfDir),
            "target/graft_index/corpus_pdf_" + sfDir.replace("/", "_"))
        }
        time("binaryFile scan only") {
          spark.read.format("binaryFile").load(glob).select(col("path"), col("content"))
        }
        time("scan + extractFiles") {
          graft.sources.PdfCodec.extractFiles(
            spark.read.format("binaryFile").load(glob).select(col("path"), col("content")))
        }
        time("parallelize+nio read") {
          import spark.implicits._
          val d = new java.io.File("target/graft_index/corpus_pdf_" + sfDir.replace("/", "_"))
          val paths = d.listFiles().filter(_.getName.endsWith(".pdf"))
            .map(_.getAbsolutePath).toSeq
          spark.createDataset(paths).repartition(32).mapPartitions { it =>
            it.map { p =>
              (("file:" + p), java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))
            }
          }.toDF("path", "content")
        }
        time("nio read + extractFiles") {
          import spark.implicits._
          val d = new java.io.File("target/graft_index/corpus_pdf_" + sfDir.replace("/", "_"))
          val paths = d.listFiles().filter(_.getName.endsWith(".pdf"))
            .map(_.getAbsolutePath).toSeq
          graft.sources.PdfCodec.extractFiles(
            spark.createDataset(paths).repartition(32).mapPartitions { it =>
              it.map { p =>
                (("file:" + p), java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))
              }
            }.toDF("path", "content"))
        }
        time("scan + extractFiles + doc_id") {
          graft.sources.PdfCodec.extractFiles(
            spark.read.format("binaryFile").load(glob).select(col("path"), col("content")))
            .select(regexp_extract(col("path"), "doc-(\\d+)\\.pdf", 1)
              .cast("long").as("doc_id"), col("text"))
        }
      case "multiprobe" =>
        val q = SparkEntry.queries("q_image_semdedup_multiprobe")
        timeAct("full query (warm 1)") { q(spark, sfDir).write.format("noop").mode("overwrite").save() }
        timeAct("full query (warm 2)") { q(spark, sfDir).write.format("noop").mode("overwrite").save() }
        val assets = Multimodal.semAssetsFromDocuments(Tables.documents(spark, sfDir))
        val feats = Dedup.checkpointed(Multimodal.extractFeatures(assets, dim = 9)
          .select(col("asset_id").as("vec_id"), col("features").as("embedding")))
        time("extractFeatures+checkpoint") { feats }
        time("blocked pairs") {
          Dedup.embeddingNearDupsBlocked(feats, 0.99, c = 8, probes = 2)
        }
        // decomposition of the blocked pair stage
        import org.apache.spark.sql.expressions.Window
        import graft.functions.VectorFunctions.{l2Norm, l2Distance, dotProduct}
        val normed = feats.select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double") / l2Norm(col("embedding")))
            .as("embedding"))
        val byVec = Window.partitionBy("vec_id").orderBy(col("cdist"), col("centroid_id"))
        val cells = normed
          .crossJoin(broadcast(Ivf.centroids(normed, 8)))
          .select(col("vec_id"), col("centroid_id"),
            l2Distance(col("embedding"), col("centroid_vec")).as("cdist"))
          .withColumn("rn", row_number().over(byVec))
          .filter(col("rn") <= 2)
          .select(col("centroid_id").as("cell"), col("vec_id"))
        val posted = feats
          .select(col("vec_id"), col("embedding"), l2Norm(col("embedding")).as("nrm"))
          .join(cells, Seq("vec_id"))
        time("  cells assign") { cells }
        time("  posted") { posted }
        val l = posted.select(col("cell"), col("vec_id").as("id1"),
          col("embedding").as("e1"), col("nrm").as("n1"))
        val r = posted.select(col("cell"), col("vec_id").as("id2"),
          col("embedding").as("e2"), col("nrm").as("n2"))
        val surv = l.join(r, Seq("cell"))
          .filter(col("id1") < col("id2"))
          .withColumn("cos_sim",
            round(dotProduct(col("e1"), col("e2")) / (col("n1") * col("n2")), 6))
          .filter(col("cos_sim") >= 0.99)
          .select("id1", "id2", "cos_sim")
        time("  sweep unsalted (no dedup)") { surv }
        time("  sweep unsalted + dropDup") { surv.dropDuplicates("id1", "id2") }
        val ls = l.withColumn("salt", pmod(hash(col("id1")), lit(8)))
        val rs = r.withColumn("salt", explode(sequence(lit(0), lit(7))))
        val survS = ls.join(rs, Seq("cell", "salt")).drop("salt")
          .filter(col("id1") < col("id2"))
          .withColumn("cos_sim",
            round(dotProduct(col("e1"), col("e2")) / (col("n1") * col("n2")), 6))
          .filter(col("cos_sim") >= 0.99)
          .select("id1", "id2", "cos_sim")
        time("  sweep salted (no dedup)") { survS }
        time("  sweep salted + dropDup") { survS.dropDuplicates("id1", "id2") }
        val pairsCk = Dedup.embeddingNearDupsBlocked(feats, 0.99, c = 8, probes = 2)
          .select(col("id1"), col("id2")).localCheckpoint(true)
        timeAct("nearDupClusters (pairs cached)") {
          Dedup.nearDupClusters(feats.select(col("vec_id").as("doc_id")), pairsCk)
            .write.format("noop").mode("overwrite").save()
        }
        println(s"[prof] pair count: ${pairsCk.count()}")
      case "ccstep" =>
        // step-wise replica of Graph.connectedComponents over the
        // cc_edges substrate — per-round timing of prop ckpt + sum
        import org.apache.spark.sql.functions.{broadcast => bc}
        val edges =
          if (sys.env.contains("PROF_CC_DERIVED"))
            Graph.partCoOccurrence(Tables.lineitem(spark, sfDir), 2)
          else spark.read.parquet(
            "target/graft_index/cc_edges_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_"))
        println(s"[prof] edges rows: ${edges.count()}")
        var labels = edges.select(col("src").as("node"))
          .union(edges.select(col("dst").as("node"))).distinct()
          .select(col("node"), col("node").as("component"))
          .localCheckpoint(false)
        timeAct("labels count") { println(s"[prof] nodes: ${labels.count()}") }
        val sym = edges.filter(col("src") =!= col("dst"))
          .select(col("src").as("u"), col("dst").as("v"))
          .union(edges.filter(col("src") =!= col("dst"))
            .select(col("dst").as("u"), col("src").as("v")))
          .union(labels.select(col("node").as("u"), col("node").as("v")))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        timeAct("sym count (materialize persist)") { println(s"[prof] sym: ${sym.count()}") }
        var prevSum: Option[java.math.BigDecimal] = None
        var converged = false
        var i = 0
        while (!converged && i < 20) {
          var prop: org.apache.spark.sql.DataFrame = null
          timeAct(s"round $i prop ckpt") {
            val p = sym
              .join(bc(labels.select(col("node").as("v"), col("component").as("nl"))), Seq("v"))
              .groupBy(col("u").as("node"))
              .agg(min("nl").as("component"))
            if (i == 0) {
              val ep = p.queryExecution.executedPlan.toString
              println(s"[prof] prop plan uses cache: ${ep.contains("InMemoryTableScan")}; " +
                s"scan nodes: ${ep.linesIterator.count(l => l.contains("Scan") || l.contains("InMemory"))}")
              if (sys.env.contains("PROF_PLAN")) println(ep.take(4000))
            }
            prop = p.localCheckpoint()
          }
          var next: org.apache.spark.sql.DataFrame = null
          var newSum: java.math.BigDecimal = null
          timeAct(s"round $i jump+sum") {
            next = prop
              .join(bc(prop.select(col("node").as("component"), col("component").as("jump"))),
                Seq("component"))
              .select(col("node"), col("jump").as("component"))
              .localCheckpoint(false)
            newSum = next.agg(sum(col("component").cast("decimal(38,0)"))).head.getDecimal(0)
          }
          converged = prevSum.exists(p => p.compareTo(newSum) == 0)
          labels = next
          prevSum = Some(newSum)
          i += 1
        }
        println(s"[prof] rounds: $i")
      case "cc" =>
        val edges = SparkEntry.queries("q_connected_components")
        timeAct("q_connected_components (warm 1)") { edges(spark, sfDir).write.format("noop").mode("overwrite").save() }
        timeAct("q_connected_components (warm 2)") { edges(spark, sfDir).write.format("noop").mode("overwrite").save() }
      case "pipeline" =>
        import graft.functions.TextFunctions
        val docs = Tables.documents(spark, sfDir)
        time("raw scan") { docs }
        val kept1 = CorpusPipeline.filtered(docs, "en", 0.4)
        time("lang+quality filter") { kept1 }
        var kept2: DataFrame = null
        timeAct("exact survivors + reliable ckpt") {
          kept2 = Dedup.checkpointed(
            kept1.withColumn("__rn",
              org.apache.spark.sql.functions.row_number().over(
                org.apache.spark.sql.expressions.Window
                  .partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
              .filter(col("__rn") === 1).drop("__rn"))
        }
        var pairs: DataFrame = null
        timeAct("jaccard pairs") {
          pairs = Dedup.jaccardPairsExact(kept2, 0.5, 10000)
          pairs.write.format("noop").mode("overwrite").save()
        }
        timeAct("nearDupClusters + reps + final join + agg") {
          val reps = Dedup.nearDupClusters(kept2, pairs)
            .filter(col("doc_id") === col("cluster_id")).select("doc_id")
          kept2.join(reps, Seq("doc_id"))
            .groupBy("source")
            .agg(count(lit(1)).as("n_docs"),
              sum(size(TextFunctions.tokens(col("text"))).cast("long")).as("n_tokens"))
            .write.format("noop").mode("overwrite").save()
        }
        time("full curate") { CorpusPipeline.curate(docs, "en", 0.4, 0.5) }
        time("full curate again") { CorpusPipeline.curate(docs, "en", 0.4, 0.5) }
      case "tri" =>
        val edges = Graph.partCoOccurrence(Tables.lineitem(spark, sfDir))
        val und = edges.filter(col("src") =!= col("dst"))
          .select(least(col("src"), col("dst")).as("a"),
            greatest(col("src"), col("dst")).as("b"))
          .distinct()
          .localCheckpoint()
        timeAct("und localCheckpoint") { val _ = und.count() }
        println(s"[prof] und edges: ${und.count()}")
        val deg = und.select(col("a").as("node"))
          .union(und.select(col("b").as("node")))
          .groupBy("node").agg(count(lit(1)).as("deg"))
        time("deg") { deg }
        val withDeg = und
          .join(deg.select(col("node").as("a"), col("deg").as("da")).hint("shuffle_hash"), Seq("a"))
          .join(deg.select(col("node").as("b"), col("deg").as("db")).hint("shuffle_hash"), Seq("b"))
        val apexIsA = col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b"))
        val oriented = withDeg.select(
          when(apexIsA, col("a")).otherwise(col("b")).as("u"),
          when(apexIsA, col("b")).otherwise(col("a")).as("v")).localCheckpoint()
        timeAct("oriented localCheckpoint") { val _ = oriented.count() }
        val adj = oriented.groupBy("u")
          .agg(sort_array(collect_list(col("v"))).as("nbrs"))
        time("adj build") { adj }
        val tri = oriented
          .join(adj.select(col("u"), col("nbrs").as("nu")).hint("shuffle_hash"), Seq("u"))
          .join(adj.select(col("u").as("v"), col("nbrs").as("nv")).hint("shuffle_hash"), Seq("v"))
          .select(col("u"), col("v"),
            explode(array_intersect(col("nu"), col("nv"))).as("w"))
        time("closing join + intersect") { tri }
        time("full triangleCounts") { Graph.triangleCounts(Graph.partCoOccurrence(Tables.lineitem(spark, sfDir))) }
        time("full triangleCounts again") { Graph.triangleCounts(Graph.partCoOccurrence(Tables.lineitem(spark, sfDir))) }
      case "ckpt" =>
        // does Dataset.checkpoint(eager=true) double-compute its plan?
        import org.apache.spark.storage.StorageLevel
        def expensive = Tables.lineitem(spark, sfDir)
          .groupBy("l_orderkey").agg(count(lit(1)).as("n"), sum("l_extendedprice").as("s"))
          .withColumn("z", sha2(concat_ws(":", col("l_orderkey"), col("n"), col("s")), 256))
        timeAct("plain noop (1x plan)") { expensive.write.format("noop").mode("overwrite").save() }
        timeAct("plain noop (again)") { expensive.write.format("noop").mode("overwrite").save() }
        timeAct("reliable checkpoint(eager)") { Dedup.checkpointed(expensive) }
        timeAct("persist + checkpoint + unpersist") {
          val c = expensive.persist(StorageLevel.MEMORY_AND_DISK)
          val out = c.checkpoint(eager = true)
          c.unpersist(false)
          out
        }
        timeAct("localCheckpoint(true)") { expensive.localCheckpoint(true) }
      case "blockedab" =>
        import org.apache.spark.sql.expressions.Window
        import graft.functions.VectorFunctions.{l2Norm, l2Distance, dotProduct}
        val emb = Tables.embeddings(spark, sfDir)
        val (c, probes, threshold) = (8, 4, 0.4)
        def normed = emb.select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double") / l2Norm(col("embedding")))
            .as("embedding"))
        val byVec = Window.partitionBy("vec_id").orderBy(col("cdist"), col("centroid_id"))
        def cells = normed
          .crossJoin(broadcast(Ivf.centroids(normed, c)))
          .select(col("vec_id"), col("centroid_id"),
            l2Distance(col("embedding"), col("centroid_vec")).as("cdist"))
          .withColumn("rn", row_number().over(byVec))
          .filter(col("rn") <= probes)
          .select(col("centroid_id").as("cell"), col("vec_id"))
        // OLD form: join on cell, dropDuplicates tail
        def postedOld = emb
          .select(col("vec_id"), col("embedding"), l2Norm(col("embedding")).as("nrm"))
          .join(cells, Seq("vec_id"))
        def oldPairs = {
          val l = postedOld.select(col("cell"), col("vec_id").as("id1"),
            col("embedding").as("e1"), col("nrm").as("n1"))
          val r = postedOld.select(col("cell"), col("vec_id").as("id2"),
            col("embedding").as("e2"), col("nrm").as("n2"))
          l.join(r, Seq("cell"))
            .filter(col("id1") < col("id2"))
            .withColumn("cos_sim",
              round(dotProduct(col("e1"), col("e2")) / (col("n1") * col("n2")), 6))
            .filter(col("cos_sim") >= threshold)
            .select("id1", "id2", "cos_sim")
            .dropDuplicates("id1", "id2")
        }
        time("old form (run 1)") { oldPairs }
        time("old form (run 2)") { oldPairs }
        time("new form (run 1)") { Dedup.embeddingNearDupsBlocked(emb, threshold, c, probes) }
        time("new form (run 2)") { Dedup.embeddingNearDupsBlocked(emb, threshold, c, probes) }
        println(s"[prof] old count: ${oldPairs.count()}  new count: " +
          s"${Dedup.embeddingNearDupsBlocked(emb, threshold, c, probes).count()}")
      case "pdflocal" =>
        // driver-local single-thread cost of extractText over the fixture
        val d = new java.io.File("target/graft_index/corpus_pdf_" +
          sfDir.replace("/", "_"))
        val pdfs = d.listFiles().filter(_.getName.endsWith(".pdf")).sortBy(_.getName)
        println(s"[prof] files: ${pdfs.length}")
        val bytes = pdfs.map(f => java.nio.file.Files.readAllBytes(f.toPath))
        val t0 = System.nanoTime()
        var chars = 0L
        bytes.foreach { b => graft.sources.PdfCodec.extractText(b).foreach(t => chars += t.length) }
        val t1 = System.nanoTime()
        println(f"[prof] extractText x${bytes.length}: ${(t1 - t0) / 1e9}%.3f s total, " +
          f"${(t1 - t0) / 1e6 / bytes.length}%.3f ms/doc, $chars chars")
        val t2 = System.nanoTime()
        bytes.foreach { b => graft.sources.PdfCodec.extractText(b) }
        val t3 = System.nanoTime()
        println(f"[prof] extractText warm x${bytes.length}: ${(t3 - t2) / 1e9}%.3f s total, " +
          f"${(t3 - t2) / 1e6 / bytes.length}%.3f ms/doc")
      case j if j.startsWith("jobs:") =>
        // Noise-robust A/B instrumentation: per query, count scheduled
        // jobs / stages / tasks and sum task run time. Counts are
        // deterministic per code version; task-time is far less
        // sensitive to ambient CPU steal than wall clock — together
        // they measure exactly what the loop optimizations target
        // (scheduling overhead and duplicate computation).
        val jobs = new java.util.concurrent.atomic.AtomicLong()
        val stages = new java.util.concurrent.atomic.AtomicLong()
        val tasks = new java.util.concurrent.atomic.AtomicLong()
        val taskMs = new java.util.concurrent.atomic.AtomicLong()
        val stageLog = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Int, Long)]()
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            jobs.incrementAndGet()
          override def onStageCompleted(e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            stages.incrementAndGet()
            val si = e.stageInfo
            stageLog.add((si.stageId, si.name.take(70), si.numTasks,
              si.taskMetrics.executorRunTime))
          }
          override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
            tasks.incrementAndGet()
            if (e.taskMetrics != null)
              taskMs.addAndGet(e.taskMetrics.executorRunTime + e.taskMetrics.executorDeserializeTime)
          }
        }
        spark.sparkContext.addSparkListener(listener)
        j.stripPrefix("jobs:").split(",").foreach { name =>
          val q = SparkEntry.queries(name)
          // warm-up run (plan codegen, fixture build)
          try q(spark, sfDir).write.format("noop").mode("overwrite").save()
          catch { case e: Throwable => println(s"[prof] $name warmup failed: ${e.getMessage}") }
          (1 to 2).foreach { r =>
            Thread.sleep(300) // drain listener events from the previous run
            stageLog.clear()
            val (j0, s0, t0, m0) = (jobs.get, stages.get, tasks.get, taskMs.get)
            val w0 = System.nanoTime()
            q(spark, sfDir).write.format("noop").mode("overwrite").save()
            val wall = (System.nanoTime() - w0) / 1e9
            Thread.sleep(300)
            println(f"[prof] $name%-36s run$r jobs=${jobs.get - j0}%3d stages=${stages.get - s0}%3d " +
              f"tasks=${tasks.get - t0}%5d taskSec=${(taskMs.get - m0) / 1e3}%8.2f wall=$wall%7.2f")
            if (r == 2 && sys.env.contains("PROF_STAGES")) {
              import scala.jdk.CollectionConverters._
              stageLog.asScala.toSeq.sortBy(-_._4).take(15).foreach { case (id, nm, nt, ms) =>
                println(f"[prof]    stage $id%4d tasks=$nt%4d taskSec=${ms / 1e3}%8.2f  $nm")
              }
            }
          }
        }
      case other =>
        // generic: treat as comma-separated query names, 2 runs each
        other.split(",").foreach { name =>
          val q = SparkEntry.queries(name)
          timeAct(s"$name (run 1)") { q(spark, sfDir).write.format("noop").mode("overwrite").save() }
          timeAct(s"$name (run 2)") { q(spark, sfDir).write.format("noop").mode("overwrite").save() }
          timeAct(s"$name (run 3)") { q(spark, sfDir).write.format("noop").mode("overwrite").save() }
        }
    }
    spark.stop()
  }
}
