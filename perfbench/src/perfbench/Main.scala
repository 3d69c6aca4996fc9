package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Runs one workload and writes its run record (JSON) to `--out`:
  *
  * {{{
  * Main --workload ann --seed 1 --seconds 12 --trace 0 --work DIR --out FILE [--spans FILE]
  * Main --selftest 1
  * }}}
  *
  * All engine state (inputs, layouts, Spark scratch) lives under `--work`.
  * With `--trace 1` the record holds the per-layer metrics and the
  * spans go to `--spans`; otherwise it holds the end-to-end metrics.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    if (a.contains("selftest")) sys.exit(if (SelfTest.run()) 0 else 1)
    val run = Workload.byName.getOrElse(a("workload"),
      throw new IllegalArgumentException(s"unknown workload ${a("workload")}; one of ${Workload.byName.keys.mkString(", ")}"))
    val trace = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath

    val t0 = System.nanoTime()
    val spark = session(work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark, trace)
    val h = new Harness(spark, tracer, a("seed").toLong, a("seconds").toDouble, work)
    val outcome =
      try run(h, sessionS)
      catch {
        case NonFatal(e) =>
          h.attempted += 1
          h.failed += 1
          Workload.aborted(h, s"workload threw $e")
      }
    val metrics =
      if (trace) {
        val own = Workload.OwnLayerMetrics.map(n => n -> outcome.perLayer.getOrElse(n, 0.0)).toMap
        tracer.summary(Workload.SpanNames, Workload.Modules) ++ own
      } else outcome.endToEnd
    val correct = h.failed == 0 && outcome.endToEnd.nonEmpty && outcome.endToEnd.values.forall(finite)
    a.get("spans").filter(_ => trace).foreach(p => write(Paths.get(p), tracer.spansJson.mkString("", "\n", "\n")))
    write(Paths.get(a("out")), Json.write(ListMap(
      "workload" -> a("workload"), "seed" -> h.seed, "seconds" -> h.seconds, "trace" -> trace,
      "cores" -> h.cores, "correct" -> correct, "attempted" -> h.attempted, "failed" -> h.failed,
      "failures" -> h.failures.toSeq, "metrics" -> metrics.filter(m => finite(m._2)),
      "end_to_end" -> outcome.endToEnd.filter(m => finite(m._2)),
      "info" -> outcome.info,
      "call_seconds" -> h.measured.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq },
      "hashes" -> h.hashes.toMap)) + "\n")
    spark.stop()
  }

  /** A metric without a value (no samples) is left out of the record, so
    * the run reports it missing.
    */
  private def finite(v: Double): Boolean = !v.isNaN && !v.isInfinite

  /** A local session on every core, with the engine's SQL extensions
    * (its index rewrite rule among them) and all scratch under `work`.
    */
  private def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors().toString
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      // batch serving keeps one bounded heap per query; without this the
      // object hash aggregate falls back to sorting past 128 query ids
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def write(p: Path, text: String): Unit = {
    Files.createDirectories(p.toAbsolutePath.getParent)
    Files.write(p, text.getBytes(UTF_8))
  }
}

/** The generators' own test: one seed always yields the same content,
  * another seed different content.
  */
object SelfTest {
  private def hash(xs: Seq[Any]): String =
    ContentHash.hex(xs.map(x => ContentHash.row(org.apache.spark.sql.Row(x.toString))).sum)

  private def content(seed: Long): Map[String, String] = {
    val sh = Gen.shard(seed, 0, 500, 16)
    Map(
      "vectors" -> hash(Gen.vectors(seed, "base", 500, 16, 4).toSeq.map { case (i, v) => (i, v.toSeq) }),
      "sample" -> hash(Gen.sample(seed, "query-rows", 1000, 50).toSeq),
      "docs" -> hash(sh.docs.toSeq),
      "embeddings" -> hash(sh.embeddings.toSeq.map { case (i, v) => (i, v.toSeq) }),
      "edges" -> hash(sh.edges.toSeq),
      "groups" -> hash(sh.groups))
  }

  def run(): Boolean = {
    val (a, b, c) = (content(7L), content(7L), content(8L))
    val ok = a.keys.toSeq.sorted.map { k =>
      val pass = a(k) == b(k) && a(k) != c(k)
      println(s"${if (pass) "ok  " else "FAIL"} $k: seed 7 -> ${a(k)} and ${b(k)}, seed 8 -> ${c(k)}")
      pass
    }
    ok.forall(identity)
  }
}
