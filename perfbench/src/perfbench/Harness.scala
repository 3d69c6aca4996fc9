package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** What one workload run measured. `endToEnd` holds every end-to-end
  * metric; `perLayer` the workload's own per-layer values (recalls,
  * layout bytes) that the tracer cannot see; `info` further figures for
  * the run record.
  */
final case class Outcome(endToEnd: Map[String, Double], perLayer: Map[String, Double],
                         info: Map[String, Any])

/** Shared machinery of the workloads: checked, timed operator calls,
  * input staging and the measurement clock.
  *
  * Every call goes through [[call]]: it counts as attempted; a throw or
  * a failed output check counts it as failed, and a failed call is
  * never timed as a success. Checks run after the clock stops.
  */
final class Harness(val spark: SparkSession, val tracer: Tracer, val seed: Long,
                    val seconds: Double, work: Path) {
  val cores: Int = spark.sparkContext.defaultParallelism
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** Content hashes of deterministic calls on fixed inputs, by call key:
    * equal across all runs of one seed, and across repeats in a run.
    */
  val hashes = mutable.LinkedHashMap.empty[String, String]
  /** (call name, seconds) of every successful call of the measured loop. */
  val measured = mutable.ArrayBuffer.empty[(String, Double)]
  private var measuring = false

  /** Run `body` under the span `name`, time it, then apply `check`
    * (empty = pass). Returns the result of a passing call, or None.
    */
  def call[T](name: String)(body: => T)(check: T => Seq[String] = (_: T) => Nil): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    val res = try Right(tracer.span(name)(body)) catch { case NonFatal(e) => Left(Seq(e.toString)) }
    val secs = (System.nanoTime() - t0) / 1e9
    val problems = res.fold(identity, v => try check(v) catch { case NonFatal(e) => Seq(s"check threw $e") })
    if (problems.isEmpty) {
      if (measuring) measured += name -> secs
      res.toOption
    } else {
      failed += 1
      failures += s"$name: ${problems.take(3).mkString("; ")}"
      None
    }
  }

  /** The sink: force the plan (charged to the current span when
    * tracing), then bring the rows to the client, which checks them.
    */
  def rows(df: DataFrame): Array[Row] = {
    tracer.plan(df)
    df.collect()
  }

  /** Check that a deterministic result hashes the same as the first time
    * `key` was seen in this run, and record the hash for the run record.
    */
  def sameAsBefore(key: String, rs: Array[Row]): Seq[String] = {
    val h = ContentHash.hex(ContentHash.of(rs))
    hashes.get(key) match {
      case Some(prev) if prev != h => Seq(s"content hash of $key changed: $prev then $h")
      case _ => hashes(key) = h; Nil
    }
  }

  def dir(name: String): String = work.resolve(name).toString

  /** Stage generated vectors as Parquet (`vec_id`, `embedding`) split
    * into one file per core, and read them back as the engine's input.
    */
  def vectors(name: String, data: Array[(Long, Array[Float])]): DataFrame =
    stage(name, spark.createDataFrame(data.toSeq).toDF("vec_id", "embedding"))

  def stage(name: String, df: DataFrame): DataFrame = {
    df.repartition(cores).write.mode("overwrite").parquet(dir(s"in/$name"))
    spark.read.parquet(dir(s"in/$name"))
  }

  /** A query batch as the client would send it: a local relation of
    * (`query_id`, `query_vec` as doubles).
    */
  def queries(qs: Seq[(Long, Array[Double])]): DataFrame =
    spark.createDataFrame(qs).toDF("query_id", "query_vec")

  /** At-rest bytes of a persisted layout (checksum side files excluded). */
  def bytesUnder(d: String): Long = {
    val s = Files.walk(Paths.get(d))
    try s.iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
      .map(Files.size).sum
    finally s.close()
  }

  /** Run steps until `seconds` have passed, but at least one whole
    * cycle; a started step always completes. Steps come in cycles,
    * `cycle(c)` giving the steps of cycle `c`; each step makes at most
    * one engine call, whose time lands in [[measured]].
    */
  def loop(cycle: Int => Seq[() => Unit]): Unit = {
    val steps = mutable.Queue.empty[() => Unit]
    var c = 0
    val t0 = System.nanoTime()
    measuring = true
    while ((System.nanoTime() - t0) / 1e9 < seconds || (c == 1 && steps.nonEmpty)) tracer.span("bench.loop") {
      if (steps.isEmpty) { steps ++= cycle(c); c += 1 }
      steps.dequeue()()
    }
    measuring = false
  }

  /** Seconds of the measured calls of one kind. */
  def secondsOf(name: String): Seq[Double] = measured.collect { case (`name`, s) => s }.toSeq

  /** Median seconds of the measured calls of one kind; NaN without any. */
  def medianOf(name: String): Double = {
    val xs = secondsOf(name)
    if (xs.isEmpty) Double.NaN else Stats.median(xs)
  }

  /** The mean over call kinds of each kind's median latency in the
    * measured loop, so every kind weighs the same however many of its
    * calls fit in the run.
    */
  def medianCallS(names: Seq[String]): Double = Stats.mean(names.map(medianOf))
}

object Harness {
  /** Fraction of `expected` neighbour ids found per query, over all queries. */
  def recall(got: Array[Row], truth: Map[Long, Set[Long]]): Double = {
    val byQuery = got.groupBy(_.getAs[Long]("query_id")).map { case (q, rs) =>
      q -> rs.map(_.getAs[Long]("vec_id")).toSet
    }
    val hits = truth.map { case (q, ids) => (ids intersect byQuery.getOrElse(q, Set.empty)).size }.sum
    hits.toDouble / truth.values.map(_.size).sum
  }
}
