package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Outside-in tracer: one span around each public operator call the
  * benchmark makes. The span id rides on the driver thread as a Spark
  * local property, so every job the call starts carries it, and
  * [[SpanListener]] attributes the job's stages and tasks to the span.
  * Spans are kept in memory and written out when the run ends.
  *
  * Disabled, `span` runs its body and nothing else: no local property,
  * no listener, no plan forcing. End-to-end runs use it that way.
  * Enabled, it counts its own cost: the driver-thread time of opening
  * and closing spans plus the listener's time on the event bus.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  private val listener = new SpanListener
  private var ownNs = 0L
  private var nextId = 0L
  private var stack = List.empty[Span]
  private val done = mutable.ArrayBuffer.empty[Span]

  if (enabled) sc.addSparkListener(listener)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val open0 = System.nanoTime()
      nextId += 1
      val parent = stack.headOption
      val s = new Span(nextId, parent.fold(0L)(_.id), name, System.currentTimeMillis(), System.nanoTime())
      stack = s :: stack
      sc.setLocalProperty(SpanKey, s.id.toString)
      ownNs += System.nanoTime() - open0
      try body
      finally {
        val close0 = System.nanoTime()
        s.durNs = close0 - s.startNs
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        parent.foreach(_.childNs += s.durNs)
        sc.setLocalProperty(SpanKey, parent.map(_.id.toString).orNull)
        done += s
        ownNs += System.nanoTime() - close0
      }
    }

  /** Force the physical plan of a DataFrame an operator returned, before
    * it executes, and charge the planning time to the current span.
    * Planning includes every optimizer rule the session runs, the
    * engine's index rewrite among them.
    */
  def plan(df: DataFrame): Unit = if (enabled && stack.nonEmpty) {
    val t0 = System.nanoTime()
    df.queryExecution.executedPlan
    stack.head.planNs += System.nanoTime() - t0
  }

  /** Per-layer metrics of everything traced so far, by span name and by
    * module (the span name's prefix up to the first dot).
    */
  def summary(spanNames: Seq[String], modules: Seq[String]): Map[String, Double] = {
    if (enabled) PerfbenchBus.drain(sc)
    val perSpan = done.groupBy(_.name)
    val out = mutable.LinkedHashMap.empty[String, Double]
    for (n <- spanNames) {
      val ss = perSpan.getOrElse(n, Nil)
      out(s"$n.self_s") = ss.map(_.selfNs).sum / 1e9
      out(s"$n.calls") = ss.size.toDouble
    }
    for (m <- modules) {
      val ss = done.filter(s => moduleOf(s.name) == m)
      val jobs = ss.flatMap(s => listener.jobsOf(s.id))
      val stages = jobs.flatMap(_.stageIds).distinct.flatMap(listener.stage)
      val ran = stages.filter(_.tasks > 0).toSeq
      out(s"$m.jobs") = jobs.size.toDouble
      out(s"$m.stages") = ran.size.toDouble
      out(s"$m.tasks") = ran.map(_.tasks).sum.toDouble
      out(s"$m.failed_tasks") = ran.map(_.failedTasks).sum.toDouble
      out(s"$m.executor_run_s") = ran.map(_.runMs).sum / 1e3
      out(s"$m.shuffle_bytes") = ran.map(_.shuffleBytes).sum.toDouble
      out(s"$m.spill_bytes") = ran.map(_.spillBytes).sum.toDouble
      out(s"$m.task_skew") = weightedSkew(ran)
      out(s"$m.driver_gap_s") = ss.map(s => driverGapMs(s, listener.jobsOf(s.id))).sum / 1e3
      out(s"$m.plan_s") = ss.map(_.planNs).sum / 1e9
    }
    out(BenchSelf) = done.filter(s => moduleOf(s.name) == "bench").map(_.selfNs).sum / 1e9
    out(TracedWall) = done.filter(_.parent == 0).map(_.durNs).sum / 1e9
    out("spark.peak_storage_bytes") = listener.peakBlockBytes.toDouble
    out("spark.retained_storage_bytes") = listener.blockBytes.toDouble
    out("trace.overhead_s") = (ownNs + listener.busyNs) / 1e9
    out.toMap
  }

  /** Spans as JSON lines, in the order they ended. */
  def spansJson: Seq[String] = done.toSeq.map { s =>
    val jobs = listener.jobsOf(s.id)
    Json.write(ListMap(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "wall_s" -> s.durNs / 1e9, "self_s" -> s.selfNs / 1e9, "plan_s" -> s.planNs / 1e9,
      "jobs" -> jobs.size, "driver_gap_s" -> driverGapMs(s, jobs) / 1e3))
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val BenchSelf = "bench.self_s"
  val TracedWall = "trace.wall_s"

  def moduleOf(name: String): String = name.takeWhile(_ != '.')

  final class Span(val id: Long, val parent: Long, val name: String,
                   val startMs: Long, val startNs: Long) {
    var endMs = 0L
    var durNs = 0L
    var childNs = 0L
    var planNs = 0L
    def selfNs: Long = durNs - childNs
  }

  final case class Job(stageIds: Seq[Int], startMs: Long, var endMs: Long)

  final class StageAgg {
    var tasks = 0
    var failedTasks = 0
    var runMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }

  /** Span wall time not covered by any of its jobs: planning, driver
    * collects, file listing and scheduling gaps between jobs.
    */
  def driverGapMs(s: Span, jobs: Seq[Job]): Double = {
    val end = s.startMs + s.durNs / 1000000
    val ivs = jobs.map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    for ((a, b) <- ivs) {
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0.0, s.durNs / 1e6 - covered)
  }

  /** Max over median task time per stage, weighted by the stage's total
    * task time; stages with one task carry no skew.
    */
  def weightedSkew(stages: Seq[StageAgg]): Double = {
    val ws = stages.filter(_.durations.size >= 2).map { st =>
      val d = st.durations.sorted
      val med = math.max(1L, d(d.size / 2))
      (d.last.toDouble / med, d.sum.toDouble)
    }
    val total = ws.map(_._2).sum
    if (total <= 0) 0.0 else ws.map { case (sk, w) => sk * w }.sum / total
  }
}

/** Attributes jobs, stages and tasks to the span whose id the job's
  * local properties carry, and tracks the bytes of cached and
  * checkpointed RDD blocks the block manager holds.
  */
final class SpanListener extends SparkListener {
  import Tracer._

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val spanJobs = new ConcurrentHashMap[Long, java.util.List[Int]]()
  private val stages = new ConcurrentHashMap[Int, StageAgg]()
  private val blocks = new ConcurrentHashMap[String, Long]()
  @volatile var blockBytes = 0L
  @volatile var peakBlockBytes = 0L
  /** Time spent in this listener's callbacks. */
  @volatile var busyNs = 0L

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    busyNs += System.nanoTime() - t0
  }

  def jobsOf(span: Long): Seq[Job] =
    Option(spanJobs.get(span)).map(_.asScala.toSeq.flatMap(id => Option(jobs.get(id)))).getOrElse(Nil)

  def stage(id: Int): Option[StageAgg] = Option(stages.get(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).foreach { sid =>
      val span = sid.toLong
      jobs.put(e.jobId, Job(e.stageIds, e.time, e.time))
      spanJobs.computeIfAbsent(span, _ => new java.util.concurrent.CopyOnWriteArrayList[Int]())
        .add(e.jobId)
      e.stageIds.foreach(stages.putIfAbsent(_, new StageAgg))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    Option(stages.get(e.stageId)).foreach { st =>
      st.tasks += 1
      if (e.reason != Success) st.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        st.runMs += m.executorRunTime
        st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
      if (e.taskInfo != null) st.durations += e.taskInfo.duration
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = timed {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val prev = Option(blocks.get(key)).getOrElse(0L)
      val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      if (now > 0) blocks.put(key, now) else blocks.remove(key)
      blockBytes += now - prev
      if (blockBytes > peakBlockBytes) peakBlockBytes = blockBytes
    }
  }
}
