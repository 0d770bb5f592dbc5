package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds with sub-millisecond resolution: the time base of
  * Spark's listener events, so benchmark spans and engine events share
  * one axis. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One timed interval. `layer` names the module whose public entry
  * point the span wraps; `parent` is the id of the span that caused it
  * (0 = the run). */
final case class Span(id: Int, name: String, layer: String,
    start: Double, end: Double, parent: Int) {
  def ms: Double = end - start
}

/** One micro-batch progress event. */
final case class Batch(query: String, batchId: Long, startMs: Double,
    phases: Map[String, Long], inputRows: Long,
    stateCommitMs: Long, stateUpdateMs: Long, stateRows: Long, stateBytes: Long) {
  def triggerMs: Long = phases.getOrElse("triggerExecution", 0L)
}

final case class Job(id: Int, start: Double, end: Double, batchId: Option[Long], stageIds: Seq[Int])

/** Task metrics summed over one stage. */
final class StageSum {
  var tasks = 0L; var runMs = 0L; var durationMs = 0L; var schedulerDelayMs = 0L
  var gcMs = 0L; var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var outputBytes = 0L
}

/** Everything the benchmark learns from Spark's public listener APIs.
  *
  * Streaming progress is always collected: the micro-batch metrics are
  * end-to-end numbers and a progress event per batch costs nothing the
  * engine does not already do. Job, task and query-execution listeners
  * and the spans are the trace: they are attached only by [[startTrace]]
  * and kept in memory until the run ends.
  */
final class Collector(spark: SparkSession) {
  val batches = new ConcurrentLinkedQueue[Batch]()
  /** query id -> (received start event, received terminated event), epoch ms */
  val lifecycles = new ConcurrentHashMap[String, Array[Double]]()

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      lifecycles.put(e.id.toString,
        Array(java.time.Instant.parse(e.timestamp).toEpochMilli.toDouble, 0.0))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators
      batches.add(Batch(p.id.toString, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows,
        ops.map(_.commitTimeMs).sum, ops.map(_.allUpdatesTimeMs).sum,
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      Option(lifecycles.get(e.id.toString)).foreach(_(1) = Clock.nowMs)
  }
  spark.streams.addListener(streamListener)

  // ---- trace ----
  @volatile var tracing = false
  val jobs = new ConcurrentLinkedQueue[Job]()
  private val jobStarts = new ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentHashMap[Int, StageSum]()
  /** (planning phase name, start ms, end ms) */
  val planning = new ConcurrentLinkedQueue[(String, Double, Double)]()
  val customNodes = new java.util.concurrent.atomic.AtomicLong(0)
  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private var openSpans: List[Int] = Nil
  private var nextId = 1

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val batch = Option(e.properties).flatMap(p =>
        Option(p.getProperty("streaming.sql.batchId"))).map(_.toLong)
      jobStarts.put(e.jobId, Job(e.jobId, e.time.toDouble, 0, batch, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach(j => jobs.add(j.copy(end = e.time.toDouble)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val s = stages.computeIfAbsent(e.stageId, _ => new StageSum)
      val info = e.taskInfo
      s.synchronized {
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.durationMs += info.duration
        s.schedulerDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      qe.tracker.phases.foreach { case (phase, s) =>
        planning.add((phase, s.startTimeMs.toDouble, s.endTimeMs.toDouble))
      }
      customNodes.addAndGet(Collector.customNodes(qe.executedPlan))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def startTrace(): Unit = {
    tracing = true
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
  }

  /** Time `body` as a span of `layer`; spans nest by call order on the
    * driver thread. Without tracing only the duration is kept. */
  def span[A](name: String, layer: String)(body: => A): (A, Double) = {
    val id = nextId; nextId += 1
    val parent = openSpans.headOption.getOrElse(0)
    openSpans = id :: openSpans
    val t0 = Clock.nowMs
    val out = try body finally openSpans = openSpans.tail
    val t1 = Clock.nowMs
    if (tracing) spanBuf += Span(id, name, layer, t0, t1, parent)
    (out, t1 - t0)
  }

  def spans: Seq[Span] = spanBuf.toSeq

  /** Let the asynchronous listener bus deliver what the driver already
    * did: wait until no new event has arrived for 300 ms (at most 5 s). */
  def settle(): Unit = {
    def size = batches.size + jobs.size + planning.size + lifecycles.size
    var last = -1; var stableSince = System.nanoTime()
    val deadline = System.nanoTime() + 5000000000L
    while (System.nanoTime() < deadline &&
        (size != last || System.nanoTime() - stableSince < 300000000L)) {
      if (size != last) { last = size; stableSince = System.nanoTime() }
      Thread.sleep(20)
    }
  }

  def stopTrace(): Unit = if (tracing) {
    tracing = false
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
  }

  private var closed = false
  def close(): Unit = if (!closed) {
    closed = true
    stopTrace()
    spark.streams.removeListener(streamListener)
  }

  /** Engine-wide task totals over every stage seen while tracing. */
  def sessionMetrics(wallMs: Double, cores: Int): Map[String, Double] = {
    val all = stages.values.asScala.toSeq
    def sum(f: StageSum => Long) = all.map(f).sum.toDouble
    Map(
      "session.jobs" -> jobs.size.toDouble,
      "session.stages" -> all.size.toDouble,
      "session.tasks" -> sum(_.tasks),
      "session.scheduler_delay_s" -> sum(_.schedulerDelayMs) / 1000,
      "session.task_run_s" -> sum(_.runMs) / 1000,
      "session.core_busy_share" -> sum(_.durationMs) / (wallMs * cores),
      "session.shuffle_write_mb" -> sum(_.shuffleWrite) / 1e6,
      "session.shuffle_read_mb" -> sum(_.shuffleRead) / 1e6,
      "session.spill_mb" -> sum(_.spill) / 1e6,
      "session.gc_s" -> sum(_.gcMs) / 1000,
      "session.planning_ms" -> planning.asScala.toSeq.map(p => p._3 - p._2).sum,
      "plans.custom_nodes" -> customNodes.get.toDouble)
  }

  /** Self time per layer: each span's duration minus the part of it
    * covered by its children. Benchmark spans nest by call order; a
    * Spark job or planning phase is a child of the innermost benchmark
    * span open when it started, and belongs to the `session` layer. */
  def selfTimes(): Map[String, Double] = {
    val bench = spans
    val engine = jobs.asScala.toSeq.map(j => (j.start, j.end)) ++
      planning.asScala.toSeq.map(p => (p._2, p._3))
    def depth(s: Span): Int = if (s.parent == 0) 0 else
      1 + bench.find(_.id == s.parent).map(depth).getOrElse(0)
    val owner: ((Double, Double)) => Option[Span] = { case (t0, _) =>
      bench.filter(s => s.start <= t0 && t0 < s.end).maxByOption(depth)
    }
    val children = mutable.Map.empty[Int, Seq[(Double, Double)]].withDefaultValue(Seq.empty)
    bench.foreach(s => children(s.parent) = children(s.parent) :+ ((s.start, s.end)))
    engine.foreach(iv => owner(iv).foreach(s => children(s.id) = children(s.id) :+ iv))
    val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    bench.foreach(s => self(s.layer) += s.ms - Stats.covered(s.start, s.end, children(s.id)))
    self("session") += Stats.covered(Double.MinValue, Double.MaxValue, engine)
    self.toMap.map { case (layer, ms) => s"$layer.self_s" -> ms / 1000 }
  }

  /** Spans as JSON lines: the benchmark's own plus the engine's jobs. */
  def spanJson(runId: String): Seq[String] = {
    def line(name: String, layer: String, t0: Double, t1: Double, parent: Int) =
      f"""{"run":"$runId","name":"$name","layer":"$layer","start":$t0%.3f,"end":$t1%.3f,"parent":$parent}"""
    spans.map(s => line(s.name, s.layer, s.start, s.end, s.parent)) ++
      jobs.asScala.toSeq.map(j => line(s"job-${j.id}", "session", j.start, j.end, -1))
  }
}

object Collector {
  /** Executed operator nodes: unwrap AQE and query-stage shells, count
    * a reused exchange once, skip a cached relation's stored lineage. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case _: ReusedExchangeExec => Seq.empty
    case other => other.children
  }).flatMap(nodes)

  /** AsOfJoinExec and TopKPerGroupExec nodes, plus nodes evaluating the
    * `graft_topk` aggregate: the engine's own Catalyst pieces. */
  def customNodes(plan: SparkPlan): Long = nodes(plan).count {
    case _: graft.plans.AsOfJoinExec | _: graft.plans.TopKPerGroupExec => true
    case n => n.expressions.exists(_.exists(_.isInstanceOf[graft.functions.LongTopK]))
  }.toLong
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
  }

  /** The highest whole percentile with at least ten samples above it. */
  def tailPercentile(n: Int): Int = math.max(50, math.floor(100.0 * (n - 10) / n).toInt)

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  /** Length of the union of `ivs` clipped to [t0, t1]. */
  def covered(t0: Double, t1: Double, ivs: Seq[(Double, Double)]): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0; var curA = Double.NaN; var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) total += curB - curA
    total
  }
}
