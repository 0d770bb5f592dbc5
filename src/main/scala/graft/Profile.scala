package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.graftbridge.CoreBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.plans.{AsOfJoinExec, TopKPerGroupExec}

/** Layered profile of gate queries: `runMain graft.Profile <outDir>
  * [query ...]` (every query when none is named; data from
  * `SPARK_GRAFT_SF_DIR`, which must be set, and cores from
  * `SPARK_GRAFT_CPUS`, as for Bench).
  *
  * Each query runs as Bench's timed loop runs it, `fn(spark, sf).count()`,
  * twice: COLD right after `CacheRegistry.clear`, so it pays the query's
  * persisted-relation builds (and its first-execution codegen), then
  * WARM, reusing them. `<outDir>/profile.jsonl` gets one line per query
  * with both wall times and, per run, what one [[Collector]] heard;
  * `<outDir>/<query>.plan.txt` gets the warm run's final (post-AQE)
  * plan of the counted action.
  */
object Profile {
  private val json = JsonMapper.builder().addModule(DefaultScalaModule).build()

  /** Operator nodes actually executed: unwraps AQE and query-stage
    * shells, stops at a reused exchange (the original is counted where
    * it runs) and never enters a cached relation's lineage. The plan
    * STRING would repeat that lineage under every reference and print
    * AQE's initial plan beside the final one. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case _: ReusedExchangeExec => Seq.empty
    case other => other.children
  }).flatMap(nodes)

  private def planCounts(p: SparkPlan): ListMap[String, Int] = {
    val ns = nodes(p)
    def n(f: PartialFunction[SparkPlan, Unit]) = ns.count(f.isDefinedAt)
    ListMap(
      "shuffles" -> n { case _: ShuffleExchangeExec => },
      "broadcast_joins" -> n { case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec => },
      "sort_merge_joins" -> n { case _: SortMergeJoinExec => },
      "nested_loop_joins" -> n { case _: BroadcastNestedLoopJoinExec | _: CartesianProductExec => },
      "codegen_stages" -> n { case _: WholeStageCodegenExec => },
      "custom_nodes" -> n { case _: AsOfJoinExec | _: TopKPerGroupExec => })
  }

  /** What the listeners heard during one run. Two listener-bus queues
    * (shared, streams) write it, so every update holds its lock. */
  final class RunStats {
    var seconds = 0.0
    var jobs, stages, tasks, runMs, deserializeMs, delayMs, shuffleRead, shuffleWrite, spill,
      executions, batches = 0L
    var last: Option[QueryExecution] = None
    val planningMs, batchMs = mutable.TreeMap.empty[String, Long].withDefaultValue(0L)
    /** (query id, operator index) -> (operator, memory bytes, summed
      * commit ms). No row count: GraftSession turns RocksDB's row
      * tracking off, so the store reports 0 rows for every operator. */
    val state = mutable.LinkedHashMap.empty[(java.util.UUID, Int), (String, Long, Long)]

    def fields: ListMap[String, Any] = synchronized(ListMap(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "executor_run_ms" -> runMs, "task_deserialize_ms" -> deserializeMs,
      "scheduler_delay_ms" -> delayMs,
      "shuffle_read_bytes" -> shuffleRead, "shuffle_write_bytes" -> shuffleWrite,
      "spill_bytes" -> spill, "executions" -> executions, "planning_ms" -> planningMs,
      "plan" -> last.fold(ListMap.empty[String, Int])(qe => planCounts(qe.executedPlan)),
      "batches" -> batches, "batch_ms" -> batchMs,
      "state" -> state.values.toSeq.map { case (op, mem, commit) =>
        ListMap("operator" -> op, "memory_bytes" -> mem, "commit_ms" -> commit)
      }))
  }

  /** One collector built from three listeners: jobs, stages and task
    * metrics; per-execution planning phases and plans; micro-batch
    * phases and state-store metrics. [[close]] removes all three. */
  final class Collector(spark: SparkSession) {
    /** Every event any of the three listeners received. */
    val events = new AtomicLong(0)
    @volatile private var run = new RunStats
    private def record(f: RunStats => Unit): Unit = {
      events.incrementAndGet()
      val r = run
      r.synchronized(f(r))
    }

    private val sparkListener = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = record(_.jobs += 1)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = record(_.stages += 1)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = record { r =>
        r.tasks += 1
        val (m, i) = (e.taskMetrics, e.taskInfo)
        if (m != null) {
          r.runMs += m.executorRunTime
          r.deserializeMs += m.executorDeserializeTime
          r.delayMs += math.max(0L, i.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L))
          r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

    private val planListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        record { r =>
          r.executions += 1
          r.last = Some(qe)
          qe.tracker.phases.foreach { case (phase, s) => r.planningMs(phase) += s.durationMs }
        }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }

    private val streamListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        record { r =>
          val p = e.progress
          r.batches += 1
          p.durationMs.asScala.foreach { case (k, v) => r.batchMs(k) += v }
          p.stateOperators.zipWithIndex.foreach { case (so, i) =>
            val commit = r.state.get((p.id, i)).fold(0L)(_._3) + so.commitTimeMs
            r.state((p.id, i)) = (so.operatorName, so.memoryUsedBytes, commit)
          }
        }
    }

    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)

    /** Runs `body` and returns what was heard while it ran. The bus is
      * asynchronous: draining it before the run keeps earlier events
      * out, draining after lets this run's late task ends in. */
    def measure(body: => Long): (RunStats, Long) = {
      CoreBridge.drainListenerBus(spark.sparkContext)
      val r = new RunStats
      run = r
      val t0 = System.nanoTime()
      val rows = body
      r.seconds = (System.nanoTime() - t0) / 1e9
      CoreBridge.drainListenerBus(spark.sparkContext)
      (r, rows)
    }

    def close(): Unit = {
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(planListener)
      spark.streams.removeListener(streamListener)
    }
  }

  /** Profiles `names` into `outDir`; returns the collector, already
    * closed, and the names of the queries that failed. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      names: Seq[String]): (Collector, Seq[String]) = {
    Files.createDirectories(Paths.get(outDir))
    val out = Files.newBufferedWriter(Paths.get(outDir, "profile.jsonl"))
    val c = new Collector(spark)
    val failed = try names.filter { name =>
      val fn = SparkEntry.queries(name)
      CacheRegistry.clear(spark)
      val line = try {
        val (cold, _) = c.measure(fn(spark, sfDir).count())
        val (warm, rows) = c.measure(fn(spark, sfDir).count())
        warm.last.foreach(qe => Files.writeString(Paths.get(outDir, s"$name.plan.txt"),
          qe.explainString(FormattedMode)))
        Right(ListMap("query" -> name, "rows" -> rows, "cold_s" -> cold.seconds,
          "warm_s" -> warm.seconds, "cold" -> cold.fields, "warm" -> warm.fields))
      } catch {
        case e: Throwable => Left(ListMap("query" -> name,
          "error" -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"))
      }
      out.write(json.writeValueAsString(line.merge) + "\n")
      line.isLeft
    } finally {
      out.close()
      c.close()
      CacheRegistry.clear(spark)
    }
    (c, failed)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.Profile <outDir> [query ...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("SPARK_GRAFT_SF_DIR must name a data dir"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val names = if (args.length > 1) args.toSeq.tail else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.build(s"local[$cpus]", cpus.toInt)
    val (_, failed) = try run(spark, sfDir, args(0), names) finally spark.stop()
    println(s"[profile] ${names.size - failed.size}/${names.size} queries profiled into ${args(0)}" +
      (if (failed.isEmpty) "" else s"; FAILED: ${failed.mkString(", ")}"))
    if (failed.nonEmpty) sys.exit(1)
  }
}
