package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Benchmark process for one workload run. `run.py` launches it as
  * `graftbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> [tablesDir]`
  * and reads `<workDir>/result.json` when it exits.
  *
  * Everything before the first timed operation is set-up: session
  * build, staging and warm-up. A traced run measures the timed phase
  * twice, untraced and then traced; the difference is the tracing
  * overhead.
  */
object Main {
  final case class Result(attempted: Long, failed: Long, firstOpMs: Double,
      metrics: Map[String, Double], layers: Map[String, Double],
      queries: Map[String, (Long, String)] = Map.empty, errors: Seq[String] = Nil)

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, work) = args.take(5)
    val traced = trace == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val calibrationMs = calibrate()
    note(f"host calibration $calibrationMs%.1f ms")
    val spark = GraftSession.build(s"local[$cores]", cores)
    note("session built")
    val collector = new Collector(spark)
    val r = workload match {
      case "ingest-native" => runIngest(spark, collector, work, seed.toLong, seconds.toInt, traced, cores)
      case "query-mix" => runMix(spark, collector, work, args(5), seconds.toInt, traced, cores)
    }
    collector.close()
    val layers = if (traced) r.layers + ("host.calibration_ms" -> calibrationMs) else r.layers
    if (traced) Files.write(Paths.get(work, "spans.jsonl"),
      collector.spanJson(s"$workload-$seed").asJava, UTF_8)
    Files.writeString(Paths.get(work, "result.json"), json(r.copy(layers = layers)))
    SparkSession.active.stop()
  }

  private val started = Clock.nowMs
  /** Progress notes for the run's log. */
  def note(msg: => String): Unit =
    System.err.println(f"[graftbench +${(Clock.nowMs - started) / 1000}%.1fs] $msg")

  /** A fixed single-thread integer loop: flags a slow host phase. */
  private def calibrate(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = 1L; var i = 0
      while (i < 200000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
      require(x != 0)
      (System.nanoTime() - t0) / 1e6
    }
    once()
    Stats.median(Seq.fill(3)(once()))
  }

  // ---------------------------------------------------------------- ingest

  private def runIngest(spark: SparkSession, c: Collector, work: String, seed: Long,
      seconds: Int, traced: Boolean, cores: Int): Result = {
    // 0.6-0.9 s per batch of 100,000 records on a 4-vCPU machine
    val ing = new Ingest(spark, work, seed, batches = math.max(20, 6 * seconds / 5))
    val sum = ing.stage(s"$work/backlog", ing.batches, warmFiles = 6)
    val backlog = s"$work/backlog/set=main"
    val n = ing.batches.toLong * ing.perBatch
    note("staged")
    val warm = ing.drain(c, s"$work/backlog/set=warmup", "warmup")
    note(s"warm-up batches ${warm.batchMs.mkString(" ")}")
    ing.readback(c, warm)
    val firstOp = Clock.nowMs

    var failed = 0L
    def phase(name: String): (Map[String, Double], Drain) = {
      val d = ing.drain(c, backlog, name)
      note(s"$name batches ${d.batchMs.mkString(" ")}")
      val reads = (1 to 3).map(_ => ing.readback(c, d))
      // a record missing or duplicated fails; a wrong value that leaves
      // the count intact fails at least one
      val (rows, got, _, _) = reads.head
      failed += math.abs(rows - n) + (if (rows == n && got != sum) 1 else 0)
      val aggMs = Stats.median(reads.map(_._3))
      val groupMs = Stats.median(reads.map(_._4))
      val readMs = Stats.median(reads.map(r => r._3 + r._4))
      val bytes = ing.fileSizes(d).sum
      (Map(
        "ingest_rps" -> n / (d.ms / 1000),
        "microbatch_p50_ms" -> Stats.median(d.batchMs),
        "microbatch_tail_ms" -> Stats.percentile(d.batchMs, Stats.tailPercentile(d.batchMs.size)),
        "readback_s" -> readMs / 1000,
        "stored_bytes_per_record" -> bytes.toDouble / n,
        "query_pass_s" -> (d.ms + readMs) / 1000,
        "batch_query_geomean_s" -> Stats.geomean(Seq(aggMs, groupMs)) / 1000,
        "stream_query_geomean_s" -> d.ms / 1000), d)
    }

    val (untraced, _) = phase("main")
    if (!traced) return Result(n, failed, firstOp, untraced, Map.empty)

    c.startTrace()
    val t0 = Clock.nowMs
    val (tracedM, d) = phase("traced")
    val wallMs = Clock.nowMs - t0
    c.settle()
    val layers = ingestLayers(c, ing, d, n, backlog) ++ c.sessionMetrics(wallMs, cores) ++
      c.selfTimes()
    c.stopTrace()

    // the same drain on one core: the single-threaded baseline
    c.close()
    spark.stop()
    val one = GraftSession.build("local[1]", 1)
    val ing1 = new Ingest(one, work, seed, batches = 4)
    ing1.stage(s"$work/single", ing1.batches)
    val d1 = ing1.drain(new Collector(one), s"$work/single/set=main", "single", parallelism = 1)
    val single = ing1.batches.toLong * ing1.perBatch / (d1.ms / 1000)
    Result(2 * n, failed, firstOp, untraced,
      layers ++ overhead(untraced, tracedM) + ("streaming.single_core_rps" -> single))
  }

  private def ingestLayers(c: Collector, ing: Ingest, d: Drain, n: Long, staged: String): Map[String, Double] = {
    val batches = d.batchMs.size.toDouble
    val ids = d.batchIds.toSet
    val drainSpan = c.spans.find(_.name == "traced.drain").get
    val jobs = c.jobs.asScala.toSeq.filter(j => j.start >= drainSpan.start && j.end <= drainSpan.end)
    val stages = jobs.flatMap(_.stageIds).distinct.flatMap(id => Option(c.stages.get(id)))
    def perBatch(f: StageSum => Boolean, v: StageSum => Long) = stages.filter(f).map(v).sum / batches
    val progress = c.batches.asScala.toSeq.filter(b => ids(b.batchId) && b.startMs >= drainSpan.start - 1)
    def phaseMs(k: String) = Stats.median(progress.map(_.phases.getOrElse(k, 0L).toDouble))
    val driverSelf = progress.map { b =>
      val covered = Stats.covered(Double.MinValue, Double.MaxValue,
        jobs.filter(_.batchId.contains(b.batchId)).map(j => (j.start, j.end)))
      b.phases.getOrElse("addBatch", 0L) - covered
    }
    val ms = d.batchMs
    val files = ing.fileSizes(d).map(_.toDouble)
    Map(
      "streaming.decode_ns_per_record" -> ing.decodeNsPerRecord(staged),
      "streaming.source_decode_task_ms" -> perBatch(_.shuffleWrite > 0, _.runMs),
      "streaming.parquet_write_task_ms" -> perBatch(_.outputBytes > 0, _.runMs),
      "streaming.shuffle_bytes_per_record" -> stages.map(_.shuffleWrite).sum.toDouble / n,
      "streaming.driver_self_ms" -> Stats.median(driverSelf),
      "streaming.jobs_per_batch" -> jobs.size / batches,
      "streaming.batch_time_growth" -> ms.takeRight(10).sum / ms.slice(1, 11).sum,
      "streaming.files_per_batch" -> files.size / batches,
      "streaming.file_fill_ratio" -> Stats.median(files) / d.cfg.maxFileSize) ++
      Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
        .map(k => s"streaming.${k}_ms" -> phaseMs(k))
  }

  private def overhead(untraced: Map[String, Double], traced: Map[String, Double]): Map[String, Double] =
    traced.map { case (k, v) => s"overhead.$k" -> (v - untraced(k)) }

  // ------------------------------------------------------------ query mix

  private def runMix(spark: SparkSession, c: Collector, work: String, tables: String,
      seconds: Int, traced: Boolean, cores: Int): Result = {
    val mix = new QueryMix(spark, tables, work)
    val warmErrors = mix.warmUp()
    note(s"warmed up; failures: ${warmErrors.mkString("; ")}")
    val firstOp = Clock.nowMs
    // about 12 s per pass on a 4-vCPU machine; a traced run measures
    // two phases, so each gets half the passes
    val passes = math.max(1, seconds / (if (traced) 20 else 10))
    var attempted = 0L
    val errors = Seq.newBuilder[String]
    var results = Map.empty[String, (Long, String)]

    def phase(tag: String, reps: Int): (Map[String, Double], Seq[Seq[(String, Double, Option[String])]], Double) = {
      val t0 = Clock.nowMs
      val runs = (1 to reps).map { p =>
        val run = mix.pass(c, s"$tag$p")
        note(s"$tag$p ${run.map(r => f"${r._1} ${r._2}%.0f").mkString(", ")}")
        attempted += run.size
        errors ++= run.collect { case (q, _, Some(e)) => s"$q: $e" }
        run
      }
      val wallMs = Clock.nowMs - t0
      c.settle()
      val batches = c.batches.asScala.toSeq.filter(b => b.startMs >= t0 && b.startMs <= t0 + wallMs)
      val ok = runs.last.collect { case (q, _, None) => q }.toSet
      val reads = (1 to 3).map(_ => mix.readback(c, s"$tag$reps", ok))
      val (res, _, bytes) = reads.head
      val readMs = Stats.median(reads.map(_._2))
      results = res
      val perQuery = QueryMix.names.map(q => q -> Stats.median(runs.map(_.find(_._1 == q).get._2)))
      val (stream, batch) = perQuery.partition(p => QueryMix.streaming(p._1))
      val ms = batches.map(_.triggerMs.toDouble)
      (Map(
        "ingest_rps" -> batches.map(_.inputRows).sum / (runs.map(_.filter(r => QueryMix.streaming(r._1)).map(_._2).sum).sum / 1000),
        "microbatch_p50_ms" -> Stats.median(ms),
        "microbatch_tail_ms" -> Stats.percentile(ms, Stats.tailPercentile(ms.size)),
        "readback_s" -> readMs / 1000,
        "stored_bytes_per_record" -> bytes.toDouble / math.max(1L, res.values.map(_._1).sum),
        "query_pass_s" -> Stats.median(runs.map(_.map(_._2).sum)) / 1000,
        "batch_query_geomean_s" -> Stats.geomean(batch.map(_._2)) / 1000,
        "stream_query_geomean_s" -> Stats.geomean(stream.map(_._2)) / 1000), runs, wallMs)
    }

    val (untraced, _, _) = phase("pass", passes)
    if (!traced) return Result(attempted, 0, firstOp, untraced, Map.empty, results, errors.result())

    c.startTrace()
    val t0 = Clock.nowMs
    val (tracedM, runs, wallMs) = phase("traced", passes)
    val (relations, persistedMb) = mix.cached()
    val batches = c.batches.asScala.toSeq.filter(b => b.startMs >= t0 && b.startMs <= t0 + wallMs)
    val streamIds = batches.map(_.query).distinct
    val life = streamIds.flatMap(id => Option(c.lifecycles.get(id)).map(id -> _))
    val startMs = life.map { case (id, l) => batches.filter(_.query == id).map(_.startMs).min - l(0) }.sum
    val stopMs = life.map { case (id, l) =>
      val last = batches.filter(_.query == id).maxBy(_.startMs)
      l(1) - (last.startMs + last.triggerMs)
    }.sum
    val layers = QueryMix.names.map(q =>
      s"operators.${q}_s" -> Stats.median(runs.map(_.find(_._1 == q).get._2)) / 1000).toMap ++ Map(
      "operators.stream_start_ms" -> startMs,
      "operators.stream_process_ms" -> batches.map(_.triggerMs).sum.toDouble,
      "operators.stream_stop_ms" -> stopMs,
      "operators.micro_batches" -> batches.size.toDouble,
      "operators.state_commit_ms" -> batches.map(_.stateCommitMs).sum.toDouble,
      "operators.state_update_ms" -> batches.map(_.stateUpdateMs).sum.toDouble,
      "operators.state_rows" -> batches.map(_.stateRows).sum.toDouble,
      "operators.state_memory_mb" -> batches.map(_.stateBytes).sum / 1e6,
      "cache.relations_built" -> relations,
      "cache.persisted_mb" -> persistedMb) ++
      c.sessionMetrics(wallMs, cores) ++ c.selfTimes()
    c.stopTrace()
    Result(attempted, 0, firstOp, untraced, layers ++ overhead(untraced, tracedM),
      results, errors.result())
  }

  // ----------------------------------------------------------------- output

  private def json(r: Result): String = {
    def str(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case ch if ch < ' ' => " "; case ch => ch.toString
    } + "\""
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    def obj(m: Map[String, Double]) = m.toSeq.sorted.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")
    val queries = r.queries.toSeq.sorted.map { case (q, (rows, h)) =>
      s"""${str(q)}:{"rows":$rows,"hash":${str(h)}}""" }.mkString("{", ",", "}")
    s"""{"attempted":${r.attempted},"failed":${r.failed},"first_op_ms":${num(r.firstOpMs)},""" +
      s""""metrics":${obj(r.metrics)},"layers":${obj(r.layers)},"queries":$queries,""" +
      s""""errors":${r.errors.map(str).mkString("[", ",", "]")},"peak_rss_kb":${peakRssKb()}}"""
  }

  /** VmHWM: the high-water mark of this JVM's resident set. */
  private def peakRssKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
}
