package graftbench

import scala.concurrent.duration._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming._

/** The ingest workload: a fixed backlog of reference `SampleMessage`
  * records, staged as equal-size parquet files of `value: binary` before
  * the clock starts, drained through `Pipeline.start` one file per
  * micro-batch, then read back and checked against the checksum taken
  * at staging.
  */
final class Ingest(spark: SparkSession, work: String, seed: Long, val batches: Int) {

  /** Records per micro-batch: enough that decode and parquet write take
    * about half of a batch, beside its fixed costs (offset and commit
    * logs, planning). */
  val perBatch = 100000

  private val fields = SampleMessageProto.fields

  /** Value `k` of record `id`, derived from the seed only. */
  private def h(id: Column, k: Int): Column = pmod(xxhash64(lit(seed), id, lit(k)), lit(Long.MaxValue))

  /** Order-insensitive checksum over the decoded columns. */
  private val columns = Seq("query", "timestamp", "page_number", "result_per_page")
  private def checksum(c: Column => Column): Column =
    sum(c(xxhash64(columns.map(col): _*).cast("decimal(38,0)")))

  /** Stage `files` equal parquet files of `perBatch` encoded records
    * each under `<dir>/set=main`, and `warmFiles` more under
    * `<dir>/set=warmup`, in one job. Returns the checksum of the main
    * set's records. */
  def stage(dir: String, files: Int, warmFiles: Int = 0): BigDecimal = {
    val main = files.toLong * perBatch
    val id = col("id")
    val recs = spark.range(0, main + warmFiles.toLong * perBatch, 1, files + warmFiles).select(
      concat(lit("query-"), (h(id, 1) % 1000).cast("string")).as("query"),
      (lit(1700000000000L) + id).as("timestamp"),
      when(h(id, 2) % 10 === 0, lit(null)).otherwise(h(id, 3) % 100).cast("int").as("page_number"),
      when(h(id, 4) % 7 === 0, lit(null)).otherwise(h(id, 5) % 13).cast("int").as("result_per_page"),
      when(id < main, lit("main")).otherwise(lit("warmup")).as("set"))
    val encode = udf((q: String, t: Long, pn: Integer, rpp: Integer) =>
      SampleMessageProto.encode(q, t, pn, rpp))
    val staged = Observation("staged")
    recs.observe(staged, checksum(when(col("set") === "main", _)).as("sum"))
      .select(encode(columns.map(col): _*).as("value"), col("set"))
      .write.partitionBy("set").parquet(dir)
    BigDecimal(staged.get("sum").asInstanceOf[java.math.BigDecimal])
  }

  /** Drain a staged backlog through the exactly-once pipeline. */
  def drain(collector: Collector, staged: String, name: String,
      parallelism: Int = spark.sparkContext.defaultParallelism): Drain = {
    val cfg = PipelineConfig(
      targetDir = s"$work/$name-out",
      checkpointDir = s"$work/$name-ckpt",
      instanceName = "bench",
      // back-to-back batches: a processing-time trigger fires on
      // wall-clock multiples of this interval (Pipeline.startNative)
      maxFileOpenDuration = 1.millisecond,
      writerParallelism = parallelism)
    val raw = spark.readStream.schema("value binary")
      .option("maxFilesPerTrigger", "1").parquet(staged)
    val (handle, drainMs) = collector.span(s"$name.drain", "streaming") {
      val h = new Pipeline(cfg).start(raw, SampleMessageProto.codec)
      h.processAllAvailable()
      h
    }
    val progress = handle.query.recentProgress.filter(_.numInputRows > 0).toSeq
    handle.stop()
    Drain(cfg, drainMs, progress.map(_.durationMs.get("triggerExecution").longValue.toDouble),
      progress.map(_.batchId))
  }

  /** Read the committed output back: one aggregate (count, checksum)
    * and one group-by. Returns (rows, checksum, aggregate ms, group-by ms). */
  def readback(collector: Collector, d: Drain): (Long, BigDecimal, Double, Double) = {
    val ((rows, sum), aggMs) = collector.span("readback.aggregate", "session") {
      val out = spark.read.parquet(d.cfg.targetDir)
      val r = out.agg(count(lit(1)), checksum(identity)).head
      (r.getLong(0), BigDecimal(r.getDecimal(1)))
    }
    val (_, groupMs) = collector.span("readback.groupby", "session") {
      spark.read.parquet(d.cfg.targetDir).groupBy(col("page_number")).count().collect()
    }
    (rows, sum, aggMs, groupMs)
  }

  /** Sizes of the committed data files (the sink's log is not output). */
  def fileSizes(d: Drain): Seq[Long] = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new Path(d.cfg.targetDir), true)
    val out = Seq.newBuilder[Long]
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet") && !f.getPath.toString.contains("_spark_metadata"))
        out += f.getLen
    }
    out.result()
  }

  /** `ProtoWire.decode` on one thread over staged payloads, ns/record. */
  def decodeNsPerRecord(staged: String): Double = {
    val payloads = spark.read.parquet(staged).limit(20000).collect().map(_.getAs[Array[Byte]](0))
    def pass(): Long = {
      val t0 = System.nanoTime()
      var i = 0; var k = 0L
      while (i < payloads.length) { k += ProtoWire.decode(fields, payloads(i)).length; i += 1 }
      require(k == payloads.length.toLong * fields.length)
      System.nanoTime() - t0
    }
    (1 to 3).foreach(_ => pass()) // JIT warm-up
    Stats.median((1 to 5).map(_ => pass().toDouble)) / payloads.length
  }
}

final case class Drain(cfg: PipelineConfig, ms: Double, batchMs: Seq[Double], batchIds: Seq[Long])
