package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.mapreduce.Job
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types.StructType

/** The bytes-in → rolling-parquet-out pipeline: the engine's
  * re-expression of the reference's whole dataflow
  * (`kafka-source → proto-decode → columnar-encode → rolling-file-sink`,
  * KPW:254-294) on Structured Streaming.
  *
  * Lifecycle mirrors the reference's `build()/start()/close()`
  * (KPW:731-750 / KPW:172-182 / KPW:184-197) as
  * `Pipeline(cfg).start(raw, codec)` → [[PipelineHandle]]`.stop()`.
  * Delivery, rolling, partitioned layout and metrics map to SURVEY
  * §2.1 S5–S10/S15; no thread or retry machinery survives — Spark's
  * checkpoint + task retry replaces `tryUntilSucceeds` (KPW:404-446).
  */
final class Pipeline(cfg: PipelineConfig) {

  /** Source wiring (S1). Kafka is config-only — the connector jar is
    * a production dependency, so tests drive [[start]] directly from
    * a MemoryStream DataFrame with a `value: binary` column, the
    * exact shape the Kafka source yields.
    */
  def kafkaSource(spark: SparkSession, bootstrapServers: String, topic: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    val r = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topic)
    val withCap = cfg.maxRecordsPerTrigger // S13 backpressure
      .fold(r)(n => r.option("maxOffsetsPerTrigger", n.toString))
    options.foldLeft(withCap) { case (b, (k, v)) => b.option(k, v) }
      .load()
  }

  /** File-based streaming source with the same `value: binary` shape
    * the Kafka source yields — one line per record (S1's "file
    * sources behind the same source trait"). New files dropped into
    * `path` are picked up per trigger; rate-capped like Kafka via
    * `maxFilesPerTrigger`.
    */
  def fileSource(spark: SparkSession, path: String): DataFrame = {
    val r = spark.readStream.format("text")
    cfg.maxRecordsPerTrigger // approximate: cap files, not records
      .fold(r)(n => r.option("maxFilesPerTrigger", math.max(1L, n).toString))
      .load(path)
      .select(col("value").cast("binary").as("value"))
  }

  /** Decode + (optional) date-partition column + sink. `raw` must
    * have a `value: binary` column (Kafka-source shape; the Kafka
    * key is ignored, as in the reference — KPW:271).
    */
  def start(raw: DataFrame, codec: RecordCodec,
      errorPolicy: DecodeErrorPolicy = DecodeErrorPolicy.FailFast): PipelineHandle = {
    val spark = raw.sparkSession
    val decoded0 = raw.select(codec.decode(col("value")).as("r"))
    // Codec contract: null struct iff undecodable. Parsing codecs use
    // a PERMISSIVE corrupt-record column internally, so a valid
    // record whose fields are all null is NOT treated as a failure.
    val failed = col("r").isNull
    val decoded = errorPolicy match {
      case DecodeErrorPolicy.FailFast =>
        // reference semantics (KPW:272-277): an undecodable record
        // kills the query instead of silently dropping data. The
        // guard wraps the struct itself so column pruning can't
        // eliminate the raise_error.
        decoded0.select(
          when(failed,
            raise_error(lit("undecodable record (FailFast codec policy)"))
              .cast(codec.schema))
            .otherwise(col("r")).as("r"))
          .select(col("r.*"))
      case DecodeErrorPolicy.DeadLetter =>
        decoded0.filter(!failed).select(col("r.*"))
    }

    // S8: date-partitioned layout. The reference buckets by finalize
    // wall-clock (KPW:362-380); partitioning by processing time at
    // write keeps that semantic.
    val withDate = cfg.directoryDateTimePattern match {
      case Some(p) => decoded.withColumn("_date", date_format(current_timestamp(), p))
      case None => decoded
    }

    // S12: writer fan-out — files per trigger = writerParallelism.
    // The exchange stays AFTER decode, so decode runs on the source's
    // tasks, not on writerParallelism tasks. Both orders were probed
    // on 4 vCPUs with SampleMessage records: exchange-first drained
    // ~11% faster with one 100k-record source file per batch (decode
    // spread over 4 writer tasks instead of 1 source task), but with
    // 4 source files of 50k per batch and writerParallelism 1 it
    // drained 281-325k rec/s against 278-349k for decode-first, all
    // decode then landing on the single writer task.
    val sized = withDate.repartition(cfg.writerParallelism)

    val metrics = new PipelineMetrics(cfg.instanceName)
    spark.streams.addListener(metrics.listener)
    // a query that fails to start must not leave the listener on the
    // session, nor a query already started running without a handle
    var query: StreamingQuery = null
    try {
      query = cfg.delivery match {
        case DeliveryMode.ExactlyOnce =>
          // observe() counts post-decode rows for the written-records
          // meter (S15) without an extra action. (Only on the native
          // path: the sized roller runs auxiliary actions per batch,
          // which would re-fire the observation and over-count.)
          startNative(sized.observe("graft_written", count(lit(1)).as("n")))
        case DeliveryMode.AtLeastOnceSized => startSized(sized, metrics)
      }

      // Dead-letter quarantine: a second checkpointed query over the
      // same source captures the raw bytes of undecodable records (the
      // upgrade over the reference's fail-stop TODO, KPW:272-277).
      // Separate query = separate offset tracking; the source is read
      // twice, which is the standard multi-sink streaming trade-off.
      val dlQuery = (errorPolicy, cfg.deadLetterDir) match {
        case (DecodeErrorPolicy.DeadLetter, Some(dlDir)) =>
          Some(raw
            .select(col("value"), codec.decode(col("value")).as("r"))
            .filter(failed)
            .select(col("value"), current_timestamp().as("quarantined_at"))
            .writeStream
            .format("parquet")
            .option("path", dlDir)
            .option("checkpointLocation", s"${cfg.checkpointDir}-deadletter")
            .trigger(Trigger.ProcessingTime(cfg.maxFileOpenDuration.toMillis))
            .start())
        case _ => None
      }
      // Meter only the main query: a session can run several pipelines
      // (and this one may run a dead-letter side query over the same
      // source), so the listener filters progress events by query id.
      // Registered immediately after start() — progress events are
      // delivered asynchronously after the first micro-batch commits,
      // well after this line runs.
      metrics.track(query.id)
      new PipelineHandle(query, metrics, spark, dlQuery)
    } catch {
      case e: Throwable =>
        spark.streams.removeListener(metrics.listener)
        if (query != null) query.stop()
        throw e
    }
  }

  /** Native streaming parquet sink (S4/S7/S10): offset WAL + sink
    * commit log give idempotent, reader-atomic file visibility — the
    * engine-side upgrade of the temp-file+rename protocol
    * (KPW:327-380). Files roll per trigger only: there is no size cap
    * here, which is why [[PipelineConfig]] rejects `maxFileSize` and
    * `referenceFileNaming` outside [[DeliveryMode.AtLeastOnceSized]].
    */
  // NOTE on S6 trigger semantics: ProcessingTime batches fire at
  // wall-clock MULTIPLES of the interval (Spark's trigger executor),
  // so the first file lands up to one full interval after start() —
  // with the reference's 900 s default, up to 15 min of startup
  // latency the reference itself doesn't have (it opens a file on the
  // first record). Deployments that care should set
  // maxFileOpenDuration to their latency budget, not the roll cap;
  // each micro-batch closes its files at commit regardless.
  private def startNative(df: DataFrame): StreamingQuery =
    df.writeStream
      .format(classOf[ParquetSinkFormat].getName)
      .option("path", cfg.targetDir)
      .option("checkpointLocation", cfg.checkpointDir)
      .options(parquetOptions)
      .trigger(Trigger.ProcessingTime(cfg.maxFileOpenDuration.toMillis)) // S6
      .partitionBy(partitionCols: _*)
      .start()

  /** Size-capped roller (S5): per batch, measure written bytes vs
    * records and adapt `maxRecordsPerFile` so steady-state file size
    * approaches `maxFileSize` (the reference checks size after each
    * record, KPW:282-286/308-310; a micro-batch engine can only cap
    * per-file record counts, so the cap converges over batches).
    * foreachBatch ⇒ at-least-once on retry, like the reference.
    */
  private def startSized(df: DataFrame, metrics: PipelineMetrics): StreamingQuery = {
    // bytes/record estimate: 0 = not yet calibrated. Refined after
    // every batch from actual on-disk bytes; before the first write
    // it is seeded from a JSON-serialized sample of the batch — an
    // overestimate of parquet+compression size, so the first batch's
    // files land UNDER the cap rather than over it (a fixed prior
    // undershoots wide records and breaches maxFileSize).
    val bytesPerRecord = new AtomicLong(0)
    val totalRecords = new AtomicLong(0)
    val runBytes = new AtomicLong(0)
    val seenFiles = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val primed = new java.util.concurrent.atomic.AtomicBoolean(false)
    df.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val cached = batch.persist()
        // targetDir's own filesystem: the default one is wrong for a
        // qualified path on another scheme
        val dir = new org.apache.hadoop.fs.Path(cfg.targetDir)
        val fs = dir.getFileSystem(batch.sparkSession.sparkContext.hadoopConfiguration)
        try {
          // Files already in targetDir from a previous run (restart
          // from checkpoint) must not feed the bytes/record estimate
          // or the closed-file histogram: claim them before the first
          // write of this run, silently.
          if (primed.compareAndSet(false, true)) {
            if (fs.exists(dir)) {
              val it = fs.listFiles(dir, true)
              while (it.hasNext) {
                val f = it.next()
                if (f.getPath.getName.endsWith(".parquet"))
                  seenFiles.add(f.getPath.toString)
              }
            }
          }
          if (bytesPerRecord.get() == 0L) {
            val sample = cached.limit(500)
              .select(octet_length(to_json(struct(cached.columns.map(col).toIndexedSeq: _*))).as("b"))
              .agg(avg(col("b"))).collect().head
            val jsonAvg = if (sample.isNullAt(0)) 256.0 else sample.getDouble(0)
            bytesPerRecord.set(math.max(1L, math.ceil(jsonAvg).toLong))
          }
          val est = math.max(1L, cfg.maxFileSize / math.max(1L, bytesPerRecord.get()))
          cached.write
            .mode("append")
            .options(parquetOptions)
            .option("maxRecordsPerFile", est)
            .partitionBy(partitionCols: _*)
            .parquet(cfg.targetDir)
          val written = cached.count() // from cache — no source re-read
          metrics.writtenRecords.addAndGet(written)
          val cumulative = totalRecords.addAndGet(written)
          // feedback: actual bytes/record from files written BY THIS
          // RUN (O(#files) listing — never a data re-read), plus the
          // reference's closed-file-size histogram (KPW:144,339-344).
          // Restricting to this run's files keeps the estimate
          // aligned with `cumulative`, which also counts only this
          // run — mixing in prior-run bytes would inflate it and
          // shrink files far below maxFileSize after restarts.
          val it = fs.listFiles(dir, true)
          while (it.hasNext) {
            val f = it.next()
            val isNew = f.getPath.getName.endsWith(".parquet") &&
              !seenFiles.contains(f.getPath.toString)
            if (isNew) {
              // S9 exact naming (KPW:315-320): a just-finalized file is
              // renamed `<formatted-now>_<instance>_<shard>.parquet`;
              // shard = the writing task's index from Spark's part
              // number (the reference's thread index, KPW:93-94). The
              // rename happens AFTER the batch's write completed, so a
              // reader's view is always a complete file under either
              // name — the same finalize-then-rename window as the
              // reference's temp-file protocol (KPW:327-354).
              val path =
                if (cfg.referenceFileNaming &&
                    f.getPath.getName.startsWith("part-")) {
                  val shard = f.getPath.getName.split("-")(1).toInt
                  val fmt = java.time.format.DateTimeFormatter
                    .ofPattern("yyyyMMdd-HHmmssSSS")
                    .withZone(java.time.ZoneOffset.UTC)
                  var ts = java.time.Instant.now()
                  var target = new org.apache.hadoop.fs.Path(f.getPath.getParent,
                    s"${fmt.format(ts)}_${cfg.instanceName}_$shard.parquet")
                  while (fs.exists(target)) { // same-shard same-ms file
                    ts = ts.plusMillis(1)
                    target = new org.apache.hadoop.fs.Path(f.getPath.getParent,
                      s"${fmt.format(ts)}_${cfg.instanceName}_$shard.parquet")
                  }
                  fs.rename(f.getPath, target)
                  target.toString
                } else f.getPath.toString
              seenFiles.add(path)
              runBytes.addAndGet(f.getLen)
              metrics.recordClosedFile(f.getLen)
            }
          }
          if (cumulative > 0)
            bytesPerRecord.set(math.max(1L, runBytes.get() / cumulative))
        } finally cached.unpersist()
      }
      .option("checkpointLocation", cfg.checkpointDir)
      .trigger(Trigger.ProcessingTime(cfg.maxFileOpenDuration.toMillis))
      .start()
  }

  /** Parquet writer settings (KPW:476-492); the defaults equal
    * parquet-mr's own. */
  private def parquetOptions: Map[String, String] = Map(
    "compression" -> cfg.compression,
    "parquet.block.size" -> cfg.parquetBlockSize.toString,
    "parquet.page.size" -> cfg.parquetPageSize.toString,
    "parquet.enable.dictionary" -> cfg.dictionaryEnabled.toString)

  private def partitionCols: Seq[String] =
    cfg.directoryDateTimePattern.map(_ => "_date").toSeq
}

/** Parquet with the writer's `parquet.*` options copied into the job
  * configuration. A batch write merges its options into the Hadoop
  * configuration; Spark's streaming file sink only hands them to
  * `prepareWrite`, so without this the exactly-once sink's writers
  * never see `parquet.block.size` and the like. Reads of its output
  * are plain parquet. */
final class ParquetSinkFormat extends ParquetFileFormat {
  override def prepareWrite(spark: SparkSession, job: Job, options: Map[String, String],
      dataSchema: StructType): OutputWriterFactory = {
    for ((k, v) <- options if k.startsWith("parquet.")) job.getConfiguration.set(k, v)
    super.prepareWrite(spark, job, options, dataSchema)
  }
}

/** Running pipeline — `stop()` ≙ reference `close()` (KPW:184-197):
  * graceful, no in-flight file corruption (the sink commit protocol
  * guarantees readers never see partial files).
  */
final class PipelineHandle(val query: StreamingQuery,
    val metrics: PipelineMetrics, spark: SparkSession,
    val deadLetterQuery: Option[StreamingQuery] = None) extends AutoCloseable {
  def processAllAvailable(): Unit = {
    query.processAllAvailable()
    deadLetterQuery.foreach(_.processAllAvailable())
  }
  def stop(): Unit = {
    query.stop()
    deadLetterQuery.foreach(_.stop())
    spark.streams.removeListener(metrics.listener)
  }
  override def close(): Unit = stop()
}

/** S15 metrics — the reference's Dropwizard meters (KPW:110-121,
  * `parquet.writer.*`) re-sourced from StreamingQueryListener
  * progress events.
  */
final class PipelineMetrics(instanceName: String) {
  /** Query ids this instance meters; progress events from any other
    * query in the session (other pipelines, the dead-letter side
    * query) are ignored. */
  private val trackedIds =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
  private[streaming] def track(id: java.util.UUID): Unit = { trackedIds.add(id); () }
  /** Records received from the source (pre-decode, includes records a
    * DeadLetter policy later drops). */
  val receivedRecords = new AtomicLong(0)
  /** Records committed by the sink — the reference's written-records
    * meter (KPW:111-115). Falls back to received when the sink does
    * not report output rows. */
  val writtenRecords = new AtomicLong(0)
  val flushedBatches = new AtomicLong(0)

  /** Closed-file sizes (sized-roller mode) — the reference's
    * `parquet.writer.<instance>.flushed-file-size` histogram
    * (KPW:117-121, KPW:144). */
  private val closedFileSizes = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  private[streaming] def recordClosedFile(size: Long): Unit =
    closedFileSizes.add(size)
  def fileSizeHistogram: Seq[Long] = {
    import scala.jdk.CollectionConverters._
    closedFileSizes.asScala.map(_.longValue).toSeq
  }

  def names: Map[String, AtomicLong] = Map(
    s"parquet.writer.$instanceName.received-records" -> receivedRecords,
    s"parquet.writer.$instanceName.written-records" -> writtenRecords,
    s"parquet.writer.$instanceName.flushed-batches" -> flushedBatches)

  val listener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      if (!trackedIds.contains(e.progress.id)) return
      receivedRecords.addAndGet(e.progress.numInputRows)
      val observed = e.progress.observedMetrics
      if (observed.containsKey("graft_written"))
        writtenRecords.addAndGet(observed.get("graft_written").getLong(0))
      flushedBatches.incrementAndGet()
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}
