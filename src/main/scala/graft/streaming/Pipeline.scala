package graft.streaming

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.hadoop.mapreduce.Job
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.streaming.runtime.StreamExecution
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
    // S12: writer fan-out, at most writerParallelism files per trigger.
    // The raw bytes are hash-sharded before decode, as the reference
    // hands raw records to its writer threads (KPW:217-294): a hash
    // partitioning depends only on the row, so Spark adds no sort
    // before it (a round-robin one needs that sort to be retry-safe),
    // each file keeps its source partition's arrival order, and the
    // shuffle carries the smaller encoded record. Decode then runs on
    // the writer tasks; identical payloads share a writer.
    val sharded = raw.select(col("value")).repartition(cfg.writerParallelism, col("value"))
    val decoded0 = sharded.select(codec.decode(col("value")).as("r"))
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
          startNative(withDate.observe("graft_written", count(lit(1)).as("n")))
        case DeliveryMode.ExactlyOnceSized => startSized(withDate, metrics)
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
    * `referenceFileNaming` outside [[DeliveryMode.ExactlyOnceSized]].
    */
  // NOTE on S6 trigger semantics: ProcessingTime batches fire at
  // wall-clock MULTIPLES of the interval (Spark's trigger executor),
  // so the first file lands up to one full interval after start() —
  // with the reference's 900 s default, up to 15 min of startup
  // latency the reference itself doesn't have (it opens a file on the
  // first record). Deployments that care should set
  // maxFileOpenDuration to their latency budget, not the roll cap;
  // each micro-batch closes its files at commit regardless.
  // A new checkpoint numbers its batches from 0 again, and
  // `FileStreamSink` skips every batch id that `targetDir`'s
  // `_spark_metadata` log already holds: such a start would silently
  // drop data, so it is refused. Restarts on the same checkpoint pass.
  private def startNative(df: DataFrame): StreamingQuery = {
    val conf = df.sparkSession.sessionState.newHadoopConf()
    def holdsBatch(dir: String): Boolean = {
      val p = new Path(dir)
      val fs = p.getFileSystem(conf)
      fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.split('.').head.toLongOption.isDefined)
    }
    if (!holdsBatch(s"${cfg.checkpointDir}/offsets") && holdsBatch(s"${cfg.targetDir}/_spark_metadata"))
      throw new IllegalStateException(s"targetDir ${cfg.targetDir} holds a sink log (_spark_metadata), " +
        s"but checkpointDir ${cfg.checkpointDir} holds no batch: the sink would skip " +
        "the batch ids that log records and drop their data. Restart on the checkpoint that wrote " +
        "targetDir, or write to a new targetDir.")
    df.writeStream
      .format(classOf[ParquetSinkFormat].getName)
      .option("path", cfg.targetDir)
      .option("checkpointLocation", cfg.checkpointDir)
      .options(parquetOptions)
      .trigger(Trigger.ProcessingTime(cfg.maxFileOpenDuration.toMillis)) // S6
      .partitionBy(partitionCols: _*)
      .start()
  }

  /** Size-capped roller (S5), exactly-once per batch id. It adapts
    * `maxRecordsPerFile` from measured bytes/record so files converge
    * on `maxFileSize` (the reference checks size after each record,
    * KPW:282-286/308-310; a micro-batch engine can only cap records).
    *
    * Each batch commits through `targetDir/_staging/<query id>/<batchId>`,
    * the reference's finalize-then-rename (KPW:327-354) made idempotent.
    * The query id is the checkpoint's (kept on restart, new with a new
    * checkpoint), so runs and pipelines sharing `targetDir` stay apart.
    *  1. delete this query's `<k>` for `k < batchId` (committed);
    *  2. unless `<batchId>` holds the roller's marker (not `_SUCCESS`,
    *     which `mapreduce.fileoutputcommitter.marksuccessfuljobs` can
    *     switch off), delete it, write the batch into it, and create the
    *     marker `_STAGED_<records>_<staged bytes>`;
    *  3. move each staged `.parquet` file into its partition directory,
    *     under the KPW name with `referenceFileNaming` (S9); a failed
    *     rename fails the batch;
    *  4. add the marker's figures to run-wide totals, whose ratio is the
    *     next batch's bytes/record.
    * A replay rewrites an unmarked staging directory or finishes the
    * moves of a marked one, so nothing lands twice; readers skip
    * `_`-prefixed directories; nothing lists `targetDir` itself.
    *
    * Spark 4.1.2's streaming file sink would honour a fixed record cap
    * (`FileStreamSink` passes its options to `FileFormatWriter.write`,
    * which reads `maxRecordsPerFile`), but a fixed count cannot hold a
    * byte band and its `_spark_metadata` log rules out S9 naming.
    */
  private def startSized(df: DataFrame, metrics: PipelineMetrics): StreamingQuery = {
    // bytes/record, 0 until the first batch seeds it from a JSON sample
    // (an overestimate, so its files land UNDER the cap; a fixed prior
    // breaches it on wide records), then run-wide totals: one small
    // batch's file overhead must not shrink the next batch's files.
    val bytesPerRecord, runRecords, runBytes = new AtomicLong(0)
    df.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sc = batch.sparkSession.sparkContext
        val dir = new Path(cfg.targetDir) // on its own filesystem, not the default one
        val fs = dir.getFileSystem(sc.hadoopConfiguration)
        val ours = new Path(new Path(dir, "_staging"), sc.getLocalProperty(StreamExecution.QUERY_ID_KEY))
        val staging = fs.makeQualified(new Path(ours, batchId.toString))
        if (fs.exists(ours))
          for (s <- fs.listStatus(ours) if s.getPath.getName.toLongOption.exists(_ < batchId))
            fs.delete(s.getPath, true)
        // listStatus: a located local status runs `ls` without libhadoop
        def staged(p: Path): Seq[FileStatus] = fs.listStatus(p).toSeq.flatMap(s =>
          if (s.isDirectory) staged(s.getPath) else Seq(s).filter(_.getPath.getName.endsWith(".parquet")))
        // a staged file's partition directories, re-rooted at targetDir
        def target(p: Path): Path = if (p.depth == staging.depth) dir else new Path(target(p.getParent), p.getName)
        val marked = Option(fs.globStatus(new Path(staging, "_STAGED_*"))).toSeq.flatten
          .map(_.getPath.getName.split('_').drop(2).map(_.toLong)).headOption
        // a marked batch is a replay: its files are written, finish the moves
        val (files, records, bytes) = marked.fold {
          fs.delete(staging, true)
          val cached = batch.persist()
          try {
            if (bytesPerRecord.get() == 0L) {
              val sample = cached.limit(500)
                .select(octet_length(to_json(struct(cached.columns.map(col).toIndexedSeq: _*))).as("b"))
                .agg(avg(col("b"))).collect().head
              val jsonAvg = if (sample.isNullAt(0)) 256.0 else sample.getDouble(0)
              bytesPerRecord.set(math.max(1L, math.ceil(jsonAvg).toLong))
            }
            cached.write
              .options(parquetOptions)
              .option("maxRecordsPerFile", math.max(1L, cfg.maxFileSize / bytesPerRecord.get()))
              .partitionBy(partitionCols: _*)
              .parquet(staging.toString)
            val files = staged(staging)
            val (n, b) = (cached.count(), files.map(_.getLen).sum) // count from cache
            fs.create(new Path(staging, s"_STAGED_${n}_$b")).close() // an empty file: never torn
            (files, n, b)
          } finally cached.unpersist()
        } { case Array(n, b) => (staged(staging), n, b) }

        for (f <- files) {
          val into = target(f.getPath.getParent)
          fs.mkdirs(into)
          val to = if (cfg.referenceFileNaming) kpwName(fs, into, f.getPath.getName)
            else new Path(into, f.getPath.getName)
          if (!fs.rename(f.getPath, to))
            throw new java.io.IOException(s"could not move ${f.getPath} to $to")
          metrics.recordClosedFile(f.getLen)
        }
        metrics.writtenRecords.addAndGet(records)
        runBytes.addAndGet(bytes)
        if (runRecords.addAndGet(records) > 0)
          bytesPerRecord.set(math.max(1L, runBytes.get() / runRecords.get()))
      }
      .option("checkpointLocation", cfg.checkpointDir)
      .trigger(Trigger.ProcessingTime(cfg.maxFileOpenDuration.toMillis))
      .start()
  }

  /** S9 exact naming (KPW:315-320): `<formatted-now>_<instance>_<shard>
    * .parquet`, shard = the writing task's index from Spark's part
    * number (the reference's thread index, KPW:93-94); a same-shard
    * same-millisecond file moves the time on by one millisecond. */
  private def kpwName(fs: FileSystem, into: Path, part: String): Path = {
    val shard = part.split("-")(1).toInt
    val fmt = DateTimeFormatter.ofPattern("yyyyMMdd-HHmmssSSS").withZone(ZoneOffset.UTC)
    Iterator.iterate(Instant.now())(_.plusMillis(1))
      .map(ts => new Path(into, s"${fmt.format(ts)}_${cfg.instanceName}_$shard.parquet"))
      .find(!fs.exists(_)).get
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
