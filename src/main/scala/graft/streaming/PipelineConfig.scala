package graft.streaming

import scala.concurrent.duration._

/** Pipeline configuration — the engine's equivalent of the reference
  * builder (`KafkaProtoParquetWriter.Builder`, KPW:453-752), as an
  * idiomatic case class + smart constructor.
  *
  * Field ↔ reference mapping (citations into /root/reference):
  *  - `instanceName`            ↔ KPW:641-647 (file-name component)
  *  - `targetDir` non-empty     ↔ KPW:733 validation
  *  - `maxFileSize` ≥ 100 KiB   ↔ KPW:456 (`MIN_ALLOWED_FILE_SIZE`),
  *    default 1 GiB             ↔ KPW:465
  *  - `maxFileOpenDuration`     ↔ KPW:464 (default 900 s) — realized
  *    as the micro-batch trigger interval: a file is never open
  *    longer than one trigger (S6 semantics).
  *  - `directoryDateTimePattern`↔ KPW:105-108, KPW:706-712 — realized
  *    as a `partitionBy` on a date-formatted column.
  *  - `writerParallelism`       ↔ `threadCount`, KPW:460 — realized
  *    as sink-side repartition (files per trigger).
  *  - `maxRecordsPerTrigger`    ↔ backpressure bound
  *    `maxQueuedRecordsInConsumer`, KPW:471 — realized as the
  *    source's `maxOffsetsPerTrigger`-style rate cap.
  *  - parquet knobs             ↔ ParquetFile.java:42-51 /
  *    KPW:476-492 (block size, page size, codec, dictionary).
  *
  * Unlike the reference, delivery semantics are selectable:
  * `ExactlyOnce` uses Spark's native file sink (offset WAL + sink
  * commit log — strictly stronger than the reference's at-least-once,
  * SURVEY §2.1 S10), while `AtLeastOnceSized` uses a byte-size-capped
  * custom roller in `foreachBatch` that matches the reference's
  * size-rolling accuracy at the reference's delivery level.
  */
final case class PipelineConfig(
    targetDir: String,
    checkpointDir: String,
    instanceName: String = "graft",
    maxFileSize: Long = PipelineConfig.DefaultMaxFileSize,
    maxFileOpenDuration: FiniteDuration = 900.seconds,
    directoryDateTimePattern: Option[String] = None,
    deadLetterDir: Option[String] = None,
    writerParallelism: Int = 1,
    maxRecordsPerTrigger: Option[Long] = None,
    compression: String = "snappy",
    parquetBlockSize: Long = 128L * 1024 * 1024,
    parquetPageSize: Long = 1024 * 1024,
    dictionaryEnabled: Boolean = true,
    delivery: DeliveryMode = DeliveryMode.ExactlyOnce,
    /** Rename finalized files to the reference's
      * `<yyyyMMdd-HHmmssSSS>_<instanceName>_<shardIndex>.parquet`
      * scheme (KPW:315-320, defaults KPW:489-491). Only honored in
      * [[DeliveryMode.AtLeastOnceSized]]: the exactly-once sink's
      * `_spark_metadata` commit log records file names, so renaming
      * there would desync the log — the same reason the reference
      * only names files it owns the commit protocol for. */
    referenceFileNaming: Boolean = false) {
  PipelineConfig.validate(this)
}

sealed trait DeliveryMode
object DeliveryMode {
  /** Native streaming parquet sink: checkpointed, idempotent commits;
    * time-based rolling per trigger, record-count file sizing. */
  case object ExactlyOnce extends DeliveryMode
  /** foreachBatch roller with adaptive byte-size file caps; replays a
    * failed batch (the reference's duplication window, KPW:43-44). */
  case object AtLeastOnceSized extends DeliveryMode
}

object PipelineConfig {
  val MinAllowedFileSize: Long = 100L * 1024 // KPW:456
  val DefaultMaxFileSize: Long = 1L << 30 // KPW:465

  private def validate(c: PipelineConfig): Unit = {
    require(c.targetDir.nonEmpty, "targetDir must be non-empty") // KPW:733
    require(c.checkpointDir.nonEmpty, "checkpointDir must be non-empty")
    require(c.instanceName.nonEmpty, "instanceName must be non-empty")
    require(c.maxFileSize >= MinAllowedFileSize,
      s"maxFileSize must be >= $MinAllowedFileSize bytes") // KPW:456
    require(c.maxFileOpenDuration > Duration.Zero,
      "maxFileOpenDuration must be positive") // KPW:457-458
    require(c.writerParallelism > 0, "writerParallelism must be positive")
    require(c.maxRecordsPerTrigger.forall(_ > 0),
      "maxRecordsPerTrigger must be positive")
    require(c.parquetBlockSize > 0 && c.parquetPageSize > 0,
      "parquet sizes must be positive")
    require(c.parquetPageSize <= Int.MaxValue, // parquet-mr reads it as an int
      "parquetPageSize must fit in an int")
  }
}
