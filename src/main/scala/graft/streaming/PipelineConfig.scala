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
  *    default 1 GiB             ↔ KPW:465 — honored only by
  *    `ExactlyOnceSized`; the native sink has no size cap, so a
  *    non-default value there is rejected.
  *  - `maxFileOpenDuration`     ↔ KPW:464 (default 900 s) — realized
  *    as the micro-batch trigger interval: a file is never open
  *    longer than one trigger (S6 semantics).
  *  - `directoryDateTimePattern`↔ KPW:105-108, KPW:706-712 — realized
  *    as a `partitionBy` on a date-formatted column.
  *  - `writerParallelism`       ↔ `threadCount`, KPW:460 — realized
  *    as a shuffle-free fan-out of the raw records to N writer tasks
  *    (`graft.plans.WriterFanOut`), at most N files per trigger: more
  *    source partitions than writers are coalesced, fewer are split
  *    record by record, and each file keeps arrival order. The Kafka
  *    source asks for at least N partitions (`minPartitions`).
  *  - `maxRecordsPerTrigger`    ↔ backpressure bound
  *    `maxQueuedRecordsInConsumer`, KPW:471 — realized as the
  *    source's `maxOffsetsPerTrigger`-style rate cap.
  *  - parquet knobs             ↔ ParquetFile.java:42-51 /
  *    KPW:476-492 (block size, page size, codec, dictionary).
  *
  * Both delivery modes are exactly-once, strictly stronger than the
  * reference's at-least-once (SURVEY §2.1 S10): `ExactlyOnce` uses
  * Spark's native file sink (offset WAL + sink commit log), while
  * `ExactlyOnceSized` uses a byte-size-capped roller in `foreachBatch`
  * that matches the reference's size-rolling accuracy and commits each
  * batch idempotently through a staging directory keyed by query id and
  * batch id.
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
      * scheme (KPW:315-320, defaults KPW:489-491). Rejected outside
      * [[DeliveryMode.ExactlyOnceSized]]: the native sink's
      * `_spark_metadata` commit log records file names, so renaming
      * there would desync the log — the same reason the reference
      * only names files it owns the commit protocol for. */
    referenceFileNaming: Boolean = false) {
  PipelineConfig.validate(this)
}

sealed trait DeliveryMode
object DeliveryMode {
  /** Native streaming parquet sink: checkpointed, idempotent commits;
    * time-based rolling per trigger, no file-size cap. */
  case object ExactlyOnce extends DeliveryMode
  /** foreachBatch roller with adaptive byte-size file caps; a replayed
    * batch id finishes or redoes its own staged commit, so it closes
    * the reference's duplication window (KPW:43-44). */
  case object ExactlyOnceSized extends DeliveryMode
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
    val sized = c.delivery == DeliveryMode.ExactlyOnceSized
    require(sized || c.maxFileSize == DefaultMaxFileSize,
      s"maxFileSize is only honored by ${DeliveryMode.ExactlyOnceSized}")
    require(sized || !c.referenceFileNaming,
      s"referenceFileNaming is only honored by ${DeliveryMode.ExactlyOnceSized}")
  }
}
