package graft

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession

/** One place for engine session defaults so Verify, Bench, and tests
  * run with identical semantics.
  *
  *  - UTC session timezone (oracle parity).
  *  - AQE on for batch queries: runtime shuffle coalescing + skew-join
  *    splitting — the behaviors that keep these plans healthy at 100 TB.
  *  - `nanosAsLong`: lets the parquet reader accept TIMESTAMP(NANOS)
  *    columns (see [[Tables]]).
  *  - shuffle partitions sized to the local core count, not 200.
  *  - checkpoint files on `file:` paths committed by
  *    [[graft.streaming.LocalCheckpointFileManager]], which starts no
  *    `chmod`/`readlink` processes; other schemes keep Spark's manager.
  *  - `file:` bound to [[graft.streaming.NioLocalFileSystem]], so the
  *    files the sinks write start no `chmod` processes either.
  *  - stateless streaming micro-batches planned without AQE, as one
  *    job: AQE would run each stage as its own job with a re-plan in
  *    between, a fixed cost per micro-batch. Batch queries keep AQE, and
  *    Spark already plans stateful micro-batches without it.
  *  - the session's Hadoop configuration keeps no property sources.
  *    `Configuration.write` GZIPs each property's source names, and
  *    every query ships copies of this configuration: the scan's
  *    broadcast and the write closure's two (job description and stats
  *    tracker), serialized twice on the driver and once per writer
  *    task. With ~1,100 default properties a serialized copy is 114 KB
  *    with the sources and 70 KB without, and the GZIP work per copy is
  *    gone. The sources are dropped only after the shared state and
  *    `JobConf` have registered their default resources, because each
  *    registration reloads every configuration and brings them back.
  *    Values, final parameters and deprecations are unchanged; only
  *    `getPropertySources` stops naming the file (`core-`, `mapred-`,
  *    `yarn-default.xml`) a default key came from.
  */
object GraftSession {
  def build(master: String, shufflePartitions: Int): SparkSession = {
    val stateProvider = sys.env.getOrElse("SPARK_GRAFT_STATE_PROVIDER",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val spark = SparkSession.builder()
      .master(master)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.streaming.stateless.enabled", "false")
      // NOTE: adaptive.coalescePartitions.initialPartitionNum is left
      // at its default (= shuffle.partitions). A 4× value was measured
      // here and REJECTED: at bench scale it cost ~30% wall-clock
      // (q28 2.2× slower) because every shuffle pays 4× task overhead
      // while AQE's skew-join splitter already handles hot keys
      // without it. On a real cluster it belongs in deploy config,
      // sized to executor count, not hard-coded by the engine.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Timestamp parquet output stays INT96 (the Spark default):
      // pyarrow reads INT96 as TZ-NAIVE timestamp[ns], which is what
      // a pandas-level compare coerces cleanly against DuckDB's naive
      // timestamp[us]. TIMESTAMP_MICROS was tried and REVERTED — it
      // stamps isAdjustedToUTC=true, so every timestamp column comes
      // back tz-AWARE and a naive-vs-aware astype in the oracle
      // compare hard-fails (9 green queries would go red).
      // Survive multi-minute host/VM stalls in local mode: the default
      // 120 s heartbeat timeout killed a local executor mid-bench when
      // the VM froze ~150 s (virtualization-level scheduling lag —
      // kernel logged hrtimer interrupts of 400 ms), after which every
      // remaining query failed on a dead SparkContext. A local
      // executor cannot be "lost" in any recoverable sense, so a
      // generous timeout strictly dominates. On a real cluster this is
      // deploy config.
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeatInterval", "60s")
      // RocksDB state store for every stateful streaming query (the
      // gate path runs q69/q70/q78/q80 through this session): state
      // lives off-heap and spills to local disk, so state volume is
      // bounded by disk — not executor heap — which is the only
      // 100 TB-credible backend. The default HDFSBackedStateStore
      // keeps every version of every key on-heap.
      // Overridable for deployments whose state genuinely fits the
      // executor heap (tiny keyed aggregations): the HDFS-backed store
      // skips the native-instance open/commit tax per store per batch.
      // The DEFAULT stays RocksDB — the only backend whose state
      // volume is bounded by disk, which is what survives 100 TB.
      // A/B MEASURED (r8, interleaved passes, min of counted reps,
      // BASELINE.md §I): q103 3.17 vs 2.71 s, q113 2.98 vs 2.82,
      // q184 2.68 vs 2.90, q219 3.49 vs 3.53 (RocksDB vs HDFS) —
      // within the ±0.5 s host-noise envelope, i.e. the native-store
      // tax is NOT measurable at gate scale, while the per-operator
      // state metrics show the structural difference the default buys:
      // q219's join state lives in 21 MB of native/disk-bounded
      // RocksDB memory vs 11 MB ON-HEAP (all versions) under HDFS,
      // and changelog commit stays O(batch) (289 ms for a 77 k-put
      // batch).
      .config("spark.sql.streaming.stateStore.providerClass", stateProvider)
      // Stream-stream join state format v3 (Spark 4): the four state
      // stores a v2 join keeps PER PARTITION PER SIDE-PAIR
      // (keyToNumValues / keyWithIndexToValue × 2 sides) collapse
      // into ONE RocksDB store with virtual column families. Every
      // store instance pays a fixed per-batch load/commit/changelog
      // tax regardless of its size — the dominant cost of the
      // streaming joins at gate volume (measured: a 2-row flush
      // batch spent ~2.4 s of summed commit + ~3.0 s of summed
      // update time across q219's 16 v2 join stores), and at
      // production scale 4× the instances means 4× the snapshot/
      // changelog files per checkpoint. v3 requires the RocksDB
      // provider (virtual column families are a RocksDB feature), so
      // it tracks the provider choice: an HDFS-store override falls
      // back to the v2 default. Format is pinned into the checkpoint
      // at first start; state LAYOUT only — join results are
      // identical (oracle-gated q80/q103/q113/q219).
      .config("spark.sql.streaming.join.stateFormatVersion",
        sys.env.getOrElse("SPARK_GRAFT_JOIN_STATE_FORMAT",
          if (stateProvider.contains("RocksDB")) "3" else "2"))
      // Changelog checkpointing: commit only the batch's delta to the
      // checkpoint location instead of re-uploading a full RocksDB
      // snapshot zip per store per micro-batch. Snapshot cost is
      // O(state), changelog cost is O(batch) — the difference between
      // a constant per-batch tax and one that grows with total state
      // (background snapshots still bound replay length on restart).
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      // numKeys bookkeeping does a read-before-every-write purely for
      // a metrics counter; the engine's operators never consume it
      .config("spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows", "false")
      // Finite gate/bench runs stop after processAllAvailable — the
      // trailing no-data micro-batch (watermark-driven state eviction
      // with no new input) costs a full batch cycle per stateful query
      // without changing any emitted result for these query shapes
      // (complete/update-mode aggs re-emit on data; inner interval
      // joins emit on match). Production continuous pipelines should
      // re-enable it so idle streams still evict state.
      .config("spark.sql.streaming.noDataMicroBatches.enabled",
        sys.env.getOrElse("SPARK_GRAFT_NODATA_BATCHES", "false"))
      .config("spark.sql.streaming.checkpointFileManagerClass",
        classOf[graft.streaming.LocalCheckpointFileManager].getName)
      .config("spark.hadoop.fs.file.impl", classOf[graft.streaming.NioLocalFileSystem].getName)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    dropPropertySources(spark)
    spark
  }

  /** Drops the property sources of `sparkContext.hadoopConfiguration`,
    * which `sessionState.newHadoopConf()` copies. The shared state and
    * `JobConf`'s class init (the mapred and yarn defaults the first
    * `Job.getInstance` would add) register their resources first, and
    * `size()` loads every resource. Hadoop allocates the map lazily and
    * null-checks every read; a Hadoop without the field fails here. */
  private def dropPropertySources(spark: SparkSession): Unit = {
    spark.sharedState
    Class.forName("org.apache.hadoop.mapred.JobConf")
    val conf = spark.sparkContext.hadoopConfiguration
    conf.size()
    val sources = classOf[Configuration].getDeclaredField("updatingResource")
    sources.setAccessible(true)
    sources.set(conf, null)
  }
}
