package graft.operators

import java.util.concurrent.atomic.AtomicLong

import graft.Tables
import graft.functions.VectorFunctions.{vec_dot, vec_norm}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Streaming↔batch parity under the oracle gate: these queries
  * execute THROUGH Structured Streaming (file-stream source →
  * event-time window aggregation → memory sink, run to completion)
  * and their results hash-match the same DuckDB SQL that a batch
  * query would — the strongest form of the "streaming is first-class,
  * not a separate semantics" claim (SURVEY §2.2 streaming rows).
  *
  * The source is `readStream.parquet` over the same table files (no
  * driver-side replay); aggregates follow the engine's determinism
  * policy (counts + DECIMAL sums), so micro-batch boundaries cannot
  * affect the result. In production the identical pipeline reads
  * Kafka; only the source wiring string changes.
  */
/** Typed rows for the q92 arbitrary-state pipeline (file-top-level so
  * the case-class encoders have no outer scope). */
case class UserEvent(user_id: Long, ts_us: Long, value_micro: Long)
case class UserProfile(
    user_id: Long, n_events: Long, total_micro: Long, first_us: Long, last_us: Long)

/** Typed rows for the q97 transformWithState pipeline. */
case class TypedEv(event_type: String, value_micro: Long)
case class TypeStats(
    event_type: String, n_events: Long, total_micro: Long, max_micro: Long)

/** Typed rows for the q143 streamed count-min sketch. */
case class KeyedUser(event_type: String, user_id: Long)
case class CmsState(event_type: String, n_total: Long, cells: Array[Long])

object StreamingParity {

  private val runId = new AtomicLong(0)

  // memory-sink tables created by earlier invocations (bench reps,
  // warmup runs) pin their materialized results on the driver heap
  // until dropped; each new run releases every table from prior runs
  // (the current run's table must survive — the caller consumes it
  // lazily after return)
  private val liveSinks = new java.util.concurrent.ConcurrentLinkedQueue[(SparkSession, String)]()
  private def dropPriorSinks(s: SparkSession): Unit = {
    var e = liveSinks.poll()
    while (e != null) {
      try { if (!e._1.sparkContext.isStopped) e._1.catalog.dropTempView(e._2) }
      catch { case _: Throwable => () }
      e = liveSinks.poll()
    }
  }

  /** q237's STATELESS pipeline front over an arbitrary incoming
    * relation (vec_id, embedding, …) — batch or stream — and a
    * pre-bucketed corpus index (cand_id, cv, bucket, cn): in-row
    * margin probes at flip budget `radius` → ONE equi-join on the
    * index's bucket column → per-candidate cosine. Pure projection
    * plus one stream-static join: no watermark, no state store, no
    * window — the plan an online retrieval tier runs per micro-batch
    * (plan-pinned zero-exchange/zero-window on the probe side in
    * PlanQualitySpec). The aggregation lives in
    * [[vectorSearchSummary]], applied PER MICRO-BATCH by
    * [[runPerBatchToParquet]] — never as an unbounded streaming agg
    * (r14 verdict #1). */
  private[graft] def vectorSearchHits(incomingRaw: DataFrame,
      corpus: DataFrame, radius: Int): DataFrame = {
    val incoming = incomingRaw
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        Similarity.bucketExprSpark("embedding", 16).as("qbucket"),
        vec_norm(col("embedding")).as("qn"))
    Similarity.inRowMarginProbes(incoming, width = 16, soft = 10,
        radius = radius)
      .join(corpus, Seq("bucket"))
      // self-exclusion (r14 ADVICE): a caller whose incoming relation
      // overlaps the corpus split must never be answered with the
      // query's own vector at cos 1.0 — the q237 %4 splits are
      // disjoint, so this is a no-op there, but the contract says
      // "arbitrary incoming relation"; the DuckDB twin carries the
      // same predicate
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cos_sim",
        round(vec_dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 4))
  }

  /** q237's per-query summary — candidate count + deterministic best
    * match (highest cosine, then lowest cand_id via the negated-struct
    * max). A PLAIN BATCH aggregation: the streaming runner applies it
    * per micro-batch (each arriving query's probes, join hits and
    * summary all live inside the one batch that carried the query —
    * the pipeline holds no cross-batch state), the batch twin applies
    * it to the whole relation, and the two agree because every
    * query_id arrives exactly once. A query re-submitted in a later
    * batch would simply be answered again — request/response
    * semantics, the correct posture for a search tier. */
  private[graft] def vectorSearchSummary(hits: DataFrame): DataFrame =
    hits.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_candidates"),
        max(struct(col("cos_sim").as("c"), (-col("cand_id")).as("nc")))
          .as("best"))
      .select(col("query_id"), col("n_candidates"),
        col("best.c").as("best_cos"), (-col("best.nc")).as("best_cand"))

  /** Batch twin of the streaming vector search — the reference the
    * micro-batch-invariance spec A/Bs against. */
  private[graft] def streamVectorSearch(incomingRaw: DataFrame,
      corpus: DataFrame, radius: Int = 2): DataFrame =
    vectorSearchSummary(vectorSearchHits(incomingRaw, corpus, radius))

  /** q238's per-query TOP-K ranking — the q234 output shape
    * (query_id, cand_id, probe_hamming, cos_sim, rn), computed over a
    * hit relation. Like [[vectorSearchSummary]] this is a plain batch
    * aggregation the streaming runner applies per micro-batch: the
    * window partitions by query_id, and every hit of a query lives in
    * the one batch that carried the query, so the per-batch ranking
    * IS the global ranking. */
  private[graft] def vectorSearchTopK(hits: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("cand_id"))
    hits.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("cand_id"), col("probe_hamming"),
        col("cos_sim"), col("rn").cast("long").as("rn"))
  }

  /** Shared front of q237/q238 — calibrated flip budget (q236's
    * selector on the corpus split, memoized) + the CacheRegistry-
    * persisted standing index + the stateless hit stream over the
    * arriving `% 4 = 0` split. Returns (budget, hits). */
  private def streamSearchFront(s: SparkSession, d: String): (Int, DataFrame) = {
    val corpusEmb = Tables(s, d, "embeddings").filter(col("vec_id") % 4 =!= 0)
    val budget = Similarity.selectMarginBudget(corpusEmb,
      tag = s"streamvec:$d", targetRecallMicro = 40000L)
    val corpus = graft.CacheRegistry.getOrPersist(s,
      s"streamvec.corpus:w16:$d") { vectorIndexOf(corpusEmb) }
    val incoming = embStream(s, d).filter(col("vec_id") % 4 === 0)
    (budget, vectorSearchHits(incoming, corpus, budget))
  }

  /** Corpus-index builder shared by q237 and its spec: the standing
    * side of the stream-static search, bucketed at width 16. */
  private[graft] def vectorIndexOf(emb: DataFrame): DataFrame =
    emb.select(col("vec_id").as("cand_id"), col("embedding").as("cv"),
      Similarity.bucketExprSpark("embedding", 16).as("bucket"),
      vec_norm(col("embedding")).as("cn"))

  /** embeddings as an unbounded stream (the ingest side of the
    * streaming vector search, q237). */
  private def embStream(s: SparkSession, d: String): DataFrame = {
    val schema = s.read.parquet(s"$d/embeddings.parquet").schema
    s.readStream.schema(schema)
      .option("pathGlobFilter", "embeddings.parquet").parquet(d)
  }

  /** documents as an unbounded stream (the ingest side of the
    * incremental-dedup query). */
  private def docStream(s: SparkSession, d: String): DataFrame = {
    val schema = s.read.parquet(s"$d/documents.parquet").schema
    s.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(d)
  }

  /** Per-document MinHash band hashes computed ENTIRELY in-row
    * (tokens → distinct 3-shingles → 16 MinHash lanes → 4 band hashes as
    * array transforms over the document's own token list): a pure map
    * stage with no exchange and no per-key state, so the same Column
    * expressions band a bounded table and an unbounded stream. Uses
    * the identical md5 construction as [[TextDedup]] q29 (lanes
    * 4i..4i+3 are the per-shingle lexicographic mins of the four
    * 32-bit hex quarters of `md5(i || '|' || shingle)` — 16
    * permutations from 4 md5 evaluations, r11; scheme versioning in
    * [[TextDedup.SignatureSchemeVersion]]), so the DuckDB oracle
    * reproduces signatures with the same SQL.
    */
  private[graft] def inRowBands(docs: DataFrame): DataFrame = {
    val withSh = docs
      .select(col("doc_id"),
        regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0)).as("ws"))
      .filter(size(col("ws")) >= 3) // sequence(1, 0) would count DOWN
      .select(col("doc_id"), expr(
        "array_distinct(transform(sequence(1, size(ws)-2), " +
          "i -> concat_ws(' ', ws[i-1], ws[i], ws[i+1])))").as("sh"))
    val withSig = (0 until 4).foldLeft(withSh) { (df, i) =>
      val withH = df.withColumn(s"hh$i",
        expr(s"transform(sh, x -> md5(cast(concat('$i|', x) AS binary)))"))
      (0 until 4).foldLeft(withH) { (d2, q) =>
        d2.withColumn(s"h${4 * i + q}",
          expr(s"array_min(transform(hh$i, x -> substr(x, ${8 * q + 1}, 8)))"))
      }
    }
    withSig.select(col("doc_id"), explode(array((0 until 4).map { b =>
      struct(lit(b).as("band"),
        md5(concat(col(s"h${4 * b}"), col(s"h${4 * b + 1}"),
          col(s"h${4 * b + 2}"), col(s"h${4 * b + 3}")).cast("binary")).as("bh"))
    }: _*)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.bh").as("bh"))
  }

  /** events as an unbounded stream with the same ts normalization
    * [[graft.Tables]] applies to the batch path (nanos-as-LONG and
    * TIMESTAMP_NTZ both → session-zone TimestampType — watermarks
    * reject NTZ event-time columns). */
  private def eventStream(s: SparkSession, d: String): DataFrame = {
    val schema = s.read.parquet(s"$d/events.parquet").schema
    // the file-stream source lists a DIRECTORY; pathGlobFilter pins
    // it to the events table file within the shared sf dir
    val raw = s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(d)
    graft.Tables.normalizeTs(raw, "ts")
  }

  /** Start a streaming query with `n` state partitions (pinned into
    * the checkpoint at query start), restoring the session setting
    * afterwards. Every stateful operator pays a fixed per-store
    * per-batch cost (RocksDB instance open + commit); at gate volume
    * that fixed cost dominates, so the stateful queries run with 8
    * state partitions instead of the session's 32 — a real deployment
    * sizes this to state volume, not core count. */
  private def withStateParts[A](s: SparkSession, n: Int)(start: => A): A = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try start finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Fail-loudly guard for a DURABLE checkpoint of a band-hash-
    * stateful stream (the q82 shape: state aggregates band hits).
    * Band hashes from different [[TextDedup.SignatureSchemeVersion]]s
    * are incompatible; a resume across a scheme change would silently
    * DROP duplicate matches rather than error (r11 ADVICE — the
    * version stamp on in-session registry keys cannot reach an
    * on-disk checkpoint). First start writes a
    * `graft-signature-scheme` marker next to the checkpoint metadata;
    * any later start under a different scheme version throws with
    * instructions instead of under-reporting. Hadoop FileSystem API,
    * not java.nio: production checkpoints live on HDFS/S3. */
  private[graft] def guardSignatureCheckpoint(s: SparkSession, dir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val p = new Path(dir, "graft-signature-scheme")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val v = s"v${TextDedup.SignatureSchemeVersion}"
    // publish via temp-file + rename (the AuditSink commit pattern):
    // a crash mid-write must never leave a truncated marker that a
    // later start misreads as a scheme mismatch
    def stamp(): Unit = {
      val tmp = new Path(dir, "graft-signature-scheme.tmp")
      val out = fs.create(tmp, true)
      try out.write(v.getBytes("UTF-8")) finally out.close()
      if (fs.exists(p)) fs.delete(p, false)
      require(fs.rename(tmp, p), s"could not publish scheme marker at $p")
    }
    if (fs.exists(p)) {
      val in = fs.open(p)
      val found = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
      // empty ⇒ a torn legacy write, not a scheme: re-stamp, don't
      // fail with a misleading "scheme  vs v3" message
      if (found.isEmpty) stamp()
      else require(found == v,
        s"checkpoint $dir was written under MinHash signature scheme " +
          s"$found but this engine computes $v: band hashes are " +
          "incompatible across schemes, so resuming would silently " +
          "drop duplicate matches. Discard the checkpoint and rebuild " +
          "the stream state (TextDedup.SignatureSchemeVersion scaladoc).")
    } else stamp()
  }

  /** Run a finite streaming query to completion into a memory sink
    * and return the materialized result. `checkpointDir`, when given,
    * pins an explicit checkpoint location (the memory sink otherwise
    * uses an ephemeral temp checkpoint). */
  private def runToCompletion(agg: DataFrame, name: String,
      checkpointDir: Option[String] = None): DataFrame = {
    val s = agg.sparkSession
    dropPriorSinks(s)
    liveSinks.add((s, name))
    val q = withStateParts(s, 8) {
      val w = agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
      checkpointDir.fold(w)(d => w.option("checkpointLocation", d)).start()
    }
    try q.processAllAvailable() finally q.stop()
    s.table(name)
  }

  // parquet result dirs of per-batch gate runs (foreachBatch sink):
  // always local JVM temp dirs (Files.createTempDirectory), deleted
  // by ONE shutdown hook at JVM exit rather than eagerly — so a
  // returned DataFrame stays readable for the whole session (no
  // use-after-free when a caller constructs several results before
  // consuming any — r15 review), and unlike the driver-heap memory
  // sinks liveSinks must free mid-session, these dirs only cost
  // bounded local disk (per-query summaries at gate scale)
  private val liveDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val dirCleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      var d = liveDirs.poll()
      while (d != null) {
        try {
          val walk = java.nio.file.Files.walk(d)
          try {
            import scala.jdk.CollectionConverters._
            // deepest-first so directories are empty when deleted
            walk.iterator().asScala.toSeq.reverse.foreach { p =>
              try java.nio.file.Files.deleteIfExists(p)
              catch { case scala.util.control.NonFatal(_) => () }
            }
          } finally walk.close()
        } catch { case scala.util.control.NonFatal(_) => () }
        d = liveDirs.poll()
      }
    }, "graft-perbatch-dir-cleanup"))

  /** Run a STATELESS hit stream to completion through `foreachBatch`,
    * applying `summarize` (a plain batch aggregation) per micro-batch
    * and writing each batch's summary under a DETERMINISTIC
    * `batch_id=<id>` path with overwrite — the per-batch-emission
    * tail the r14 verdict asked for (#1): the streaming plan itself
    * carries no aggregation, so there is NO state store, NO
    * watermark, and nothing driver-resident; per batch the work is
    * O(batch) and the write is idempotent under replay (a recovered
    * batch re-overwrites its own directory — the standard
    * foreachBatch exactly-once recipe), which is how an online
    * retrieval tier actually lands results in a serving store.
    * Contrast with the complete-mode memory sink this replaced:
    * state grew with every query ever seen and the full result table
    * re-materialized on the driver each batch. Returns the
    * accumulated summaries (the `batch_id` partition column dropped);
    * expects at least one non-empty micro-batch (the gate and specs
    * always stream real rows — an empty stream would leave nothing
    * to infer a schema from). */
  private[graft] def runPerBatchToParquet(hits: DataFrame, name: String,
      drive: org.apache.spark.sql.streaming.StreamingQuery => Unit =
        _.processAllAvailable(),
      durable: Option[(String, String)] = None)(
      summarize: DataFrame => DataFrame): DataFrame = {
    val s = hits.sparkSession
    // `durable = Some((resultDir, checkpointDir))` gives the run REAL
    // restart semantics (r15 ADVICE): results land under the caller's
    // resultDir and the offset WAL under its checkpointDir, so a
    // killed query restarted with the same pair resumes from the WAL
    // and a REPLAYED batch re-overwrites its own batch_id= directory
    // instead of duplicating rows — exercised by the kill/restart
    // spec in StreamingOpsSpec. The default (gate runs) keeps the
    // ephemeral JVM-temp result dir + temp checkpoint: idempotent
    // within a run, no recovery expected.
    val dir = durable.map(_._1).getOrElse {
      dirCleanupHook
      val dirPath = java.nio.file.Files.createTempDirectory(s"graft-$name")
      liveDirs.add(dirPath)
      dirPath.toString
    }
    val q = withStateParts(s, 8) {
      val w = hits.writeStream
        .queryName(name)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          summarize(batch).write.mode("overwrite").parquet(s"$dir/batch_id=$id")
        }
      durable.fold(w) { case (_, ck) => w.option("checkpointLocation", ck) }
        .start()
    }
    try drive(q) finally q.stop()
    s.read.parquet(dir).drop("batch_id")
  }

  /** Append-mode twin of [[runToCompletion]] for STATELESS stream
    * transforms (joins/maps with no aggregation): every input row is
    * emitted exactly once, so the memory sink accumulates the full
    * result set. */
  private def runAppendToCompletion(df: DataFrame, name: String): DataFrame = {
    val s = df.sparkSession
    dropPriorSinks(s)
    liveSinks.add((s, name))
    val q = withStateParts(s, 8) {
      df.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    }
    try q.processAllAvailable() finally q.stop()
    s.table(name)
  }

  /** Shared scaffolding for append-mode stateful queries whose output
    * only drains when the WATERMARK advances (outer-join null
    * emission, post-join window finalization — q103/q113/q219): the
    * file events union a MemoryStream of far-future sentinel rows,
    * batch 0 carries the first sentinel pair WITH the data (so the
    * batch's event-time max already includes it — one trailing batch
    * then suffices to drain evictions: 2 batch cycles total, each one
    * opening/committing every state store, the dominant fixed cost at
    * gate volume).
    *
    * Sentinel subtleties, shared by construction instead of
    * hand-replicated per query: Catalyst pushes each side's
    * event_type filter BELOW the EventTimeWatermark node, so a
    * sentinel only advances a side's watermark if it PASSES that
    * side's filter (the multi-watermark policy takes the min across
    * nodes — one starved node pins the global watermark); every batch
    * therefore carries one sentinel per event_type, with caller-chosen
    * NEGATIVE user ids so sentinels can never join real rows — and,
    * for inner-join callers, distinct ids per type so they can never
    * join EACH OTHER.
    */
  private def runWithWatermarkFlush(
      s: SparkSession, d: String, name: String, stateParts: Int,
      sentinels: Seq[(String, Long)])(
      build: DataFrame => DataFrame): DataFrame = {
    import s.implicits._
    val fileEv = eventStream(s, d)
      .select(col("user_id"), col("event_type"), col("ts"))
    val flush =
      MemoryStream[Int]((runId.incrementAndGet() & 0x3fffffff).toInt, s, None)
    val flushDf = flush.toDF()
      .select(explode(array(sentinels.map { case (et, uid) =>
          struct(lit(uid).as("user_id"), lit(et).as("event_type"))
        }: _*)).as("e"),
        expr("timestampadd(DAY, value, timestamp'2024-06-01 00:00:00')").as("ts"))
      .select(col("e.user_id"), col("e.event_type"), col("ts"))
    val ev = fileEv.unionByName(flushDf).withWatermark("ts", "2 hours")
    val out = build(ev)
    dropPriorSinks(s)
    liveSinks.add((s, name))
    flush.addData(1)
    val q = withStateParts(s, stateParts) {
      out.writeStream.outputMode("append")
        .format("memory").queryName(name).start()
    }
    try {
      q.processAllAvailable()
      flush.addData(2); q.processAllAvailable()
    } finally q.stop()
    s.table(name)
  }

  /** q143's count-min geometry and row hashes — shared verbatim by the
    * streaming state update (plain Scala) and the post-process
    * estimate expression (Column arithmetic), so the two sides are
    * the same function by construction. h_i(u) = ((u mod M)·P_i +
    * Q_i) mod M mod W with fixed odd constants; every operand stays
    * positive so Scala %, Spark pmod and the estimate expression all
    * agree. */
  private[graft] object Cms extends Serializable {
    val Rows = 4
    val Width = 512
    val M = 1000003L
    val P: Array[Long] = Array(31L, 131L, 1031L, 10331L)
    val Q: Array[Long] = Array(7L, 77L, 777L, 7777L)
    def bucket(i: Int, u: Long): Int =
      ((((u % M) + M) % M * P(i) + Q(i)) % M % Width).toInt
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // q143: streamed heavy hitters through a count-min sketch held in
    // transformWithState state — the unbounded-cardinality analogue
    // of q70's distinct counting: per event type the state is a FIXED
    // 4×512 cell array + total, whatever the user cardinality. Cell
    // increments are commutative sums, so micro-batch boundaries
    // cannot change the final sketch (same argument as q92/q97) and
    // the run-to-completion result equals a batch-built sketch. The
    // gate follows q85's sketch-accuracy form: for the exact top-5
    // users per type (batch-computed candidates), the CM estimate
    // must dominate the exact count (a hard CM guarantee) and stay
    // within the n·3/512 error envelope (deterministic for the fixed
    // hash family + fixture). Estimates are computed declaratively
    // over the final cells array with the SAME hash arithmetic as the
    // state update (see [[Cms]]).
    "q143_stream_cms_hh" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, ValueState}
      val ev = eventStream(s, d)
        .select(col("event_type"), col("user_id")).as[KeyedUser]
      val processor = new StatefulProcessor[String, KeyedUser, CmsState] {
        @transient private var st: ValueState[CmsState] = _
        override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
          st = getHandle.getValueState[CmsState]("cms",
            org.apache.spark.sql.Encoders.product[CmsState],
            org.apache.spark.sql.streaming.TTLConfig.NONE)
        override def handleInputRows(key: String, rows: Iterator[KeyedUser],
            timerValues: TimerValues): Iterator[CmsState] = {
          var p = if (st.exists()) st.get()
            else CmsState(key, 0L, new Array[Long](Cms.Rows * Cms.Width))
          val cells = p.cells.clone()
          var n = p.n_total
          rows.foreach { e =>
            var i = 0
            while (i < Cms.Rows) {
              cells(i * Cms.Width + Cms.bucket(i, e.user_id)) += 1L
              i += 1
            }
            n += 1L
          }
          p = CmsState(key, n, cells)
          st.update(p)
          Iterator.single(p)
        }
      }
      val updated = ev.groupByKey(_.event_type)
        .transformWithState(processor, TimeMode.None(), OutputMode.Update())
      val name = s"graft_stream_cms_${runId.incrementAndGet()}"
      dropPriorSinks(s)
      liveSinks.add((s, name))
      // 4 state partitions: the state key is event_type (5 values), so
      // update parallelism is key-bounded anyway and every extra
      // partition is one more empty store paying the per-batch
      // open/commit tax (r17; the q184 cardinality-sizing rationale)
      val q = withStateParts(s, 4) {
        updated.toDF().writeStream.outputMode(OutputMode.Update())
          .format("memory").queryName(name).start()
      }
      try q.processAllAvailable() finally q.stop()
      // final sketch per type = the row with the largest n_total
      // (n_total is strictly increasing across a type's batches)
      val finalSketch = s.table(name).groupBy(col("event_type"))
        .agg(max(col("n_total")).as("n_total"),
          max_by(col("cells"), col("n_total")).as("cells"))
      // exact top-5 candidates per type from the same input (batch
      // side of the check, like q82's stream-static corpus)
      val rankW = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
        .orderBy(col("exact_n").desc, col("user_id"))
      val top = Tables(s, d, "events")
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("exact_n"))
        .withColumn("rn", row_number().over(rankW))
        .filter(col("rn") <= 5).drop("rn")
      val est = (0 until Cms.Rows).map { i =>
        element_at(col("cells"),
          (pmod(pmod(col("user_id"), lit(Cms.M)) * lit(Cms.P(i)) + lit(Cms.Q(i)),
            lit(Cms.M)) % lit(Cms.Width.toLong) + lit(i * Cms.Width + 1))
            .cast("int"))
      }.reduce(least(_, _))
      top.join(broadcast(finalSketch), Seq("event_type"))
        .withColumn("est", est)
        .select(col("event_type"), col("user_id"), col("exact_n"),
          (col("est") >= col("exact_n")).as("lower_ok"),
          (col("est") <= col("exact_n") + expr("n_total * 3 div 512"))
            .as("upper_ok"))
    }),
    // q69: the q25 hourly rollup executed as a streaming query.
    // Tumbling event-time window + count + decimal sum: micro-batch
    // partials merge associatively, so the streamed result is
    // bit-identical to the batch (and DuckDB) answer.
    "q69_stream_hourly" -> ((s, d) => {
      val agg = eventStream(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(20,6)")).cast("double").as("total_value"))
      runToCompletion(agg, s"graft_stream_hourly_${runId.incrementAndGet()}")
        .select(col("window.start").as("bucket"), col("event_type"),
          col("n"), col("total_value"))
    }),

    // q78: streamed gap-sessionization — session_window(30 min) is
    // the stateful MERGING window (sessions extend as events arrive
    // inside the gap); the oracle reconstructs identical sessions
    // with the batch lag/cumsum formulation. Session starts are
    // exact event timestamps, so the hash compare is bit-strict.
    // Spark sessions are [first, last+gap) with an EXCLUSIVE end: an
    // event landing exactly at lag+30min starts a NEW session, so the
    // oracle's new-session predicate is >= (not >) to match.
    "q78_stream_sessionize" -> ((s, d) => {
      val agg = eventStream(s, d)
        .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
      runToCompletion(agg, s"graft_stream_sess_${runId.incrementAndGet()}")
        .select(col("user_id"), col("sw.start").as("session_start"),
          col("n_events"))
    }),

    // q80: watermarked stream-stream interval join under the gate —
    // purchases joined to same-user clicks in the preceding hour,
    // both sides unbounded streams. Inner interval joins emit each
    // matched pair exactly once regardless of micro-batch arrival
    // order, so the streamed pair set equals the batch join; the
    // watermark only bounds state retention. The per-user count runs
    // batch-side over the sink output.
    "q80_stream_interval_join" -> ((s, d) => {
      // SELF-join on ONE stream source: both sides are projections of
      // the same watermarked stream, so the file source is listed and
      // read once per micro-batch instead of twice (two independent
      // sources each pay listing + scan + offset-log upkeep)
      val ev = eventStream(s, d).withWatermark("ts", "2 hours")
      val purchases = ev
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"))
      val clicks = ev
        .filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      val joined = purchases.join(clicks,
        col("user_id") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("c_ts") <= col("p_ts"))
      val name = s"graft_stream_join_${runId.incrementAndGet()}"
      dropPriorSinks(s)
      liveSinks.add((s, name))
      // 4 state partitions, matching the q103/q113/q219 siblings that
      // hold the SAME join state volume (r17; the 8 here predated the
      // v3 single-store layout) — sized to state volume per the
      // withStateParts contract, checkpoint-pinned
      val q = withStateParts(s, 4) {
        joined.writeStream.outputMode("append")
          .format("memory").queryName(name).start()
      }
      try q.processAllAvailable() finally q.stop()
      s.table(name)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"))
    }),

    // q103: watermarked stream-stream LEFT OUTER interval join — q80's
    // join with the unmatched side surfaced: purchases with no
    // same-user click in the preceding hour emerge as null-extended
    // rows once the watermark proves no future match can arrive (Spark
    // then evicts the left-side state and emits the null match exactly
    // once). Because outer results are held until that proof, a finite
    // run must keep the watermark moving after the data ends the way a
    // production stream's continuous arrivals do: the query unions the
    // file stream with a tiny MemoryStream and appends sentinel rows
    // in two trailing micro-batches — the first advances max event
    // time far past the data, the second runs a batch UNDER the
    // advanced watermark so the eviction output drains
    // deterministically before stop (noDataMicroBatches is disabled
    // for finite gate runs; see GraftSession).
    //
    // Sentinel subtlety: Catalyst pushes each side's event_type filter
    // BELOW the EventTimeWatermark node, so a sentinel only advances a
    // side's watermark if it PASSES that side's filter (the
    // multi-watermark policy takes the min across nodes — one starved
    // node pins the global watermark). Each flush batch therefore
    // carries one sentinel purchase AND one sentinel click, keyed
    // user_id = -1 so they can never join with real rows (and the
    // sentinel purchase's own null-emission — impossible anyway, the
    // watermark never passes its event time — is excluded batch-side).
    "q103_stream_left_outer_join" -> ((s, d) => {
      val sink = runWithWatermarkFlush(s, d,
        s"graft_stream_loj_${runId.incrementAndGet()}", 4,
        Seq("purchase" -> -1L, "click" -> -1L)) { ev =>
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("p_ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
        purchases.join(clicks,
          col("user_id") === col("c_user") &&
            col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
            col("c_ts") <= col("p_ts"),
          "left_outer")
      }
      // the sentinel purchase's own null-emission (impossible anyway —
      // the watermark never passes its event time) stays excluded
      sink.filter(col("user_id") >= 0)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_rows"),
          count(col("c_ts")).as("n_matched"),
          (count(lit(1)) - count(col("c_ts"))).as("n_no_click"))
    }),

    // q113: watermarked stream-stream FULL OUTER interval join —
    // completes q103's story with BOTH sides' state evicting into
    // null-extended output: purchases with no click in the preceding
    // hour AND clicks that preceded no purchase within the hour each
    // surface exactly once when the watermark passes their windows.
    // Same sentinel mechanics as q103 (one flush purchase + one flush
    // click per trailing batch, filter-pushdown-proof, user_id = -1
    // excluded batch-side). The batch-side rollup is keyed on the
    // COALESCED user id because either side may be null in a full
    // outer result.
    "q113_stream_full_outer_join" -> ((s, d) => {
      import s.implicits._
      val sink = runWithWatermarkFlush(s, d,
        s"graft_stream_foj_${runId.incrementAndGet()}", 4,
        Seq("purchase" -> -1L, "click" -> -1L)) { ev =>
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
        purchases.join(clicks,
          col("p_user") === col("c_user") &&
            col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
            col("c_ts") <= col("p_ts"),
          "full_outer")
      }
      sink
        .select(coalesce(col("p_user"), col("c_user")).as("user_id"),
          col("p_ts"), col("c_ts"))
        .filter(col("user_id") >= 0)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_rows"),
          count(when(col("p_ts").isNotNull && col("c_ts").isNotNull, 1)).as("n_matched"),
          count(when(col("c_ts").isNull, 1)).as("n_lonely_purchases"),
          count(when(col("p_ts").isNull, 1)).as("n_lonely_clicks"))
    }),

    // q70: streaming dedup-then-count — watermarked
    // dropDuplicatesWithinWatermark inside the stream, then per-type
    // counts; the streamed HLL user estimate is validated against the
    // exact batch count with the same accuracy-flag pattern as q39
    // (countDistinct itself is not streamable — that is the point of
    // the sketch). Two scale/correctness properties the plain
    // dropDuplicates("event_id") form lacked:
    //  - state is BOUNDED: dedup entries older than the watermark are
    //    evicted instead of growing with every event_id ever seen —
    //    the only viable posture on an unbounded production stream;
    //  - dedup key is the (event_id, event_type) PAIR, so the result
    //    equals the oracle's per-type count(DISTINCT event_id) even
    //    if a duplicate event_id ever spanned two types (id-only
    //    dedup would keep an arbitrary micro-batch-order winner).
    // q82: INCREMENTAL near-dup dedup — the production shape of
    // continuous corpus dedup in a training-data pipeline: documents
    // arrive as a stream, are LSH-banded in-row (map-only — see
    // inRowBands), and stream-static join against the band index of
    // the existing corpus; per new doc, the number of distinct corpus
    // near-duplicates and the canonical (min) match. Corpus = doc_id
    // % 4 != 0 (persisted index, built once); incoming stream = the
    // % 4 == 0 docs. State is one row per MATCHED incoming doc (the
    // complete-mode agg); the candidate generation itself is
    // stateless, which is what lets this run forever on an unbounded
    // ingest stream while the corpus index is refreshed out-of-band.
    "q82_stream_incremental_neardup" -> ((s, d) => {
      // version-stamped key (TextDedup.SignatureSchemeVersion): band
      // hashes from different signature schemes are incompatible, and
      // a checkpoint resumed across a scheme change must be discarded
      // — see the constant's scaladoc (r10 ADVICE)
      val corpus = graft.CacheRegistry.getOrPersist(s,
        s"streamdedup.corpusbands:v${TextDedup.SignatureSchemeVersion}:$d") {
        inRowBands(Tables(s, d, "documents").filter(col("doc_id") % 4 =!= 0))
          .select(col("doc_id").as("corpus_doc"), col("band"), col("bh"))
      }
      val incoming = inRowBands(docStream(s, d).filter(col("doc_id") % 4 === 0))
      val agg = incoming.join(corpus, Seq("band", "bh"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_band_hits"),
          size(collect_set(col("corpus_doc"))).cast("long").as("n_near_dups"),
          min(col("corpus_doc")).as("min_match"))
      // explicit checkpoint + scheme-version marker: the gate exercises
      // the guard a durable deployment relies on (fails loudly on a
      // cross-scheme resume instead of silently dropping matches)
      val ck = java.nio.file.Files.createTempDirectory("graft-q82-ck").toString
      guardSignatureCheckpoint(s, ck)
      // memory sink holds the result; the stopped query's state dir is
      // dead weight — delete it so repeated gate runs don't accrete
      // RocksDB dirs in /tmp (the guard only needed a fresh stamp path)
      try runToCompletion(agg, s"graft_stream_neardup_${runId.incrementAndGet()}",
        checkpointDir = Some(ck))
      finally {
        val ckp = new org.apache.hadoop.fs.Path(ck)
        ckp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(ckp, true)
      }
    }),

    // q237: STREAMING VECTOR SEARCH — the embedding twin of q82's
    // incremental near-dup, closing the streaming×similarity cell:
    // arriving vectors (vec_id % 4 = 0, streamed) search a PERSISTED
    // width-16 sign-LSH index over the standing corpus (vec_id % 4 ≠
    // 0) by margin-directed probing. The probe construction is the
    // IN-ROW form ([[Similarity.inRowMarginProbes]], spec-asserted
    // row-equal to q234's window form): per arriving vector, an
    // array_sort over its 16 hyperplane margins + a static mask
    // explode (soft 10) — pure projection, no shuffle, no state —
    // then ONE stream-static equi-join on the index's bucket column.
    // The flip budget is NOT hard-coded (r14 verdict #2): it is
    // selected at INDEX-BUILD time by [[Similarity.selectMarginBudget]]
    // from the corpus's own measured recall curve (q236's selector,
    // memoized via CacheRegistry alongside the index itself) and
    // stamped on every result row. The per-query summary runs PER
    // MICRO-BATCH through foreachBatch with idempotent per-batch
    // parquet emission ([[runPerBatchToParquet]]) — r14 verdict #1:
    // the streaming plan holds NO state store and NO watermark at
    // all (each query's probes, hits and summary live inside the one
    // batch that carried it), so state on an unbounded stream is
    // O(batch), not O(total-queries-ever); SCALE.md "Streaming state
    // at 100×" records that measured at 10M streamed vectors. At
    // 100 TB: the index side is the standing corpus (stored bucketed
    // on `bucket` for an exchange-free static side — pinned in
    // StreamingOpsSpec), each micro-batch costs O(batch × probes)
    // broadcast-joined probe rows.
    "q237_stream_vector_search" -> ((s, d) => {
      val (budget, hits) = streamSearchFront(s, d)
      runPerBatchToParquet(hits, "stream-vecsearch") { b =>
        vectorSearchSummary(b).withColumn("budget", lit(budget))
      }
    }),

    // q238: STREAMING TOP-K RETRIEVAL — the serving-shape completion
    // of q237: per arriving query the full top-5 ranking (the q234
    // batch-search output shape: cand_id, probe_hamming, cos_sim,
    // rn), not just the best-1 summary — what an online retrieval
    // tier actually returns to its caller. Same calibrated budget,
    // same standing index, same state-free per-batch emission; the
    // per-batch window ranking IS the global ranking because every
    // hit of a query lives in the one batch that carried the query.
    "q238_stream_vector_topk" -> ((s, d) => {
      val (budget, hits) = streamSearchFront(s, d)
      runPerBatchToParquet(hits, "stream-vectopk") { b =>
        vectorSearchTopK(b, 5).withColumn("budget", lit(budget))
      }
    }),

    // q92: ARBITRARY stateful streaming (flatMapGroupsWithState) under
    // the oracle gate — a per-user profile (count / exact money total
    // in integer micro-units / first- and last-seen event time) held
    // as explicit GroupState across micro-batches. Emissions are the
    // running state, monotone in n_events, so the batch-side max-struct
    // over the Update-mode sink selects the final state per user no
    // matter how the stream was micro-batched — the determinism
    // argument the monoid aggregates get for free, recovered for
    // imperative state. Money goes through DECIMAL(20,6)→BIGINT
    // micro-units per row (exact, associative), never double addition.
    "q92_stream_state_profile" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
      val ev = eventStream(s, d)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          (col("value").cast("decimal(20,6)") * lit(1000000)).cast("long").as("value_micro"))
        .as[UserEvent]
      val updated = ev.groupByKey(_.user_id)
        .flatMapGroupsWithState[UserProfile, UserProfile](
          OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
          (user: Long, batch: Iterator[UserEvent], state: GroupState[UserProfile]) =>
            var p = state.getOption
              .getOrElse(UserProfile(user, 0L, 0L, Long.MaxValue, Long.MinValue))
            batch.foreach { e =>
              p = UserProfile(user, p.n_events + 1, p.total_micro + e.value_micro,
                math.min(p.first_us, e.ts_us), math.max(p.last_us, e.ts_us))
            }
            state.update(p)
            Iterator.single(p)
        }
      val name = s"graft_stream_state_${runId.incrementAndGet()}"
      dropPriorSinks(s)
      liveSinks.add((s, name))
      val q = withStateParts(s, 8) {
        updated.toDF().writeStream.outputMode(OutputMode.Update())
          .format("memory").queryName(name).start()
      }
      try q.processAllAvailable() finally q.stop()
      s.table(name)
        .groupBy(col("user_id"))
        .agg(max(struct(col("n_events"), col("total_micro"),
          col("first_us"), col("last_us"))).as("m"))
        .select(col("user_id"), col("m.n_events").as("n_events"),
          col("m.total_micro").as("total_micro"),
          timestamp_micros(col("m.first_us")).as("first_ts"),
          timestamp_micros(col("m.last_us")).as("last_ts"))
    }),

    // q97: Spark 4's transformWithState (stateful v2) under the
    // oracle gate — per-event-type running stats in an explicit
    // ValueState, updated per micro-batch. Same determinism
    // construction as q92: integer micro-unit money, monotone
    // emissions, batch-side max-struct picks the final state. Needs
    // the RocksDB provider (the session default; transformWithState
    // rejects the HDFS-backed store).
    "q97_stream_tws_stats" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, ValueState}
      val ev = eventStream(s, d)
        .select(col("event_type"),
          (col("value").cast("decimal(20,6)") * lit(1000000)).cast("long").as("value_micro"))
        .as[TypedEv]
      val processor = new StatefulProcessor[String, TypedEv, TypeStats] {
        @transient private var st: ValueState[TypeStats] = _
        override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
          st = getHandle.getValueState[TypeStats]("st",
            org.apache.spark.sql.Encoders.product[TypeStats],
            org.apache.spark.sql.streaming.TTLConfig.NONE)
        override def handleInputRows(key: String, rows: Iterator[TypedEv],
            timerValues: TimerValues): Iterator[TypeStats] = {
          var p = if (st.exists()) st.get() else TypeStats(key, 0L, 0L, Long.MinValue)
          rows.foreach { e =>
            p = TypeStats(key, p.n_events + 1, p.total_micro + e.value_micro,
              math.max(p.max_micro, e.value_micro))
          }
          st.update(p)
          Iterator.single(p)
        }
      }
      val updated = ev.groupByKey(_.event_type)
        .transformWithState(processor, TimeMode.None(), OutputMode.Update())
      val name = s"graft_stream_tws_${runId.incrementAndGet()}"
      dropPriorSinks(s)
      liveSinks.add((s, name))
      // 4 state partitions — event_type key, 5 values (see q143 note)
      val q = withStateParts(s, 4) {
        updated.toDF().writeStream.outputMode(OutputMode.Update())
          .format("memory").queryName(name).start()
      }
      try q.processAllAvailable() finally q.stop()
      s.table(name)
        .groupBy(col("event_type"))
        .agg(max(struct(col("n_events"), col("total_micro"), col("max_micro"))).as("m"))
        .select(col("event_type"), col("m.n_events").as("n_events"),
          col("m.total_micro").as("total_micro"), col("m.max_micro").as("max_micro"))
    }),

    // q94: stream–static enrichment — the unbounded fact stream joined
    // to a bounded dimension BEFORE aggregation, the canonical "attach
    // metadata at ingest" shape of a training-data pipeline. The
    // static side re-plans per micro-batch as an ordinary broadcast
    // hash join (no state, no watermark — the join itself is
    // stateless); only the downstream aggregation is stateful. At
    // 100 TB the dim stays broadcast-able because it is a dimension
    // table — the stream side never shuffles for the join at all.
    "q94_stream_enrich" -> ((s, d) => {
      val dim = broadcast(Tables(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment")))
      val agg = eventStream(s, d)
        .join(dim, col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(20,6)")).cast("double").as("total_value"))
      runToCompletion(agg, s"graft_stream_enrich_${runId.incrementAndGet()}")
    }),

    // q182: streaming AS-OF enrichment — each event gets the user's
    // most recent order AT EVENT TIME, while the data is in flight.
    // A stream cannot be sorted, so the batch as-of formulations
    // (q53's union+window, q181's sorted merge) don't apply; the
    // streaming-correct shape when the right side is a dimension is
    // to broadcast each key's ORDER HISTORY as a sorted array and
    // resolve the as-of per row with codegen'd array expressions
    // (filter ≤ ts, take last) — a stateless stream-static join +
    // map, so there is no watermark and no state store at all. At
    // 100 TB the history dim is |customers| rows with bounded
    // per-key arrays — the same broadcast budget as any dimension.
    "q182_stream_asof_enrich" -> ((s, d) => {
      // the history dim is the STANDING side of a stream-static join,
      // built out-of-band in production and refreshed independently of
      // the stream — the same posture as q82's corpus band index and
      // q237's corpus vector index, so (r17) it rides the same
      // CacheRegistry persistence those standing sides already use
      // (keyed by data dir; per-JVM, never cross-run)
      val hist = broadcast(graft.CacheRegistry.getOrPersist(s,
        s"streamasof.orderhist:$d") {
        Tables(s, d, "orders")
          .groupBy(col("o_custkey"), col("o_orderdate"))
          .agg(max(col("o_orderkey")).as("o_orderkey"))
          .groupBy(col("o_custkey"))
          .agg(sort_array(collect_list(struct(
            col("o_orderdate").as("d"), col("o_orderkey").as("k")))).as("hist"))
      })
      val joined = eventStream(s, d)
        .join(hist, col("user_id") === col("o_custkey"), "left")
        .select(col("event_id"), col("user_id"),
          expr("try_element_at(filter(hist, x -> x.d <= ts), -1).k")
            .as("last_orderkey"))
      runAppendToCompletion(joined, s"graft_stream_asof_${runId.incrementAndGet()}")
    }),

    // q219: CHAINED STATEFUL OPERATORS — a watermarked stream-stream
    // INNER join feeding a windowed aggregation in the SAME streaming
    // query (Spark 3.5+'s multiple-stateful-operator support; before
    // it, the join output had to detour through a sink). Append-mode
    // windows only finalize when the watermark passes them, so the
    // q103 sentinel mechanics drive the flush — with the twist that
    // an INNER join's sentinels must never join EACH OTHER: the
    // sentinel purchase is user -1 and the sentinel click user -2, so
    // they advance both watermark nodes but emit nothing, and the
    // daily windows carry only real pairs.
    "q219_stream_join_then_agg" -> ((s, d) => {
      // distinct sentinel ids (-1/-2): an INNER join's sentinels must
      // never join each other. 4 state partitions like the q103/q113
      // siblings; an A/B at 2 partitions measured within noise (~5%) —
      // the stacked join+agg store lifecycles are not the bottleneck.
      runWithWatermarkFlush(s, d,
        s"graft_stream_jagg_${runId.incrementAndGet()}", 4,
        Seq("purchase" -> -1L, "click" -> -2L)) { ev =>
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("p_ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
        purchases.join(clicks,
          col("user_id") === col("c_user") &&
            col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
            col("c_ts") <= col("p_ts"))
          .groupBy(window(col("p_ts"), "1 day"))
          .agg(count(lit(1)).as("n_pairs"))
      }.select(col("window.start").as("day"), col("n_pairs"))
    }),

    "q70_stream_dedup_count" -> ((s, d) => {
      val agg = eventStream(s, d)
        .withWatermark("ts", "24 hours")
        .dropDuplicatesWithinWatermark("event_id", "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          approx_count_distinct(col("user_id"), 0.02).as("approx_users"))
      val exact = Tables(s, d, "events")
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
      runToCompletion(agg, s"graft_stream_dedup_${runId.incrementAndGet()}")
        .join(exact, "event_type")
        .select(col("event_type"), col("n_events"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users")) <=
            col("exact_users") * 0.1).as("approx_ok"))
    }))

  def oracleSql: Map[String, String] = Map(
    // the oracle asserts the exact top-5 and that BOTH sketch-accuracy
    // flags hold — lower_ok is the hard CM dominance guarantee,
    // upper_ok the fixed-hash error envelope (deterministic here,
    // same gating form as q85)
    "q143_stream_cms_hh" ->
      """SELECT event_type, user_id, exact_n,
        | TRUE AS lower_ok, TRUE AS upper_ok
        |FROM (
        |  SELECT event_type, user_id, count(*) AS exact_n,
        |   row_number() OVER (PARTITION BY event_type
        |     ORDER BY count(*) DESC, user_id) AS rn
        |  FROM events GROUP BY 1, 2)
        |WHERE rn <= 5""".stripMargin,
    "q69_stream_hourly" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket, event_type,
        | count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q78_stream_sessionize" ->
      """WITH marked AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |   CASE WHEN lag(ts) OVER w IS NULL
        |     OR CAST(ts AS TIMESTAMP) >= lag(CAST(ts AS TIMESTAMP)) OVER w + INTERVAL 30 MINUTE
        |    THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts,
        |   sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM marked)
        |SELECT user_id, CAST(min(ts) AS TIMESTAMP) AS session_start,
        | count(*) AS n_events
        |FROM sess GROUP BY user_id, sid""".stripMargin,

    // same pair relation as q80, rolled into tumbling UTC days — the
    // chained join→agg streamed result must equal the batch rollup
    "q219_stream_join_then_agg" ->
      """SELECT CAST(date_trunc('day', p.p_ts) AS TIMESTAMP) AS day,
        | count(*) AS n_pairs
        |FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS p_ts FROM events
        |  WHERE event_type = 'purchase') p
        |JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS c_ts FROM events
        |  WHERE event_type = 'click') c
        | ON p.user_id = c.user_id
        |  AND c.c_ts BETWEEN p.p_ts - INTERVAL 1 HOUR AND p.p_ts
        |GROUP BY 1""".stripMargin,

    "q80_stream_interval_join" ->
      """SELECT p.user_id, count(*) AS n_pairs
        |FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS p_ts FROM events
        |  WHERE event_type = 'purchase') p
        |JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS c_ts FROM events
        |  WHERE event_type = 'click') c
        | ON p.user_id = c.user_id
        |  AND c.c_ts BETWEEN p.p_ts - INTERVAL 1 HOUR AND p.p_ts
        |GROUP BY 1""".stripMargin,

    "q82_stream_incremental_neardup" -> {
      val sigCols = (0 until 4).flatMap(i => (0 until 4).map(q =>
        s"min(substr(md5('$i|' || shingle), ${8 * q + 1}, 8)) AS h${4 * i + q}"))
        .mkString(", ")
      val bandSelects = (0 until 4).map { b =>
        s"SELECT doc_id, $b AS band, md5(h${4 * b} || h${4 * b + 1} || h${4 * b + 2} || h${4 * b + 3}) AS bh FROM sig"
      }.mkString(" UNION ALL ")
      s"""WITH sh_all AS (${TextDedup.shinglesSql}),
         | sig AS (SELECT doc_id, $sigCols FROM sh_all GROUP BY doc_id),
         | bands AS ($bandSelects)
         |SELECT i.doc_id, count(*) AS n_band_hits,
         | CAST(count(DISTINCT c.doc_id) AS BIGINT) AS n_near_dups,
         | min(c.doc_id) AS min_match
         |FROM (SELECT * FROM bands WHERE doc_id % 4 = 0) i
         |JOIN (SELECT * FROM bands WHERE doc_id % 4 <> 0) c
         | ON i.band = c.band AND i.bh = c.bh
         |GROUP BY 1""".stripMargin
    },

    // q237's twin: the relational (windowed) margin-probe build over
    // the SAME incoming/corpus split — parity holds because the
    // in-row form is spec-asserted row-equal to the window form —
    // with the flip budget selected RELATIONALLY from the corpus
    // split's own calibration curve (the q236 selection), mirroring
    // selectMarginBudget on the Spark side.
    "q237_stream_vector_search" -> {
      val dotQC = "list_dot_product(CAST(qv AS DOUBLE[]), CAST(cv AS DOUBLE[]))"
      val dotQQ = "list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[]))"
      val dotCC = "list_dot_product(CAST(cv AS DOUBLE[]), CAST(cv AS DOUBLE[]))"
      val cosSql = s"round($dotQC / (sqrt($dotQQ) * sqrt($dotCC)), 4)"
      Similarity.streamSearchOracleDuck(width = 16, soft = 10, maxRadius = 5,
        targetMicro = 40000L, cosSql = cosSql)
    },

    // q238's twin: the same calibrated-budget pipeline finalized as
    // the per-query top-5 ranking instead of the best-1 summary
    "q238_stream_vector_topk" -> {
      val dotQC = "list_dot_product(CAST(qv AS DOUBLE[]), CAST(cv AS DOUBLE[]))"
      val dotQQ = "list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[]))"
      val dotCC = "list_dot_product(CAST(cv AS DOUBLE[]), CAST(cv AS DOUBLE[]))"
      val cosSql = s"round($dotQC / (sqrt($dotQQ) * sqrt($dotCC)), 4)"
      Similarity.streamTopKOracleDuck(width = 16, soft = 10, maxRadius = 5,
        targetMicro = 40000L, k = 5, cosSql = cosSql)
    },

    "q103_stream_left_outer_join" ->
      """SELECT p.user_id, count(*) AS n_rows, count(c.c_ts) AS n_matched,
        | count(*) - count(c.c_ts) AS n_no_click
        |FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS p_ts FROM events
        |  WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT user_id AS c_user, CAST(ts AS TIMESTAMP) AS c_ts
        |  FROM events WHERE event_type = 'click') c
        | ON p.user_id = c.c_user
        |  AND c.c_ts BETWEEN p.p_ts - INTERVAL 1 HOUR AND p.p_ts
        |GROUP BY 1""".stripMargin,

    "q113_stream_full_outer_join" ->
      """SELECT coalesce(p.p_user, c.c_user) AS user_id,
        | count(*) AS n_rows,
        | count(CASE WHEN p.p_ts IS NOT NULL AND c.c_ts IS NOT NULL THEN 1 END)
        |   AS n_matched,
        | count(CASE WHEN c.c_ts IS NULL THEN 1 END) AS n_lonely_purchases,
        | count(CASE WHEN p.p_ts IS NULL THEN 1 END) AS n_lonely_clicks
        |FROM (SELECT user_id AS p_user, CAST(ts AS TIMESTAMP) AS p_ts FROM events
        |  WHERE event_type = 'purchase') p
        |FULL JOIN (SELECT user_id AS c_user, CAST(ts AS TIMESTAMP) AS c_ts
        |  FROM events WHERE event_type = 'click') c
        | ON p.p_user = c.c_user
        |  AND c.c_ts BETWEEN p.p_ts - INTERVAL 1 HOUR AND p.p_ts
        |GROUP BY 1""".stripMargin,

    "q92_stream_state_profile" ->
      """SELECT user_id, count(*) AS n_events,
        | CAST(sum(CAST(CAST(value AS DECIMAL(20,6)) * 1000000 AS BIGINT))
        |  AS BIGINT) AS total_micro,
        | CAST(min(ts) AS TIMESTAMP) AS first_ts,
        | CAST(max(ts) AS TIMESTAMP) AS last_ts
        |FROM events GROUP BY 1""".stripMargin,

    "q97_stream_tws_stats" ->
      """SELECT event_type, count(*) AS n_events,
        | CAST(sum(CAST(CAST(value AS DECIMAL(20,6)) * 1000000 AS BIGINT))
        |  AS BIGINT) AS total_micro,
        | CAST(max(CAST(CAST(value AS DECIMAL(20,6)) * 1000000 AS BIGINT))
        |  AS BIGINT) AS max_micro
        |FROM events GROUP BY 1""".stripMargin,

    "q94_stream_enrich" ->
      """SELECT c_mktsegment, event_type, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS total_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2""".stripMargin,

    "q70_stream_dedup_count" ->
      """SELECT event_type, count(DISTINCT event_id) AS n_events,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        | TRUE AS approx_ok
        |FROM events GROUP BY 1""".stripMargin,

    "q182_stream_asof_enrich" ->
      """WITH ord AS (
        |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
        |  FROM orders GROUP BY o_custkey, o_orderdate)
        |SELECT event_id, user_id, o_orderkey AS last_orderkey
        |FROM events ASOF LEFT JOIN ord
        |  ON user_id = o_custkey AND CAST(ts AS TIMESTAMP) >= o_orderdate""".stripMargin)
}
