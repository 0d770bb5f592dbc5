package graft.streaming

import graft.TestSpark
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** M3: event-time streaming relational ops (SURVEY §7.1) — the
  * upgrade the reference lacks (it only has processing-time file
  * rolling, KPW:299-302, despite carrying an event timestamp field).
  * Events are replayed from the test table through MemoryStream so
  * watermarks and windows run on real event time.
  */
case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double)

class StreamingOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def events(): Seq[Ev] = {
    import spark.implicits._
    graft.Tables(spark, TestSpark.sf, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Ev].collect().toSeq.sortBy(_.ts.getTime)
  }

  test("watermarked tumbling window aggregation matches batch equivalent") {
    import spark.implicits._
    val evs = events()
    val stream = MemoryStream[Ev](10, spark, None)
    val agg = stream.toDF()
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("win_agg").start()
    try {
      stream.addData(evs)
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("win_agg")
      .select(col("window.start").as("bucket"), col("event_type"), col("n"))
    val batch = graft.Tables(spark, TestSpark.sf, "events")
      .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming dropDuplicates dedups replayed events") {
    import spark.implicits._
    val evs = events().take(200)
    val stream = MemoryStream[Ev](11, spark, None)
    val dedup = stream.toDF()
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id")
    val q = dedup.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("dedup_out").start()
    try {
      stream.addData(evs)
      stream.addData(evs) // replay: at-least-once delivery upstream
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.table("dedup_out").count() == 200)
    assert(spark.table("dedup_out").select("event_id").distinct().count() == 200)
  }

  test("stateful per-user running count via flatMapGroupsWithState") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val evs = events().take(300)
    val stream = MemoryStream[Ev](12, spark, None)
    val counted = stream.toDS()
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, (Long, Long)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, batch: Iterator[Ev], state: GroupState[Long]) =>
          val prev = state.getOption.getOrElse(0L)
          val now = prev + batch.size
          state.update(now)
          Iterator((user, now))
      }
    val q = counted.toDF("user_id", "n").writeStream
      .outputMode(OutputMode.Update()).format("memory").queryName("fmgs_out").start()
    try {
      stream.addData(evs)
      q.processAllAvailable()
    } finally q.stop()
    val last = spark.table("fmgs_out")
      .groupBy("user_id").agg(max("n").as("n"))
    val want = evs.groupBy(_.user_id).map { case (u, es) => (u, es.size.toLong) }
    val got = last.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == want)
  }

  test("sliding window counts each event in every overlapping window") {
    import spark.implicits._
    val evs = events().take(400)
    val stream = MemoryStream[Ev](14, spark, None)
    val agg = stream.toDF()
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("slide_agg").start()
    try {
      stream.addData(evs)
      q.processAllAvailable()
    } finally q.stop()
    // 1h window sliding by 15min → every event is in exactly 4 windows
    val total = spark.table("slide_agg").agg(sum("n")).collect().head.getLong(0)
    assert(total == evs.length * 4L)
  }

  test("session_window aggregation groups events by 30-minute gaps") {
    import spark.implicits._
    val evs = events().take(500)
    val stream = MemoryStream[Ev](13, spark, None)
    val sessions = stream.toDF()
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    val q = sessions.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("sess_out").start()
    try {
      stream.addData(evs)
      q.processAllAvailable()
    } finally q.stop()
    val total = spark.table("sess_out").agg(sum("n_events")).collect().head.getLong(0)
    assert(total == 500, "every event lands in exactly one session")
  }

  test("dropDuplicatesWithinWatermark dedups replays inside the watermark delay") {
    import spark.implicits._
    val evs = events().take(200)
    val stream = MemoryStream[Ev](14, spark, None)
    val deduped = stream.toDF()
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    val q = deduped.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ddww_out").start()
    try {
      stream.addData(evs)
      q.processAllAvailable()
      stream.addData(evs.take(50)) // replay a prefix within the delay
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ddww_out").select("event_id").collect().map(_.getLong(0))
    assert(got.length == got.distinct.length, "replayed ids must be dropped")
    assert(got.length == 200)
  }

  test("transformWithState maintains per-user max value (Spark 4 stateful API)") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode => OM, StatefulProcessor, TimeMode, TimerValues, ValueState}
    // transformWithState requires the RocksDB state store provider
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val evs = events().take(300)
      val stream = MemoryStream[Ev](15, spark, None)
      val processor = new StatefulProcessor[Long, Ev, (Long, Double)] {
        @transient private var mx: ValueState[Double] = _
        override def init(outputMode: OM, timeMode: TimeMode): Unit =
          mx = getHandle.getValueState[Double]("mx",
            org.apache.spark.sql.Encoders.scalaDouble, org.apache.spark.sql.streaming.TTLConfig.NONE)
        override def handleInputRows(key: Long, rows: Iterator[Ev],
            timerValues: TimerValues): Iterator[(Long, Double)] = {
          val prevMax = if (mx.exists()) mx.get() else Double.MinValue
          val m = math.max(prevMax, rows.map(_.value).max)
          mx.update(m)
          Iterator((key, m))
        }
      }
      val out = stream.toDS()
        .groupByKey(_.user_id)
        .transformWithState(processor, TimeMode.None(), OM.Update())
      val q = out.toDF("user_id", "max_value").writeStream
        .outputMode(OM.Update()).format("memory").queryName("tws_out").start()
      try {
        stream.addData(evs)
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("tws_out")
        .groupBy("user_id").agg(max("max_value").as("m"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
      val want = evs.groupBy(_.user_id).map { case (u, es) => (u, es.map(_.value).max) }
      assert(got == want)
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("flatMapGroupsWithState state survives a mid-stream crash (checkpoint restore)") {
    // kill the q92-shaped profile fold after part of the data, restart
    // from the same checkpoint: final per-user counts must equal the
    // batch answer, which requires the GroupState (not just source
    // offsets) to have been restored — a reset state would restart
    // counts at zero for every pre-crash user
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val evs = events().take(600)
    val stream = MemoryStream[Ev](32, spark, None)
    val out = java.nio.file.Files.createTempDirectory("graft-fmgs-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-fmgs-ckpt").toString
    def counted = stream.toDS()
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, (Long, Long)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, batch: Iterator[Ev], state: GroupState[Long]) =>
          val now = state.getOption.getOrElse(0L) + batch.size
          state.update(now)
          Iterator.single((user, now))
      }.toDF("user_id", "n")
    def run(): Unit = {
      // the parquet sink is append-only; Update-mode emissions land via
      // foreachBatch (at-least-once — replays only re-emit a state
      // snapshot, absorbed by the max-per-user readback)
      val q = counted.writeStream.outputMode(OutputMode.Update())
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.write.mode("append").parquet(out)
        }
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    stream.addData(evs.take(350)); run() // "crash" mid-stream
    stream.addData(evs.drop(350)); run() // restart from checkpoint
    val got = spark.read.parquet(out)
      .groupBy("user_id").agg(max("n").as("n"))
      .as[(Long, Long)].collect().toMap
    val want = evs.groupBy(_.user_id).map { case (u, es) => (u, es.size.toLong) }
    assert(got == want)
  }

  test("q92 state-profile pattern is micro-batch-boundary invariant") {
    // the gate runs q92 over one file (often one batch); this drives
    // the same fold through 3 uneven batches and asserts the
    // max-struct post-process still recovers the exact batch answer
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val evs = events().take(500)
    val stream = MemoryStream[Ev](31, spark, None)
    val updated = stream.toDS()
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long), (Long, Long, Long)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, batch: Iterator[Ev], state: GroupState[(Long, Long)]) =>
          var (n, cents) = state.getOption.getOrElse((0L, 0L))
          batch.foreach { e =>
            n += 1
            cents += BigDecimal(e.value).setScale(2, BigDecimal.RoundingMode.HALF_UP)
              .*(100).toLongExact
          }
          state.update((n, cents))
          Iterator.single((user, n, cents))
      }
    val q = updated.toDF("user_id", "n", "cents").writeStream
      .outputMode(OutputMode.Update()).format("memory").queryName("q92_inv").start()
    try {
      evs.grouped(180).foreach { chunk => stream.addData(chunk); q.processAllAvailable() }
    } finally q.stop()
    val got = spark.table("q92_inv")
      .groupBy("user_id").agg(max(struct(col("n"), col("cents"))).as("m"))
      .select(col("user_id"), col("m.n"), col("m.cents"))
      .as[(Long, Long, Long)].collect().toMap2
    val want = evs.groupBy(_.user_id).map { case (u, es) =>
      u -> (es.size.toLong, es.map(e => BigDecimal(e.value)
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).*(100).toLongExact).sum)
    }
    assert(got == want)
  }

  private implicit class Tup3Ops(rows: Array[(Long, Long, Long)]) {
    def toMap2: Map[Long, (Long, Long)] = rows.map(t => t._1 -> (t._2, t._3)).toMap
  }

  test("q143 CMS state: 3 uneven micro-batches build the same sketch as 1, dominance holds") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode => OM, StatefulProcessor, TimeMode, TimerValues, ValueState}
    import graft.operators.{CmsState, KeyedUser, StreamingParity}
    val Cms = StreamingParity.Cms
    val evs = events().map(e => KeyedUser(e.event_type, e.user_id))

    def processor = new StatefulProcessor[String, KeyedUser, CmsState] {
      @transient private var st: ValueState[CmsState] = _
      override def init(outputMode: OM, timeMode: TimeMode): Unit =
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
            cells(i * Cms.Width + Cms.bucket(i, e.user_id)) += 1L; i += 1
          }
          n += 1L
        }
        p = CmsState(key, n, cells)
        st.update(p)
        Iterator.single(p)
      }
    }

    def run(batches: Seq[Seq[KeyedUser]], tag: String): Map[String, (Long, Seq[Long])] = {
      val stream = MemoryStream[KeyedUser](700 + tag.hashCode.abs % 100, spark, None)
      val out = stream.toDS().groupByKey(_.event_type)
        .transformWithState(processor, TimeMode.None(), OM.Update())
      val q = out.toDF().writeStream.outputMode(OM.Update())
        .format("memory").queryName(s"cms_$tag").start()
      try {
        batches.foreach { b => stream.addData(b); q.processAllAvailable() }
      } finally q.stop()
      val last = spark.table(s"cms_$tag")
        .groupBy(col("event_type"))
        .agg(max(col("n_total")).as("n"), max_by(col("cells"), col("n_total")).as("cells"))
      last.collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getSeq[Long](2))).toMap
    }

    val single = run(Seq(evs), "single")
    val split = run(Seq(evs.take(100), evs.slice(100, 101), evs.drop(101)), "split")
    assert(single == split,
      "cell increments are commutative sums — batch boundaries must not matter")

    // CM dominance: estimate >= exact for every (type, user)
    val exact = evs.groupBy(identity).view.mapValues(_.size.toLong)
    exact.foreach { case (KeyedUser(t, u), n) =>
      val (_, cells) = single(t)
      val est = (0 until Cms.Rows)
        .map(i => cells(i * Cms.Width + Cms.bucket(i, u))).min
      assert(est >= n, s"CM estimate $est below exact $n for ($t,$u)")
    }
  }

  test("standing vector index stored bucketed on `bucket`: stream-static search joins with NO static-side exchange") {
    // r14 verdict #3 — the co-location story for q237's standing
    // index: the micro-batch planner re-plans the static side of a
    // stream-static join EVERY batch, so at 100 TB an unbucketed
    // index would be exchanged once per micro-batch, forever. Stored
    // bucketed on the join key (`bucket`), the index's scan already
    // satisfies the join's required distribution: only the O(batch)
    // probe side shuffles. Pinned on the streaming query's OWN
    // last-micro-batch executed plan (broadcast disabled so the join
    // really is shuffle-based, as it would be at scale), plus value
    // parity of the bucketed path against the plain corpus join.
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.graftbridge.Bridge
    val all = graft.Tables(spark, TestSpark.sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val index = graft.operators.StreamingParity.vectorIndexOf(
      all.filter(col("vec_id") % 4 =!= 0))
    graft.scale.ScaleOps.writeBucketed(index, "b_vec_index", "bucket", 8)
    val standing = spark.table("b_vec_index")

    val incoming = all.filter(col("vec_id") % 4 === 0).limit(20).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    val stream = MemoryStream[(Long, Array[Float])](860, spark, None)
    val hits = graft.operators.StreamingParity.vectorSearchHits(
      stream.toDF().toDF("vec_id", "embedding"), standing, radius = 2)

    val prevT = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val plan = try {
      val q = hits.writeStream.outputMode("append")
        .format("memory").queryName("colocated_search").start()
      try {
        stream.addData(incoming); q.processAllAvailable()
        Bridge.lastMicroBatchPlan(q)
          .getOrElse(fail("no micro-batch executed"))
      } finally q.stop()
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevT)

    def isIndexScan(p: org.apache.spark.sql.execution.SparkPlan) = p match {
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.exists(_.toString.contains("b_vec_index"))
      case _ => false
    }
    // stateless micro-batches run under AQE in Spark 4, and
    // AdaptiveSparkPlanExec / QueryStageExec are LEAF nodes to
    // TreeNode.collect — descend through them explicitly
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val next = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case o => o.children
      }
      p +: next.flatMap(flatten)
    }
    val nodes = flatten(plan)
    val indexScans = nodes.collect { case f if isIndexScan(f) =>
      f.asInstanceOf[FileSourceScanExec] }
    assert(indexScans.nonEmpty, s"bucketed index scan missing:\n$plan")
    assert(indexScans.forall(_.bucketedScan),
      "index scan did not use the stored bucketing")
    val staticExchanges = nodes.collect {
      case e: ShuffleExchangeExec if flatten(e).exists(isIndexScan) => e
    }
    assert(staticExchanges.isEmpty,
      s"static (index) side was exchanged in the micro-batch plan:\n$plan")
    // the join must actually be the shuffle-based one (broadcast was
    // disabled) — a vacuously exchange-free broadcast plan proves
    // nothing about co-location
    assert(plan.toString.contains("SortMergeJoin") ||
      plan.toString.contains("ShuffledHashJoin"),
      s"expected a shuffle-based join in:\n$plan")

    // value parity: the bucketed standing index serves exactly the
    // hits the plain (unbucketed) corpus relation serves
    val streamed = spark.table("colocated_search")
      .select("query_id", "cand_id", "cos_sim")
    val plain = graft.operators.StreamingParity.vectorSearchHits(
      incoming.toDF("vec_id", "embedding"),
      graft.operators.StreamingParity.vectorIndexOf(
        all.filter(col("vec_id") % 4 =!= 0)), radius = 2)
      .select("query_id", "cand_id", "cos_sim")
    assert(streamed.exceptAll(plain).isEmpty && plain.exceptAll(streamed).isEmpty,
      "bucketed index changed the hit set")
  }

  test("q237 per-batch emission tail is replay-idempotent: a crashed batch re-overwrites its own dir on restart") {
    // r15 verdict #2 — runPerBatchToParquet's scaladoc claims the
    // standard foreachBatch exactly-once recipe (a recovered batch
    // re-overwrites its own batch_id= directory); this exercises the
    // claim. Run the q237 shape on a durable (result, checkpoint)
    // pair, then simulate the crash window the recipe exists for —
    // the sink write landed but the commit log entry did not — by
    // deleting the last commits/ entry, and restart from the same
    // checkpoint with more data. The restarted query REPLAYS the
    // uncommitted batch; if the emission were append-shaped instead
    // of idempotent, the replayed batch's summaries would appear
    // twice in the accumulated result.
    import spark.implicits._
    val all = graft.Tables(spark, TestSpark.sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val index = graft.operators.StreamingParity.vectorIndexOf(
      all.filter(col("vec_id") % 4 =!= 0))
    val incoming = all.filter(col("vec_id") % 4 === 0).limit(24).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    val (first, second) = incoming.splitAt(12)
    val stream = MemoryStream[(Long, Array[Float])](861, spark, None)
    val hits = graft.operators.StreamingParity.vectorSearchHits(
      stream.toDF().toDF("vec_id", "embedding"), index, radius = 2)
    val out = java.nio.file.Files.createTempDirectory("graft-pbq-out").toString
    val ck = java.nio.file.Files.createTempDirectory("graft-pbq-ck").toString
    def run(data: Seq[(Long, Array[Float])]) =
      graft.operators.StreamingParity.runPerBatchToParquet(
        hits, "pbq_restart",
        drive = { q => stream.addData(data); q.processAllAvailable() },
        durable = Some((out, ck)))(
        b => graft.operators.StreamingParity.vectorSearchSummary(b))
    val r1 = run(first)
    // only queries with ≥1 candidate hit get a summary row; the spec
    // needs a non-trivial replayed batch, not full coverage
    assert(r1.count() > 0, "first batch produced no summaries")
    // crash simulation: batch executed + results written, but the
    // commit log entry lost — the exact window where a restarted
    // query replays the batch
    val commits = new java.io.File(ck, "commits").listFiles()
      .filter(_.getName.forall(_.isDigit))
    assert(commits.nonEmpty, "expected at least one committed batch")
    val last = commits.maxBy(_.getName.toLong)
    assert(last.delete(), s"could not delete commit entry $last")
    // Spark's default manager keeps a checksum sidecar whose stale copy
    // makes the re-written entry fail with FileAlreadyExists; the
    // engine's local manager writes none and drops a stale one itself,
    // so this delete only matters under the default manager
    new java.io.File(last.getParentFile, s".${last.getName}.crc").delete()
    val r2 = run(second)
    // exactly ONE summary row per query ever streamed: the replayed
    // batch re-overwrote its own batch_id= dir instead of duplicating
    val perQuery = r2.groupBy(col("query_id")).count()
    assert(perQuery.filter(col("count") > 1).isEmpty,
      "replayed batch duplicated its summaries")
    // and the accumulated result equals the batch twin over the same
    // incoming relation — replay changed nothing
    val expected = graft.operators.StreamingParity.streamVectorSearch(
      incoming.toDF("vec_id", "embedding"), index, radius = 2)
    assert(r2.exceptAll(expected).isEmpty && expected.exceptAll(r2).isEmpty,
      "post-restart accumulated summaries diverge from the batch twin")
  }
}
