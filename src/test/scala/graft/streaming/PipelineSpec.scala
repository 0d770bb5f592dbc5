package graft.streaming

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.file.Files

import graft.TestSpark
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import scala.concurrent.duration._

/** Reference-parity pipeline tests — the engine's version of the
  * golden-roundtrip suite (KafkaProtoParquetWriterTest.java:112-227):
  * produce records, run the pipeline, read every output parquet file
  * back, assert multiset equality. Plus the tests the reference is
  * missing (SURVEY §5.1): restart-from-checkpoint delivery and
  * decode-error policy.
  */
case class Rec(query: String, timestamp: Long)

class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // the reference's only concrete schema (test-message.proto:5-10)
  private val sampleSchema = StructType(Seq(
    StructField("query", StringType),
    StructField("timestamp", LongType),
    StructField("page_number", IntegerType),
    StructField("result_per_page", IntegerType)))

  private def jsonBytes(i: Int): Array[Byte] =
    s"""{"query":"q$i","timestamp":${1700000000000L + i},"page_number":${i % 7},"result_per_page":${i % 13}}"""
      .getBytes("UTF-8")

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toString

  private def newPipeline(cfg: PipelineConfig) = new Pipeline(cfg)

  test("config validation mirrors the reference builder rules") {
    val ok = PipelineConfig(targetDir = "/t", checkpointDir = "/c")
    assert(ok.maxFileSize == 1L << 30)
    intercept[IllegalArgumentException](PipelineConfig("", "/c"))
    intercept[IllegalArgumentException](PipelineConfig("/t", ""))
    intercept[IllegalArgumentException](
      PipelineConfig("/t", "/c", maxFileSize = 1024)) // < 100 KiB, KPW:456
    intercept[IllegalArgumentException](
      PipelineConfig("/t", "/c", writerParallelism = 0))
    intercept[IllegalArgumentException](
      PipelineConfig("/t", "/c", maxRecordsPerTrigger = Some(0)))
    intercept[IllegalArgumentException](
      PipelineConfig("/t", "/c", parquetPageSize = Int.MaxValue + 1L))
  }

  test("golden roundtrip: bytes -> decode -> parquet -> multiset equality") {
    import spark.implicits._
    val out = tmp("graft-out")
    val cfg = PipelineConfig(targetDir = out, checkpointDir = tmp("graft-ckpt"),
      maxFileOpenDuration = 1.second)
    val stream = MemoryStream[Array[Byte]](1, spark, None)
    val n = 500
    stream.addData((0 until n).map(jsonBytes))
    val h = newPipeline(cfg).start(stream.toDF(), JsonCodec(sampleSchema))
    try h.processAllAvailable() finally h.stop()

    val back = spark.read.schema(sampleSchema).parquet(out)
    assert(back.count() == n)
    val got = back.select(col("query"), col("timestamp")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val want = (0 until n).map(i => (s"q$i", 1700000000000L + i)).toSet
    assert(got == want)
    assert(h.metrics.writtenRecords.get() == n)
    assert(h.metrics.names.keySet.contains("parquet.writer.graft.written-records"))
  }

  test("date-partitioned layout places files under pattern directories") {
    import spark.implicits._
    val out = tmp("graft-date")
    val cfg = PipelineConfig(targetDir = out, checkpointDir = tmp("graft-ckpt"),
      directoryDateTimePattern = Some("yyyy-MM-dd"), maxFileOpenDuration = 1.second)
    val stream = MemoryStream[Array[Byte]](2, spark, None)
    stream.addData((0 until 50).map(jsonBytes))
    val h = newPipeline(cfg).start(stream.toDF(), JsonCodec(sampleSchema))
    try h.processAllAvailable() finally h.stop()

    val today = java.time.LocalDate.now(java.time.ZoneOffset.UTC).toString
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.exists(_ == s"_date=$today"), s"dirs were: ${dirs.mkString(",")}")
    assert(spark.read.parquet(out).count() == 50)
  }

  test("sized roller: multiple capped files, none grossly over cap") {
    import spark.implicits._
    val out = tmp("graft-sized")
    val cap = 100L * 1024 // the reference test's cap (KPWT:139-188)
    val cfg = PipelineConfig(targetDir = out, checkpointDir = tmp("graft-ckpt"),
      maxFileSize = cap, maxFileOpenDuration = 1.second,
      delivery = DeliveryMode.AtLeastOnceSized)
    val stream = MemoryStream[Array[Byte]](3, spark, None)
    val h = newPipeline(cfg).start(stream.toDF(), JsonCodec(sampleSchema))
    try {
      // several batches so the bytes/record feedback loop engages
      for (b <- 0 until 4) {
        stream.addData((b * 5000 until (b + 1) * 5000).map(jsonBytes))
        h.processAllAvailable()
      }
    } finally h.stop()

    val files = new java.io.File(out).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(files.length > 1, "size cap should have rolled multiple files")
    // rolling checks the cap at record granularity: mild overshoot is
    // legal (the reference asserts < 1.01x; record-count capping under
    // compression stays well below the byte cap)
    files.foreach(f => assert(f.length <= cap * 1.1,
      s"${f.getName} is ${f.length} bytes > cap $cap"))
    assert(spark.read.schema(sampleSchema).parquet(out).count() == 20000)
    // S15 parity: closed-file-size histogram was populated
    val hist = h.metrics.fileSizeHistogram
    assert(hist.size == files.length)
    assert(hist.forall(s => s > 0 && s <= cap * 1.1))
  }

  test("S9 exact naming: sized-roller files follow <time>_<instance>_<shard>.parquet") {
    import spark.implicits._
    val out = tmp("graft-named")
    val cfg = PipelineConfig(targetDir = out, checkpointDir = tmp("graft-ckpt"),
      instanceName = "writer1", maxFileSize = 100L * 1024,
      maxFileOpenDuration = 1.second, writerParallelism = 2,
      delivery = DeliveryMode.AtLeastOnceSized, referenceFileNaming = true)
    val stream = MemoryStream[Array[Byte]](7, spark, None)
    val h = newPipeline(cfg).start(stream.toDF(), JsonCodec(sampleSchema))
    try {
      for (b <- 0 until 2) {
        stream.addData((b * 4000 until (b + 1) * 4000).map(jsonBytes))
        h.processAllAvailable()
      }
    } finally h.stop()

    val files = new java.io.File(out).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.getName)
    assert(files.length > 1)
    // KPW:315-320 scheme with the default yyyyMMdd-HHmmssSSS pattern
    val scheme = """\d{8}-\d{9}_writer1_\d+\.parquet""".r
    files.foreach(f => assert(scheme.matches(f), s"unexpected file name $f"))
    assert(files.distinct.length == files.length)
    // shard indices come from the writing tasks
    assert(files.map(_.split("_").last.stripSuffix(".parquet").toInt).toSet
      .subsetOf(Set(0, 1)))
    // data unharmed by the renames
    assert(spark.read.schema(sampleSchema).parquet(out).count() == 8000)
  }

  test("steady-state sized roller size accuracy vs the reference band (KPWT:183-186)") {
    import spark.implicits._
    val out = tmp("graft-band")
    val cap = 150L * 1024
    val cfg = PipelineConfig(targetDir = out, checkpointDir = tmp("graft-ckpt"),
      maxFileSize = cap, maxFileOpenDuration = 1.second,
      delivery = DeliveryMode.AtLeastOnceSized, writerParallelism = 1)
    // incompressible uniform records (unique hex, no dictionary wins)
    // so file size tracks record count and the band is attributable to
    // the roller, not to compression drift
    def rec(i: Int): Array[Byte] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val payload = (0 until 8).map(k =>
        md.digest(s"$i-$k".getBytes("UTF-8")).map("%02x".format(_)).mkString).mkString
      s"""{"query":"$payload","timestamp":$i,"page_number":${i % 7},"result_per_page":${i % 13}}"""
        .getBytes("UTF-8")
    }
    val stream = MemoryStream[Array[Byte]](40, spark, None)
    val h = newPipeline(cfg).start(stream.toDF(), JsonCodec(sampleSchema))
    val calibrationFiles = scala.collection.mutable.Set.empty[String]
    var steadyFiles = Seq.empty[(String, Long)]
    try {
      var next = 0
      for (b <- 0 until 6) {
        stream.addData((next until next + 3000).map(rec))
        next += 3000
        h.processAllAvailable()
        val files = new java.io.File(out).listFiles()
          .filter(f => f.isFile && f.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.length))
        // batches 0-2 calibrate the bytes/record estimate (JSON-sample
        // prior, then feedback rounds weighted by the early files);
        // steady state = batch 3 on
        if (b <= 2) calibrationFiles ++= files.map(_._1)
        else steadyFiles = files.filterNot(f => calibrationFiles(f._1)).toSeq
      }
    } finally h.stop()
    // each batch's LAST file is a legitimate partial (row count not a
    // multiple of the cap) — exclude short tails, like the reference
    // excludes its trailing extra file (KPWT:175-179)
    val full = steadyFiles.filter(_._2 > cap / 2)
    assert(full.size >= 3, s"expected several steady-state full files, got $steadyFiles")
    // Reference asserts 0.9 < cap/len < 1.01 for every full file
    // (KPWT:183-186): files may OVERSHOOT the cap by up to 11% (it
    // only checks size after each record is written) but undershoot by
    // at most 1%. A record-count roller converges from the other side:
    // measured steady state here is cap/len ∈ [0.998, 1.013] — full
    // files land within ~1% over to ~1.3% under the cap. The pinned
    // band (0.9, 1.03) keeps the reference's overshoot bound and
    // documents the extra 2% undershoot allowance as the price of
    // capping by record count instead of per-record size checks.
    val ratios = full.map { case (name, len) =>
      val ratio = cap.toDouble / len
      info(f"$name: ${len} bytes, cap/len = $ratio%.3f")
      ratio
    }
    ratios.foreach(ratio =>
      assert(ratio > 0.9 && ratio < 1.03,
        f"cap/len = $ratio%.3f outside (0.9, 1.03) band; all: ${ratios.map(r => f"$r%.3f")}"))
  }

  test("sized roller respects the byte cap on the FIRST batch of wide records") {
    import spark.implicits._
    val out = tmp("graft-wide")
    val cap = 100L * 1024
    val cfg = PipelineConfig(targetDir = out, checkpointDir = tmp("graft-ckpt"),
      maxFileSize = cap, maxFileOpenDuration = 1.second,
      delivery = DeliveryMode.AtLeastOnceSized)
    val stream = MemoryStream[Array[Byte]](9, spark, None)
    // ~2 KiB records: a fixed small bytes/record prior would pack
    // ~400 of these per file and blow through the cap 8x
    val pad = "x" * 2048
    stream.addData((0 until 2000).map(i =>
      s"""{"query":"$pad$i","timestamp":$i,"page_number":1,"result_per_page":1}"""
        .getBytes("UTF-8")))
    val h = newPipeline(cfg).start(stream.toDF(), JsonCodec(sampleSchema))
    try h.processAllAvailable() finally h.stop()
    val files = new java.io.File(out).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(files.length > 1)
    files.foreach(f => assert(f.length <= cap * 1.1,
      s"first-batch file ${f.getName} is ${f.length} bytes > cap $cap"))
    assert(spark.read.schema(sampleSchema).parquet(out).count() == 2000)
  }

  test("sized roller after restart: prior-run files don't poison the feedback") {
    import spark.implicits._
    val out = tmp("graft-restart-sized")
    val ckpt = tmp("graft-restart-ckpt")
    val cap = 100L * 1024
    def cfg = PipelineConfig(targetDir = out, checkpointDir = ckpt,
      maxFileSize = cap, maxFileOpenDuration = 1.second,
      delivery = DeliveryMode.AtLeastOnceSized)
    val s1 = MemoryStream[Array[Byte]](30, spark, None)
    s1.addData((0 until 8000).map(jsonBytes))
    val h1 = newPipeline(cfg).start(s1.toDF(), JsonCodec(sampleSchema))
    try h1.processAllAvailable() finally h1.stop()
    val run1Files = new java.io.File(out).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(run1Files.nonEmpty)

    // second run, same target/checkpoint: its bytes/record estimate
    // must come from ITS OWN files only — mixing in run-1 bytes
    // inflated the estimate and collapsed file sizes pre-fix
    val s2 = MemoryStream[Array[Byte]](31, spark, None)
    s2.addData((8000 until 16000).map(jsonBytes))
    val h2 = newPipeline(cfg).start(s2.toDF(), JsonCodec(sampleSchema))
    try {
      for (b <- 0 until 2) { // extra batch so run-2 feedback engages
        h2.processAllAvailable()
        if (b == 0) s2.addData((16000 until 24000).map(jsonBytes))
      }
    } finally h2.stop()
    val run2Files = new java.io.File(out).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet") &&
        !run1Files.contains(f.getName))
    assert(run2Files.nonEmpty)
    // the histogram meters this run's files only (pre-fix it counted
    // run-1 leftovers too)
    assert(h2.metrics.fileSizeHistogram.size == run2Files.length)
    // and run-2 file sizes stay in a sane band around run-1's — the
    // collapse mode produced files ~an order of magnitude smaller
    val run1Avg = new java.io.File(out).listFiles()
      .filter(f => run1Files.contains(f.getName)).map(_.length).sum.toDouble / run1Files.size
    val run2Avg = run2Files.map(_.length).sum.toDouble / run2Files.length
    assert(run2Avg > run1Avg / 4,
      s"run-2 avg file $run2Avg collapsed vs run-1 avg $run1Avg")
  }

  test("file streaming source feeds the pipeline from dropped text files") {
    val srcDir = tmp("graft-filesrc")
    val out = tmp("graft-filesrc-out")
    // two "topic" files of json-lines records
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$srcDir/a.jsonl"),
      (0 until 40).map(i => new String(jsonBytes(i), "UTF-8"))
        .mkString("\n").getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$srcDir/b.jsonl"),
      (40 until 100).map(i => new String(jsonBytes(i), "UTF-8"))
        .mkString("\n").getBytes("UTF-8"))
    val cfg = PipelineConfig(targetDir = out, checkpointDir = tmp("graft-ckpt"),
      maxFileOpenDuration = 1.second)
    val pipe = newPipeline(cfg)
    val h = pipe.start(pipe.fileSource(spark, srcDir), JsonCodec(sampleSchema))
    try h.processAllAvailable() finally h.stop()
    val back = spark.read.schema(sampleSchema).parquet(out)
    assert(back.count() == 100)
    assert(back.select("query").distinct().count() == 100)
  }

  test("restart from checkpoint resumes without loss or duplication") {
    import spark.implicits._
    val out = tmp("graft-restart")
    val ckpt = tmp("graft-ckpt")
    def cfg = PipelineConfig(targetDir = out, checkpointDir = ckpt,
      maxFileOpenDuration = 1.second)
    val stream = MemoryStream[Array[Byte]](4, spark, None)

    stream.addData((0 until 300).map(jsonBytes))
    val h1 = newPipeline(cfg).start(stream.toDF(), JsonCodec(sampleSchema))
    try h1.processAllAvailable() finally h1.stop()

    stream.addData((300 until 600).map(jsonBytes))
    val h2 = newPipeline(cfg).start(stream.toDF(), JsonCodec(sampleSchema))
    try h2.processAllAvailable() finally h2.stop()

    val back = spark.read.schema(sampleSchema).parquet(out)
    assert(back.count() == 600, "exactly-once file sink: no loss, no dups")
    assert(back.select("query").distinct().count() == 600)
  }

  test("FailFast policy fails the query on an undecodable record") {
    import spark.implicits._
    val cfg = PipelineConfig(targetDir = tmp("graft-ff"),
      checkpointDir = tmp("graft-ckpt"), maxFileOpenDuration = 1.second)
    val stream = MemoryStream[Array[Byte]](5, spark, None)
    stream.addData(Seq(jsonBytes(1), "NOT JSON".getBytes("UTF-8")))
    val h = newPipeline(cfg).start(stream.toDF(), JsonCodec(sampleSchema),
      DecodeErrorPolicy.FailFast)
    try {
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        h.processAllAvailable()
      }
      assert(e.getMessage.contains("undecodable") ||
        Option(e.getCause).exists(_.getMessage.contains("undecodable")))
    } finally h.stop()
  }

  test("DeadLetter policy drops undecodable records and keeps the rest") {
    import spark.implicits._
    val out = tmp("graft-dl")
    val cfg = PipelineConfig(targetDir = out, checkpointDir = tmp("graft-ckpt"),
      maxFileOpenDuration = 1.second)
    val stream = MemoryStream[Array[Byte]](6, spark, None)
    stream.addData(Seq(jsonBytes(1), "garbage".getBytes("UTF-8"), jsonBytes(2)))
    val h = newPipeline(cfg).start(stream.toDF(), JsonCodec(sampleSchema),
      DecodeErrorPolicy.DeadLetter)
    try h.processAllAvailable() finally h.stop()
    assert(spark.read.schema(sampleSchema).parquet(out).count() == 2)
  }

  test("DeadLetter with quarantine dir captures raw bytes of bad records") {
    import spark.implicits._
    val out = tmp("graft-dlq")
    val dl = tmp("graft-dlq-dir")
    val cfg = PipelineConfig(targetDir = out, checkpointDir = tmp("graft-ckpt"),
      deadLetterDir = Some(dl), maxFileOpenDuration = 1.second)
    val stream = MemoryStream[Array[Byte]](8, spark, None)
    stream.addData(Seq(jsonBytes(1), "bad bytes 1".getBytes("UTF-8"),
      jsonBytes(2), "bad bytes 2".getBytes("UTF-8")))
    val h = newPipeline(cfg).start(stream.toDF(), JsonCodec(sampleSchema),
      DecodeErrorPolicy.DeadLetter)
    try h.processAllAvailable() finally h.stop()

    assert(spark.read.schema(sampleSchema).parquet(out).count() == 2)
    // the dead-letter side query re-reads the source; received-records
    // must meter the MAIN query only, not double-count
    assert(h.metrics.receivedRecords.get() == 4,
      s"received=${h.metrics.receivedRecords.get()} — dead-letter double-count?")
    val quarantined = spark.read.parquet(dl)
    assert(quarantined.count() == 2)
    val bytes = quarantined.select("value").collect()
      .map(r => new String(r.getAs[Array[Byte]](0), "UTF-8")).toSet
    assert(bytes == Set("bad bytes 1", "bad bytes 2"))
  }

  test("valid record with all-null fields is kept — only parse failures quarantine") {
    import spark.implicits._
    val out = tmp("graft-nulls")
    val dl = tmp("graft-nulls-dl")
    val cfg = PipelineConfig(targetDir = out, checkpointDir = tmp("graft-ckpt"),
      deadLetterDir = Some(dl), maxFileOpenDuration = 1.second)
    val allNull =
      """{"query":null,"timestamp":null,"page_number":null,"result_per_page":null}"""
        .getBytes("UTF-8")
    val stream = MemoryStream[Array[Byte]](20, spark, None)
    stream.addData(Seq(jsonBytes(1), allNull, "not json at all".getBytes("UTF-8")))
    val h = newPipeline(cfg).start(stream.toDF(), JsonCodec(sampleSchema),
      DecodeErrorPolicy.DeadLetter)
    try h.processAllAvailable() finally h.stop()
    val kept = spark.read.schema(sampleSchema).parquet(out)
    assert(kept.count() == 2, "all-null record is valid data, not a decode failure")
    assert(kept.filter(col("query").isNull).count() == 1)
    assert(spark.read.parquet(dl).count() == 1, "only the unparsable record quarantines")
  }

  test("two concurrent pipelines meter their own queries only") {
    import spark.implicits._
    val cfgA = PipelineConfig(targetDir = tmp("graft-ma"), checkpointDir = tmp("graft-cka"),
      instanceName = "a", maxFileOpenDuration = 1.second)
    val cfgB = PipelineConfig(targetDir = tmp("graft-mb"), checkpointDir = tmp("graft-ckb"),
      instanceName = "b", maxFileOpenDuration = 1.second)
    val sA = MemoryStream[Array[Byte]](21, spark, None)
    val sB = MemoryStream[Array[Byte]](22, spark, None)
    sA.addData((1 to 7).map(jsonBytes))
    sB.addData((1 to 3).map(jsonBytes))
    val hA = newPipeline(cfgA).start(sA.toDF(), JsonCodec(sampleSchema))
    val hB = newPipeline(cfgB).start(sB.toDF(), JsonCodec(sampleSchema))
    try {
      hA.processAllAvailable()
      hB.processAllAvailable()
      assert(hA.metrics.receivedRecords.get() == 7,
        s"pipeline A saw ${hA.metrics.receivedRecords.get()} — cross-contaminated?")
      assert(hB.metrics.receivedRecords.get() == 3,
        s"pipeline B saw ${hB.metrics.receivedRecords.get()} — cross-contaminated?")
    } finally { hA.stop(); hB.stop() }
  }

  test("TypedCodec decodes an opaque binary format (Parser<T> seam)") {
    import spark.implicits._
    // hand-rolled length-prefixed binary layout standing in for
    // protobuf (the spark-protobuf jar is absent offline)
    def enc(q: String, ts: Long): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val d = new DataOutputStream(bos)
      d.writeUTF(q); d.writeLong(ts); d.flush()
      bos.toByteArray
    }
    val codec = TypedCodec[Rec] { bytes =>
      val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
      Rec(in.readUTF(), in.readLong())
    }
    val out = tmp("graft-bin")
    val cfg = PipelineConfig(targetDir = out, checkpointDir = tmp("graft-ckpt"),
      maxFileOpenDuration = 1.second)
    val stream = MemoryStream[Array[Byte]](7, spark, None)
    stream.addData((0 until 100).map(i => enc(s"b$i", i.toLong)))
    val h = newPipeline(cfg).start(stream.toDF(), codec)
    try h.processAllAvailable() finally h.stop()
    val back = spark.read.parquet(out)
    assert(back.count() == 100)
    assert(back.filter(col("query") === "b42" && col("timestamp") === 42L).count() == 1)
  }

  test("proto decode plans as the native ProtoDecode below the single writer exchange") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.graftbridge.Bridge
    val cfg = PipelineConfig(targetDir = tmp("graft-plan"), checkpointDir = tmp("graft-ckpt"),
      maxFileOpenDuration = 1.second)
    val stream = MemoryStream[Array[Byte]](8, spark, None)
    stream.addData((0 until 50).map(i => SampleMessageProto.encode(s"q$i", i.toLong, i, null)))
    val h = newPipeline(cfg).start(stream.toDF(), SampleMessageProto.codec)
    val plan = try {
      h.processAllAvailable()
      Bridge.lastMicroBatchPlan(h.query).getOrElse(fail("no micro-batch executed"))
    } finally h.stop()
    // AdaptiveSparkPlanExec / QueryStageExec are leaves to TreeNode.collect
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case o => o.children
    }).flatMap(flatten)
    def decodes(p: SparkPlan) =
      p.expressions.exists(_.exists(_.isInstanceOf[ProtoDecode]))
    val nodes = flatten(plan)
    val exchanges = nodes.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.length == 1, s"expected one writer exchange in:\n$plan")
    assert(flatten(exchanges.head.child).exists(decodes),
      s"ProtoDecode is not below the writer exchange in:\n$plan")
    assert(!nodes.exists(_.expressions.exists(_.exists(_.isInstanceOf[ScalaUDF]))),
      s"a ScalaUDF is left on the decode path in:\n$plan")
  }

  test("FailFast mid-stream: a reader of targetDir sees exactly the batches before the bad one") {
    import spark.implicits._
    val out = tmp("graft-ff-mid")
    val cfg = PipelineConfig(targetDir = out, checkpointDir = tmp("graft-ckpt"),
      maxFileOpenDuration = 1.second)
    val stream = MemoryStream[Array[Byte]](9, spark, None)
    def rec(i: Int) = SampleMessageProto.encode(s"q$i", 1700000000000L + i,
      if (i % 3 == 0) null else Int.box(i % 7), null)
    val h = newPipeline(cfg).start(stream.toDF(), SampleMessageProto.codec,
      DecodeErrorPolicy.FailFast)
    try {
      stream.addData((0 until 200).map(rec))
      h.processAllAvailable()
      // second batch: valid records around one truncated record
      stream.addData((200 until 300).map(rec) ++ Seq(Array[Byte](0x0A, 0x7F)) ++
        (300 until 400).map(rec))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        h.processAllAvailable()
      }
      assert(e.getMessage.contains("undecodable") ||
        Option(e.getCause).exists(_.getMessage.contains("undecodable")))
    } finally h.stop()

    // the sink's commit log decides what a reader sees: no file of the
    // failed batch, all of the first
    val back = spark.read.parquet(out)
    assert(back.count() == 200)
    val got = back.collect().map(r => (r.getAs[String]("query"), r.getAs[Long]("timestamp"),
      Option(r.getAs[Integer]("page_number")).map(_.intValue),
      Option(r.getAs[Integer]("result_per_page")))).toSet
    val want = (0 until 200).map(i => (s"q$i", 1700000000000L + i,
      if (i % 3 == 0) None else Some(i % 7), None)).toSet
    assert(got == want)
  }

  test("parquet writer options reach both sinks: no dictionary pages when dictionaryEnabled = false") {
    import spark.implicits._
    def columnChunks(dir: String) = {
      val conf = spark.sparkContext.hadoopConfiguration
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).toSeq.flatMap { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.toURI), conf))
        try {
          import scala.jdk.CollectionConverters._
          r.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
        } finally r.close()
      }
    }
    def write(delivery: DeliveryMode, dictionary: Boolean, id: Int): String = {
      val out = tmp("graft-dict")
      val cfg = PipelineConfig(targetDir = out, checkpointDir = tmp("graft-ckpt"),
        maxFileOpenDuration = 1.second, delivery = delivery, dictionaryEnabled = dictionary)
      val stream = MemoryStream[Array[Byte]](id, spark, None)
      stream.addData((0 until 500).map(jsonBytes))
      val h = newPipeline(cfg).start(stream.toDF(), JsonCodec(sampleSchema))
      try h.processAllAvailable() finally h.stop()
      out
    }
    // control: parquet-mr's default writes dictionary pages here
    assert(columnChunks(write(DeliveryMode.ExactlyOnce, dictionary = true, 23))
      .exists(_.hasDictionaryPage))
    for ((delivery, id) <- Seq(DeliveryMode.ExactlyOnce -> 24, DeliveryMode.AtLeastOnceSized -> 25)) {
      val chunks = columnChunks(write(delivery, dictionary = false, id))
      assert(chunks.nonEmpty && !chunks.exists(_.hasDictionaryPage),
        s"$delivery wrote dictionary pages with dictionaryEnabled = false")
    }
  }

  test("a pipeline that fails to start leaves no listener and no running query behind") {
    import spark.implicits._
    val listeners = spark.streams.listListeners().toSet
    val notADir = java.nio.file.Files.createTempFile("graft-ckpt-file", "")
    val stream = MemoryStream[Array[Byte]](26, spark, None)
    // the main query cannot create its checkpoint
    intercept[Exception](newPipeline(PipelineConfig(targetDir = tmp("graft-out"),
      checkpointDir = notADir.toString)).start(stream.toDF(), JsonCodec(sampleSchema)))
    assert(spark.streams.listListeners().toSet == listeners)
    // the main query starts, then the dead-letter query cannot
    val ckpt = tmp("graft-ckpt")
    java.nio.file.Files.createFile(java.nio.file.Paths.get(s"$ckpt-deadletter"))
    val active = spark.streams.active.map(_.id).toSet
    intercept[Exception](newPipeline(PipelineConfig(targetDir = tmp("graft-out"),
      checkpointDir = ckpt, deadLetterDir = Some(tmp("graft-dl"))))
      .start(stream.toDF(), JsonCodec(sampleSchema), DecodeErrorPolicy.DeadLetter))
    assert(spark.streams.listListeners().toSet == listeners)
    assert(spark.streams.active.map(_.id).toSet == active, "the started main query still runs")
  }
}
