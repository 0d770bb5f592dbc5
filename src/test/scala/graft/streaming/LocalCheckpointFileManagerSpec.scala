package graft.streaming

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.TestSpark
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** The fork-free local checkpoint commit path: the file protocol
  * `HDFSMetadataLog` relies on (no-clobber, cancel, replace), restart
  * from a checkpoint written by Spark's default manager, and JFR
  * guards that micro-batches start no processes, neither for the
  * checkpoint nor for the files the sink writes. */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  // the session's: a plain configuration opened first would leave
  // Hadoop's own `file:` filesystem in its per-scheme cache
  private lazy val conf = spark.sessionState.newHadoopConf()
  private val managerKey = "spark.sql.streaming.checkpointFileManagerClass"

  private def tmpDir(prefix: String) = Files.createTempDirectory(prefix)

  private def write(fm: CheckpointFileManager, p: Path, text: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def names(dir: java.nio.file.Path): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

  test("a no-overwrite collision throws Hadoop's FileAlreadyExistsException and keeps the original") {
    val dir = tmpDir("graft-lcfm-clash")
    val fm = new LocalCheckpointFileManager(new Path(dir.toUri), conf)
    val p = new Path(dir.toUri.toString, "0")
    write(fm, p, "first", overwrite = false)
    intercept[FileAlreadyExistsException](write(fm, p, "second", overwrite = false))
    assert(new String(Files.readAllBytes(dir.resolve("0")), UTF_8) == "first")
    assert(names(dir) == Set("0"), "the losing writer's temp file was left behind")
  }

  test("cancel leaves neither the target nor a temp file") {
    val dir = tmpDir("graft-lcfm-cancel")
    val fm = new LocalCheckpointFileManager(new Path(dir.toUri), conf)
    val out = fm.createAtomic(new Path(dir.toUri.toString, "1"), overwriteIfPossible = true)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(names(dir).isEmpty)
  }

  test("an overwrite replaces the file and drops the stale .crc, so a checksummed read still works") {
    val dir = tmpDir("graft-lcfm-replace")
    val p = new Path(dir.toUri.toString, "metadata")
    write(new FileContextBasedCheckpointFileManager(p.getParent, conf), p, "old", overwrite = true)
    assert(Files.exists(dir.resolve(".metadata.crc")), "Spark's default manager wrote no sidecar")
    write(new LocalCheckpointFileManager(p.getParent, conf), p, "a longer replacement",
      overwrite = true)
    assert(!Files.exists(dir.resolve(".metadata.crc")))
    val in = FileSystem.getLocal(conf).open(p) // checksummed
    try assert(new String(in.readAllBytes(), UTF_8) == "a longer replacement")
    finally in.close()
  }

  test("file: paths are committed here; other schemes by Spark's own manager") {
    val viaSpark = CheckpointFileManager.create(new Path("file:///tmp"),
      spark.sessionState.newHadoopConf())
    assert(viaSpark.isInstanceOf[LocalCheckpointFileManager] && viaSpark.isLocal)
    // a scheme without an AbstractFileSystem binding: Spark falls back
    // to its FileSystem-based manager, which renames through the FS
    val mockConf = new Configuration()
    mockConf.set("fs.graftmock.impl", classOf[RenameCountingFs].getName)
    mockConf.setBoolean("fs.graftmock.impl.disable.cache", true)
    val dir = tmpDir("graft-lcfm-mock")
    val p = new Path(s"graftmock://${dir.toUri.getPath}/0")
    val before = RenameCountingFs.renames.get
    write(new LocalCheckpointFileManager(p.getParent, mockConf), p, "x", overwrite = false)
    assert(RenameCountingFs.renames.get == before + 1)
    assert(new String(Files.readAllBytes(dir.resolve("0")), UTF_8) == "x")
  }

  private val schema = StructType(Seq(StructField("query", StringType),
    StructField("timestamp", LongType)))
  private def json(i: Int): Array[Byte] =
    s"""{"query":"q$i","timestamp":$i}""".getBytes(UTF_8)

  test("an exactly-once pipeline restarts from a checkpoint written by Spark's default manager") {
    val out = tmpDir("graft-lcfm-out").toString
    val ckpt = tmpDir("graft-lcfm-ckpt").toString
    def cfg = PipelineConfig(targetDir = out, checkpointDir = ckpt,
      maxFileOpenDuration = 100.millis)
    import spark.implicits._
    val stream = MemoryStream[Array[Byte]](871, spark, None)
    val ours = spark.conf.get(managerKey)
    spark.conf.set(managerKey, classOf[FileContextBasedCheckpointFileManager].getName)
    try {
      stream.addData((0 until 300).map(json))
      val h1 = new Pipeline(cfg).start(stream.toDF(), JsonCodec(schema))
      try h1.processAllAvailable() finally h1.stop()
    } finally spark.conf.set(managerKey, ours)
    assert(Files.exists(Paths.get(ckpt, "commits", ".0.crc")),
      "the first run did not write through Spark's default manager")

    stream.addData((300 until 600).map(json))
    val h2 = new Pipeline(cfg).start(stream.toDF(), JsonCodec(schema))
    try h2.processAllAvailable() finally h2.stop()

    val commits = names(Paths.get(ckpt, "commits")).filter(_.forall(_.isDigit))
    assert(commits == Set("0", "1"), s"committed batches: $commits")
    val back = spark.read.schema(schema).parquet(out)
    assert(back.count() == 600, "no lost and no duplicated rows")
    assert(back.select("query").distinct().count() == 600)
  }

  /** (thread, stack) of each `jdk.ProcessStart` event while three
    * micro-batches run after the first, plus one control start on this
    * thread. */
  private def processStarts(streamId: Int, writerParallelism: Int): Seq[(String, String)] = {
    val dump = Files.createTempFile("graft-lcfm", ".jfr")
    import spark.implicits._
    val stream = MemoryStream[Array[Byte]](streamId, spark, None)
    val h = new Pipeline(PipelineConfig(targetDir = tmpDir("graft-lcfm-jfr-out").toString,
      checkpointDir = tmpDir("graft-lcfm-jfr-ckpt").toString,
      maxFileOpenDuration = 100.millis, writerParallelism = writerParallelism))
      .start(stream.toDF(), JsonCodec(schema))
    val rec = new jdk.jfr.Recording()
    try {
      stream.addData((0 until 100).map(json))
      h.processAllAvailable() // start-up and the first batch may mkdirs
      val first = h.query.lastProgress.batchId
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      // positive control: the recording does see a process start
      new ProcessBuilder("true").start().waitFor()
      for (b <- 1 to 3) {
        stream.addData((b * 100 until (b + 1) * 100).map(json))
        h.processAllAvailable()
      }
      rec.stop()
      rec.dump(dump)
      assert(h.query.lastProgress.batchId >= first + 3)
    } finally { rec.close(); h.stop() }
    val events = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
    Files.delete(dump)
    val threads = events.map(e => Option(e.getThread).map(_.getJavaName).getOrElse(""))
    assert(threads.contains(Thread.currentThread.getName), "the recording saw no process start")
    threads.zip(events.map(e => Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala.take(25))
      .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}").mkString("\n    ")))
  }

  test("JFR guard: micro-batches after the first start no processes on the stream thread") {
    val fromStream = processStarts(872, writerParallelism = 1).count(_._1.startsWith("stream execution thread"))
    assert(fromStream == 0, s"$fromStream process starts on the stream thread")
  }

  test("JFR guard: exactly-once micro-batches with two writers start no processes on any thread") {
    val local = FileSystem.get(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    assert(local.isInstanceOf[NioLocalFileSystem], s"file: is served by ${local.getClass}")
    // not the pipeline's: a garbage-collected session of an earlier
    // query removes its artifact directory with `rm -rf`
    val starts = processStarts(873, writerParallelism = 2)
      .filter { case (thread, stack) => thread != Thread.currentThread.getName &&
        !stack.contains("ArtifactManager$StateCleanupRunner") }
    assert(starts.isEmpty, s"process starts beside the control:\n${starts.mkString("\n")}")
  }
}

/** The local filesystem under another scheme, counting renames. */
class RenameCountingFs extends RawLocalFileSystem {
  override def getScheme: String = "graftmock"
  override def getUri: URI = URI.create("graftmock:///")
  override def rename(src: Path, dst: Path): Boolean = {
    RenameCountingFs.renames.incrementAndGet()
    super.rename(src, dst)
  }
}
object RenameCountingFs { val renames = new java.util.concurrent.atomic.AtomicInteger }
