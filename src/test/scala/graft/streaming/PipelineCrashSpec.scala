package graft.streaming

import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import graft.TestSpark
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, FilterFileSystem,
  LocatedFileStatus, Path, PathFilter, RawLocalFileSystem, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** Both delivery modes killed at every point of a micro-batch, then
  * restarted on the same checkpoint and source: no record is lost or
  * duplicated, and no reader-visible file is partial. Each kill is an
  * exception [[Crash]] throws from inside the commit path — a log
  * write of the checkpoint manager, or a `create`/`rename` of the
  * target filesystem — never a timed interrupt. Two sized tests share
  * one `targetDir` between queries; the last test counts the sized
  * roller's listings to keep its per-batch cost O(batch).
  */
class PipelineCrashSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val managerKey = "spark.sql.streaming.checkpointFileManagerClass"
  private val streamIds = new AtomicInteger(900)

  private val schema = StructType(Seq(StructField("query", StringType),
    StructField("timestamp", LongType)))
  // ~280 parquet bytes a record: a 1,000-record batch rolls several
  // 100 KiB files in the sized mode
  private def rec(i: Int): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val pad = (0 until 8).map(k =>
      md.digest(s"$i-$k".getBytes("UTF-8")).map("%02x".format(_)).mkString).mkString
    s"""{"query":"q$i-$pad","timestamp":$i}""".getBytes("UTF-8")
  }

  /** Runs `body` with the target on the `graftcrash` scheme and the
    * checkpoint through [[CrashCheckpointFileManager]]. */
  private def withCrashes[T](body: (String, String) => T): T = {
    spark.sparkContext.hadoopConfiguration.set(s"fs.${CrashFs.Scheme}.impl", classOf[CrashFs].getName)
    val ours = spark.conf.get(managerKey)
    spark.conf.set(managerKey, classOf[CrashCheckpointFileManager].getName)
    val root = Files.createTempDirectory("graft-crash")
    try body(s"${CrashFs.Scheme}://${root.resolve("out")}", root.resolve("ckpt").toString)
    finally { Crash.disarm(); spark.conf.set(managerKey, ours) }
  }

  private def config(mode: DeliveryMode, out: String, ckpt: String, parallelism: Int) = {
    val sized = mode == DeliveryMode.ExactlyOnceSized
    PipelineConfig(targetDir = out, checkpointDir = ckpt,
      maxFileSize = if (sized) 100L * 1024 else PipelineConfig.DefaultMaxFileSize,
      maxFileOpenDuration = 100.millis, writerParallelism = parallelism, delivery = mode,
      referenceFileNaming = sized)
  }

  /** Parquet files a reader of `dir` would open: Spark's file index
    * skips names starting with `.`, and with `_` unless they hold `=`. */
  private def visibleParquet(dir: NioPath): Seq[NioPath] = {
    def hidden(n: String) = n.startsWith(".") || (n.startsWith("_") && !n.contains("="))
    Files.list(dir).iterator().asScala.toSeq.filterNot(p => hidden(p.getFileName.toString))
      .flatMap(p => if (Files.isDirectory(p)) visibleParquet(p)
        else if (p.toString.endsWith(".parquet")) Seq(p) else Nil)
  }

  private val modes = Seq(DeliveryMode.ExactlyOnce, DeliveryMode.ExactlyOnceSized)
  private val batch = 1000

  /** (name, the fault armed for batch 1) — in the order a batch meets
    * them. Mid-write fails the second data file of the batch; mid-move
    * fails the roller's second move, or the native sink's commit-log
    * rename (its one publishing step). */
  private def killPoints(mode: DeliveryMode): Seq[(String, Crash.Fault)] = Seq(
    "before the WAL" -> Crash.OnLog("offsets", 1, afterWrite = false),
    "after the WAL" -> Crash.OnLog("offsets", 1, afterWrite = true),
    "mid-write" -> Crash.OnCreate(2),
    "after the sink commit" -> Crash.OnLog("commits", 1, afterWrite = false),
    "mid-move" -> Crash.OnRename(if (mode == DeliveryMode.ExactlyOnceSized) 2 else 1))

  for (mode <- modes; (point, fault) <- killPoints(mode))
    test(s"$mode: a kill $point, then a restart, loses and duplicates nothing") {
      withCrashes { (out, ckpt) =>
        import spark.implicits._
        val cfg = config(mode, out, ckpt, parallelism = 2)
        val stream = MemoryStream[Array[Byte]](streamIds.incrementAndGet(), spark, None)
        // records the run's sink reports written
        def run(): Long = {
          val h = new Pipeline(cfg).start(stream.toDF(), JsonCodec(schema))
          try h.processAllAvailable() finally h.stop()
          h.metrics.writtenRecords.get
        }
        stream.addData((0 until batch).map(rec))
        run()
        Crash.arm(fault)
        stream.addData((batch until 2 * batch).map(rec))
        val e = intercept[StreamingQueryException](run())
        assert(Crash.fired, s"the fault never fired: $e")
        assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(t => String.valueOf(t.getMessage).contains(Crash.Tag)),
          s"the query died of something else: $e")
        val replayed = run() // replays batch 1
        // the sized roller counts in the batch itself, so even a replay
        // that only finishes the moves meters the whole batch (the
        // native sink's count arrives with an asynchronous progress event)
        if (mode == DeliveryMode.ExactlyOnceSized) assert(replayed == batch)
        stream.addData((2 * batch until 3 * batch).map(rec))
        run()
        assertExactlyOnce(out, 3 * batch)
      }
    }

  /** `out` reads back `n` distinct records, and every file a reader
    * sees opens with rows in its footer. */
  private def assertExactlyOnce(out: String, n: Int): Unit = {
    val back = spark.read.schema(schema).parquet(out)
    assert(back.count() == n)
    assert(back.select("query").distinct().count() == n)
    val conf = spark.sparkContext.hadoopConfiguration
    val files = visibleParquet(java.nio.file.Paths.get(URI.create(out).getPath))
    assert(files.nonEmpty)
    files.foreach { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.toUri), conf))
      try assert(r.getRecordCount > 0, s"$f holds no rows") finally r.close()
    }
  }

  // Batch ids restart at 0 with a new checkpoint, and two pipelines
  // count the same ids: a staging directory keyed by batch id alone
  // would take the other run's marker for its own and skip a batch.
  test("sized roller: a new checkpoint over an old targetDir loses nothing") {
    withCrashes { (out, ckpt) =>
      import spark.implicits._
      for ((from, run) <- Seq(0 -> "a", 3 * batch -> "b")) {
        val stream = MemoryStream[Array[Byte]](streamIds.incrementAndGet(), spark, None)
        val h = new Pipeline(config(DeliveryMode.ExactlyOnceSized, out, s"$ckpt-$run", parallelism = 2))
          .start(stream.toDF(), JsonCodec(schema))
        try for (b <- 0 until 3) {
          stream.addData((from + b * batch until from + (b + 1) * batch).map(rec))
          h.processAllAvailable()
        } finally h.stop()
      }
      assertExactlyOnce(out, 6 * batch)
    }
  }

  test("sized roller: two pipelines on one targetDir keep apart") {
    withCrashes { (out, ckpt) =>
      import spark.implicits._
      val pipes = Seq("a", "b").map { name =>
        val stream = MemoryStream[Array[Byte]](streamIds.incrementAndGet(), spark, None)
        val cfg = config(DeliveryMode.ExactlyOnceSized, out, s"$ckpt-$name", parallelism = 2)
          .copy(instanceName = s"writer-$name")
        (stream, new Pipeline(cfg).start(stream.toDF(), JsonCodec(schema)))
      }
      try for (b <- 0 until 3; ((stream, h), i) <- pipes.zipWithIndex) {
        val from = (2 * b + i) * batch
        stream.addData((from until from + batch).map(rec))
        h.processAllAvailable()
      } finally pipes.foreach(_._2.stop())
      assertExactlyOnce(out, 6 * batch)
    }
  }

  test("the sized roller lists only its own batch: no targetDir walk, no growth per batch") {
    withCrashes { (out, ckpt) =>
      import spark.implicits._
      val stream = MemoryStream[Array[Byte]](streamIds.incrementAndGet(), spark, None)
      val h = new Pipeline(config(DeliveryMode.ExactlyOnceSized, out, ckpt, parallelism = 1))
        .start(stream.toDF(), JsonCodec(schema))
      val batches = 24
      Crash.listedDirs.clear()
      val perBatch = try (0 until batches).map { b =>
        Crash.resetListings()
        stream.addData((b * 400 until (b + 1) * 400).map(rec))
        h.processAllAvailable()
        (Crash.listCalls.get, Crash.listedEntries.get)
      } finally h.stop()
      info(s"(listing calls, entries listed) per batch: ${perBatch.mkString(" ")}")

      // the old roller walked targetDir after every batch; now nothing
      // lists it at all, recursively or not
      val target = new Path(out).toUri.getPath
      assert(!Crash.listedDirs.asScala.exists(_.toUri.getPath.stripSuffix("/") == target),
        "targetDir was listed")
      // batch 0 calibrates the cap; every later batch rolls alike, so
      // its listing work must stay flat while targetDir fills up
      val (early, late) = perBatch.drop(1).splitAt((batches - 1) / 2)
      assert(late.map(_._1).max <= early.map(_._1).max, s"listing calls grew: $perBatch")
      assert(late.map(_._2).max <= early.map(_._2).max, s"entries listed grew: $perBatch")
      assert(spark.read.schema(schema).parquet(out).count() == batches * 400)
    }
  }
}

/** The armed fault and the listing counters [[CrashFs]] and
  * [[CrashCheckpointFileManager]] share. One fault at a time; it fires
  * once and disarms itself. */
object Crash {
  val Tag = "injected crash"
  sealed trait Fault
  /** Fails the write of `<checkpoint>/<log>/<batch>`, before it
    * starts or after it is committed. */
  final case class OnLog(log: String, batch: Long, afterWrite: Boolean) extends Fault
  /** Fails the n-th `create` of a `.parquet` file. */
  final case class OnCreate(nth: Int) extends Fault
  /** Fails the n-th rename that publishes: a `.parquet` file from
    * outside a committer's `_temporary` tree, or a `_spark_metadata`
    * entry. */
  final case class OnRename(nth: Int) extends Fault

  private val armed = new AtomicReference[Fault]()
  private val matched = new AtomicInteger
  @volatile var fired = false

  def arm(f: Fault): Unit = { matched.set(0); fired = false; armed.set(f) }
  def disarm(): Unit = armed.set(null)
  private def fire(what: String): Nothing = {
    disarm(); fired = true
    throw new java.io.IOException(s"$Tag: $what")
  }

  def onCreate(p: Path): Unit = armed.get match {
    case OnCreate(n) if p.getName.endsWith(".parquet") && matched.incrementAndGet() == n =>
      fire(s"create $p")
    case _ =>
  }
  def onRename(src: Path, dst: Path): Unit = {
    val publishes = (src.getName.endsWith(".parquet") && !src.toString.contains("/_temporary/")) ||
      dst.getParent.getName == "_spark_metadata"
    armed.get match {
      case OnRename(n) if publishes && matched.incrementAndGet() == n => fire(s"rename $src")
      case _ =>
    }
  }
  /** `Some(afterWrite)` when the write of `p` is the armed log fault. */
  def onLog(p: Path): Option[Boolean] = armed.get match {
    case f @ OnLog(log, b, after) if p.getParent.getName == log && p.getName == b.toString &&
        armed.compareAndSet(f, null) =>
      fired = true
      Some(after)
    case _ => None
  }

  val listCalls, listedEntries = new AtomicInteger
  /** Every directory listed, qualified. */
  val listedDirs = new ConcurrentLinkedQueue[Path]()
  def resetListings(): Unit = { listCalls.set(0); listedEntries.set(0) }
  def listed(dir: Path, entries: Int): Unit = {
    listedDirs.add(dir); listCalls.incrementAndGet(); listedEntries.addAndGet(entries); ()
  }
}

/** The local filesystem under the `graftcrash` scheme, with [[Crash]]'s
  * `create`/`rename` faults and listing counters. */
class CrashFs extends FilterFileSystem(new CrashFs.Local) {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    Crash.onCreate(f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    Crash.onRename(src, dst)
    super.rename(src, dst)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    val all = super.listStatus(f)
    Crash.listed(makeQualified(f), all.length)
    all
  }
  // listFiles, recursive or not, lists each directory through this
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    val all = super.listLocatedStatus(f)
    Crash.listed(makeQualified(f), 0)
    new RemoteIterator[LocatedFileStatus] {
      def hasNext: Boolean = all.hasNext
      def next(): LocatedFileStatus = { Crash.listedEntries.incrementAndGet(); all.next() }
    }
  }
  override def getScheme: String = CrashFs.Scheme
}
object CrashFs {
  val Scheme = "graftcrash"
  final class Local extends RawLocalFileSystem {
    override def getScheme: String = Scheme
    override def getUri: URI = URI.create(s"$Scheme:///")
    // plain statuses: a local one loads its permissions through a
    // java.io.File, which takes only file: URIs
    private def plain(s: FileStatus) = new FileStatus(s.getLen, s.isDirectory,
      s.getReplication, s.getBlockSize, s.getModificationTime, s.getPath)
    override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(plain)
    override def getFileStatus(f: Path): FileStatus = plain(super.getFileStatus(f))
  }
}

/** The session's checkpoint manager with [[Crash]]'s log-write faults. */
class CrashCheckpointFileManager(path: Path, conf: Configuration) extends CheckpointFileManager {
  private val impl = new LocalCheckpointFileManager(path, conf)

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    Crash.onLog(p) match {
      case None => impl.createAtomic(p, overwriteIfPossible)
      case Some(false) => throw new java.io.IOException(s"${Crash.Tag}: before writing $p")
      case Some(true) =>
        val log = impl.createAtomic(p, overwriteIfPossible)
        new CancellableFSDataOutputStream(log) {
          override def cancel(): Unit = log.cancel()
          override def close(): Unit = {
            log.close()
            throw new java.io.IOException(s"${Crash.Tag}: after writing $p")
          }
        }
    }
  override def open(p: Path): FSDataInputStream = impl.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = impl.list(p, filter)
  override def mkdirs(p: Path): Unit = impl.mkdirs(p)
  override def exists(p: Path): Boolean = impl.exists(p)
  override def delete(p: Path): Unit = impl.delete(p)
  override def isLocal: Boolean = impl.isLocal
  override def createCheckpointDirectory(): Path = impl.createCheckpointDirectory()
  override def close(): Unit = impl.close()
}
