package graft.examples

import graft.GraftSession
import graft.streaming._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types._

import scala.concurrent.duration._

/** Example: the reference's use-case on this engine — a bytes stream
  * decoded and continuously written as rolling, date-partitioned
  * parquet. Run:
  *   sbt "runMain graft.examples.PipelineDemo /tmp/demo-out /tmp/demo-ckpt [sized|file]"
  */
object PipelineDemo {
  /** Body shared by `main` and ExamplesSpec: runs against the caller's
    * session and returns the result line. `mode` is "native" (memory
    * stream + one dead-lettered corrupt record), "sized" (size-rolled
    * exactly-once), or "file" (json-lines file source). */
  def run(spark: SparkSession, out: String, ckpt: String, mode: String): String = {
    import spark.implicits._
    val sized = mode == "sized"
    val fileMode = mode == "file"

    val schema = StructType(Seq(
      StructField("query", StringType),
      StructField("timestamp", LongType),
      StructField("page_number", IntegerType)))

    val cfg = PipelineConfig(
      targetDir = out,
      checkpointDir = ckpt,
      instanceName = "demo",
      maxFileSize = if (sized) 100L * 1024 else PipelineConfig.DefaultMaxFileSize,
      maxFileOpenDuration = 1.second,
      directoryDateTimePattern = if (sized) None else Some("yyyy-MM-dd"),
      deadLetterDir = Some(s"$out-deadletter"),
      delivery = if (sized) DeliveryMode.ExactlyOnceSized else DeliveryMode.ExactlyOnce)

    val pipe = new Pipeline(cfg)
    val n = if (sized) 30000 else 1000
    val raw = if (fileMode) {
      // file-source mode: records arrive as dropped json-lines files
      val srcDir = java.nio.file.Files.createTempDirectory("demo-src")
      java.nio.file.Files.write(srcDir.resolve("batch0.jsonl"),
        (0 until n).map(i =>
          s"""{"query":"demo$i","timestamp":${1700000000000L + i},"page_number":${i % 7}}""")
          .mkString("\n").getBytes("UTF-8"))
      pipe.fileSource(spark, srcDir.toString)
    } else {
      val stream = MemoryStream[Array[Byte]](1, spark, None)
      stream.addData((0 until n).map(i =>
        s"""{"query":"demo$i","timestamp":${1700000000000L + i},"page_number":${i % 7}}"""
          .getBytes("UTF-8")))
      // one corrupt record: DeadLetter policy must drop it, not crash
      stream.addData(Seq("corrupt \u0000 bytes".getBytes("UTF-8")))
      stream.toDF()
    }

    val handle = pipe.start(raw, JsonCodec(schema), DecodeErrorPolicy.DeadLetter)
    try handle.processAllAvailable() finally handle.stop()

    val written = spark.read.schema(schema).parquet(out).count()
    val quarantined =
      try spark.read.parquet(s"$out-deadletter").count() catch { case _: Throwable => 0L }
    s"DEMO_RESULT records=$written quarantined=$quarantined " +
      s"metric=${handle.metrics.writtenRecords.get()} " +
      s"files_hist=${handle.metrics.fileSizeHistogram.size} mode=$mode"
  }

  def main(args: Array[String]): Unit = {
    val out = args(0)
    val ckpt = args(1)
    val mode = if (args.length > 2) args(2) else "native"
    val spark = GraftSession.build("local[4]", 4)
    println(run(spark, out, ckpt, mode))
    spark.stop()
  }
}
