package graft

import java.io.{ByteArrayOutputStream, ObjectOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.streaming.{JsonCodec, Pipeline, PipelineConfig}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration
import org.scalatest.funsuite.AnyFunSuite

import scala.concurrent.duration._

/** The Hadoop configuration every query ships stays free of property
  * sources after the session has run streaming and batch work: a Hadoop
  * default resource registered late would reload it and bring them
  * back, GZIP'd once per property in every serialized copy. */
class GraftSessionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("the shipped Hadoop configuration carries no property sources after pipeline and batch work") {
    val schema = StructType(Seq(StructField("query", StringType), StructField("timestamp", LongType)))
    def json(i: Int) = s"""{"query":"q$i","timestamp":$i}""".getBytes(UTF_8)
    import spark.implicits._
    val stream = MemoryStream[Array[Byte]](874, spark, None)
    val out = Files.createTempDirectory("graft-session-out").toString
    val h = new Pipeline(PipelineConfig(targetDir = out,
      checkpointDir = Files.createTempDirectory("graft-session-ckpt").toString,
      maxFileOpenDuration = 100.millis)).start(stream.toDF(), JsonCodec(schema))
    try (0 until 3).foreach { b =>
      stream.addData((b * 100 until (b + 1) * 100).map(json))
      h.processAllAvailable()
    } finally h.stop()
    assert(spark.read.schema(schema).parquet(out).count() == 300)
    val batchDir = Files.createTempDirectory("graft-session-batch").resolve("t").toString
    spark.range(1000).write.parquet(batchDir)
    assert(spark.read.parquet(batchDir).count() == 1000)

    val conf = spark.sessionState.newHadoopConf()
    // one key from each default resource: core-, mapred- and yarn-default.xml
    Seq("fs.defaultFS", "mapreduce.job.maps", "yarn.resourcemanager.address").foreach { k =>
      assert(conf.get(k) != null, s"$k is unset")
      val sources = Option(conf.getPropertySources(k)).map(_.toSeq)
      assert(sources.isEmpty, s"$k keeps its sources: $sources")
    }
    val bytes = new ByteArrayOutputStream
    val oos = new ObjectOutputStream(bytes)
    oos.writeObject(new SerializableConfiguration(conf))
    oos.close()
    assert(bytes.size < 80 * 1024, s"the configuration serializes to ${bytes.size} bytes")
  }
}
