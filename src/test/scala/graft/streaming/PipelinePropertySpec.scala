package graft.streaming

import java.nio.file.Files

import graft.TestSpark
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based pipeline tests (SURVEY §5.2): roundtrip invariance
  * under generated records (seeded scalacheck generators → exact
  * reproducibility), and the rolling invariant: every record lands
  * exactly once.
  */
class PipelinePropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("query", StringType),
    StructField("timestamp", LongType),
    StructField("page_number", IntegerType)))

  private case class Msg(query: String, timestamp: Long, page: Option[Int])

  private val genMsg: Gen[Msg] = for {
    q <- Gen.listOfN(12, Gen.alphaNumChar).map(_.mkString)
    ts <- Gen.chooseNum(0L, 4102444800000L)
    pg <- Gen.option(Gen.chooseNum(0, 10000))
  } yield Msg(q, ts, pg)

  private def sample(n: Int, seed: Long): List[Msg] =
    Gen.listOfN(n, genMsg)(Gen.Parameters.default, Seed(seed))
      .getOrElse(fail(s"generator exhausted for seed $seed"))

  private def jsonBytes(m: Msg): Array[Byte] = {
    val pg = m.page.map(_.toString).getOrElse("null")
    // alphanumeric queries by construction — no JSON escaping needed
    s"""{"query":"${m.query}","timestamp":${m.timestamp},"page_number":$pg}"""
      .getBytes("UTF-8")
  }

  private var streamId = 100

  test("roundtrip invariance: generated batches survive the pipeline as multisets") {
    import spark.implicits._
    for (seed <- Seq(1L, 42L, 1234L)) {
      val msgs = sample(120, seed)
      val out = Files.createTempDirectory("graft-prop").toString
      val cfg = PipelineConfig(targetDir = out,
        checkpointDir = Files.createTempDirectory("graft-prop-ck").toString,
        maxFileOpenDuration = scala.concurrent.duration.Duration(1, "s"))
      streamId += 1
      val stream = MemoryStream[Array[Byte]](streamId, spark, None)
      stream.addData(msgs.map(jsonBytes))
      val h = new Pipeline(cfg).start(stream.toDF(), JsonCodec(schema))
      try h.processAllAvailable() finally h.stop()

      val back = spark.read.schema(schema).parquet(out)
        .select(col("query"), col("timestamp"), col("page_number")).collect()
        .map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) Option.empty[Int] else Some(r.getInt(2)))).toSeq
      val want = msgs.map(m => (m.query, m.timestamp, m.page))
      assert(back.sortBy(_.toString) == want.sortBy(_.toString),
        s"roundtrip mismatch for seed $seed")
    }
  }

  test("roundtrip invariance holds under generated schemas, not just values") {
    import spark.implicits._
    val typePool = Seq(
      ("string", StringType), ("long", LongType),
      ("int", IntegerType), ("bool", BooleanType))
    for (seed <- Seq(7L, 99L)) {
      val rnd = new scala.util.Random(seed)
      val nFields = 2 + rnd.nextInt(4)
      val fields = (0 until nFields).map { i =>
        val (tag, dt) = typePool(rnd.nextInt(typePool.length))
        (s"f${i}_$tag", dt)
      }
      val schema = StructType(fields.map { case (n, dt) => StructField(n, dt) })
      def value(dt: DataType): String = dt match {
        case StringType => "\"s" + rnd.nextInt(100000) + "\""
        case LongType => rnd.nextLong().toString
        case IntegerType => rnd.nextInt().toString
        case BooleanType => rnd.nextBoolean().toString
        case other => fail(s"unhandled $other")
      }
      val rows = (0 until 80).map { _ =>
        fields.map { case (n, dt) => s""""$n":${value(dt)}""" }
          .mkString("{", ",", "}")
      }
      val out = Files.createTempDirectory("graft-schema").toString
      val cfg = PipelineConfig(targetDir = out,
        checkpointDir = Files.createTempDirectory("graft-schema-ck").toString,
        maxFileOpenDuration = scala.concurrent.duration.Duration(1, "s"))
      streamId += 1
      val stream = MemoryStream[Array[Byte]](streamId, spark, None)
      stream.addData(rows.map(_.getBytes("UTF-8")))
      val h = new Pipeline(cfg).start(stream.toDF(), JsonCodec(schema))
      try h.processAllAvailable() finally h.stop()

      val back = spark.read.schema(schema).parquet(out)
      assert(back.count() == 80, s"schema seed $seed lost rows")
      assert(back.schema == schema, s"schema drift for seed $seed")
      // value-level roundtrip: compare against from_json of the inputs
      val expected = spark.createDataset(rows)
        .select(from_json(col("value"), schema).as("r")).select(col("r.*"))
      assert(back.exceptAll(expected).count() == 0 &&
        expected.exceptAll(back).count() == 0, s"value drift for seed $seed")
    }
  }

  test("rolling invariant: every record lands at least once; file count bounded") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-roll").toString
    val cfg = PipelineConfig(targetDir = out,
      checkpointDir = Files.createTempDirectory("graft-roll-ck").toString,
      maxFileSize = 100L * 1024,
      maxFileOpenDuration = scala.concurrent.duration.Duration(1, "s"),
      delivery = DeliveryMode.ExactlyOnceSized)
    streamId += 1
    val stream = MemoryStream[Array[Byte]](streamId, spark, None)
    val n = 3000
    val h = new Pipeline(cfg).start(stream.toDF(),
      JsonCodec(schema), DecodeErrorPolicy.DeadLetter)
    try {
      stream.addData((0 until n).map(i => jsonBytes(Msg(s"r$i", i.toLong, Some(i)))))
      h.processAllAvailable()
    } finally h.stop()

    val back = spark.read.schema(schema).parquet(out)
    assert(back.select("query").distinct().count() == n)
    assert(back.count() == n)
    val files = new java.io.File(out).listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(files >= 1 && files <= n, s"unreasonable file count $files")
  }
}
