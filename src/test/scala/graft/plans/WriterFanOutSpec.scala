package graft.plans

import graft.TestSpark
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

class WriterFanOutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("three source partitions over four writers: every row once, each writer in arrival order") {
    val parts = WriterFanOut.of(spark.range(0, 3000, 1, 3).toDF("id"), 4)
      .as[Long].rdd.glom().collect().toSeq.map(_.toSeq)
    // sources 0 and 1 keep a writer each, source 2 alternates between two
    assert(parts.map(_.length) == Seq(1000, 1000, 500, 500))
    assert(parts.flatten.sorted == (0L until 3000L))
    parts.foreach(p => assert(p == p.sorted, "a writer is out of arrival order"))
  }

  test("a child whose re-read may differ fails the fan-out, naming its level") {
    // a shuffle's reducer fetches blocks in arrival order: UNORDERED
    val unordered = spark.sparkContext.parallelize(0L until 100L, 2).repartition(3).map(InternalRow(_))
    val df = Bridge.internalCreateDataFrame(spark, unordered, StructType(Seq(StructField("id", LongType))))
    val e = intercept[Exception](WriterFanOut.of(df, 2).collect())
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(messages.exists(m => m != null && m.contains("UNORDERED")), e.toString)
  }
}
