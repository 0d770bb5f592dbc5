package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.graftbridge.CoreBridge
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** [[Profile]] end to end on one batch and one streaming gate query:
  * the JSON lines carry each listener's layer, and the collector leaves
  * nothing registered behind it. */
class ProfileSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("profile.jsonl carries jobs, planning, plan, micro-batch and state layers, cold and warm") {
    val out = Files.createTempDirectory("graft-profile").toString
    val streamsBefore = spark.streams.listListeners().toSeq
    val (collector, failed) = Profile.run(spark, sf, out,
      Seq("q01_pricing_summary", "q184_synth_stream_replay"))
    assert(failed.isEmpty)

    // all three listeners are gone: the streaming one by identity, the
    // job and plan listeners by hearing nothing of a further query
    assert(spark.streams.listListeners().toSeq == streamsBefore)
    val heard = collector.events.get
    spark.range(100).selectExpr("sum(id)").collect()
    CoreBridge.drainListenerBus(spark.sparkContext)
    assert(collector.events.get == heard)

    val lines = spark.read.json(s"$out/profile.jsonl")
    def line(q: String) = lines.filter(s"query = '$q'").head()
    val q01 = line("q01_pricing_summary")
    val q184 = line("q184_synth_stream_replay")
    Seq(q01, q184).foreach { l =>
      assert(l.getAs[Double]("cold_s") > 0 && l.getAs[Double]("warm_s") > 0)
    }

    val warm01 = q01.getStruct(q01.fieldIndex("warm"))
    assert(warm01.getAs[Long]("jobs") >= 1 && warm01.getAs[Long]("tasks") >= 1)
    Seq("cold", "warm").foreach { run =>
      val stats = q01.getStruct(q01.fieldIndex(run))
      assert(stats.getAs[Long]("task_deserialize_ms") > 0, s"$run: no task deserialization time")
    }
    val phases = warm01.getStruct(warm01.fieldIndex("planning_ms"))
    Seq("analysis", "optimization", "planning").foreach(p =>
      assert(!phases.isNullAt(phases.fieldIndex(p)), s"no $p phase"))
    // count() executes groupBy().count() over the query: the same plan
    val direct = SparkEntry.queries("q01_pricing_summary")(spark, sf).groupBy().count()
    direct.collect()
    val shuffles = Profile.nodes(direct.queryExecution.executedPlan)
      .count(_.isInstanceOf[ShuffleExchangeExec])
    val plan = warm01.getStruct(warm01.fieldIndex("plan"))
    assert(plan.getAs[Long]("shuffles") == shuffles)
    assert(Files.readString(Paths.get(out, "q01_pricing_summary.plan.txt"))
      .contains("== Final Plan =="))

    val warm184 = q184.getStruct(q184.fieldIndex("warm"))
    assert(warm184.getAs[Long]("batches") == 2)
    val batchMs = warm184.getStruct(warm184.fieldIndex("batch_ms"))
    Seq("addBatch", "walCommit").foreach(p =>
      assert(!batchMs.isNullAt(batchMs.fieldIndex(p)), s"no $p phase"))
    val state = warm184.getSeq[org.apache.spark.sql.Row](warm184.fieldIndex("state"))
    assert(state.nonEmpty)
    // RocksDB row tracking is off (GraftSession): a row count would read 0
    state.foreach { s =>
      assert(s.schema.fieldNames.toSet == Set("operator", "memory_bytes", "commit_ms"), s"state entry: $s")
    }
  }
}
