package graftbench

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{CacheRegistry, SparkEntry}

/** The read side: a fixed subset of `SparkEntry.queries`, one at a
  * time in sorted order, each result written as parquet the way the
  * engine's correctness gate consumes it, then read back and hashed. */
final class QueryMix(spark: SparkSession, tables: String, work: String) {
  import QueryMix._

  private val fns = SparkEntry.queries

  /** Run query `q` and write its result under `tag`; returns the failure. */
  private def run(q: String, tag: String): Option[String] =
    try {
      fns(q)(spark, tables).write.mode("overwrite").parquet(s"$work/$tag/$q")
      None
    } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }

  /** One pass: clear the shared-relation registry, then run every
    * query. Returns per-query (ms, failure). */
  def pass(collector: Collector, tag: String): Seq[(String, Double, Option[String])] = {
    collector.span("CacheRegistry.clear", "cache")(CacheRegistry.clear(spark))
    names.map { q =>
      val (err, ms) = collector.span(q, "operators")(run(q, tag))
      (q, ms, err)
    }
  }

  /** Warm-up: every query once, on three threads. The streaming queries
    * share memory-sink bookkeeping, so they take one thread and the batch
    * queries the other two. Nothing here is timed; running concurrently
    * only shortens set-up. Returns the failures. */
  def warmUp(): Seq[String] = {
    val (stream, batch) = names.partition(streaming)
    val lanes = Seq(stream) ++ batch.zipWithIndex.groupBy(_._2 % 2).values.map(_.map(_._1))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(lanes.size)
    try {
      val jobs = lanes.zipWithIndex.map { case (lane, i) =>
        pool.submit(() => for (q <- lane; e <- run(q, s"warmup$i")) yield s"$q: $e")
      }
      jobs.flatMap(_.get)
    } finally {
      pool.shutdown()
      CacheRegistry.clear(spark)
    }
  }

  /** Read every result of pass `tag` back: rows and an order-insensitive
    * hash per query, plus the stored bytes. */
  def readback(collector: Collector, tag: String, ok: Set[String]): (Map[String, (Long, String)], Double, Long) = {
    val (res, ms) = collector.span("readback", "session") {
      names.filter(ok).map { q =>
        val df = spark.read.parquet(s"$work/$tag/$q")
        val r = df.agg(count(lit(1)), hash(df)).head
        q -> ((r.getLong(0), Option(r.getDecimal(1)).map(_.toString).getOrElse("0")))
      }.toMap
    }
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new Path(s"$work/$tag"), true)
    var bytes = 0L
    while (it.hasNext) { val f = it.next(); if (f.getPath.getName.endsWith(".parquet")) bytes += f.getLen }
    (res, ms, bytes)
  }

  /** Shared relations the pass left persisted, and their stored size. */
  def cached(): (Double, Double) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (spark.sparkContext.getPersistentRDDs.size.toDouble,
      infos.map(i => i.memSize + i.diskSize).sum / 1e6)
  }
}

object QueryMix {
  /** The mix, by family. Each family stresses a different layer. */
  val families: Seq[(String, Seq[String])] = Seq(
    "relational" -> Seq("q01_pricing_summary"),
    "rank" -> Seq("q174_rank_fusion"),
    "custom" -> Seq("q91_topk_native", "q181_asof_native"),
    "text" -> Seq("q29_minhash_lsh"),
    "vector" -> Seq("q31_ann_bruteforce"),
    "proto" -> Seq("q81_proto_roundtrip"),
    "streaming" -> Seq("q94_stream_enrich", "q97_stream_tws_stats", "q184_synth_stream_replay"))

  val names: Seq[String] = families.flatMap(_._2).sorted
  val streaming: Set[String] = families.toMap.apply("streaming").toSet

  /** Order-insensitive hash of a whole result. */
  def hash(df: DataFrame): Column =
    sum(xxhash64(df.columns.toIndexedSeq.map(c => df.col(s"`$c`")): _*).cast("decimal(38,0)"))
}
