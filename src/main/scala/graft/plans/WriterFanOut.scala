package graft.plans

import org.apache.spark.{NarrowDependency, Partition, TaskContext}
import org.apache.spark.graftbridge.CoreBridge
import org.apache.spark.rdd.{DeterministicLevel, RDD}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.SQLMetric

/** Narrow writer fan-out: `n` output partitions over the child's `p`,
  * with no shuffle — the reference's consumer handing records straight
  * to its `n` writer threads (KPW:217-294), as one stage.
  *
  *  - `p >= n`: each writer reads a contiguous run of `p/n` (rounded)
  *    source partitions, one after the other — a coalesce.
  *  - `p < n`: each source partition feeds `⌈n/p⌉` or `⌊n/p⌋` writers;
  *    writer `slot` of `k` re-reads the whole partition and keeps every
  *    `k`-th record from its slot on, so each writer keeps arrival order
  *    and `p = 1` splits exactly evenly.
  *
  * Two contracts follow from the re-reads. The child's RDD must be
  * DETERMINATE (a re-read gives the same rows in the same order, true
  * of file, memory and Kafka partitions), else execution fails naming
  * its level. And a split source partition is scanned `k` times, so
  * every slot but 0 zeroes the leaf scans' `numOutputRows` once its
  * input ends: a streaming progress's `numInputRows` counts each
  * record once.
  */
case class WriterFanOut(n: Int, child: LogicalPlan) extends UnaryNode {
  require(n > 0, s"a writer fan-out needs n > 0, got $n")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): WriterFanOut =
    copy(child = newChild)
}

object WriterFanOut {
  import org.apache.spark.sql.graftbridge.Bridge

  /** `df` fanned out to `n` writer partitions. */
  def of(df: DataFrame, n: Int): DataFrame =
    Bridge.ofRows(df.sparkSession, WriterFanOut(n, Bridge.analyzed(df)))
}

case class WriterFanOutExec(n: Int, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = UnknownPartitioning(n)
  override protected def withNewChildInternal(newChild: SparkPlan): WriterFanOutExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val input = child.execute()
    val level = CoreBridge.outputDeterministicLevel(input)
    if (level != DeterministicLevel.DETERMINATE)
      throw new IllegalStateException(s"WriterFanOut re-reads its input, which must be " +
        s"DETERMINATE, but the child's output is $level:\n$child")
    new FanOutRDD(input, n, child.collectLeaves().flatMap(_.metrics.get("numOutputRows")))
  }
}

/** Plans [[WriterFanOut]] as [[WriterFanOutExec]]. */
object WriterFanOutStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case WriterFanOut(n, child) => WriterFanOutExec(n, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** Writer `index` reads `parents` in turn, keeping the `slot`-th of
  * every `slots` records. */
private case class FanOutPartition(index: Int, parents: Seq[Partition], slot: Int, slots: Int)
    extends Partition

private class FanOutRDD(prev: RDD[InternalRow], n: Int, scanned: Seq[SQLMetric])
    extends RDD[InternalRow](prev.context, Nil) {

  override protected def getPartitions: Array[Partition] = {
    val src = prev.partitions
    val p = src.length
    if (p == 0 || p >= n)
      Array.tabulate(n)(j => FanOutPartition(j, src.slice(j * p / n, (j + 1) * p / n).toSeq, 0, 1))
    else (0 until p).flatMap { s =>
      val (lo, hi) = (s * n / p, (s + 1) * n / p)
      (lo until hi).map(j => FanOutPartition(j, Seq(src(s)), j - lo, hi - lo))
    }.toArray
  }

  override protected def getDependencies = Seq(new NarrowDependency(prev) {
    override def getParents(id: Int): Seq[Int] =
      partitions(id).asInstanceOf[FanOutPartition].parents.map(_.index)
  })

  override protected def getPreferredLocations(split: Partition): Seq[String] =
    split.asInstanceOf[FanOutPartition].parents.flatMap(prev.preferredLocations).distinct

  override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] = {
    val part = split.asInstanceOf[FanOutPartition]
    val rows = part.parents.iterator.flatMap(prev.iterator(_, context))
    if (part.slots == 1) rows
    else new Iterator[InternalRow] {
      // the producer reuses its row: advance it only from hasNext, so
      // the row next() returned stays valid until the caller asks again
      private var skip = part.slot
      private var row: InternalRow = null
      override def hasNext: Boolean = {
        while (row == null && rows.hasNext) {
          val r = rows.next()
          if (skip == 0) { row = r; skip = part.slots - 1 } else skip -= 1
        }
        if (row == null && part.slot > 0) scanned.foreach(_.set(0L))
        row != null
      }
      override def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException("end of writer slot")
        val r = row
        row = null
        r
      }
    }
  }
}
