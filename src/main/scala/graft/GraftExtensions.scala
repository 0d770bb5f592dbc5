package graft

import graft.functions.{FloatVecDot, LongTopK, LongVecSqDist, NfcNormalize}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Engine extensions, registered via `SparkSession.builder()
  * .withExtensions(new GraftExtensions)` (see [[GraftSession]]) or
  * `spark.sql.extensions=graft.GraftExtensions` on a cluster.
  *
  * Injects:
  *  - the native vector functions into the SQL surface, so
  *    `spark.sql("SELECT vec_dot(a, b) ...")` plans the codegen'd
  *    [[FloatVecDot]] directly;
  *  - the [[graft.plans.EditDistancePrefilter]] optimizer rule, which
  *    places the length-difference lower bound in front of
  *    `levenshtein(a,b) <= d` predicates;
  *  - the [[graft.plans.TopKPerGroupStrategy]] planner strategy, which
  *    plans the native two-phase [[graft.plans.TopKPerGroupExec]] for
  *    [[graft.plans.TopKPerGroupLogical]] nodes;
  *  - the [[graft.plans.WriterFanOutStrategy]] planner strategy, which
  *    plans [[graft.plans.WriterFanOut]] nodes as the shuffle-free
  *    [[graft.plans.WriterFanOutExec]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => graft.plans.EditDistancePrefilter)
    e.injectPlannerStrategy(session => graft.plans.TopKPerGroupStrategy(
      session.conf.get("graft.topk.partialMaxGroups", (1 << 20).toString).toInt))
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    e.injectPlannerStrategy(_ => graft.plans.WriterFanOutStrategy)
    e.injectFunction((
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[FloatVecDot].getName, "vec_dot"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "vec_dot takes exactly 2 arguments")
        FloatVecDot(children.head, children(1))
      }))
    e.injectFunction((
      FunctionIdentifier("vec_sqdist"),
      new ExpressionInfo(classOf[LongVecSqDist].getName, "vec_sqdist"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "vec_sqdist takes exactly 2 arguments")
        LongVecSqDist(children.head, children(1))
      }))
    e.injectFunction((
      FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "nfc_normalize takes exactly 1 argument")
        NfcNormalize(children.head)
      }))
    e.injectFunction((
      FunctionIdentifier("graft_topk"),
      new ExpressionInfo(classOf[LongTopK].getName, "graft_topk"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_topk takes exactly 2 arguments")
        // the analyzer wraps a bare AggregateFunction into its
        // AggregateExpression, same as built-in aggregate builders
        LongTopK(children.head, children(1))
      }))
    e.injectTableFunction((
      FunctionIdentifier("graft_date_spine"),
      new ExpressionInfo("graft.plans.GraftTableFunctions", "graft_date_spine"),
      (args: Seq[Expression]) =>
        graft.plans.GraftTableFunctions.dateSpine(args): LogicalPlan))
  }
}
