package graft.tools

import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.execution.SparkPlan

/** Dev tool: global scale-shape audit. For EVERY registered query,
  * collect the plan smells that become 100 TB incidents:
  *
  *   - un-partitioned window (the whole corpus through ONE task) —
  *     legitimate only over a bounded histogram/pair frame;
  *   - cartesian product / broadcast nested-loop join — legitimate only
  *     for 1-row threshold attaches and oracle-scale baselines;
  *   - a generator whose lambda re-evaluates `split()` per element
  *     (interpreted-HOF quadratic — the round-6 bigramRows bug class).
  *
  * Prints one line per query with hits, then a summary. Use to review
  * NEW queries; the known-legitimate cases are documented at their op.
  */
object PlanAudit {

  def unwrap(p: SparkPlan): SparkPlan = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      a.executedPlan
    case other => other
  }

  /** The (unpartWindow, cartesian, quadGen) flag triple over a physical
    * plan — shared by this tool's sweep and [[graft.PlanAuditSpec]]'s
    * allowlist gate, so the two can never drift.
    */
  def flagsOf(plan: SparkPlan): (Int, Int, Int) = {
    val unpartWindows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.isEmpty => w
    }.size
    val cartesians = plan.collect {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
    }.size
    // a DIRECT explode(split(...)) is linear (one split per row);
    // the quadratic class is a LAMBDA (transform/aggregate) inside
    // the generator that references split — the interpreted HOF
    // path re-evaluates it per element
    val quadGens = plan.collect {
      case g: org.apache.spark.sql.execution.GenerateExec
        if g.generator.toString.contains("lambdafunction") &&
          g.generator.toString.contains("split(") => g
    }.size
    (unpartWindows, cartesians, quadGens)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    var flagged = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val (unpartWindows, cartesians, quadGens) =
          flagsOf(unwrap(fn(spark, sfDir).queryExecution.executedPlan))
        if (unpartWindows + cartesians + quadGens > 0) {
          flagged += 1
          println(f"AUDIT $name%-28s unpartWindow=$unpartWindows cartesian=$cartesians quadGen=$quadGens")
        }
      } catch {
        case e: Throwable =>
          // getMessage may be null (bare NPE/CCE) — don't let the
          // recovery branch kill the sweep
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          println(f"AUDIT $name%-28s ERROR ${msg.take(60)}")
      }
    }
    println(s"AUDIT_TOTAL flagged=$flagged of ${SparkEntry.queries.size}")
    spark.stop()
  }
}
