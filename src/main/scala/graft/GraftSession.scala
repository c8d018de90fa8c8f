package graft

import org.apache.spark.sql.SparkSession

/** The one local-session configuration every entry point builds from:
  * Bench (parent fallback and forked children), Verify, EntrySmoke, the
  * dev tools and the test suite. A single conf set keeps their numbers
  * comparable with each other and with the perfbench harness, which
  * sets the same confs.
  *
  * Callers add only deployment settings on the returned builder (app
  * name, warehouse dir) or, in ScaleLadder, a shuffle-partition
  * override for the deep rungs.
  */
object GraftSession {

  /** Local core count: `SPARK_GRAFT_CPUS`, else every available core. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The session confs `builder(cpus)` sets, besides the master:
    *   - shuffle partitions = cores, so every stage fills the machine once;
    *   - round-robin repartitions skip the local sort Spark otherwise
    *     adds for retry determinism (`Tables.spread`);
    *   - cached plans may change output partitioning, so AQE still
    *     coalesces over a persisted subtree;
    *   - UTC session time (the oracle compares timestamps as UTC);
    *   - no Spark UI.
    */
  def confs(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.execution.sortBeforeRepartition" -> "false",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  def builder(cpus: Int = cpus): SparkSession.Builder =
    confs(cpus).foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
      case (b, (k, v)) => b.config(k, v)
    }
}
