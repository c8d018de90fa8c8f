package graft.queries

import org.apache.spark.sql.SparkSession
import scala.concurrent.{Await, ExecutionContext, Future, TimeoutException}
import scala.concurrent.duration.Duration

/** Independent Spark job chains overlapped from driver threads, so one
  * chain's tail back-fills the cores the other leaves idle. Every wait
  * is bounded: a chain that outlives its bound has its jobs cancelled
  * and fails the query by name instead of hanging it.
  */
object DriverJobs {

  /** Run `side` on a pool thread under its own job group while `main`
    * runs on this thread, and return both results. `side` is always
    * waited for, even when `main` throws, so no chain is left running
    * unsupervised; `main`'s exception then propagates unchanged. If
    * `side` has no result within `timeout`, its jobs are cancelled and
    * a TimeoutException naming `name` is thrown.
    */
  def overlap[A, B](spark: SparkSession, name: String, timeout: Duration)(
      side: => A)(main: => B): (A, B) = {
    val group = s"$name-${java.util.UUID.randomUUID}"
    val sc = spark.sparkContext
    val f = Future {
      sc.setJobGroup(group, name, interruptOnCancel = true)
      try side finally sc.clearJobGroup()
    }(ExecutionContext.global)
    val b = try main finally awaitOrCancel(spark, group, f, timeout)
    val a = f.value.getOrElse(throw new TimeoutException(s"$name: overlapped " +
      s"job chain gave no result within $timeout; its jobs were cancelled")).get
    (a, b)
  }

  /** Wait at most `timeout` for `f`; past it, cancel job group `group`,
    * including jobs its chain would submit later. Returns whether `f`
    * completed. Never throws on timeout, so it is safe in a `finally`
    * whose exception must not be masked.
    */
  def awaitOrCancel(spark: SparkSession, group: String, f: Future[_],
                    timeout: Duration): Boolean =
    try { Await.ready(f, timeout); true }
    catch {
      case _: TimeoutException =>
        spark.sparkContext.cancelJobGroupAndFutureJobs(group,
          s"no result within $timeout")
        false
    }
}
