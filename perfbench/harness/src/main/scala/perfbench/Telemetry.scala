package perfbench

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.scheduler._

import scala.collection.mutable.ArrayBuffer

/** One clock for everything the harness records: seconds since the
  * harness started, from `nanoTime`, with Spark's epoch-millisecond
  * event times mapped onto it.
  */
object Clock {
  private val baseNanos = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis()
  def now(): Double = (System.nanoTime() - baseNanos) / 1e9
  def fromEpochMs(ms: Long): Double = (ms - baseEpochMs) / 1e3
}

/** Minimal JSON rendering for the harness's raw-results file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(items: Iterable[String]): String = items.mkString("[", ",", "]")
}

/** In-memory span recorder: name, start, end, parent and op id. Written
  * out once, when the run ends.
  */
final class Trace {
  import Trace.Span
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]

  def span[T](op: Int, name: String)(body: => T): T = {
    val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), op, name,
      Clock.now(), Double.NaN)
    spans += s
    stack = s :: stack
    try body finally { s.end = Clock.now(); stack = stack.tail }
  }

  def json: String = Json.arr(spans.map(s => Json.obj(
    "id" -> s.id.toString, "parent" -> s.parent.toString, "op" -> s.op.toString,
    "name" -> Json.str(s.name), "start" -> Json.num(s.start), "end" -> Json.num(s.end))))
}

object Trace {
  private final case class Span(id: Int, parent: Int, op: Int, name: String,
                                start: Double, var end: Double)
}

/** Records every job and stage Spark runs, with its times and task
  * metrics; the analysis attributes them to ops and spans by time.
  */
final class SparkRecorder extends SparkListener {
  private val jobs = ArrayBuffer.empty[String]
  private val stages = ArrayBuffer.empty[String]
  private val failedTasks = scala.collection.mutable.Map.empty[Int, Int].withDefaultValue(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Json.obj("id" -> e.jobId.toString, "start" -> Json.num(Clock.fromEpochMs(e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (!e.taskInfo.successful) failedTasks(e.stageId) += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    val submit = i.submissionTime.map(Clock.fromEpochMs).getOrElse(Double.NaN)
    val done = i.completionTime.map(Clock.fromEpochMs).getOrElse(Double.NaN)
    stages += Json.obj(
      "id" -> i.stageId.toString,
      "submit" -> Json.num(submit),
      "done" -> Json.num(done),
      "tasks" -> i.numTasks.toString,
      "failed" -> failedTasks(i.stageId).toString,
      "run_s" -> Json.num(if (m == null) 0.0 else m.executorRunTime / 1e3),
      "gc_s" -> Json.num(if (m == null) 0.0 else m.jvmGCTime / 1e3),
      "shuffle_write_bytes" ->
        (if (m == null) "0" else m.shuffleWriteMetrics.bytesWritten.toString),
      "spill_bytes" ->
        (if (m == null) "0" else (m.memoryBytesSpilled + m.diskBytesSpilled).toString))
  }

  def json: (String, String) = synchronized {
    (Json.arr(jobs), Json.arr(stages))
  }
}

/** Counts whole-stage codegen compiles and fallbacks from Spark's own log
  * lines: "Code generated in N ms" per compiled class, and the two
  * warnings Spark logs when it gives up on whole-stage codegen for a
  * plan (a failed compile, e.g. a method past the JVM's 64 KB cap, or
  * generated code over the huge-method limit).
  */
final class CodegenLog extends AbstractAppender(
    "perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
  private val events = ArrayBuffer.empty[String]
  private val Generated = """Code generated in ([0-9.]+) ms""".r.unanchored

  override def append(e: LogEvent): Unit = {
    val msg = e.getMessage.getFormattedMessage
    val t = Json.num(Clock.now())
    val ev =
      if (msg.contains("Whole-stage codegen disabled for plan") ||
          msg.contains("whole-stage codegen was disabled for this plan"))
        Some(Json.obj("t" -> t, "kind" -> Json.str("fallback"), "ms" -> "0"))
      else msg match {
        case Generated(ms) => Some(Json.obj("t" -> t, "kind" -> Json.str("compile"), "ms" -> ms))
        case _ => None
      }
    ev.foreach(x => synchronized { events += x })
  }

  def json: String = synchronized(Json.arr(events))
}

object CodegenLog {
  private val Loggers = Seq(
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator",
    "org.apache.spark.sql.execution.WholeStageCodegenExec")

  /** Route the two codegen loggers to a fresh counter only (not to the
    * console), at INFO so the per-class compile lines arrive.
    */
  def install(): CodegenLog = {
    val appender = new CodegenLog
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    cfg.addAppender(appender)
    Loggers.foreach { name =>
      val lc = new LoggerConfig(name, Level.INFO, false)
      lc.addAppender(appender, Level.INFO, null)
      cfg.addLogger(name, lc)
    }
    ctx.updateLoggers()
    appender
  }
}
