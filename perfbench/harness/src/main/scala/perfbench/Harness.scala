package perfbench

import graft.SparkEntry
import graft.queries.DqQueries
import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.json4s.jackson.JsonMethods

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}

/** The benchmark's JVM side: one process, one caller, a closed loop of
  * ops (the next op starts when the previous one returns).
  *
  *   Harness --workload W --data DIR --expect FILE --seconds S --trace 0|1
  *           --warmup-ops K --min-ops M --work DIR --out FILE
  *   Harness --dump FILE
  *
  * The first form sets up three times (the first from JVM start), runs one
  * cold op and K warm-up ops, then warm ops for S seconds and at least M
  * ops, checking every op's output
  * against the expectations in FILE, and writes raw timings to --out.
  * With --trace 1 every other warm op is traced: spans around each
  * layer call, Spark listener events and codegen log counts, plus
  * isolated layer probes after it. The second form writes the registry
  * oracle SQL and the canonical DQ rule set as JSON.
  */
object Harness {

  private val Setups = 3

  private def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.execution.sortBeforeRepartition", "false")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private final case class OpRecord(id: Int, traced: Boolean, start: Double, end: Double,
                                    error: Option[String], leaked: Int,
                                    codegenClasses: Long, numbers: Map[String, Double]) {
    def json: String = Json.obj(
      "id" -> id.toString, "traced" -> traced.toString,
      "start" -> Json.num(start), "end" -> Json.num(end),
      "ok" -> error.isEmpty.toString,
      "error" -> error.map(Json.str).getOrElse("null"),
      "leaked_rdds" -> leaked.toString,
      "codegen_classes" -> codegenClasses.toString,
      "numbers" -> Json.obj(numbers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }: _*))
  }

  private def peakRssKb(): Long = Try {
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
  }.getOrElse(0L)

  def main(args: Array[String]): Unit = {
    Clock.now()
    val a = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    a.get("dump") match {
      case Some(out) => dump(Paths.get(out))
      case None => run(a)
    }
  }

  private def dump(out: Path): Unit = {
    val rules = (DqQueries.rowRules ++ DqQueries.aggRules ++ DqQueries.queryRules)
      .map(Workloads.ruleJson)
    val oracle = SparkEntry.oracleSql.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }
    Files.write(out, Json.obj(
      "gate_rules" -> Json.arr(rules),
      "oracle" -> Json.obj(oracle: _*)).getBytes(UTF_8))
  }

  private def run(a: Map[String, String]): Unit = {
    val seconds = a("seconds").toDouble
    val traceOn = a("trace") == "1"
    val work = Files.createDirectories(Paths.get(a("work")).toAbsolutePath)
    val expect = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(a("expect"))), UTF_8))
    val cores = Runtime.getRuntime.availableProcessors
    val wl = Workloads(a("workload"), a("data"), work.resolve("out"), expect)

    // set-up: session built, inputs registered, rules loaded; the first
    // one counts from JVM start, the rest stop the session and build a new one
    val jvmStart = Clock.fromEpochMs(ManagementFactory.getRuntimeMXBean.getStartTime)
    var spark: SparkSession = null
    val setupS = (0 until Setups).map { i =>
      val t0 = if (i == 0) jvmStart else Clock.now()
      if (spark != null) spark.stop()
      spark = session(cores, work)
      wl.setup(spark)
      Clock.now() - t0
    }
    val sc = spark.sparkContext

    val trace = new Trace
    val recorder = new SparkRecorder
    val codegen = if (traceOn) Some(CodegenLog.install()) else None
    var nextId = 0

    def runOp(traced: Boolean): OpRecord = {
      val ctx = OpCtx(nextId, if (traced) Some(trace) else None)
      nextId += 1
      // collect the previous op's garbage now, so that a full GC does not
      // land inside this op's timing
      System.gc()
      if (traced) sc.addSparkListener(recorder)
      val classes0 = CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount
      val t0 = Clock.now()
      val out = Try(ctx.span("op")(wl.op(ctx)))
      val t1 = Clock.now()
      val classes = CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount - classes0
      if (traced) {
        PerfbenchBus.drain(sc)
        sc.removeSparkListener(recorder)
      }
      // outside the timed region: check the outputs, count what the op
      // left cached after its own release, then clear it all
      val error = out match {
        case Failure(e) => Some(s"op threw: $e")
        case Success(o) => Try(o.check()).fold(e => Some(s"check threw: $e"), identity)
      }
      val numbers = out.toOption.flatMap(o => Try(o.numbers()).toOption).getOrElse(Map.empty)
      val leaked = sc.getPersistentRDDs.size
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      error.foreach(e => System.err.println(s"[perfbench] op ${ctx.id} failed: $e"))
      if (traced) {
        // isolated layer probes, a root span of their own (not in the op)
        sc.addSparkListener(recorder)
        Try(ctx.span("probes")(wl.probes(ctx))).failed.foreach(e =>
          System.err.println(s"[perfbench] probes failed: $e"))
        PerfbenchBus.drain(sc)
        sc.removeSparkListener(recorder)
        spark.catalog.clearCache()
      }
      OpRecord(ctx.id, traced, t0, t1, error, leaked, classes, numbers)
    }

    val first = runOp(traced = false)
    // untimed warm-up ops: after the cold op the JIT is still compiling the
    // op's hot paths, and the next ops run measurably slower than the ones
    // after them. Fixed counts, not times: on a slow box a time-based
    // window would warm up and measure fewer ops, and the median would
    // then shift toward the slower early ops, doubling the slowdown.
    val warmup = ArrayBuffer.fill(a("warmup-ops").toInt)(runOp(traced = false))
    val warm = ArrayBuffer.empty[OpRecord]
    // traced runs alternate traced and untraced ops (ABBA, so neither
    // side gets the later, warmer ops) and need two of each
    val minOps = if (traceOn) 4 else a("min-ops").toInt
    val warmStart = Clock.now()
    while (warm.size < minOps || Clock.now() - warmStart < seconds)
      warm += runOp(traced = traceOn && Set(0, 3).contains(warm.size % 4))

    val (jobs, stages) = recorder.json
    val result = Json.obj(
      "workload" -> Json.str(a("workload")),
      "cores" -> cores.toString,
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
      "input_rows" -> wl.inputRows.toString,
      "setup_s" -> Json.arr(setupS.map(Json.num)),
      "first_op" -> first.json,
      "warmup_ops" -> Json.arr(warmup.map(_.json)),
      "ops" -> Json.arr(warm.map(_.json)),
      "peak_rss_kb" -> peakRssKb().toString,
      "spans" -> trace.json,
      "jobs" -> jobs,
      "stages" -> stages,
      "codegen" -> codegen.map(_.json).getOrElse("[]"))
    Files.write(Paths.get(a("out")), result.getBytes(UTF_8))
    spark.stop()
  }
}
