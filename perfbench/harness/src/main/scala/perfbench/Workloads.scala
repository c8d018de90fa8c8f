package perfbench

import graft.SparkEntry
import graft.eval.{AggDqEvaluator, MaskedRowDqEvaluator, QueryDqEvaluator}
import graft.model.Rule
import graft.orchestrator.{DqResult, SparkExpectations}
import graft.queries.Tables
import graft.rules.{RuleValidator, RulesReader}
import graft.sink.{StatsBuilder, TableWriter, WriterConfig}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.json4s._

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** What one op hands back to the loop: the check (run after the timed
  * region) and per-op numbers for the trace.
  */
final case class OpOutcome(check: () => Option[String], numbers: () => Map[String, Double])

/** Context of one op: its id and, in traced ops, the span recorder. */
final case class OpCtx(id: Int, trace: Option[Trace]) {
  def span[T](name: String)(body: => T): T = trace match {
    case Some(t) => t.span(id, name)(body)
    case None => body
  }
}

trait Workload {
  /** Register the inputs and load the rules into a fresh session. */
  def setup(spark: SparkSession): Unit
  def inputRows: Long
  /** One op, timed by the caller. */
  def op(ctx: OpCtx): OpOutcome
  /** Traced runs only: time single layers in isolation, outside any op. */
  def probes(ctx: OpCtx): Unit = ()
}

object Workloads {
  def apply(name: String, dataDir: String, workDir: Path, expect: JValue): Workload =
    name match {
      case "dq_gate" | "dq_rule_scale" => new DqGate(dataDir, workDir, expect)
      case "curation_stages" => new CurationStages(dataDir, expect)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }

  private[perfbench] def long(v: JValue): Long = v match {
    case JInt(i) => i.toLong
    case JLong(l) => l
    case JDouble(d) => d.toLong
    case other => throw new IllegalArgumentException(s"not a number: $other")
  }

  /** A rules-table row as JSON (Rule.schema order) → Spark row. */
  def ruleRow(j: JValue): Row = Row.fromSeq(Rule.schema.fields.toSeq.map { f =>
    (j \ f.name) match {
      case JString(s) => s
      case JBool(b) => b
      case JInt(i) => i.toInt
      case JLong(l) => l.toInt
      case _ => null
    }
  })

  /** A rule as a rules-table JSON record (Rule.schema order). */
  def ruleJson(r: Rule): String =
    Json.obj(Rule.schema.fieldNames.toSeq.zip(r.productIterator.toSeq).map {
      case (k, s: String) => k -> Json.str(s)
      case (k, b: Boolean) => k -> b.toString
      case (k, i: Int) => k -> i.toString
      case (k, other) => k -> Json.str(String.valueOf(other))
    }: _*)

  /** Order-insensitive canonical form of a result: one string per row,
    * columns sorted by name, doubles in `%.6e`.
    */
  def canonical(df: DataFrame, rows: Array[Row]): Seq[String] = {
    val names = df.columns.toSeq.zipWithIndex.sortBy(_._1)
    rows.toSeq.map { r =>
      names.map { case (n, i) =>
        val v = r.get(i) match {
          case null => "NULL"
          case d: Double => String.format(java.util.Locale.ROOT, "%.6e", Double.box(d))
          case f: Float => String.format(java.util.Locale.ROOT, "%.6e", Double.box(f.toDouble))
          case x => x.toString
        }
        s"$n=$v"
      }.mkString("|")
    }.sorted
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Rows in a written parquet directory, from the file footers (no job). */
  def parquetRows(spark: SparkSession, p: Path): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val s = Files.list(p)
    try s.iterator().asScala
      .filter(f => f.getFileName.toString.endsWith(".parquet"))
      .map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toUri), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum
    finally s.close()
  }
}

/** The DQ gate: a five-stage `SparkExpectations.run` over `lineitem`,
  * its rules loaded from a rules DataFrame each op, then the error,
  * target and stats writes, then the release of the run's cache.
  */
final class DqGate(dataDir: String, workDir: Path, expect: JValue) extends Workload {
  import Workloads._

  private val P = "graft"
  private val T = "lineitem"
  private val ruleRows = (expect \ "rules").children.map(ruleRow)
  private val expCounts = expect \ "counts"
  private def fields(key: String): Map[String, JValue] = (expect \ key) match {
    case JObject(fs) => fs.toMap
    case _ => Map.empty
  }
  private val expPerRule = fields("per_rule").map { case (k, v) => k -> long(v) }
  private def statusMap(key: String) = fields(key).collect { case (k, JString(v)) => k -> v }
  private val expSourceAgg = statusMap("source_agg")
  private val expTargetAgg = statusMap("target_agg")
  private val expQuery = statusMap("query")

  private var spark: SparkSession = _
  private var li: DataFrame = _
  private var rulesDf: DataFrame = _
  private var rows = 0L

  def inputRows: Long = rows

  def setup(s: SparkSession): Unit = {
    spark = s
    li = Tables.load(s, dataDir, "lineitem")
    // query_dq rules read these views
    li.createOrReplaceTempView("lineitem_src")
    Tables.load(s, dataDir, "orders").createOrReplaceTempView("orders_src")
    Tables.load(s, dataDir, "customer").createOrReplaceTempView("customer_src")
    rows = long(expCounts \ "input")
    rulesDf = s.createDataFrame(ruleRows.asJava, Rule.schema)
    SparkExpectations.fromRulesDf(s, rulesDf, P, T)
  }

  private val errPath = workDir.resolve("dq_error")
  private val tgtPath = workDir.resolve("dq_target")
  private val statsPath = workDir.resolve("dq_stats")
  private val overwrite = WriterConfig(mode = "overwrite")

  def op(ctx: OpCtx): OpOutcome = {
    val se = ctx.span("rules.load")(SparkExpectations.fromRulesDf(spark, rulesDf, P, T))
    val res = ctx.span("orchestrator.run")(se.run(li))
    ctx.span("sink.error_write")(
      TableWriter.writePath(res.errorDf, errPath.toString, overwrite))
    ctx.span("sink.target_write")(
      TableWriter.writePath(res.finalDf, tgtPath.toString, overwrite))
    ctx.span("sink.stats_write")(TableWriter.writeStatsPath(
      StatsBuilder.toDataFrame(spark, res.stats), statsPath.toString, overwrite))
    ctx.span("cache.release")(res.unpersist())
    OpOutcome(() => check(res), () => numbers(res))
  }

  private def numbers(res: DqResult): Map[String, Double] =
    res.stats.dqRunTime.map { case (k, v) => s"orchestrator.stage.${k}_s" -> v } ++ Map(
      "sink.error_rows" -> res.stats.errorCount.toDouble,
      "sink.error_bytes" -> dirBytes(errPath).toDouble,
      "sink.target_rows" -> res.stats.outputCount.toDouble,
      "sink.target_bytes" -> dirBytes(tgtPath).toDouble)

  private def check(res: DqResult): Option[String] = {
    val st = res.stats
    def statuses(rs: Seq[Map[String, String]]) =
      rs.map(m => m.getOrElse("rule", "") -> m.getOrElse("status", "")).toMap
    val got = Map(
      "input" -> st.inputCount, "error" -> st.errorCount, "output" -> st.outputCount)
    val perRule = res.rowSummaries.map(s => s.rule -> s.failedRowCount).toMap
    val written = Map(
      "error_table" -> (parquetRows(spark, errPath), st.errorCount),
      "target_table" -> (parquetRows(spark, tgtPath), st.outputCount),
      "stats_table" -> (parquetRows(spark, statsPath), 1L))
    val problems =
      got.collect { case (k, v) if v != long(expCounts \ k) =>
        s"$k count $v, expected ${long(expCounts \ k)}" } ++
      expPerRule.collect { case (r, n) if perRule.getOrElse(r, -1L) != n =>
        s"rule $r failed ${perRule.getOrElse(r, -1L)}, expected $n" } ++
      written.collect { case (k, (n, want)) if n != want => s"$k has $n rows, expected $want" } ++
      Seq("source_agg" -> (statuses(res.sourceAggResults), expSourceAgg),
          "target_agg" -> (statuses(res.targetAggResults), expTargetAgg),
          "source_query" -> (statuses(res.sourceQueryResults), expQuery),
          "target_query" -> (statuses(res.targetQueryResults), expQuery)).collect {
        case (k, (g, e)) if g != e => s"$k statuses $g, expected $e"
      }
    problems.headOption
  }

  override def probes(ctx: OpCtx): Unit = {
    val rules = RulesReader.toDataset(spark, RulesReader.filterRules(rulesDf, P, T))
      .collect().toSeq
    val byType = rules.groupBy(_.ruleType)
    val row = byType.getOrElse("row_dq", Seq.empty)
    ctx.span("rules.validate") {
      RuleValidator.validate(spark, rules)
      RuleValidator.probe(li, rules.filter(_.isActive))
    }
    val masked = ctx.span("eval.row_plan") {
      val m = MaskedRowDqEvaluator.run(li, row)
      m.queryExecution.executedPlan
      m
    }
    ctx.span("eval.row_counts")(MaskedRowDqEvaluator.pipelineCounts(masked, row))
    ctx.span("eval.agg")(AggDqEvaluator.run(li, byType.getOrElse("agg_dq", Seq.empty)))
    ctx.span("eval.query")(QueryDqEvaluator.run(spark, byType.getOrElse("query_dq", Seq.empty)))
  }
}

/** One pass over curation queries from the registry: for each, build
  * the frame (eager jobs included) and run its final action.
  */
final class CurationStages(dataDir: String, expect: JValue) extends Workload {
  import Workloads._

  private val expected: Seq[(String, Seq[String])] =
    (expect \ "queries").children.map { q =>
      val JString(n) = q \ "name": @unchecked
      n -> (q \ "rows").children.collect { case JString(s) => s }.sorted
    }
  private var spark: SparkSession = _
  private var rows = 0L

  def inputRows: Long = rows

  def setup(s: SparkSession): Unit = {
    spark = s
    // registering the input: resolve the table's schema and files once
    rows = long(expect \ "input_rows")
    Tables.load(s, dataDir, "documents").schema
  }

  def op(ctx: OpCtx): OpOutcome = {
    val results = expected.map { case (name, want) =>
      val df = ctx.span(s"queries.$name.build")(SparkEntry.queries(name)(spark, dataDir))
      val got = ctx.span(s"queries.$name.exec")(df.collect())
      (name, want, df, got)
    }
    OpOutcome(() => results.collectFirst {
      case (name, want, df, got) if canonical(df, got) != want =>
        s"$name: ${got.length} rows differ from the oracle's ${want.length}"
    }, () => Map.empty)
  }
}

