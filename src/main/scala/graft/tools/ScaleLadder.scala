package graft.tools

import graft.GraftSession
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.Try

/** Scale-ladder evidence for the 100 TB claims: measure the heaviest
  * registry queries at 1x / 3x / 10x the sf0.1 corpus and FAIL (exit 1)
  * on super-linear growth or a scale-audit plan-shape change.
  *
  * == Scale model: disjoint clone shards ==
  *
  * The ladder corpus is `mult` statistically identical, mutually
  * disjoint shards of the sf0.1 corpus:
  *
  *   - documents: shard `k` renames every whitespace token `t -> t~k`
  *     (shard 0 keeps the original text). A bijective token rename
  *     preserves within-shard shingle-set equalities, Jaccard ratios
  *     and exact-duplicate groups EXACTLY (renamed shingles hash to
  *     different minhash values, so non-identical near-dup band
  *     collisions are preserved only in distribution — the 0.5x
  *     GrowRows floor is the minhash tolerance; the spec pins the
  *     exact ngramJaccardPairs invariant),
  *     while cross-shard vocabularies are disjoint, so pair
  *     counts and duplicate structure scale exactly linearly in `mult` —
  *     the shape a deduped web corpus actually has (near-dups are local,
  *     corpus-wide similarity mass grows ~linearly with size).
  *     [[ScaleLadderSpec]] pins the invariant (shard-k pair set == base
  *     pair set modulo the id offset).
  *   - embeddings: shard `k` applies an orthogonal transform — rotate
  *     the 64 dimensions by `13*k mod 64`, then sign-flip by the bit
  *     pattern of `k div 64` (see [[scaleEmbeddings]]; injective in k
  *     for any mult). Both layers preserve every within-shard inner
  *     product and norm exactly, and decorrelate cross-shard cosines.
  *   - ids: `id + k * IdStride` — disjoint ranges; queries that pin an
  *     absolute id slice (`vec_id < 200` miners) keep a CONSTANT query
  *     set over a growing corpus, the production ANN shape.
  *
  * Growth gates (on min-of-reps child medians, forked JVM per
  * (query, scale) — the graft.Bench isolation protocol):
  *
  *   - t(10x) <= 15 * t(1x)   and   t(3x) <= 4.5 * t(1x)
  *     (1.5x slack on perfect linearity; a quadratic tier would land at
  *     ~100x / ~9x minus constant overhead, far outside the gate, while
  *     constant session overhead only ever LOWERS the observed ratio).
  *   - scale-audit flags (un-partitioned windows, cartesian/BNL joins,
  *     interpreted-HOF quadratic generators — the PlanAudit classes)
  *     must be IDENTICAL at every rung. Operator selection is allowed
  *     to change with size (AQE flipping a broadcast join to SMJ is
  *     correct behavior, not a shape defect); the audit classes are the
  *     ones that become 100 TB incidents.
  *
  * Usage:
  *   runMain graft.tools.ScaleLadder                 # gen + measure + SCALE.md
  *   runMain graft.tools.ScaleLadder --gen-only
  *   runMain graft.tools.ScaleLadder --child <query> <dir>   # internal
  */
object ScaleLadder {

  /** Disjoint id ranges per shard; far above sf0.1's max ids (4999 /
    * 1999) and NOT a multiple of the engine's hash modulus (1048573),
    * so per-shard hash-gate slices are independent draws, not replays.
    */
  val IdStride = 1000000000L

  /** The perf-graded heavy set: every family the round-8 verdict names
    * (composed pipelines, scorecard, near-dup pair tiers, IVF tiers,
    * DoReMi rounds).
    */
  val Heavy: Seq[String] = Seq(
    "curation_pipeline_v4", "curation_pipeline_v6", "curation_pipeline_v8",
    "dedup_scorecard", "hash_embed_neardup", "hash_neardup_auto",
    "dedup_minhash", "dedup_ngram",
    "sim_topk_ivf", "sim_topk_ivf_auto", "sim_topk_ivf_rerank",
    "sim_topk_ivf_rerank_auto",
    "emb_neardup_srp_auto",
    "margin_pairs_ivf", "mixture_reweight", "bpe_train")

  /** Pair tiers whose clone-shard prediction is LINEAR ROW GROWTH —
    * gated rows ≥ 0.5 × the data-multiple ratio vs the first rung (a
    * collapse floor, not an exactness pin — the spec owns exactness).
    * NOT
    * gated: `hash_embed_neardup`, the fixed-dim tier this ladder
    * CAUGHT saturating (255 → 0 pairs at x10 — bucket df crosses
    * dfCap once corpus mass passes dim·dfCap); kept on the ladder as
    * the documented counterexample, with `hash_neardup_auto`
    * (corpus-sized dim) as the gated fix.
    */
  val GrowRows: Set[String] =
    Set("hash_neardup_auto", "dedup_minhash", "dedup_ngram")

  val Rungs: Seq[(String, Int)] = Seq("x1" -> 1, "x3" -> 3, "x10" -> 10)

  private def Reps = sys.env.get("GRAFT_LADDER_REPS").map(_.toInt).getOrElse(3)

  /** `mult` clone shards of the documents table. Shard 0 is the
    * original rows verbatim; shard k>0 token-renames the text (see
    * object doc) and recomputes `n_chars = length(text)` so the
    * corpus invariant survives the rename.
    */
  def scaleDocuments(docs: DataFrame, mult: Int): DataFrame = {
    require(mult >= 1)
    docs.withColumn("shard", explode(sequence(lit(0), lit(mult - 1))))
      .withColumn("text",
        when(col("shard") === 0, col("text"))
          // per-row replacement string "$1~k": group 1 (the token) then
          // the shard tag — one linear pass per document
          .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("$1~"), col("shard")))))
      .withColumn("doc_id", col("doc_id") + col("shard") * IdStride)
      .withColumn("n_chars",
        when(col("shard") === 0, col("n_chars"))
          .otherwise(length(col("text")).cast("long")))
      .drop("shard")
  }

  /** `mult` clone shards of the embeddings table. Shard k applies the
    * orthogonal transform D_p·R_s: rotate the dim order by
    * `s = 13k mod dim`, then flip the sign of dim j iff bit (j mod 62)
    * of `p = k div 64` is set. Rotation alone has period 64, so shards
    * 64 apart would be VERBATIM duplicates past mult = 64 (caught in
    * round-9 review — the x100 deep rung shipped with 36 duplicate
    * shard pairs); the sign layer disambiguates them: equal transforms
    * need equal rotation (k ≡ k' mod 64) AND equal sign pattern
    * (k div 64 ≡ k' div 64, exact for p < 2^62), i.e. k = k'. Both
    * layers are exact in floating point (permutation + negation), so
    * within-shard inner products and norms stay term-for-term
    * identical to base, and shards < 64 are untouched (p = 0 — the
    * x1/x3/x10 rungs and their recorded results are unchanged).
    */
  def scaleEmbeddings(emb: DataFrame, mult: Int): DataFrame = {
    require(mult >= 1)
    emb.withColumn("shard", explode(sequence(lit(0), lit(mult - 1))))
      .withColumn("__s", expr("CAST((shard * 13) % size(embedding) AS INT)"))
      .withColumn("__p", expr("CAST(shard DIV 64 AS BIGINT)"))
      .withColumn("embedding",
        when(col("__s") === 0, col("embedding"))
          .otherwise(expr(
            "concat(slice(embedding, __s + 1, size(embedding) - __s), " +
              "slice(embedding, 1, __s))")))
      .withColumn("embedding",
        when(col("__p") === 0L, col("embedding"))
          // interpreted HOF is fine here: one-off generator, not a query
          .otherwise(expr(
            "transform(embedding, (x, j) -> " +
              "IF(((__p >> (j % 62)) & 1) = 1, -x, x))")))
      .withColumn("vec_id", col("vec_id") + col("shard") * IdStride)
      .drop("shard", "__s", "__p")
  }

  /** Write one ladder rung: scaled documents/embeddings parquet (file
    * count proportional to the rung, mirroring how a larger corpus
    * arrives as more files) plus symlinks to the unscaled sf0.1 tables
    * the registry's other queries read.
    */
  def genRung(spark: SparkSession, baseDir: String, outDir: String,
              mult: Int): Unit = {
    import java.nio.file.{Files, Paths}
    Files.createDirectories(Paths.get(outDir))
    val docs = spark.read.parquet(s"$baseDir/documents.parquet")
    val emb = spark.read.parquet(s"$baseDir/embeddings.parquet")
    scaleDocuments(docs, mult).repartition(2 * mult)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    scaleEmbeddings(emb, mult).repartition(2 * mult)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    graft.queries.Tables.all.filterNot(t => t == "documents" || t == "embeddings")
      .foreach { t =>
        val link = Paths.get(s"$outDir/$t.parquet")
        val target = Paths.get(s"$baseDir/$t.parquet").toAbsolutePath
        // NOFOLLOW: plain exists() follows the link, so a DANGLING link
        // (base dir moved/regenerated) reads as absent and the create
        // below would throw FileAlreadyExistsException, wedging rung
        // generation until manual cleanup; also replace a live link
        // that points at a DIFFERENT base than this run's
        if (Files.exists(link, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
          // only auto-delete SYMLINKS: a real file/directory here (e.g.
          // a materialized parquet table) would make Files.delete throw
          // DirectoryNotEmptyException and wedge rung generation — the
          // failure class this cleanup exists to prevent. Fail loud
          // with the path instead; the operator decides what it was.
          if (!Files.isSymbolicLink(link))
            throw new IllegalStateException(
              s"$link exists but is not a symlink (a materialized table?) — " +
                "remove it manually before regenerating this rung")
          if (Files.readSymbolicLink(link) != target) Files.delete(link)
        }
        if (!Files.exists(link, java.nio.file.LinkOption.NOFOLLOW_LINKS))
          // absolute target: a relative SPARK_GRAFT_SF_DIR would
          // otherwise dangle (resolved against the rung dir)
          Files.createSymbolicLink(link, target)
      }
    // the completeness marker the gen-skip checks — a crash between the
    // two table writes must NOT leave a half rung that every later run
    // silently skips (children would fail with no hint)
    Files.write(Paths.get(s"$outDir/_GEN_DONE"), Array.emptyByteArray)
  }

  // ---------------------------------------------------------------- child

  private def session(): SparkSession = {
    val cpus = GraftSession.cpus
    // shuffle partitions scale with the DATA at a real deployment (AQE
    // coalesces back down); the deep rungs let the caller emulate that
    val parts = sys.env.getOrElse("GRAFT_LADDER_SHUFFLE", cpus.toString)
    val s = GraftSession.builder(cpus)
      .config("spark.sql.shuffle.partitions", parts)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The PlanAudit flag triple over an (executed, AQE-final) plan. */
  private def flags(df: DataFrame): (Int, Int, Int) =
    flagsOfPlan(df.queryExecution.executedPlan)

  private def flagsOfPlan(
      p0: org.apache.spark.sql.execution.SparkPlan): (Int, Int, Int) = {
    import org.apache.spark.sql.execution.SparkPlan
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }
    val plan = unwrap(p0)
    val w = plan.collect {
      case x: org.apache.spark.sql.execution.window.WindowExec
        if x.partitionSpec.isEmpty => x
    }.size
    val c = plan.collect {
      case x: org.apache.spark.sql.execution.joins.CartesianProductExec => x
      case x: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => x
    }.size
    val g = plan.collect {
      case x: org.apache.spark.sql.execution.GenerateExec
        if x.generator.toString.contains("lambdafunction") &&
          x.generator.toString.contains("split(") => x
    }.size
    (w, c, g)
  }

  /** Child mode: one (query, dir) in a fresh JVM — warmup (rows +
    * flags), then `Reps` timed runs.
    *
    * Flags are SUMMED over EVERY query execution the warmup triggers,
    * via a QueryExecutionListener — not just the returned frame's
    * plan. Driver-composed registry rows (recall summaries, the
    * reweight audit) do all their heavy work inside the builder and
    * return a 1-row LocalTableScan; auditing only that plan made the
    * flags gate vacuous for them (round-9 review finding). Inner
    * executions legitimately include the PlanAudit documented-bounded
    * classes (1-row binding cross joins in the reweight loop), so
    * nonzero flags are fine — the gate compares them ACROSS RUNGS.
    */
  private def child(name: String, dir: String): Unit = {
    val spark = session()
    val fn = graft.SparkEntry.queries(name)
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    val sums = new java.util.concurrent.atomic.AtomicReference((0, 0, 0))
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit = {
        val f = flagsOfPlan(qe.executedPlan)
        sums.updateAndGet(s => (s._1 + f._1, s._2 + f._2, s._3 + f._3))
        seen.incrementAndGet(); ()
      }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    spark.catalog.clearCache()
    val warm = fn(spark, dir)
    val rows = warm.count()
    val finalFlags = flags(warm)
    // the listener bus is async: wait until the execution count is
    // stable for 500 ms (max 10 s) before reading the sums
    var (stableFor, last, waited) = (0L, -1L, 0L)
    while (stableFor < 500 && waited < 10000) {
      val now = seen.get()
      if (now == last) stableFor += 100 else { stableFor = 0; last = now }
      Thread.sleep(100); waited += 100
    }
    spark.listenerManager.unregister(listener)
    val inner = sums.get()
    val (w, c, g) = (math.max(inner._1, finalFlags._1),
      math.max(inner._2, finalFlags._2), math.max(inner._3, finalFlags._3))
    val times = (0 until Reps).map { _ =>
      spark.catalog.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      fn(spark, dir).count()
      (System.nanoTime() - t0) / 1e9
    }
    println(s"""GRAFT_LADDER_CHILD {"name":"$name","rows":$rows,""" +
      s""""flags":"w=$w,c=$c,g=$g","times":[${times.mkString(",")}]}""")
    spark.stop()
  }

  private def jvmFlags: Seq[String] = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.toSeq.filter(a =>
        a.startsWith("--add-opens") || a.startsWith("--add-exports") ||
          a.startsWith("-X") || a.startsWith("-D"))
  }

  private case class ChildResult(rows: Long, flags: String, times: Seq[Double]) {
    def best: Double = times.min
  }

  /** Shuffle partitions for a rung, applied ONLY to [[AggHeavyParts]]
    * queries: a real deployment sizes shuffle partitions PER JOB from
    * its shuffle profile, and two profiles here genuinely want
    * different numbers on one box (both measured at the x100 rung,
    * idle):
    *
    *   - `dedup_ngram`'s pair aggregate holds 113M distinct keys —
    *     3.5M keys/task at 32 partitions spills and GC-thrashes
    *     (33-90 s/rep); 128 partitions → 0.9M/task runs 33-36 s
    *     STABLE. Per-task aggregate state must shrink as data grows.
    *   - the probe/scan tiers run up to 2× SLOWER at a global 128
    *     (hash_neardup_auto ≥100 s vs 52 s at 32; sim_topk_ivf_auto
    *     12.7 s vs ~5 s): their stages are many and individually
    *     small, and 4× the tasks is pure per-task overhead.
    *
    * AQE's initialPartitionNum cannot arbitrate (measured, rejected):
    * it coalesces for shuffle-IO size and re-fattens exactly the map
    * tasks whose aggregate state must stay bounded. So the ladder did
    * what a production pipeline does — a per-job setting: one
    * partition doubling per ~25× data over the 32-partition base, for
    * the queries whose per-task AGGREGATE state grows with the corpus;
    * everything else keeps the cpu count.
    *
    * ROUND 12: this discipline moved INTO the ops API
    * ([[graft.ops.PairAggSizing]] — the pair tiers measure their
    * candidate mass and size their own heavy exchanges), so the ladder
    * no longer hand-tunes any query: [[AggHeavyParts]] is empty, and
    * the x100 re-measure without the override matches the hand-tuned
    * numbers (47.7-68.4 s vs 54.0-68.9 s same-box, identical rows).
    * `GRAFT_LADDER_SHUFFLE` remains as a manual A/B lever; rungParts
    * stays for any future query whose heavy aggregate lives OUTSIDE
    * the sized pair tiers.
    */
  private def rungParts(cpus: Int, mult: Int): Int =
    math.max(cpus, cpus * mult / 25)

  /** Queries whose dominant cost is a pair aggregation with
    * corpus-linear DISTINCT-key mass (see [[rungParts]]). Empty since
    * round 12 — the pair tiers self-size ([[graft.ops.PairAggSizing]]).
    */
  val AggHeavyParts: Set[String] = Set.empty

  private def forkOne(name: String, dir: String,
                      parts: Option[Int] = None): Option[ChildResult] = Try {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val cp = System.getProperty("java.class.path")
    val cmd = Seq(javaBin) ++ jvmFlags ++
      Seq("-cp", cp, "graft.tools.ScaleLadder", "--child", name, dir)
    val out = new StringBuilder
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
    // an explicit GRAFT_LADDER_SHUFFLE in the parent env wins (manual
    // sweeps); otherwise the child gets the rung-proportional sizing
    if (!sys.env.contains("GRAFT_LADDER_SHUFFLE"))
      parts.foreach(p => pb.environment().put("GRAFT_LADDER_SHUFFLE", p.toString))
    val proc = pb.start()
    val reader = new java.io.BufferedReader(
      new java.io.InputStreamReader(proc.getInputStream))
    var line = reader.readLine()
    while (line != null) { out.append(line).append('\n'); line = reader.readLine() }
    val rc = proc.waitFor()
    if (rc != 0) throw new RuntimeException(s"child rc=$rc")
    val marked = out.toString.linesIterator
      .find(_.startsWith("GRAFT_LADDER_CHILD "))
      .getOrElse(throw new RuntimeException("no child marker"))
    val rows = marked.split("\"rows\":")(1).split(",")(0).trim.toLong
    val fl = marked.split("\"flags\":\"")(1).split("\"")(0)
    val times = marked.substring(marked.indexOf("[") + 1, marked.indexOf("]"))
      .split(",").map(_.trim.toDouble).toSeq
    ChildResult(rows, fl, times)
  }.toOption

  // --------------------------------------------------------------- parent

  /** `--deep` mode: the linear-row tiers, the constant-query ANN
    * miners, the DoReMi loops, AND (round 10) the composition tier —
    * x10 → x100, TWO orders of magnitude over the base corpus, gated
    * rung-over-rung (row floor 0.5·10×; time slack, see the gate
    * block).
    */
  val DeepHeavy: Seq[String] = Seq(
    "hash_neardup_auto", "dedup_minhash", "dedup_ngram",
    "mixture_reweight", "mixture_reweight_tokens",
    "sim_topk_ivf", "sim_topk_ivf_auto", "sim_topk_ivf_rerank",
    "sim_topk_ivf_rerank_auto",
    "margin_pairs_ivf", "curation_pipeline_v4", "curation_pipeline_v6",
    // round 11: the machine-filling composition (its x10 r = 4.20 was
    // the ceiling case) and the fixed-dim counterexample join the
    // decade table — the two most informative missing measurements
    "dedup_scorecard", "hash_embed_neardup")

  val DeepRungs: Seq[(String, Int)] = Seq("x10" -> 10, "x100" -> 100)

  def main(args: Array[String]): Unit = {
    if (args.length >= 3 && args(0) == "--child") { child(args(1), args(2)); return }
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outRoot = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "target/scale")
    val deep = args.contains("--deep")
    val rungs = if (deep) DeepRungs else Rungs
    val heavy = if (deep) DeepHeavy else Heavy

    // generation (idempotent: skip rungs whose documents dir exists)
    val gen = session()
    rungs.foreach { case (tag, mult) =>
      val dir = s"$outRoot/$tag"
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/_GEN_DONE"))) {
        System.err.println(s"[ladder] generating $tag (mult=$mult) under $dir")
        genRung(gen, baseDir, dir, mult)
      } else System.err.println(s"[ladder] $tag complete, skipping gen")
    }
    gen.stop()
    if (args.contains("--gen-only")) return

    // measurement: fork one JVM per (query, rung), interleaved per query.
    // Results append to a JSONL as they land, and already-measured pairs
    // are skipped on restart, so a long ladder survives being run in
    // several invocations.
    import java.nio.file.{Files, Paths, StandardOpenOption}
    val resultsPath = Paths.get(s"$outRoot/results.jsonl")
    val prior: Map[(String, String), ChildResult] =
      if (Files.exists(resultsPath)) {
        import scala.jdk.CollectionConverters._
        Files.readAllLines(resultsPath).asScala.filter(_.nonEmpty).map { l =>
          val q = l.split("\"q\":\"")(1).split("\"")(0)
          val tag = l.split("\"rung\":\"")(1).split("\"")(0)
          val rows = l.split("\"rows\":")(1).split(",")(0).trim.toLong
          val fl = l.split("\"flags\":\"")(1).split("\"")(0)
          val times = l.substring(l.indexOf("[") + 1, l.indexOf("]"))
            .split(",").map(_.trim.toDouble).toSeq
          (q, tag) -> ChildResult(rows, fl, times)
        }.toMap
      } else Map.empty
    val cpusN = GraftSession.cpus
    val results: Seq[(String, Map[String, ChildResult])] = heavy.map { q =>
      val per = rungs.flatMap { case (tag, mult) =>
        val r = prior.get((q, tag)).orElse {
          val fresh = forkOne(q, s"$outRoot/$tag",
            if (AggHeavyParts(q)) Some(rungParts(cpusN, mult)) else None)
          fresh.foreach { c =>
            val line = s"""{"q":"$q","rung":"$tag","rows":${c.rows},""" +
              s""""flags":"${c.flags}","times":[${c.times.mkString(",")}]}\n"""
            Files.write(resultsPath, line.getBytes,
              StandardOpenOption.CREATE, StandardOpenOption.APPEND)
          }
          fresh
        }
        System.err.println(s"[ladder] $q @$tag -> " + r.fold("FAILED")(c =>
          f"rows=${c.rows} best=${c.best}%.2fs times=${c.times.map(t => f"$t%.2f").mkString("/")} flags=${c.flags}"))
        r.map(tag -> _)
      }.toMap
      q -> per
    }

    // gates, against the FIRST rung as baseline: t ≤ slack·(mult ratio);
    // GrowRows floor rows ≥ 0.5·(mult ratio); scale-audit flags
    // identical at every rung. Slack 1.5x EVERYWHERE (x1→x3 gives 4.5,
    // x1→x10 and x10→x100 give 15). Round 10 dropped the former 2.0x
    // deep exception: the single-JVM GC wobble it excused was the
    // dedup_ngram pair aggregate, tamed by the feasibility-pruned tail
    // + ParallelGC + per-job partition sizing (33-36 s stable at x100,
    // ratio ~9 — see rungParts and SCALE.md).
    val slack = 1.5
    val (baseTag, baseMult) = rungs.head
    var failures = List.empty[String]
    val rows = results.map { case (q, per) =>
      val ok = rungs.forall { case (t, _) => per.contains(t) }
      if (!ok) { failures ::= s"$q: a rung failed to run"; s"| $q | FAILED |" }
      else {
        val base = per(baseTag)
        val later = rungs.tail.map { case (tag, mult) =>
          val r = per(tag)
          val ratio = r.best / base.best
          val multRatio = mult.toDouble / baseMult
          if (ratio > slack * multRatio)
            failures ::= f"$q: t($tag)/t($baseTag)=$ratio%.1f > ${slack * multRatio}%.1f (super-linear)"
          if (GrowRows(q) && r.rows < 0.5 * multRatio * base.rows)
            failures ::= s"$q: pair rows collapsed under growth " +
              s"(${base.rows} @$baseTag -> ${r.rows} @$tag)"
          if (r.flags != base.flags)
            failures ::= s"$q: scale-audit flags changed " +
              s"($baseTag=${base.flags} vs $tag=${r.flags})"
          (tag, r, ratio)
        }
        s"| $q | " +
          rungs.map { case (t, _) => f"${per(t).rows}%,d" }.mkString(" / ") +
          s" | " + rungs.map { case (t, _) => f"${per(t).best}%.2f" }.mkString(" | ") +
          s" | " + later.map { case (_, _, rat) => f"$rat%.2f" }.mkString(" | ") +
          s" | ${base.flags} |"
      }
    }

    val verdict = if (failures.isEmpty) "PASS" else "FAIL"
    val rungNames = rungs.map(_._1)
    val header = s"| query | rows ${rungNames.mkString(" / ")} | " +
      rungNames.map(t => s"t($t) s").mkString(" | ") + " | " +
      rungNames.tail.map(t => s"r($t/$baseTag)").mkString(" | ") + " | flags |"
    val sep = "|" + Seq.fill(2 + rungNames.size + rungNames.tail.size + 1)("---").mkString("|") + "|"
    // margin char ~ so the markdown table pipes survive stripMargin
    val md =
      s"""### Scale-ladder run ($verdict)${if (deep) " — deep (x10 → x100)" else ""}
         ~
         ~base=`$baseDir`, rungs ${rungNames.mkString("/")} under `$outRoot`, forked JVM per
         ~(query, rung), warmup + min-of-$Reps, `local[${GraftSession.cpus}]`.
         ~
         ~$header
         ~$sep
         ~${rows.mkString("\n")}
         ~
         ~Gates vs $baseTag: t ratio <= ${slack}x the data-multiple ratio; flags
         ~identical across rungs; GrowRows tiers floor rows at 0.5x the
         ~data-multiple ratio.
         ~${if (failures.isEmpty) "All gates green." else failures.mkString("FAILURES:\n- ", "\n- ", "")}
         ~""".stripMargin('~')
    println(md)
    if (failures.nonEmpty) sys.exit(1)
  }
}
