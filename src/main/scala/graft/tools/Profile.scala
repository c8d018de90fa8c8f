package graft.tools

import graft.{GraftSession, SparkEntry}

/** Dev tool: run ONE SparkEntry query with plan dump + timing.
  * Usage: runMain graft.tools.Profile <queryName> [sfDir]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val name  = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries(name)
    val t0 = System.nanoTime()
    val df = fn(spark, sfDir)
    val tBuild = (System.nanoTime() - t0) / 1e9
    println(s"== build: $tBuild s")
    df.explain("formatted")
    val t1 = System.nanoTime()
    val n = df.count()
    println(s"== count: $n rows in ${(System.nanoTime() - t1) / 1e9} s (build $tBuild s)")
    spark.stop()
  }
}
