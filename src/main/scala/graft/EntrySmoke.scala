package graft
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.entry(spark)
    println(s"ENTRY_ROWS=${df.count()}  SCHEMA=${df.schema.fieldNames.mkString(",")}")
    spark.stop()
  }
}
