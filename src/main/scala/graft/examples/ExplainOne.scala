package graft.examples

/** Print the formatted physical plan of one SparkEntry query:
  *   sbt "runMain graft.examples.ExplainOne <query> [sfDir]"
  */
object ExplainOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = graft.GraftSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val df = graft.SparkEntry.queries(name)(spark, dir)
    println(df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    spark.stop()
  }
}
