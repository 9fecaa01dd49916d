package graft.examples

/** Dump the formatted physical plan of many SparkEntry queries to files:
  *   sbt "runMain graft.examples.ExplainMany <outDir> <suffix> [q1,q2,...]"
  * Writes <outDir>/<query>_<suffix>.txt per query (all queries when the
  * list is omitted). Plans only — nothing executes.
  */
object ExplainMany {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet) else None
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (only.forall(_.contains(name))) {
        try {
          val plan = fn(spark, dir).queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
            plan.getBytes("UTF-8"))
        } catch { case e: Throwable =>
          System.err.println(s"[explain] $name failed: ${graft.pipeline.RunStats.failureJson(e)}")
        }
      }
    }
    spark.stop()
  }
}
