package graft.examples

import java.nio.file.Files
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import graft.streaming.StreamingPipeline

/** Drive the streaming surface: checkpointed incremental transfer run
  * twice (second run must add zero rows), then stateful sessionization
  * behind readStream. Run: sbt "runMain graft.examples.StreamingDemo"
  */
object StreamingDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession(8)
    spark.sparkContext.setLogLevel("ERROR")

    val tgt = Files.createTempDirectory("graft-sdemo-tgt").toString
    val chk = Files.createTempDirectory("graft-sdemo-chk").toString

    StreamingPipeline.incrementalTransfer(spark, sfDir, "events", tgt, chk)
      .awaitTermination()
    println(s"AFTER RUN1: ${spark.read.parquet(tgt).count()} rows")
    StreamingPipeline.incrementalTransfer(spark, sfDir, "events", tgt, chk)
      .awaitTermination()
    println(s"AFTER RUN2: ${spark.read.parquet(tgt).count()} rows")

    val sessions = StreamingPipeline.sessionizeStreaming(
      spark, StreamingPipeline.streamTable(spark, sfDir, "events"), 1800)
    val q = sessions.writeStream.format("memory").queryName("demo_sessions")
      .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    println(s"SESSIONS: ${spark.table("demo_sessions").count()}")
    println("SAMPLE: " + spark.table("demo_sessions").orderBy("user_id", "session_start").head())
    spark.stop()
  }
}
