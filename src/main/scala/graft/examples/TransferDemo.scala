package graft.examples

import graft.functions.RowHash
import graft.pipeline.{Transfer, Window}
import graft.sources.FileConnector

/** Usage example + smoke entry point: the reference's scheduled-incremental
  * pipeline (§3.1) against the driver fixtures. Run:
  *   sbt "runMain graft.examples.TransferDemo [sfDir]"
  */
object TransferDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession(8)
    spark.sparkContext.setLogLevel("ERROR")

    val tmp = java.nio.file.Files.createTempDirectory("graft-demo").toString
    val src = new FileConnector(spark, sfDir)
    val sink = new FileConnector(spark, tmp)
    // Reference shape: the cursor column (ts) is NOT in the projection.
    val cfg = Transfer.Config(
      table = "events", target = "out",
      fields = Seq("event_id", "user_id", "event_type", "value"),
      window = Some(Window("ts", "timestamp'2024-01-01'", "timestamp'2024-01-15'")),
      increment = true)

    val r1 = Transfer.run(src, sink, cfg)
    println(s"RUN1: $r1")
    val r2 = Transfer.run(src, sink, cfg)
    println(s"RUN2: $r2")
    println(s"TARGET ROWS: ${sink.read("out").count()}")

    val rawExpr = Transfer.plan(src, Transfer.Config("events", "x",
      window = Some(Window("ts", "timestamp'2024-01-05'", "current_timestamp()")))).count()
    println(s"RAW-EXPR WINDOW ROWS: $rawExpr")

    val li = src.read("lineitem")
    println("HASH SAMPLE: " + RowHash.withRowHash(li).select("row_hash").first())

    // Extension operators over the documents/embeddings fixtures.
    import graft.operators.{Dedup, Multimodal, Similarity}
    val docs = src.read("documents")
    println(s"MINHASH PAIRS: ${Dedup.minhashNearDups(docs, "doc_id", "text").count()}")
    println(s"SIMHASH PAIRS: ${Dedup.simhashNearDups(docs, "doc_id", "text").count()}")
    val emb = src.read("embeddings")
    println(s"TOPK ROWS: ${Similarity.bruteForceTopK(emb,
      emb.where(org.apache.spark.sql.functions.col("vec_id") < 3),
      "vec_id", "embedding", 5).count()}")
    val feats = Multimodal.extractFeatures(spark, Multimodal.demoCorpus(spark, docs), 8)
    println("MEDIA FEATURES: " + feats.orderBy("media_id").head())

    // SQL surface: the custom expressions registered for spark.sql users.
    docs.createOrReplaceTempView("docs")
    println("SQL HASH: " + spark.sql(
      "SELECT graft_row_hash(CAST(doc_id AS STRING), lang, source) AS h " +
        "FROM docs ORDER BY doc_id LIMIT 1").first())
    spark.stop()
  }
}
