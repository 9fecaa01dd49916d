package graft

import graft.plans.{RegexPrefixRewrite, ScanBoundsStrategy, TopKStrategy}

/** The test session is the engine's posture: the plans the specs pin are
  * the plans Bench times and Verify checks, and the graft extensions are
  * there whichever spec runs first.
  */
class GraftSessionSpec extends SparkSpec {

  test("the test session carries the posture") {
    val core = spark.sparkContext.getConf
    assert(core.get("spark.ui.enabled") == "false")
    assert(core.get("spark.shuffle.sort.bypassMergeThreshold") == "0")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize") == "64k")
    assert(spark.conf.get("spark.sql.join.preferSortMergeJoin") == "true")
  }

  test("the test session has the graft extensions registered") {
    assert(spark.sql("SELECT graft_row_hash('A', 'b')").first().getString(0).length == 32)
    assert(spark.experimental.extraStrategies.contains(TopKStrategy))
    assert(spark.experimental.extraOptimizations.contains(RegexPrefixRewrite))
    GraftExtensions.register(spark)
    GraftExtensions.register(spark)
    assert(spark.experimental.extraStrategies.count(_ == ScanBoundsStrategy) == 1)
  }

  test("the test session has no checkpoint dir: lineage is cut locally, as in Bench") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
  }
}
