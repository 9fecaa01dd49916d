package graft

import org.apache.spark.sql.SparkSession

/** The one session posture. Bench, the oracle dump (`Verify`), the CLI,
  * the demos, the plan-explain tools and the test suite all build their
  * session here, so the plans the tests pin are the plans the bench times
  * and the oracle checks.
  *
  *   - `local[cores]` (or the deployment master in `SPARK_MASTER`) with
  *     `cores` shuffle partitions; UTC session time zone (the DuckDB
  *     oracle is TZ-naive, and `Tables` reads NTZ timestamps as
  *     session-TZ instants); UI off; AQE on.
  *   - Never the bypass-merge shuffle writer
  *     (`bypassMergeThreshold = 0`): with R reduce partitions it opens R
  *     files per MAP TASK and concatenates them through
  *     `FileChannel.transferTo` — thousands of file opens per small
  *     shuffle (sampled stacks: most of each map task's wall sat in
  *     `writePartitionedData`). The sort writer streams one file per
  *     task. At production scale reduce counts exceed the default
  *     threshold of 200 anyway, so bypass never fires there and pinning 0
  *     only removes the small-shuffle pathology.
  *   - A 64 KB AQE coalescing floor (`minPartitionSize`, default 1 MB):
  *     the default collapses SMALL shuffles whose downstream work is
  *     CPU-heavy — the ngram-Jaccard candidate verify (a ~3 MB exchange
  *     fanning into array merge-scans) was coalesced to 3 partitions,
  *     3 of 32 cores busy for the query's whole tail. 64 KB lets
  *     parallelism-first reach the core count on small exchanges; at
  *     scale totalSize/parallelism is far above both floors, so it is a
  *     no-op there.
  *   - Spark's default sort-merge join preference. Warm 6-12-query
  *     subsets favoured shuffled-hash (8.6 → 6.9 s), but the full
  *     322-query suite measured the opposite: 111.4 s (sort-merge) vs
  *     125.0 s (shuffled-hash), median per-query ratio 1.10 — hash
  *     builds churn allocation and codegen-cache pressure across many
  *     distinct plans in one session.
  *
  * Registers [[GraftExtensions]] on the session it returns.
  */
object GraftSession {

  /** Build (or get) the session with `cores` local task slots. */
  def apply(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cores]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.join.preferSortMergeJoin", "true")
      .getOrCreate()
    GraftExtensions.register(spark)
    spark
  }
}
