package graft.examples

import org.apache.spark.sql.SparkSession

/** The driver-parity session the plan-explain tools ([[ExplainOne]],
  * [[ExplainMany]]) print plans under.
  */
object Profiling {

  /** Driver-parity local session (local[32], 32 shuffle partitions,
    * UTC, AQE on, UI off).
    */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Ad-hoc A/B confs: SPARK_GRAFT_EXTRA_CONF="k=v;k=v"
    val extra = sys.env.getOrElse("SPARK_GRAFT_EXTRA_CONF", "")
      .split(";").filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2); (k, v)
      }
    val b0 = SparkSession.builder().master(s"local[$cpus]")
    val spark = extra.foldLeft(b0)((b, kv) => b.config(kv._1, kv._2))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.shuffle.sort.bypassMergeThreshold",
        sys.env.getOrElse("SPARK_GRAFT_BYPASS_THRESHOLD", "0"))
      // AQE partition coalescing keeps its parallelism-first intent, but
      // the default 1 MB floor collapses SMALL shuffles whose downstream
      // work is CPU-heavy: the ngram-Jaccard candidate verify (a ~3 MB
      // exchange fanning into array merge-scans) was coalesced to 3
      // partitions — 3 of 32 cores busy for the query's whole tail. A
      // 64 KB floor lets parallelism-first reach the core count on small
      // exchanges; at scale totalSize/parallelism >> both floors, so
      // this is a no-op there. Env-overridable for A/B.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_MIN_PARTITION_SIZE", "64k"))
      // Bench-parity join posture (see Bench.scala).
      .config("spark.sql.join.preferSortMergeJoin",
        sys.env.getOrElse("SPARK_GRAFT_PREFER_SMJ", "true"))
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
