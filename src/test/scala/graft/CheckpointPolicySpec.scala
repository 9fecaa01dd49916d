package graft

import java.nio.file.{Files, Path}
import graft.operators.Clusters

/** `Tables.cutLineage` has two policies: RELIABLE checkpoint (HDFS-class
  * storage, executor-loss-safe — what a cluster configures) when a
  * checkpoint dir is set, `localCheckpoint` (executor-local blocks)
  * otherwise. Every other spec exercises only the local fallback, so
  * the "reliable storage at scale" path was documented but never run —
  * this spec drives real iterative operators under BOTH policies and
  * proves (a) results are bit-identical, (b) the reliable path actually
  * wrote checkpoint data to the configured directory.
  *
  * `setCheckpointDir` is JVM-global and has no unset, so build.sbt runs
  * this spec in a forked JVM of its own: the other suites keep the
  * local fallback that Bench and Verify use. Within this spec, every
  * case's local leg runs before the first case sets a dir.
  */
class CheckpointPolicySpec extends SparkSpec {
  import spark.implicits._

  private def runQuery(name: String): Set[Seq[Any]] =
    SparkEntry.queries(name)(spark, sf0001)
      .collect().map(_.toSeq).toSet

  /** Components of the path 1-2-…-12 on the distributed loop: label 1
    * needs 11 iterations to reach node 12, so the loop's periodic cut
    * (every 5 iterations) fires twice after the initial labels' cut.
    */
  private def pathComponents(): Set[(Long, Long)] =
    Clusters.connectedComponents(
        (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b"),
        localEdgeLimit = 0L)
      .as[(Long, Long)].collect().toSet

  /** Every case's results under the local policy, taken at first use. */
  private lazy val local = {
    // If a checkpoint dir is already set in this JVM, the local-fallback
    // leg can't run — CANCEL (the comparison is meaningless), don't fail.
    assume(spark.sparkContext.getCheckpointDir.isEmpty,
      "a checkpoint dir is already set in this JVM — cannot exercise the local fallback")
    (runQuery("graph_pagerank"), runQuery("graph_kcore"), pathComponents())
  }

  /** Points the session at a fresh checkpoint dir, so that what a case
    * finds there was written by that case alone.
    */
  private def freshCheckpointDir(): Path = {
    val dir = Files.createTempDirectory("graft-ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    dir
  }

  private def countUnder(dir: Path)(p: Path => Boolean): Long = {
    val s = Files.walk(dir)
    try s.filter(p(_)).count() finally s.close()
  }

  /** The reliable path must have actually written checkpoint data —
    * otherwise a case silently tested the fallback twice.
    */
  private def assertCheckpointFiles(dir: Path): Unit =
    assert(countUnder(dir)(Files.isRegularFile(_)) > 0,
      s"no checkpoint files under $dir — reliable policy not exercised")

  test("iterative operators: identical results under local and reliable checkpointing") {
    // Two iteration families: pagerank (per-sweep join+agg fixed point)
    // and k-core (peel loop); both route every sweep through cutLineage.
    val (localPr, localKc, _) = local
    val dir = freshCheckpointDir()
    assert(runQuery("graph_pagerank") == localPr, "pagerank diverged across checkpoint policies")
    assert(runQuery("graph_kcore") == localKc, "k-core diverged across checkpoint policies")
    assertCheckpointFiles(dir)
  }

  test("connected components: the distributed loop's eager cuts are identical under both policies") {
    val (_, _, localCc) = local
    assert(localCc == (1L to 12L).map(_ -> 1L).toSet)
    val dir = freshCheckpointDir()
    assert(pathComponents() == localCc, "components diverged across checkpoint policies")
    assertCheckpointFiles(dir)
    // One checkpointed RDD per cut: the initial labels and two periodic cuts.
    val rdds = countUnder(dir)(p =>
      Files.isDirectory(p) && p.getFileName.toString.startsWith("rdd-"))
    assert(rdds == 3, s"expected 3 checkpointed RDDs under $dir, found $rdds")
  }
}
