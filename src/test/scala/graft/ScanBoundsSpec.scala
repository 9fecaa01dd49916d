package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.TestListenerBus
import org.apache.spark.sql.catalyst.expressions.codegen.CodeFormatter
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.util.QueryExecutionListener
import graft.pipeline.{RunStats, Transfer, Window}
import graft.sources.FileConnector

/** A transfer tick over a new cursor window generates the code an earlier
  * window already compiled, and the window is still pushed into both
  * parquet scans.
  */
class ScanBoundsSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val source = new FileConnector(spark, sf0001)

  /** One tick from `lineitem` (NTZ cursor `l_shipdate`) into `target`,
    * and the write execution it ran.
    */
  private def tick(sink: FileConnector, target: String, from: String, to: String)
      : (RunStats, QueryExecution) = {
    val executed = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = executed.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = executed.add(qe)
    }
    TestListenerBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    val stats =
      try {
        val cfg = Transfer.Config("lineitem", target, increment = true,
          window = Some(Window("l_shipdate", s"timestamp'$from 00:00:00'", s"timestamp'$to 00:00:00'")))
        val st = Transfer.run(source, sink, cfg)
        TestListenerBus.drain(spark.sparkContext)
        st
      } finally spark.listenerManager.unregister(listener)
    val qes = executed.asScala.toSeq
    assert(qes.size == 1, s"a tick runs one execution, got ${qes.size}")
    (stats, qes.head)
  }

  /** The generated Java of every whole-stage-codegen subtree, without the
    * comments (the pipeline comment prints the plan, bounds included).
    */
  private def code(qe: QueryExecution): Seq[String] =
    codegenStringSeq(qe.executedPlan).map(c => CodeFormatter.stripExtraNewLinesAndComments(c._2))

  test("two windows, one piece of generated code") {
    val sink = new FileConnector(spark, Files.createTempDirectory("graft-bounds").toString)
    val (coldA, qeColdA) = tick(sink, "a", "1995-01-02", "1996-06-30")
    val (incA, qeIncA) = tick(sink, "a", "1996-01-01", "1997-06-30")
    val (coldB, qeColdB) = tick(sink, "b", "1998-03-05", "1999-08-31")
    val (incB, qeIncB) = tick(sink, "b", "1999-03-01", "2000-08-31")
    // Windows of different sizes, each tick writes what it should.
    assert(coldA.rowsWritten == coldA.rowsRead && coldB.rowsWritten == coldB.rowsRead)
    assert(incA.rowsFiltered > 0 && incA.rowsWritten > 0)
    assert(incB.rowsFiltered > 0 && incB.rowsWritten > 0)
    assert(coldA.rowsRead != coldB.rowsRead || incA.rowsWritten != incB.rowsWritten)

    for ((x, y) <- Seq(qeColdA -> qeColdB, qeIncA -> qeIncB)) {
      val (cx, cy) = (code(x), code(y))
      assert(cx.nonEmpty && cx.size == cy.size)
      val differing = cx.zip(cy).count { case (a, b) => a != b }
      assert(differing == 0, s"of ${cx.size} codegen subtrees, a new window changed")
    }
  }

  test("both scans of a tick still push down both window bounds") {
    val sink = new FileConnector(spark, Files.createTempDirectory("graft-bounds-push").toString)
    tick(sink, "t", "1995-01-02", "1996-06-30")
    val (_, qe) = tick(sink, "t", "1996-01-01", "1997-06-30")
    val scans = collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
    assert(scans.size == 2, s"source and target scans, got:\n${qe.executedPlan}")
    for (s <- scans) {
      val pushed = s.metadata("PushedFilters")
      assert(pushed.contains("GreaterThanOrEqual(l_shipdate,") &&
        pushed.contains("LessThanOrEqual(l_shipdate,"), s"${s.tableIdentifier}: $pushed")
    }
  }
}
