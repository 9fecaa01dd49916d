package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.TestListenerBus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener
import graft.queries.ParityQueries

/** Physical-plan regression checks: the properties that make these plans
  * survive a 100× scale-up — filter pushdown into the parquet scan,
  * column pruning, broadcast of small join sides — asserted from
  * `explain(formatted)` output so a refactor can't silently lose them.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String = {
    val df = ParityQueries.queries(name)(spark, sf001)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  /** The formatted final plan of the frame `build` returns, and the
    * formatted plan of every SQL execution run while it was built. An
    * iterative operator's lineage cuts execute its sweeps then, so the
    * sweeps' joins and aggregations appear in those plans; the final
    * plan only scans the last cut's blocks.
    */
  private def executedPlans(build: => DataFrame): (String, Seq[String]) = {
    val executed = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = executed.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = executed.add(qe)
    }
    def formatted(qe: QueryExecution) = qe.explainString(ExplainMode.fromString("formatted"))
    TestListenerBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    val df =
      try { val df = build; TestListenerBus.drain(spark.sparkContext); df }
      finally spark.listenerManager.unregister(listener)
    (formatted(df.queryExecution), executed.asScala.toSeq.map(formatted))
  }

  test("projection prunes the parquet scan to selected columns") {
    val p = plan("q2_projection")
    assert(p.contains("ReadSchema"))
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(read.contains("l_orderkey") && read.contains("l_quantity"))
    assert(!read.contains("l_extendedprice"), "scan reads unneeded column")
  }

  test("window predicate is pushed down to the scan") {
    val p = plan("q3_window_filter")
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("GreaterThanOrEqual") || pushed.contains("IsNotNull"),
      s"no pushed filters in:\n$pushed")
  }

  test("small dimension join uses broadcast") {
    val p = plan("q11_join_agg")
    assert(p.contains("BroadcastHashJoin"), "nation join should broadcast")
  }

  test("incremental anti-join is a hash join, not nested loop") {
    val p = plan("q7_incremental_antijoin")
    assert(p.contains("HashJoin") && p.contains("LeftAnti"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("aggregation has a partial (map-side) phase") {
    val p = plan("q1_agg")
    assert(p.contains("HashAggregate"))
    assert(p.contains("partial_sum") || p.contains("Partial"),
      "no map-side partial aggregation")
  }

  test("ngram verification: broadcast joins, codegen'd scan, no UDF") {
    val df = graft.queries.ExtensionQueries
      .queries("dedup_ngram_jaccard")(spark, sf001)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastHashJoin"),
      "pair verification should broadcast the shingle-set sides")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      "verification must stay UDF-free (codegen merge scan)")
    assert(p.contains("sorted_long_jaccard_ge"),
      "early-exit jaccard expression not in plan")
  }

  test("IVF top-k: query side broadcast, cell join not a cross product") {
    val df = graft.queries.ExtensionQueries
      .queries("sim_topk_ivf")(spark, sf001)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastHashJoin"),
      "probe join should broadcast the (tiny) query side")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "cell probe must be an equality join, not an all-pairs scan")
  }

  test("asof join: one shuffle + sort, no theta join anywhere") {
    val df = graft.queries.AnalyticsQueries.queries("asof_join")(spark, sf001)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin")
      && !p.contains("SortMergeJoin") // union trick: no join operator at all
      && !p.contains("ShuffledHashJoin")
      , s"asof must not be a join:\n${p.take(800)}")
    assert(p.contains("Window"), "carry-forward window missing")
  }

  test("range join: equality join on bucket keys, not an inequality-only join") {
    val df = graft.queries.AnalyticsQueries.queries("range_join")(spark, sf001)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "bucket blocking must make this an equality join")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"))
  }

  test("bloom probe: filter side broadcast, probe side never shuffles its rows") {
    val df = graft.queries.AnalyticsQueries
      .queries("bloom_incremental_dedup")(spark, sf001)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastHashJoin"), "bloom positions must broadcast")
  }

  test("sketches: partial (map-side) aggregation carries the shuffle") {
    for (q <- Seq("sketch_hll_distinct", "sketch_cms_freq", "embedding_centroid")) {
      val df = graft.queries.AnalyticsQueries.queries(q)(spark, sf001)
      val p = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(p.contains("HashAggregate"), s"$q: no hash aggregation")
      assert(p.contains("partial_"), s"$q: no map-side partial phase")
    }
  }

  test("decontaminate: benchmark grams broadcast, corpus grams never shuffle") {
    val df = graft.queries.ExtensionQueries
      .queries("decontaminate")(spark, sf001)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastHashJoin"), "benchmark gram set must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "corpus gram stream must not shuffle into the join")
    assert(p.contains("partial_count"), "per-doc agg needs a map-side phase")
  }

  test("split_assign is a pure narrow map (no hash shuffle, no join)") {
    val df = graft.queries.ExtensionQueries
      .queries("split_assign")(spark, sf001)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("hashpartitioning"),
      "split assignment must not shuffle (only the output sort may range-partition)")
    assert(!p.contains("Join"), "split assignment must not join")
  }

  test("pack assignment: exactly one hash shuffle (the per-source window)") {
    val df = graft.queries.ExtensionQueries
      .queries("pack_sequences")(spark, sf001)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val hashEx = p.linesIterator.count(_.contains("hashpartitioning"))
    assert(hashEx == 1, s"expected 1 hash shuffle, saw $hashEx")
  }

  test("text_normalize stays UDF-free with the nfc expression in-plan") {
    val df = graft.queries.ExtensionQueries
      .queries("text_normalize")(spark, sf001)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("nfc_normalize"), "NfcNormalize expression not in plan")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"))
  }

  test("rebalanceForCompute: expands starved scans, no-ops healthy ones") {
    import spark.implicits._
    val starved = (1 to 100).toDF("x").coalesce(1)
    val fixed = graft.sources.Tables.rebalanceForCompute(starved)
    assert(fixed.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
    // an input already at/above half default parallelism is untouched —
    // the guard must never introduce a shuffle on a healthy (real,
    // many-file) input
    val healthy = (1 to 100).toDF("x")
      .repartition(spark.sparkContext.defaultParallelism)
    val same = graft.sources.Tables.rebalanceForCompute(healthy)
    assert(same eq healthy)
  }

  private def pipePlan(name: String): String = {
    val df = graft.queries.PipelineQueries.queries(name)(spark, sf001)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("profile_table: per-column pruned aggregation subtrees, no Expand") {
    val p = pipePlan("profile_table")
    // detail-section node lines only ("(1) Scan parquet"); the tree
    // rendering repeats each node once more
    val scans = p.linesIterator.count(_.matches("""\(\d+\) Scan parquet\s*"""))
    // one column-pruned scan subtree per profiled column (6 here): same
    // total bytes as one all-columns scan, but the multi-distinct
    // Expand — which multiplied every row (k+1)x before the exchange
    // and serialized the profile behind one scan task — must be gone
    assert(scans == 6, s"one pruned scan per column, saw $scans scans")
    assert(!p.contains("Expand"),
      "per-column distinct aggregates must not plan an Expand")
    // every subtree reads exactly one data column
    val reads = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(reads.nonEmpty && reads.forall(!_.contains(",")),
      s"each scan must prune to its own column:\n${reads.mkString("\n")}")
    assert(p.contains("HashAggregate"),
      "profile passes must stay on hash aggregation")
  }

  test("search_bm25: postings pruned by broadcast join, no UDF") {
    val p = pipePlan("search_bm25")
    assert(p.contains("BroadcastHashJoin"),
      "query vocabulary must broadcast-prune postings before the shuffle")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"))
  }

  test("zorder_code: pure codegen bit-shuffle, single range sort") {
    val p = pipePlan("zorder_code")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"))
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!read.contains("l_extendedprice"),
      "zorder scan must prune to the 4 used columns")
  }

  test("new warehouse ops avoid nested-loop/cartesian joins, stay codegen") {
    for (q <- Seq("retention_cohorts", "incremental_agg", "scd2_history",
        "linkage_fuzzy", "gapfill_ffill", "attribution_last_touch",
        "dq_quarantine", "unpivot_metrics")) {
      val p = pipePlan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans a nested loop")
      assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
        s"$q leaves whole-stage codegen")
    }
    // the gapfill window must consume the GRID (post-aggregate rows),
    // not the raw event stream: its child plan contains the grid's
    // generator, which only exists after the per-hour reduction
    val pg = pipePlan("gapfill_ffill")
    assert(pg.contains("Window") && pg.contains("Generate"),
      "gapfill = window over generated grid")
  }

  test("decision-support classics: broadcast dims, no cartesians, no UDFs") {
    def classicPlan(name: String): String = {
      val df = graft.queries.ClassicQueries.queries(name)(spark, sf001)
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    }
    // q40/q44 deliberately cross-join a broadcast 1-row scalar (max /
    // threshold) — a BroadcastNestedLoopJoin over one row is the right
    // plan there, so they are exempt from the nested-loop assertion.
    val scalarCross = Set("q40_top_supplier", "q44_sales_opportunity")
    for (q <- graft.queries.ClassicQueries.queries.keys.toSeq.sorted) {
      val p = classicPlan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian")
      if (!scalarCross(q))
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$q plans a nested loop")
      assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
        s"$q leaves whole-stage codegen")
    }
    // Both nation legs of the volume-shipping 5-way join broadcast;
    // the fact-side joins stay hash joins.
    val p36 = classicPlan("q36_volume_shipping")
    assert(p36.contains("BroadcastHashJoin"), "nation legs must broadcast")
    // The disjunctive brand filter stays ONE scan + one broadcast join,
    // not a union of three passes over lineitem.
    val p42 = classicPlan("q42_disjunctive_brand")
    assert(p42.contains("BroadcastHashJoin"), "part side must broadcast")
    assert(!p42.contains("Union"), "disjunction must not split the scan")
    // Decorrelated Q21: the per-order EXISTS/NOT-EXISTS pair became one
    // aggregate — no correlated re-scan, supplier dim broadcasts.
    val p43 = classicPlan("q43_waiting_orders")
    assert(p43.contains("BroadcastHashJoin"), "supplier dim must broadcast")
    assert(p43.contains("partial_count") || p43.contains("Partial"),
      "per-order stats need a map-side partial phase")
  }

  test("merge_upsert and funnel avoid nested-loop/cartesian joins") {
    val pm = pipePlan("merge_upsert")
    assert(!pm.contains("BroadcastNestedLoopJoin") &&
      !pm.contains("CartesianProduct"))
    val pf = pipePlan("funnel_conversion")
    assert(!pf.contains("BroadcastNestedLoopJoin") &&
      !pf.contains("CartesianProduct"))
  }

  test("duplicate spans: equality joins only, partial agg, no UDF") {
    val df = graft.queries.ExtensionQueries
      .queries("dedup_spans")(spark, sf001)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "occurrence recovery must be an equality join on the gram hash")
    assert(p.contains("HashAggregate") && p.contains("partial_count"),
      "duplicated-gram detection needs a map-side partial phase")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      "span pipeline must stay UDF-free")
  }

  test("span removal: anti-join on position, no pair-space products") {
    val df = graft.queries.ExtensionQueries
      .queries("dedup_span_removal")(spark, sf001)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("LeftAnti"), "covered positions must drop via anti-join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "no all-pairs operators anywhere in the removal plan")
  }

  test("tfidf: broadcast df-table join, partial tf aggregation, bounded top-k") {
    val df = graft.queries.AnalyticsQueries
      .queries("tfidf_topterms")(spark, sf001)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastHashJoin"),
      "vocabulary-sized df table must broadcast onto tf")
    assert(p.contains("TopKPerKey"), "ranking must use the bounded-heap operator")
    assert(p.contains("HashAggregate"))
    assert(!p.contains("CartesianProduct"))
  }

  test("table_diff: join carries 16-byte hashes, not payload columns") {
    val df = graft.queries.AnalyticsQueries
      .queries("table_diff")(spark, sf001)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("FullOuter"), "diff needs the full-outer key join")
    assert(p.contains("graft_row_hash"),
      "change detection must run on the codegen'd row hash")
    // compared payload columns reduce to the hash BELOW the join: the
    // join's own output must not mention them
    val joinSection = p.linesIterator
      .dropWhile(l => !l.contains("FullOuter")).take(6).mkString("\n")
    assert(!joinSection.contains("o_orderpriority"),
      s"join should carry hashes, not payload:\n$joinSection")
  }

  test("pagerank: iteration joins are hash joins, 1-row base broadcasts") {
    import org.apache.spark.sql.functions.col
    val li = graft.sources.Tables.load(spark, sf001, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk")).distinct()
    val edges = li.toDF("ok", "src").join(li.toDF("ok", "dst"), "ok")
      .where(col("src") =!= col("dst")).select("src", "dst")
    // The per-sweep lineage cut leaves the final plan a scan of the cut
    // blocks: the sweeps' joins are in the plans the cuts executed.
    val (last, cuts) = executedPlans(
      graft.operators.Graph.pageRankInt(edges, "src", "dst", 2))
    val p = (last +: cuts).mkString("\n")
    assert(!p.contains("CartesianProduct"), "no cartesian joins in the sweep")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the 1-row (n_nodes, base_fp) table must broadcast")
    assert(p.contains("HashAggregate"), "inflow aggregation is hash-based")
  }

  test("skyline: windows partition by bucket, full table never in one partition") {
    val df = graft.queries.FrontierQueries
      .queries("skyline_pareto")(spark, sf001)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "frontier test must not enumerate the pair space")
    // The only SinglePartition exchange allowed is the one feeding the
    // TINY per-bucket-max window (and the final presentation sort);
    // the data-sized windows hash-partition by bucket / cost.
    assert(p.contains("hashpartitioning"),
      "within-bucket windows must hash-distribute")
    assert(p.contains("BroadcastExchange"),
      "the per-bucket prefix-max table must broadcast back")
  }

  test("prefix-truncation dedup: equality hash join on the 32-char key") {
    val df = graft.queries.FrontierQueries
      .queries("dedup_prefix_trunc")(spark, sf001)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "candidate generation must be the k32 equality join, not all-pairs")
    assert(p.contains("HashJoin"), "k32 join should be hash-based")
  }

  test("q46: EXISTS decorrelates to a left-semi hash join") {
    val df = graft.queries.ClassicQueries
      .queries("q46_late_order_priority")(spark, sf001)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("LeftSemi"), "orders must semi-join, never duplicate")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q47: brand part list broadcasts; stats join stays hash") {
    val df = graft.queries.ClassicQueries
      .queries("q47_small_qty_revenue")(spark, sf001)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastHashJoin"),
      "the filtered brand part list must broadcast onto the lineitem scan")
    assert(!p.contains("CartesianProduct"))
  }

  test("pca power sweep: component table broadcasts, no cartesian on data") {
    // Checked on the plans the per-sweep cuts executed, as in the
    // pagerank test.
    val (last, cuts) = executedPlans(graft.operators.Pca.dominantComponent(
      graft.sources.Tables.load(spark, sf001, "embeddings"),
      "vec_id", "embedding", dim = 64, iterations = 2))
    val p = (last +: cuts).mkString("\n")
    assert(p.contains("BroadcastExchange"),
      "the d-row component table must broadcast into each sweep")
    assert(!p.contains("CartesianProduct"),
      "only the 1-row renorm may cross-join (BNLJ), never the data side")
    assert(p.contains("HashAggregate"), "dot/sum aggregations are hash-based")
  }

  test("skip-gram pairs: doc-keyed join with the window band as residual") {
    val df = graft.queries.FrontierQueries
      .queries("sample_skipgram_negatives")(spark, sf001)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct"),
      "pair generation must join on doc_id, not enumerate token products")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      "the window self-join must key on doc_id")
    assert(p.contains("TakeOrderedAndProject"),
      "the top-100 cut must be a bounded global top-k, not a full sort")
  }

  test("html_extract: one codegen'd projection chain, no UDF, no join") {
    val df = graft.queries.ExtensionQueries
      .queries("html_extract")(spark, sf001)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
      "strip chain must stay codegen'd regexp_replace, not a UDF")
    assert(!p.contains("Join"), "no join belongs in a narrow strip chain")
    // exactly the scan's exchange work: the final presentation orderBy
    // plus the rebalance round-robin — no aggregation shuffles
    assert(!p.contains("HashAggregate"), "no aggregation belongs here")
  }

  test("rfm/abc/skipgram: global windows only over per-bucket frames") {
    // The r04 verdict's three scale-killers: each used a single-
    // partition window (ntile / cumulative sum / vocab rank) over an
    // unbounded dimension. After the Ranks decomposition, the ONLY
    // empty-partition WindowExec allowed in these plans is the tiny
    // per-bucket prefix window — recognizable because it orders on a
    // `__graft_rk_b*` bucket column (input ≤ #buckets rows by
    // construction) — and each plan must also contain the
    // hash-distributed within-bucket window.
    import org.apache.spark.sql.execution.window.WindowExec
    for ((reg, name) <- Seq(
        (graft.queries.FrontierQueries.queries, "customer_rfm"),
        (graft.queries.FrontierQueries.queries, "orders_abc_analysis"),
        (graft.queries.FrontierQueries.queries,
          "sample_skipgram_negatives"))) {
      val df = reg(name)(spark, sf001)
      val wins = df.queryExecution.sparkPlan.collect {
        case w: WindowExec => w
      }
      val global = wins.filter(_.partitionSpec.isEmpty)
      // At least the hash-distributed within-bucket window must exist;
      // a fully-partitioned plan (e.g. customer_rfm's stacked ranks,
      // whose offset window partitions by metric id) may have NO
      // unpartitioned window at all — even better.
      assert(wins.exists(_.partitionSpec.nonEmpty),
        s"$name: expected a hash-distributed within-bucket window")
      global.foreach { w =>
        val ordCols = w.orderSpec.flatMap(_.child.references.map(_.name))
        assert(ordCols.forall(_.startsWith("__graft_rk_b")),
          s"$name: unpartitioned window over non-bucket frame " +
            s"(order: ${ordCols.mkString(",")}) — single-task at scale")
      }
    }
  }

  test("row hash stays inside whole-stage codegen") {
    // AQE's pre-execution explain omits codegen markers; check the
    // non-adaptive executed plan, where a codegen'd Project prints as
    // "*(n) Project".
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = ParityQueries.queries("q5_row_hash")(spark, sf001)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("graft_row_hash"), "custom hash expression not in plan")
      val projLine = p.linesIterator.find(_.contains("graft_row_hash")).get
      assert(projLine.contains("*("), s"hash Project not codegen'd:\n$projLine")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
