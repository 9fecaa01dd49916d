package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Dominant principal direction of an embedding column by fixed-point
  * power iteration — the "which way does this corpus mostly point"
  * statistic behind whitening, anisotropy diagnostics (sentence
  * embeddings are notoriously anisotropic; the top component's share
  * tells you how badly), and cheap 1-D ordering of vectors.
  *
  * Power iteration on the UNCENTERED second-moment matrix A = Σ vᵢvᵢᵀ:
  * `w ← A·w = Σᵢ vᵢ·(vᵢ·w)`, renormalized each sweep. Everything runs
  * in 64-bit fixed point so the distributed result is bit-identical
  * under any partitioning and an external SQL oracle replays it:
  *
  *  - components quantize once to 2²⁰ scale (`round(v·2²⁰)`),
  *  - per-vector dots `vᵢ·w` (≈2⁴⁶ raw) scale back by 2²⁶,
  *  - per-dimension sums renormalize to 2²⁰ via division by
  *    `max|s| div 2²⁰` (dividing by the scaled max rather than
  *    multiplying first keeps every intermediate under 2⁶³).
  *
  * Division must be PORTABLE on negatives: Spark's `div` truncates
  * toward zero while DuckDB's `//` floors, so every fixed-point
  * rescale goes through [[Pca.tdivSql]] — sign·(|x| div k), rendered
  * with `div` here and `//` in the oracle — which both engines
  * compute identically.
  *
  * Scale shape per sweep: one hash join + aggregation keyed on the
  * vector id (the dot products) and one keyed on the dimension index
  * (the d-row sums, map-side combined), plus a 1-row broadcast renorm —
  * the same iteration skeleton as [[Graph.pageRankInt]], with the
  * d-dimensional state always tiny. Each sweep ends in a lazy lineage
  * cut through [[Tables.cutLineage]], the engine's one cut policy.
  */
object Pca {

  /** Truncation-toward-zero division `sign(x)·(|x| div k)` (k > 0) as
    * a SQL fragment — identical in Spark and, with `divOp = "//"`, in
    * DuckDB, unlike bare `div` vs `//` which disagree on negatives.
    */
  def tdivSql(x: String, k: String, divOp: String = "div"): String =
    s"(CASE WHEN $x >= 0 THEN abs($x) $divOp $k " +
      s"ELSE -(abs($x) $divOp $k) END)"

  /** The dominant component after `iterations` power sweeps, as
    * (pos, w_fp) at 2²⁰ fixed-point scale, starting from the all-ones
    * vector (deterministic sign convention).
    *
    * Operating bound — the per-dimension sum `s_d = Σ_i u_id·c_i`
    * grows LINEARLY with the corpus: each term is ≤ |v|²·2⁴⁰ (u and c
    * both at 2²⁰ scale), so exactness requires
    * `n · max|v|² · 2⁴⁰ < 2⁶³`, i.e. ≈ 8.3M vectors for unit-normalized
    * embeddings (|v| ≤ 1). Beyond that the long sum overflows — Spark
    * wraps silently in non-ANSI mode while the SQL oracle errors — so
    * past the bound shard the corpus (the component of a uniform
    * shard estimates the full-corpus component; power iteration only
    * needs the Gram matrix direction, which concentrates) or widen the
    * accumulator to decimal at ~3× aggregation cost.
    *
    * @param df  table with `idCol` and an array<float> `vecCol`
    * @param dim the (fixed, known) embedding dimensionality
    */
  def dominantComponent(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, iterations: Int = 2): DataFrame = {
    require(dim >= 1 && iterations >= 1)
    val spark = df.sparkSession
    val scale = 1048576L // 2^20
    // (id, pos, u): one narrow generate — fixed-point components.
    val u = df.select(col(idCol).as("id"),
        posexplode(col(vecCol)).as(Seq("pos", "v")))
      .select(col("id"), col("pos"),
        round(col("v").cast("double") * scale).cast("long").as("u"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var w: DataFrame = spark.range(dim.toLong)
      .select(col("id").cast("int").as("pos"), lit(scale).as("w"))
    for (_ <- 1 to iterations) {
      // c_i = tdiv(u_i · w, 2^26) — one join+agg keyed on the vector id.
      val dots = u.join(broadcast(w), Seq("pos"))
        .groupBy("id").agg(sum(col("u") * col("w")).as("raw"))
        .select(col("id"), expr(tdivSql("raw", "67108864")).as("c"))
      // s_d = Σ_i u_id · c_i — one join+agg keyed on the dimension.
      val s = u.join(dots, Seq("id"))
        .groupBy("pos").agg(sum(col("u") * col("c")).as("s"))
      // Renormalize to 2^20 by the scaled max-abs (1-row broadcast).
      val mx = broadcast(s.agg(max(abs(col("s"))).as("mx"))
        .select(expr(s"greatest(mx div ${scale}L, 1L)").as("mxs")))
      val swept = s.crossJoin(mx)
        .select(col("pos"), expr(tdivSql("s", "mxs")).as("w"))
      w = Tables.cutLineage(swept)
    }
    w.select(col("pos"), col("w").as("w_fp"))
  }

  /** Each vector's projection onto the dominant component, at 2²⁰
    * scale: (id, proj_fp) — the 1-D corpus ordering / outlier score.
    */
  def projectDominant(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, iterations: Int = 2): DataFrame = {
    val wTbl = dominantComponent(df, idCol, vecCol, dim, iterations)
    val scale = 1048576L
    df.select(col(idCol).as("id"),
        posexplode(col(vecCol)).as(Seq("pos", "v")))
      .select(col("id"), col("pos"),
        round(col("v").cast("double") * scale).cast("long").as("u"))
      .join(broadcast(wTbl), Seq("pos"))
      .groupBy("id").agg(sum(col("u") * col("w_fp")).as("raw"))
      .select(col("id"), expr(tdivSql("raw", s"${scale}L")).as("proj_fp"))
  }
}
