package graft

import org.apache.spark.sql.functions._
import graft.operators.{Graph, Skyline}

/** Round-4 frontier operators: skyline correctness vs the quadratic
  * definition, bucket-width invariance, LPA community semantics, and
  * personalized-PageRank seed locality.
  */
class FrontierOpsSpec extends SparkSpec {
  import spark.implicits._

  // Deterministic pseudo-random points (LCG) — no Math.random in tests.
  private val pts: Seq[(Long, Long, Long)] = {
    var s = 12345L
    def next(): Long = { s = (s * 6364136223846793005L + 1442695040888963407L); (s >>> 40) % 1000 }
    (1L to 200L).map(i => (i, next(), next()))
  }

  private def bruteFrontier(ps: Seq[(Long, Long, Long)]): Set[Long] =
    ps.filter { case (_, c, g) =>
      !ps.exists { case (_, c2, g2) =>
        c2 <= c && g2 >= g && (c2 < c || g2 > g) }
    }.map(_._1).toSet

  test("skyline matches the quadratic NOT-EXISTS definition") {
    val df = pts.toDF("id", "cost", "gain")
    val got = Skyline.frontier2d(df, "cost", "gain", bucketWidth = 100L)
      .where(col("is_frontier")).select("id").as[Long].collect().toSet
    assert(got == bruteFrontier(pts))
  }

  test("skyline is bucket-width invariant") {
    val df = pts.toDF("id", "cost", "gain")
    val widths = Seq(1L, 7L, 100L, 1000000L)
    val results = widths.map { w =>
      Skyline.frontier2d(df, "cost", "gain", w)
        .where(col("is_frontier")).select("id").as[Long].collect().toSet
    }
    assert(results.distinct.size == 1)
  }

  test("skyline keeps exact duplicates of a frontier point") {
    val df = Seq((1L, 10L, 5L), (2L, 10L, 5L), (3L, 20L, 4L))
      .toDF("id", "cost", "gain")
    val got = Skyline.frontier2d(df, "cost", "gain", 10L)
      .where(col("is_frontier")).select("id").as[Long].collect().toSet
    // duplicates don't dominate each other; (20,4) is dominated by (10,5)
    assert(got == Set(1L, 2L))
  }

  test("label propagation separates two bridged triangles") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
        (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
      .toDF("src", "dst")
    val labels = Graph.labelPropagation(edges, "src", "dst", rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L).map(labels).distinct == Seq(1L))
    assert(Seq(4L, 5L, 6L).map(labels).distinct == Seq(4L))
  }

  test("personalized PageRank: mass stays near the seed side") {
    // Two disconnected 2-cycles; seed only in the first.
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 4L), (4L, 3L))
      .toDF("src", "dst")
    val seeds = Seq(1L).toDF("s")
    val ranks = Graph.personalizedPageRankInt(edges, "src", "dst",
        seeds, "s", iterations = 3)
      .as[(Long, Long)].collect().toMap
    assert(ranks(1L) > 0 && ranks(2L) > 0)
    // the unseeded component receives zero teleport and zero inflow
    assert(ranks(3L) == 0L && ranks(4L) == 0L)
    // nearly all walk mass stays in the seeded component (damping only)
    assert(ranks(1L) + ranks(2L) > 900000000000L)
  }

  test("power iteration finds the dominant axis of an anisotropic cloud") {
    // Vectors hugging the x-axis with small y jitter: the dominant
    // component must be ~(±2^20, small) — x dominates y by far.
    val vecs = (1 to 40).map { i =>
      (i.toLong, Array((if (i % 2 == 0) 10.0f else -10.0f) *
        (1f + (i % 5) / 10f), (i % 3 - 1).toFloat * 0.1f))
    }
    val df = spark.createDataFrame(vecs).toDF("id", "vec")
    val w = graft.operators.Pca.dominantComponent(df, "id", "vec",
        dim = 2, iterations = 3)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(math.abs(w(0)) == 1048576L, s"x component should saturate: $w")
    assert(math.abs(w(1)) < 1048576L / 10, s"y component should be small: $w")
  }

  test("pca projection is the fixed-point dot with the component") {
    val vecs = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(-1.0f, 0.0f)),
      (3L, Array(0.5f, 0.0f)))
    val df = spark.createDataFrame(vecs).toDF("id", "vec")
    val proj = graft.operators.Pca.projectDominant(df, "id", "vec",
        dim = 2, iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // component is (±2^20, 0); projections keep the input ratios
    assert(math.abs(proj(1L)) == 1048576L)
    assert(proj(2L) == -proj(1L))
    assert(math.abs(proj(3L) * 2 - proj(1L)) <= 2) // rounding slack
  }

  test("link prediction ranks the shared-neighbor pair first and skips edges") {
    // Star: 1-2, 1-3, 1-4 plus edge 2-3. Non-adjacent candidates with
    // common neighbors: (2,4) and (3,4) via node 1 (1 common each);
    // (2,3) is adjacent and must not appear.
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L))
      .toDF("src", "dst")
    val got = graft.operators.Graph.linkPrediction(edges, "src", "dst", 10)
      .select("a", "c").as[(Long, Long)].collect().toSet
    assert(got.contains((2L, 4L)) && got.contains((3L, 4L)))
    assert(!got.contains((2L, 3L)), "existing edges must be excluded")
  }

  test("k-center greedy picks the extremes before the crowd") {
    // Points on a line: a dense cluster near 0 and two far loners.
    // Seed = lowest id (in the cluster); picks 2 and 3 must be the
    // loners (farthest-first), before any second cluster point.
    val pts = Seq((1L, Array(0.0f, 0f)), (2L, Array(0.1f, 0f)),
      (3L, Array(0.2f, 0f)), (4L, Array(100.0f, 0f)),
      (5L, Array(-100.0f, 0f)))
    val df = spark.createDataFrame(pts).toDF("id", "vec")
    val picks = graft.operators.Coreset.kCenters(df, "id", "vec", k = 3)
      .orderBy("rank").select("id").as[Long].collect().toSeq
    assert(picks.head == 1L)
    assert(picks.tail.toSet == Set(4L, 5L))
  }
}
