package graft

import graft.ops.KCore
import org.apache.spark.sql.functions._

/** ops.KCore invariants complementing the round-replay DuckDB oracle. */
class KCoreSpec extends SparkSpec {

  private def sym(pairs: Seq[(Long, Long)]) = {
    import spark.implicits._
    (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")
  }

  test("planted K5 + pendant path: the 4-core is exactly the K5") {
    // K5 on {1..5} (every vertex degree 4) with a path 5-10-11 hanging
    // off: peeling at k=4 removes 11 (deg 1), then 10 (deg 1 after), and
    // the K5 survives with every in-core degree still 4 (the pendant
    // never counted toward K5-internal degrees).
    val k5 = for (a <- 1L to 5L; b <- 1L to 5L if a < b) yield (a, b)
    val edges = sym(k5 ++ Seq((5L, 10L), (10L, 11L)))
    val out = KCore.peelConverged(edges, k = 4, maxRounds = 4)._1.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 4L, 2L -> 4L, 3L -> 4L, 4L -> 4L, 5L -> 4L),
      out.toString)
  }

  test("cascade: a chain of marginal vertices peels one per round, not at once") {
    // path 1-2-3-4 plus a triangle {4,5,6}: at k=2 the path unravels from
    // the free end one vertex per synchronous round (1 first, then 2,
    // then 3), leaving the triangle — exercising why the round horizon
    // matters and that intermediate rounds use the SURVIVING subgraph's
    // degrees, not the original ones.
    val edges = sym(Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (4L, 5L), (5L, 6L), (4L, 6L)))
    val afterTwo = KCore.peelConverged(edges, k = 2, maxRounds = 2)._1.collect()
      .map(_.getLong(0)).toSet
    assert(afterTwo == Set(3L, 4L, 5L, 6L), s"round 2: $afterTwo")
    val fixed = KCore.peelConverged(edges, k = 2, maxRounds = 3)._1.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fixed == Map(4L -> 2L, 5L -> 2L, 6L -> 2L), fixed.toString)
  }

  test("convergence-driven: a peel cascade DEEPER than the legacy horizon still resolves exactly") {
    // path 0-1-...-12 feeding a triangle {12,13,14}: at k=2 the path
    // unravels ONE vertex per synchronous round from the free end — 12
    // peel rounds, deeper than the legacy 8-round horizon, under which
    // phantom path vertices survive (the silent-under-iteration hazard).
    // peelConverged must keep peeling until nothing is removed, leaving
    // exactly the triangle.
    val edges = sym((0L until 12L).map(i => (i, i + 1)) ++
      Seq((12L, 13L), (13L, 14L), (12L, 14L)))
    val truncated = KCore.peelConverged(edges, k = 2, maxRounds = 8)._1.collect()
      .map(_.getLong(0)).toSet
    assert(truncated.size > 3, "fixture degenerate: 8 rounds already reach the fixpoint")
    val (df, rounds) = KCore.peelConverged(edges, k = 2)
    val out = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(12L -> 2L, 13L -> 2L, 14L -> 2L), out.toString)
    // 12 removal rounds + the final no-change round that proves the fixpoint
    assert(rounds == 13, s"executed rounds: $rounds")
    // the recorded count replays bit-identically through the fixed-round shape
    val replay = KCore.peelConverged(edges, k = 2, maxRounds = rounds)._1
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(replay == out)
  }

  test("the catalog query's 8-round horizon reaches the fixpoint at sf0.001 and sf0.01") {
    // q_graph_kcore peels to convergence and its oracle replays the
    // recorded round count; this pins the peel operator at a fixed 8-round
    // horizon: 8 rounds IS the fixpoint on the catalog corpus (one more
    // round changes nothing) and leaves the true 2-core
    // (measured peel depths: 2 at sf0.001, 4 at sf0.01, 6 at sf0.1).
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val pairs = graft.ops.Triangles.coPairs(
          graft.queries.tbl(spark, dir, "lineitem")
            .select("l_orderkey", "l_partkey"),
          "l_orderkey", "l_partkey", maxBasket = 64)
        .filter(col("w") >= 2).select("src", "dst")
      val symEdges = pairs.unionByName(
        pairs.select(col("dst").as("src"), col("src").as("dst")))
        .persist()
      val r8 = KCore.peelConverged(symEdges, k = 2, maxRounds = 8)._1.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val r9 = KCore.peelConverged(symEdges, k = 2, maxRounds = 9)._1.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      symEdges.unpersist()
      assert(r8 == r9, s"$dir: 8 rounds not a fixpoint (|r8|=${r8.size}, |r9|=${r9.size})")
      assert(r8.nonEmpty, s"$dir: empty 2-core — degenerate fixture")
      // every survivor's in-core degree honors the k threshold
      assert(r8.forall(_._2 >= 2), "survivor below k")
    }
  }
}
