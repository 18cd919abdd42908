package graft

import graft.ops.Bfs
import org.apache.spark.sql.functions._

/** ops.Bfs invariants complementing the round-replay DuckDB oracle. */
class BfsSpec extends SparkSpec {

  private def sym(pairs: Seq[(Long, Long)]) = {
    import spark.implicits._
    (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")
  }

  test("planted graph: exact hop distances, min over multiple seeds, unreachable excluded") {
    // two seeds (0 and 100) on a path 0-1-2-3 plus 100-3: vertex 3 is 3
    // hops from seed 0 but only 1 from seed 100 -> min wins; the
    // disconnected pair (7,8) never appears in the output.
    val edges = sym(Seq((0L, 1L), (1L, 2L), (2L, 3L), (100L, 3L), (7L, 8L)))
    val out = Bfs.distancesConverged(edges,
        col("id") % 100 === 0, maxRounds = 5)._1
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == Map(0L -> 0, 1L -> 1, 2L -> 2, 3L -> 1, 100L -> 0),
      out.toString)
  }

  test("convergence-driven: a planted path DEEPER than the legacy horizon still resolves exactly") {
    // path 0-1-2-...-15: diameter 15 > the legacy 10-round horizon. The
    // fixed-horizon run under-iterates by construction (the round-12
    // verdict's silent-under-iteration hazard); distancesConverged must
    // keep going until the frontier empties and return every exact hop.
    val edges = sym((0L until 15L).map(i => (i, i + 1)))
    val truncated = Bfs.distancesConverged(edges,
        col("id") === 0, maxRounds = 10)._1
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(!truncated.contains(15L), "fixture degenerate: 10 rounds already reach the end")
    val (df, rounds) = Bfs.distancesConverged(edges, col("id") === 0)
    val out = df.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == (0L to 15L).map(i => i -> i.toInt).toMap, out.toString)
    // 15 reaching rounds + the final no-change round that proves the fixpoint
    assert(rounds == 16, s"executed rounds: $rounds")
    // and the recorded count replays bit-identically through the oracle shape:
    // one more fixed round changes nothing
    val replay = Bfs.distancesConverged(edges,
        col("id") === 0, maxRounds = rounds)._1
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(replay == out)
  }

  test("the catalog query's 10-round horizon reaches the fixpoint at sf0.001 and sf0.01") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val pairs = graft.ops.Triangles.coPairs(
          graft.queries.tbl(spark, dir, "lineitem")
            .select("l_orderkey", "l_partkey"),
          "l_orderkey", "l_partkey", maxBasket = 64)
        .filter(col("w") >= 2).select("src", "dst")
      val symEdges = pairs.unionByName(
        pairs.select(col("dst").as("src"), col("src").as("dst")))
        .persist()
      val r10 = Bfs.distancesConverged(symEdges,
          col("id") % 50 === 0, maxRounds = 10)._1
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      val r11 = Bfs.distancesConverged(symEdges,
          col("id") % 50 === 0, maxRounds = 11)._1
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      symEdges.unpersist()
      assert(r10 == r11,
        s"$dir: 10 rounds not a fixpoint (|r10|=${r10.size}, |r11|=${r11.size})")
      assert(r10.exists(_._2 > 0), s"$dir: degenerate — no non-seed reached")
      // triangle inequality sanity: distances are nonnegative, seeds at 0
      assert(r10.forall(_._2 >= 0))
    }
  }
}
