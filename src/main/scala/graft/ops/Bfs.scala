package graft.ops

import org.apache.spark.sql.DataFrame

/** Multi-source BFS hop distances (synchronous Bellman-Ford over unit
  * weights — the Pregel SSSP shape): every vertex reachable from the
  * seed set gets its minimum hop count. The graph-locality complement of
  * [[Components]] (which answers "same island?") and [[KCore]] ("dense
  * nucleus?"): hop distance answers "how far from the trusted seed set?"
  * — the shape of seed-based trust/contamination propagation over a
  * similarity or citation graph in corpus curation.
  *
  * Determinism: min-distance relaxation is confluent like k-core peeling
  * (relaxing never raises a distance), so the fixpoint is unique and no
  * tie-break is needed. [[distancesConverged]] iterates to that fixpoint
  * with exact stop-on-empty-frontier detection (one cheap count per
  * round) and reports the executed round count for the replay oracle.
  *
  * Scale shape: a [[VertexLoop]] over the edge list; each round is one
  * narrow join of the vertex-sized distance table against the edge
  * layout plus one min-combine aggregation (map-side partials), shuffling
  * reached-vertex rows only. O(diameter) rounds.
  */
object Bfs {

  /** Convergence-driven BFS over symmetrized `edges` (cols src, dst) from
    * the seed vertices selected by `seed` (a predicate over the vertex id
    * column `id`): relax until a round reaches NO new vertex, up to the
    * `maxRounds` safety cap. Returns (id, dist) for REACHED vertices only,
    * plus the number of rounds actually executed — the count the
    * round-replay oracle must use to reproduce the result bit-for-bit.
    * A cap below the fixpoint depth yields the distances after exactly
    * `maxRounds` relaxations.
    *
    * Detection is exact: in unit-weight synchronous BFS a vertex's
    * distance is final the first round it is reached (the first reaching
    * round IS its minimum hop), so the reached set only ever GROWS and an
    * unchanged count implies an unchanged table — no deep corpus can
    * silently under-iterate the way a fixed horizon can.
    *
    * EQUIVALENCE (bit-exact, pinned by BfsSpec and by
    * R17GraphLoopEquivSpec against the inlined DataFrame recurrence on
    * random graphs): same seed set (distinct srcs passing `seed`, d=0),
    * per round the same carry-over-union / relax / min-combine recurrence
    * on exact ints (min is order-invariant). The returned table is
    * materialized; the edge cache is released before returning. */
  def distancesConverged(edges: DataFrame, seed: org.apache.spark.sql.Column,
                         maxRounds: Int = 100): (DataFrame, Int) = {
    require(maxRounds >= 1, s"maxRounds must be >= 1: $maxRounds")
    val spark = edges.sparkSession
    import spark.implicits._
    val g = VertexLoop(edges)
    // the `seed` predicate is a Catalyst Column over the vertex id, so
    // evaluate it through one vertex-sized DF hop
    val seeds = g.vertices.toDF("id").filter(seed)
      .as[Long].rdd.map((_, 0)).partitionBy(g.part)
    val (dist, rounds) = VertexLoop.untilStable(seeds, maxRounds) { d =>
      // narrow: edges and d share `part`; the min-combine is the round's
      // one (vertex-sized, map-side-combined) shuffle
      val relax = g.edges.join(d).map { case (_, (dst, x)) => (dst, x + 1) }
      d.union(relax).reduceByKey(g.part, math.min(_: Int, _: Int))
    }
    g.edges.unpersist()
    (dist.toDF("id", "dist"), rounds)
  }

  /** The DuckDB replay: the same `rounds` carry-over-union/relax/min CTE
    * rounds, every CTE MATERIALIZED (each round references the previous
    * distance table twice — DuckDB's default inlining re-expands the
    * chain 2^rounds times, the KCore/Bpe blowup shape). `seedSql` is a
    * predicate over column `src` of the edge table. */
  def oracleSql(edgesSql: String, seedSql: String, rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""d$r AS MATERIALIZED (SELECT id, min(d) AS d FROM (
           SELECT id, d FROM d${r - 1}
           UNION ALL
           SELECT e.dst AS id, x.d + 1 AS d
           FROM edges e JOIN d${r - 1} x ON e.src = x.id) u
         GROUP BY id)"""
    }.mkString(",\n         ")
    s"""WITH edges AS MATERIALIZED ($edgesSql),
         d0 AS MATERIALIZED (
           SELECT DISTINCT src AS id, 0 AS d FROM edges WHERE $seedSql),
         $roundCtes
         SELECT id, d AS dist FROM d$rounds ORDER BY id"""
  }
}
