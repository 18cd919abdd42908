package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame

/** k-core decomposition by synchronous peeling (Seidman 1983; the
  * Batagelj-Zaversnik distributed formulation): repeatedly delete every
  * vertex whose degree IN THE SURVIVING SUBGRAPH is below k — the
  * fixpoint is the maximal subgraph where every vertex keeps >= k
  * neighbors, the standard "dense backbone" extraction (spam-farm and
  * community-nucleus detection on web/co-occurrence graphs).
  *
  * Determinism: peeling is CONFLUENT — the fixpoint is unique regardless
  * of deletion order (deleting a vertex never raises another's degree),
  * so unlike LPA no tie-break pinning is needed; synchronous rounds are
  * chosen because each round is one join + one aggregation.
  * [[peelConverged]] iterates to the fixpoint with exact
  * stop-on-no-removal detection (one cheap count per round) and reports
  * the executed round count for the replay oracle.
  *
  * Scale shape (100 TB graph): a [[VertexLoop]] over the edge list; each
  * round joins the vertex-sized survivor set onto both endpoints
  * (semi-joins — no payload) and re-aggregates degrees with map-side
  * combine. O(peel depth) rounds, each strictly shrinking the survivor
  * set.
  */
object KCore {

  /** Convergence-driven peeling over symmetrized `edges` (cols src, dst,
    * both directions): peel until a round removes NO vertex, up to the
    * `maxRounds` safety cap. Returns the survivors with their in-core
    * degree (id, core_degree) plus the number of rounds actually
    * executed — the count the round-replay oracle must use to reproduce
    * the result bit-for-bit. A cap below the peel depth yields the
    * survivors of exactly `maxRounds` peels.
    *
    * Detection is exact: survivor sets only ever SHRINK (peeling
    * deletes, never restores), so an unchanged count implies an unchanged
    * set, and an unchanged set means every surviving degree is already
    * >= k — the fixpoint. A corpus whose peel depth exceeds any fixed
    * horizon converges here regardless.
    *
    * EQUIVALENCE (bit-exact, pinned by KCoreSpec and by
    * R17GraphLoopEquivSpec against the inlined DataFrame recurrence on
    * random graphs): same initial survivor set (distinct srcs), per round
    * the same restrict-to-surviving-endpoints / re-degree / threshold
    * recurrence on exact counts. The returned frame's degree join reads
    * the edge cache lazily, so the edges stay persisted. */
  def peelConverged(edges: DataFrame, k: Int,
                    maxRounds: Int = 100): (DataFrame, Int) = {
    require(k >= 1 && maxRounds >= 1,
      s"k=$k maxRounds=$maxRounds must be >= 1")
    val spark = edges.sparkSession
    import spark.implicits._
    val g = VertexLoop(edges)
    // per-survivor-set degree table of the restricted subgraph: keep an
    // edge iff BOTH endpoints survive, then count per src. The src-side
    // check is narrow; the dst-side check re-keys the surviving edges by
    // dst (the round's edge-sized shuffle), and the degree count combines
    // map-side back down to vertex size.
    def degrees(act: RDD[(Long, Int)]) =
      g.edges.join(act)
        .map { case (src, (dst, _)) => (dst, src) }
        .partitionBy(g.part)
        .join(act) // narrow after the re-key
        .map { case (_, (src, _)) => (src, 1L) }
        .reduceByKey(g.part, _ + _)
    val (core, rounds) = VertexLoop.untilStable(
        g.vertices.map((_, 1)).partitionBy(g.part), maxRounds) { act =>
      degrees(act).filter(_._2 >= k).mapValues(_ => 1)
    }
    (degrees(core).toDF("id", "core_degree"), rounds)
  }

  /** The DuckDB replay: the same `rounds` restrict/re-degree/threshold
    * CTE rounds over the caller's symmetrized `edgesSql`. Kept next to
    * the Spark loop so the two derivations can only drift on purpose.
    * Every CTE is AS MATERIALIZED: each round references the previous
    * survivor set TWICE (one join per endpoint) and the edge table once,
    * so DuckDB's default inlining re-expands the whole chain 2^rounds
    * times — the Bpe-oracle blowup shape, and the SQL mirror of the
    * analyzed-plan doubling a lazy Catalyst loop would hit (see
    * [[VertexLoop]]; the RDD loop's lineage is a DAG and needs no
    * per-round cut). */
  def oracleSql(edgesSql: String, k: Int, rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""a$r AS MATERIALIZED (SELECT e.src AS id FROM edges e
           JOIN a${r - 1} x ON e.src = x.id
           JOIN a${r - 1} y ON e.dst = y.id
           GROUP BY e.src HAVING count(*) >= $k)"""
    }.mkString(",\n         ")
    s"""WITH edges AS MATERIALIZED ($edgesSql),
         a0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges),
         $roundCtes
         SELECT e.src AS id, count(*) AS core_degree
         FROM edges e
         JOIN a$rounds x ON e.src = x.id
         JOIN a$rounds y ON e.dst = y.id
         GROUP BY e.src ORDER BY id"""
  }
}
