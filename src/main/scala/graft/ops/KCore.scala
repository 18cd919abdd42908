package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

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
  * the executed round count for the replay oracle; the fixed-horizon
  * [[peel]] remains for callers that want PageRank's `iters`-style
  * bounded semantics.
  *
  * Scale shape (100 TB graph): the edge list is repartitioned by `src`
  * once and persisted; each round joins the vertex-sized survivor set
  * onto both endpoints (semi-joins — no payload) and re-aggregates
  * degrees with map-side combine. Per-round shuffles are vertex-sized;
  * edges never reshuffle. O(peel depth) rounds, each strictly shrinking
  * the survivor set.
  */
object KCore {

  /** Survivors of `rounds` synchronous k-core peels over symmetrized
    * `edges` (cols src, dst, both directions), with their in-core
    * degree. The survivor set is consumed TWICE per round (one
    * membership check per endpoint); the RDD loop below makes that safe
    * without per-round plan surgery — RDD lineage is a DAG (a
    * twice-referenced shuffle output is one map stage, reused), unlike
    * a lazy Catalyst chain, which doubles the ANALYZED PLAN per round
    * until the driver OOMs on tree-walks (the pre-r17 shape needed an
    * eager localCheckpoint per round for exactly that reason). */
  def peel(edges: DataFrame, k: Int, rounds: Int): DataFrame =
    run(edges, k, rounds, stopOnFixpoint = false)._1

  /** Convergence-driven peeling: peel until a round removes NO vertex,
    * up to the `maxRounds` safety cap. Returns the true k-core plus the
    * number of rounds actually executed — the count the round-replay
    * oracle must use to reproduce the result bit-for-bit.
    *
    * Detection is exact and costs one cheap count per round (on the
    * round's already-checkpointed survivor frame): survivor sets only
    * ever SHRINK (peeling deletes, never restores), so an unchanged
    * count implies an unchanged set, and an unchanged set means every
    * surviving degree is already >= k — the fixpoint. A corpus whose
    * peel depth exceeds any fixed horizon converges here regardless. */
  def peelConverged(edges: DataFrame, k: Int,
                    maxRounds: Int = 100): (DataFrame, Int) =
    run(edges, k, maxRounds, stopOnFixpoint = true)

  /** SUBSTRATE (r17, guide §2.4): the peel rounds run as an RDD loop
    * against one shared HashPartitioner — the same swap
    * [[PageRank]]/[[Components]]/[[Lpa]]/[[Bfs]] carry. The previous
    * shape localCheckpointed a Catalyst frame per round (required: the
    * survivor frame is referenced twice per round), paying per-round
    * plan analysis, AQE-staged materialization, and the checkpoint copy;
    * here each round is one narrow src-side membership join, one
    * dst-keyed re-shuffle of the surviving edges, and one map-side-
    * combined degree shuffle, inside jobs that reuse every earlier
    * round's shuffle files. Data moved per round is the same as before
    * (the dst-side membership check always re-shuffled the surviving
    * edge list); what disappears is the per-round planning/checkpoint
    * orchestration.
    *
    * EQUIVALENCE (bit-exact, pinned by KCoreSpec and by
    * R17GraphLoopEquivSpec against the inlined pre-r17 recurrence on
    * random graphs): same initial survivor set (distinct srcs), per round the
    * same restrict-to-surviving-endpoints / re-degree / threshold
    * recurrence on exact counts, and the same stop-on-unchanged-count
    * detection (survivor sets only shrink, so an unchanged count is an
    * unchanged set) — the executed-round count the replay oracle
    * consumes cannot drift. */
  private def run(edges: DataFrame, k: Int, rounds: Int,
                  stopOnFixpoint: Boolean): (DataFrame, Int) = {
    require(k >= 1 && rounds >= 1, s"k=$k rounds=$rounds must be >= 1")
    val spark = edges.sparkSession
    import spark.implicits._
    val raw = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val edgeCount = raw.count()
    val sessionParts =
      spark.conf.get("spark.sql.shuffle.partitions").toInt
    // ~64k edges per partition, capped at the session setting (the
    // Components sizing rule)
    val nParts = math.max(1L,
      math.min(sessionParts.toLong, edgeCount / 65536 + 1)).toInt
    val part = new org.apache.spark.HashPartitioner(nParts)
    // the one-time edge shuffle; each round's src-side membership join
    // is narrow against it
    val e = raw.partitionBy(part)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    e.count() // materialize from raw's cache before dropping it
    raw.unpersist()
    // per-survivor-set degree table of the restricted subgraph: keep an
    // edge iff BOTH endpoints survive, then count per src. The dst-side
    // check re-keys the surviving edges by dst (the round's edge-sized
    // shuffle — exactly what the old dst-side semi-join paid), the
    // degree count combines map-side back down to vertex size.
    def degrees(act: org.apache.spark.rdd.RDD[(Long, Int)]) =
      e.join(act) // narrow: e and act share `part`
        .map { case (src, (dst, _)) => (dst, src) }
        .partitionBy(part)
        .join(act) // narrow after the re-key
        .map { case (dst, (src, _)) => (src, 1L) }
        .reduceByKey(part, _ + _)
    var active: org.apache.spark.rdd.RDD[(Long, Int)] =
      e.keys.distinct(nParts).map((_, 1)).partitionBy(part)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var prevCount = if (stopOnFixpoint) active.count() else -1L
    var executed = 0
    var converged = false
    while (executed < rounds && !converged) {
      val next = degrees(active)
        .filter(_._2 >= k).mapValues(_ => 1)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      executed += 1
      if (stopOnFixpoint) {
        // materializes the round AND measures convergence: survivor
        // sets only shrink, so an unchanged count is an unchanged set
        val c = next.count()
        converged = c == prevCount
        prevCount = c
      }
      active.unpersist()
      active = next
    }
    (degrees(active).toDF("id", "core_degree"), executed)
  }

  /** The DuckDB replay: the same `rounds` restrict/re-degree/threshold
    * CTE rounds over the caller's symmetrized `edgesSql`. Kept next to
    * the Spark loop so the two derivations can only drift on purpose.
    * Every CTE is AS MATERIALIZED: each round references the previous
    * survivor set TWICE (one join per endpoint) and the edge table once,
    * so DuckDB's default inlining re-expands the whole chain 2^rounds
    * times — the Bpe-oracle blowup shape, and the SQL mirror of the
    * analyzed-plan doubling a lazy Catalyst loop would hit (see [[peel]];
    * the RDD loop's lineage is a DAG and needs no per-round cut). */
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
