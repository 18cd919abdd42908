package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-point (integer-arithmetic) PageRank over an edge list.
  *
  * Iterative link analysis is the classic "needs a real engine" workload —
  * the reference has nothing like it; this is the Pregel-style iterate-
  * as-joins shape (Malewicz et al., SIGMOD'10) expressed as `iters`
  * unrolled join+aggregate rounds in ONE lazy Catalyst plan.
  *
  * WHY INTEGER RANKS: floating-point PageRank is not reproducible on a
  * cluster — `sum()` over doubles depends on partial-aggregation order,
  * which depends on partitioning, task scheduling, and executor count, so
  * the same query on the same data returns different ulps on different
  * clusters (and across reruns under AQE). Iterating compounds the drift,
  * and a per-iteration `round()` only narrows, never closes, the window
  * (a value within ulps of a rounding boundary still diverges — the exact
  * failure mode the sf1 `round6` bug demonstrated). Scaled-integer ranks
  * (1e9 "microranks") make every operation — long sums (associative and
  * commutative EXACTLY), integer division — order-invariant: the result
  * is bit-identical on 1 core or 1000 executors, and bit-identical to the
  * DuckDB oracle running the same unrolled recurrence. The quantization
  * error (1e-9 per division step) is deterministic and identical in both
  * engines — it is part of the operator's defined semantics.
  *
  * Semantics: r_0(v) = R/N; r_{k+1}(v) = (R - d)/N + (d * S_v)/R where
  * S_v = sum over in-edges (u,v) of r_k(u) div outdeg(u), R = 1e9,
  * d = 0.85e9, all divisions integer. Nodes = vertices with >= 1 edge.
  * Dangling nodes cannot occur when the caller supplies a symmetrized
  * (undirected) edge list; with a directed list their mass leaks, which
  * matches the oracle (same recurrence) by construction.
  *
  * Scale shape (100 TB graph): the edge list is repartitioned by `src`
  * ONCE and persisted — every iteration's join then shuffles only the
  * rank vector (nodes, not edges) onto that layout, and contribution
  * sums are partially aggregated map-side before the `dst` shuffle.
  * Overflow headroom: total mass is <= R (1e9), so d * S_v <= 0.85e18 <
  * Long.MaxValue (9.2e18) — no intermediate can overflow. At a trillion
  * edges this is exactly vanilla Pregel: per-iteration cost = one
  * co-partitioned join + one combiner-backed shuffle of the vertex set.
  */
object PageRank {

  private val R = 1000000000L // rank scale: 1.0 == 1e9 microranks

  /** `iters` rounds over `edges` (cols `src`, `dst`, both integral).
    * Returns (node, rank_micro) — rank_micro longs summing to ~R modulo
    * the deterministic div truncation. dampMicro is d * 1e9.
    *
    * CACHE CONTRACT: the returned plan reads two persisted frames (the
    * repartitioned edge list and the vertex frame) that stay in the
    * CacheManager until the caller clears them — `Bench` calls
    * `spark.catalog.clearCache()` per query.
    *
    * SUBSTRATE: an RDD-loop variant (the [[Components]] pattern — one
    * shared HashPartitioner, narrow per-round joins) was built and
    * measured both ways, and the unrolled Catalyst plan below is the
    * keeper. Under full materialization (noop sink, every rank computed)
    * the RDD loop is ~1.7x faster on the 1.17M-edge q_graph_pagerank
    * input (3.4-3.9 s vs 5.8-7.1 s, interleaved A/B). But the lazy
    * unrolled plan composes with whatever the CONSUMER actually needs:
    * under a counting/row-multiplicity consumer Catalyst prunes the
    * per-round rank expressions and collapses grouped-unique left joins,
    * while the RDD loop always pays the full 5-round boxed-tuple compute
    * up front (driver-side counts during construction included).
    * Full-catalog quiet-box benches measured the swap as a
    * 2.18 s -> 3.45 s regression for q_graph_pagerank, so the Catalyst
    * substrate stays; the same swap DOES pay where the loop was
    * action-per-round (Bfs, KCore, Components — per-round
    * localCheckpoint/count forces full compute either way, and the RDD
    * loop removes the per-round planning). */
  def fixedPoint(edges: DataFrame, iters: Int,
      dampMicro: Long = 850000000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    val (e, nodes) = prepare(edges, dampMicro)
    var ranks = nodes.withColumn("r", expr(s"${R}L div nn"))
    for (_ <- 1 to iters) ranks = round(ranks, e, nodes, dampMicro)
    ranks.select(col("node"), col("r").as("rank_micro"))
  }

  /** The iteration-invariant inputs of the distributed recurrence: the
    * edge list cast to long and repartitioned by `src` (persisted), and
    * the vertex frame (node, outdeg, nn) — persisted because the unrolled
    * plan consumes it at every level (iters + 1 times) and Catalyst does
    * not dedupe common subtrees; without the persist each level would
    * recompute the degree aggregate from the edge cache. Vertex-sized:
    * the safe thing to cache at any scale. */
  private def prepare(edges: DataFrame,
      dampMicro: Long): (DataFrame, DataFrame) = {
    require(dampMicro >= 0L && dampMicro <= R,
      s"dampMicro must be in [0, $R]: $dampMicro")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .repartition(col("src")).persist()
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val n1 = deg.agg(count(lit(1)).as("nn"))
    val nodes = deg.select(col("src").as("node"), col("outdeg"))
      .crossJoin(broadcast(n1))
      .persist()
    (e, nodes)
  }

  /** One round of the recurrence: (node, outdeg, nn, r) -> the same
    * columns one iteration later. */
  private def round(ranks: DataFrame, e: DataFrame, nodes: DataFrame,
      dampMicro: Long): DataFrame = {
    val contribs = ranks
      .select(col("node"), expr("r div outdeg").as("c"))
      .join(e, col("node") === col("src"))
      .groupBy("dst").agg(sum("c").as("s"))
    nodes
      .join(contribs, col("node") === col("dst"), "left")
      .select(col("node"), col("outdeg"), col("nn"),
        expr(s"(${R}L - ${dampMicro}L) div nn + " +
          s"(${dampMicro}L * coalesce(s, 0L)) div ${R}L").as("r"))
  }

  /** [[fixedPoint]] specialised for graphs whose size is bounded BY
    * CONSTRUCTION (e.g. q_text_textrank's top-K-vocabulary graph: ≤ K
    * nodes, ≤ K·(K−1) symmetrized distinct edges): collects the edge
    * list to the driver ONCE and runs the identical integer recurrence
    * there, returning the same (node, rank_micro) frame.
    *
    * WHY (round 16, guide §1/§2): the unrolled iterate-as-joins plan
    * costs 2 shuffles PER ROUND regardless of graph size — for a
    * 64-node graph that is 20 micro-shuffles of <64 rows each, pure
    * fixed scheduling/exchange overhead (measured 9.4 s of
    * q_text_textrank's 11.3 s at sf0.1; the driver loop is 4 ms). A
    * K-bounded graph is exactly the "small side" the guide says to stop
    * distributing. The distributed [[fixedPoint]] remains the path for
    * corpus-scale graphs (q_graph_pagerank).
    *
    * EQUIVALENCE: same nodes (distinct src), same outdeg (edge
    * multiplicity counted), same r0 = R div nn, same per-round
    * s(v) = Σ r(u) div outdeg(u) over in-edges and
    * r'(v) = (R−d) div nn + (d·s(v)) div R — all nonneg long arithmetic,
    * where Scala `/` ≡ Spark `div`; long sums are order-invariant, so
    * the driver loop is bit-identical to the join plan (pinned by
    * PageRankSpec against [[fixedPoint]] on random graphs).
    *
    * The collect is limit(maxEdges+1)-bounded and REFUSES an over-cap
    * graph rather than truncating it — the caller's K-bound is a
    * contract, not a hint. */
  def fixedPointLocal(edges: DataFrame, iters: Int, maxEdges: Int,
      dampMicro: Long = 850000000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    require(maxEdges >= 1, s"maxEdges must be >= 1: $maxEdges")
    require(dampMicro >= 0L && dampMicro <= R,
      s"dampMicro must be in [0, $R]: $dampMicro")
    val spark = edges.sparkSession
    // bounded collect: ≤ maxEdges+1 rows ever reach the driver
    val rows = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .limit(maxEdges + 1).collect()
    require(rows.length <= maxEdges,
      s"fixedPointLocal is for graphs bounded by construction: " +
        s"got > $maxEdges edges — use fixedPoint for corpus-scale graphs")
    val es = rows.map(r => (r.getLong(0), r.getLong(1)))
    if (es.isEmpty) {
      import spark.implicits._
      return Seq.empty[(Long, Long)].toDF("node", "rank_micro")
    }
    val nodesArr = es.map(_._1).distinct.sorted
    val idx = nodesArr.zipWithIndex.toMap
    val outdeg = new Array[Long](nodesArr.length)
    es.foreach { case (s, _) => outdeg(idx(s)) += 1L }
    val nn = nodesArr.length.toLong
    var r = Array.fill(nodesArr.length)(R / nn)
    for (_ <- 1 to iters) {
      val contrib = Array.tabulate(nodesArr.length)(i => r(i) / outdeg(i))
      val s = new Array[Long](nodesArr.length)
      es.foreach { case (u, v) =>
        // contributions to a dst that never appears as src are dropped,
        // matching the distributed nodes-LEFT-JOIN-contribs semantics
        idx.get(v) match {
          case Some(j) => s(j) += contrib(idx(u))
          case None => ()
        }
      }
      r = Array.tabulate(nodesArr.length)(i =>
        (R - dampMicro) / nn + (dampMicro * s(i)) / R)
    }
    import spark.implicits._
    nodesArr.toIndexedSeq.zipWithIndex
      .map { case (n, i) => (n, r(i)) }
      .toDF("node", "rank_micro")
  }

  /** Convergence summary of [[untilConverged]]: the final ranks (backed
    * by a checkpointed RDD — safe to consume after release), the number
    * of iterations actually run, and the last measured step delta. */
  final case class Converged(ranks: DataFrame, iters: Int, deltaMicro: Long)

  /** Iterate-to-tolerance PageRank — the production 50–100-iteration
    * shape. [[fixedPoint]] unrolls all rounds into ONE lazy plan, which
    * is the right thing for a handful of iterations but grows plan depth
    * (and Catalyst analysis time) linearly with `iters`; this variant
    * runs EAGERLY in segments of `checkpointEvery` rounds, truncating
    * lineage with `localCheckpoint` at each segment boundary, so plan
    * depth is bounded by the segment length no matter how many rounds
    * convergence takes.
    *
    * Convergence test: max over nodes of |r_k(v) - r_{k-seg}(v)| <=
    * epsMicro, evaluated at segment boundaries only (the delta aggregate
    * piggy-backs on data the checkpoint just materialized — no extra
    * pass over edges). Integer arithmetic means a true fixed point
    * (delta == 0) is reachable exactly, not just approached: epsMicro=0
    * is a valid and meaningful tolerance.
    *
    * Scale shape (100 TB graph): identical per-iteration cost to
    * [[fixedPoint]] — edges repartitioned ONCE and persisted, each round
    * shuffles only the vertex-sized rank vector — plus one vertex-sized
    * localCheckpoint write per segment. localCheckpoint (not reliable
    * checkpoint) is deliberate: it persists to executor-local
    * MEMORY_AND_DISK, no distributed-FS round trip; superseded
    * checkpoint RDDs are released by the ContextCleaner as references
    * drop. The edge/vertex caches are released before returning (the
    * result is checkpointed, so it no longer needs them). */
  def untilConverged(edges: DataFrame, epsMicro: Long, maxIters: Int = 100,
      dampMicro: Long = 850000000L, checkpointEvery: Int = 5): Converged = {
    require(epsMicro >= 0L, s"epsMicro must be >= 0: $epsMicro")
    require(maxIters >= 1, s"maxIters must be >= 1: $maxIters")
    require(checkpointEvery >= 1,
      s"checkpointEvery must be >= 1: $checkpointEvery")
    val (e, nodes) = prepare(edges, dampMicro)
    var prev = nodes.withColumn("r", expr(s"${R}L div nn")).localCheckpoint()
    var done = 0
    var delta = Long.MaxValue
    while (done < maxIters && delta > epsMicro) {
      val segment = math.min(checkpointEvery, maxIters - done)
      var ranks = prev
      for (_ <- 1 to segment) ranks = round(ranks, e, nodes, dampMicro)
      val cur = ranks.localCheckpoint() // eager: lineage truncated here
      // rename one side: cur and prev share attribute ids (both descend
      // from the persisted vertex frame), so a qualified self-join would
      // be ambiguous
      val p2 = prev.select(col("node").as("p_node"), col("r").as("p_r"))
      delta = cur
        .join(p2, col("node") === col("p_node"))
        .agg(max(abs(col("r") - col("p_r"))).as("d"))
        .head().getLong(0)
      prev = cur
      done += segment
    }
    e.unpersist(false)
    nodes.unpersist(false)
    Converged(prev.select(col("node"), col("r").as("rank_micro")),
      done, delta)
  }

  /** The matching DuckDB recurrence, generated by the same loop so engine
    * and oracle cannot drift: `edgesSql` must yield (src, dst) BIGINT. */
  def oracleSql(edgesSql: String, iters: Int,
      dampMicro: Long = 850000000L): String = {
    val base = R - dampMicro
    val sb = new StringBuilder
    sb ++= s"""WITH e AS ($edgesSql),
       deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
       nv AS (SELECT count(*) AS nn FROM deg),
       r0 AS (SELECT deg.src AS node, deg.outdeg, $R // nn AS r
              FROM deg CROSS JOIN nv)"""
    for (k <- 1 to iters) {
      val prev = s"r${k - 1}"
      sb ++= s""",
       c$k AS (SELECT e.dst,
                 CAST(sum($prev.r // $prev.outdeg) AS BIGINT) AS s
               FROM $prev JOIN e ON e.src = $prev.node GROUP BY e.dst),
       r$k AS (SELECT deg.src AS node, deg.outdeg,
                 $base // nn + ($dampMicro * coalesce(c$k.s, 0)) // $R AS r
               FROM deg CROSS JOIN nv
               LEFT JOIN c$k ON c$k.dst = deg.src)"""
    }
    sb ++= s"""
       SELECT node, r AS rank_micro FROM r$iters ORDER BY node"""
    sb.toString
  }
}
