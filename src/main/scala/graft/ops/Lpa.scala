package graft.ops

import org.apache.spark.sql.DataFrame

/** Synchronous label propagation (LPA) community detection over an edge
  * list — Raghavan et al. 2007, made DETERMINISTIC.
  *
  * Textbook LPA is famously non-reproducible: asynchronous updates and
  * random tie-breaks give a different community structure per run. This
  * implementation pins both axes so the result is a pure function of the
  * graph: (a) SYNCHRONOUS rounds — every node's round-k label is computed
  * from the full round-(k-1) labeling, never from a mix; (b) ties in the
  * neighbor vote break to the SMALLEST candidate label. That determinism
  * is what makes the operator oracle-able at all: DuckDB replays the same
  * `rounds` vote/argmax rounds as materialized CTEs and must reproduce
  * every label bit-for-bit.
  *
  * Semantics: lab_0(v) = v; lab_k(v) = argmax over labels L of
  * |{u : (u,v) edge, lab_{k-1}(u) = L}|, ties to min L. Pure neighbor
  * vote (no self-vote): with a symmetrized edge list every vertex has a
  * neighbor, and the fixed `rounds` horizon makes the known LPA
  * oscillation modes (bipartite flip-flop) a non-issue — the round count
  * is part of the operator's defined semantics, exactly like PageRank's
  * `iters`.
  *
  * Scale shape (100 TB graph): a [[VertexLoop]] over the edge list; each
  * round joins the vertex-sized label table onto the edge layout
  * (narrow), then two combiner-backed aggregations whose shuffle keys are
  * (dst, label) and dst — label-table sized, never edge-sized. No round
  * runs an action: the whole propagate executes as ONE job when the
  * result is consumed, so the returned frame reads the edge cache lazily
  * and the edges stay persisted.
  */
object Lpa {

  /** `rounds` synchronous LPA rounds over `edges` (cols `src`, `dst`;
    * pass both directions for an undirected graph). Returns
    * (id, community) — community = the round-`rounds` label.
    *
    * EQUIVALENCE (bit-exact, pinned by R17GraphLoopEquivSpec against the
    * inlined DataFrame recurrence on random graphs): same initial
    * labeling lab_0(v)=v over distinct srcs; per round the same
    * per-(dst, lab) neighbor-vote counts (count is order-invariant), and
    * the same argmax — max count, ties to the SMALLEST label — computed
    * by an associative/commutative reduce over the per-dst vote rows,
    * which is a total order on (c, lab) pairs (vote keys are distinct per
    * dst), exactly max(struct(c, -lab)). */
  def propagate(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    val spark = edges.sparkSession
    import spark.implicits._
    val g = VertexLoop(edges)
    var labels = g.vertices.map(v => (v, v)).partitionBy(g.part)
    for (_ <- 1 to rounds) {
      // narrow: edges and labels share `part`; vote counts combine map-side
      val votes = g.edges.join(labels)
        .map { case (_, (dst, lab)) => ((dst, lab), 1L) }
        .reduceByKey(_ + _)
      // argmax: max count, ties to the smallest label — associative,
      // commutative, and total over a dst's distinct (c, lab) rows
      labels = votes
        .map { case ((dst, lab), c) => (dst, (c, lab)) }
        .reduceByKey(g.part, (a, b) =>
          if (a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)) a else b)
        .mapValues(_._2)
    }
    labels.toDF("id", "community")
  }

  /** The DuckDB replay: `rounds` materialized vote/argmax CTE rounds over
    * the caller's `edgesSql` (must yield symmetrized src,dst). Kept next
    * to the Spark loop so the two derivations can only drift on purpose. */
  def oracleSql(edgesSql: String, rounds: Int): String = {
    val roundCtes = (1 to rounds).map { k =>
      s"""c$k AS (SELECT e.dst AS id, l.lab, count(*) AS c
         FROM edges e JOIN l${k - 1} l ON l.id = e.src GROUP BY 1, 2),
         l$k AS (SELECT id, lab FROM (
           SELECT id, lab, row_number() OVER (PARTITION BY id
             ORDER BY c DESC, lab ASC) AS rn FROM c$k) z WHERE rn = 1)"""
    }.mkString(",\n         ")
    s"""WITH edges AS ($edgesSql),
         l0 AS (SELECT DISTINCT src AS id, src AS lab FROM edges),
         $roundCtes
         SELECT id, lab AS community FROM l$rounds ORDER BY id"""
  }
}
