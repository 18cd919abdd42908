package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Connected components over an undirected edge list — the clustering step
  * of near-duplicate deduplication: verified near-dup PAIRS become
  * clusters, and the dedup pipeline keeps min-id per cluster as the
  * representative (drop the rest).
  *
  * Algorithm: min-label propagation with pointer jumping. `label(v)`
  * starts as v; each round takes the min over neighbor labels, then
  * resolves `label(label(v))` (labels are vertex ids, so they index back
  * into the label table). The jump step is what makes long chains cheap:
  * plain neighbor-min needs diameter rounds, while min-plus-jump
  * converges in O(log diameter) — the same doubling idea as the
  * alternating large-star/small-star algorithm (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14), whose
  * per-round dataflow is this same join+min shape.
  *
  * Substrate: a [[VertexLoop]] over the symmetrized edge list. Per round
  * only vertex-sized label tables shuffle — the neighbor-min
  * `reduceByKey` (map-side combined) and the pointer-jump re-key — and
  * each convergence check is ONE action: the count materializes the new
  * label RDD; the driver loop is control flow only, never a data
  * collect.
  */
object Components {

  /** Per-vertex component labels: (id, component) where component is the
    * minimum vertex id reachable from `id`. Vertices are the endpoints of
    * `edges` (isolated vertices, belonging to no pair, are not emitted).
    * Vertex ids must be integral (they are cast to long). The returned
    * table is materialized; the edge cache is released before returning,
    * and every cache is released before a non-convergence refusal. */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 25): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val g = VertexLoop(edges, aCol, bCol, symmetrize = true)
    var labels = g.vertices.map(v => (v, v))
      .partitionBy(g.part).persist(StorageLevel.MEMORY_AND_DISK)
    // one min-propagate + pointer-jump round; returns the new label table
    // (persisted) plus the round's intermediate to unpersist after the
    // next action materializes everything downstream of it
    def round(lbl: org.apache.spark.rdd.RDD[(Long, Long)])
        : (org.apache.spark.rdd.RDD[(Long, Long)],
           org.apache.spark.rdd.RDD[(Long, Long)]) = {
      // narrow join (both sides share `part`); reduceByKey is the round's
      // edge-driven shuffle, map-side combined down to vertex cardinality
      val nbrMin = g.edges.join(lbl)
        .map { case (_, (dst, l)) => (dst, l) }
        .reduceByKey(g.part, math.min(_: Long, _: Long))
      // narrow: lbl and nbrMin are both partitioned by `part`
      val prop = lbl.leftOuterJoin(nbrMin)
        .mapValues { case (l, nl) => math.min(l, nl.getOrElse(l)) }
        .persist(StorageLevel.MEMORY_AND_DISK) // jump reads it twice
      // pointer jump: labels are vertex ids, so re-keying by label and
      // joining back onto prop resolves lbl -> label(lbl)
      val next = prop.map { case (v, l) => (l, v) }
        .leftOuterJoin(prop)
        .map { case (l, (v, l2)) => (v, l2.getOrElse(l)) }
        .partitionBy(g.part)
        .persist(StorageLevel.MEMORY_AND_DISK)
      (next, prop)
    }
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      // TWO rounds per convergence check (r17, guide §2.4 — fewer driver
      // sync points): labels are per-vertex MONOTONE NON-INCREASING
      // (each round takes mins of values that start at the vertex id and
      // only shrink, and label(l) <= l always), so
      // labels_{k+2} == labels_k forces labels_{k+1} == labels_k — the
      // paired check detects exactly the same fixpoint while paying one
      // action, one comparison join, and one driver round-trip per TWO
      // rounds instead of per round. Past the fixpoint a round is the
      // identity, so the at-most-one extra round a pair can run changes
      // nothing. maxIter semantics unchanged: never runs a round beyond
      // the cap, still refuses on non-convergence within it — and when
      // the CAP lands mid-pair-sequence (even maxIter) the refusal check
      // falls back to the exact single-round comparison below, so a
      // sequence that converges at exactly round maxIter is not
      // spuriously refused (the pair check would compare two rounds
      // back and still see the earlier round's changes).
      val (l1, tmp1) = round(labels)
      iter += 1
      val (l2, tmp2) = if (iter < maxIter) {
        iter += 1
        val r2 = round(l1)
        (r2._1, Some(r2._2))
      } else (l1, None)
      // one action: materializes the pair's label tables AND measures
      // convergence (the comparison join with the old labels is narrow)
      changed = l2.join(labels)
        .filter { case (_, (n, p)) => n != p }.count()
      if (changed > 0 && iter >= maxIter && !(l2 eq l1)) {
        // at the cap after a FULL pair: the pair-level count cannot
        // distinguish "round maxIter still changed" from "round
        // maxIter-1 changed, round maxIter was the identity"; only the
        // former violates the cap contract. One extra narrow comparison
        // (both sides share `part`) restores the exact per-round
        // semantics on this final boundary.
        changed = l2.join(l1)
          .filter { case (_, (n, p)) => n != p }.count()
      }
      tmp1.unpersist()
      tmp2.foreach(_.unpersist())
      if (!(l2 eq l1)) l1.unpersist()
      labels.unpersist()
      labels = l2
    }
    g.edges.unpersist()
    if (changed > 0) {
      labels.unpersist()
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds")
    }
    labels.toDF("id", "component")
  }
}
