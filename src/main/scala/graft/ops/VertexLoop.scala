package graft.ops

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** The edge substrate the RDD-loop graph operators ([[Bfs]], [[KCore]],
  * [[Lpa]], [[Components]]) iterate against: the edge list cast to long
  * ids, hash-partitioned by source ONCE and persisted, so every round's
  * vertex-table ⋈ edge join is narrow and only vertex-sized tables
  * shuffle per round (the GraphX layout: at 10^11 edges the edge list is
  * the dataset you cannot afford to reshuffle per round).
  *
  * WHY RDD AND NOT CATALYST: each of these loops references its vertex
  * table twice per round (carry-over + join, or one membership check per
  * endpoint). A lazy Catalyst chain doubles the ANALYZED PLAN per such
  * round until the driver spends its time in tree walks, so a DataFrame
  * loop must cut the plan with a per-round checkpoint and pay per-round
  * analysis, codegen and an AQE-staged materialization for plans that run
  * once. RDD lineage is a DAG: a twice-referenced table is one persisted
  * RDD, and a round plans nothing. [[PageRank]] is the exception — its
  * lazy plan composes with a counting consumer that prunes rank work, so
  * it stays on Catalyst.
  *
  * SIZING: ~64k edges per partition, capped at the session's
  * `spark.sql.shuffle.partitions`, never below 1 — a 300-edge graph
  * iterates on one partition instead of scheduling shuffle-width × rounds
  * empty tasks, while a huge graph keeps full parallelism.
  *
  * CACHE: [[edges]] stays persisted after construction. An operator whose
  * result is fully materialized before it returns releases it; one whose
  * returned frame reads [[edges]] lazily ([[KCore]]'s final degree join,
  * [[Lpa]]'s single-job propagate) keeps it for the consumer.
  *
  * Ids must be integral: a fractional id would be truncated by the cast
  * (10.2 and 10.9 would merge into vertex 10), so any other type is
  * refused. `symmetrize` emits both directions of every pair from the
  * same single scan — never a DataFrame union, which would run the
  * caller's (possibly expensive) edge plan twice. */
private[ops] final class VertexLoop private (
    val edges: RDD[(Long, Long)], val part: HashPartitioner) {

  /** The distinct source ids (not yet co-partitioned with [[edges]]). */
  val vertices: RDD[Long] = edges.keys.distinct(part.numPartitions)
}

private[ops] object VertexLoop {

  def apply(frame: DataFrame, a: String = "src", b: String = "dst",
            symmetrize: Boolean = false): VertexLoop = {
    Seq(a, b).foreach { c =>
      val dt = frame.schema(c).dataType
      require(Seq("byte", "short", "integer", "long").contains(dt.typeName),
        s"vertex id column '$c' must be integral, got ${dt.typeName}")
    }
    val spark = frame.sparkSession
    import spark.implicits._
    val pairs = frame.select(col(a).cast("long"), col(b).cast("long"))
      .as[(Long, Long)].rdd
    val raw = (if (symmetrize)
      pairs.flatMap { case (x, y) => Iterator((x, y), (y, x)) } else pairs)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val edgeCount = raw.count() // one upstream execution; sizes the loop
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions").toLong
    val part = new HashPartitioner(
      math.max(1L, math.min(sessionParts, edgeCount / 65536 + 1)).toInt)
    val edges = raw.partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
    edges.count() // materialize from raw's cache before dropping it
    raw.unpersist()
    new VertexLoop(edges, part)
  }

  /** Applies `step` from `init` until a round leaves the table's row
    * count unchanged, or `maxRounds` rounds have run. Each round is
    * persisted and counted once (the count materializes it) and the
    * previous round is released. Returns the last table (persisted) and
    * the rounds executed, the final unchanged round included.
    *
    * An unchanged count is an unchanged table only for a keyed set that
    * ONLY GROWS (BFS reach) or ONLY SHRINKS (k-core survivors); that is
    * the caller's contract. Past the fixpoint a round is the identity, so
    * a run capped at r rounds equals r fixed rounds. */
  def untilStable[V](init: RDD[(Long, V)], maxRounds: Int)(
      step: RDD[(Long, V)] => RDD[(Long, V)]): (RDD[(Long, V)], Int) = {
    var cur = init.persist(StorageLevel.MEMORY_AND_DISK)
    var prevCount = cur.count()
    var rounds = 0
    var stable = false
    while (rounds < maxRounds && !stable) {
      val next = step(cur).persist(StorageLevel.MEMORY_AND_DISK)
      rounds += 1
      val c = next.count()
      stable = c == prevCount
      prevCount = c
      cur.unpersist()
      cur = next
    }
    (cur, rounds)
  }
}
