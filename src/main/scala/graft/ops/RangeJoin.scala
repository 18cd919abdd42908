package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Point-in-interval range join without a nested-loop plan.
  *
  * Spark plans a pure inequality join (`p.ts BETWEEN i.start AND i.end`)
  * as BroadcastNestedLoopJoin / CartesianProduct — O(|points| ×
  * |intervals|) comparisons, a non-starter at scale. The standard fix
  * (used by range-join hints in other engines) is binning: quantize time
  * into fixed-width bins, explode each interval onto the bins it
  * overlaps, map each point to its single bin, equi-join on the bin, and
  * re-check the exact predicate. Every (interval, point) match meets in
  * exactly one bin — the point's — so results are exact with no dedup
  * step.
  *
  * Scale shape: the plan becomes a shuffle hash / sort-merge equi-join on
  * the bin id; candidate pairs are |matches| + near-miss pairs sharing a
  * bin, linear for bin widths near the interval length. Interval fan-out
  * is `len/binSeconds + 1` rows (pick binSeconds ≈ the typical interval
  * length); hot bins are ordinary join skew, handled by AQE.
  */
object RangeJoin {

  /** Bin id of a timestamp. The intermediate cast("timestamp") lets NTZ
    * timestamps bin too (NTZ -> BIGINT is not a legal direct cast);
    * session TZ is UTC. */
  private def bin(ts: Column, binSeconds: Long): Column =
    floor(ts.cast("timestamp").cast("long") / binSeconds)

  /** The equi-join candidate set before the exact recheck — the join the
    * shuffle actually pays for. Exposed for measurement. */
  def candidates(points: DataFrame, ptCol: String,
                 intervals: DataFrame, startCol: String, endCol: String,
                 binSeconds: Long): DataFrame = {
    val iv = intervals.withColumn("__bin",
      explode(sequence(bin(col(startCol), binSeconds), bin(col(endCol), binSeconds))))
    val pt = points.withColumn("__bin", bin(col(ptCol), binSeconds))
    pt.join(iv, Seq("__bin"))
  }

  /** Join `points` to `intervals` where `points.ptCol` falls in
    * `[startCol, endCol)`. Columns from both sides survive; timestamps
    * are compared at their native precision. Malformed intervals
    * (end before start) match nothing: their bin rows exist (sequence
    * steps down) but the exact recheck is vacuously false. */
  def pointInInterval(points: DataFrame, ptCol: String,
                      intervals: DataFrame, startCol: String, endCol: String,
                      binSeconds: Long): DataFrame =
    candidates(points, ptCol, intervals, startCol, endCol, binSeconds)
      .filter(col(ptCol) >= col(startCol) && col(ptCol) < col(endCol))
      .drop("__bin")

  /** Bin width derived from the DATA instead of a caller constant.
    *
    * The cost model: with mean interval length W and point density rho
    * (points per second over the observed span), a bin width b costs
    * ~|I|*(W/b + 1) exploded interval rows plus ~|I|*rho*(W + b)
    * equi-join candidates — wide bins don't fan intervals out but sweep
    * in a bin's worth of unrelated points per interval; narrow bins
    * approach the true-match floor |I|*rho*W at the price of fan-out.
    * The total is minimized at b* = sqrt(W / rho): as density grows k×
    * (the 30× scale-up grew BOTH sides in a fixed time span), the right
    * bin width shrinks by sqrt(k) — a constant tuned at one SF is
    * guaranteed wrong at another, which is exactly what the sf3 sweep
    * measured (within-bin candidate volume ~1.75x above the floor at a
    * constant W-sized bin).
    *
    * b* is clamped to [W/1024, W]: the lower clamp bounds fan-out at
    * ~1025 rows per interval regardless of density; the upper keeps the
    * historical "bin ≈ interval length" behavior for sparse data.
    *
    * The stats pass is two single-row aggregates (avg interval length;
    * point count + span) — column-pruned scans, the same derive-once
    * trade as z-order's quantization domains: a repeatedly-run layout
    * job should compute them once and call [[pointInInterval]] with the
    * result; this entry point is the self-tuning convenience for
    * one-shot queries. Degenerate stats (no rows, zero-length intervals,
    * zero span) fall back to `fallbackBinSeconds`. */
  def adaptiveBinSeconds(points: DataFrame, ptCol: String,
                         intervals: DataFrame, startCol: String, endCol: String,
                         fallbackBinSeconds: Long = 86400L): Long = {
    val iv = intervals.agg(
      avg(col(endCol).cast("timestamp").cast("long") -
        col(startCol).cast("timestamp").cast("long")).as("w")).head()
    val pt = points.agg(
      count(lit(1)).as("n"),
      (max(col(ptCol).cast("timestamp").cast("long")) -
        min(col(ptCol).cast("timestamp").cast("long"))).as("span")).head()
    val w = if (iv.isNullAt(0)) 0.0 else iv.getDouble(0)
    val n = pt.getLong(0)
    val span = if (pt.isNullAt(1)) 0L else pt.getLong(1)
    if (w <= 0.0 || n == 0L || span <= 0L) fallbackBinSeconds
    else {
      val rho = n.toDouble / span
      val bStar = math.sqrt(w / rho)
      math.max(1L, math.min(w, math.max(w / 1024.0, bStar)).round)
    }
  }

  /** [[pointInInterval]] with the bin width chosen by
    * [[adaptiveBinSeconds]] from the inputs' own statistics. */
  def pointInIntervalAdaptive(points: DataFrame, ptCol: String,
                              intervals: DataFrame, startCol: String,
                              endCol: String,
                              fallbackBinSeconds: Long = 86400L): DataFrame =
    pointInInterval(points, ptCol, intervals, startCol, endCol,
      adaptiveBinSeconds(points, ptCol, intervals, startCol, endCol,
        fallbackBinSeconds))

  /** Count of points per interval via a distributed boundary SWEEP —
    * the plan to use when the range join's payload is an aggregate, not
    * the matched pairs themselves.
    *
    * Any pair-materializing plan (binned or not) pays for the matches:
    * with interval count |I|, point density rho and interval length W,
    * that is |I|·rho·W rows. When BOTH sides grow k× inside a fixed time
    * span — exactly what a density-scaled corpus looks like — the pair
    * volume grows k². The sf10 (100×) sweep measured the consequence:
    * ~26 billion candidate pairs for a count-only query, an OOM at
    * default executor memory. But `count(*) per interval` never needs
    * the pairs: with F(t) = |{p : p < t}|, the half-open count is
    * F(end) − F(start) — two lookups into ONE prefix sum over the point
    * stream.
    *
    * Plan: union points (weight 1) with interval boundaries (weight 0),
    * shard by fixed-width time ranges (`floor((t−lo)/shardWidth)`, a
    * DERIVED deterministic key — no repartitionByRange sampling pass),
    * per-shard window cumsum ordered by (t, weight) so boundaries sort
    * before same-instant points (point == start is counted, point == end
    * excluded — half-open exactly), then add per-shard offsets (a
    * broadcast of ≤ ~nShards+2 rows — the only driver-scale state) and
    * difference the two F values per interval. Cost: ONE shuffle of
    * n + 2|I| rows and a per-shard sort — linear in the inputs at ANY
    * density, no pair ever materialized. Intervals with no points are
    * dropped (inner-join semantics, matching [[pointInInterval]] +
    * groupBy count); malformed intervals (end <= start) count <= 0 and
    * are dropped by the same filter.
    *
    * Scale shape at 100 TB: shards are fixed-width time slices, so a
    * year-long corpus at any row count is nShards balanced sort tasks;
    * time-skewed data lands as shard skew, which AQE splits. The
    * boundary rows (2|I|) ride the same shuffle — no second scan of the
    * fact side, no stats pass beyond one column-pruned (min, max).
    *
    * `keyCols` must uniquely identify interval rows (they are the pivot
    * key for the start/end difference). */
  def countPerInterval(points: DataFrame, ptCol: String,
                       intervals: DataFrame, keyCols: Seq[String],
                       startCol: String, endCol: String,
                       countCol: String = "n_points",
                       nShards: Int = 256): DataFrame =
    sweepAgg(points, ptCol, intervals, keyCols, startCol, endCol,
        Seq(countCol -> lit(1L)), nShards)
      .filter(col(countCol) > 0)

  /** Weighted-sum-per-interval via the same boundary sweep: for each
    * interval, the count of covered points AND the sum of an integral
    * point weight — i.e. `join ⋈ group by ⋈ count(*), sum(w)` without
    * ever materializing a pair. Same prefix-sum plan as
    * [[countPerInterval]]: both accumulators ride ONE shuffle of
    * n + 2|I| rows (the window computes all cumsums in one pass), so the
    * k² pair-volume wall measured at sf10 never applies.
    *
    * `weight` MUST be integral (it is cast to long): long sums are exact
    * and associative, which the F(end) − F(start) difference — and
    * cross-engine determinism — depend on. Fixed-point-quantize real
    * payloads first (e.g. `floor(amount * 100 + 0.5)` for cents); an FP
    * cumsum would be summation-order-dependent and is deliberately
    * unsupported. Null weights contribute 0 to the sum (SQL `sum`
    * semantics) but still count toward `countCol`; intervals covering no
    * points are dropped (inner-join semantics, matching the pair plan's
    * `join + group by`). */
  def sumPerInterval(points: DataFrame, ptCol: String, weight: Column,
                     intervals: DataFrame, keyCols: Seq[String],
                     startCol: String, endCol: String,
                     sumCol: String = "w_sum",
                     countCol: String = "n_points",
                     nShards: Int = 256): DataFrame =
    sweepAgg(points, ptCol, intervals, keyCols, startCol, endCol,
        Seq(countCol -> lit(1L), sumCol -> weight.cast("long")), nShards)
      .filter(col(countCol) > 0)

  /** Shared sweep core: per interval key, the F(end) − F(start)
    * difference of one prefix sum per weight column. All weights ride the
    * same union + single window (one shuffle, one per-shard sort); rows
    * are ordered (t, __r) with boundary rows FIRST at equal instants so
    * the half-open [start, end) semantics hold for every weight: a point at
    * t == start is above the start boundary's F (counted), a point at
    * t == end is above the end boundary's F (excluded). */
  private def sweepAgg(points: DataFrame, ptCol: String,
                       intervals: DataFrame, keyCols: Seq[String],
                       startCol: String, endCol: String,
                       weights: Seq[(String, Column)],
                       nShards: Int): DataFrame = {
    require(keyCols.nonEmpty, "sweep aggregation needs interval key columns")
    require(weights.nonEmpty, "sweep aggregation needs at least one weight")
    import org.apache.spark.sql.expressions.Window
    def sec(c: Column): Column = c.cast("timestamp").cast("long")
    // Shard-sizing bounds come from the INTERVALS side, not the points
    // (r17, guide §1.2 — don't compute what you throw away): the bounds
    // only pick shard boundaries, so ANY deterministic span yields
    // identical results — rows outside it land in shards below 0 /
    // above nShards, which the offset cumsum already covers (see the
    // out-of-span note below). Exact point min/max was a full fact-side
    // column scan paid at plan-construction time; the interval side is
    // every sweep caller's small, already-filtered side and spans the
    // same data period. Only shard BALANCE could differ, and only if the
    // two sides' spans diverge wildly — a caller with that shape should
    // raise nShards or pre-clip the points.
    val st = intervals.agg(min(sec(col(startCol))).as("lo"),
      max(sec(col(endCol))).as("hi")).head()
    // no intervals at all: output is empty by the inner-join contract;
    // the pipeline below yields exactly that with a degenerate single
    // shard
    val (lo, hi) = if (st.isNullAt(0)) (0L, 0L)
                   else (st.getLong(0), st.getLong(1))
    val shardWidth = math.max(1L, (hi - lo) / nShards + 1L)

    val wNames = weights.indices.map(i => s"__w$i")
    val key = struct(keyCols.map(col): _*)
    val bounds = intervals.select(
      explode(array(
        struct(sec(col(startCol)).as("t"), lit(0).as("kind")),
        struct(sec(col(endCol)).as("t"), lit(1).as("kind")))).as("b"),
      key.as("__key"))
      .select(col("b.t").as("__t") +: lit(0).as("__r") +:
        wNames.map(n => lit(0L).as(n)) :+
        col("b.kind").as("__kind") :+ col("__key"): _*)
    val keyType = bounds.schema("__key").dataType
    val pts = points.select(sec(col(ptCol)).as("__t") +: lit(1).as("__r") +:
      weights.zipWithIndex.map { case ((_, w), i) => w.as(s"__w$i") } :+
      lit(-1).as("__kind") :+ lit(null).cast(keyType).as("__key"): _*)

    // out-of-span rows CLAMP into the two edge shards (-1 and nShards),
    // so the offset table is <= nShards + 2 rows no matter how far the
    // two sides' spans diverge (r17: bounds now come from the interval
    // side, so a point stream spanning far beyond it must not mint one
    // shard per width-unit). Clamping is safe: shard id stays a MONOTONE
    // function of __t and equal instants still share a shard, so the
    // (shard, t, __r) order — and every prefix-sum reading — is exactly
    // the (t, __r) order. Null timestamps are dropped on BOTH sides (the
    // binned join drops them via null comparisons; here a null would
    // otherwise form a null shard that sorts first in the offset cumsum).
    val sweep = pts.unionByName(bounds)
      .filter(col("__t").isNotNull)
      .withColumn("__shard",
        greatest(lit(-1L), least(lit(nShards.toLong),
          floor((col("__t") - lit(lo)) / lit(shardWidth)))))
    val local = Window.partitionBy("__shard")
      .orderBy(col("__t"), col("__r"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = wNames.foldLeft(sweep) { (df, n) =>
      df.withColumn(s"__cum_$n", coalesce(sum(col(n)).over(local), lit(0L)))
    }
    // per-shard totals: tiny (<= nShards + 2 by the clamp), so the
    // single-partition window over shard ids is bounded by nShards,
    // never by data volume
    val offW = Window.orderBy("__shard")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sweep.groupBy("__shard")
      .agg(sum(col(wNames.head)).as(s"__stot_${wNames.head}"),
        wNames.tail.map(n => sum(col(n)).as(s"__stot_$n")): _*)
      .select(col("__shard") +: wNames.map(n =>
        coalesce(sum(coalesce(col(s"__stot_$n"), lit(0L))).over(offW), lit(0L))
          .as(s"__off_$n")): _*)

    cum.filter(col("__kind") >= 0) // boundary rows only: 2|I| survive
      .join(broadcast(offsets), Seq("__shard"))
      .groupBy("__key")
      .agg(fDiff(wNames.head).as(weights.head._1),
        weights.tail.zip(wNames.tail).map { case ((name, _), n) =>
          fDiff(n).as(name)
        }: _*)
      .select(col("__key.*") +: weights.map(w => col(w._1)): _*)
  }

  /** End-minus-start difference of the global prefix sum for one weight. */
  private def fDiff(n: String): Column = {
    val f = col(s"__cum_$n") + col(s"__off_$n")
    max(when(col("__kind") === 1, f)) - max(when(col("__kind") === 0, f))
  }

  /** Interval×interval OVERLAP count per left interval via the same
    * boundary sweep — the interval-join-with-count shape
    * (`a ⋈ b ON b.start <= a.end AND b.end >= a.start → count per a`,
    * closed bounds on both sides).
    *
    * A pair plan (binned or nested-loop) pays for every overlapping
    * pair — k² under density scaling, the sf10 wall. But the overlap
    * COUNT decomposes into two order statistics (inclusion–exclusion
    * over well-formed intervals, b.start <= b.end):
    *
    *   overlaps(a) = |{b : b.start <= a.end}| − |{b : b.end < a.start}|
    *
    * (every b that ended strictly before a started is the exact
    * complement, within the first set, of the overlappers). Each term is
    * one rank lookup into a prefix sum over B's boundary stream, and
    * BOTH cumsums ride ONE sharded sweep: union b.start rows (weight
    * ws=1), b.end rows (we=1) and a's two query rows, order ties as
    * (b.start, a-queries, b.end) so `<=` counts same-instant b.starts
    * and `<` excludes same-instant b.ends, take per-shard running sums +
    * broadcast shard offsets, and difference the two F values per a key.
    * Cost: ONE shuffle of 2|A| + 2|B| rows at ANY density — no pair ever
    * materialized. Left intervals overlapping nothing are dropped
    * (inner-join semantics, matching the pair plan's join + group by);
    * `keyCols` must uniquely identify left rows. */
  def overlapsPerInterval(aIntervals: DataFrame, keyCols: Seq[String],
                          aStart: String, aEnd: String,
                          bIntervals: DataFrame, bStart: String, bEnd: String,
                          countCol: String = "n_overlaps",
                          nShards: Int = 256): DataFrame = {
    require(keyCols.nonEmpty, "overlap sweep needs left-interval key columns")
    import org.apache.spark.sql.expressions.Window
    def sec(c: Column): Column = c.cast("timestamp").cast("long")
    // Shard-sizing bounds from the LEFT (keyed) side — every caller's
    // small, pre-filtered side — instead of a full scan of the b fact
    // stream at construction time. Same argument as [[sweepAgg]]'s
    // bounds: shard boundaries only partition the sort (equal instants
    // always share a shard, so every F reading is invariant), results
    // are bit-identical for any deterministic span.
    val st = aIntervals.agg(min(sec(col(aStart))).as("lo"),
      max(sec(col(aEnd))).as("hi")).head()
    val (lo, hi) = if (st.isNullAt(0)) (0L, 0L)
                   else (st.getLong(0), st.getLong(1))
    val shardWidth = math.max(1L, (hi - lo) / nShards + 1L)
    val key = struct(keyCols.map(col): _*)
    // tie rank __r: b.start (0) < a queries (1) < b.end (2); __q marks
    // which query a row is (1 = a.end reads the b.start cumsum, 0 =
    // a.start reads the b.end cumsum, -1 = value row)
    val aRows = aIntervals.select(
      explode(array(
        struct(sec(col(aEnd)).as("t"), lit(1).as("q")),
        struct(sec(col(aStart)).as("t"), lit(0).as("q")))).as("x"),
      key.as("__key"))
      .select(col("x.t").as("__t"), lit(1).as("__r"),
        lit(0L).as("__ws"), lit(0L).as("__we"),
        col("x.q").as("__q"), col("__key"))
    val keyType = aRows.schema("__key").dataType
    // drop half-null b intervals WHOLE (the peakConcurrency rule): the
    // per-row null filter below would keep the non-null boundary, so a
    // (b_start, NULL) row would count toward |{b.start <= a.end}| but
    // never toward |{b.end < a.start}| — counted as overlapping every
    // later a, where the pair-join contract (NULL comparison → no match)
    // matches it with nothing. a-side half-null rows already drop via
    // the null fDiff → `count > 0` filter.
    val bWhole = bIntervals.filter(
      col(bStart).isNotNull && col(bEnd).isNotNull)
    val bRows = bWhole.select(
      explode(array(
        struct(sec(col(bStart)).as("t"), lit(0).as("r"),
          lit(1L).as("ws"), lit(0L).as("we")),
        struct(sec(col(bEnd)).as("t"), lit(2).as("r"),
          lit(0L).as("ws"), lit(1L).as("we")))).as("x"))
      .select(col("x.t").as("__t"), col("x.r").as("__r"),
        col("x.ws").as("__ws"), col("x.we").as("__we"),
        lit(-1).as("__q"), lit(null).cast(keyType).as("__key"))
    // same clamp as [[sweepAgg]]: out-of-span rows land in the two edge
    // shards, keeping the offset table <= nShards + 2 rows; shard id
    // stays monotone in __t, so every prefix-sum reading is unchanged
    val all = aRows.unionByName(bRows)
      .filter(col("__t").isNotNull)
      .withColumn("__shard",
        greatest(lit(-1L), least(lit(nShards.toLong),
          floor((col("__t") - lit(lo)) / lit(shardWidth)))))
    val local = Window.partitionBy("__shard")
      .orderBy(col("__t"), col("__r"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = all
      .withColumn("__cs", coalesce(sum(col("__ws")).over(local), lit(0L)))
      .withColumn("__ce", coalesce(sum(col("__we")).over(local), lit(0L)))
    val offW = Window.orderBy("__shard")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = all.groupBy("__shard")
      .agg(sum(col("__ws")).as("__ts"), sum(col("__we")).as("__te"))
      .select(col("__shard"),
        coalesce(sum(coalesce(col("__ts"), lit(0L))).over(offW), lit(0L))
          .as("__os"),
        coalesce(sum(coalesce(col("__te"), lit(0L))).over(offW), lit(0L))
          .as("__oe"))
    cum.filter(col("__q") >= 0)
      .join(broadcast(offsets), Seq("__shard"))
      .groupBy("__key")
      .agg((max(when(col("__q") === 1, col("__cs") + col("__os"))) -
        max(when(col("__q") === 0, col("__ce") + col("__oe"))))
        .as(countCol))
      .select(col("__key.*"), col(countCol))
      .filter(col(countCol) > 0)
  }

  /** Pairs-below count per group via the same sweep idea as
    * [[countPerInterval]], for the inequality-JOIN-with-count shape:
    * `left ⋈ right ON keys AND right.v < left.v → count per group`.
    *
    * The join plan pays for every qualifying pair — within a group of
    * size m that is O(m²), so a k× density scale-up costs k² (the sf10
    * sweep measured the catalog's supplier⋈customer acctbal demo at
    * 190× wall for 100× data). But a COUNT of below-pairs is an order
    * statistic: for each left row, |{r : r.v < l.v}| is the rank of its
    * value in the right side's sorted order. One window cumsum per
    * group computes every rank at once: union right rows (weight 1)
    * with left rows (weight 0), sort by (v, weight) inside the group —
    * left rows sort BEFORE same-value right rows, so ties (strict <)
    * are excluded exactly — and the running weight sum AT each left row
    * is its pair count. Total per group = sum over its left rows.
    * Groups with zero qualifying pairs are dropped (inner-join
    * semantics); null values are filtered on both sides (they qualify
    * no comparison, but a null would sort first and pollute the sum).
    *
    * Cost: ONE shuffle of |L| + |R| rows and a per-group sort — linear
    * at any density. The window partition is the group key, so a group
    * is the parallelism grain; if a single group outgrows a task at
    * extreme scale, pre-shard it by value range with derived offsets
    * exactly as [[countPerInterval]] shards time. */
  def countPairsBelow(left: DataFrame, leftVal: String,
                      right: DataFrame, rightVal: String,
                      keys: Seq[String],
                      countCol: String = "n_pairs"): DataFrame = {
    require(keys.nonEmpty, "countPairsBelow needs group key columns")
    import org.apache.spark.sql.expressions.Window
    val l = left.select(keys.map(col) :+ col(leftVal).cast("double")
        .as("__v") :+ lit(0L).as("__w"): _*)
      .filter(col("__v").isNotNull)
    val r = right.select(keys.map(col) :+ col(rightVal).cast("double")
        .as("__v") :+ lit(1L).as("__w"): _*)
      .filter(col("__v").isNotNull)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__v"), col("__w"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn("__below", sum("__w").over(w))
      .filter(col("__w") === 0L)
      .groupBy(keys.map(col): _*)
      .agg(sum("__below").as(countCol))
      .filter(col(countCol) > 0)
  }

  /** Peak concurrency per group: the maximum number of simultaneously
    * open half-open intervals `[start, end)` at any instant — capacity
    * planning's core question (peak sessions, peak open connections,
    * peak concurrent jobs), answered WITHOUT materializing any overlap
    * pair.
    *
    * Start/end columns are integral instants (e.g. `unix_micros`). The
    * sweep: each interval emits +1 at start and −1 at end; ends order
    * BEFORE starts at equal instants (`__r` 0 < 1), so an interval
    * ending exactly when another starts never counts as concurrent —
    * the half-open contract. Peak = max prefix sum of the delta stream.
    *
    * Scale shape (the [[sweepAgg]] chunking): running sums are windowed
    * per (group, time-shard) — each window's input is that shard's
    * deltas, never the stream; shard offsets come from per-(group,
    * shard) totals cumulated by a window PARTITIONED BY GROUP over at
    * most `nShards` rows per group (schema×shards-bounded, broadcast
    * back). One shuffle of 2|I| delta rows at any interval density; the
    * max is invariant to tie order within an equal (t, sign) run, so
    * the result is deterministic without a total order on ties.
    *
    * Intervals with a null endpoint are dropped WHOLE before the delta
    * stream is built: a half-null interval would otherwise leave an
    * unbalanced +1 or −1 in the sweep (the per-delta null filter only
    * removes one side), silently skewing every running count after it. */
  def peakConcurrency(intervals0: DataFrame, groupCol: String,
                      startCol: String, endCol: String,
                      peakCol: String = "peak",
                      nShards: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val intervals = intervals0.filter(
      col(startCol).isNotNull && col(endCol).isNotNull)
    val st = intervals.agg(min(col(startCol).cast("long")).as("lo"),
      max(col(endCol).cast("long")).as("hi")).head()
    val (lo, hi) = if (st.isNullAt(0)) (0L, 0L)
                   else (st.getLong(0), st.getLong(1))
    val shardWidth = math.max(1L, (hi - lo) / nShards + 1L)
    val deltas = intervals.select(col(groupCol).as("__g"),
        explode(array(
          struct(col(startCol).cast("long").as("t"),
            lit(1).as("r"), lit(1L).as("w")),
          struct(col(endCol).cast("long").as("t"),
            lit(0).as("r"), lit(-1L).as("w")))).as("b"))
      .select(col("__g"), col("b.t").as("__t"), col("b.r").as("__r"),
        col("b.w").as("__w"))
      .filter(col("__t").isNotNull)
      .withColumn("__shard", floor((col("__t") - lit(lo)) / lit(shardWidth)))
    val local = Window.partitionBy("__g", "__shard")
      .orderBy(col("__t"), col("__r"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = deltas.withColumn("__cum", sum(col("__w")).over(local))
    val offW = Window.partitionBy("__g").orderBy("__shard")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = deltas.groupBy("__g", "__shard").agg(sum("__w").as("__stot"))
      .select(col("__g"), col("__shard"),
        coalesce(sum("__stot").over(offW), lit(0L)).as("__off"))
    cum.join(broadcast(offsets), Seq("__g", "__shard"))
      .groupBy("__g")
      .agg(max(col("__cum") + col("__off")).as(peakCol),
        sum(when(col("__r") === 1, 1L).otherwise(0L)).as("n_intervals"))
      .withColumnRenamed("__g", groupCol)
  }
}
