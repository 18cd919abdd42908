package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational envelope: scans, filters, the join family, aggregations.
  *
  * Every query ends in a deterministic total ORDER BY and aliases every
  * computed column identically to its DuckDB oracle (driver hash-compares
  * after sorting columns by name). Floating-point aggregates are rounded on
  * both sides — Spark and DuckDB sum doubles in different orders, so raw
  * sums differ in the last ulps.
  *
  * Scale stance (100 TB): group-bys are partial-aggregated map-side by
  * Catalyst; small dimension joins are explicitly `broadcast()`; the big
  * fact-fact join relies on sort-merge + AQE. No collect() anywhere.
  */
object Relational {

  /** Iteration count of `q_graph_pagerank` — shared with its generated
    * DuckDB oracle and with PlanContractSpec's cached-scan count
    * (`2*iters + 1`: each round scans the edge cache once and the vertex
    * cache once, plus the rank seed's vertex scan), so changing the
    * query keeps oracle and plan contract in lockstep. */
  private[graft] val pagerankIters = 5

  /** q_agg_histogram's fixed equi-width grid over o_totalprice — width
    * and bucket count interpolated into BOTH engines (never two copies
    * of the literal). The last bucket is open-ended (hi = NULL) and
    * absorbs everything past the grid, so the output schema is bounded
    * by construction regardless of the price domain. */
  private[graft] val HistBucketWidth = 50000L

  /** q_quality_drift_psi's equi-width price grid — width and bucket
    * count interpolated into BOTH engines; the last bucket absorbs the
    * overflow tail like the histogram's. The bucket count also sets the
    * add-one smoothing mass ((n+1)/(N+B)), so it appears in the PSI
    * denominators on both sides. */
  private[graft] val PsiBucketWidth = 100000L
  private[graft] val PsiBuckets = 8L
  private[graft] val HistBuckets = 12

  /** q_quality_benford's expected first-digit distribution, computed
    * ONCE here (log10) and interpolated into both engines as integer
    * ppm literals — no cross-engine ln/log10 runs at query time, so the
    * whole query is exact integer arithmetic. */
  private[graft] val BenfordExpPpm: Seq[(Int, Long)] =
    (1 to 9).map(d =>
      d -> math.floor(math.log10(1.0 + 1.0 / d) * 1e6 + 0.5).toLong)

  /** q_sql_lateral — ONE SQL text for both engines (the RecursiveCteSql
    * pattern): a correlated LATERAL subquery with ORDER BY + LIMIT, the
    * SQL-standard spelling of top-N-per-key. Catalyst decorrelates the
    * limit into a ranked window join — same physical shape as
    * q_topk_per_group's hand-written variant — while DuckDB executes the
    * lateral natively; both must produce the identical top-2 rows
    * because the lateral's ORDER BY carries a full o_orderkey tiebreak.
    * Price emits as exact integer cents (floor(x*100+0.5), the catalog's
    * double-price idiom). */
  private[graft] val LateralSql: String =
    """SELECT c.c_custkey, o.o_orderkey,
         CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
       FROM customer c,
         LATERAL (SELECT o_orderkey, o_totalprice
                  FROM orders
                  WHERE o_custkey = c.c_custkey
                  ORDER BY o_totalprice DESC, o_orderkey
                  LIMIT 2) o
       WHERE c.c_mktsegment = 'BUILDING'
       ORDER BY c.c_custkey, price_cents DESC, o.o_orderkey"""

  /** The five join-family tables registered as EXTERNAL catalog tables
    * and ANALYZE'd, once per corpus content (temp views carry no
    * statistics — the cost-based optimizer reads row/column stats from
    * the catalog, so `ANALYZE TABLE` needs real catalog entries). Returns
    * the table-name prefix; names embed the dir hash so scale-factor dirs
    * cannot collide in the shared catalog. */
  private def cboTablesFor(s: org.apache.spark.sql.SparkSession,
                           dir: String): String =
    graft.io.Artifacts.once(dir, "cbo_catalog") {
      val pfx = f"graft_cbo_${dir.hashCode & 0x7fffffff}%x_"
      for (t <- Seq("region", "nation", "customer", "orders", "lineitem")) {
        s.sql(s"CREATE TABLE IF NOT EXISTS $pfx$t USING parquet " +
          s"LOCATION '$dir/$t.parquet'")
        s.sql(s"ANALYZE TABLE $pfx$t COMPUTE STATISTICS")
        s.sql(s"ANALYZE TABLE $pfx$t COMPUTE STATISTICS FOR ALL COLUMNS")
      }
      pfx
    }

  /** The CBO demo's join, buildable with the cost-based reorder on or
    * off — the catalog query runs `cbo = true`; PlanContractSpec builds
    * BOTH and asserts the optimized join orders differ while the results
    * match (the reorder is a pure plan transform). The syntactic order
    * is deliberately WORST-first (the two fact tables join before any
    * filter-carrying dimension): rule-based Catalyst keeps that shape —
    * it reorders nothing without a cost model — while CBO's
    * dynamic-programming join enumeration (Selinger) uses the ANALYZE'd
    * row counts + column histograms to start from the selective
    * dimension chain. At 100 TB this is the difference between shuffling
    * the whole lineitem×orders join and shuffling the ~20% that survives
    * the region filter. */
  private[graft] def cboJoinOrderQuery(s: org.apache.spark.sql.SparkSession,
                                       dir: String,
                                       cbo: Boolean): org.apache.spark.sql.DataFrame = {
    val pfx = cboTablesFor(s, dir)
    val s2 = s.newSession()
    s2.conf.set("spark.sql.cbo.enabled", cbo)
    s2.conf.set("spark.sql.cbo.joinReorder.enabled", cbo)
    s2.sql(s"""
      SELECT n_name, count(*) AS n_items,
             round(sum(l_quantity), 2) AS sum_qty
      FROM $pfx${"lineitem"}
        JOIN $pfx${"orders"} ON l_orderkey = o_orderkey
        JOIN $pfx${"customer"} ON o_custkey = c_custkey
        JOIN $pfx${"nation"} ON c_nationkey = n_nationkey
        JOIN $pfx${"region"} ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA' AND o_orderstatus = 'F'
      GROUP BY n_name ORDER BY n_name""")
  }

  /** Hot-basket cap for the co-occurrence pair derivations
    * (`Triangles.coPairs`) — ONE definition interpolated into both the
    * Spark queries and their DuckDB oracle SQL so a tune cannot drift
    * between them. 64 never engages on ordinary order sizes (max ≈ 7 at
    * every SF), so uniform-corpus results are identical with or without
    * it; on a hot-basket corpus it bounds each basket's pair explode at
    * cap²/2 (the zipf rung measured the uncapped explode at 31× wall). */
  private[graft] val CoPairsBasketCap = 64

  /** The two co-occurrence edge lists, persisted as [[graft.io.Artifacts]]:
    * every graph-tier consumer scans the artifact instead of re-running
    * the basket collapse and pair explode, the corpus-scale shuffle that
    * dominates each graph query. `coPairs` is deterministic, so consumers
    * are bit-identical to a fresh build (GraphBackboneSpec), and the
    * oracles derive the edges from the raw fact table, which checks the
    * artifact's content on every gate run. */
  private def coSupplierPairs(s: org.apache.spark.sql.SparkSession,
                              dir: String): org.apache.spark.sql.DataFrame =
    coPairsArtifact(s, dir, "co_supplier", "l_suppkey")

  private def coPurchasePairs(s: org.apache.spark.sql.SparkSession,
                              dir: String): org.apache.spark.sql.DataFrame =
    coPairsArtifact(s, dir, "co_purchase", "l_partkey")

  private def coPairsArtifact(s: org.apache.spark.sql.SparkSession, dir: String,
      name: String, item: String): org.apache.spark.sql.DataFrame =
    s.read.parquet(graft.io.Artifacts.writeOnce(s, dir, name,
      Map("fact" -> "lineitem", "basket" -> "l_orderkey",
        "item" -> item, "maxBasket" -> CoPairsBasketCap.toString)) {
      graft.ops.Triangles.coPairs(
        tbl(s, dir, "lineitem").select("l_orderkey", item),
        "l_orderkey", item, maxBasket = CoPairsBasketCap)
    })

  /** The two snapshot versions q_cdc_diff recovers a changelog between and
    * q_agg_incremental maintains an aggregate across — ONE derivation so
    * the two queries (and both oracles, which embed the same rule) cannot
    * drift: delete every 13th key, update every 7th survivor (status X,
    * price + 10.0 exactly), insert every 97th re-keyed past the key
    * space. */
  private def cdcSnapshots(s: org.apache.spark.sql.SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val v1 = tbl(s, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val upd = col("o_orderkey") % 7 === 0
    val v2 = v1.filter(col("o_orderkey") % 13 =!= 0)
      .withColumn("o_orderstatus",
        when(upd, lit("X")).otherwise(col("o_orderstatus")))
      .withColumn("o_totalprice",
        when(upd, col("o_totalprice") + 10.0).otherwise(col("o_totalprice")))
      .unionByName(v1.filter(col("o_orderkey") % 97 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 100000000000L)
        .withColumn("o_orderstatus", lit("N")))
    (v1, v2)
  }

  /** q_agg_approx_distinct's verify-replay oracle over its recorded HLL
    * estimates (artifact `approx_distinct_rec`: one row per return flag,
    * schema-bounded) as literals. */
  private def approxDistinctOracleSql: Option[String] =
    graft.io.Artifacts.single[Seq[(String, Long)]]("approx_distinct_rec")
      .filter(_.nonEmpty).map { rec =>
      val vals = rec
        .map { case (f, n) => s"('$f', CAST($n AS BIGINT))" }.mkString(", ")
      // Exact counts drive the join: a flag the recording missed emits a
      // NULL row (hash mismatch), an out-of-bound estimate nulls out,
      // and a recorded flag the corpus lacks leaves the oracle short a
      // row — every failure direction flags.
      s"""WITH rec(l_returnflag, approx_parts) AS (VALUES $vals),
         exact AS (SELECT l_returnflag, count(DISTINCT l_partkey) AS n
                   FROM lineitem GROUP BY 1)
         SELECT e.l_returnflag,
                CASE WHEN abs(r.approx_parts - e.n) <= greatest(1, 0.06 * e.n)
                     THEN r.approx_parts END AS approx_parts
         FROM exact e LEFT JOIN rec r USING (l_returnflag)
         ORDER BY e.l_returnflag"""
    }

  /** percentile_approx's accuracy knob — rank error <= n/accuracy. ONE
    * definition shared by the query and the generated oracle's bound. */
  private val QuantAccuracy = 1000
  private val QuantPcts = Seq(25, 50, 75, 90)

  /** Count-min sketch parameters + recorded estimates — the frequency
    * member of the sketch triple (HLL distinct / GK quantile / CM
    * frequency). eps bounds the overestimate at eps*N with confidence
    * CmConf; the oracle grants 3x slack (the HLL 3x-rsd stance) so the
    * seeded, deterministic run can never flake while a broken sketch
    * still mismatches by construction (CM NEVER underestimates — the
    * lower bound is exact equality). */
  private val CmEps = 0.001
  private val CmConf = 0.99
  private val CmSeed = 42
  private val CmProbeKeys = (1L to 20L).toSeq

  /** q_agg_countmin's verify-replay oracle over its recorded estimates
    * (artifact `countmin_rec`: one row per probe key). */
  private def countMinOracleSql: Option[String] =
    graft.io.Artifacts.single[Seq[(Long, Long)]]("countmin_rec")
      .filter(_.nonEmpty).map { rec =>
      val vals = rec.map { case (k, e) =>
        s"($k, CAST($e AS BIGINT))"
      }.mkString(", ")
      val keys = CmProbeKeys.mkString(", ")
      // exact side drives the probe-key domain; a missing key, an
      // underestimate (impossible for a correct CM), or an overestimate
      // beyond 3*eps*N all null out and hash-mismatch
      s"""WITH rec(l_partkey, est_count) AS (VALUES $vals),
         n AS (SELECT count(*) AS total FROM lineitem),
         exact AS (SELECT k.l_partkey,
             (SELECT count(*) FROM lineitem li
              WHERE li.l_partkey = k.l_partkey) AS c
           FROM (SELECT unnest([$keys]) AS l_partkey) k)
         SELECT e.l_partkey,
           CASE WHEN r.est_count >= e.c
                 AND r.est_count <= e.c + 3 * $CmEps * n.total
                THEN r.est_count END AS est_count
         FROM exact e LEFT JOIN rec r USING (l_partkey) CROSS JOIN n
         ORDER BY e.l_partkey"""
    }

  /** q_agg_approx_quantiles' verify-replay oracle over its recorded GK
    * estimates (artifact `approx_quantiles_rec`: flags × percentiles
    * rows, schema-bounded). */
  private def approxQuantOracleSql: Option[String] =
    graft.io.Artifacts.single[Seq[(String, Int, Double)]]("approx_quantiles_rec")
      .filter(_.nonEmpty).map { rec =>
      val vals = rec.map { case (f, p, e) =>
        s"('$f', $p, CAST(${java.lang.Double.toString(e)} AS DOUBLE))"
      }.mkString(", ")
      val pctDom = QuantPcts.map(p => s"($p)").mkString(", ")
      // 2/accuracy + 1 row of slop on the EXACT rank of each estimate:
      // the sketch guarantees n/accuracy, the extra margin absorbs the
      // <=-vs-< rank-definition skew. Estimates are checked against
      // DuckDB's independent exact ranks; the (flags x pcts) domain
      // drives the join, so a missing flag, a missing percentile, or an
      // out-of-bound estimate all null out and hash-mismatch.
      val e = s"${2.0 / QuantAccuracy}"
      s"""WITH rec(l_returnflag, pct, est) AS (VALUES $vals),
         dom AS (SELECT f.l_returnflag, p.pct
                 FROM (SELECT DISTINCT l_returnflag FROM lineitem) f
                 CROSS JOIN (VALUES $pctDom) p(pct)),
         cnts AS (SELECT r.l_returnflag, r.pct, r.est,
             count(CASE WHEN li.l_extendedprice <= r.est THEN 1 END) AS cle,
             count(CASE WHEN li.l_extendedprice < r.est THEN 1 END) AS clt,
             count(*) AS n
           FROM rec r JOIN lineitem li ON li.l_returnflag = r.l_returnflag
           GROUP BY r.l_returnflag, r.pct, r.est)
         SELECT d.l_returnflag, d.pct,
           CASE WHEN c.cle >= (d.pct / 100.0 - $e) * c.n - 1
                 AND c.clt <= (d.pct / 100.0 + $e) * c.n + 1
                THEN c.est END AS est
         FROM dom d LEFT JOIN cnts c
           ON c.l_returnflag = d.l_returnflag AND c.pct = d.pct
         ORDER BY d.l_returnflag, d.pct"""
    }

  val defs: Map[String, Q] = Map(
    // -- aggregation family ------------------------------------------------
    "q_agg_pricing" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1997-06-30").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(round(sum("l_quantity"), 2) / count(lit(1)), 6).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    "q_agg_minmax" -> ((s, dir) => {
      tbl(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
          round(min("o_totalprice"), 2).as("min_price"),
          round(max("o_totalprice"), 2).as("max_price"),
          round(round(sum("o_totalprice"), 2) / count(lit(1)), 6).as("avg_price"),
          count(lit(1)).as("n_orders"))
        .orderBy("o_orderstatus")
    }),
    "q_agg_distinct" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    }),
    // HLL sketch — ORACLED via verify-replay (the q_dedup_simhash
    // pattern): the estimates are recorded per corpus (3 rows — the
    // l_returnflag domain) and enter the generated DuckDB oracle as
    // literals, while DuckDB independently recomputes the EXACT distinct
    // counts and nulls out any estimate outside 3x-rsd (6%) or any flag
    // the recording missed — so a sketch gone wrong, a dropped group, or
    // estimate drift all hash-mismatch instead of passing rows-only.
    "q_agg_approx_distinct" -> ((s, dir) => {
      val df = tbl(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"))
        .orderBy("l_returnflag")
      graft.io.Artifacts.once(dir, "approx_distinct_rec")(
        df.collect().toSeq.map(r => (r.getString(0), r.getLong(1))))
      df
    }),
    // GK quantile sketch (percentile_approx) — the OTHER sketch family a
    // 100 TB profiler leans on: one pass, bounded per-group summary
    // (O(accuracy·log n) tuples), map-side partial merge — where exact
    // per-group quantiles would sort every group. ORACLED via
    // verify-replay like the HLL tier: the estimates are recorded per
    // corpus (flags x percentiles, schema-bounded) and DuckDB
    // independently recomputes each estimate's EXACT rank, nulling out
    // anything outside the sketch's guaranteed n/accuracy rank error
    // (+margin) — a broken sketch, a dropped group, or estimate drift
    // all hash-mismatch. The exact counterpart is q_agg_exact_quantiles.
    "q_agg_approx_quantiles" -> ((s, dir) => {
      val pctArr = array(QuantPcts.map(p => lit(p / 100.0)): _*)
      val df = tbl(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(percentile_approx(col("l_extendedprice"), pctArr,
          lit(QuantAccuracy)).as("ests"))
        .select(col("l_returnflag"), posexplode(col("ests")).as(Seq("i", "est")))
        .select(col("l_returnflag"),
          element_at(array(QuantPcts.map(lit): _*), col("i") + 1).as("pct"),
          col("est"))
        .orderBy("l_returnflag", "pct")
      graft.io.Artifacts.once(dir, "approx_quantiles_rec")(
        df.collect().toSeq.map(r => (r.getString(0), r.getInt(1), r.getDouble(2))))
      df
    }),
    // Count-min sketch — the FREQUENCY member of the sketch triple. The
    // sketch itself is the distributed piece (count_min_sketch is a
    // map-side-mergeable aggregate: fixed eps x conf counter grid per
    // partition, merged once — how per-key frequencies stay
    // re-aggregatable at 100 TB without shuffling the keys); the probe
    // of 20 fixed part keys deserializes the one binary row on the
    // driver (ONE_ROW-bounded). ORACLED via verify-replay: recorded
    // estimates vs DuckDB's exact counts — CM never underestimates, so
    // the lower bound is exact equality and the upper bound is the
    // 3x-slackened eps*N guarantee.
    "q_agg_countmin" -> ((s, dir) => {
      // The distributed sketch build runs EVERY invocation — memoizing
      // the 20-row result would make every benchmark sample after the
      // first time a no-op local sort (round-13 review catch). Only the
      // first run's estimates are frozen for the oracle literals; the
      // seeded build is deterministic, so re-runs produce the same rows.
      val bytes = tbl(s, dir, "lineitem")
        .agg(expr(s"count_min_sketch(l_partkey, ${CmEps}d, ${CmConf}d, " +
          s"$CmSeed)").as("sk"))
        .head().getAs[Array[Byte]](0)
      val sk = org.apache.spark.util.sketch.CountMinSketch.readFrom(bytes)
      val rec = CmProbeKeys.map(k =>
        (k, sk.estimateCount(java.lang.Long.valueOf(k))))
      graft.io.Artifacts.once(dir, "countmin_rec")(rec)
      import s.implicits._
      rec.toDF("l_partkey", "est_count").orderBy("l_partkey")
    }),
    // Single-pass heavy hitters (Misra-Gries via df.stat.freqItems): every
    // value above the support threshold is guaranteed present (false
    // positives possible, false negatives not) — one scan, map-side
    // summaries merged once, no shuffle of the data itself. Oracled:
    // with fewer distinct values (5 priorities) than sketch counters
    // (ceil(1/0.15) = 7) nothing is ever evicted, so the output is
    // exactly the distinct set — deterministic despite the approximate
    // algorithm. Output exploded + sorted into a stable row set.
    "q_agg_freq_items" -> ((s, dir) =>
      tbl(s, dir, "orders")
        .stat.freqItems(Seq("o_orderpriority"), 0.15)
        .select(explode(col("o_orderpriority_freqItems")).as("heavy_hitter"))
        .orderBy("heavy_hitter")),
    // Unpivot (melt) — the inverse of q_agg_pivot: wide metric columns to
    // long (metric, value) rows. Narrow (each input row expands in place,
    // no shuffle until the aggregate); sums rounded to absorb double
    // partial-sum ulp, the catalog's standard float-agg pattern.
    "q_unpivot_metrics" -> ((s, dir) =>
      tbl(s, dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .unpivot(Array(col("l_orderkey")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "metric", "value")
        .groupBy("metric")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
        .orderBy("metric")),
    "q_agg_rollup" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n_rows"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("sum_qty"), col("n_rows"))
        .orderBy("returnflag", "linestatus")
    }),
    "q_agg_cube" -> ((s, dir) => {
      tbl(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(round(sum("o_totalprice"), 2).as("sum_price"), count(lit(1)).as("n_rows"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("orderstatus"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("orderpriority"),
          col("sum_price"), col("n_rows"))
        .orderBy("orderstatus", "orderpriority")
    }),

    // Statistical aggregates (single pass, map-side partials like any agg).
    "q_agg_stats" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
          round(var_samp(col("l_quantity")), 6).as("var_qty"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("covar_qty_price"))
        .orderBy("l_returnflag")
    }),
    // Exact percentiles (sort-based within group) + median.
    "q_agg_percentiles" -> ((s, dir) => {
      tbl(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
          round(median(col("o_totalprice")), 4).as("med_price"),
          round(percentile(col("o_totalprice"), lit(0.25)), 4).as("p25"),
          round(percentile(col("o_totalprice"), lit(0.75)), 4).as("p75"))
        .orderBy("o_orderpriority")
    }),
    // EXACT corpus-wide order statistics WITHOUT a global sort
    // (ops.OrderStats): iterative histogram bisection over the
    // cents-quantized price domain. q_agg_percentiles above computes
    // per-group percentiles by sorting WITHIN bounded groups; this is the
    // complementary regime — ONE statistic over ALL rows, where the naive
    // exact plans (global ORDER BY + offset, or row_number over an
    // unpartitioned window) funnel the corpus through one total order and
    // percentile_approx gives up exactness. Each round is one
    // map-side-combined counter aggregation (never a row-bearing
    // shuffle); a ~1e7-wide cents domain resolves in 2 rounds. The ranks
    // are the discrete lower quantiles rank = (n-1)*num/den in integer
    // math; the oracle replays them positionally via row_number()-1.
    "q_agg_exact_quantiles" -> ((s, dir) => {
      import graft.ops.OrderStats.{Quantile, quantilesDisc}
      val cents = tbl(s, dir, "lineitem")
        .select(floor(col("l_extendedprice") * 100.0 + 0.5).cast("long")
          .as("cents"))
      quantilesDisc(cents, "cents",
        Seq(Quantile("p25", 1, 4), Quantile("p50", 1, 2),
          Quantile("p75", 3, 4), Quantile("p99", 99, 100)))
        .withColumnRenamed("value", "value_cents")
    }),
    // Quantile-threshold curation — the "keep the top decile" filter
    // pattern (data pruning by quality score percentile): the exact p90
    // of documents.n_chars comes from the same histogram-bisection
    // selection as q_agg_exact_quantiles (two counter-cell scans, no
    // sort), and the filter + per-lang census is then one
    // predicate-pushable scan. The composition matters at 100 TB: the
    // naive "percentile() in a scalar subquery" plan sorts the corpus to
    // find one number; here the threshold costs two histogram passes and
    // arrives as a LITERAL, so the main scan prunes on it like any
    // static predicate.
    "q_filter_quantile" -> ((s, dir) => {
      import graft.ops.OrderStats.{Quantile, quantilesDisc}
      val docs = tbl(s, dir, "documents")
      val p90 = quantilesDisc(docs.select(col("n_chars")), "n_chars",
        Seq(Quantile("p90", 9, 10))).head().getLong(1)
      docs.filter(col("n_chars") >= p90)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc_id"),
          sum("n_chars").as("sum_chars"))
        .orderBy("lang")
    }),
    // Pivot: one output column per l_linestatus value (conditional agg).
    "q_agg_pivot" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(round(sum("l_quantity"), 2))
        .orderBy("l_returnflag")
    }),
    // collect_set + deterministic serialization (sorted, joined) — the
    // grouped-list shape; string output keeps the oracle compare scalar.
    "q_agg_collect" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          array_join(sort_array(collect_set(col("l_linestatus"))), ",").as("statuses"),
          countDistinct(col("l_linestatus")).as("n_statuses"))
        .orderBy("l_returnflag")
    }),

    // GROUPING SETS: per-status and per-priority totals plus the grand total
    // in one pass (one shuffle, expand-then-aggregate), instead of three
    // separate group-bys unioned together.
    "q_agg_grouping_sets" -> ((s, dir) => {
      tbl(s, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(round(sum("o_totalprice"), 2).as("sum_price"), count(lit(1)).as("n_rows"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("orderstatus"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("orderpriority"),
          col("sum_price"), col("n_rows"))
        .orderBy("orderstatus", "orderpriority")
    }),

    // -- filter / scan family ---------------------------------------------
    // Predicate + projection both push to the parquet scan (PushedFilters).
    "q_filter_pushdown" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .filter(col("l_quantity") < 5 && col("l_discount") > 0.05)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
        .orderBy("l_orderkey", "l_linenumber")
    }),
    "q_filter_in_between" -> ((s, dir) => {
      tbl(s, dir, "part")
        .filter(col("p_size").between(10, 20) &&
          col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"))
        .select("p_partkey", "p_brand", "p_size")
        .orderBy("p_partkey")
    }),

    // -- join family -------------------------------------------------------
    "q_join_broadcast" -> ((s, dir) => {
      val nation = tbl(s, dir, "nation")
      val region = tbl(s, dir, "region")
      nation.join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"), col("r_name"))
        .orderBy("n_nationkey")
    }),
    "q_join_shuffle" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem")
      val o = tbl(s, dir, "orders")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("o_orderpriority")
    }),
    // Co-located join on a bucketed layout: both sides bucketed + bucket-
    // sorted on the join key (one-time layout cost, amortized across every
    // downstream join/agg on that key), then MERGE-hinted so the tiny test
    // tables don't fall back to broadcast — the plan has NO hash exchange:
    // scan -> zero-exchange sort-merge join -> zero-exchange aggregation
    // (the groupBy key IS the bucket key), plus only the presentation
    // sort's range exchange. PlanContractSpec pins that shape.
    "q_join_bucketed" -> ((s, dir) => {
      val sfx = graft.ops.Bucketing.tableSuffix(dir)
      val ob = graft.ops.Bucketing.ensureBucketed(s, s"graft_orders_bkt_$sfx",
        tbl(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
        buckets = 8, key = "o_custkey")
      val cb = graft.ops.Bucketing.ensureBucketed(s, s"graft_customer_bkt_$sfx",
        tbl(s, dir, "customer").select("c_custkey", "c_mktsegment"),
        buckets = 8, key = "c_custkey")
      s.table(ob).hint("merge")
        .join(s.table(cb), col("o_custkey") === col("c_custkey"))
        .groupBy("c_custkey")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("revenue"))
        .orderBy("c_custkey")
    }),
    "q_join_multiway" -> ((s, dir) => {
      val c = tbl(s, dir, "customer")
      val n = tbl(s, dir, "nation")
      val r = tbl(s, dir, "region")
      val o = tbl(s, dir, "orders")
      o.join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(round(sum("o_totalprice"), 2).as("sum_price"), count(lit(1)).as("n_orders"))
        .orderBy("r_name")
    }),
    "q_join_semi" -> ((s, dir) => {
      val c = tbl(s, dir, "customer")
      val o = tbl(s, dir, "orders").filter(col("o_totalprice") > 100000)
      c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),
    // Anti-join against PREMIUM orders (>300k): every customer has at
    // least one order at the driver scale factors, so the unfiltered
    // anti-join returned 0 rows there — a zero-row hash match is a
    // degenerate oracle. "Customers with no premium order" keeps the
    // anti semantics and is non-empty at every test SF (3 / 30 / 308
    // rows at sf0.001 / 0.01 / 0.1).
    "q_join_anti" -> ((s, dir) => {
      val c = tbl(s, dir, "customer")
      val o = tbl(s, dir, "orders").filter(col("o_totalprice") > 300000)
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),
    "q_join_outer" -> ((s, dir) => {
      val c = tbl(s, dir, "customer")
      val o = tbl(s, dir, "orders")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"),
          round(sum(coalesce(col("o_totalprice"), lit(0.0))), 2).as("sum_price"))
        .orderBy("c_custkey")
    }),
    // Theta join: equality on nation + inequality on balances.
    "q_join_nonequi" -> ((s, dir) => {
      val sup = tbl(s, dir, "supplier")
      val c = tbl(s, dir, "customer")
      sup.join(c, col("s_nationkey") === col("c_nationkey") && col("s_acctbal") > col("c_acctbal"))
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("s_nationkey")
    }),
    // Sweep twin of q_join_nonequi (RangeJoin.countPairsBelow): the
    // same supplier-outranks-customer counts as ONE window cumsum per
    // nation instead of materializing the O(m²)-per-nation pair join —
    // 190x wall at the sf10 sweep for the pair plan, linear here. Both
    // entries share one oracle text, proving the plans equivalent.
    "q_join_nonequi_sweep" -> ((s, dir) => {
      graft.ops.RangeJoin.countPairsBelow(
          tbl(s, dir, "supplier").select(
            col("s_nationkey").as("nk"), col("s_acctbal")),
          "s_acctbal",
          tbl(s, dir, "customer").select(
            col("c_nationkey").as("nk"), col("c_acctbal")),
          "c_acctbal",
          Seq("nk"))
        .select(col("nk").as("s_nationkey"), col("n_pairs"))
        .orderBy("s_nationkey")
    }),
    "q_join_cross" -> ((s, dir) => {
      val r = tbl(s, dir, "region")
      r.as("a").crossJoin(r.as("b"))
        .select(col("a.r_name").as("r1"), col("b.r_name").as("r2"))
        .orderBy("r1", "r2")
    }),

    // ---- Composite analytic pipelines (TPC-H shapes): multi-join +
    // filter + agg + top-k in ONE plan, exercising join ORDERING and
    // AQE's runtime broadcast decisions rather than a single operator.
    // Declared join order is fact-first (lineitem |><| orders |><| dims);
    // Catalyst/AQE is free to reorder and to promote filtered dimensions
    // to broadcast — PlanContractSpec pins the placement contract (dims
    // broadcast, the fact table never on a build side, one shuffle agg).

    // TPC-H Q3 shape: segment-filtered customers, orders placed before
    // the cut shipping after it, revenue per order, top 10. The date cut
    // filters BOTH fact-side scans (pushed to parquet); the customer
    // filter shrinks the dim to ~20% before it reaches its join.
    "q_composite_shipping" -> ((s, dir) => {
      val cut = lit("1998-07-01").cast("timestamp")
      val c = tbl(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = tbl(s, dir, "orders").filter(col("o_orderdate") < cut)
      val l = tbl(s, dir, "lineitem").filter(col("l_shipdate") > cut)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .select(col("l_orderkey"), col("revenue"),
          // o_orderdate is TIMESTAMP_NTZ; the UTC session (Verify/Bench
          // both pin it) makes the NTZ->TZ cast a bitwise identity, so
          // this equals DuckDB's epoch_us over the naive value
          unix_micros(col("o_orderdate").cast("timestamp")).as("o_orderdate_us"),
          col("o_orderpriority"))
        .orderBy(desc("revenue"), asc("o_orderdate_us"), asc("l_orderkey"))
        .limit(10)
    }),

    // TPC-H Q10 shape: returned-item revenue per customer over one
    // half-year window, nation joined for display, top 20. Four tables,
    // two shuffle-scale joins + one tiny dim broadcast; the l_returnflag
    // and o_orderdate predicates push to the scans.
    "q_composite_returns" -> ((s, dir) => {
      val c = tbl(s, dir, "customer")
      val o = tbl(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-07-01").cast("timestamp"))
      val l = tbl(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      val n = tbl(s, dir, "nation")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .select(col("c_custkey"), col("c_name"), col("revenue"),
          col("c_acctbal"), col("n_name"))
        .orderBy(desc("revenue"), asc("c_custkey"))
        .limit(20)
    }),

    // TPC-H Q4 shape: order-priority census over one quarter, existence
    // of a line item shipped after the order date as a correlated
    // EXISTS — planned as a LEFT SEMI join whose condition carries the
    // non-equi l_shipdate > o_orderdate predicate alongside the key.
    "q_composite_priority" -> ((s, dir) => {
      val o = tbl(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
      val l = tbl(s, dir, "lineitem")
      o.join(l, col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),

    // Iterative graph analytics: 5 rounds of fixed-point PageRank over the
    // customer<->supplier trade graph (distinct (cust, supp) pairs from
    // orders x lineitem, symmetrized; keys namespaced 2k / 2k+1 so the two
    // id spaces cannot collide). Integer "microranks" make the iterated
    // sums order-invariant — bit-identical on any cluster size AND to the
    // DuckDB oracle, which is generated from the same loop
    // (ops.PageRank.oracleSql) so recurrence and oracle cannot drift.
    "q_graph_pagerank" -> ((s, dir) => {
      val o = tbl(s, dir, "orders").select("o_orderkey", "o_custkey")
      val l = tbl(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
      val cs = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      val edges = cs.union(cs.select(col("dst").as("src"), col("src").as("dst")))
      graft.ops.PageRank.fixedPoint(edges, iters = pagerankIters).orderBy("node")
    }),

    // Triangle census over the co-supplier BACKBONE graph (ops.Triangles):
    // suppliers sharing an order, weighted by distinct shared orders; each
    // node keeps its 5 strongest partners (TopK's bounded heap — partial
    // top-k map-side, k rows per node cross the shuffle), and triangles
    // are counted on the surviving union backbone with degree-ordered
    // orientation (wedge fan-out O(m^1.5), hub-safe). The backbone step is
    // part of the operator because raw co-occurrence graphs saturate —
    // sf0.1's is 453k edges over 1000 suppliers, 91% of complete, where a
    // triangle listing is Θ(n³) and carries no structure.
    "q_graph_triangles" -> ((s, dir) => {
      // co-supplier weights from the persisted backbone artifact
      // (coSupplierPairs — per-order supplier-set arrays + map-side pair
      // explode, hot-basket cap 64, built once per corpus and scanned
      // here instead of re-shuffling lineitem)
      val pairs = coSupplierPairs(s, dir)
      graft.ops.Triangles.perNode(graft.ops.Triangles.backbone(pairs, k = 5))
        .orderBy("node")
    }),

    // Link prediction over the co-supplier backbone (ops.Triangles
    // .linkPredict): common-neighbor counts + ppm-quantized Jaccard for
    // non-adjacent supplier pairs — "who should be trading partners" from
    // neighborhood overlap alone (Liben-Nowell & Kleinberg). Same pair
    // derivation + top-5 backbone as q_graph_triangles; candidates
    // explode map-side from per-node adjacency arrays (bounded by the
    // backbone's construction), one wedge aggregation, broadcast
    // degree/edge joins. Fully DuckDB-oracled: the oracle replays the
    // backbone via row_number and counts wedges with a relational
    // self-join.
    "q_graph_linkpred" -> ((s, dir) => {
      val pairs = coSupplierPairs(s, dir)
      graft.ops.Triangles
        .linkPredict(graft.ops.Triangles.backbone(pairs, k = 5))
        .orderBy(desc("jaccard_ppm"), asc("x"), asc("y"))
    }),

    // Market-basket association rules (Agrawal-Srikant Apriori, VLDB'94,
    // restricted to the 2-itemset tier a relational engine expresses
    // natively): brand pairs co-ordered in >= 2% of baskets, with
    // confidence and lift. The scale shape: marginals are a
    // domain-bounded aggregate (25 brands — broadcast everywhere), and
    // the pair stream explodes map-side from per-basket brand-set arrays
    // (k items/basket -> k^2/2 bounded combinations, never a row-bearing
    // self-join). Support anti-monotonicity (supp_ab <= min(supp_a,
    // supp_b)) means the frequent-member conditions prune nothing beyond
    // pair-minsup — they are kept as documentation, and as the hook
    // where the Apriori prefilter attaches for unbounded item domains.
    // Thresholds are exact integer cross-multiplications
    // (supp*100 >= n*2); confidence/lift are ppm-quantized with
    // floor-composed integer division, replayed step-for-step by the
    // oracle so neither engine touches a float.
    "q_basket_rules" -> ((s, dir) => {
      // ONE corpus-scale shuffle: collapse each basket to its sorted
      // brand SET (collect_set dedupes, so no distinct() pre-shuffle;
      // per-key state is domain-bounded — 25 brands). Everything
      // downstream — basket count, marginals, and the pair table — is
      // derived from this one exchange (ReuseExchange; the lineitem scan
      // runs once): pairs explode MAP-SIDE from the sorted array (the
      // basket array IS the self-join, k^2/2 bounded combinations per
      // basket, no row-bearing join), and marginals re-aggregate the
      // exploded sets at vocab size. For unbounded item domains the
      // Apriori prefilter returns as an array_intersect against the
      // broadcast frequent-item set before the pair explode; with a
      // bounded brand domain the vocab^2 pair table already is the
      // pruned size, so the filter runs there.
      val baskets = tbl(s, dir, "lineitem")
        .join(broadcast(tbl(s, dir, "part").select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy("l_orderkey")
        .agg(sort_array(collect_set(col("p_brand"))).as("brands"))
      // ONE vocab-sized aggregation carries the marginals AND the basket
      // count: each basket emits a sentinel "" alongside its brands, so
      // the sentinel's support IS n_baskets (brands are never empty
      // strings). A separate baskets.count() branch would let Catalyst
      // prune collect_set out of it and re-scan the fact table
      // column-pruned — the sentinel keeps every tier on the one basket
      // exchange.
      val tallies = baskets
        .select(explode(concat(array(lit("")), col("brands"))).as("p_brand"))
        .groupBy("p_brand").agg(count(lit(1)).as("supp"))
      val nb = tallies.filter(col("p_brand") === "")
        .select(col("supp").as("n_baskets"))
      val freq = tallies.filter(col("p_brand") =!= "")
        .crossJoin(broadcast(nb))
        .filter(col("supp") * 100 >= col("n_baskets") * 2)
        .select("p_brand", "supp")
      val pairs = baskets
        .select(explode(flatten(transform(col("brands"), (x, i) =>
          transform(slice(col("brands"), i + 2, size(col("brands"))),
            y => struct(x.as("brand_a"), y.as("brand_b")))))).as("p"))
        .groupBy(col("p.brand_a").as("brand_a"), col("p.brand_b").as("brand_b"))
        .agg(count(lit(1)).as("supp_ab"))
      pairs.crossJoin(broadcast(nb))
        .filter(col("supp_ab") * 100 >= col("n_baskets") * 2)
        .join(broadcast(freq.select(col("p_brand").as("brand_a"),
          col("supp").as("supp_a"))), "brand_a")
        .join(broadcast(freq.select(col("p_brand").as("brand_b"),
          col("supp").as("supp_b"))), "brand_b")
        .select(col("brand_a"), col("brand_b"), col("supp_a"), col("supp_b"),
          col("supp_ab"),
          expr("supp_ab * 1000000 div supp_a").as("conf_ab_ppm"),
          expr("supp_ab * 1000000 div supp_b").as("conf_ba_ppm"),
          expr("(supp_ab * 1000000 div supp_a) * n_baskets div supp_b")
            .as("lift_ppm"))
        .orderBy("brand_a", "brand_b")
    }),
    // Connected components over the part co-purchase graph
    // (ops.Components — the same pointer-jumping RDD loop the dedup
    // cluster step uses, here surfaced as a first-class graph query):
    // parts are linked when >= 2 distinct orders contain both, and each
    // node gets the minimum part id reachable from it. The edge build is
    // the bounded per-basket pair explode (q_basket_rules' shape); the
    // loop shuffles only vertex-sized label tables per round against a
    // once-partitioned edge list, converging in O(log diameter) rounds.
    // Fully oracled: DuckDB replays min-label reachability as a recursive
    // CTE (UNION-deduped label propagation to the fixed point) — feasible
    // at verification scale, which is exactly the regime where the
    // quadratic reach table still fits; the Spark side is the shape that
    // survives when it does not.
    "q_graph_components" -> ((s, dir) => {
      // per-order part-set pairs from the persisted backbone artifact
      // (coPurchasePairs — built once per corpus, scanned per consumer)
      val edges = coPurchasePairs(s, dir)
        .filter(col("w") >= 2)
      graft.ops.Components.connectedComponents(edges, "src", "dst")
        .orderBy("id")
    }),
    // Label-propagation community detection over the same co-purchase
    // graph (ops.Lpa — deterministic synchronous LPA, min-label
    // tie-break): communities REFINE the components q_graph_components
    // finds — a component splits where co-purchase density does. Per
    // round: one vertex-sized label join against the once-partitioned
    // edge list + two combiner-backed aggregations; never an edge-sized
    // shuffle after round 0. Fully oracled — determinism makes the
    // 3-round vote/argmax recurrence replayable as DuckDB CTEs.
    "q_graph_lpa" -> ((s, dir) => {
      val pairs = coPurchasePairs(s, dir)
        .filter(col("w") >= 2).select("src", "dst")
      val sym = pairs.unionByName(
        pairs.select(col("dst").as("src"), col("src").as("dst")))
      graft.ops.Lpa.propagate(sym, rounds = 3).orderBy("id")
    }),
    // k-core backbone extraction over the same co-purchase graph
    // (ops.KCore — synchronous Batagelj-Zaversnik peeling): the 2-core,
    // i.e. the maximal subgraph where every part keeps >= 2 co-purchase
    // partners — peeling strips every tree-like tendril and leaves the
    // cyclic backbone the triangle census and LPA communities live on.
    // Peeling is confluent (unique fixpoint, no tie-break needed) and
    // CONVERGENCE-DRIVEN: rounds run until a peel removes nothing (one
    // cheap count per round — exact, since survivor sets only shrink),
    // so a 100x corpus with a deeper peel order can never silently
    // under-iterate; the executed round count is recorded per corpus and
    // the DuckDB oracle replays exactly those rounds as CTEs (4 executed
    // rounds at sf0.01 incl. the final no-change round).
    // Per round: two vertex-sized semi-joins against
    // the once-partitioned edge list + one combiner-backed degree
    // aggregation — edges never reshuffle.
    "q_graph_kcore" -> ((s, dir) => {
      val pairs = coPurchasePairs(s, dir)
        .filter(col("w") >= 2).select("src", "dst")
      val sym = pairs.unionByName(
        pairs.select(col("dst").as("src"), col("src").as("dst")))
      val (core, rounds) = graft.ops.KCore.peelConverged(sym, k = 2)
      graft.io.Artifacts.once(dir, "kcore_rounds")(rounds)
      core.orderBy("id")
    }),
    // Modularity scoring (Newman-Girvan Q) of a vertex partition over
    // the same co-purchase graph — the community-QUALITY metric that
    // grades what LPA/components produce. The partition here is the
    // deterministic brand attribute (SQL-replayable, unlike LPA's
    // iteratively-computed labels), which also makes this the classic
    // "is my catalog taxonomy aligned with purchase behavior"
    // check. ENTIRELY exact integer arithmetic: per community c the
    // emitted numerator is 4·m·e_c − d_c² (Q = Σ_c num_c / (2m)²), so
    // there is no float anywhere — no quantization step needed at all.
    // Scale shape: one coPairs shuffle builds the edge list (the shared
    // capped kernel), degrees are one vertex-keyed aggregate, the brand
    // attribution joins the part dimension (AQE broadcasts it at
    // catalog scale; shuffles fine beyond), and every post-graph row
    // set is |brands|-bounded.
    "q_graph_modularity" -> ((s, dir) => {
      val edges = coPurchasePairs(s, dir)
        .filter(col("w") >= 2).select("src", "dst")
      val m = edges.agg(count(lit(1)).as("m"))
      val deg = edges.select(col("src").as("v"))
        .unionAll(edges.select(col("dst").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
      // the attribution dim rides as a forced broadcast (ENTITY_DIM: a
      // (partkey, brand) projection) — without the hint the sf10 rung
      // sort-merge-joined the EDGE LIST twice (src + dst attribution),
      // 28 s; broadcast attribution keeps both joins map-side. Swap to
      // shuffle joins if the product catalog outgrows executors.
      val brandOf = broadcast(tbl(s, dir, "part")
        .select(col("p_partkey").as("v"), col("p_brand").as("brand")))
      val dByC = deg.join(brandOf, "v")
        .groupBy("brand")
        .agg(count(lit(1)).as("n_nodes"), sum("deg").as("degree_sum"))
      val intra = edges
        .join(brandOf.select(col("v").as("src"), col("brand").as("b_src")), "src")
        .join(brandOf.select(col("v").as("dst"), col("brand").as("b_dst")), "dst")
        .filter(col("b_src") === col("b_dst"))
        .groupBy(col("b_src").as("brand"))
        .agg(count(lit(1)).as("intra_edges"))
      dByC.join(intra, Seq("brand"), "left")
        .na.fill(0L, Seq("intra_edges"))
        .crossJoin(m)
        .select(col("brand"), col("n_nodes"), col("degree_sum"),
          col("intra_edges"), col("m"),
          (lit(4L) * col("m") * col("intra_edges") -
            col("degree_sum") * col("degree_sum")).as("q_contrib_num"))
        .orderBy("brand")
    }),
    // Multi-source BFS hop distance over the co-purchase graph
    // (ops.Bfs — the Pregel SSSP shape): every part's hop count from the
    // deterministic seed set (partkey % 50 == 0) — the graph-locality
    // signal seed-based trust/contamination propagation needs. Min-
    // relaxation is confluent and CONVERGENCE-DRIVEN: rounds run until a
    // relaxation reaches no new vertex (one cheap count per round —
    // exact, since the reached set only grows and first-reach = minimum
    // hop), so a deeper-diameter corpus can never silently
    // under-iterate; the executed round count is recorded per corpus and
    // the oracle replays exactly those rounds. Per round one
    // vertex-sized join + min-combine agg against the once-partitioned
    // edge list, run as an RDD loop (see ops.Bfs).
    "q_graph_bfs" -> ((s, dir) => {
      val pairs = coPurchasePairs(s, dir)
        .filter(col("w") >= 2).select("src", "dst")
      val sym = pairs.unionByName(
        pairs.select(col("dst").as("src"), col("src").as("dst")))
      val (dist, rounds) =
        graft.ops.Bfs.distancesConverged(sym, col("id") % 50 === 0)
      graft.io.Artifacts.once(dir, "bfs_rounds")(rounds)
      dist.orderBy("id")
    }),
    // Skew mitigation by salting: append a deterministic salt to the fact
    // side's join key and replicate the other side once per salt value, so
    // one pathologically hot key spreads over SALT shuffle partitions.
    // AQE's skew-join split handles moderate skew on its own; explicit
    // salting is the escape hatch for a single giant key AQE can't split
    // (it must keep matching rows together unless the build side is
    // replicated — which is exactly what the salt does). Result set is
    // identical to the unsalted join, so the oracle is the plain join SQL.
    "q_join_skew_salted" -> ((s, dir) => {
      val salts = 8
      val li = tbl(s, dir, "lineitem")
        .withColumn("f_salt", pmod(hash(col("l_orderkey"), col("l_linenumber")), lit(salts)))
      val o = tbl(s, dir, "orders")
        .withColumn("d_salt", explode(sequence(lit(0), lit(salts - 1))))
      li.join(o, col("l_orderkey") === col("o_orderkey") && col("f_salt") === col("d_salt"))
        .groupBy("o_orderstatus")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n_items"))
        .orderBy("o_orderstatus")
    }),

    // Cost-based join reorder (Catalyst CBO): the same five-table join
    // written fact-first on purpose — without statistics the rule-based
    // optimizer keeps the syntactic order; with `ANALYZE TABLE` stats in
    // the catalog and spark.sql.cbo.joinReorder on, the DP join
    // enumeration starts from the selective dimension chain instead
    // (cboJoinOrderQuery's scaladoc; both orders plan-pinned in
    // PlanContractSpec, equal results by construction). Result is
    // order-invariant, so the oracle is the plain SQL.
    "q_cbo_join_order" -> ((s, dir) => cboJoinOrderQuery(s, dir, cbo = true)),

    // AQE-NATIVE skew handling — the runtime twin of q_join_skew_salted's
    // manual salting: the same skewed-key join (events' zipf-hot user_id
    // against the customer dimension) UNSALTED, with adaptive skew-join
    // splitting the hot shuffle partition at runtime instead. Tuned
    // thresholds make the optimization OBSERVABLE at test scale (the
    // defaults target 256 MB partitions); a fresh newSession() because
    // AQE reads these at action time (the q_join_runtime_filter stance).
    // Broadcast is disabled — a broadcast join has no shuffle to skew;
    // the demo exists for the dim-too-big-to-broadcast regime. The skew
    // split is pure plan surgery (partitions split + build side
    // replicated), so results are plan-invariant and the oracle is the
    // plain join SQL; the isSkewJoin plan flag is pinned in
    // PlanContractSpec. Salting remains the right tool when ONE KEY
    // dwarfs a whole partition budget (AQE cannot split a single key's
    // sort run without salting) — q_skew_profile tells you which regime
    // you are in.
    "q_join_skew_aqe" -> ((s, dir) => {
      val s2 = s.newSession()
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      s2.conf.set("spark.sql.shuffle.partitions", "64")
      s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      s2.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1KB")
      s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "512b")
      // the skew SPLIT works at MAPPER granularity (a reduce partition
      // splits along its map-output blocks), so a fact side read as ONE
      // map task — the test corpus is one small file — is unsplittable
      // by construction and the rule silently no-ops (measured). The
      // repartition stands in for the thousands of fact-scan map tasks a
      // real deployment has; it is the demo's scaffolding, not a cost
      // the production plan pays.
      val e = tbl(s2, dir, "events").repartition(16)
      val c = tbl(s2, dir, "customer")
      e.join(c, e("user_id") === c("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_events"),
          round(sum("value"), 2).as("sum_value"))
        .orderBy("c_mktsegment")
    }),

    // Runtime bloom-filter join pruning (Catalyst's InjectRuntimeFilter):
    // a selective dim-side predicate becomes a bloom filter built in a
    // scalar subquery and applied to the FACT side as might_contain()
    // BEFORE its shuffle — at 100 TB this is the difference between
    // shuffling the whole fact table and shuffling the ~0.1% that can
    // match. Spark only injects it when the fact side is large enough to
    // matter (10 GB scan default), so the catalog query lowers the
    // application-side threshold to demonstrate the plan at test scale —
    // in a fresh newSession(): optimizer confs are read at ACTION time,
    // long after this function returns, so a set-then-restore on the
    // shared session would disable the filter before it ever ran (and
    // polluting the shared session would change every other query's
    // plan). Broadcast is disabled because a broadcast join IS already a
    // build-side filter; the bloom path exists precisely for the
    // dim-too-big-to-broadcast regime. Result set is plan-invariant, so
    // the oracle is the plain join SQL; the might_contain injection is
    // pinned in PlanContractSpec.
    "q_join_runtime_filter" -> ((s, dir) => {
      val s2 = s.newSession()
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      s2.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val o = tbl(s2, dir, "orders")
        .filter(col("o_totalprice") > 490000.0)
        .select("o_orderkey")
      val l = tbl(s2, dir, "lineitem")
        .select("l_orderkey", "l_extendedprice")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey")
        .agg(round(sum(col("l_extendedprice")), 2).as("rev"),
          count(lit(1)).as("n_items"))
        .orderBy("l_orderkey")
    }),

    // Key-skew profile: the diagnostic an operator runs BEFORE picking a
    // join strategy at scale — the top heavy keys with their share of the
    // table (ppm) and their multiple of the mean key frequency (x10000).
    // One scan + map-side-combined groupBy; the two global scalars arrive
    // via a broadcast cross join of a 1-row aggregate, never a collect.
    // All derived columns are floor'd integer math (no round-half
    // divergence between engines). Feeds the salting decision
    // q_join_skew_salted demonstrates: salt when skew_x10000 says one key
    // dwarfs the mean.
    "q_skew_profile" -> ((s, dir) => {
      val cnt = tbl(s, dir, "events")
        .groupBy("user_id").agg(count(lit(1)).as("cnt"))
      val tot = cnt.agg(sum("cnt").as("total"), count(lit(1)).as("n_keys"))
      cnt.crossJoin(broadcast(tot))
        .select(col("user_id"), col("cnt"),
          floor(col("cnt") * lit(1000000.0) / col("total")).as("share_ppm"),
          floor(col("cnt") * lit(10000.0) * col("n_keys") / col("total")).as("skew_x10000"))
        .orderBy(desc("cnt"), asc("user_id"))
        .limit(10)
    }),

    // Data-quality profile: one scan, one row — nulls, domain violations,
    // key uniqueness (graft.ops.Quality).
    "q_quality_profile" -> ((s, dir) => {
      graft.ops.Quality.profile(
        tbl(s, dir, "lineitem"),
        keyCols = Seq("l_orderkey", "l_linenumber"),
        violations = Seq(
          "null_shipdate" -> col("l_shipdate").isNull,
          "nonpositive_qty" -> (col("l_quantity") <= 0),
          "discount_out_of_range" -> (col("l_discount") < 0 || col("l_discount") > 1),
          "negative_price" -> (col("l_extendedprice") < 0)))
    }),

    // SQL entry path: a correlated scalar subquery through spark.sql —
    // Catalyst decorrelates it into an aggregate + join, same physical
    // shape as the hand-written DataFrame equivalent.
    "q_sql_subquery" -> ((s, dir) => {
      registerAll(s, dir)
      s.sql("""SELECT c_custkey, c_nationkey, round(c_acctbal, 2) AS acctbal
               FROM customer c
               WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
                                  WHERE c2.c_nationkey = c.c_nationkey)
               ORDER BY c_custkey""")
    }),

    // SQL entry path: recursive CTE (Spark 4 WITH RECURSIVE; plans as
    // UnionLoop). A per-region chain walk — edges link each nation to the
    // next-higher nationkey in its region, the recursion follows them from
    // each region's smallest key accumulating depth. Deterministic closure
    // over a fixed edge set; DuckDB oracles the identical SQL natively.
    // At scale this is the iterative-closure shape (org charts, BOM
    // explosions) expressed declaratively instead of a driver-side loop:
    // each iteration is one distributed join, the engine handles
    // fixpoint detection. Iterations = closure DEPTH — right for the
    // shallow hierarchies this expresses; for connected components over
    // billion-edge graphs (depth can be huge) use ops.Components'
    // pointer-jumping loop instead, which converges in O(log d) rounds
    // (q_sim_clusters is the catalog template).
    "q_sql_recursive_cte" -> ((s, dir) => {
      registerAll(s, dir)
      s.sql(RecursiveCteSql)
    }),
    // Small-file compaction as a driver-gated catalog entry
    // (io.Maintenance): write a deliberately fragmented copy of a
    // projection (16 round-robin files), compact to a 4-file plan, and
    // return the layout transition + row count. n_files_after is pure
    // planFileCount arithmetic — ceil(total / (total/4 + 1)) = 4 — so the
    // whole result is oracle-able as constants + count(*).
    "q_compact_layout" -> ((s, dir) => {
      import s.implicits._
      val work = graft.io.TempDirs.createDeletedOnExit("graft_compact_q_")
        .getAbsolutePath + "/docs"
      tbl(s, dir, "documents").select("doc_id")
        .repartition(16).write.mode("overwrite").parquet(work)
      val before = graft.io.Maintenance.layoutStats(s, work)
      // The oracle pins the 16 -> 4 transition as constants; that holds
      // whenever documents fills all 16 round-robin partitions. Assert it
      // here so a tiny future dataset fails with a clear cause instead of
      // an unobvious hash mismatch against the constant oracle.
      require(before.nFiles == 16 && before.totalBytes > 12,
        s"q_compact_layout precondition: expected a 16-file fragmented " +
          s"layout (got ${before.nFiles} files, ${before.totalBytes} " +
          "bytes) — documents is too small for the pinned oracle constants")
      val target = before.totalBytes / 4 + 1
      val after = graft.io.Maintenance.compact(s, work, target)
      val nRows = s.read.parquet(work).count()
      Seq((before.nFiles, after.nFiles, nRows))
        .toDF("n_files_before", "n_files_after", "n_rows")
    }),
    // Z-order clustered write as a driver-gated catalog entry
    // (ops.ZOrder): cluster an orders projection on the interleaved
    // Morton code of (o_custkey, o_totalprice) into 8 range-partitioned
    // files, then read the written layout back and count a rectangle
    // predicate on BOTH dimensions — the workload z-ordering exists to
    // prune. File count is fixed by the writer; the rectangle counts are
    // plain SQL over the same rows, so the whole result oracles as
    // constants + counts while the write/read round-trip proves layout
    // integrity. Thresholds are computed in DOUBLE arithmetic on both
    // engines (identical IEEE ops -> identical row membership). At scale
    // this is the optimize/cluster-by primitive: one sampled range
    // shuffle + per-task sort, min/max file skipping on both columns
    // (pruning itself is plan-asserted in ZOrderSpec, not oracled — the
    // pruned-file count depends on scale factor).
    "q_zorder_layout" -> ((s, dir) => {
      import s.implicits._
      val work = graft.io.TempDirs.createDeletedOnExit("graft_zorder_q_")
        .getAbsolutePath + "/orders_z"
      val src = tbl(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      // the domains are layout constants: derived once per corpus and
      // reused by every batch, so the z-mapping never drifts between writes
      val Seq((cLo, cHi), (pLo, pHi)) = graft.io.Artifacts.once(dir, "z_domains")(
        graft.ops.ZOrder.deriveDomains(src, "o_custkey", "o_totalprice"))
      graft.ops.ZOrder.writeZOrdered(src, work,
        graft.ops.ZOrder.quantize(col("o_custkey"), cLo, cHi, 12),
        graft.ops.ZOrder.quantize(col("o_totalprice"), pLo, pHi, 12),
        bits = 12, nFiles = 8)
      val layout = graft.io.Maintenance.layoutStats(s, work)
      require(layout.nFiles == 8,
        s"q_zorder_layout precondition: expected 8 z-range files, got " +
          s"${layout.nFiles} — orders too small to fill every z-range " +
          "for the pinned oracle constant")
      val back = s.read.parquet(work)
      val rect = back.filter(
        col("o_custkey").cast("double") <= cLo + (cHi - cLo) / 2 &&
        col("o_totalprice").cast("double") <= pLo + (pHi - pLo) / 2)
      val r = rect.agg(count(lit(1)).as("n_rows_rect"),
        sum("o_orderkey").cast("long").as("rect_key_sum")).head()
      Seq((8L, back.count(), r.getLong(0), r.getLong(1)))
        .toDF("n_files", "n_rows", "n_rows_rect", "rect_key_sum")
    }),
    // Hilbert-curve clustering key (ops.Hilbert) — the locality upgrade
    // over q_zorder_layout's Morton interleave: adjacent keys are always
    // adjacent grid cells, so every contiguous key range is a compact
    // blob and per-file bounds are uniformly tight (the optimize tier of
    // modern lakehouse engines). Same quantization domains as the
    // z-order entry (shared layout-constant memo — one derivation pass
    // serves both curves, exactly how a real table's clustering config
    // works); the xy2d recurrence runs as a 12-level fold of pure
    // bitwise Column ops inside whole-stage codegen. Unlike the z-order
    // entry's constants oracle, the KEY ARITHMETIC itself is oracled:
    // the generated CTE chain (Hilbert.chainSql) replays every
    // rotate-and-accumulate level in DuckDB, and the per-bucket key_sum
    // hash-mismatches if even one cell's key is off by one. Output =
    // fixed-width key-range buckets (d div 4^12/16 — map-side, never an
    // ntile window) with row counts and both dimensions' min/max: the
    // tight-rectangle evidence data skipping relies on.
    "q_hilbert_layout" -> ((s, dir) => {
      val src = tbl(s, dir, "orders")
        .select("o_custkey", "o_totalprice")
      val Seq((cLo, cHi), (pLo, pHi)) = graft.io.Artifacts.once(dir, "z_domains")(
        graft.ops.ZOrder.deriveDomains(src, "o_custkey", "o_totalprice"))
      val qx = graft.ops.ZOrder.quantize(col("o_custkey"), cLo, cHi, 12)
      val qy = graft.ops.ZOrder.quantize(col("o_totalprice"), pLo, pHi, 12)
      src.withColumn("__d", graft.ops.Hilbert.dValue(qx, qy, 12))
        .groupBy(expr("__d div 1048576").as("bucket"))
        .agg(count(lit(1)).as("n_rows"), sum("__d").as("key_sum"),
          min("o_custkey").as("c_min"), max("o_custkey").as("c_max"),
          min("o_totalprice").as("p_min"), max("o_totalprice").as("p_max"))
        .orderBy("bucket")
    }),
    // -- sort / limit / top-k ---------------------------------------------
    "q_sort_limit" -> ((s, dir) => {
      tbl(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
    }),
    // Heap-pruned top-k (ops.TopK): 5 priority values must not become 5
    // straggler sort tasks.
    "q_topk_per_group" -> ((s, dir) => {
      graft.ops.TopK.perGroup(
          tbl(s, dir, "orders")
            .select("o_orderpriority", "o_orderkey", "o_totalprice"),
          Seq("o_orderpriority"),
          Seq("o_totalprice" -> false, "o_orderkey" -> true),
          k = 3, rankCol = "rk")
        .select("o_orderpriority", "rk", "o_orderkey", "o_totalprice")
        .orderBy("o_orderpriority", "rk")
    }),
    // MERGE/upsert (ops.Merge): apply a deterministic delta — a status +
    // price update for every 7th order, plus insert rows re-keyed past the
    // key space — onto orders in one full-outer pass. The price update is
    // an exact double addition, not a multiply, so no rounding step can
    // diverge between engines.
    "q_merge_upsert" -> ((s, dir) => {
      val base = tbl(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val updates = base.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_orderstatus", lit("X"))
        .withColumn("o_totalprice", col("o_totalprice") + 10.0)
      // re-key far past any scale factor's key range: TPC-H orderkeys pass
      // 1e6 near sf0.25, which would collide re-keyed inserts with real
      // keys (two delta rows per key, ORDER BY no longer total)
      val inserts = base.filter(col("o_orderkey") % 97 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 100000000000L)
      graft.ops.Merge.upsert(base, updates.unionByName(inserts), Seq("o_orderkey"))
        .orderBy("o_orderkey")
    }),
    // CDC by snapshot diff (ops.Cdc): recover the I/U/D changelog between
    // two snapshot versions — the inverse of q_merge_upsert, and how an
    // incremental pipeline is fed from a source that only ships full
    // snapshots. v2 is derived deterministically from orders (delete every
    // 13th key, update every 7th survivor, insert re-keyed every-97th), so
    // the changelog the operator must recover is known to the oracle. One
    // full-outer shuffle on the key; unchanged rows never leave the join.
    "q_cdc_diff" -> ((s, dir) => {
      val (v1, v2) = cdcSnapshots(s, dir)
      graft.ops.Cdc.diff(v1, v2, Seq("o_orderkey"))
        .orderBy("op", "o_orderkey")
    }),

    // Incremental aggregate-view maintenance (ops.IncrementalAgg): refresh
    // the per-status count/sum WITHOUT rescanning the snapshot — base
    // aggregate + the q_cdc_diff changelog only; a U row retracts from its
    // old group and inserts into its new one, so group migrations (F→X)
    // stay exact. Prices are quantized to cents (long) BEFORE any sum, so
    // "incremental ≡ direct re-aggregation" is an exact identity — which
    // is precisely what the oracle checks: its SQL is the DIRECT
    // aggregation of v2, while Spark only ever touches v1's aggregate and
    // the delta.
    "q_agg_incremental" -> ((s, dir) => {
      import graft.ops.{Cdc, IncrementalAgg}
      val cents = (c: org.apache.spark.sql.Column) =>
        floor(c * 100.0 + 0.5).cast("long")
      val (v1, v2) = cdcSnapshots(s, dir)
      def withCents(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("cents", cents(col("o_totalprice"))).drop("o_totalprice")
      val (v1c, v2c) = (withCents(v1), withCents(v2))
      val base = v1c.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"), sum("cents").as("sum_cents"))
      val delta = IncrementalAgg.deltaContributions(
        Cdc.diff(v1c, v2c, Seq("o_orderkey")),
        oldGroup = col("old_o_orderstatus"), newGroup = col("new_o_orderstatus"),
        oldVal = col("old_cents"), newVal = col("new_cents"))
      IncrementalAgg.refresh(base, delta, "o_orderstatus",
          "n_orders", "sum_cents")
        .orderBy("o_orderstatus")
    }),

    // SCD Type 2: one batch of segment/balance changes applied onto a
    // versioned customer dimension (ops.Merge.scd2Apply). The update
    // snapshot exercises all four paths: changed attributes (key%10=0,
    // closes + re-opens), identical no-op rows (key%10=1, history must NOT
    // grow), brand-new entities (re-keyed far past the key range), and
    // untouched entities (passthrough). Validity uses the 9999-12-31
    // epoch sentinel for open rows — sargable and null-free on both
    // engines.
    "q_merge_scd2" -> ((s, dir) => {
      val eot = 253402300799L
      val c = tbl(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"),
          round(col("c_acctbal"), 2).as("c_acctbal"))
      val dim = c.withColumn("valid_from", lit(0L))
        .withColumn("valid_to", lit(eot))
      val changed = c.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_acctbal", round(col("c_acctbal") + 100.0, 2))
      val noop = c.filter(col("c_custkey") % 10 === 1)
      val fresh = c.filter(col("c_custkey") % 10 === 2)
        .withColumn("c_custkey", col("c_custkey") + 100000000000L)
      graft.ops.Merge.scd2Apply(dim,
          changed.unionByName(noop).unionByName(fresh), "c_custkey",
          Seq("c_mktsegment", "c_acctbal"), "valid_from", "valid_to",
          batchTs = 1000L)
        .orderBy("c_custkey", "valid_from")
    }),

    // Erase-cascade audit — the DELETE branch of merge semantics (beside
    // q_merge_upsert's upsert and q_merge_scd2's versioning): a curated
    // deletion list of customers (the GDPR/right-to-be-forgotten shape)
    // cascades through the FK chain customer -> orders -> lineitem, and
    // the output is the per-subject tombstone report a compliance
    // pipeline acts on (orders purged, line items purged, cents
    // refunded — customers with no orders still report, with zeros).
    // Scale shape honest at 100 TB: the deletion list is curated-size,
    // so orders filter MAP-SIDE against a broadcast semi-join; but the
    // purged-order set is corpus-proportional (corpus/97 here), so
    // lineitem joins it on the SHUFFLED orderkey exchange — forcing
    // that broadcast is exactly the OOM the BroadcastAuditSpec hunts.
    // Cents quantization before the sum keeps the refund column exact.
    "q_merge_erase" -> ((s, dir) => {
      val erased = tbl(s, dir, "customer")
        .filter(col("c_custkey") % 97 === 0).select("c_custkey")
      val purgedOrders = tbl(s, dir, "orders")
        .join(broadcast(erased), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("o_orderkey"))
      val purgedItems = tbl(s, dir, "lineitem")
        .select(col("l_orderkey"),
          floor(col("l_extendedprice") * 100d + 0.5d).cast("long").as("cents"))
        .join(purgedOrders, col("l_orderkey") === col("o_orderkey"))
      val perOrder = purgedOrders.groupBy("c_custkey")
        .agg(countDistinct("o_orderkey").as("n_orders_purged"))
      val perItem = purgedItems.groupBy("c_custkey")
        .agg(count(lit(1)).as("n_items_purged"),
          sum("cents").as("refund_cents"))
      erased.join(perOrder, Seq("c_custkey"), "left")
        .join(perItem, Seq("c_custkey"), "left")
        .select(col("c_custkey"),
          coalesce(col("n_orders_purged"), lit(0L)).as("n_orders_purged"),
          coalesce(col("n_items_purged"), lit(0L)).as("n_items_purged"),
          coalesce(col("refund_cents"), lit(0L)).as("refund_cents"))
        .orderBy("c_custkey")
    }),
    // Dynamic partition pruning (ops.Dpp): the fact table lives
    // hive-partitioned by ship month; a dim side filtered to one quarter
    // joins on the partition column, and Catalyst turns the dim's
    // broadcast join keys into a RUNTIME partition filter on the fact
    // scan — 3 month-directories read out of ~80, the rest never opened.
    // This is the directory-level complement to q_join_runtime_filter's
    // row-level bloom: at 100 TB, partition pruning is the first and
    // biggest scan-reduction lever. Result is layout-invariant, so the
    // oracle is the plain derived-month join SQL; the dynamicpruning
    // scan filter is pinned in PlanContractSpec.
    "q_join_dpp" -> ((s, dir) => {
      val monthOf = (c: org.apache.spark.sql.Column) =>
        (year(c) * 100 + month(c)).cast("int")
      val li = tbl(s, dir, "lineitem")
        .withColumn("ship_month", monthOf(col("l_shipdate")))
      val fact = s.read.parquet(
        graft.ops.Dpp.ensurePartitioned(dir, li, "ship_month"))
      val dim = tbl(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
        .select(monthOf(col("o_orderdate")).as("ship_month"))
        .distinct()
      fact.join(dim, "ship_month")
        .groupBy("ship_month")
        .agg(count(lit(1)).as("n_items"),
          round(sum("l_quantity"), 2).as("sum_qty"))
        .orderBy("ship_month")
    }),

    // Spatial grid radius join (ops.RadiusJoin): per-point neighbor
    // digest over the embedding corpus projected to its first two
    // milli-quantized dimensions — the geo/spatial join family member
    // (points within distance r), solved by cell bucketing + the 3x3
    // neighborhood join, never all-pairs. The radius derives IN-PLAN
    // from corpus density (r = ceil(sqrt(bbox_area / n)), a 1-row
    // aggregate crossJoin-broadcast onto the point stream), so expected
    // cell occupancy — and with it per-cell join work and output
    // volume — stays O(1) per point at ANY corpus size; nothing is
    // recorded and nothing collects. Integer-exact: coordinates are
    // milli-unit longs, distances long products, and the r derivation's
    // single sqrt is correctly-rounded IEEE on both engines. The DuckDB
    // oracle recomputes everything with an INDEPENDENT algorithm (a
    // sort-based band join on x/y intervals, its IEJoin path) — a grid
    // bucketing bug that drops a boundary pair cannot be mirrored.
    "q_join_radius_grid" -> ((s, dir) => {
      val milli = (c: org.apache.spark.sql.Column) =>
        floor(c.cast("double") * 1000d + 0.5d).cast("long")
      val pts = tbl(s, dir, "embeddings").select(
        col("vec_id").as("id"),
        milli(element_at(col("embedding"), 1)).as("x"),
        milli(element_at(col("embedding"), 2)).as("y"))
      val rRow = pts.agg(count(lit(1)).as("n"),
          (max("x") - min("x")).as("w"), (max("y") - min("y")).as("h"))
        .select(greatest(lit(1L),
          ceil(sqrt((col("w") * col("h")).cast("double") / col("n")))
            .cast("long")).as("r"))
      graft.ops.RadiusJoin.neighborDigestWithR(
          pts.crossJoin(broadcast(rRow)))
        .orderBy("id")
    }),

    // Point-in-time (temporal) join against an SCD2-versioned dimension:
    // each fact joins the dimension VERSION valid at the fact's own
    // timestamp — the feature-store staple that keeps training data free
    // of label leakage (joining today's customer balance onto a 1996
    // order would leak the future into the features). The versioned dim
    // is derived deterministically (every 10th customer gets three
    // balance epochs split at 1997-01-01 / 1997-07-01; validity bounds
    // are epoch-second longs, the q_merge_scd2 layout). Plan shape: an
    // ordinary equi-join on the key with the validity range as a
    // post-filter — versions per key are bounded (≤3 here, small in any
    // real SCD2 dim), so the fanout is linear and no interval machinery
    // is needed; the validity windows partition [0, EOT) exactly, so
    // every fact matches exactly one version (asserted in
    // CatalogContractSpec).
    "q_join_temporal" -> ((s, dir) => {
      val eot = 253402300799L
      val (t1, t2) = (852076800L, 867715200L) // 1997-01-01, 1997-07-01 UTC
      val c = tbl(s, dir, "customer")
        .select(col("c_custkey"), round(col("c_acctbal"), 2).as("bal"))
      val multi = col("c_custkey") % 10 === 0
      val dim = c.select(col("c_custkey"), col("bal"), lit(0L).as("vf"),
          when(multi, lit(t1)).otherwise(lit(eot)).as("vt"))
        .unionByName(c.filter(multi).select(col("c_custkey"),
          round(col("bal") + 100.0, 2).as("bal"), lit(t1).as("vf"), lit(t2).as("vt")))
        .unionByName(c.filter(multi).select(col("c_custkey"),
          round(col("bal") + 200.0, 2).as("bal"), lit(t2).as("vf"), lit(eot).as("vt")))
      val o = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          unix_timestamp(col("o_orderdate")).as("ou"))
      o.join(dim, col("o_custkey") === col("c_custkey") &&
          col("vf") <= col("ou") && col("ou") < col("vt"))
        .select(col("o_orderkey"), col("o_custkey"),
          col("bal").as("bal_at_order"), col("vf").as("version_from"))
        .orderBy("o_orderkey")
    }),

    // Point-in-interval range join via binning (ops.RangeJoin): ship dates
    // falling inside sampled 7-day order windows. A naive inequality join
    // plans as a nested loop; the binned plan is an ordinary equi-join.
    // Bin width is DERIVED from the data (sqrt(W/rho), see
    // adaptiveBinSeconds) — the constant-week width was measured ~1.75x
    // above the candidate floor once the 30x scale-up raised point
    // density; the adaptive width tracks density so the candidate volume
    // stays near the true-match floor at every SF.
    "q_join_range_binned" -> ((s, dir) => {
      val iv = tbl(s, dir, "orders")
        .filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey"), col("o_orderdate").as("w_start"),
          (col("o_orderdate") + make_dt_interval(days = lit(7))).as("w_end"))
      val pts = tbl(s, dir, "lineitem").select("l_orderkey", "l_shipdate")
      graft.ops.RangeJoin.pointInIntervalAdaptive(pts, "l_shipdate", iv,
          "w_start", "w_end")
        .groupBy("o_orderkey").agg(count(lit(1)).as("n_ship"))
        .orderBy("o_orderkey")
    }),
    // Same question as q_join_range_binned — lineitems shipped inside
    // each sampled 7-day order window — via the boundary SWEEP
    // (RangeJoin.countPerInterval) instead of the pair join. The pair
    // plan's output is |I|·rho·W rows, k²-growing when both sides
    // densify in a fixed span (the sf10 sweep measured ~26e9 candidate
    // pairs and an executor OOM at default memory for THIS count-only
    // question); the sweep is one shuffle of n + 2|I| rows — prefix
    // sums, never pairs — at any density. Both entries share one DuckDB
    // oracle text, so the driver proves plan-for-plan equivalence.
    // Interval×interval overlap count per order window — the interval
    // JOIN complement of the point sweeps below: each sampled 7-day
    // order window counts the lineitem ship→receipt intervals it
    // overlaps (closed bounds), computed as TWO order statistics over
    // one sharded boundary sweep (RangeJoin.overlapsPerInterval:
    // |{b.start <= a.end}| − |{b.end < a.start}|) — one shuffle of
    // 2|A| + 2|B| rows at any density, no pair ever materialized, the
    // same k²-wall cure as the point sweeps.
    "q_join_interval_overlap" -> ((s, dir) => {
      val a = tbl(s, dir, "orders")
        .filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey"), col("o_orderdate").as("a_start"),
          (col("o_orderdate") + make_dt_interval(days = lit(7))).as("a_end"))
      // the corpus carries ship dates only; the transit interval is the
      // standard fixed-lead synthesis (ship -> ship + 3 days, closed)
      val b = tbl(s, dir, "lineitem")
        .select(col("l_shipdate").as("b_start"),
          (col("l_shipdate") + make_dt_interval(days = lit(3))).as("b_end"))
      graft.ops.RangeJoin.overlapsPerInterval(a, Seq("o_orderkey"),
          "a_start", "a_end", b, "b_start", "b_end")
        .orderBy("o_orderkey")
    }),
    "q_join_range_sweep" -> ((s, dir) => {
      val iv = tbl(s, dir, "orders")
        .filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey"), col("o_orderdate").as("w_start"),
          (col("o_orderdate") + make_dt_interval(days = lit(7))).as("w_end"))
      val pts = tbl(s, dir, "lineitem").select("l_shipdate")
      graft.ops.RangeJoin.countPerInterval(pts, "l_shipdate", iv,
          Seq("o_orderkey"), "w_start", "w_end", countCol = "n_ship")
        .orderBy("o_orderkey")
    }),
    // Weighted sweep twin: count AND a quantity sum per window, still one
    // n + 2|I| shuffle — the payload (l_quantity, fixed-point cents) rides
    // the same prefix sum as the count, proving the sweep generalizes
    // beyond count(*) to any sum of an integral weight. Same oracle shape
    // as the pair join would produce.
    "q_join_range_sweep_sum" -> ((s, dir) => {
      val iv = tbl(s, dir, "orders")
        .filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey"), col("o_orderdate").as("w_start"),
          (col("o_orderdate") + make_dt_interval(days = lit(7))).as("w_end"))
      val pts = tbl(s, dir, "lineitem").select("l_shipdate", "l_quantity")
      graft.ops.RangeJoin.sumPerInterval(pts, "l_shipdate",
          floor(col("l_quantity") * 100 + 0.5d), iv,
          Seq("o_orderkey"), "w_start", "w_end",
          sumCol = "qty_c", countCol = "n_ship")
        .orderBy("o_orderkey")
    }),

    // Equi-width histogram of order value: ONE map-side-combined
    // aggregation collapsing the fact stream to <= HistBuckets rows —
    // the profiling scan a pipeline runs before choosing bucketing /
    // salting constants. Everything is exact integer arithmetic after
    // the bucket floor (identical IEEE divide on both engines); sums
    // are exact integer cents (floor(x*100+0.5)), wrapping only past
    // ~1.5e11 rows PER BUCKET (9.2e18 / max 6e7 cents) — far beyond the
    // 100 TB deployment's per-bucket row counts.
    "q_agg_histogram" -> ((s, dir) => {
      val w = HistBucketWidth
      val last = (HistBuckets - 1).toLong
      tbl(s, dir, "orders")
        .select(
          least(floor(col("o_totalprice") / lit(w.toDouble)), lit(last))
            .as("bucket"),
          floor(col("o_totalprice") * 100d + 0.5d).as("cents"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_orders"), sum("cents").as("sum_cents"))
        .select(col("bucket"), (col("bucket") * w).as("lo"),
          when(col("bucket") === last, lit(null).cast("long"))
            .otherwise((col("bucket") + 1L) * w).as("hi"),
          col("n_orders"), col("sum_cents"))
        .orderBy("bucket")
    }),

    // Gini concentration coefficient of order revenue per priority —
    // the inequality summary beside q_window_pareto's top-share cut
    // (Pareto answers "what do the top k% hold", Gini integrates the
    // whole Lorenz curve into one number). Exact integer derivation of
    // the closed form G = (2*sum(i*x_i) - (n+1)*S) / (n*S) over
    // ascending-sorted cents: the rank-weighted sum accumulates in
    // decimal(38,0) (sum(i*x_i) is inherently n^2-scaled — a long sum
    // wraps SILENTLY at the 100x rung while DuckDB promotes to HUGEINT;
    // the decimal twin matches), and the final ppm value is integral
    // division of nonnegative decimals, where Spark's truncating div
    // and DuckDB's floor-div agree. Ties need no canonical order: equal
    // x under any rank permutation leave sum(i*x_i) unchanged, so
    // row_number is safe. Scale shape: ONE priority-keyed sort window
    // over (priority, cents) rows + one aggregation — no joins.
    "q_agg_gini" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("cents"), col("o_orderkey"))
      tbl(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"),
          floor(col("o_totalprice") * 100d + 0.5d).cast("long").as("cents"))
        .withColumn("i", row_number().over(w).cast("decimal(38,0)"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sum("cents").as("sum_cents"),
          sum(col("i") * col("cents")).as("ixs"))
        .select(col("o_orderpriority"), col("n_orders"), col("sum_cents"),
          expr("""CAST(((2 * ixs - (n_orders + 1) * CAST(sum_cents AS DECIMAL(38,0)))
                  * 1000000) DIV (CAST(n_orders AS DECIMAL(38,0)) * sum_cents)
                 AS BIGINT)""").as("gini_ppm"))
        .orderBy("o_orderpriority")
    }),

    // Benford first-digit conformance over order values — the
    // fabricated-data / unit-mixing screen an ingest pipeline runs on
    // numeric columns. The expected distribution is computed once in
    // Scala (BenfordExpPpm) and joined as a 9-row literal, so the whole
    // query is EXACT integer arithmetic: first digit by string head
    // (never log10, whose 1-ulp wobble at exact powers of ten would
    // misbucket), observed shares by integer ppm division, and the
    // per-digit chi-square contribution ((obs-exp)^2 div exp) in longs.
    // Scale shape: one map-side-combined 9-row aggregation + a one-row
    // broadcast total — nothing data-sized ever shuffles.
    "q_quality_benford" -> ((s, dir) => {
      val base = tbl(s, dir, "orders")
        .filter(col("o_totalprice") >= 1d)
        .select(substring(floor(col("o_totalprice")).cast("string"), 1, 1)
          .cast("int").as("digit"))
      val counts = base.groupBy("digit").agg(count(lit(1)).as("n"))
      val ntot = base.agg(count(lit(1)).as("total"))
      val expTbl = s.createDataFrame(BenfordExpPpm).toDF("digit", "exp_ppm")
      counts.crossJoin(broadcast(ntot))
        .join(broadcast(expTbl), "digit")
        .withColumn("obs_ppm", expr("n * 1000000 div total"))
        .select(col("digit"), col("n"), col("obs_ppm"), col("exp_ppm"),
          expr("(obs_ppm - exp_ppm) * (obs_ppm - exp_ppm) div exp_ppm")
            .as("chi2_micro"))
        .orderBy("digit")
    }),

    // SQL entry path: correlated LATERAL subquery (see LateralSql).
    "q_sql_lateral" -> ((s, dir) => {
      registerAll(s, dir)
      s.sql(LateralSql)
    }),

    // Per-group statistical mode with a deterministic tiebreak (count
    // desc, value asc) + its share of the group — the categorical
    // profiling twin of q_agg_percentiles. Spark has no mode() aggregate
    // worth trusting for ties; this derives it from the (group, value)
    // count table via TopK's bounded heap, so the value domain never
    // becomes a sort key. Exact integer ppm share.
    "q_agg_mode" -> ((s, dir) => {
      val cnt = tbl(s, dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"))
      val totByS = cnt.groupBy("o_orderstatus").agg(sum("n").as("t"))
      graft.ops.TopK.perGroup(cnt, Seq("o_orderstatus"),
          Seq(("n", false), ("o_orderpriority", true)), k = 1,
          rankCol = "mode_rn")
        .join(totByS, "o_orderstatus")
        .select(col("o_orderstatus"),
          col("o_orderpriority").as("mode_priority"),
          col("n").as("mode_n"), col("t").as("n_rows"),
          expr("n * 1000000 div t").as("share_ppm"))
        .orderBy("o_orderstatus")
    }),

    // Referential-integrity audit over the schema's two FK edges
    // (orders→customer, lineitem→orders): orphan children + parent
    // coverage, the trust-but-verify scan run before any join-based
    // metric is believed (an orphan rate > 0 silently deflates every
    // inner join downstream). One left join + one aggregate per edge —
    // the child stream never shuffles twice; parent-side distinct is
    // map-side combined. All-integer ppm.
    "q_quality_referential" -> ((s, dir) => {
      def audit(child: org.apache.spark.sql.DataFrame, fk: String,
                parent: org.apache.spark.sql.DataFrame, pk: String,
                name: String) = {
        val par = parent.select(col(pk).as("k")).distinct()
          .withColumn("hit", lit(1))
        val ptot = par.agg(count(lit(1)).as("n_parents"))
        child.select(col(fk).as("k"))
          .join(par, Seq("k"), "left")
          .agg(count(lit(1)).as("n_child"),
            sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_orphans"),
            countDistinct(when(col("hit").isNotNull, col("k")))
              .as("n_parents_hit"))
          .crossJoin(broadcast(ptot))
          .select(lit(name).as("fk_edge"), col("n_child"), col("n_orphans"),
            expr("n_orphans * 1000000 div n_child").as("orphan_ppm"),
            col("n_parents_hit"), col("n_parents"),
            expr("n_parents_hit * 1000000 div n_parents").as("coverage_ppm"))
      }
      audit(tbl(s, dir, "orders"), "o_custkey",
          tbl(s, dir, "customer"), "c_custkey", "orders->customer")
        .unionAll(audit(tbl(s, dir, "lineitem"), "l_orderkey",
          tbl(s, dir, "orders"), "o_orderkey", "lineitem->orders"))
        .orderBy("fk_edge")
    }),

    // Pareto concentration per nation — "how few customers carry 80% of
    // revenue?", the skew diagnostic that decides salting constants and
    // account-tier cutoffs. Customer revenue collapses map-side to one
    // row per customer; the ranking windows run per nation (bounded by
    // the customer dimension, partitioned — never global). The crossing
    // count is exact integer arithmetic: a row is in the top-80 set iff
    // the cumulative mass BEFORE it is under the line (5·cum_before <
    // 4·tot) — that includes the row that crosses it and nothing after.
    "q_window_pareto" -> ((s, dir) => {
      val rev = tbl(s, dir, "orders")
        .select(col("o_custkey"),
          floor(col("o_totalprice") * 100d + 0.5d).as("cents"))
        .groupBy("o_custkey").agg(sum("cents").as("rev"))
      val cust = rev.join(tbl(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      val byN = Window.partitionBy("c_nationkey")
      val ord = Window.partitionBy("c_nationkey")
        .orderBy(col("rev").desc, col("c_custkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cust
        .withColumn("tot", sum("rev").over(byN))
        .withColumn("cum", sum("rev").over(ord))
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_customers"),
          max("tot").as("total_cents"),
          (sum(when((col("cum") - col("rev")) * 5L < col("tot") * 4L, 1L)
            .otherwise(0L))).as("n_top80"))
        .withColumn("top80_ppm", expr("n_top80 * 1000000 div n_customers"))
        .orderBy("c_nationkey")
    }),

    // Cramér's V categorical-association matrix (Cramér 1946) over the
    // schema's categorical column pairs — the profiling step that tells a
    // curation pipeline which attributes are redundant (V→1: drop one
    // before stratifying on both) and which are independent (V→0: safe
    // blocking keys). Per pair: ONE map-side-combined contingency
    // aggregation on the fact table (cells bounded by the category
    // product, never rows), marginals re-aggregated from the CELL table
    // (the PMI compress-then-compute move), everything joined back as
    // broadcasts. χ² over the full r×c grid without materializing zero
    // cells: Σ_all E = n, so χ² = n + Σ_nonzero[(o−E)²/E − E]; per-cell
    // terms quantize to exact micro units before the long sum (the
    // seasonality pattern). dev = o·n − ta·tb stays in exact longs up to
    // ~3×10⁹ rows per table (n² < 2⁶³); past that this moves to
    // decimal(38,0) like q_embed_coherence's nb. V's sqrt is correctly
    // rounded over a bit-identical quotient, so both engines agree.
    "q_quality_cramers_v" -> ((s, dir) => {
      def assoc(df: org.apache.spark.sql.DataFrame, a: String, b: String,
                pair: String) = {
        val cells = df
          .select(col(a).cast("string").as("va"),
            col(b).cast("string").as("vb"))
          // semantic no-op (the catalog columns are non-null) that makes
          // the join-inferred isnotnull constraints explicit and
          // IDENTICAL in every branch — without it each marginal branch
          // gets a different pushed null filter, the subtrees stop
          // canonicalizing equal, and AQE cannot reuse the cells
          // exchange (4 fact scans instead of 1; the q_text_pmi move)
          .filter(col("va").isNotNull && col("vb").isNotNull)
          .groupBy("va", "vb").agg(count(lit(1)).as("o"))
        val ra = cells.groupBy("va").agg(sum("o").as("ta"))
        val rb = cells.groupBy("vb").agg(sum("o").as("tb"))
        val tot = cells.agg(sum("o").as("n"),
          countDistinct("va").as("r"), countDistinct("vb").as("c"))
        cells.join(broadcast(ra), "va").join(broadcast(rb), "vb")
          .crossJoin(broadcast(tot))
          .withColumn("dev", col("o") * col("n") - col("ta") * col("tb"))
          .withColumn("cell_micro", floor(
            (col("dev").cast("double") * col("dev").cast("double")
              / (col("n").cast("double") * col("ta").cast("double")
                * col("tb").cast("double"))
              - col("ta").cast("double") * col("tb").cast("double")
                / col("n").cast("double")) * 1000000d + 0.5d).cast("long"))
          .groupBy("n", "r", "c")
          .agg(count(lit(1)).as("n_cells"), sum("cell_micro").as("dev_micro"))
          .select(lit(pair).as("col_pair"), col("n").as("n_rows"),
            col("r").as("n_a"), col("c").as("n_b"), col("n_cells"),
            (col("n") * 1000000L + col("dev_micro")).as("chi2_micro"))
          // a single-category column (dof 0) must yield NULL, not NaN:
          // Spark would cast floor(NaN) to null silently while DuckDB
          // ERRORS casting NaN to BIGINT — guard both engines the same
          // way so a degenerate corpus cannot diverge them
          .withColumn("v_micro", when(
            least(col("n_a") - 1L, col("n_b") - 1L) > 0L,
            floor(sqrt(
              col("chi2_micro").cast("double") / 1000000d
                / (col("n_rows").cast("double")
                  * least(col("n_a") - 1L, col("n_b") - 1L).cast("double")))
              * 1000000d + 0.5d).cast("long")))
      }
      assoc(tbl(s, dir, "lineitem"), "l_returnflag", "l_linestatus",
          "lineitem:returnflag~linestatus")
        .unionAll(assoc(tbl(s, dir, "orders"), "o_orderstatus",
          "o_orderpriority", "orders:status~priority"))
        .unionAll(assoc(tbl(s, dir, "customer"), "c_mktsegment",
          "c_nationkey", "customer:segment~nation"))
        .orderBy("col_pair")
    }),

    // Pearson correlation matrix (all 6 pairs of lineitem's 4 numeric
    // measures) per return flag — the numeric twin of q_quality_cramers_v
    // for curation/feature triage: |r|→1 says drop one column before
    // weighting on both. ONE map-side-combined scan computes every
    // sufficient statistic (n, Σx, Σx², Σxy per pair); the 6 output rows
    // per group are pivoted from that single aggregate, so the fact
    // table is read once regardless of pair count. Exactness: measures
    // are quantized to integer units first (qty, cents, pct — Pearson is
    // affine-invariant, so unit choice cannot move r); per-row products
    // stay under 2⁶³ (max cents² ≈ 10¹⁴) and the SUMS go through
    // decimal(38,0) (long sums overflow silently past ~9·10¹⁸ —
    // DuckDB's HUGEINT matches exactly). n·Σxy − ΣxΣy ≈ 3.6×10²⁹ at
    // sf10 fits decimal(38,0) to ~10¹¹ rows/group; past that this moves
    // to merged per-partition Welford like the coherence note. The final
    // r is one divide + one sqrt over exact-integer-valued doubles —
    // correctly rounded, engine-identical — then micro-quantized.
    // Zero-variance guard: a constant column yields r = NULL, not NaN.
    "q_agg_corr_matrix" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem").select(col("l_returnflag"),
        floor(col("l_quantity") + 0.5d).cast("long").as("qty"),
        floor(col("l_extendedprice") * 100d + 0.5d).cast("long").as("price"),
        floor(col("l_discount") * 100d + 0.5d).cast("long").as("disc"),
        floor(col("l_tax") * 100d + 0.5d).cast("long").as("tax"))
      val cols = CorrMatrixCols
      val pairs = for {
        i <- cols.indices; j <- (i + 1) until cols.size
      } yield (cols(i), cols(j))
      val aggs = Seq(count(lit(1)).as("n")) ++
        cols.flatMap(c => Seq(
          sum(col(c).cast("decimal(38,0)")).as(s"s_$c"),
          sum((col(c) * col(c)).cast("decimal(38,0)")).as(s"ss_$c"))) ++
        pairs.map { case (a, b) =>
          sum((col(a) * col(b)).cast("decimal(38,0)")).as(s"sp_${a}_$b") }
      val st = li.groupBy("l_returnflag").agg(aggs.head, aggs.tail: _*)
      // ONE aggregate exploded to 6 pair rows — a UNION of per-pair
      // selects would let column pruning specialize each arm's stat
      // subset, defeating exchange reuse and re-scanning the fact table
      // once per pair (observed: 6 scans).
      val arms = pairs.map { case (a, b) =>
        val num = (col("n") * col(s"sp_${a}_$b") -
          col(s"s_$a") * col(s"s_$b")).cast("double")
        val da = (col("n") * col(s"ss_$a") -
          col(s"s_$a") * col(s"s_$a")).cast("double")
        val db = (col("n") * col(s"ss_$b") -
          col(s"s_$b") * col(s"s_$b")).cast("double")
        struct(lit(s"$a~$b").as("col_pair"),
          when(da > 0d && db > 0d,
            floor(num / sqrt(da * db) * 1000000d + 0.5d).cast("long"))
            .as("r_micro"))
      }
      st.select(col("l_returnflag"), col("n").as("n_rows"),
          explode(array(arms: _*)).as("p"))
        .select(col("l_returnflag"), col("p.col_pair").as("col_pair"),
          col("n_rows"), col("p.r_micro").as("r_micro"))
        .orderBy("l_returnflag", "col_pair")
    }),

    // Welch's two-sample t-test (Welch 1947) per return flag: does the
    // discounted cohort's price differ from the undiscounted one's? —
    // the A/B readout every curation/mixing experiment ends in, with the
    // unequal-variance form because cohort sizes and spreads never match
    // in practice. ONE map-side-combined scan computes both cohorts'
    // exact sufficient statistics (conditional sums — no second pass, no
    // join); t and the Welch–Satterthwaite dof are a FIXED sequence of
    // correctly-rounded IEEE ops over exact-integer-valued doubles
    // (each per-cohort mean and variance-over-n term is ONE divide of
    // two exact decimals — v/n = (nΣx²−Σx²)/(n²(n−1)) clears every
    // fraction), micro-quantized once, mirrored op for op by the oracle.
    // Degenerate cohorts (n ≤ 1, zero variance) yield NULL on both
    // engines. Output is schema-bounded (one row per flag).
    "q_stats_welch_ttest" -> ((s, dir) => {
      def grp(t: Boolean, tag: String) = Seq(
        sum(when(col("treated") === t, 1L).otherwise(0L)).as(s"n$tag"),
        sum(when(col("treated") === t, col("cents")).otherwise(0L)
          .cast("decimal(38,0)")).as(s"sx$tag"),
        sum(when(col("treated") === t, col("cents") * col("cents"))
          .otherwise(0L).cast("decimal(38,0)")).as(s"sxx$tag"))
      val aggs = grp(true, "1") ++ grp(false, "2")
      val st = tbl(s, dir, "lineitem").select(col("l_returnflag"),
          (floor(col("l_discount") * 100d + 0.5d) > 5d).as("treated"),
          floor(col("l_extendedprice") * 100d + 0.5d).cast("long")
            .as("cents"))
        .groupBy("l_returnflag").agg(aggs.head, aggs.tail: _*)
      def m(i: Int) = col(s"sx$i").cast("double") / col(s"n$i")
      def a(i: Int) = (col(s"n$i").cast("decimal(38,0)") * col(s"sxx$i") -
        col(s"sx$i") * col(s"sx$i")).cast("double") /
        (col(s"n$i").cast("decimal(38,0)") * col(s"n$i") *
          (col(s"n$i") - 1L)).cast("double")
      val se2 = a(1) + a(2)
      val ok = col("n1") > 1L && col("n2") > 1L && se2 > 0d
      st.select(col("l_returnflag"),
          col("n1").as("n_treated"), col("n2").as("n_control"),
          when(ok, floor((m(1) - m(2)) * 1000000d + 0.5d).cast("long"))
            .as("diff_micro"),
          when(ok, floor((m(1) - m(2)) / sqrt(se2) * 1000000d + 0.5d)
            .cast("long")).as("t_micro"),
          when(ok, floor(se2 * se2 /
            (a(1) * a(1) / (col("n1") - 1L) +
              a(2) * a(2) / (col("n2") - 1L)) * 1000000d + 0.5d)
            .cast("long")).as("dof_micro"))
        .orderBy("l_returnflag")
    }),

    // 2-D skyline / Pareto front (Börzsönyi et al., ICDE 2001): per
    // return flag, the line items no other item dominates on
    // (quantity ↑, price ↑) — the multi-objective shortlist operator
    // behind "best tradeoff" queries (quality-vs-length doc selection,
    // cost-vs-coverage source picks). Scale shape: the Börzsönyi
    // pre-filter collapses the fact stream MAP-SIDE to one row per
    // (flag, qty) — only the per-x maximum can survive — so the
    // dominance window runs over ≤ |flags|·|qty domain| rows, never the
    // corpus; the window itself is the sort-based 2-D skyline test
    // (a point survives iff its price strictly exceeds every
    // higher-qty point's). All-integer; set semantics (duplicate
    // points collapse).
    "q_agg_skyline" -> ((s, dir) => {
      val best = tbl(s, dir, "lineitem").select(col("l_returnflag"),
          floor(col("l_quantity") + 0.5d).cast("long").as("qty"),
          floor(col("l_extendedprice") * 100d + 0.5d).cast("long")
            .as("cents"))
        .groupBy("l_returnflag", "qty").agg(max("cents").as("cents"))
      val prev = Window.partitionBy("l_returnflag")
        .orderBy(col("qty").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      best.withColumn("max_prev", max("cents").over(prev))
        .filter(col("max_prev").isNull || col("cents") > col("max_prev"))
        .select(col("l_returnflag"), col("qty"), col("cents"))
        .orderBy(col("l_returnflag"), col("qty").desc)
    }),

    // Population Stability Index drift monitor (the credit-scoring /
    // model-monitoring standard; Karakoulas 2004 popularized the 0.1 /
    // 0.25 action thresholds): per calendar week of orders, PSI of the
    // price distribution against the whole-corpus reference —
    // Σ (p_i − q_i)·ln(p_i/q_i) over the equi-width bucket grid, the
    // numeric twin of q_text_kl_drift's vocabulary KL. Add-one
    // smoothing keeps empty buckets finite; weeks are exact integer
    // epoch-day÷7 (never weekofyear — the engines' week conventions
    // differ). Per-bucket terms quantize to micro-units before the
    // exact long sum (the micro-nat ln contract). Scale shape: the
    // order stream collapses map-side to (week, bucket) counts — ≤
    // weeks·PsiBuckets rows; reference marginals re-aggregate that
    // table (compress-then-compute), everything downstream broadcast.
    "q_quality_drift_psi" -> ((s, dir) => {
      val wb = tbl(s, dir, "orders").select(
          expr("unix_date(to_date(o_orderdate)) div 7").cast("long")
            .as("week"),
          least(floor(col("o_totalprice") / PsiBucketWidth.toDouble),
            lit(PsiBuckets - 1L)).cast("long").as("bucket"))
        .filter(col("week").isNotNull && col("bucket").isNotNull)
        .groupBy("week", "bucket").agg(count(lit(1)).as("n"))
      val ref = wb.groupBy("bucket").agg(sum("n").as("rn"))
      val wtot = wb.groupBy("week").agg(sum("n").as("wt"))
      val rtot = ref.agg(sum("rn").as("rt"))
      // add-one smoothing over the FULL grid without densifying it:
      // absent (week, bucket) cells contribute term(0) each — computed
      // in closed form from the week/reference totals, like the
      // seasonality absent-cell move. p = (n+1)/(wt+B), q = (rn+1)/(rt+B).
      val grid = wtot.crossJoin(broadcast(ref)).crossJoin(broadcast(rtot))
        .join(wb, Seq("week", "bucket"), "left")
        .withColumn("nn", coalesce(col("n"), lit(0L)))
      grid
        .withColumn("p", (col("nn") + 1L).cast("double") /
          (col("wt") + PsiBuckets).cast("double"))
        .withColumn("q", (col("rn") + 1L).cast("double") /
          (col("rt") + PsiBuckets).cast("double"))
        .withColumn("term_micro", floor((col("p") - col("q")) *
          log(col("p") / col("q")) * 1000000d + 0.5d).cast("long"))
        .groupBy("week")
        .agg(max("wt").as("n_orders"), sum("term_micro").as("psi_micro"))
        .orderBy("week")
    }),

    // Week-over-week revenue growth per order priority — the
    // period-over-period reporting primitive every dashboard tier runs
    // (the discrete-difference twin of q_window_ewma's smoothing).
    // Semantics: lag over OBSERVED weeks (a gap week compares against
    // the last observed one — documented; the synthetic stream is
    // week-dense). Growth in exact integer ppm via truncating division
    // (Spark `div` ≡ DuckDB `//` toward zero, the q_events_trend
    // contract — negative growth is the common case). Revenue sums ride
    // decimal(38,0) ≡ HUGEINT (long cents overflow past ~9·10¹⁶ cents
    // per cell); the published cents column is CAST BIGINT on both
    // engines. Scale shape: the order stream collapses map-side to
    // (priority, week) — the lag window runs over a calendar-bounded
    // table, never the corpus.
    "q_window_wow_growth" -> ((s, dir) => {
      val wk = tbl(s, dir, "orders").select(
          col("o_orderpriority").as("prio"),
          expr("unix_date(to_date(o_orderdate)) div 7").cast("long")
            .as("week"),
          floor(col("o_totalprice") * 100d + 0.5d).cast("long").as("cents"))
        .groupBy("prio", "week")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("cents").cast("decimal(38,0)")).as("rev"))
      val w = Window.partitionBy("prio").orderBy("week")
      wk.withColumn("prev_rev", lag("rev", 1).over(w))
        .select(col("prio"), col("week"), col("n_orders"),
          col("rev").cast("long").as("rev_cents"),
          when(col("prev_rev") > 0L,
            expr("(rev - prev_rev) * 1000000 div prev_rev"))
            .as("growth_ppm"))
        .orderBy("prio", "week")
    })
  )

  /** q_agg_corr_matrix's measure columns in their integer units — ONE
    * ordered definition shared with the oracle generator so the pair
    * labels cannot drift. */
  private[queries] val CorrMatrixCols: Seq[String] =
    Seq("qty", "price", "disc", "tax")

  /** One SQL text for both engines: Spark runs it via spark.sql over the
    * registered temp views, DuckDB oracles it over the same parquet —
    * recursive CTEs are ANSI enough that the texts can be identical. */
  private[graft] val RecursiveCteSql: String =
    """WITH RECURSIVE edges AS (
         SELECT n_regionkey, n_nationkey AS src,
                lead(n_nationkey) OVER (PARTITION BY n_regionkey
                                        ORDER BY n_nationkey) AS dst
         FROM nation),
       roots AS (
         SELECT n_regionkey, min(n_nationkey) AS n_nationkey
         FROM nation GROUP BY n_regionkey),
       walk AS (
         SELECT n_regionkey, n_nationkey, 0 AS depth FROM roots
         UNION ALL
         SELECT e.n_regionkey, e.dst, w.depth + 1
         FROM walk w JOIN edges e
           ON e.n_regionkey = w.n_regionkey AND e.src = w.n_nationkey
         WHERE e.dst IS NOT NULL)
       SELECT n_regionkey, n_nationkey, depth FROM walk
       ORDER BY n_regionkey, depth"""

  /** The co-purchase graph's symmetrized edge list in DuckDB SQL — the
    * shared input of the kcore/bfs round-replay oracles (same derivation
    * the static triangle/components/LPA oracles inline). */
  /** q_graph_modularity's oracle — the shared capped co-purchase pr CTE
    * (UNDIRECTED, src<dst — not the symmetrized CoPurchaseEdgesSql),
    * then the same exact-integer aggregation: no float anywhere. */
  private val GraphModularityOracle: String =
    s"""WITH ds0 AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         ds AS (SELECT l_orderkey, l_partkey FROM (
                  SELECT l_orderkey, l_partkey, row_number() OVER
                    (PARTITION BY l_orderkey ORDER BY l_partkey) AS rn
                  FROM ds0) z
                WHERE rn <= $CoPairsBasketCap),
         pr AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
                FROM ds a JOIN ds b ON a.l_orderkey = b.l_orderkey
                                   AND a.l_partkey < b.l_partkey
                GROUP BY 1, 2 HAVING count(*) >= 2),
         m AS (SELECT count(*) AS m FROM pr),
         deg AS (SELECT v, count(*) AS deg FROM (
                   SELECT src AS v FROM pr
                   UNION ALL SELECT dst AS v FROM pr) u GROUP BY 1),
         dc AS (SELECT p.p_brand AS brand, count(*) AS n_nodes,
                  CAST(sum(d.deg) AS BIGINT) AS degree_sum
                FROM deg d JOIN part p ON p.p_partkey = d.v GROUP BY 1),
         ie AS (SELECT ps.p_brand AS brand, count(*) AS intra_edges
                FROM pr JOIN part ps ON ps.p_partkey = pr.src
                        JOIN part pd ON pd.p_partkey = pr.dst
                WHERE ps.p_brand = pd.p_brand GROUP BY 1)
         SELECT dc.brand, dc.n_nodes, dc.degree_sum,
           coalesce(ie.intra_edges, 0) AS intra_edges,
           (SELECT m FROM m) AS m,
           4 * (SELECT m FROM m) * coalesce(ie.intra_edges, 0)
             - dc.degree_sum * dc.degree_sum AS q_contrib_num
         FROM dc LEFT JOIN ie USING (brand) ORDER BY brand"""

  private val CoPurchaseEdgesSql: String =
    s"""WITH ds0 AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         ds AS (SELECT l_orderkey, l_partkey FROM (
                  SELECT l_orderkey, l_partkey, row_number() OVER
                    (PARTITION BY l_orderkey ORDER BY l_partkey) AS rn
                  FROM ds0) z
                WHERE rn <= $CoPairsBasketCap),
         pr AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
                FROM ds a JOIN ds b ON a.l_orderkey = b.l_orderkey
                                   AND a.l_partkey < b.l_partkey
                GROUP BY 1, 2 HAVING count(*) >= 2)
         SELECT src, dst FROM pr
         UNION ALL SELECT dst AS src, src AS dst FROM pr"""

  // def, not val: the kcore/bfs oracles replay the round counts the
  // convergence-driven queries RECORDED at run time (artifacts
  // `kcore_rounds` / `bfs_rounds`; the replay matches the executed rounds
  // bit-for-bit at any depth), and the sketch oracles the estimates.
  def oracles: Map[String, String] = staticOracles ++
    graft.io.Artifacts.single[Int]("kcore_rounds").map(r =>
      "q_graph_kcore" -> graft.ops.KCore.oracleSql(CoPurchaseEdgesSql,
        k = 2, rounds = r)) ++
    graft.io.Artifacts.single[Int]("bfs_rounds").map(r =>
      "q_graph_bfs" -> graft.ops.Bfs.oracleSql(CoPurchaseEdgesSql,
        seedSql = "src % 50 = 0", rounds = r)) ++
    approxDistinctOracleSql.map("q_agg_approx_distinct" -> _) ++
    approxQuantOracleSql.map("q_agg_approx_quantiles" -> _) ++
    countMinOracleSql.map("q_agg_countmin" -> _)

  private val staticOracles: Map[String, String] = Map(
    // Mirrors the Spark arithmetic exactly: long dev products, the same
    // double op order per cell, micro-quantized cell terms summed as
    // BIGINT, χ² = n·1e6 + Σ cell_micro, then one correctly-rounded sqrt.
    "q_quality_cramers_v" -> {
      def assoc(table: String, a: String, b: String, pair: String) =
        s"""SELECT '$pair' AS col_pair, n AS n_rows, r AS n_a, c AS n_b,
             n_cells, chi2_micro,
             CASE WHEN least(r - 1, c - 1) > 0 THEN
               CAST(floor(sqrt(CAST(chi2_micro AS DOUBLE) / 1e6
                 / (CAST(n AS DOUBLE)
                    * CAST(least(r - 1, c - 1) AS DOUBLE))) * 1e6 + 0.5)
                 AS BIGINT) END AS v_micro
           FROM (
             SELECT any_value(t.n) AS n, any_value(t.r) AS r,
               any_value(t.c) AS c, count(*) AS n_cells,
               any_value(t.n) * 1000000 + CAST(sum(CAST(floor(
                 (CAST(cells.o * t.n - ra.ta * rb.tb AS DOUBLE)
                    * CAST(cells.o * t.n - ra.ta * rb.tb AS DOUBLE)
                    / (CAST(t.n AS DOUBLE) * CAST(ra.ta AS DOUBLE)
                       * CAST(rb.tb AS DOUBLE))
                  - CAST(ra.ta AS DOUBLE) * CAST(rb.tb AS DOUBLE)
                    / CAST(t.n AS DOUBLE)) * 1e6 + 0.5) AS BIGINT))
                 AS BIGINT) AS chi2_micro
             FROM (SELECT CAST($a AS VARCHAR) AS va, CAST($b AS VARCHAR) AS vb,
                     count(*) AS o FROM $table GROUP BY 1, 2) cells
             JOIN (SELECT CAST($a AS VARCHAR) AS va, count(*) AS ta
                   FROM $table GROUP BY 1) ra USING (va)
             JOIN (SELECT CAST($b AS VARCHAR) AS vb, count(*) AS tb
                   FROM $table GROUP BY 1) rb USING (vb)
             CROSS JOIN (SELECT count(*) AS n,
                 count(DISTINCT CAST($a AS VARCHAR)) AS r,
                 count(DISTINCT CAST($b AS VARCHAR)) AS c
               FROM $table) t)"""
      Seq(assoc("lineitem", "l_returnflag", "l_linestatus",
          "lineitem:returnflag~linestatus"),
        assoc("orders", "o_orderstatus", "o_orderpriority",
          "orders:status~priority"),
        assoc("customer", "c_mktsegment", "c_nationkey",
          "customer:segment~nation"))
        .mkString("", " UNION ALL ", " ORDER BY col_pair")
    },
    "q_graph_modularity" -> GraphModularityOracle,
    "q_sql_recursive_cte" -> RecursiveCteSql,
    "q_sql_lateral" -> LateralSql,
    "q_quality_referential" ->
      """WITH e1 AS (
           SELECT 'orders->customer' AS fk_edge,
             count(*) AS n_child,
             CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_orphans,
             count(DISTINCT CASE WHEN c.c_custkey IS NOT NULL
               THEN o.o_custkey END) AS n_parents_hit
           FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
             ON o.o_custkey = c.c_custkey),
         p1 AS (SELECT count(DISTINCT c_custkey) AS n_parents FROM customer),
         e2 AS (
           SELECT 'lineitem->orders' AS fk_edge,
             count(*) AS n_child,
             CAST(sum(CASE WHEN oo.o_orderkey IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_orphans,
             count(DISTINCT CASE WHEN oo.o_orderkey IS NOT NULL
               THEN l.l_orderkey END) AS n_parents_hit
           FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) oo
             ON l.l_orderkey = oo.o_orderkey),
         p2 AS (SELECT count(DISTINCT o_orderkey) AS n_parents FROM orders)
         SELECT fk_edge, n_child, n_orphans,
           n_orphans * 1000000 // n_child AS orphan_ppm,
           n_parents_hit, n_parents,
           n_parents_hit * 1000000 // n_parents AS coverage_ppm
         FROM (SELECT e1.*, p1.n_parents FROM e1, p1
               UNION ALL SELECT e2.*, p2.n_parents FROM e2, p2) u
         ORDER BY fk_edge""",
    "q_window_pareto" ->
      """WITH rev AS (
           SELECT o_custkey,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
               AS BIGINT) AS rev
           FROM orders GROUP BY 1),
         j AS (SELECT c.c_nationkey, c.c_custkey, r.rev
               FROM rev r JOIN customer c ON r.o_custkey = c.c_custkey),
         w AS (SELECT c_nationkey, rev,
             CAST(sum(rev) OVER (PARTITION BY c_nationkey) AS BIGINT) AS tot,
             CAST(sum(rev) OVER (PARTITION BY c_nationkey
               ORDER BY rev DESC, c_custkey ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum
           FROM j)
         SELECT c_nationkey, count(*) AS n_customers,
           CAST(max(tot) AS BIGINT) AS total_cents,
           CAST(sum(CASE WHEN (cum - rev) * 5 < tot * 4 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_top80,
           CAST(sum(CASE WHEN (cum - rev) * 5 < tot * 4 THEN 1 ELSE 0 END)
             AS BIGINT) * 1000000 // count(*) AS top80_ppm
         FROM w GROUP BY c_nationkey ORDER BY c_nationkey""",
    "q_agg_mode" ->
      """WITH cnt AS (
           SELECT o_orderstatus, o_orderpriority, count(*) AS n
           FROM orders GROUP BY 1, 2),
         tot AS (SELECT o_orderstatus, CAST(sum(n) AS BIGINT) AS t
                 FROM cnt GROUP BY 1),
         m AS (SELECT o_orderstatus, o_orderpriority, n FROM (
                 SELECT cnt.*, row_number() OVER (PARTITION BY o_orderstatus
                   ORDER BY n DESC, o_orderpriority ASC) AS rn FROM cnt) z
               WHERE rn = 1)
         SELECT m.o_orderstatus, m.o_orderpriority AS mode_priority,
           m.n AS mode_n, t.t AS n_rows, m.n * 1000000 // t.t AS share_ppm
         FROM m JOIN tot t USING (o_orderstatus)
         ORDER BY m.o_orderstatus""",
    "q_agg_histogram" ->
      s"""WITH b AS (
           SELECT least(CAST(floor(o_totalprice / $HistBucketWidth.0)
                    AS BIGINT), ${HistBuckets - 1}) AS bucket,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
           FROM orders)
         SELECT bucket, bucket * $HistBucketWidth AS lo,
           CASE WHEN bucket = ${HistBuckets - 1} THEN NULL
                ELSE (bucket + 1) * $HistBucketWidth END AS hi,
           count(*) AS n_orders, CAST(sum(cents) AS BIGINT) AS sum_cents
         FROM b GROUP BY bucket ORDER BY bucket""",
    // HUGEINT rank-weighted sum is the decimal(38,0) twin; // on the
    // nonnegative numerator matches Spark's truncating DIV
    "q_agg_gini" ->
      """WITH c AS (SELECT o_orderpriority, o_orderkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
           FROM orders),
         r AS (SELECT o_orderpriority, cents,
             CAST(row_number() OVER (PARTITION BY o_orderpriority
               ORDER BY cents, o_orderkey) AS HUGEINT) AS i
           FROM c),
         g AS (SELECT o_orderpriority, count(*) AS n_orders,
             CAST(sum(cents) AS BIGINT) AS sum_cents,
             sum(i * cents) AS ixs
           FROM r GROUP BY o_orderpriority)
         SELECT o_orderpriority, n_orders, sum_cents,
           CAST(((2 * ixs - (n_orders + 1) * CAST(sum_cents AS HUGEINT))
                 * 1000000) // (CAST(n_orders AS HUGEINT) * sum_cents)
             AS BIGINT) AS gini_ppm
         FROM g ORDER BY o_orderpriority""",
    // INDEPENDENT algorithm from the Spark grid join: a sort-based x/y
    // band join (DuckDB's IEJoin path) + the same exact integer
    // distance verify — a cell-boundary bug on the Spark side cannot
    // be mirrored here
    "q_join_radius_grid" ->
      """WITH pts AS (SELECT vec_id AS id,
             CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS x,
             CAST(floor(CAST(embedding[2] AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS y
           FROM embeddings),
         par AS (SELECT count(*) AS n, max(x) - min(x) AS w,
             max(y) - min(y) AS h FROM pts),
         rr AS (SELECT greatest(1, CAST(ceil(sqrt(
             CAST(w * h AS DOUBLE) / n)) AS BIGINT)) AS r FROM par),
         pairs AS (SELECT a.id AS ia, b.id AS ib,
             (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
           FROM pts a, pts b
           WHERE a.id < b.id
             AND b.x BETWEEN a.x - (SELECT r FROM rr) AND a.x + (SELECT r FROM rr)
             AND b.y BETWEEN a.y - (SELECT r FROM rr) AND a.y + (SELECT r FROM rr)
             AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
               <= (SELECT r FROM rr) * (SELECT r FROM rr)),
         per AS (SELECT id, count(*) AS n_neighbors, min(d2) AS nn_dist2
           FROM (SELECT ia AS id, d2 FROM pairs
                 UNION ALL SELECT ib AS id, d2 FROM pairs)
           GROUP BY id)
         SELECT p.id, p.x, p.y,
           coalesce(n_neighbors, 0) AS n_neighbors, nn_dist2
         FROM pts p LEFT JOIN per USING (id) ORDER BY p.id""",
    "q_merge_erase" ->
      """WITH erased AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
         po AS (SELECT e.c_custkey, o.o_orderkey FROM orders o
                JOIN erased e ON o.o_custkey = e.c_custkey),
         pi AS (SELECT po.c_custkey,
             CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
           FROM lineitem l JOIN po ON l.l_orderkey = po.o_orderkey),
         a AS (SELECT c_custkey, count(DISTINCT o_orderkey) AS n_orders_purged
               FROM po GROUP BY c_custkey),
         b AS (SELECT c_custkey, count(*) AS n_items_purged,
               CAST(sum(cents) AS BIGINT) AS refund_cents
               FROM pi GROUP BY c_custkey)
         SELECT e.c_custkey,
           coalesce(n_orders_purged, 0) AS n_orders_purged,
           coalesce(n_items_purged, 0) AS n_items_purged,
           coalesce(refund_cents, 0) AS refund_cents
         FROM erased e LEFT JOIN a USING (c_custkey)
         LEFT JOIN b USING (c_custkey)
         ORDER BY e.c_custkey""",
    "q_quality_benford" -> {
      val vals = BenfordExpPpm.map { case (d, p) =>
        s"($d, CAST($p AS BIGINT))" }.mkString(", ")
      s"""WITH base AS (
           SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                    AS VARCHAR), 1, 1) AS INT) AS digit
           FROM orders WHERE o_totalprice >= 1),
         c AS (SELECT digit, count(*) AS n FROM base GROUP BY digit),
         t AS (SELECT count(*) AS total FROM base),
         e(digit, exp_ppm) AS (VALUES $vals),
         j AS (SELECT c.digit, c.n, c.n * 1000000 // t.total AS obs_ppm,
                 e.exp_ppm
               FROM c, t, e WHERE e.digit = c.digit)
         SELECT digit, n, obs_ppm, exp_ppm,
           (obs_ppm - exp_ppm) * (obs_ppm - exp_ppm) // exp_ppm
             AS chi2_micro
         FROM j ORDER BY digit"""
    },
    "q_compact_layout" ->
      """SELECT CAST(16 AS BIGINT) AS n_files_before,
         CAST(4 AS BIGINT) AS n_files_after,
         count(*) AS n_rows FROM documents""",
    "q_zorder_layout" ->
      """WITH dom AS (
           SELECT CAST(min(o_custkey) AS DOUBLE) AS clo,
                  CAST(max(o_custkey) AS DOUBLE) AS chi,
                  CAST(min(o_totalprice) AS DOUBLE) AS plo,
                  CAST(max(o_totalprice) AS DOUBLE) AS phi
           FROM orders)
         SELECT CAST(8 AS BIGINT) AS n_files,
                (SELECT count(*) FROM orders) AS n_rows,
                count(*) AS n_rows_rect,
                CAST(sum(o_orderkey) AS BIGINT) AS rect_key_sum
         FROM orders, dom
         WHERE CAST(o_custkey AS DOUBLE) <= clo + (chi - clo) / 2
           AND CAST(o_totalprice AS DOUBLE) <= plo + (phi - plo) / 2""",
    // Full replay of the curve arithmetic: same quantization IEEE ops,
    // then one generated CTE per xy2d level (Hilbert.chainSql) mirroring
    // the Column fold's bitwise ops and CASE branches literally.
    "q_hilbert_layout" ->
      s"""WITH dom AS (
           SELECT CAST(min(o_custkey) AS DOUBLE) AS clo,
                  CAST(max(o_custkey) AS DOUBLE) AS chi,
                  CAST(min(o_totalprice) AS DOUBLE) AS plo,
                  CAST(max(o_totalprice) AS DOUBLE) AS phi
           FROM orders),
         q AS (SELECT o_custkey, o_totalprice,
           CAST(0 AS BIGINT) AS d,
           CAST(least(4095, greatest(0, floor(
             (CAST(o_custkey AS DOUBLE) - clo) / (chi - clo) * 4095)))
             AS BIGINT) AS x,
           CAST(least(4095, greatest(0, floor(
             (CAST(o_totalprice AS DOUBLE) - plo) / (phi - plo) * 4095)))
             AS BIGINT) AS y
         FROM orders, dom),
         ${graft.ops.Hilbert.chainSql(12, Seq("o_custkey", "o_totalprice"))}
         SELECT d // 1048576 AS bucket, count(*) AS n_rows,
           CAST(sum(d) AS BIGINT) AS key_sum,
           min(o_custkey) AS c_min, max(o_custkey) AS c_max,
           min(o_totalprice) AS p_min, max(o_totalprice) AS p_max
         FROM h0 GROUP BY 1 ORDER BY 1""",
    "q_agg_freq_items" ->
      """SELECT DISTINCT o_orderpriority AS heavy_hitter
         FROM orders ORDER BY heavy_hitter""",
    "q_unpivot_metrics" ->
      """WITH u AS (
           SELECT 'l_quantity' AS metric, l_quantity AS value FROM lineitem
           UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
           UNION ALL SELECT 'l_discount', l_discount FROM lineitem
           UNION ALL SELECT 'l_tax', l_tax FROM lineitem)
         SELECT metric, count(*) AS n, round(sum(value), 2) AS total
         FROM u GROUP BY metric ORDER BY metric""",
    "q_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_base_price,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
         round(round(sum(l_quantity), 2) / count(*), 6) AS avg_qty,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1997-06-30'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q_agg_minmax" ->
      """SELECT o_orderstatus,
         round(min(o_totalprice), 2) AS min_price,
         round(max(o_totalprice), 2) AS max_price,
         round(round(sum(o_totalprice), 2) / count(*), 6) AS avg_price,
         count(*) AS n_orders
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q_agg_distinct" ->
      """SELECT l_returnflag,
         count(DISTINCT l_partkey) AS n_parts,
         count(DISTINCT l_suppkey) AS n_supps,
         count(*) AS n_rows
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_agg_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
         coalesce(l_linestatus, 'ALL') AS linestatus,
         round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_rows
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY returnflag, linestatus""",
    "q_agg_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
         coalesce(o_orderpriority, 'ALL') AS orderpriority,
         round(sum(o_totalprice), 2) AS sum_price, count(*) AS n_rows
         FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
         ORDER BY orderstatus, orderpriority""",
    "q_agg_stats" ->
      """SELECT l_returnflag,
         round(stddev_samp(l_quantity), 6) AS sd_qty,
         round(var_samp(l_quantity), 6) AS var_qty,
         round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
         round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_agg_percentiles" ->
      """SELECT o_orderpriority,
         round(median(o_totalprice), 4) AS med_price,
         round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
         round(quantile_cont(o_totalprice, 0.75), 4) AS p75
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // Positional replay of the discrete-lower-quantile rank formula:
    // rank = (n-1)*num//den, 0-based over the sorted cents multiset.
    "q_agg_exact_quantiles" ->
      """WITH v AS (SELECT CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS c
                    FROM lineitem),
         n AS (SELECT count(*) AS cnt FROM v),
         o AS (SELECT c, row_number() OVER (ORDER BY c) - 1 AS rn FROM v)
         SELECT s.stat, o.c AS value_cents
         FROM (VALUES ('p25', 1, 4), ('p50', 1, 2), ('p75', 3, 4),
                      ('p99', 99, 100)) s(stat, num, den)
         CROSS JOIN n
         JOIN o ON o.rn = (n.cnt - 1) * s.num // s.den
         ORDER BY stat""",
    // Threshold replay: the discrete-lower p90 rank (n-1)*9//10 found
    // positionally, then the same filter + census. sum over BIGINT is
    // HUGEINT in DuckDB — cast back.
    "q_filter_quantile" ->
      """WITH n AS (SELECT count(*) AS cnt FROM documents),
         o AS (SELECT n_chars, row_number() OVER (ORDER BY n_chars) - 1 AS rn
               FROM documents),
         th AS (SELECT n_chars AS p90 FROM o, n
                WHERE rn = (cnt - 1) * 9 // 10)
         SELECT lang, count(*) AS n_docs, min(doc_id) AS min_doc_id,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM documents, th
         WHERE n_chars >= p90
         GROUP BY lang ORDER BY lang""",
    "q_agg_pivot" ->
      """SELECT l_returnflag,
         round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS "F",
         round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS "O"
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_agg_collect" ->
      """SELECT l_returnflag,
         string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS statuses,
         count(DISTINCT l_linestatus) AS n_statuses
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_agg_grouping_sets" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
         coalesce(o_orderpriority, 'ALL') AS orderpriority,
         round(sum(o_totalprice), 2) AS sum_price, count(*) AS n_rows
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
         ORDER BY orderstatus, orderpriority""",
    "q_join_skew_salted" ->
      """SELECT o_orderstatus,
         round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_items
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // Join order is a pure plan choice — the oracle is the same SQL in
    // DuckDB's own order.
    "q_cbo_join_order" ->
      """SELECT n_name, count(*) AS n_items,
         round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA' AND o_orderstatus = 'F'
         GROUP BY n_name ORDER BY n_name""",
    // The AQE skew split is plan surgery, not semantics — plain join SQL.
    "q_join_skew_aqe" ->
      """SELECT c_mktsegment, count(*) AS n_events,
         round(sum(value), 2) AS sum_value
         FROM events JOIN customer ON user_id = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q_composite_shipping" ->
      """SELECT l_orderkey,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
         epoch_us(o_orderdate) AS o_orderdate_us, o_orderpriority
         FROM customer
           JOIN orders ON c_custkey = o_custkey
           JOIN lineitem ON l_orderkey = o_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-07-01'
           AND l_shipdate > TIMESTAMP '1998-07-01'
         GROUP BY l_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, o_orderdate_us, l_orderkey
         LIMIT 10""",
    "q_composite_returns" ->
      """SELECT c_custkey, c_name,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
         c_acctbal, n_name
         FROM customer
           JOIN orders ON c_custkey = o_custkey
           JOIN lineitem ON l_orderkey = o_orderkey
           JOIN nation ON c_nationkey = n_nationkey
         WHERE l_returnflag = 'R'
           AND o_orderdate >= TIMESTAMP '1997-01-01'
           AND o_orderdate < TIMESTAMP '1997-07-01'
         GROUP BY c_custkey, c_name, c_acctbal, n_name
         ORDER BY revenue DESC, c_custkey
         LIMIT 20""",
    "q_composite_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1997-01-01'
           AND o_orderdate < TIMESTAMP '1997-04-01'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // The frequent-item prefilter is omitted (anti-monotone no-op — see
    // the query comment); thresholds and the ppm quantizations replay the
    // Spark integer arithmetic exactly (// = div, floor-composed lift).
    "q_basket_rules" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, p_brand
                        FROM lineitem JOIN part ON l_partkey = p_partkey),
         nb AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM items),
         freq AS (SELECT p_brand, count(*) AS supp FROM items GROUP BY p_brand),
         pairs AS (SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
                          count(*) AS supp_ab
                   FROM items a JOIN items b
                     ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
                   GROUP BY 1, 2)
         SELECT brand_a, brand_b, fa.supp AS supp_a, fb.supp AS supp_b,
           supp_ab,
           supp_ab * 1000000 // fa.supp AS conf_ab_ppm,
           supp_ab * 1000000 // fb.supp AS conf_ba_ppm,
           (supp_ab * 1000000 // fa.supp) * n_baskets // fb.supp AS lift_ppm
         FROM pairs
         CROSS JOIN nb
         JOIN freq fa ON fa.p_brand = pairs.brand_a
         JOIN freq fb ON fb.p_brand = pairs.brand_b
         WHERE supp_ab * 100 >= n_baskets * 2
           AND fa.supp * 100 >= n_baskets * 2
           AND fb.supp * 100 >= n_baskets * 2
         ORDER BY brand_a, brand_b""",
    // Min-label reachability to the fixed point: UNION-deduped recursive
    // label propagation over the symmetric edge list — component(v) =
    // min(reachable ids) = Components' pointer-jumping invariant.
    "q_graph_components" ->
      s"""WITH RECURSIVE
         ds0 AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         ds AS (SELECT l_orderkey, l_partkey FROM (
                  SELECT l_orderkey, l_partkey, row_number() OVER
                    (PARTITION BY l_orderkey ORDER BY l_partkey) AS rn
                  FROM ds0) z
                WHERE rn <= $CoPairsBasketCap),
         pr AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
                FROM ds a JOIN ds b ON a.l_orderkey = b.l_orderkey
                                   AND a.l_partkey < b.l_partkey
                GROUP BY 1, 2 HAVING count(*) >= 2),
         edges AS (SELECT src, dst FROM pr
                   UNION ALL SELECT dst AS src, src AS dst FROM pr),
         reach(node, r) AS (
           SELECT src, src FROM edges
           UNION
           SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node)
         SELECT node AS id, min(r) AS component FROM reach
         GROUP BY node ORDER BY id""",
    "q_graph_lpa" -> graft.ops.Lpa.oracleSql(
      s"""WITH ds0 AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         ds AS (SELECT l_orderkey, l_partkey FROM (
                  SELECT l_orderkey, l_partkey, row_number() OVER
                    (PARTITION BY l_orderkey ORDER BY l_partkey) AS rn
                  FROM ds0) z
                WHERE rn <= $CoPairsBasketCap),
         pr AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
                FROM ds a JOIN ds b ON a.l_orderkey = b.l_orderkey
                                   AND a.l_partkey < b.l_partkey
                GROUP BY 1, 2 HAVING count(*) >= 2)
         SELECT src, dst FROM pr
         UNION ALL SELECT dst AS src, src AS dst FROM pr""",
      rounds = 3),
    "q_graph_pagerank" -> graft.ops.PageRank.oracleSql(
      """SELECT src, dst FROM (
           SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
           FROM orders JOIN lineitem ON l_orderkey = o_orderkey)
         UNION ALL
         SELECT dst AS src, src AS dst FROM (
           SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
           FROM orders JOIN lineitem ON l_orderkey = o_orderkey)""",
      iters = pagerankIters),
    "q_cdc_diff" ->
      """WITH v1 AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
         v2 AS (
           SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END
               AS o_orderstatus,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10.0
                  ELSE o_totalprice END AS o_totalprice
           FROM v1 WHERE o_orderkey % 13 <> 0
           UNION ALL
           SELECT o_orderkey + 100000000000, 'N', o_totalprice
           FROM v1 WHERE o_orderkey % 97 = 0),
         d AS (
           SELECT CASE WHEN v1.o_orderkey IS NULL THEN 'I'
                       WHEN v2.o_orderkey IS NULL THEN 'D'
                       WHEN v1.o_orderstatus IS DISTINCT FROM v2.o_orderstatus
                         OR v1.o_totalprice IS DISTINCT FROM v2.o_totalprice
                         THEN 'U' END AS op,
             COALESCE(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
             v1.o_orderstatus AS old_o_orderstatus,
             v2.o_orderstatus AS new_o_orderstatus,
             v1.o_totalprice AS old_o_totalprice,
             v2.o_totalprice AS new_o_totalprice
           FROM v1 FULL JOIN v2 ON v1.o_orderkey = v2.o_orderkey)
         SELECT * FROM d WHERE op IS NOT NULL ORDER BY op, o_orderkey""",
    // The strongest possible check of the incremental path: the oracle is
    // the DIRECT aggregation of v2 — Spark only ever reads v1's aggregate
    // plus the changelog, and must land on the identical longs.
    "q_agg_incremental" ->
      """WITH v1 AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
         v2 AS (
           SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END
               AS o_orderstatus,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10.0
                  ELSE o_totalprice END AS o_totalprice
           FROM v1 WHERE o_orderkey % 13 <> 0
           UNION ALL
           SELECT o_orderkey + 100000000000, 'N', o_totalprice
           FROM v1 WHERE o_orderkey % 97 = 0)
         SELECT o_orderstatus, count(*) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
             AS BIGINT) AS sum_cents
         FROM v2 GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q_join_runtime_filter" ->
      """SELECT l_orderkey, round(sum(l_extendedprice), 2) AS rev,
           count(*) AS n_items
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_totalprice > 490000.0
         GROUP BY l_orderkey ORDER BY l_orderkey""",
    // The backbone + orientation replayed relationally: row_number is the
    // same (w DESC, p ASC) total order as TopK.perGroup; (deg, id) row
    // comparisons mirror Spark's struct comparisons exactly. The staged
    // CTEs are MATERIALIZED to pin the wedge-first join order: left to
    // its own devices at sf1, DuckDB inlined `o` three times and picked a
    // join order whose intermediate (a.v = c.u with no other condition —
    // hub in-degree × hub out-degree) spilled past the disk; wedges are
    // O(m^1.5)-bounded and tiny, so forcing wedges-then-close is both
    // the algorithm's intent and the safe plan.
    "q_graph_triangles" ->
      s"""WITH ls0 AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
         ls AS (SELECT l_orderkey, l_suppkey FROM (
                  SELECT l_orderkey, l_suppkey, row_number() OVER
                    (PARTITION BY l_orderkey ORDER BY l_suppkey) AS rn
                  FROM ls0) z
                WHERE rn <= $CoPairsBasketCap),
         pairs AS MATERIALIZED (
                   SELECT a.l_suppkey AS src, b.l_suppkey AS dst, count(*) AS w
                   FROM ls a JOIN ls b USING (l_orderkey)
                   WHERE a.l_suppkey < b.l_suppkey GROUP BY 1, 2),
         dirx AS (SELECT src AS v, dst AS p, w FROM pairs
                  UNION ALL SELECT dst, src, w FROM pairs),
         topk AS (SELECT v, p FROM (
                    SELECT v, p, row_number() OVER
                      (PARTITION BY v ORDER BY w DESC, p ASC) AS rk FROM dirx)
                  WHERE rk <= 5),
         edges AS MATERIALIZED (
                   SELECT DISTINCT least(v, p) AS src, greatest(v, p) AS dst
                   FROM topk),
         deg AS MATERIALIZED (
                 SELECT v, count(*) AS d FROM
                   (SELECT src AS v FROM edges UNION ALL SELECT dst FROM edges)
                 GROUP BY v),
         o AS MATERIALIZED (
               SELECT
                 CASE WHEN (ds.d, e.src) < (dd.d, e.dst) THEN e.src ELSE e.dst END AS u,
                 CASE WHEN (ds.d, e.src) < (dd.d, e.dst) THEN e.dst ELSE e.src END AS v,
                 CASE WHEN (ds.d, e.src) < (dd.d, e.dst) THEN dd.d ELSE ds.d END AS dv
               FROM edges e JOIN deg ds ON ds.v = e.src JOIN deg dd ON dd.v = e.dst),
         wedges AS MATERIALIZED (
                   SELECT a.u, a.v AS x, a.dv AS dx, b.v AS y, b.dv AS dy
                   FROM o a JOIN o b ON a.u = b.u
                   WHERE (a.dv, a.v) < (b.dv, b.v)),
         tri AS MATERIALIZED (
                 SELECT w.u, w.x, w.y
                 FROM wedges w JOIN o c ON c.u = w.x AND c.v = w.y)
         SELECT node, count(*) AS n_triangles FROM (
           SELECT u AS node FROM tri
           UNION ALL SELECT x FROM tri
           UNION ALL SELECT y FROM tri)
         GROUP BY node ORDER BY node""",
    // Backbone replay identical to q_graph_triangles; wedges via a
    // relational self-join of the neighbor list (the Spark side explodes
    // per-node arrays — same pair set), then anti-join existing edges.
    "q_graph_linkpred" ->
      s"""WITH ls0 AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
         ls AS (SELECT l_orderkey, l_suppkey FROM (
                  SELECT l_orderkey, l_suppkey, row_number() OVER
                    (PARTITION BY l_orderkey ORDER BY l_suppkey) AS rn
                  FROM ls0) z
                WHERE rn <= $CoPairsBasketCap),
         pairs AS MATERIALIZED (
                   SELECT a.l_suppkey AS src, b.l_suppkey AS dst, count(*) AS w
                   FROM ls a JOIN ls b USING (l_orderkey)
                   WHERE a.l_suppkey < b.l_suppkey GROUP BY 1, 2),
         dirx AS (SELECT src AS v, dst AS p, w FROM pairs
                  UNION ALL SELECT dst, src, w FROM pairs),
         topk AS (SELECT v, p FROM (
                    SELECT v, p, row_number() OVER
                      (PARTITION BY v ORDER BY w DESC, p ASC) AS rk FROM dirx)
                  WHERE rk <= 5),
         edges AS MATERIALIZED (
                   SELECT DISTINCT least(v, p) AS src, greatest(v, p) AS dst
                   FROM topk),
         nbr AS (SELECT src AS u, dst AS v FROM edges
                 UNION ALL SELECT dst, src FROM edges),
         deg AS MATERIALIZED (SELECT u AS v, count(*) AS d FROM nbr GROUP BY u),
         wed AS MATERIALIZED (
                 SELECT a.v AS x, b.v AS y, count(*) AS cn
                 FROM nbr a JOIN nbr b ON a.u = b.u AND a.v < b.v
                 GROUP BY 1, 2 HAVING count(*) >= 2),
         ne AS (SELECT w.x, w.y, w.cn
                FROM wed w LEFT JOIN edges e ON e.src = w.x AND e.dst = w.y
                WHERE e.src IS NULL)
         SELECT ne.x, ne.y, ne.cn,
           ne.cn * 1000000 // (dx.d + dy.d - ne.cn) AS jaccard_ppm
         FROM ne JOIN deg dx ON dx.v = ne.x JOIN deg dy ON dy.v = ne.y
         ORDER BY jaccard_ppm DESC, ne.x, ne.y""",
    "q_filter_pushdown" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount
         FROM lineitem WHERE l_quantity < 5 AND l_discount > 0.05
         ORDER BY l_orderkey, l_linenumber""",
    "q_filter_in_between" ->
      """SELECT p_partkey, p_brand, p_size
         FROM part WHERE p_size BETWEEN 10 AND 20
         AND p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
         ORDER BY p_partkey""",
    "q_join_broadcast" ->
      """SELECT n_nationkey, n_name, r_name
         FROM nation JOIN region ON n_regionkey = r_regionkey
         ORDER BY n_nationkey""",
    "q_join_shuffle" ->
      """SELECT o_orderpriority,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
         count(*) AS n_items
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_join_bucketed" ->
      """SELECT c_custkey, count(*) AS n_orders,
         round(sum(o_totalprice), 2) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_custkey ORDER BY c_custkey""",
    "q_join_multiway" ->
      """SELECT r_name, round(sum(o_totalprice), 2) AS sum_price, count(*) AS n_orders
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name ORDER BY r_name""",
    "q_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_totalprice > 100000)
         ORDER BY c_custkey""",
    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_totalprice > 300000)
         ORDER BY c_custkey""",
    "q_join_outer" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
         round(sum(coalesce(o_totalprice, 0)), 2) AS sum_price
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey ORDER BY c_custkey""",
    "q_join_nonequi" ->
      """SELECT s_nationkey, count(*) AS n_pairs
         FROM supplier JOIN customer
         ON s_nationkey = c_nationkey AND s_acctbal > c_acctbal
         GROUP BY s_nationkey ORDER BY s_nationkey""",
    "q_join_nonequi_sweep" ->
      """SELECT s_nationkey, count(*) AS n_pairs
         FROM supplier JOIN customer
         ON s_nationkey = c_nationkey AND s_acctbal > c_acctbal
         GROUP BY s_nationkey ORDER BY s_nationkey""",
    "q_join_cross" ->
      """SELECT a.r_name AS r1, b.r_name AS r2
         FROM region a CROSS JOIN region b ORDER BY r1, r2""",
    "q_skew_profile" ->
      """WITH cnt AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
         tot AS (SELECT sum(cnt) AS total, count(*) AS n_keys FROM cnt)
         SELECT user_id, cnt,
           CAST(floor(cnt * 1000000.0 / total) AS BIGINT) AS share_ppm,
           CAST(floor(cnt * 10000.0 * n_keys / total) AS BIGINT) AS skew_x10000
         FROM cnt CROSS JOIN tot
         ORDER BY cnt DESC, user_id LIMIT 10""",
    "q_quality_profile" ->
      """SELECT count(*) AS n_rows,
         count(*) - count(DISTINCT concat_ws(' ', l_orderkey, l_linenumber)) AS n_dup_keys,
         CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_shipdate,
         CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonpositive_qty,
         CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT) AS discount_out_of_range,
         CAST(sum(CASE WHEN l_extendedprice < 0 THEN 1 ELSE 0 END) AS BIGINT) AS negative_price
         FROM lineitem""",
    "q_sql_subquery" ->
      """SELECT c_custkey, c_nationkey, round(c_acctbal, 2) AS acctbal
         FROM customer c
         WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
                            WHERE c2.c_nationkey = c.c_nationkey)
         ORDER BY c_custkey""",
    "q_sort_limit" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""",
    "q_topk_per_group" ->
      """SELECT o_orderpriority, rk, o_orderkey, o_totalprice FROM (
           SELECT o_orderpriority, o_orderkey, o_totalprice,
             CAST(row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS rk
           FROM orders) t
         WHERE rk <= 3 ORDER BY o_orderpriority, rk""",
    "q_join_dpp" ->
      """WITH m AS (SELECT DISTINCT
             CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT)
               AS ship_month
           FROM orders
           WHERE o_orderdate >= TIMESTAMP '1997-01-01'
             AND o_orderdate < TIMESTAMP '1997-04-01')
         SELECT ship_month, count(*) AS n_items,
           round(sum(l_quantity), 2) AS sum_qty
         FROM (SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS INT)
                 AS ship_month, l_quantity FROM lineitem) l
         JOIN m USING (ship_month)
         GROUP BY ship_month ORDER BY ship_month""",
    "q_join_temporal" ->
      """WITH c AS (SELECT c_custkey, round(c_acctbal, 2) AS bal FROM customer),
         dim AS (
           SELECT c_custkey, bal, CAST(0 AS BIGINT) AS vf,
             CAST(CASE WHEN c_custkey % 10 = 0 THEN 852076800
                       ELSE 253402300799 END AS BIGINT) AS vt
           FROM c
           UNION ALL
           SELECT c_custkey, round(bal + 100.0, 2),
             CAST(852076800 AS BIGINT), CAST(867715200 AS BIGINT)
           FROM c WHERE c_custkey % 10 = 0
           UNION ALL
           SELECT c_custkey, round(bal + 200.0, 2),
             CAST(867715200 AS BIGINT), CAST(253402300799 AS BIGINT)
           FROM c WHERE c_custkey % 10 = 0)
         SELECT o_orderkey, o_custkey, bal AS bal_at_order,
           vf AS version_from
         FROM orders JOIN dim ON o_custkey = c_custkey
           AND vf <= CAST(floor(epoch(o_orderdate)) AS BIGINT)
           AND CAST(floor(epoch(o_orderdate)) AS BIGINT) < vt
         ORDER BY o_orderkey""",
    "q_merge_scd2" ->
      """WITH c AS (SELECT c_custkey, c_mktsegment, round(c_acctbal, 2) AS c_acctbal
                    FROM customer)
         SELECT c_custkey, c_mktsegment, c_acctbal,
           CAST(0 AS BIGINT) AS valid_from,
           CAST(CASE WHEN c_custkey % 10 = 0 THEN 1000
                     ELSE 253402300799 END AS BIGINT) AS valid_to
         FROM c
         UNION ALL
         SELECT c_custkey, c_mktsegment, round(c_acctbal + 100.0, 2),
           CAST(1000 AS BIGINT), CAST(253402300799 AS BIGINT)
         FROM c WHERE c_custkey % 10 = 0
         UNION ALL
         SELECT c_custkey + 100000000000, c_mktsegment, c_acctbal,
           CAST(1000 AS BIGINT), CAST(253402300799 AS BIGINT)
         FROM c WHERE c_custkey % 10 = 2
         ORDER BY c_custkey, valid_from""",
    "q_merge_upsert" ->
      """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
         delta AS (
           SELECT o_orderkey, 'X' AS o_orderstatus,
                  o_totalprice + 10.0 AS o_totalprice
           FROM base WHERE o_orderkey % 7 = 0
           UNION ALL
           SELECT o_orderkey + 100000000000, o_orderstatus, o_totalprice
           FROM base WHERE o_orderkey % 97 = 0)
         SELECT coalesce(d.o_orderkey, b.o_orderkey) AS o_orderkey,
           CASE WHEN d.o_orderkey IS NOT NULL THEN d.o_orderstatus
                ELSE b.o_orderstatus END AS o_orderstatus,
           CASE WHEN d.o_orderkey IS NOT NULL THEN d.o_totalprice
                ELSE b.o_totalprice END AS o_totalprice
         FROM base b FULL JOIN delta d ON b.o_orderkey = d.o_orderkey
         ORDER BY o_orderkey""",
    "q_join_range_binned" ->
      """SELECT o.o_orderkey, count(*) AS n_ship
         FROM orders o JOIN lineitem l
           ON l.l_shipdate >= o.o_orderdate
          AND l.l_shipdate < o.o_orderdate + INTERVAL 7 DAY
         WHERE o.o_orderkey % 100 = 0
         GROUP BY o.o_orderkey ORDER BY o.o_orderkey""",
    // The oracle is the nonequi interval join the sweep replaces.
    "q_join_interval_overlap" ->
      """SELECT o.o_orderkey, count(*) AS n_overlaps
         FROM orders o JOIN lineitem l
           ON l.l_shipdate <= o.o_orderdate + INTERVAL 7 DAY
          AND l.l_shipdate + INTERVAL 3 DAY >= o.o_orderdate
         WHERE o.o_orderkey % 100 = 0
         GROUP BY o.o_orderkey ORDER BY o.o_orderkey""",
    "q_join_range_sweep" ->
      """SELECT o.o_orderkey, count(*) AS n_ship
         FROM orders o JOIN lineitem l
           ON l.l_shipdate >= o.o_orderdate
          AND l.l_shipdate < o.o_orderdate + INTERVAL 7 DAY
         WHERE o.o_orderkey % 100 = 0
         GROUP BY o.o_orderkey ORDER BY o.o_orderkey""",
    "q_join_range_sweep_sum" ->
      """SELECT o.o_orderkey, count(*) AS n_ship,
           CAST(sum(CAST(floor(l.l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS qty_c
         FROM orders o JOIN lineitem l
           ON l.l_shipdate >= o.o_orderdate
          AND l.l_shipdate < o.o_orderdate + INTERVAL 7 DAY
         WHERE o.o_orderkey % 100 = 0
         GROUP BY o.o_orderkey ORDER BY o.o_orderkey""",
    // DuckDB's sum(BIGINT) returns exact HUGEINT (int128) — the same
    // exact-integer sufficient statistics Spark holds in decimal(38,0);
    // the double casts land at the same two spots so the one divide and
    // one sqrt pair up bit-identically.
    "q_agg_corr_matrix" -> {
      val cols = CorrMatrixCols
      val unit = Map(
        "qty" -> "CAST(floor(l_quantity + 0.5) AS BIGINT)",
        "price" -> "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)",
        "disc" -> "CAST(floor(l_discount * 100 + 0.5) AS BIGINT)",
        "tax" -> "CAST(floor(l_tax * 100 + 0.5) AS BIGINT)")
      val pairs = for {
        i <- cols.indices; j <- (i + 1) until cols.size
      } yield (cols(i), cols(j))
      val sums = cols.flatMap(c =>
        Seq(s"sum($c) AS s_$c", s"sum($c * $c) AS ss_$c")) ++
        pairs.map { case (a, b) => s"sum($a * $b) AS sp_${a}_$b" }
      val arms = pairs.map { case (a, b) =>
        s"""SELECT l_returnflag, '$a~$b' AS col_pair, n AS n_rows,
             CASE WHEN (n * ss_$a - s_$a * s_$a) > 0
                   AND (n * ss_$b - s_$b * s_$b) > 0 THEN
               CAST(floor(CAST(n * sp_${a}_$b - s_$a * s_$b AS DOUBLE)
                 / sqrt(CAST(n * ss_$a - s_$a * s_$a AS DOUBLE)
                      * CAST(n * ss_$b - s_$b * s_$b AS DOUBLE))
                 * 1000000 + 0.5) AS BIGINT) END AS r_micro
           FROM st"""
      }
      s"""WITH base AS (SELECT l_returnflag,
             ${cols.map(c => s"${unit(c)} AS $c").mkString(", ")}
           FROM lineitem),
         st AS (SELECT l_returnflag, count(*) AS n, ${sums.mkString(", ")}
                FROM base GROUP BY 1)
         ${arms.mkString(" UNION ALL ")}
         ORDER BY l_returnflag, col_pair"""
    },
    // HUGEINT sufficient statistics ≡ Spark's decimal(38,0); every
    // divide/sub/sqrt lands in the same order so the doubles pair up
    // bit-identically.
    "q_stats_welch_ttest" -> {
      def a(i: Int) =
        s"""(CAST(n$i * sxx$i - sx$i * sx$i AS DOUBLE)
           / CAST(CAST(n$i AS HUGEINT) * n$i * (n$i - 1) AS DOUBLE))"""
      def m(i: Int) = s"(CAST(sx$i AS DOUBLE) / n$i)"
      val se2 = s"(${a(1)} + ${a(2)})"
      val ok = s"n1 > 1 AND n2 > 1 AND $se2 > 0"
      s"""WITH base AS (SELECT l_returnflag,
             (floor(l_discount * 100 + 0.5) > 5) AS treated,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
           FROM lineitem),
         st AS (SELECT l_returnflag,
             CAST(sum(CASE WHEN treated THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             sum(CASE WHEN treated THEN cents ELSE 0 END) AS sx1,
             sum(CASE WHEN treated THEN cents * cents ELSE 0 END) AS sxx1,
             CAST(sum(CASE WHEN NOT treated THEN 1 ELSE 0 END) AS BIGINT)
               AS n2,
             sum(CASE WHEN NOT treated THEN cents ELSE 0 END) AS sx2,
             sum(CASE WHEN NOT treated THEN cents * cents ELSE 0 END) AS sxx2
           FROM base GROUP BY 1)
         SELECT l_returnflag, n1 AS n_treated, n2 AS n_control,
           CASE WHEN $ok THEN CAST(floor((${m(1)} - ${m(2)})
             * 1000000 + 0.5) AS BIGINT) END AS diff_micro,
           CASE WHEN $ok THEN CAST(floor((${m(1)} - ${m(2)}) / sqrt($se2)
             * 1000000 + 0.5) AS BIGINT) END AS t_micro,
           CASE WHEN $ok THEN CAST(floor($se2 * $se2
             / (${a(1)} * ${a(1)} / (n1 - 1) + ${a(2)} * ${a(2)} / (n2 - 1))
             * 1000000 + 0.5) AS BIGINT) END AS dof_micro
         FROM st ORDER BY l_returnflag"""
    },
    // Same Börzsönyi pre-collapse, same strict-dominance window test.
    "q_agg_skyline" ->
      """WITH best AS (
           SELECT l_returnflag,
             CAST(floor(l_quantity + 0.5) AS BIGINT) AS qty,
             CAST(max(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
               AS BIGINT) AS cents
           FROM lineitem GROUP BY 1, 2),
         sky AS (SELECT best.*,
             max(cents) OVER (PARTITION BY l_returnflag ORDER BY qty DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS max_prev
           FROM best)
         SELECT l_returnflag, qty, cents FROM sky
         WHERE max_prev IS NULL OR cents > max_prev
         ORDER BY l_returnflag, qty DESC""",
    // Same integer week key, same add-one smoothing over the
    // un-materialized full grid, same per-bucket micro quantization
    // before the exact sum.
    "q_quality_drift_psi" ->
      s"""WITH wb AS (
           SELECT date_diff('day', DATE '1970-01-01',
                    CAST(o_orderdate AS DATE)) // 7 AS week,
             least(CAST(floor(o_totalprice / $PsiBucketWidth.0) AS BIGINT),
               ${PsiBuckets - 1}) AS bucket,
             count(*) AS n
           FROM orders GROUP BY 1, 2),
         ref AS (SELECT bucket, CAST(sum(n) AS BIGINT) AS rn
                 FROM wb GROUP BY 1),
         wt AS (SELECT week, CAST(sum(n) AS BIGINT) AS wt
                FROM wb GROUP BY 1),
         rt AS (SELECT CAST(sum(rn) AS BIGINT) AS rt FROM ref),
         grid AS (SELECT w.week, w.wt, r.bucket, r.rn, rt.rt,
             coalesce(b.n, 0) AS nn
           FROM wt w CROSS JOIN ref r CROSS JOIN rt
           LEFT JOIN wb b ON b.week = w.week AND b.bucket = r.bucket),
         terms AS (SELECT week, wt,
             CAST(floor(
               (CAST(nn + 1 AS DOUBLE) / CAST(wt + $PsiBuckets AS DOUBLE)
                - CAST(rn + 1 AS DOUBLE) / CAST(rt + $PsiBuckets AS DOUBLE))
               * ln((CAST(nn + 1 AS DOUBLE) / CAST(wt + $PsiBuckets AS DOUBLE))
                  / (CAST(rn + 1 AS DOUBLE) / CAST(rt + $PsiBuckets AS DOUBLE)))
               * 1000000 + 0.5) AS BIGINT) AS term_micro
           FROM grid)
         SELECT week, CAST(max(wt) AS BIGINT) AS n_orders,
           CAST(sum(term_micro) AS BIGINT) AS psi_micro
         FROM terms GROUP BY week ORDER BY week""",
    // Same observed-week lag; HUGEINT revenue ≡ decimal(38,0);
    // `//` ≡ Spark div toward zero on the signed numerator.
    "q_window_wow_growth" ->
      """WITH wk AS (
           SELECT o_orderpriority AS prio,
             date_diff('day', DATE '1970-01-01',
               CAST(o_orderdate AS DATE)) // 7 AS week,
             count(*) AS n_orders,
             sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev
           FROM orders GROUP BY 1, 2),
         lg AS (SELECT wk.*, lag(rev, 1) OVER
               (PARTITION BY prio ORDER BY week) AS prev_rev
             FROM wk)
         SELECT prio, week, n_orders, CAST(rev AS BIGINT) AS rev_cents,
           CASE WHEN prev_rev > 0
             THEN CAST((rev - prev_rev) * 1000000 // prev_rev AS BIGINT)
           END AS growth_ppm
         FROM lg ORDER BY prio, week"""
  )
}
