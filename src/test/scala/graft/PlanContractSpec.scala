package graft

import graft.ops.{Dedup, IntervalExpand}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._

/** Physical-plan contracts for the scale-critical operators: these encode
  * the `.explain` audits as assertions so a regression (lost pushdown, a
  * broadcast degrading to shuffle, an operator growing an exchange) fails
  * the suite instead of only showing up as a slow benchmark.
  */
class PlanContractSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val sfDir = "/root/testdata/sf0.001"

  private def plan(name: String) =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan

  test("filter + projection push down to the parquet scan") {
    val scans = collectWithSubqueries(plan("q_filter_pushdown")) {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    val scan = scans.head
    assert(scan.metadata("PushedFilters").contains("LessThan(l_quantity,5.0)"),
      s"missing pushed filter: ${scan.metadata("PushedFilters")}")
    // column pruning: only the 4 projected columns are read
    assert(scan.schema.fieldNames.toSet ==
      Set("l_orderkey", "l_linenumber", "l_quantity", "l_discount"))
  }

  test("dimension join plans as a broadcast hash join") {
    val bhj = collectWithSubqueries(plan("q_join_broadcast")) {
      case j: BroadcastHashJoinExec => j
    }
    assert(bhj.nonEmpty, "nation x region should broadcast")
  }

  test("bucketed join + same-key agg: the only exchange is the presentation sort") {
    // layout pays the shuffle once; join AND aggregation reuse the bucket
    // partitioning, so the executed plan's only exchange is the final
    // ORDER BY's range exchange — at 100 TB this is the difference between
    // shuffling the fact table nightly and never shuffling it at all
    val p = plan("q_join_bucketed")
    val exchanges = collectWithSubqueries(p) { case e: ShuffleExchangeExec => e }
    assert(exchanges.length == 1,
      s"expected only the sort's range exchange, got ${exchanges.length}:\n$p")
    assert(exchanges.head.outputPartitioning.getClass.getSimpleName
      .contains("RangePartitioning"),
      s"the single exchange must be the ORDER BY: ${exchanges.head.outputPartitioning}")
    val smj = collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.nonEmpty, s"bucketed join must be sort-merge, not broadcast:\n$p")
  }

  test("interval expansion is narrow: the only exchange is the explicit sort") {
    val df = IntervalExpand.faithful(
      graft.queries.Flagship.syntheticReadings(spark, sfDir), sort = false)
    val exchanges = collectWithSubqueries(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty, s"expansion must not shuffle:\n$df")
  }

  test("interval expansion's sort keeps its width: one range exchange, never coalesced") {
    val df = IntervalExpand.faithful(graft.queries.Flagship.syntheticReadings(spark, sfDir))
    val exchanges = collectWithSubqueries(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e
    }
    assert(exchanges.size == 1, s"expected only the sort's exchange:\n$df")
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
    exchanges.head.outputPartitioning match {
      case r: RangePartitioning => assert(r.numPartitions == width)
      case p => fail(s"the sort's exchange must be a range exchange, got $p")
    }
    df.collect()
    val coalesced = collectWithSubqueries(df.queryExecution.executedPlan) {
      case r: AQEShuffleReadExec if r.hasCoalescedPartition => r
    }
    assert(coalesced.isEmpty,
      s"AQE coalesced the sort's shuffle:\n${df.queryExecution.executedPlan}")
  }

  test("native minhash signatures plan with zero exchanges") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val sigs = Dedup.minHashSignatures(d, "doc_id", "text")
    val exchanges = collectWithSubqueries(sigs.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty, "signature computation must be map-only")
  }

  test("top-k per group prunes narrowly before its only window shuffle") {
    val exchanges = collectWithSubqueries(plan("q_topk_per_group")) {
      case e: ShuffleExchangeExec => e
    }
    // the heap prune is narrow, so only the survivor window exchange and
    // the ORDER BY range exchange remain — the full table never shuffles
    assert(exchanges.size <= 2, s"unexpected extra shuffles: ${exchanges.size}")
    val p = plan("q_topk_per_group").toString
    assert(p.contains("MapPartitions"),
      "heap prune (mapPartitions) missing from the plan")
  }

  test("binned range join plans as an equi-join, never a nested loop") {
    val p = plan("q_join_range_binned")
    val bad = collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }
    assert(bad.isEmpty, s"range join degraded to a nested loop:\n$p")
  }

  test("set-similarity join never degrades to a nested loop or cartesian") {
    // the lossless prefix filter exists to REPLACE the all-pairs shape —
    // a resolution change that reintroduces one (e.g. the id_a < id_b
    // predicate migrating out of an equi-join) must fail here, not show
    // up as a quadratic bench entry
    val p = plan("q_sim_set_join")
    val bad = collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }
    assert(bad.isEmpty, s"set-sim join degraded to an all-pairs shape:\n$p")
  }

  test("pagerank: iterations read caches, and nothing goes cartesian") {
    val p = plan("q_graph_pagerank")
    // the vertex-count cross join broadcasts a one-row aggregate INSIDE
    // the persisted vertex frame; in the outer plan no join may ever be
    // an unbroadcast cartesian
    assert(collectWithSubqueries(p) {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }.isEmpty, s"pagerank grew a cartesian product:\n$p")
    // the iterations consume the edge list and the vertex frame via
    // persisted in-memory relations — the scan+repartition+aggregate
    // lineage must not replay per round (iters edge scans + iters+1
    // vertex scans; count derived from the query's own constant so the
    // contract tracks the definition)
    val expectCached = 2 * graft.queries.Relational.pagerankIters + 1
    val cached = collectWithSubqueries(p) {
      case c: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => c
    }
    assert(cached.size >= expectCached,
      s"expected >= $expectCached cached scans, got ${cached.size}:\n$p")
  }

  test("a selective dim filter injects a runtime bloom filter into the fact scan") {
    // Semi-join reduction: the filtered creation side builds a bloom filter
    // that prunes fact rows BEFORE the join shuffle — at 100 TB this is the
    // difference between shuffling the whole fact table and shuffling only
    // rows that can match. Thresholds are lowered because the test tables
    // are far below the 10 MB production default.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      .map(k => k -> conf.get(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val big = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val small = spark.read.parquet(s"$sfDir/orders.parquet")
        .filter(col("o_totalprice") > 350000)
      val j = big.join(small, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").count()
      assert(j.queryExecution.executedPlan.toString.contains("might_contain"),
        "runtime bloom filter was not injected on the fact side")
    } finally saved.foreach { case (k, v) => conf.set(k, v) }
  }

  test("IVF probe scan partition-prunes to the probed lists") {
    // fit once -> corpus partitioned by list_id; the probe joins the scan
    // on the partition column against a broadcast probe set, so dynamic
    // partition pruning must reach the file scan: at 100 TB this is the
    // difference between reading nProbe/nLists of the corpus and all of it
    val dir = tmpDir("graft_ivf_spec_")
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val index = graft.ops.Similarity.fitIvf(e, nLists = 4, dir)
    val probe = graft.ops.Similarity.probeIvf(
      spark, index, e.filter(col("vec_id") < 5), k = 3, nProbe = 2)
    val scans = collectWithSubqueries(probe.queryExecution.executedPlan) {
      case s: FileSourceScanExec if s.schema.fieldNames.contains("c_emb") ||
        s.output.exists(_.name == "list_id") => s
    }
    assert(scans.nonEmpty, "no corpus scan found in the probe plan")
    val pruned = scans.exists(_.partitionFilters.exists(
      _.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.DynamicPruning])))
    assert(pruned,
      s"corpus scan lacks a dynamic partition-pruning filter: " +
        scans.map(_.partitionFilters).mkString("; "))
  }

  test("merge/upsert broadcasts a small delta instead of shuffling the base") {
    val bhj = collectWithSubqueries(plan("q_merge_upsert")) {
      case j: BroadcastHashJoinExec => j
    }
    // full-outer can't broadcast-hash in Spark; accept either a broadcast
    // or a single-shuffle sort-merge — but never more than the join's own
    // exchanges (base + delta) plus the output range sort
    val exchanges = collectWithSubqueries(plan("q_merge_upsert")) {
      case e: ShuffleExchangeExec => e
    }
    assert(bhj.nonEmpty || exchanges.size <= 3,
      s"merge plan has ${exchanges.size} exchanges and no broadcast")
  }

  test("composite pipelines: dims broadcast, the fact table never builds, filters reach the scans") {
    // The composite TPC-H shapes exist to exercise join ORDERING under
    // AQE: whatever order the optimizer picks, the scale contract is that
    // lineitem (the 100 TB side) is never the build side of a broadcast,
    // dimension tables arrive via broadcast, and every selective predicate
    // reaches its parquet scan instead of filtering post-join.
    def scansOf(p: org.apache.spark.sql.execution.SparkPlan) =
      collectWithSubqueries(p) { case s: FileSourceScanExec => s }
    def tableOf(s: FileSourceScanExec): String =
      s.relation.location.rootPaths.mkString(",")
    for (q <- Seq("q_composite_shipping", "q_composite_returns")) {
      val p = plan(q)
      val bhj = collectWithSubqueries(p) { case j: BroadcastHashJoinExec => j }
      assert(bhj.nonEmpty, s"$q: no dimension broadcast in\n$p")
      val builtTables = bhj.flatMap { j =>
        val build = j.buildSide match {
          case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
          case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
        }
        scansOf(build).map(tableOf)
      }
      assert(!builtTables.exists(_.contains("lineitem")),
        s"$q: the fact table ended up on a broadcast build side: $builtTables")
      val liScan = scansOf(p).find(s => tableOf(s).contains("lineitem")).get
      assert(liScan.metadata("PushedFilters") != "[]",
        s"$q: lineitem predicate not pushed: ${liScan.metadata("PushedFilters")}")
      val cScan = scansOf(p).find(s => tableOf(s).contains("customer")).get
      if (q == "q_composite_shipping")
        assert(cScan.metadata("PushedFilters").contains("c_mktsegment"),
          s"$q: segment filter not pushed: ${cScan.metadata("PushedFilters")}")
    }
    // Q4 shape: the EXISTS must plan as a LEFT SEMI join carrying the
    // non-equi shipdate predicate — not a full join + dedup
    val pp = plan("q_composite_priority")
    val semis = collectWithSubqueries(pp) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
        if j.joinType.toString == "LeftSemi" => j.toString
      case j: BroadcastHashJoinExec if j.joinType.toString == "LeftSemi" => j.toString
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
        if j.joinType.toString == "LeftSemi" => j.toString
    }
    assert(semis.nonEmpty, s"q_composite_priority: no semi join in\n$pp")
    assert(semis.exists(_.contains("l_shipdate")),
      "the non-equi shipdate predicate must ride the semi join")
  }

  test("curate pipeline: exactly two row-bearing shuffles on the emit path") {
    // q_curate_pipeline's scaladoc claims the emit path crosses two
    // row-bearing shuffles (dedup's content-hash window + the pack
    // shard window), with the mixture stats arriving via broadcast and
    // the manifest aggregate reusing the shard partitioning. Encode that
    // as a contract: outside broadcast subtrees the plan may hold exactly
    // those two hash exchanges plus the single presentation ORDER BY
    // (range) — a future edit that sneaks in another exchange fails here.
    val p = plan("q_curate_pipeline")
    def shufflesIn(t: org.apache.spark.sql.execution.SparkPlan) =
      t.collect { case e: ShuffleExchangeExec => e }
    val all = collectWithSubqueries(p) { case e: ShuffleExchangeExec => e }
    val underBroadcast = collectWithSubqueries(p) {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
    }.flatMap(b => shufflesIn(b.child))
    val emit = all.filterNot(e => underBroadcast.exists(_ eq e))
    val (range, hash) = emit.partition(
      _.outputPartitioning.getClass.getSimpleName.contains("RangePartitioning"))
    assert(hash.length == 2,
      s"emit path must cross exactly 2 row-bearing hash shuffles, got ${hash.length}:\n$p")
    assert(range.length == 1,
      s"exactly one presentation sort expected, got ${range.length}:\n$p")
    // the stats subtree rides a broadcast (its own exchanges are the
    // documented second pass, not the emit path)
    assert(underBroadcast.nonEmpty,
      "mixture stats should arrive via a broadcast subtree")
  }

  test("curate pipeline v2: emit shuffles only on the three window keys; text never a key") {
    // The eight-stage crawl-day chain must keep its gates off the emit
    // path: blocklist/bloom/near-dup arrive as broadcast anti-joins (their
    // own exchanges live under broadcast subtrees — gate volumes are
    // dup-sized, never day-sized), so the only row-bearing hash shuffles
    // the day's rows may cross are the three window families: the
    // URL-dedup window (xxhash64 key), the exact-dedup window (md5 key),
    // and the pack shard window — plus one presentation range sort. The
    // EXACT count is cache-shape-dependent (the pipeline persists its
    // fan-out points, and exchanges inside a populated InMemoryTableScan
    // are invisible to plan traversal), so the contract pins the KEY SET:
    // no emit shuffle may use any other key, the manifest path's shard
    // shuffle must be present, and raw text must never partition
    // anything anywhere in the plan.
    val df = SparkEntry.queries("q_curate_pipeline_v2")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    def shufflesIn(t: org.apache.spark.sql.execution.SparkPlan) =
      collect(t) { case e: ShuffleExchangeExec => e }
    val all = collectWithSubqueries(p) { case e: ShuffleExchangeExec => e }
    val underBroadcast = collectWithSubqueries(p) {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
    }.flatMap(b => shufflesIn(b.child))
    val emit = all.filterNot(e => underBroadcast.exists(_ eq e))
    val (range, hash) = emit.partition(
      _.outputPartitioning.getClass.getSimpleName.contains("RangePartitioning"))
    assert(range.length == 1,
      s"exactly one presentation sort expected, got ${range.length}:\n$p")
    // normalize: strip expr ids and partition counts
    def key(e: ShuffleExchangeExec): String =
      e.outputPartitioning.toString.replaceAll("#\\d+L?", "").replaceAll(", \\d+\\)", ")")
    val allowed = Set(
      "hashpartitioning(_w0)",   // URL-dedup / md5-dedup window keys
      "hashpartitioning(shard)") // pack shard window (manifest agg reuses it)
    val offenders = hash.map(key).filterNot(allowed)
    assert(offenders.isEmpty,
      s"unexpected emit-path shuffle keys ${offenders.distinct}:\n$p")
    assert(hash.map(key).contains("hashpartitioning(shard)"),
      s"manifest path must cross the shard window shuffle:\n$p")
    assert(hash.length <= 4,
      s"emit path crossed ${hash.length} hash shuffles — a gate left its broadcast:\n$p")
    all.foreach { e =>
      assert(!e.outputPartitioning.toString.contains("text#"),
        s"raw text used as a shuffle key:\n$e")
    }
  }

  test("q_curate_pipeline_v3: drift stage adds only batch-keyed aggregates; admission stays broadcast") {
    // v2's key-set contract extended by stage 0: the day's rows may
    // additionally cross the two KL aggregation keys ((batch_id, bucket)
    // and batch_id — both schema-bounded: |batches| x |buckets| cells),
    // and the quarantine/reference/totals tables ride as broadcasts so
    // ADMISSION itself never shuffles the day.
    val df = SparkEntry.queries("q_curate_pipeline_v3")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    def shufflesIn(t: org.apache.spark.sql.execution.SparkPlan) =
      collect(t) { case e: ShuffleExchangeExec => e }
    val all = collectWithSubqueries(p) { case e: ShuffleExchangeExec => e }
    val underBroadcast = collectWithSubqueries(p) {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
    }.flatMap(b => shufflesIn(b.child))
    val emit = all.filterNot(e => underBroadcast.exists(_ eq e))
    def key(e: ShuffleExchangeExec): String =
      e.outputPartitioning.toString.replaceAll("#\\d+L?", "").replaceAll(", \\d+\\)", ")")
    val hash = emit.filterNot(
      _.outputPartitioning.getClass.getSimpleName.contains("RangePartitioning"))
    val allowed = Set(
      "hashpartitioning(_w0)",              // URL-dedup / md5-dedup windows
      "hashpartitioning(shard)",            // pack shard window
      "hashpartitioning(batch_id, bucket)", // KL per-(batch, bucket) agg
      "hashpartitioning(batch_id)")         // KL per-batch rollup
    val offenders = hash.map(key).filterNot(allowed)
    assert(offenders.isEmpty,
      s"unexpected emit-path shuffle keys ${offenders.distinct}:\n$p")
    assert(hash.map(key).contains("hashpartitioning(shard)"),
      s"manifest path must cross the shard window shuffle:\n$p")
    all.foreach { e =>
      assert(!e.outputPartitioning.toString.contains("text#"),
        s"raw text used as a shuffle key:\n$e")
    }
  }

  test("q_cbo_join_order: ANALYZE'd stats provably flip the join order") {
    // The CBO demo's whole point, asserted both ways on the OPTIMIZED
    // logical plan's leaf order: rule-based Catalyst keeps the deliberate
    // fact-first syntactic order (lineitem joins first), the cost-based
    // DP enumeration with catalog statistics starts from the selective
    // dimension chain (nation/region first, lineitem LAST). Results are
    // plan-invariant — the DuckDB oracle covers that; this pins the plan.
    def leafOrder(cbo: Boolean): Seq[String] =
      graft.queries.Relational.cboJoinOrderQuery(spark, sfDir, cbo)
        .queryExecution.optimizedPlan.collectLeaves()
        .map(_.toString.replaceAll("(?s).*graft_cbo_[0-9a-f]+_([a-z]+).*", "$1"))
    val off = leafOrder(cbo = false)
    val on = leafOrder(cbo = true)
    assert(off.head == "lineitem",
      s"without stats the syntactic fact-first order must survive: $off")
    assert(Set("nation", "region").contains(on.head) && on.last == "lineitem",
      s"with stats the dimension chain must join first: $on")
    assert(on != off, "stats must change the join order")
  }

  test("q_join_skew_aqe: the hot partition is split by the runtime skew join") {
    // The AQE twin of the manual salting demo must actually engage: the
    // executed plan's sort-merge join carries isSkewJoin = true (the hot
    // user_id partition split along mapper blocks, build side
    // replicated). A silent no-op — the exact failure mode measured when
    // the fact side reads as ONE map task — would pass every correctness
    // check while demonstrating nothing.
    val df = SparkEntry.queries("q_join_skew_aqe")(spark, sfDir)
    df.collect()
    val smj = collectWithSubqueries(df.queryExecution.executedPlan) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.nonEmpty, "skew demo must plan a sort-merge join")
    assert(smj.exists(_.isSkewJoin),
      s"AQE skew split did not engage:\n${df.queryExecution.executedPlan}")
  }

  test("perplexity scoring joins the broadcast LM, never a token shuffle") {
    // unigramNll's contract: the per-token scoring join must broadcast
    // the (vocab-sized) LM — a sort-merge join on `term` would shuffle
    // the full token stream and serialize Zipf-hot terms into stragglers
    val p = plan("q_text_perplexity")
    val bhj = collectWithSubqueries(p) { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, s"LM join must broadcast:\n$p")
    val smj = collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.isEmpty, s"token stream must never sort-merge:\n$p")
  }

  test("weighted sweep: both accumulators ride the count twin's exchanges") {
    // sumPerInterval's claim is that adding the payload accumulator adds
    // NO exchange over countPerInterval — both cumsums ride the same
    // window. Count row-bearing (non-broadcast) exchanges in both twins
    // and require equality; the broadcast subtree (per-shard offsets)
    // stays broadcast.
    def rowBearing(name: String) = {
      val p = plan(name)
      def shufflesIn(t: org.apache.spark.sql.execution.SparkPlan) =
        t.collect { case e: ShuffleExchangeExec => e }
      val all = collectWithSubqueries(p) { case e: ShuffleExchangeExec => e }
      val underB = collectWithSubqueries(p) {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
      }.flatMap(b => shufflesIn(b.child))
      (all.filterNot(e => underB.exists(_ eq e)).length, underB.nonEmpty, p)
    }
    val (nCount, bCount, _) = rowBearing("q_join_range_sweep")
    val (nSum, bSum, pSum) = rowBearing("q_join_range_sweep_sum")
    assert(bCount && bSum, "shard offsets must arrive via broadcast")
    assert(nSum == nCount,
      s"payload accumulator added exchanges: $nSum vs $nCount:\n$pSum")
  }

  test("recursive CTE plans as a real UnionLoop, not an unrolled union") {
    // Spark 4's WITH RECURSIVE plans the fixpoint as UnionLoop (anchor +
    // per-iteration join against UnionLoopRef) — the engine iterates to
    // convergence with one distributed join per level. A regression to a
    // static union (or a failed parse falling back to an error) would
    // silently cap the closure depth.
    val qe = SparkEntry.queries("q_sql_recursive_cte")(spark, sfDir).queryExecution
    val loops = qe.optimizedPlan.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.UnionLoop => u
    }
    assert(loops.nonEmpty, s"no UnionLoop in:\n${qe.optimizedPlan}")
  }

  test("q_text_pmi scans documents once: marginals derive from the pair table") {
    // The marginals (n_left/n_right/n_tot) are exact re-aggregations of
    // the pair-count table, so the corpus-scale pair stream must be
    // derived and aggregated ONCE — the three extra references reuse
    // cab's exchange instead of re-scanning documents and re-running the
    // explode. A regression to per-marginal pair-stream derivation is 4
    // corpus scans where 1 suffices. Stage reuse is an AQE runtime
    // decision, so materialize first and inspect the final plan.
    val df = SparkEntry.queries("q_text_pmi")(spark, sfDir)
    df.collect() // THIS df's execution, not a derived count() plan
    val p = df.queryExecution.executedPlan
    // reused stages re-expose the original subtree when traversed, so
    // count DISTINCT scan instances, not traversal visits
    val docScans = collectWithSubqueries(p) {
      case s: FileSourceScanExec
        if s.relation.location.rootPaths.mkString.contains("documents") => s
    }
    assert(docScans.distinct.size == 1,
      s"expected exactly 1 distinct documents scan, got ${docScans.distinct.size}:\n$p")
    val reused = collectWithSubqueries(p) {
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec
        if q.plan.isInstanceOf[
          org.apache.spark.sql.execution.exchange.ReusedExchangeExec] => q
    }
    assert(reused.nonEmpty,
      s"marginal branches must reuse cab's exchange:\n$p")
  }

  test("q_text_bigram_lm: model branches share one fit-side scan; scoring adds one") {
    // All three model tables (cab/ca/cb/tot marginals) derive from ONE
    // pair aggregation, so the fit side must resolve to a single
    // documents scan whose exchange the marginal branches reuse; the
    // scoring pass inherently re-reads the corpus (map-side explode into
    // broadcast joins — the unigramNll shape). Total distinct scans = 2;
    // a regression to per-marginal pair-stream derivation shows up as 3+.
    val df = SparkEntry.queries("q_text_bigram_lm")(spark, sfDir)
    df.collect() // stage reuse is an AQE runtime decision
    val p = df.queryExecution.executedPlan
    val docScans = collectWithSubqueries(p) {
      case s: FileSourceScanExec
        if s.relation.location.rootPaths.mkString.contains("documents") => s
    }
    assert(docScans.distinct.size <= 2,
      s"expected <= 2 distinct documents scans (fit + score), got " +
        s"${docScans.distinct.size}:\n$p")
    val reused = collectWithSubqueries(p) {
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec
        if q.plan.isInstanceOf[
          org.apache.spark.sql.execution.exchange.ReusedExchangeExec] => q
    }
    assert(reused.nonEmpty,
      s"marginal branches must reuse the pair-count exchange:\n$p")
  }

  test("q_text_bigram_lm: the scoring join's broadcast build side is the CAPPED table") {
    // The scale contract of the model cap: the per-pair scoring join (the
    // LEFT join on (w1, w2) — the only 2-key join in the plan) must build
    // from the min-count-FILTERED bigram table, never the raw vocab²
    // aggregation. A regression that broadcasts the uncapped table is the
    // open-web OOM the cap exists to prevent and would pass every
    // correctness check (at catalog scale both fit in memory).
    val df = SparkEntry.queries("q_text_bigram_lm")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    val scoring = collectWithSubqueries(p) {
      case j: BroadcastHashJoinExec if j.leftKeys.size == 2 => j
    }
    assert(scoring.nonEmpty, s"no 2-key broadcast scoring join found:\n$p")
    val minCount = graft.queries.TextQueries.BigramMinCount
    scoring.foreach { j =>
      val build = j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
        case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
      }
      assert(build.toString.contains(s">= $minCount"),
        s"scoring join builds from the UNCAPPED bigram table:\n$build")
    }
  }

  test("q_join_interval_overlap: sweep plan, never a nested-loop pair join") {
    // The overlap sweep exists to AVOID the inequality-join plan: if the
    // query ever regresses to joining the interval sets on the range
    // predicate, Spark plans BroadcastNestedLoopJoin / CartesianProduct
    // — |A|x|B| comparisons, the k2 wall the sweep family cures. The
    // only joins allowed are the broadcast of the ~nShards offset table
    // and whatever AQE does to the final key aggregation.
    val df = SparkEntry.queries("q_join_interval_overlap")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    val loops = collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }
    assert(loops.isEmpty, s"overlap sweep regressed to a pair join:\n$p")
  }

  test("q_text_inverted_index bounds the posting sample before aggregating") {
    // The posting sample must descend from the bounded-heap prune
    // (TopK.perGroup) — a regression to collect_set-then-slice buffers
    // every doc id of a stopword term in one aggregation buffer, the
    // per-key OOM shape at 100 TB.
    val p = plan("q_text_inverted_index")
    val prunes = collectWithSubqueries(p) {
      case m: org.apache.spark.sql.execution.MapPartitionsExec => m
    }
    assert(prunes.nonEmpty,
      s"posting sample must ride the bounded-heap prune:\n$p")
    // and no unbounded set-collection aggregate anywhere in the plan
    assert(!p.toString.contains("collect_set"),
      s"unbounded collect_set crept back into the plan:\n$p")
  }

  test("text models score via broadcast model joins, never a token shuffle") {
    // nbClassify/dsirWeights share unigramNll's contract: the vocab-sized
    // model table broadcasts to the scoring join — a sort-merge join on
    // `word` would shuffle the full token stream and serialize Zipf-hot
    // words into stragglers. (The model-BUILD subtree may shuffle its
    // vocab-sized aggregates; the scan-scale scoring path must not.)
    for (q <- Seq("q_text_nb_classify", "q_text_dsir")) {
      val p = plan(q)
      val bhj = collectWithSubqueries(p) { case j: BroadcastHashJoinExec => j }
      assert(bhj.nonEmpty, s"$q: model join must broadcast:\n$p")
      val smjOnWord = collectWithSubqueries(p) {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
          if j.leftKeys.exists(_.toString.contains("word")) => j
      }
      assert(smjOnWord.isEmpty, s"$q: token stream sort-merged on word:\n$p")
    }
  }

  test("word-keyed model broadcasts descend from the top-K vocabulary cap") {
    // The corpus-independent bound of the round-14 cap: every word-keyed
    // broadcast build side (the bigram-LM unigram marginal, the NB grid,
    // the DSIR feature table) must derive from the bounded-heap
    // TakeOrdered with limit = VocabTopK — never the raw vocabulary. A
    // regression to an uncapped vocab broadcast passes every correctness
    // check (both fit at catalog scale) and OOMs on an open-web corpus;
    // this pins the limit node INSIDE the broadcast subtree, where a
    // scale-up cannot outgrow it.
    val k = graft.queries.TextQueries.VocabTopK
    for (q <- Seq("q_text_bigram_lm", "q_text_nb_classify", "q_text_dsir")) {
      val df = SparkEntry.queries(q)(spark, sfDir)
      df.collect()
      val p = df.queryExecution.executedPlan
      val cappedBuilds = collectWithSubqueries(p) {
        case e: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
          if e.child.toString.contains(s"TakeOrderedAndProject(limit=$k") ||
             e.child.collect {
               case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec
                 if t.limit == k => t
             }.nonEmpty => e
      }
      assert(cappedBuilds.nonEmpty,
        s"$q: no broadcast build side carries the top-$k vocabulary cap:\n$p")
    }
  }

  test("q_window_rank ranks only heap-pruned rows, never a global window") {
    // the low-cardinality rank demo must keep its TopK.rankTrio shape:
    // a bounded-heap mapPartitions prune feeding a PER-GROUP window. A
    // regression to a bare row_number() window would funnel the full
    // table into 3 sort tasks (one per return flag) — the classic
    // works-at-sf0.1, dies-at-100TB plan. (Its sf3 scale ratio sits in
    // the scan-bound band BECAUSE of this prune; see SCALE.md.)
    val p = plan("q_window_rank")
    val windows = collectWithSubqueries(p) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, s"expected a WindowExec:\n$p")
    windows.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"presentation window must be per-group, not global:\n$p"))
    val prunes = collectWithSubqueries(p) {
      case m: org.apache.spark.sql.execution.MapPartitionsExec => m
    }
    assert(prunes.nonEmpty,
      s"window input must descend from the bounded-heap prune:\n$p")
  }

  test("q_join_runtime_filter injects a bloom filter on the fact side") {
    // the whole point of the query: the dim side's selective predicate
    // must reach the fact side as a might_contain(bloom) BEFORE the
    // fact shuffle, and the join must stay a shuffle join (broadcast
    // would make the bloom redundant — it exists for the
    // dim-too-big-to-broadcast regime)
    val df = SparkEntry.queries("q_join_runtime_filter")(spark, sfDir)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("might_contain") && opt.contains("bloom_filter_agg"),
      s"InjectRuntimeFilter did not fire:\n$opt")
    val bhj = collectWithSubqueries(df.queryExecution.executedPlan) {
      case j: BroadcastHashJoinExec => j
    }
    assert(bhj.isEmpty, "join must not degrade the demo by broadcasting")
    // and the filtered result still matches the plain join
    val s2 = spark.newSession()
    import org.apache.spark.sql.functions.{col, round, sum, count, lit}
    val o = queries.tbl(s2, sfDir, "orders")
      .filter(col("o_totalprice") > 490000.0).select("o_orderkey")
    val l = queries.tbl(s2, sfDir, "lineitem")
      .select("l_orderkey", "l_extendedprice")
    val plain = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey")
      .agg(round(sum(col("l_extendedprice")), 2).as("rev"),
        count(lit(1)).as("n_items"))
      .orderBy("l_orderkey")
    assert(df.collect().toSeq == plain.collect().toSeq)
  }

  test("q_join_dpp: fact scan carries a dynamic partition-pruning filter") {
    // the point of the layout: the dim's broadcast join keys must reach
    // the fact scan as a runtime PartitionFilter — without it the query
    // silently reads all ~80 month directories instead of 3
    val p = plan("q_join_dpp")
    val scans = collectWithSubqueries(p) { case s: FileSourceScanExec => s }
    val fact = scans.filter(_.relation.location.rootPaths.exists(
      _.toString.contains("graft_dpp_")))
    assert(fact.nonEmpty, s"expected a scan over the partitioned layout:\n$p")
    assert(fact.exists(_.partitionFilters.exists(
        _.toString.toLowerCase.contains("dynamicpruning"))),
      s"no dynamicpruning partition filter on the fact scan:\n" +
        fact.map(_.partitionFilters).mkString("\n"))
  }

  test("q_graph_triangles: top-k backbone is heap-pruned pre-shuffle") {
    // the backbone must descend from TopK's bounded-heap mapPartitions —
    // a node with millions of co-occurrence partners ships k rows, not
    // its adjacency list
    val p = plan("q_graph_triangles")
    val prunes = collectWithSubqueries(p) {
      case m: org.apache.spark.sql.execution.MapPartitionsExec => m
    }
    assert(prunes.nonEmpty,
      s"backbone top-k must run on the bounded heap:\n$p")
  }

  test("q_basket_rules scans lineitem once: all tiers reuse the basket exchange") {
    // nb/freq/pairs all derive from the one basket-array aggregation —
    // the pair tier explodes map-side from the sorted brand set (no
    // row-bearing self-join), so the corpus-scale fact is scanned and
    // shuffled exactly once and the other references reuse that exchange.
    // A regression to per-tier derivation re-scans lineitem 3-4x — the
    // q_text_pmi weakness shape. Reuse is an AQE runtime decision, so
    // materialize first and inspect the final plan.
    val df = SparkEntry.queries("q_basket_rules")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    val factScans = collectWithSubqueries(p) {
      case s: FileSourceScanExec
        if s.relation.location.rootPaths.mkString.contains("lineitem") => s
    }
    assert(factScans.distinct.size == 1,
      s"expected exactly 1 distinct lineitem scan, got ${factScans.distinct.size}:\n$p")
    val smj = collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.isEmpty,
      s"pair formation must be the map-side array explode, not a self-join:\n$p")
  }

  test("q_dedup_winnowing: every shuffle downstream of selection keys on hashed longs") {
    // The round-12 `weak` item: the fingerprint index must shuffle as
    // xxhash64 LONGS, never as multi-token gram strings — the df census,
    // the semi-join, and the pair join all key on the 8-byte hash. Gram
    // strings may only appear inside the selection window's own
    // partition-by-doc exchange (keyed by doc_id, strings as payload).
    // Contract: no HashAggregate or join in the executed plan groups or
    // joins on a StringType expression named fp/gram.
    val df = SparkEntry.queries("q_dedup_winnowing")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    def stringKeyed(keys: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
      keys.exists(k => k.dataType ==
          org.apache.spark.sql.types.StringType &&
        Seq("fp", "gram").exists(k.toString.toLowerCase.contains))
    val badAggs = collectWithSubqueries(p) {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec
        if stringKeyed(a.groupingExpressions) => a
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
        if stringKeyed(a.groupingExpressions) => a
      case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec
        if stringKeyed(a.groupingExpressions) => a
    }
    assert(badAggs.isEmpty,
      s"fingerprint aggregation keys on gram STRINGS (the round-12 scale tax):\n$p")
    val badJoins = collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
        if stringKeyed(j.leftKeys) => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
        if stringKeyed(j.leftKeys) => j
      case j: BroadcastHashJoinExec if stringKeyed(j.leftKeys) => j
    }
    assert(badJoins.isEmpty,
      s"fingerprint join keys on gram STRINGS:\n$p")
    // and selection itself is map-side (HOF array_min in the projection):
    // a regression to Window.partitionBy(doc) re-shuffles the full gram
    // stream with multi-token strings as payload
    val windows = collectWithSubqueries(p) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty,
      s"winnowing selection must be the map-side HOF, not a window:\n$p")
    // the df-census + semi-join feeds BOTH pair-join sides, and runtime
    // exchange reuse does NOT fire across a self-join's branches
    // (measured): the census must therefore live inside the persisted
    // kept-index relation, computed ONCE — if it leaks back into the
    // top-level plan it is running once per side, an index-sized shuffle
    // paid twice at 100 TB. Census signature: a count aggregate grouped
    // on the single fp key (the final pair count groups on two keys).
    val censusAggs = collectWithSubqueries(p) {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec
        if a.groupingExpressions.size == 1 &&
          a.groupingExpressions.head.toString.contains("fp") &&
          a.aggregateExpressions.nonEmpty => a
    }
    assert(censusAggs.isEmpty,
      s"df census duplicated into the top-level plan (must be cached " +
        s"inside the kept-index relation):\n$p")
  }

  test("q_agg_exact_quantiles resolves with driver-local result and exact ranks") {
    // the bisection rounds are counter-cell aggregations executed inside
    // the op (no sort, no window — OrderStatsSpec covers exactness); the
    // catalog-visible frame must be a driver-local relation, proving no
    // corpus-scale plan hides behind the 4-row result.
    val df = SparkEntry.queries("q_agg_exact_quantiles")(spark, sfDir)
    val rows = df.collect()
    assert(rows.length == 4 && rows.map(_.getString(0)).toSeq ==
      Seq("p25", "p50", "p75", "p99"))
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    assert(scans.isEmpty, "result frame must be driver-local")
  }

  test("q_filter_blocklist: anti-join broadcasts the blocklist, corpus never shuffles for it") {
    // The scale contract: membership in a curated 10^5-row artifact must
    // be an executor-local hash probe. A regression to a shuffle anti-join
    // exchanges the 100 TB corpus to test against a 10 MB set.
    val df = SparkEntry.queries("q_filter_blocklist")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    val anti = collectWithSubqueries(p) {
      case j: BroadcastHashJoinExec
        if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
    }
    assert(anti.nonEmpty, s"blocklist anti-join must broadcast:\n$p")
    val smj = collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }
    assert(smj.isEmpty, s"corpus side must not shuffle for the blocklist:\n$p")
  }

  test("q_text_normalize is map-only: the only exchange is the presentation sort") {
    val df = SparkEntry.queries("q_text_normalize")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    val exchanges = collectWithSubqueries(p) { case e: ShuffleExchangeExec => e }
    assert(exchanges.size <= 1, s"cleanup must not shuffle:\n$p")
    exchanges.foreach(e => assert(
      e.outputPartitioning.getClass.getSimpleName.contains("RangePartitioning"),
      s"the single exchange must be the ORDER BY: ${e.outputPartitioning}"))
    // the native expression is present (no ScalaUDF fallback)
    assert(p.toString.contains("nfc_normalize"), s"native kernel missing:\n$p")
    assert(!p.toString.contains("ScalaUDF"), s"UDF fallback in the plan:\n$p")
  }

  test("q_text_kneser_ney: every model table derives from one pair aggregation") {
    // cab/ca/cb/tot all re-aggregate the SAME pair-count table — the
    // corpus-scale pair stream must shuffle once, its exchange reused by
    // the marginal branches (the q_text_pmi contract).
    val df = SparkEntry.queries("q_text_kneser_ney")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    val docScans = collectWithSubqueries(p) {
      case s: FileSourceScanExec
        if s.relation.location.rootPaths.mkString.contains("documents") => s
    }
    assert(docScans.distinct.size == 1,
      s"expected exactly 1 distinct documents scan, got ${docScans.distinct.size}:\n$p")
    val reused = collectWithSubqueries(p) {
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec
        if q.plan.isInstanceOf[
          org.apache.spark.sql.execution.exchange.ReusedExchangeExec] => q
    }
    assert(reused.nonEmpty, s"marginal branches must reuse cab's exchange:\n$p")
  }

  test("q_events_concurrency: sweep plan, never a pair join") {
    val df = SparkEntry.queries("q_events_concurrency")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    val bad = collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(bad.isEmpty, s"concurrency degraded to a pair/shuffle join:\n$p")
  }

  test("q_hilbert_layout: native key kernel in the scan stage, no UDF") {
    val df = SparkEntry.queries("q_hilbert_layout")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    assert(p.toString.contains("hilbert_d"), s"native kernel missing:\n$p")
    assert(!p.toString.contains("ScalaUDF"), s"UDF fallback in the plan:\n$p")
    // one bucket-agg hash exchange + the ORDER BY range exchange at most
    val exchanges = collectWithSubqueries(p) { case e: ShuffleExchangeExec => e }
    assert(exchanges.size <= 2, s"unexpected extra shuffles (${exchanges.size}):\n$p")
  }

  test("q_text_kl_drift: every model join is broadcast — vocabulary never keys a shuffle join") {
    // The scale contract behind the <oov> collapse: kept (<=K), bucket
    // marginals (<=K+1), source totals, and the corpus total all ship as
    // broadcasts; a regression to a shuffled join on `bucket` or `source`
    // re-exchanges the compressed table once per marginal.
    val df = SparkEntry.queries("q_text_kl_drift")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    val shuffled = collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }
    assert(shuffled.isEmpty, s"model join degraded to a shuffle join:\n$p")
    val bhj = collectWithSubqueries(p) { case j: BroadcastHashJoinExec => j }
    assert(bhj.size >= 3, s"expected kept/cb/tots as broadcast joins:\n$p")
  }

  test("q_text_bm25: query-side tables broadcast; only the doc-length join may shuffle") {
    val df = SparkEntry.queries("q_text_bm25")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    val bhj = collectWithSubqueries(p) { case j: BroadcastHashJoinExec => j }
    assert(bhj.size >= 2, s"df/query-set joins must broadcast:\n$p")
    val shuffled = collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }
    assert(shuffled.size <= 1,
      s"only the dl equi-join may shuffle (got ${shuffled.size}):\n$p")
  }

  test("q_events_cusum: join-free; windows run over calendar-bounded pre-aggregated rows") {
    val df = SparkEntry.queries("q_events_cusum")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    val joins = collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      case j: BroadcastHashJoinExec => j
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(joins.isEmpty, s"cusum must not join:\n$p")
    // daily pre-agg + window repartition by type + presentation sort
    val exchanges = collectWithSubqueries(p) { case e: ShuffleExchangeExec => e }
    assert(exchanges.size <= 3, s"unexpected extra shuffles (${exchanges.size}):\n$p")
    // every window is partitioned (GlobalWindowAuditSpec's invariant)
    val wins = collectWithSubqueries(p) {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.isEmpty => w
    }
    assert(wins.isEmpty, s"unpartitioned window in cusum:\n$p")
  }

  test("q_sql_lateral: decorrelates to a pre-shuffle WindowGroupLimit prune + broadcast join") {
    val df = SparkEntry.queries("q_sql_lateral")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    // the correlated LIMIT must become a rank prune with a PARTIAL
    // (map-side, pre-shuffle) stage — at 100 TB this is what keeps the
    // shuffle at <= 2 rows per customer instead of every order
    val wgl = collectWithSubqueries(p) {
      case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec => w
    }
    assert(wgl.exists(_.mode == org.apache.spark.sql.execution.window.Partial),
      s"missing map-side WindowGroupLimit prune:\n$p")
    assert(collectWithSubqueries(p) {
      case j: BroadcastHashJoinExec => j }.nonEmpty,
      s"filtered customer side should broadcast:\n$p")
    assert(collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }.isEmpty, s"lateral must not sort-merge at this selectivity:\n$p")
  }

  test("q_agg_histogram: join-free single aggregation, projection-pruned scan") {
    val df = SparkEntry.queries("q_agg_histogram")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    val joins = collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: BroadcastHashJoinExec => j
    }
    assert(joins.isEmpty, s"histogram must not join:\n$p")
    // partial agg shuffle (<= HistBuckets keys) + presentation sort only
    val exchanges = collectWithSubqueries(p) { case e: ShuffleExchangeExec => e }
    assert(exchanges.size <= 2, s"unexpected extra shuffles:\n$p")
    val scans = collectWithSubqueries(p) { case s: FileSourceScanExec => s }
    assert(scans.forall(_.schema.fieldNames.toSet == Set("o_totalprice")),
      s"scan must read only o_totalprice:\n$p")
  }

  test("q_quality_benford: totals and expected table ride broadcasts, never a shuffle join") {
    val df = SparkEntry.queries("q_quality_benford")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    assert(collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }.isEmpty, s"benford joins 9-row/1-row sides — must broadcast:\n$p")
  }

  test("q_events_survival: corpus collapses per-user before any window; horizon is a broadcast row") {
    val df = SparkEntry.queries("q_events_survival")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    // the only non-broadcast join allowed is the user-keyed first-touch
    // x first-purchase join (user-dimension scale — correctly shuffled)
    val shuffled = collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }
    assert(shuffled.size <= 1,
      s"only the per-user left join may shuffle (got ${shuffled.size}):\n$p")
    val bnlj = collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(bnlj.size == 1, s"horizon must ride ONE broadcast row:\n$p")
    // both global windows consume the life table: their input subtree
    // must contain an aggregate (events never reach a window raw)
    val wins = collectWithSubqueries(p) {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.isEmpty => w
    }
    assert(wins.nonEmpty && wins.forall(w => collectWithSubqueries(w.child) {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
    }.nonEmpty), s"global windows must sit above the life-table agg:\n$p")
  }

  test("q_embed_knn_eval: corpus is ONE linear scan against a broadcast panel — no shuffle join") {
    val df = SparkEntry.queries("q_embed_knn_eval")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    assert(collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }.size == 1, s"panel cross join must broadcast:\n$p")
    assert(collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }.isEmpty, s"knn eval must never shuffle-join the corpus:\n$p")
  }

  test("q_timeseries_interpolate: every carry window is partitioned; spine join keys on (user, hour)") {
    val df = SparkEntry.queries("q_timeseries_interpolate")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    val globalWins = collectWithSubqueries(p) {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.isEmpty => w
    }
    assert(globalWins.isEmpty, s"carry windows must partition by user:\n$p")
    // all four carry columns ride at most two WindowExecs (one per
    // frame direction) over ONE user_id ordering
    val wins = collectWithSubqueries(p) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.size <= 2, s"carry windows fragmented (${wins.size}):\n$p")
  }

  test("q_events_seasonality: everything after the cell collapse is schema-bounded broadcast work") {
    val df = SparkEntry.queries("q_events_seasonality")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    assert(collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }.isEmpty,
      s"per-type joins are <= |types| rows — must broadcast:\n$p")
  }

  test("q_text_rake: segmentation windows are doc-partitioned; word scores ride a broadcast") {
    val df = SparkEntry.queries("q_text_rake")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    assert(collectWithSubqueries(p) {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.isEmpty => w
    }.isEmpty, s"phrase segmentation must partition by doc:\n$p")
    assert(collectWithSubqueries(p) {
      case j: BroadcastHashJoinExec => j }.nonEmpty,
      s"the vocabulary-sized word-score table must broadcast:\n$p")
  }

  test("q_window_pareto: concentration windows are nation-partitioned, never global") {
    val df = SparkEntry.queries("q_window_pareto")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    assert(collectWithSubqueries(p) {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.isEmpty => w
    }.isEmpty, s"pareto windows must partition by nation:\n$p")
  }

  test("q_text_heaps_law: joins and windows run over the bucket table, after corpus-scale aggs") {
    val df = SparkEntry.queries("q_text_heaps_law")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    // every join key is the HeapsBuckets-sized bucket column
    val joins = collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j.leftKeys
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j.leftKeys
      case j: BroadcastHashJoinExec => j.leftKeys
    }
    assert(joins.forall(_.forall(_.toString.contains("bucket"))),
      s"heaps joins must key on the bounded bucket column:\n$p")
    // exactly one (allowlisted) global window, fed by aggregated buckets
    val wins = collectWithSubqueries(p) {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.isEmpty => w
    }
    assert(wins.size == 1, s"one bounded cumulative window expected:\n$p")
  }

  test("q_timeseries_m4: one agg pass, span rides a one-row broadcast, no shuffle join") {
    val df = SparkEntry.queries("q_timeseries_m4")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    assert(collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      case j: BroadcastHashJoinExec => j
    }.isEmpty, s"m4's only join is the broadcast span cross:\n$p")
    // main agg (bounded |types|·M4Buckets keys) + presentation sort;
    // the span branch's single-row final agg adds its partial exchange
    val exchanges = collectWithSubqueries(p) { case e: ShuffleExchangeExec => e }
    assert(exchanges.distinct.size <= 3, s"unexpected extra shuffles:\n$p")
    assert(collectWithSubqueries(p) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, s"m4 must aggregate, never window/sort the series:\n$p")
  }

  test("q_quality_cramers_v: marginals reuse each pair's contingency exchange; one scan per table") {
    val df = SparkEntry.queries("q_quality_cramers_v")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    // ra/rb/tot re-aggregate the cells table — a regression to
    // per-marginal fact scans is 4 corpus reads where 1 suffices
    val scans = collectWithSubqueries(p) {
      case s: FileSourceScanExec => s }.distinct
      .groupBy(_.relation.location.rootPaths.mkString.split("/").last)
    assert(scans.forall(_._2.size == 1),
      s"each fact table must scan once: ${scans.view.mapValues(_.size).toMap}\n$p")
    assert(collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }.isEmpty, s"cell-table-sized marginals must broadcast:\n$p")
  }

  test("q_text_collocations scans documents once: marginals derive from the pair table") {
    val df = SparkEntry.queries("q_text_collocations")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    val docScans = collectWithSubqueries(p) {
      case s: FileSourceScanExec
        if s.relation.location.rootPaths.mkString.contains("documents") => s
    }
    assert(docScans.distinct.size == 1,
      s"expected exactly 1 distinct documents scan:\n$p")
  }

  test("q_rank_rrf: tf exchange shared, vector arm join-free, fusion never corpus-shuffles") {
    val df = SparkEntry.queries("q_rank_rrf")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    val scans = collectWithSubqueries(p) {
      case s: FileSourceScanExec => s }.distinct
      .groupBy(_.relation.location.rootPaths.mkString.split("/").last)
    // documents: tf (ONE scan shared by dl/df/score via exchange reuse)
    // + the probe panel's limit scan + the probe-term branch;
    // embeddings: corpus scan + panel scan (the kNN-audit shape)
    assert(scans.getOrElse("documents.parquet", Nil).size <= 3 &&
      scans.getOrElse("embeddings.parquet", Nil).size <= 2,
      s"scan fan-out regressed: ${scans.view.mapValues(_.size).toMap}\n$p")
    // at most one shuffle join (candidate×dl on doc_id — both sides
    // derive from the same tf exchange); everything else broadcasts,
    // and the fusion outer join only ever sees ≤ 2·probes·depth rows
    assert(collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }.size <= 1, s"rrf grew a corpus-scale shuffle join:\n$p")
  }

  test("q_agg_corr_matrix: ONE fact scan feeds all 6 pairs (explode, not union-of-prunes)") {
    val df = SparkEntry.queries("q_agg_corr_matrix")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    // a union of per-pair selects lets column pruning specialize each
    // arm's stat subset and re-scan lineitem 6 times (observed before
    // the explode rewrite); the contract is a single pass
    val scans = collectWithSubqueries(p) {
      case s: FileSourceScanExec => s }.distinct
    assert(scans.size == 1, s"corr matrix must scan lineitem once:\n$p")
    assert(collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: BroadcastHashJoinExec => j
    }.isEmpty, s"corr matrix must not join:\n$p")
    // partial-agg shuffle (returnflag keys) + presentation sort only
    val ex = collectWithSubqueries(p) { case e: ShuffleExchangeExec => e }
    assert(ex.size <= 2, s"unexpected extra shuffles (${ex.size}):\n$p")
  }

  test("q_timeseries_acf: one event scan; every join is post-agg and broadcast") {
    val df = SparkEntry.queries("q_timeseries_acf")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    // head / tail / totals all derive from ONE (type, day) pre-agg
    // exchange — the identical-filter move keeps the subtrees
    // canonically equal so the totals branch reuses it
    val scans = collectWithSubqueries(p) {
      case s: FileSourceScanExec => s }.distinct
    assert(scans.size == 1, s"acf must scan events once:\n$p")
    // lag table, daily tail, and totals are all calendar/schema-bounded
    // — nothing may sort-merge
    assert(collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }.isEmpty, s"acf joins calendar-bounded sides — must broadcast:\n$p")
  }

  test("q_text_readability: join-free single aggregation over a pruned scan") {
    val df = SparkEntry.queries("q_text_readability")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    assert(collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: BroadcastHashJoinExec => j
    }.isEmpty, s"readability must not join:\n$p")
    val ex = collectWithSubqueries(p) { case e: ShuffleExchangeExec => e }
    assert(ex.size <= 2, s"unexpected extra shuffles (${ex.size}):\n$p")
    val scans = collectWithSubqueries(p) { case s: FileSourceScanExec => s }
    assert(scans.forall(_.schema.fieldNames.toSet ==
      Set("text", "lang", "source")),
      s"scan must read only (text, lang, source):\n$p")
  }

  test("q_quality_gopher: join-free token-stream rollup (nsym rides the stream)") {
    val df = SparkEntry.queries("q_quality_gopher")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    // the doc-level symbol count is a carried column max-folded through
    // both rollups — a doc-keyed join back to the documents scan would
    // shuffle the corpus twice
    assert(collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      case j: BroadcastHashJoinExec => j
    }.isEmpty, s"gopher must not join:\n$p")
    val scans = collectWithSubqueries(p) {
      case s: FileSourceScanExec => s }.distinct
    assert(scans.size == 1, s"gopher must scan documents once:\n$p")
  }

  test("q_pii_ldiversity: pruned scans; classes aggregate after one FK join") {
    val df = SparkEntry.queries("q_pii_ldiversity")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    val scans = collectWithSubqueries(p) { case s: FileSourceScanExec => s }
    assert(scans.forall(s =>
      s.schema.fieldNames.toSet == Set("o_custkey", "o_orderpriority") ||
        s.schema.fieldNames.toSet ==
          Set("c_custkey", "c_nationkey", "c_mktsegment")),
      s"scans must prune to the QI/sensitive columns:\n$p")
    // one FK equi-join, unhinted: AQE promotes the customer projection
    // to broadcast when it fits (here) and may shuffle at scale — either
    // way there is exactly one join
    val joins = collectWithSubqueries(p) {
      case j: BroadcastHashJoinExec => j
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }
    assert(joins.size == 1, s"ldiversity is one FK join (${joins.size}):\n$p")
  }

  test("q_stats_welch_ttest: join-free single conditional-stats aggregation") {
    val df = SparkEntry.queries("q_stats_welch_ttest")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    assert(collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: BroadcastHashJoinExec => j
    }.isEmpty, s"welch must not join — both cohorts ride one scan:\n$p")
    val scans = collectWithSubqueries(p) {
      case s: FileSourceScanExec => s }.distinct
    assert(scans.size == 1 && scans.forall(_.schema.fieldNames.toSet ==
      Set("l_extendedprice", "l_discount", "l_returnflag")),
      s"welch must read lineitem once, pruned to 3 columns:\n$p")
    val ex = collectWithSubqueries(p) { case e: ShuffleExchangeExec => e }
    assert(ex.size <= 2, s"unexpected extra shuffles (${ex.size}):\n$p")
  }

  test("q_text_textrank: ranks enter as a K-bounded local relation; one doc scan in the emit plan") {
    val df = SparkEntry.queries("q_text_textrank")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    // r16: the PageRank rounds run on the DRIVER over the collected
    // K-bounded edge list (PageRank.fixedPointLocal — 2 shuffles/round
    // on a 64-node graph was pure exchange overhead), so the emit plan
    // must carry the ranks as a LocalTableScan, not an iterate-as-joins
    // cascade of cached frames
    val local = collectWithSubqueries(p) {
      case l: org.apache.spark.sql.execution.LocalTableScanExec => l
    }
    assert(local.nonEmpty, s"expected the driver-rank LocalTableScan:\n$p")
    // the emit plan re-reads documents only for the word→node id table
    // (the edge build's scans happened in the bounded collect)
    val docScans = collectWithSubqueries(p) {
      case s: FileSourceScanExec
        if s.relation.location.rootPaths.mkString.contains("documents") => s
    }
    assert(docScans.size <= 1,
      s"emit plan re-scans documents (${docScans.size}):\n$p")
    assert(collectWithSubqueries(p) {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }.isEmpty, s"textrank grew a cartesian product:\n$p")
  }

  test("q_agg_skyline: Börzsönyi pre-collapse bounds the dominance window; join-free") {
    val df = SparkEntry.queries("q_agg_skyline")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    assert(collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: BroadcastHashJoinExec => j
    }.isEmpty, s"skyline must not join:\n$p")
    val scans = collectWithSubqueries(p) {
      case s: FileSourceScanExec => s }.distinct
    assert(scans.size == 1 && scans.forall(_.schema.fieldNames.toSet ==
      Set("l_quantity", "l_extendedprice", "l_returnflag")),
      s"skyline reads lineitem once, pruned:\n$p")
    // the (flag, qty) pre-aggregation must sit UNDER the window — the
    // window then runs over <= |flags|·|qty domain| rows, never the fact
    // stream (the move that makes a 3-partition window safe at 100 TB)
    val wins = collectWithSubqueries(p) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(wins.nonEmpty && wins.forall(w => collectWithSubqueries(w) {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
    }.nonEmpty), s"dominance window must consume the pre-aggregate:\n$p")
  }

  test("q_quality_drift_psi: one orders scan; the (week, bucket) exchange feeds counts, marginals and the grid") {
    val df = SparkEntry.queries("q_quality_drift_psi")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    val scans = collectWithSubqueries(p) {
      case s: FileSourceScanExec => s }.distinct
    assert(scans.size == 1, s"psi must scan orders once (exchange reuse):\n$p")
    assert(collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }.isEmpty, s"psi joins weeks×buckets-bounded sides — must broadcast:\n$p")
  }

  test("q_events_paths: top paths prune map-side via a partial WindowGroupLimit") {
    val df = SparkEntry.queries("q_events_paths")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    val scans = collectWithSubqueries(p) {
      case s: FileSourceScanExec => s }.distinct
    assert(scans.size == 1, s"paths must scan events once:\n$p")
    val wgl = collectWithSubqueries(p) {
      case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec => w
    }
    assert(wgl.exists(_.mode == org.apache.spark.sql.execution.window.Partial),
      s"missing map-side top-k prune:\n$p")
    assert(collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }.isEmpty, s"paths' only join is the one-row total broadcast:\n$p")
  }

  test("q_embed_sq8: the corpus side stays linear — fit, panel and pair scans only") {
    val df = SparkEntry.queries("q_embed_sq8")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    // each rank cut re-derives the pairs stream (corpus + fit + panel
    // scans ×2): the bounded-heap prune sits BELOW the exchange and
    // differs per score column, so the exchanges cannot canonicalize
    // equal — a DELIBERATE trade of one extra linear scan for map-side
    // top-K pruning (the alternative shuffles the corpus×panel pair
    // stream wholesale). Never a corpus×corpus shape.
    val scans = collectWithSubqueries(p) {
      case s: FileSourceScanExec
        if s.relation.location.rootPaths.mkString.contains("embeddings") => s
    }
    assert(scans.size <= 6, s"sq8 scan fan-out regressed (${scans.size}):\n$p")
    assert(collectWithSubqueries(p) {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }.isEmpty, s"sq8 grew an unbroadcast cartesian:\n$p")
    // the only sort-merge join permitted is the bounded panel↔overlap
    // recall join (≤ KnnProbeN rows a side)
    assert(collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }.size <= 2, s"sq8 grew corpus-scale shuffle joins:\n$p")
  }

  test("q_window_wow_growth: the lag window consumes the (prio, week) pre-aggregate") {
    val df = SparkEntry.queries("q_window_wow_growth")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    val scans = collectWithSubqueries(p) {
      case s: FileSourceScanExec => s }.distinct
    assert(scans.size == 1, s"wow growth reads orders once:\n$p")
    assert(collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: BroadcastHashJoinExec => j
    }.isEmpty, s"wow growth must not join:\n$p")
    val wins = collectWithSubqueries(p) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(wins.nonEmpty && wins.forall(w => collectWithSubqueries(w) {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
    }.nonEmpty), s"lag window must consume the pre-aggregate:\n$p")
  }

  test("q_multimodal_phash: the candidate pair stream is never exchanged") {
    // The sf10 sweep measured 0.69e9 band-pair candidates over 500k docs
    // (12.2e9 under the retired single-byte banding) — a DISTINCT or any
    // pair-keyed exchange there is the at-scale cost center. The
    // canonical smallest-zero-byte-pair filter makes each pair unique by
    // construction, so every shuffle in the plan must be doc-sized
    // (band-pair explode, doc_id aggregation, presentation sort), never
    // keyed on the (da, db) pair.
    val df = SparkEntry.queries("q_multimodal_phash")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    val pairKeyed = collectWithSubqueries(p) {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.toString.startsWith("hashpartitioning") &&
          (e.outputPartitioning.toString.contains("da#") ||
            e.outputPartitioning.toString.contains("db#")) => e
    }
    assert(pairKeyed.isEmpty, s"candidate stream exchanged on pair keys:\n$p")
    // and the per-doc rollup must have a map-side partial stage so the
    // candidate flood collapses before its one legitimate exchange
    val partials = collectWithSubqueries(p) {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec
        if a.aggregateExpressions.exists(_.mode ==
          org.apache.spark.sql.catalyst.expressions.aggregate.Partial) => a
    }
    assert(partials.nonEmpty, s"missing map-side partial aggregation:\n$p")
  }

  test("q_dedup_simhash: 16-bit-band candidates flow join -> filter -> output unexchanged") {
    val df = SparkEntry.queries("q_dedup_simhash")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    // the one allowed pair-keyed exchange is the presentation sort's
    // rangepartitioning over the post-verify SURVIVOR pairs (output-
    // sized); a hashpartitioning on pair keys is the retired DISTINCT
    // shape that exchanged the raw candidate flood
    val pairKeyed = collectWithSubqueries(p) {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.toString.startsWith("hashpartitioning") &&
          (e.outputPartitioning.toString.contains("id_a#") ||
            e.outputPartitioning.toString.contains("id_b#")) => e
    }
    assert(pairKeyed.isEmpty,
      s"simhash candidate stream exchanged on pair keys (the retired " +
        s"DISTINCT shape):\n$p")
  }

  test("q_join_radius_grid: cell-keyed join, one-row radius broadcast, no cartesian") {
    val df = SparkEntry.queries("q_join_radius_grid")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    // the only nested-loop joins allowed are replicas of the 1-row
    // radius broadcast (the narrow pts+r chain is recomputed per
    // consumer — home cells, probe cells, digest base — instead of
    // cached, so the one-row crossJoin appears once per branch); the
    // candidate join itself must be an equi-join on cell keys
    val bnl = collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(bnl.size <= 3, s"unexpected nested-loop joins (${bnl.size}):\n$p")
    val equi = collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      case j: BroadcastHashJoinExec => j
    }
    assert(equi.nonEmpty, s"grid candidate join must be an equi-join:\n$p")
    // no pair-keyed hash exchange: the pair stream flows join -> filter
    // -> partial agg, and only doc-sized/cell-sized exchanges exist
    val pairKeyed = collectWithSubqueries(p) {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.toString.startsWith("hashpartitioning") &&
          e.outputPartitioning.toString.contains("ia#") => e
    }
    assert(pairKeyed.isEmpty, s"pair stream exchanged:\n$p")
  }

  test("q_agg_gini: one priority-keyed sort window feeding one aggregation; no joins") {
    val df = SparkEntry.queries("q_agg_gini")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    val joins = collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      case j: BroadcastHashJoinExec => j
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(joins.isEmpty, s"gini must not join:\n$p")
    // priority window exchange + presentation sort only
    val exchanges = collectWithSubqueries(p) { case e: ShuffleExchangeExec => e }
    assert(exchanges.size <= 2, s"unexpected extra shuffles (${exchanges.size}):\n$p")
    val wins = collectWithSubqueries(p) {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.isEmpty => w
    }
    assert(wins.isEmpty, s"unpartitioned window in gini:\n$p")
  }

  test("q_merge_erase: deletion list broadcasts; the lineitem cascade join does NOT") {
    val df = SparkEntry.queries("q_merge_erase")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    assert(collectWithSubqueries(p) {
      case j: BroadcastHashJoinExec => j }.nonEmpty,
      s"curated deletion list should broadcast onto orders:\n$p")
    // the purged-order set is corpus-proportional, so the lineitem
    // cascade join must NOT carry a forced broadcast hint — AQE is free
    // to broadcast it at fixture scale (it does), but at 100 TB the
    // un-hinted join degrades gracefully to a shuffle instead of OOMing
    // executors. Exactly one hint in the whole plan: the curated
    // deletion list.
    val hints = df.queryExecution.optimizedPlan.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.size <= 1,
      s"cascade join must not be hint-forced (${hints.size} hints):\n" +
        df.queryExecution.optimizedPlan)
  }
}
