package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** Event-stream (batch-side) operators: as-of join and JSON parsing.
  *
  * The as-of join uses the union+window formulation: tag both sides, sort
  * within each user by (ts, side, id) and carry the last-seen right row
  * forward with `last(_, ignoreNulls)`. This scales — one shuffle on the
  * key, no per-key Cartesian blowup — which is why it beats the naive
  * join-then-filter-then-argmax at 100 TB (that one explodes on hot keys).
  * DuckDB oracles it with its native ASOF JOIN.
  */
object Events {

  val defs: Map[String, Q] = Map(
    // Peak concurrency per event type (ops.RangeJoin.peakConcurrency) —
    // capacity planning's "how many were open AT ONCE" over synthesized
    // half-open activity intervals [ts, ts + 60..299 s), duration a pure
    // integer function of event_id so both engines derive identical
    // micros. The boundary sweep never materializes an overlap pair:
    // one shuffle of 2|events| delta rows, chunked prefix sums with
    // group-partitioned shard offsets — the plan that holds when a viral
    // hour makes pairwise overlap quadratic. Oracle replays the delta
    // stream with a plain windowed cumsum (DuckDB materializes; sharding
    // is Spark's scale tax only), max-invariant to tie order within an
    // equal (t, sign) run.
    "q_events_concurrency" -> ((s, dir) => {
      val iv = tbl(s, dir, "events")
        .select(col("event_type"),
          unix_micros(col("ts")).as("s_us"),
          (unix_micros(col("ts")) +
            (lit(60L) + col("event_id") % 240L) * 1000000L).as("e_us"))
      graft.ops.RangeJoin.peakConcurrency(iv, "event_type", "s_us", "e_us")
        .orderBy("event_type")
    }),
    // For each 'click' event, the most recent 'purchase' (ts <= click ts)
    // by the same user.
    "q_asof_join" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"),
          lit(1).as("side"), lit(null).cast(LongType).as("r_id"))
      // Pre-reduce to one purchase per (user_id, ts): DuckDB's ASOF JOIN pick
      // among equal-ts right rows is unspecified, so ties (possible after
      // ns→µs truncation) would be oracle-flaky. max(event_id) is the same
      // row Spark's window tie-break (ts, side, event_id asc) already keeps.
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("event_id"))
        .select(col("user_id"), col("ts"), col("event_id"),
          lit(0).as("side"), col("event_id").as("r_id"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("side").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      clicks.unionByName(purchases)
        .withColumn("matched_purchase", last(col("r_id"), ignoreNulls = true).over(w))
        .filter(col("side") === 1)
        .select(col("event_id").as("click_id"), col("user_id"), col("matched_purchase"))
        .orderBy("click_id")
    }),
    // As-of join WITH TOLERANCE — the feature-store staple the plain
    // as-of can't express: a click only attributes to its most recent
    // purchase when that purchase is at most 24 h old (stale features
    // must read as ABSENT, not as the last value forever — the
    // label-leakage guard). Same union + last(ignoreNulls) running-state
    // evaluation as q_asof_join (one user_id shuffle, constant per-row
    // state), with the matched purchase's timestamp carried alongside
    // its id so the tolerance check is a post-window filter that NULLs
    // both output columns together. The oracle replays via DuckDB ASOF
    // LEFT JOIN + the same CASE, gap in truncating-division seconds.
    "q_asof_join_tolerance" -> ((s, dir) => {
      val tolUs = 24L * 3600L * 1000000L
      val ev = tbl(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"),
          lit(1).as("side"), lit(null).cast(LongType).as("r_id"),
          lit(null).cast(LongType).as("r_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("event_id"))
        .select(col("user_id"), col("ts"), col("event_id"),
          lit(0).as("side"), col("event_id").as("r_id"),
          unix_micros(col("ts")).as("r_us"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("side").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val fresh = col("mp_us").isNotNull &&
        unix_micros(col("ts")) - col("mp_us") <= tolUs
      clicks.unionByName(purchases)
        .withColumn("mp", last(col("r_id"), ignoreNulls = true).over(w))
        .withColumn("mp_us", last(col("r_us"), ignoreNulls = true).over(w))
        .filter(col("side") === 1)
        .select(col("event_id").as("click_id"), col("user_id"),
          when(fresh, col("mp")).as("matched_purchase"),
          when(fresh, expr("(unix_micros(ts) - mp_us) div 1000000"))
            .as("gap_secs"))
        .orderBy("click_id")
    }),
    // session_window in BATCH mode: same gap-based sessionization as the
    // streaming query, no state store — one shuffle on (user, window-merge).
    "q_batch_sessions" -> ((s, dir) =>
      tbl(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("sess_start"),
          col("n_events"))
        .orderBy("user_id", "sess_start")),
    // Ordered conversion funnel per user: first 'view', then the earliest
    // 'click' STRICTLY after it (within 72h), then the earliest 'purchase'
    // strictly after that click (within 72h). Sequential stage dependency
    // is expressed as three chained whole-partition window minimums over
    // ONE hash exchange on user_id (each min's predicate references the
    // previous stage's column, which nulls-out automatically when the
    // prior stage was never reached), then the per-user row is reduced by
    // a groupBy that REUSES the same partitioning — no second exchange.
    // The naive formulation (per-stage aggregate + self-join per stage)
    // costs 3 shuffles of the full event stream; this costs one.
    "q_window_funnel" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
      val staged = tbl(s, dir, "events")
        .select("user_id", "event_type", "ts")
        .withColumn("t1",
          min(when(col("event_type") === "view", col("ts"))).over(w))
        .withColumn("t2",
          min(when(col("event_type") === "click" && col("ts") > col("t1") &&
            col("ts") <= col("t1") + expr("INTERVAL 72 HOURS"),
            col("ts"))).over(w))
        .withColumn("t3",
          min(when(col("event_type") === "purchase" && col("ts") > col("t2") &&
            col("ts") <= col("t2") + expr("INTERVAL 72 HOURS"),
            col("ts"))).over(w))
      staged.groupBy("user_id")
        .agg(max("t1").as("v_ts"), max("t2").as("c_ts"), max("t3").as("p_ts"))
        .select(col("user_id"),
          when(col("p_ts").isNotNull, 3)
            .when(col("c_ts").isNotNull, 2)
            .when(col("v_ts").isNotNull, 1)
            .otherwise(0).as("funnel_stage"),
          unix_micros(col("v_ts")).as("view_us"),
          unix_micros(col("c_ts")).as("click_us"),
          unix_micros(col("p_ts")).as("purchase_us"))
        .orderBy("user_id")
    }),
    // Cohort retention matrix: users grouped by their signup week, each
    // cohort's active-user count per week offset, plus retention ppm
    // against cohort size (integer: n*1e6 div size — no float share).
    // Scale shape: the only corpus-wide stages are one user_id join and
    // one distinct over (user, cohort, week) — the matrix itself is
    // cohorts×offsets, trivially small. The cohort table is
    // user-DIMENSION-sized (one row per signed-up user), so it carries NO
    // broadcast hint: a forced broadcast OOMs exactly when the user base
    // grows past executor memory, while unhinted AQE promotes it to a
    // broadcast automatically whenever its measured size fits and
    // gracefully shuffles when it does not. The sizes table stays
    // broadcast — it is calendar-bounded (one row per signup WEEK).
    // Weeks are date_trunc('week'), Monday-start in both engines; the
    // offset is exact integer division of epoch seconds (aligned
    // truncation makes it divide evenly).
    "q_events_retention" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      val cohort = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("ts").as("first_ts"))
        .select(col("user_id"), date_trunc("week", col("first_ts")).as("cw"))
      val active = ev.select(col("user_id"), date_trunc("week", col("ts")).as("aw"))
        .join(cohort, "user_id")
        .filter(col("aw") >= col("cw"))
        .select("user_id", "cw", "aw").distinct()
      val sizes = cohort.groupBy("cw").agg(count(lit(1)).as("cohort_size"))
      active
        .withColumn("week_offset",
          expr("(unix_timestamp(aw) - unix_timestamp(cw)) div 604800"))
        .groupBy("cw", "week_offset")
        .agg(count(lit(1)).as("n_active"))
        .join(broadcast(sizes), "cw")
        .select(unix_micros(col("cw")).as("cohort_us"), col("week_offset"),
          col("n_active"),
          expr("n_active * 1000000 div cohort_size").as("retention_ppm"))
        .orderBy("cohort_us", "week_offset")
    }),
    "q_from_json" -> ((s, dir) => {
      val schema = StructType(Seq(StructField("k", IntegerType)))
      // Filtering on the from_json alias would push the (CodegenFallback)
      // JsonToStructs into the Filter and evaluate it twice per row; the
      // cheap codegen'd path probe prunes rows first, so the heavyweight
      // struct parse runs once and only on survivors. Same predicate on the
      // same value — output is identical.
      tbl(s, dir, "events")
        .filter(get_json_object(col("props"), "$.k").cast(IntegerType) >= 50)
        .select(col("event_id"),
          from_json(col("props"), schema).getField("k").as("k_parsed"),
          col("event_type"))
        .orderBy("event_id")
    }),
    // PII hygiene for shared/training datasets: user ids become stable
    // keyed pseudonyms (salted sha256 — joinable across tables salted the
    // same way, not reversible without the salt), and every digit run in
    // the free-form props blob is masked. Map-only, codegen'd, zero
    // shuffle: scrubbing 100 TB is exactly one pass over the bytes.
    // Spark 4 Variant: the SCHEMALESS semi-structured path — parse the
    // JSON once into the binary Variant encoding, then typed path
    // extraction (variant_get), no StructType declared anywhere. The
    // complement to q_from_json's schema-full parse: at 100 TB you parse
    // heterogeneous event payloads once at ingest, store the variant
    // column, and every downstream query does cheap typed gets instead of
    // re-parsing text. try_variant_get returns NULL (not an error) on a
    // type/path miss — the tolerant read production payloads need.
    "q_json_variant" -> ((s, dir) =>
      tbl(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          parse_json(col("props")).as("v"))
        .select(col("event_id"), col("event_type"),
          try_variant_get(col("v"), "$.k", "int").as("k_typed"),
          try_variant_get(col("v"), "$.missing", "string").as("absent"))
        .filter(col("k_typed") % 10 === 0)
        .orderBy("event_id")),
    // HLL sketch TILES — the mergeable pre-aggregation pattern: distinct
    // users sketched once per (day, type) tile, then any rollup (here:
    // per type across all days) MERGES tiles instead of rescanning raw
    // events. This is how distinct counts stay re-aggregatable in a
    // 100 TB cube: the raw stream is touched once; every slice of the
    // cube is a union of kilobyte sketches. ORACLED via verify-replay:
    // recorded (type, n_tiles, est_users) rows enter as literals while
    // DuckDB recomputes the exact tile count (must match exactly) and
    // exact distinct users (estimate must land within 5%; lgK=14 rsd is
    // ~0.8%) — CatalogContractSpec keeps the invariant pinned too.
    "q_agg_sketch_tiles" -> ((s, dir) => {
      val tiles = tbl(s, dir, "events")
        .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
        .agg(hll_sketch_agg(col("user_id"), lit(14)).as("sk"))
      val df = tiles.groupBy("event_type")
        .agg(count(lit(1)).as("n_tiles"),
          hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_users"))
        .orderBy("event_type")
      graft.io.Artifacts.once(dir, "sketch_tiles_rec")(
        df.collect().toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2))))
      df
    }),
    "q_pii_pseudonymize" -> ((s, dir) =>
      tbl(s, dir, "events")
        .select(col("event_id"),
          sha2(concat(col("user_id").cast("string"), lit(":graft-pii")), 256)
            .as("user_pseudo"),
          col("event_type"),
          regexp_replace(col("props"), "[0-9]+", "#").as("props_redacted"))
        .orderBy("event_id")),
    // PII census — the AUDIT side of PII hygiene (pseudonymize above is
    // the scrub side): per-source counts of email-shaped, phone-shaped,
    // and long-digit-run spans, plus the ppm of documents carrying any.
    // The corpus has no PII column, so contact spans are SYNTHESIZED
    // deterministically from (doc_id, source) — the q_dedup_url stance:
    // the operator under test is the regex-census scan, and synthesis
    // makes it fully oracle-replayable. All patterns are conservative
    // regex (char classes + bounded quantifiers) evaluated identically
    // by Java regex and DuckDB's RE2; map-only until one source-keyed
    // aggregation — auditing 100 TB is exactly one pass over the bytes.
    "q_pii_census" -> ((s, dir) => {
      val emailRe = "[a-z0-9]+@[a-z0-9.]+\\.[a-z]+"
      val phoneRe = "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}"
      val runRe = "[0-9]{4,}"
      val blob = concat(
        when(col("doc_id") % 3 === 0,
          concat(lit("user"), col("doc_id").cast("string"), lit("@"),
            col("source"), lit(".example.com "))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit("+1-555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(" ")))
          .otherwise(lit("")),
        col("text"))
      val nEmail = regexp_count(col("blob"), lit(emailRe))
      val nPhone = regexp_count(col("blob"), lit(phoneRe))
      val nRun = regexp_count(col("blob"), lit(runRe))
      tbl(s, dir, "documents")
        .select(col("source"), blob.as("blob"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(nEmail.cast("long")).as("n_email"),
          sum(nPhone.cast("long")).as("n_phone"),
          sum(nRun.cast("long")).as("n_digit_runs"),
          sum(when(nEmail > 0 || nPhone > 0 || nRun > 0, 1L).otherwise(0L))
            .as("n_docs_pii"))
        .select(col("source"), col("n_docs"), col("n_email"), col("n_phone"),
          col("n_digit_runs"),
          expr("n_docs_pii * 1000000 div n_docs").as("pii_ppm"))
        .orderBy("source")
    }),
    // Time-series gap fill — the sibling of the flagship densification:
    // hourly event counts per user with ZERO rows materialized for silent
    // hours between that user's first and last activity. The hour spine is
    // generated per user (sequence + explode — narrow, sized by each
    // user's own span, never a global calendar cross join) and the
    // observed counts left-join onto it co-partitioned by user.
    "q_timeseries_gapfill" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
        .select(col("user_id"), date_trunc("hour", col("ts")).as("h"))
      val counts = ev.groupBy("user_id", "h").agg(count(lit(1)).as("n"))
      val spine = counts.groupBy("user_id")
        .agg(min("h").as("h0"), max("h").as("h1"))
        .select(col("user_id"),
          explode(sequence(col("h0"), col("h1"),
            make_dt_interval(lit(0), lit(1)))).as("h"))
      spine.join(counts, Seq("user_id", "h"), "left")
        .select(col("user_id"), unix_micros(col("h")).as("hour_us"),
          coalesce(col("n"), lit(0L)).as("n_events"))
        .orderBy("user_id", "hour_us")
    }),
    // Activity streaks (gaps-and-islands) per user: longest run of
    // CONSECUTIVE active days, total active days, and number of distinct
    // streaks — the engagement metric behind every "N-day streak" product
    // surface, and a classic window-SQL shape. The catalog plan is the
    // ONE-SHUFFLE array formulation instead of the window one: collect
    // each user's distinct epoch-day set (map-side-combined partials —
    // the per-key buffer is bounded by the CALENDAR, ≤ 36,525 ints per
    // user-decade, never by event volume, which is what makes the
    // collect_set safe where an unbounded one would OOM), sort it, and
    // fold the streak machine over the array map-side. The window
    // formulation (day − dense_rank island ids) costs a second exchange
    // of the distinct-day table for the same answer — the DuckDB oracle
    // uses exactly that independent formulation, so the two derivations
    // check each other.
    // Time-weighted average value per user (TWAP — the right mean for
    // irregularly-sampled series, where a plain avg over-weights bursts):
    // each event's value holds until the user's next event, so the mean
    // weights by holding duration. ONE shuffle on user_id: a lead()
    // window gives each segment its end, and the per-user aggregate
    // REUSES the window's partitioning (no second exchange). All
    // arithmetic is integer — cents-quantized values × truncated-second
    // durations, integer division at the end — so both engines replay it
    // exactly; the duration denominator is the sum of per-segment
    // truncated seconds (not the raw span), keeping weights and
    // denominator consistent.
    "q_events_twa" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      val seg = tbl(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("next_us", lead(col("us"), 1).over(w))
        .withColumn("dt", expr("(next_us - us) div 1000000"))
      seg.groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum("dt").as("dur_s"),
          sum(col("cents") * col("dt")).as("__segsum"))
        .filter(col("dur_s") > 0)
        .select(col("user_id"), col("n_events"), col("dur_s"),
          expr("__segsum div dur_s").as("twa_cents"))
        .orderBy("user_id")
    }),
    // RFM (recency / frequency / monetary) customer segmentation with
    // quintile scores — the marketing-analytics classic. The catalog
    // point is HOW the quintiles are computed at scale: never ntile()
    // over an unpartitioned window (a single-task global sort of the
    // user dimension — the plan shape GlobalIndex exists to avoid), but
    // exact quantile THRESHOLDS from OrderStats' histogram bisection
    // (bounded driver state, map-side-combined scans), arriving as
    // LITERALS in a when-chain scoring pass. Metrics are one shuffle on
    // user_id; the metric table is persisted across the three threshold
    // fits and released before the result plan. Scores: value strictly
    // above k thresholds scores k+1 (recency inverted — recent = 5);
    // ties at a threshold fall to the lower bucket in both engines. The
    // oracle replays the thresholds positionally (row_number()-1 =
    // (n-1)*k//5 — the same discrete lower quantile) and every score.
    "q_events_rfm" -> ((s, dir) => {
      import graft.ops.OrderStats.{Quantile, quantilesDisc}
      val ev = tbl(s, dir, "events")
      val maxts = ev.agg(max(unix_micros(col("ts"))).as("mt"))
      val u = ev.groupBy("user_id")
        .agg(max(unix_micros(col("ts"))).as("ut"),
          count(lit(1)).as("frequency"),
          coalesce(sum(when(col("event_type") === "purchase",
            floor(col("value") * 100 + 0.5).cast("long"))), lit(0L))
            .as("monetary_cents"))
        .crossJoin(broadcast(maxts))
        .select(col("user_id"), expr("(mt - ut) div 1000000").as("recency_s"),
          col("frequency"), col("monetary_cents"))
      val qs = (1 to 4).map(k => Quantile(s"q$k", k, 5))
      val uC = u.persist()
      val (rT, fT, mT) =
        try {
          // fused three-metric fit (r16): one bounds pass + one
          // histogram scan per round for ALL metrics — identical values
          // to three quantilesDisc calls (OrderStatsSpec pins it), a
          // third of the scans and jobs
          val thr = graft.ops.OrderStats.quantilesDiscMulti(uC,
            Seq("recency_s", "frequency", "monetary_cents"), qs)
          def th(c: String): Seq[Long] =
            thr(c).toSeq.sortBy(_._1).map(_._2)
          (th("recency_s"), th("frequency"), th("monetary_cents"))
        } finally { uC.unpersist(); () }
      def scoreUp(c: org.apache.spark.sql.Column, ts: Seq[Long]) =
        ts.map(t => when(c > t, 1).otherwise(0)).reduce(_ + _) + lit(1)
      u.select(col("user_id"), col("recency_s"), col("frequency"),
          col("monetary_cents"),
          (lit(6) - scoreUp(col("recency_s"), rT)).as("r_score"),
          scoreUp(col("frequency"), fT).as("f_score"),
          scoreUp(col("monetary_cents"), mT).as("m_score"))
        .orderBy("user_id")
    }),
    // First-order Markov transition matrix over event types: how users
    // move between view/click/purchase/... — the behavioural model behind
    // next-action prediction and anomaly scoring. The ONLY corpus-scale
    // stage is one lead() window over user_id (the event stream shuffled
    // once, same exchange every per-user query here reuses); transitions
    // then collapse to a |types|² matrix, so the probability window and
    // the final sort run on ≤25 rows no matter the corpus size.
    // Probabilities are integer ppm (cnt·1e6 div row-total) — exact in
    // both engines, no float normalization to drift.
    "q_events_markov" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      val tr = tbl(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n_trans"))
      val wf = Window.partitionBy("from_type")
      tr.withColumn("row_total", sum(col("n_trans")).over(wf))
        .select(col("from_type"), col("to_type"), col("n_trans"),
          expr("n_trans * 1000000 div row_total").as("p_ppm"))
        .orderBy("from_type", "to_type")
    }),
    // Per-user OLS trend (is this user's spend rising or falling?): the
    // closed-form slope over (hours-since-first-event, cents) in EXACT
    // integer arithmetic — num = n·Σxy − Σx·Σy, den = n·Σx² − (Σx)², both
    // engines replay them bit-for-bit, slope published as milli-cents/hour
    // via truncating division (Spark `div` ≡ DuckDB `//` toward zero,
    // verified for negative numerators). Centering x on the user's first
    // event bounds every term by the OBSERVATION SPAN, not the epoch:
    // with x ≤ span-hours and y in cents, n·Σxy stays within long for
    // n·span·cents ≲ 9e18 — ~1e7 events/user at a 720 h window, far past
    // any real per-user history. One shuffle on user_id: the min() window
    // and the groupBy reuse the same exchange.
    "q_events_trend" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
      val xy = tbl(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        .withColumn("us0", min(col("us")).over(w))
        .withColumn("x", expr("(us - us0) div 3600000000"))
      xy.groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum("x").as("sx"), sum("cents").as("sy"),
          sum(col("x") * col("cents")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .withColumn("num", col("n_events") * col("sxy") - col("sx") * col("sy"))
        .withColumn("den", col("n_events") * col("sxx") - col("sx") * col("sx"))
        .filter(col("den") > 0)
        .select(col("user_id"), col("n_events"), col("num"), col("den"),
          expr("num * 1000 div den").as("slope_milli_cph"))
        .orderBy("user_id")
    }),
    // Robust outlier census by MEDIAN/MAD (the Hampel rule): values more
    // than 5 MADs from the median are flagged, per event type. Mean/
    // stddev outlier rules break exactly when outliers exist (the
    // outliers inflate the stddev that is supposed to catch them); the
    // median and MAD have 50% breakdown, the data-quality screen a dirty
    // 100 TB feed needs. Both thresholds come from OrderStats' exact
    // histogram-bisection quantiles (two counter-cell aggregations, no
    // global sort — the q_filter_quantile contract) and arrive as
    // LITERALS, so the census scan prunes on a static predicate; all
    // arithmetic is exact cents/longs, the oracle replays the thresholds
    // positionally and every comparison.
    "q_quality_outlier_mad" -> ((s, dir) => {
      import graft.ops.OrderStats.{Quantile, quantilesDisc}
      val ev = tbl(s, dir, "events")
        .select(col("event_type"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      val med = quantilesDisc(ev.select(col("cents")), "cents",
        Seq(Quantile("p50", 1, 2))).head().getLong(1)
      val mad = quantilesDisc(
        ev.select(abs(col("cents") - med).as("dev")), "dev",
        Seq(Quantile("p50", 1, 2))).head().getLong(1)
      val isOut = abs(col("cents") - lit(med)) > lit(5L) * lit(mad)
      ev.groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(when(isOut, 1L).otherwise(0L)).as("n_outliers"),
          max(when(isOut, col("cents"))).as("max_outlier_cents"))
        .withColumn("median_cents", lit(med))
        .withColumn("mad_cents", lit(mad))
        .orderBy("event_type")
    }),
    "q_events_streak" -> ((s, dir) => {
      val days = sort_array(collect_set(unix_date(to_date(col("ts")))))
      // accumulator: (prev day, current run length, max run, run count)
      val z = struct(lit(Int.MinValue).as("prev"), lit(0).as("cur"),
        lit(0).as("mx"), lit(0).as("ns"))
      val fold = aggregate(col("days"), z, (acc, d) => {
        val cur = when(d === acc("prev") + 1, acc("cur") + 1).otherwise(lit(1))
        struct(d.as("prev"), cur.as("cur"),
          greatest(acc("mx"), cur).as("mx"),
          (acc("ns") + when(d === acc("prev") + 1, lit(0)).otherwise(lit(1)))
            .as("ns"))
      })
      tbl(s, dir, "events")
        .groupBy("user_id").agg(days.as("days"))
        .select(col("user_id"), size(col("days")).as("n_active_days"),
          fold.getField("mx").as("longest_streak"),
          fold.getField("ns").as("n_streaks"))
        .orderBy("user_id")
    }),
    // One-sided CUSUM change-point statistic over daily event volume per
    // type (Page 1954) — "did this stream's rate drift up, and when?".
    // The textbook definition is recursive (S_i = max(0, S_{i-1} + dev_i),
    // unexpressible as a window frame), but it equals
    //   S_i = P_i − min(0, min_{j≤i} P_j)   with P = prefix sum of dev
    // — two running-frame windows over ONE (type, day) ordering, so both
    // engines stay declarative and loop-free. dev_i = n_days·c_i − total
    // keeps the mean-centering in EXACT long arithmetic (no mean double):
    // every emitted value is integer, hash-stable by construction.
    // Scale shape: the corpus-scale event stream collapses map-side to
    // (type, day) rows FIRST; every window after that is bounded by the
    // calendar (days per type), never by event volume — the same
    // pre-agg-then-window shape as q_events_retention. A flat stream
    // scores 0 everywhere; a burst day spikes S by its excess volume.
    "q_events_cusum" -> ((s, dir) => {
      // to_date (not date_trunc, which yields TIMESTAMP) so `day` is
      // DATE on both engines — DuckDB's date_trunc('day', ts) is DATE,
      // and a stricter stringify-hash would otherwise see
      // '2024-01-01' vs '2024-01-01 00:00:00'.
      val daily = tbl(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
      val full = Window.partitionBy("event_type")
      val run = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily
        .withColumn("nd", count(lit(1)).over(full))
        .withColumn("tot", sum("cnt").over(full))
        .withColumn("p", sum(col("nd") * col("cnt") - col("tot")).over(run))
        .select(col("event_type"), col("day"), col("cnt"),
          (col("p") - least(lit(0L), min("p").over(run))).as("cusum"))
        .orderBy("event_type", "day")
    }),
    // Kaplan-Meier time-to-conversion life table (Kaplan & Meier 1958)
    // — "how many days from a user's first touch to their first
    // purchase, accounting for users the observation window cut off?".
    // Observation is administratively truncated at SurvivalObsDays
    // whole days from corpus start: a user whose first purchase lands
    // inside the horizon is an EVENT at t = days(first touch → first
    // purchase); a user with no purchase by the horizon is RIGHT-
    // CENSORED at t = days(first touch → horizon) — they leave the risk
    // set without converting, precisely what naive conversion-rate
    // queries get wrong. Per event time t: n_risk = users still
    // unconverted and uncensored entering t, d_events = conversions at
    // exactly t, and the product-limit estimate S(t) = prod (1 - d/n)
    // is emitted in LOG space as km_nll_micro = cumulative
    // -ln((n-d)/n) quantized to integer micro-nats BEFORE the windowed
    // sum (the unigramNll idiom) — exp is NOT correctly rounded
    // cross-engine; cumulative quantized logs are hash-stable. If every
    // remaining at-risk user converts at the final t, S hits exact 0
    // (log undefined): emitted NULL — the only row where n = d is
    // possible, since censored users keep n > d at every earlier t.
    // Scale shape: the event stream collapses map-side to one row per
    // user FIRST; the life table is <= SurvivalObsDays rows (horizon-
    // bounded), so its two global windows sort dozens of rows, never
    // users or events.
    "q_events_survival" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      val per = ev.groupBy("user_id").agg(to_date(min("ts")).as("first_day"))
      val pur = ev.filter(col("event_type") === lit("purchase"))
        .groupBy("user_id").agg(to_date(min("ts")).as("purch_day"))
      val horizon = ev.agg(
        date_add(to_date(min("ts")), SurvivalObsDays - 1).as("h_day"))
      val usr = per.join(pur, Seq("user_id"), "left")
        .crossJoin(broadcast(horizon))
        .where(col("first_day") <= col("h_day"))
        .withColumn("conv",
          (col("purch_day").isNotNull && col("purch_day") <= col("h_day"))
            .cast("long"))
        .select(
          when(col("conv") === 1L, datediff(col("purch_day"), col("first_day")))
            .otherwise(datediff(col("h_day"), col("first_day"))).as("t_days"),
          col("conv"))
      val life = usr.groupBy("t_days")
        .agg(count(lit(1)).as("n_end"), sum("conv").as("d_events"))
      val atRisk = Window.orderBy("t_days")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val upTo = Window.orderBy("t_days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      life
        .withColumn("n_risk", sum("n_end").over(atRisk))
        .withColumn("term", when(col("d_events") < col("n_risk"),
            floor(-log((col("n_risk") - col("d_events")).cast("double") /
              col("n_risk")) * 1000000d + 0.5d).cast("long"))
          .otherwise(lit(0L)))
        .withColumn("cum", sum("term").over(upTo))
        .where(col("d_events") > 0)
        .select(col("t_days"), col("n_risk"), col("d_events"),
          when(col("d_events") === col("n_risk"), lit(null).cast("long"))
            .otherwise(col("cum")).as("km_nll_micro"))
        .orderBy("t_days")
    }),
    // Linear interpolation across series gaps (the q_timeseries_gapfill
    // twin for VALUE series, where zero-fill would fabricate drops):
    // per-user hourly cent sums on the observed min..max spine, interior
    // gaps filled as pv + (nv-pv)·(h-ph)/(nh-ph) between the bracketing
    // observations — ALL integer arithmetic (truncating div, Spark `div`
    // ≡ DuckDB `//` — the q_events_trend precedent), so the replay is
    // exact with zero quantization. Gap arithmetic runs on HOUR indexes,
    // not micros, so the (value-delta × gap) product stays ≤ ~2^40 where
    // the micros formulation would court 64-bit wrap on month-long gaps.
    // Spine edges are observed by construction (min/max come from
    // observations), so every gap has both neighbors. Scale shape: the
    // event stream collapses to (user, hour) map-side; the spine is
    // calendar-bounded per user; all four carry-forward/backward windows
    // share ONE user_id exchange.
    "q_timeseries_interpolate" -> ((s, dir) => {
      val obs = tbl(s, dir, "events")
        .select(col("user_id"), date_trunc("hour", col("ts")).as("h"),
          floor(col("value") * 100d + 0.5d).cast("long").as("cents"))
        .groupBy("user_id", "h").agg(sum("cents").as("v"))
      val spine = obs.groupBy("user_id")
        .agg(min("h").as("h0"), max("h").as("h1"))
        .select(col("user_id"),
          explode(sequence(col("h0"), col("h1"),
            make_dt_interval(lit(0), lit(1)))).as("h"))
      // hk is materialized BEFORE the windows (not inlined as
      // when(...) inside last/first): inline non-trivial window
      // arguments each force a Project between Window operators, which
      // blocks CollapseWindow and fragments the four carries into three
      // passes — with hk projected up front they fuse into exactly two
      // WindowExecs (one per frame direction) over ONE user_id exchange
      // (pinned in PlanContractSpec).
      val ser = spine.join(obs, Seq("user_id", "h"), "left")
        .withColumn("hour_us", unix_micros(col("h")))
        .withColumn("hi", expr("hour_us div 3600000000"))
        .withColumn("hk", when(col("v").isNotNull, col("hi")))
      val back = Window.partitionBy("user_id").orderBy("hi")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val fwd = Window.partitionBy("user_id").orderBy("hi")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      ser
        .withColumn("pv", last("v", ignoreNulls = true).over(back))
        .withColumn("ph", last("hk", ignoreNulls = true).over(back))
        .withColumn("nv", first("v", ignoreNulls = true).over(fwd))
        .withColumn("nh", first("hk", ignoreNulls = true).over(fwd))
        .select(col("user_id"), col("hour_us"),
          col("v").isNotNull.cast("int").as("is_observed"),
          coalesce(col("v"),
            expr("pv + (nv - pv) * (hi - ph) div (nh - ph)")).as("value_cents"))
        .orderBy("user_id", "hour_us")
    }),
    // Weekly seasonality profile + chi-square uniformity test per event
    // type over the 168-cell (day-of-week × hour) grid — "is this stream
    // actually diurnal, and where is its peak?", the load-shaping /
    // anomaly-baseline question. Absent cells contribute to the
    // statistic WITHOUT materializing: each contributes exactly t/168,
    // so the grid never needs densifying ((168c−t)²/(168t) per observed
    // cell + (168−n_obs)·t/168 for the rest — the burstiness
    // zeros-without-zeros move). Per-cell terms micro-quantize BEFORE
    // the exact long sum; dow uses Spark's 1=Sunday convention (DuckDB's
    // 0-based dayofweek is shifted in the oracle). Scale shape: the
    // stream collapses map-side to ≤ |types|·168 cells; everything after
    // is schema-bounded.
    "q_events_seasonality" -> ((s, dir) => {
      val cells = tbl(s, dir, "events")
        .select(col("event_type"), dayofweek(col("ts")).as("dow"),
          hour(col("ts")).as("hod"))
        .groupBy("event_type", "dow", "hod").agg(count(lit(1)).as("c"))
      val tots = cells.groupBy("event_type")
        .agg(sum("c").as("t"), count(lit(1)).as("n_cells"))
      val obsPart = cells.join(broadcast(tots), "event_type")
        .withColumn("dev", lit(168L) * col("c") - col("t"))
        .withColumn("cell_micro", floor(
          col("dev").cast("double") * col("dev").cast("double") /
            (lit(168d) * col("t").cast("double")) * 1000000d + 0.5d).cast("long"))
        .groupBy("event_type").agg(sum("cell_micro").as("obs_micro"))
      val peak = graft.ops.TopK.perGroup(cells, Seq("event_type"),
        Seq(("c", false), ("dow", true), ("hod", true)), k = 1,
        rankCol = "peak_rn")
      tots.join(obsPart, "event_type")
        .join(peak.select(col("event_type"), col("dow").as("peak_dow"),
          col("hod").as("peak_hod"), col("c").as("peak_n")), "event_type")
        .select(col("event_type"), col("t").as("n_events"), col("n_cells"),
          (col("obs_micro") + (lit(168L) - col("n_cells")) *
            floor(col("t").cast("double") / 168d * 1000000d + 0.5d).cast("long"))
            .as("chi2_micro"),
          col("peak_dow"), col("peak_hod"), col("peak_n"))
        .orderBy("event_type")
    }),
    // M4 visualization-driven downsampling (Jugel, Jerzak, Hackenbroich,
    // Markl: "M4: A Visualization-Oriented Time Series Data Aggregation",
    // VLDB 2014): per (series, pixel-column) emit min, max, FIRST and
    // LAST — the four points that make the downsampled polyline
    // pixel-identical to the full-resolution render. THE way a dashboard
    // reads a 100 TB telemetry table: the reduction is one map-side-
    // combined aggregation to |series|·M4Buckets rows, never a sort and
    // never a window. Determinism: values quantize to exact integer
    // cents; first/last ride lexicographic MIN/MAX over a
    // (rel_us, event_id, v_cents) struct — event_id breaks equal-
    // timestamp ties, so the pick is exact on both engines (DuckDB
    // orders structs the same way; arg_min/min_by take no composite
    // key). Bucket = rel_us * M4Buckets div span is pure long math:
    // rel_us ≤ span < 2^63/M4Buckets bounds the product for any span
    // under ~2.3 million years. The span one-row aggregate ships as a
    // broadcast cross join (no collect).
    "q_timeseries_m4" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
        .select(col("event_type"), unix_micros(col("ts")).as("us"),
          floor(col("value") * 100d + 0.5d).cast("long").as("v_cents"),
          col("event_id"))
      // t1 is max+1 so the last sample lands in bucket M4Buckets-1
      val span = ev.agg(min("us").as("t0"), (max(col("us")) + 1L).as("t1"))
      ev.crossJoin(broadcast(span))
        .withColumn("rel_us", col("us") - col("t0"))
        .withColumn("bucket", expr(s"rel_us * $M4Buckets div (t1 - t0)"))
        .groupBy("event_type", "bucket")
        .agg(count(lit(1)).as("n"),
          min("v_cents").as("min_cents"), max("v_cents").as("max_cents"),
          min(struct(col("rel_us"), col("event_id"), col("v_cents")))
            .as("fst"),
          max(struct(col("rel_us"), col("event_id"), col("v_cents")))
            .as("lst"))
        .select(col("event_type"), col("bucket"), col("n"),
          col("min_cents"), col("max_cents"),
          col("fst.v_cents").as("first_cents"),
          col("lst.v_cents").as("last_cents"))
        .orderBy("event_type", "bucket")
    }),

    // Autocorrelation function of the per-type daily event-count series
    // at lags 1..AcfMaxLag — the periodicity screen run before picking
    // seasonal windows (q_events_seasonality assumes a weekly cycle; ACF
    // is how that assumption is checked). Definition: textbook ACF with
    // the full-series mean/variance, cross-products over CALENDAR-lag
    // matched day pairs (an absent day contributes no pair — documented;
    // the synthetic stream is day-dense so nothing drops). Exactness:
    // with x̄ = Σx/n left as a rational, multiplying num and den by n²
    // clears every fraction — num = n²·Σxy − n·Σx·(Σh+Σt) + m·(Σx)²,
    // den = n²·Σx² − n·(Σx)² — all EXACT integer arithmetic, carried in
    // decimal(38,0) (long would overflow once daily counts pass ~2×10⁸;
    // DuckDB's HUGEINT matches exactly), one correctly-rounded divide at
    // the end. Scale shape: the event stream collapses map-side to
    // (type, day) FIRST; everything after is calendar-bounded (days ×
    // types × lags) — the lag join and the totals join are broadcasts of
    // tiny tables no matter the corpus size.
    "q_timeseries_acf" -> ((s, dir) => {
      // semantic no-op on non-null data that makes every branch's pushed
      // null filters IDENTICAL — without it the head/tail branches gain
      // an isnotnull(day) from the lag-join key that the totals branch
      // lacks, the subtrees stop canonicalizing equal, and the totals
      // branch re-scans the event stream (the q_quality_cramers_v move)
      val daily = tbl(s, dir, "events")
        .select(col("event_type"),
          unix_date(to_date(col("ts"))).cast("long").as("day"))
        .filter(col("event_type").isNotNull && col("day").isNotNull)
        .groupBy("event_type", "day")
        .agg(count(lit(1)).as("x"))
      val tot = daily.groupBy("event_type").agg(
        count(lit(1)).as("n"), sum("x").as("sx"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"))
      val lags = s.range(1, AcfMaxLag + 1).select(col("id").as("lag_d"))
      val head = daily.select(col("event_type"), col("day"), col("x").as("xh"))
        .crossJoin(broadcast(lags))
      val tail = daily.select(col("event_type").as("et"),
        col("day").as("day_t"), col("x").as("xt"))
      val pl = head.join(tail,
          col("et") === col("event_type") &&
            col("day_t") === col("day") + col("lag_d"))
        .groupBy("event_type", "lag_d")
        .agg(count(lit(1)).as("m"),
          sum((col("xh") * col("xt")).cast("decimal(38,0)")).as("sxy"),
          sum("xh").as("sh"), sum("xt").as("st"))
      val n2 = col("n").cast("decimal(38,0)") * col("n")
      val num = n2 * col("sxy") -
        col("n").cast("decimal(38,0)") * col("sx") *
          (col("sh") + col("st")).cast("decimal(38,0)") +
        col("m").cast("decimal(38,0)") * col("sx") * col("sx")
      val den = n2 * col("sxx") -
        col("n").cast("decimal(38,0)") * col("sx") * col("sx")
      pl.join(broadcast(tot), "event_type")
        .select(col("event_type"), col("lag_d"), col("n").as("n_days"),
          col("m").as("n_pairs"),
          when(den.cast("double") > 0d,
            floor(num.cast("double") / den.cast("double") * 1000000d + 0.5d)
              .cast("long")).as("r_micro"))
        .orderBy("event_type", "lag_d")
    }),

    // Top event-type trigram paths — the order-2 upgrade over
    // q_events_markov's transition matrix: which three-step journeys
    // actually dominate (the funnel-DISCOVERY step run before
    // q_window_funnel is told what funnel to measure). Same per-user
    // (ts, event_id) ordering as markov; two leads ride ONE user
    // exchange; the path table collapses map-side to ≤ |types|³ rows, so
    // the TopK heap and the one-row total are the only things after the
    // collapse. Exact integer ppm share of all trigrams.
    "q_events_paths" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      val tri = tbl(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("e2", lead(col("event_type"), 1).over(w))
        .withColumn("e3", lead(col("event_type"), 2).over(w))
        .filter(col("e3").isNotNull)
        .groupBy(col("event_type").as("s1"), col("e2"), col("e3"))
        .agg(count(lit(1)).as("n"))
      val tot = tri.agg(sum("n").as("t"))
      graft.ops.TopK.perGroup(tri.withColumn("g", lit(1)), Seq("g"),
          Seq(("n", false), ("s1", true), ("e2", true), ("e3", true)),
          k = PathTopK, rankCol = "path_rn")
        .crossJoin(broadcast(tot))
        .select(concat_ws(">", col("s1"), col("e2"), col("e3")).as("path"),
          col("n"), expr("n * 1000000 div t").as("share_ppm"))
        .orderBy(desc("n"), asc("path"))
    })
  )

  /** q_events_paths' result depth — interpolated into the oracle.
    * Trigram paths over lowercase-alnum type names: '>' sorts below
    * [a-z0-9], so path-string order agrees with (s1, e2, e3) tuple
    * order and the two engines' final sorts coincide. */
  private[graft] val PathTopK = 20

  /** q_timeseries_acf's lag horizon (calendar days) — interpolated into
    * the DuckDB oracle's lag generator. 7 covers the weekly cycle the
    * seasonality grid assumes. */
  private[graft] val AcfMaxLag = 7

  /** q_timeseries_m4's horizontal resolution (pixel columns per series)
    * — interpolated into the DuckDB oracle. 128 keeps the catalog output
    * series-bounded (|types| × 128 rows) while exercising multi-sample
    * buckets at every test scale. */
  private[graft] val M4Buckets = 128

  /** q_events_survival's observation horizon: whole days of corpus time
    * a user is followed for conversion before administrative censoring
    * — interpolated into the DuckDB oracle. */
  private[graft] val SurvivalObsDays = 7

  /** q_agg_sketch_tiles' verify-replay oracle over its recorded rows
    * (artifact `sketch_tiles_rec`: (type, n_tiles, est_users), one row
    * per event type; schema-bounded) as literals. */
  private def sketchTilesOracleSql: Option[String] =
    graft.io.Artifacts.single[Seq[(String, Long, Long)]]("sketch_tiles_rec")
      .filter(_.nonEmpty).map { rec =>
      val vals = rec.map { case (t, nt, eu) =>
        s"('$t', CAST($nt AS BIGINT), CAST($eu AS BIGINT))"
      }.mkString(", ")
      // Exact counts drive the join: a type the recording missed emits
      // NULL columns (hash mismatch), a wrong tile count or an
      // out-of-bound estimate nulls out, and a recorded type the corpus
      // lacks leaves the oracle short a row — every failure direction
      // flags.
      s"""WITH rec(event_type, n_tiles, est_users) AS (VALUES $vals),
         exact AS (SELECT event_type,
                     count(DISTINCT date_trunc('day', ts)) AS nt,
                     count(DISTINCT user_id) AS nu
                   FROM events GROUP BY 1)
         SELECT e.event_type,
                CASE WHEN r.n_tiles = e.nt THEN r.n_tiles END AS n_tiles,
                CASE WHEN abs(r.est_users - e.nu) <= greatest(1, 0.05 * e.nu)
                     THEN r.est_users END AS est_users
         FROM exact e LEFT JOIN rec r USING (event_type)
         ORDER BY e.event_type"""
    }

  // def, not val: the sketch-tiles oracle replays estimates RECORDED at
  // query run time — a val would freeze the oracles before any query ran.
  def oracles: Map[String, String] = staticOracles ++
    sketchTilesOracleSql.map("q_agg_sketch_tiles" -> _)

  private val staticOracles: Map[String, String] = Map(
    // Same cents quantization, same max+1 half-open span, same pure-long
    // bucket math; first/last replay the struct-lexicographic MIN/MAX
    // (rel_us, event_id, v_cents) — DuckDB compares structs fieldwise
    // left-to-right exactly like Spark's orderable-struct min/max.
    "q_timeseries_m4" ->
      s"""WITH ev AS (SELECT event_type, epoch_us(ts) AS us,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_cents, event_id
           FROM events),
         span AS (SELECT min(us) AS t0, max(us) + 1 AS t1 FROM ev),
         b AS (SELECT event_type, us - t0 AS rel_us,
                 (us - t0) * $M4Buckets // (t1 - t0) AS bucket,
                 v_cents, event_id
               FROM ev CROSS JOIN span)
         SELECT event_type, bucket, count(*) AS n,
           min(v_cents) AS min_cents, max(v_cents) AS max_cents,
           (min(struct_pack(a := rel_us, b := event_id, c := v_cents))).c
             AS first_cents,
           (max(struct_pack(a := rel_us, b := event_id, c := v_cents))).c
             AS last_cents
         FROM b GROUP BY 1, 2 ORDER BY 1, 2""",
    // Same delta stream (+1 at start, -1 at end, ends BEFORE starts at
    // equal instants via r), plain global windowed cumsum per type —
    // DuckDB materializes, so Spark's shard chunking has no replay step.
    "q_events_concurrency" ->
      """WITH iv AS (SELECT event_type, epoch_us(ts) AS s_us,
             epoch_us(ts) + (60 + event_id % 240) * 1000000 AS e_us
           FROM events),
         d AS (SELECT event_type, s_us AS t, 1 AS r, 1 AS w FROM iv
               UNION ALL
               SELECT event_type, e_us, 0, -1 FROM iv),
         c AS (SELECT event_type, r,
             sum(w) OVER (PARTITION BY event_type ORDER BY t, r
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM d)
         SELECT event_type, CAST(max(cum) AS BIGINT) AS peak,
           CAST(sum(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_intervals
         FROM c GROUP BY 1 ORDER BY 1""",
    "q_asof_join" ->
      """SELECT l.event_id AS click_id, l.user_id, r.event_id AS matched_purchase
         FROM (SELECT * FROM events WHERE event_type = 'click') l
         ASOF LEFT JOIN (SELECT user_id, ts, max(event_id) AS event_id
                         FROM events WHERE event_type = 'purchase'
                         GROUP BY user_id, ts) r
           ON l.user_id = r.user_id AND l.ts >= r.ts
         ORDER BY click_id""",
    "q_asof_join_tolerance" ->
      """SELECT l.event_id AS click_id, l.user_id,
           CASE WHEN r.ts IS NOT NULL
                 AND epoch_us(l.ts) - epoch_us(r.ts) <= 86400000000
                THEN r.event_id END AS matched_purchase,
           CASE WHEN r.ts IS NOT NULL
                 AND epoch_us(l.ts) - epoch_us(r.ts) <= 86400000000
                THEN (epoch_us(l.ts) - epoch_us(r.ts)) // 1000000
                END AS gap_secs
         FROM (SELECT * FROM events WHERE event_type = 'click') l
         ASOF LEFT JOIN (SELECT user_id, ts, max(event_id) AS event_id
                         FROM events WHERE event_type = 'purchase'
                         GROUP BY user_id, ts) r
           ON l.user_id = r.user_id AND l.ts >= r.ts
         ORDER BY click_id""",
    "q_batch_sessions" ->
      """WITH x AS (
           SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTES THEN 1
                  ELSE 0 END AS brk
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         y AS (
           SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
           FROM x)
         SELECT user_id, epoch_us(min(ts)) AS sess_start, count(*) AS n_events
         FROM y GROUP BY user_id, sess ORDER BY user_id, sess_start""",
    // Thresholds re-derived positionally (row_number - 1 = the discrete
    // lower-quantile rank OrderStats publishes), then the identical
    // integer census — threshold drift, rank drift, or comparison drift
    // all hash-mismatch.
    "q_quality_outlier_mad" ->
      """WITH c AS (SELECT event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
         n AS (SELECT count(*) AS cnt FROM c),
         o AS (SELECT cents, row_number() OVER (ORDER BY cents) - 1 AS rn
               FROM c),
         med AS (SELECT cents AS m FROM o, n WHERE rn = (cnt - 1) * 1 // 2),
         dv AS (SELECT abs(cents - m) AS dev FROM c, med),
         o2 AS (SELECT dev, row_number() OVER (ORDER BY dev) - 1 AS rn
                FROM dv),
         mad AS (SELECT dev AS md FROM o2, n WHERE rn = (cnt - 1) * 1 // 2)
         SELECT event_type, count(*) AS n_events,
           CAST(sum(CASE WHEN abs(cents - m) > 5 * md THEN 1 ELSE 0 END)
             AS BIGINT) AS n_outliers,
           max(CASE WHEN abs(cents - m) > 5 * md THEN cents END)
             AS max_outlier_cents,
           CAST(m AS BIGINT) AS median_cents, CAST(md AS BIGINT) AS mad_cents
         FROM c, med, mad
         GROUP BY event_type, m, md ORDER BY event_type""",
    "q_events_retention" ->
      """WITH cohort AS (
           SELECT user_id, date_trunc('week', min(ts)) AS cw
           FROM events WHERE event_type = 'signup' GROUP BY user_id),
         active AS (
           SELECT DISTINCT e.user_id, c.cw, date_trunc('week', e.ts) AS aw
           FROM events e JOIN cohort c USING (user_id)
           WHERE date_trunc('week', e.ts) >= c.cw),
         sizes AS (SELECT cw, count(*) AS cohort_size FROM cohort GROUP BY cw),
         m AS (
           SELECT cw,
             (CAST(floor(epoch(aw)) AS BIGINT)
               - CAST(floor(epoch(cw)) AS BIGINT)) // 604800 AS week_offset,
             count(*) AS n_active
           FROM active GROUP BY 1, 2)
         SELECT epoch_us(m.cw) AS cohort_us, week_offset, n_active,
           n_active * 1000000 // cohort_size AS retention_ppm
         FROM m JOIN sizes ON m.cw = sizes.cw
         ORDER BY cohort_us, week_offset""",
    // The funnel's sequential dependency as three chained aggregates; the
    // stage predicates (strict >, 72h cap) mirror the window formulation.
    "q_window_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS v_ts FROM events
                     WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (SELECT e.user_id, min(e.ts) AS c_ts
                FROM events e JOIN s1 USING (user_id)
                WHERE e.event_type = 'click' AND e.ts > s1.v_ts
                  AND e.ts <= s1.v_ts + INTERVAL 72 HOURS
                GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, min(e.ts) AS p_ts
                FROM events e JOIN s2 USING (user_id)
                WHERE e.event_type = 'purchase' AND e.ts > s2.c_ts
                  AND e.ts <= s2.c_ts + INTERVAL 72 HOURS
                GROUP BY e.user_id)
         SELECT u.user_id,
           CASE WHEN p_ts IS NOT NULL THEN 3
                WHEN c_ts IS NOT NULL THEN 2
                WHEN v_ts IS NOT NULL THEN 1 ELSE 0 END AS funnel_stage,
           epoch_us(v_ts) AS view_us,
           epoch_us(c_ts) AS click_us,
           epoch_us(p_ts) AS purchase_us
         FROM (SELECT DISTINCT user_id FROM events) u
         LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
         LEFT JOIN s3 USING (user_id)
         ORDER BY user_id""",
    "q_from_json" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k_parsed, event_type
         FROM events
         WHERE CAST(json_extract_string(props, '$.k') AS INT) >= 50
         ORDER BY event_id""",
    // The variant path replayed as plain JSON extraction: typed get of an
    // int key, NULL for the missing path.
    "q_json_variant" ->
      """SELECT event_id, event_type,
           CAST(json_extract_string(props, '$.k') AS INT) AS k_typed,
           CAST(NULL AS VARCHAR) AS absent
         FROM events
         WHERE CAST(json_extract_string(props, '$.k') AS INT) % 10 = 0
         ORDER BY event_id""",
    // Same synthesis + the same regexes via RE2's regexp_extract_all;
    // a count or membership drift on any pattern hash-mismatches.
    "q_pii_census" ->
      """WITH b AS (SELECT source,
           (CASE WHEN doc_id % 3 = 0
                 THEN 'user' || CAST(doc_id AS VARCHAR) || '@' || source
                      || '.example.com ' ELSE '' END) ||
           (CASE WHEN doc_id % 5 = 0
                 THEN '+1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                      || ' ' ELSE '' END) ||
           text AS blob
           FROM documents),
         c AS (SELECT source,
           len(regexp_extract_all(blob, '[a-z0-9]+@[a-z0-9.]+\.[a-z]+')) AS ne,
           len(regexp_extract_all(blob, '\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}')) AS np,
           len(regexp_extract_all(blob, '[0-9]{4,}')) AS nr
           FROM b)
         SELECT source, count(*) AS n_docs,
           CAST(sum(ne) AS BIGINT) AS n_email,
           CAST(sum(np) AS BIGINT) AS n_phone,
           CAST(sum(nr) AS BIGINT) AS n_digit_runs,
           CAST(sum(CASE WHEN ne > 0 OR np > 0 OR nr > 0 THEN 1 ELSE 0 END)
             * 1000000 // count(*) AS BIGINT) AS pii_ppm
         FROM c GROUP BY source ORDER BY source""",
    "q_pii_pseudonymize" ->
      """SELECT event_id,
         sha256(CAST(user_id AS VARCHAR) || ':graft-pii') AS user_pseudo,
         event_type,
         regexp_replace(props, '[0-9]+', '#', 'g') AS props_redacted
         FROM events ORDER BY event_id""",
    "q_timeseries_gapfill" ->
      """WITH counts AS (
           SELECT user_id, date_trunc('hour', ts) AS h, count(*) AS n
           FROM events GROUP BY user_id, date_trunc('hour', ts)),
         spine AS (
           SELECT user_id, unnest(generate_series(min(h), max(h),
             INTERVAL 1 HOUR)) AS h
           FROM counts GROUP BY user_id)
         SELECT s.user_id, epoch_us(s.h) AS hour_us,
           coalesce(c.n, 0) AS n_events
         FROM spine s LEFT JOIN counts c
           ON s.user_id = c.user_id AND s.h = c.h
         ORDER BY s.user_id, hour_us""",
    "q_events_twa" ->
      """WITH x AS (
           SELECT user_id, event_id,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
             epoch_us(ts) AS us,
             lead(epoch_us(ts)) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS next_us
           FROM events),
         t AS (
           SELECT user_id, count(*) AS n_events,
             CAST(sum((next_us - us) // 1000000) AS BIGINT) AS dur_s,
             CAST(sum(cents * ((next_us - us) // 1000000)) AS BIGINT)
               AS segsum
           FROM x GROUP BY user_id)
         SELECT user_id, n_events, dur_s, segsum // dur_s AS twa_cents
         FROM t WHERE dur_s > 0 ORDER BY user_id""",
    // Thresholds replayed positionally: the value at 0-based rank
    // (n-1)*k//5 of each sorted metric — identical to OrderStats'
    // discrete lower quantile; scores re-derived with the same
    // strictly-above rule.
    "q_events_rfm" ->
      """WITH mx AS (SELECT max(epoch_us(ts)) AS mt FROM events),
         u AS (SELECT user_id,
             ((SELECT mt FROM mx) - max(epoch_us(ts))) // 1000000
               AS recency_s,
             count(*) AS frequency,
             coalesce(CAST(sum(CASE WHEN event_type = 'purchase'
               THEN CAST(floor(value * 100 + 0.5) AS BIGINT) END)
               AS BIGINT), 0) AS monetary_cents
           FROM events GROUP BY user_id),
         n AS (SELECT count(*) AS n FROM u),
         ks AS (SELECT unnest([1, 2, 3, 4]) AS k),
         rt AS (SELECT v FROM (SELECT row_number() OVER (ORDER BY recency_s)
                  - 1 AS r, recency_s AS v FROM u) s
                CROSS JOIN ks CROSS JOIN n WHERE s.r = (n.n - 1) * k // 5),
         ft AS (SELECT v FROM (SELECT row_number() OVER (ORDER BY frequency)
                  - 1 AS r, frequency AS v FROM u) s
                CROSS JOIN ks CROSS JOIN n WHERE s.r = (n.n - 1) * k // 5),
         mt2 AS (SELECT v FROM (SELECT row_number() OVER
                   (ORDER BY monetary_cents) - 1 AS r, monetary_cents AS v
                   FROM u) s
                 CROSS JOIN ks CROSS JOIN n WHERE s.r = (n.n - 1) * k // 5),
         rs AS (SELECT u.user_id, CAST(5 - count(CASE WHEN u.recency_s > rt.v
                  THEN 1 END) AS INT) AS r_score
                FROM u CROSS JOIN rt GROUP BY u.user_id),
         fs AS (SELECT u.user_id, CAST(1 + count(CASE WHEN u.frequency > ft.v
                  THEN 1 END) AS INT) AS f_score
                FROM u CROSS JOIN ft GROUP BY u.user_id),
         ms AS (SELECT u.user_id, CAST(1 + count(CASE
                  WHEN u.monetary_cents > mt2.v THEN 1 END) AS INT)
                  AS m_score
                FROM u CROSS JOIN mt2 GROUP BY u.user_id)
         SELECT u.user_id, u.recency_s, u.frequency, u.monetary_cents,
           r_score, f_score, m_score
         FROM u JOIN rs USING (user_id) JOIN fs USING (user_id)
           JOIN ms USING (user_id)
         ORDER BY user_id""",
    "q_events_markov" ->
      """WITH t AS (
           SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS to_type
           FROM events),
         c AS (SELECT from_type, to_type, count(*) AS n_trans
               FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2)
         SELECT from_type, to_type, n_trans,
           n_trans * 1000000
             // CAST(sum(n_trans) OVER (PARTITION BY from_type) AS BIGINT)
             AS p_ppm
         FROM c ORDER BY from_type, to_type""",
    "q_events_trend" ->
      """WITH e AS (
           SELECT user_id, epoch_us(ts) AS us,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
           FROM events),
         x AS (
           SELECT user_id, cents,
             (us - min(us) OVER (PARTITION BY user_id)) // 3600000000 AS x
           FROM e),
         a AS (
           SELECT user_id, count(*) AS n_events,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(cents) AS BIGINT) AS sy,
             CAST(sum(x * cents) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
           FROM x GROUP BY user_id)
         SELECT user_id, n_events,
           n_events * sxy - sx * sy AS num,
           n_events * sxx - sx * sx AS den,
           (n_events * sxy - sx * sy) * 1000
             // (n_events * sxx - sx * sx) AS slope_milli_cph
         FROM a WHERE n_events * sxx - sx * sx > 0
         ORDER BY user_id""",
    // Independent derivation on purpose: the classic day − dense_rank
    // islands formulation, not the Spark side's sorted-array fold.
    "q_events_streak" ->
      """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                    FROM events),
         i AS (SELECT user_id, day,
                 day - CAST(dense_rank() OVER (PARTITION BY user_id
                   ORDER BY day) AS INT) AS grp
               FROM d),
         g AS (SELECT user_id, grp, count(*) AS len
               FROM i GROUP BY user_id, grp)
         SELECT user_id, CAST(sum(len) AS INT) AS n_active_days,
           CAST(max(len) AS INT) AS longest_streak,
           CAST(count(*) AS INT) AS n_streaks
         FROM g GROUP BY user_id ORDER BY user_id""",
    // Same prefix-sum/running-min identity; all-integer arithmetic, so
    // the replay is exact (n_days·cnt − total, never a double mean).
    "q_events_cusum" ->
      """WITH daily AS (
           SELECT event_type, date_trunc('day', ts) AS day,
             count(*) AS cnt
           FROM events GROUP BY 1, 2),
         s AS (
           SELECT event_type, day, cnt,
             count(*) OVER (PARTITION BY event_type) AS nd,
             sum(cnt) OVER (PARTITION BY event_type) AS tot
           FROM daily),
         p AS (
           SELECT event_type, day, cnt,
             sum(nd * cnt - tot) OVER (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
           FROM s)
         SELECT event_type, day, cnt,
           CAST(p - least(0, min(p) OVER (PARTITION BY event_type
             ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             AS BIGINT) AS cusum
         FROM p ORDER BY event_type, day""",
    // Same life-table derivation; ln quantizes to micro-nats BEFORE the
    // windowed sum on both engines (the accepted 1-ulp ln class).
    "q_events_survival" ->
      s"""WITH per AS (
           SELECT user_id, CAST(min(ts) AS DATE) AS fd
           FROM events GROUP BY user_id),
         pur AS (
           SELECT user_id, CAST(min(ts) AS DATE) AS pd
           FROM events WHERE event_type = 'purchase' GROUP BY user_id),
         hz AS (SELECT CAST(min(ts) AS DATE)
                  + ${SurvivalObsDays - 1} AS h_day FROM events),
         usr AS (SELECT
             CASE WHEN pd IS NOT NULL AND pd <= h_day
                  THEN CAST(datediff('day', fd, pd) AS INT)
                  ELSE CAST(datediff('day', fd, h_day) AS INT)
             END AS t_days,
             CASE WHEN pd IS NOT NULL AND pd <= h_day THEN 1 ELSE 0
             END AS conv
           FROM per LEFT JOIN pur USING (user_id), hz
           WHERE fd <= h_day),
         life AS (SELECT t_days, count(*) AS n_end,
             CAST(sum(conv) AS BIGINT) AS d_events
           FROM usr GROUP BY t_days),
         w AS (SELECT t_days, d_events,
             CAST(sum(n_end) OVER (ORDER BY t_days
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS BIGINT) AS n_risk
           FROM life),
         t AS (SELECT t_days, n_risk, d_events,
             sum(CASE WHEN d_events < n_risk
                 THEN CAST(floor(-ln(CAST(n_risk - d_events AS DOUBLE)
                        / n_risk) * 1000000 + 0.5) AS BIGINT)
                 ELSE 0 END)
               OVER (ORDER BY t_days
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM w)
         SELECT t_days, n_risk, d_events,
           CASE WHEN d_events = n_risk THEN NULL
                ELSE CAST(cum AS BIGINT) END AS km_nll_micro
         FROM t WHERE d_events > 0 ORDER BY t_days""",
    // Same spine + carry windows; `//` ≡ Spark `div` (truncating) on the
    // possibly-negative interpolation numerator.
    "q_timeseries_interpolate" ->
      """WITH obs AS (
           SELECT user_id, date_trunc('hour', ts) AS h,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS v
           FROM events GROUP BY 1, 2),
         spine AS (
           SELECT user_id, unnest(generate_series(min(h), max(h),
             INTERVAL 1 HOUR)) AS h
           FROM obs GROUP BY user_id),
         ser AS (
           SELECT s.user_id, epoch_us(s.h) AS hour_us,
             epoch_us(s.h) // 3600000000 AS hi, o.v
           FROM spine s LEFT JOIN obs o
             ON s.user_id = o.user_id AND s.h = o.h),
         w AS (
           SELECT user_id, hour_us, hi, v,
             last_value(v IGNORE NULLS) OVER cb AS pv,
             last_value(CASE WHEN v IS NOT NULL THEN hi END IGNORE NULLS)
               OVER cb AS ph,
             first_value(v IGNORE NULLS) OVER cf AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN hi END IGNORE NULLS)
               OVER cf AS nh
           FROM ser
           WINDOW cb AS (PARTITION BY user_id ORDER BY hi
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             cf AS (PARTITION BY user_id ORDER BY hi
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         SELECT user_id, hour_us,
           CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END AS is_observed,
           CAST(coalesce(v, pv + (nv - pv) * (hi - ph) // (nh - ph))
             AS BIGINT) AS value_cents
         FROM w ORDER BY user_id, hour_us""",
    // Same grid; DuckDB's dayofweek is 0-based Sunday, Spark's is
    // 1-based — shifted here so both engines emit identical cells.
    "q_events_seasonality" ->
      """WITH cells AS (
           SELECT event_type, CAST(dayofweek(ts) + 1 AS INT) AS dow,
             CAST(hour(ts) AS INT) AS hod, count(*) AS c
           FROM events GROUP BY 1, 2, 3),
         tots AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS t,
             count(*) AS n_cells
           FROM cells GROUP BY 1),
         obsp AS (
           SELECT c.event_type,
             CAST(sum(CAST(floor(
               CAST(168 * c.c - t.t AS DOUBLE)
                 * CAST(168 * c.c - t.t AS DOUBLE)
                 / (168 * CAST(t.t AS DOUBLE)) * 1000000 + 0.5) AS BIGINT))
               AS BIGINT) AS obs_micro
           FROM cells c JOIN tots t USING (event_type) GROUP BY 1),
         peak AS (
           SELECT event_type, dow AS peak_dow, hod AS peak_hod,
             c AS peak_n
           FROM (SELECT cells.*, row_number() OVER (PARTITION BY event_type
                   ORDER BY c DESC, dow ASC, hod ASC) AS rn FROM cells) z
           WHERE rn = 1)
         SELECT t.event_type, t.t AS n_events, t.n_cells,
           CAST(o.obs_micro + (168 - t.n_cells) *
             CAST(floor(CAST(t.t AS DOUBLE) / 168 * 1000000 + 0.5)
               AS BIGINT) AS BIGINT) AS chi2_micro,
           p.peak_dow, p.peak_hod, p.peak_n
         FROM tots t JOIN obsp o USING (event_type)
              JOIN peak p USING (event_type)
         ORDER BY t.event_type""",
    // Same fraction-cleared exact-integer num/den (HUGEINT here matches
    // Spark's decimal(38,0) exactly); one double divide at the end.
    "q_timeseries_acf" ->
      s"""WITH daily AS (
           SELECT event_type,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
             count(*) AS x
           FROM events GROUP BY 1, 2),
         tot AS (SELECT event_type, count(*) AS n, sum(x) AS sx,
                   sum(x * x) AS sxx
                 FROM daily GROUP BY 1),
         lags AS (SELECT unnest(range(1, ${AcfMaxLag + 1})) AS lag_d),
         pl AS (SELECT h.event_type, l.lag_d, count(*) AS m,
             sum(h.x * t.x) AS sxy, sum(h.x) AS sh, sum(t.x) AS st
           FROM daily h CROSS JOIN lags l
           JOIN daily t ON t.event_type = h.event_type
            AND t.day = h.day + l.lag_d
           GROUP BY 1, 2)
         SELECT p.event_type, p.lag_d, t.n AS n_days, p.m AS n_pairs,
           CASE WHEN CAST(t.n * t.n * t.sxx - t.n * t.sx * t.sx AS DOUBLE)
                  > 0 THEN
             CAST(floor(CAST(t.n * t.n * p.sxy
                 - t.n * t.sx * (p.sh + p.st)
                 + p.m * t.sx * t.sx AS DOUBLE)
               / CAST(t.n * t.n * t.sxx - t.n * t.sx * t.sx AS DOUBLE)
               * 1000000 + 0.5) AS BIGINT) END AS r_micro
         FROM pl p JOIN tot t USING (event_type)
         ORDER BY p.event_type, p.lag_d""",
    // Same (ts, event_id) ordering, same bounded-rank cut; '>' sorts
    // below [a-z0-9] so the path-string sort equals the tuple sort.
    "q_events_paths" ->
      s"""WITH t AS (
           SELECT event_type,
             lead(event_type, 1) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
             lead(event_type, 2) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS e3
           FROM events),
         tri AS (SELECT event_type AS s1, e2, e3, count(*) AS n
                 FROM t WHERE e3 IS NOT NULL GROUP BY 1, 2, 3),
         tot AS (SELECT CAST(sum(n) AS BIGINT) AS tt FROM tri),
         top AS (SELECT s1, e2, e3, n FROM (
             SELECT tri.*, row_number() OVER
               (ORDER BY n DESC, s1 ASC, e2 ASC, e3 ASC) AS rn FROM tri) z
           WHERE rn <= $PathTopK)
         SELECT s1 || '>' || e2 || '>' || e3 AS path, n,
           n * 1000000 // tt AS share_ppm
         FROM top, tot ORDER BY n DESC, path"""
  )
}
