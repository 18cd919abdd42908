package graft

import org.apache.spark.sql.functions._

/** Hand-computed fixtures for the round-15 additions (equi-width
  * histogram, Benford screen, LATERAL top-N, Kaplan-Meier survival,
  * Heaps-law curve, burstiness, k-anonymity, kNN label audit) — the
  * invariants the DuckDB hash oracles can't state directly: exact
  * integer traces, censoring semantics, tie-break order, the
  * mislabeled-vector flag.
  */
class Round15QueriesSpec extends SparkSpec {

  private def writeOrders(dir: String, prices: Seq[Double]): Unit = {
    import spark.implicits._
    prices.zipWithIndex
      .map { case (p, i) => (i.toLong, 1L, p) }
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
  }

  test("q_agg_histogram: bucket edges, overflow clamp, exact cent sums") {
    val dir = tmpDir("r15hist")
    // bucket 0: 100.00 + 49999.99; bucket 1: exactly-on-edge 50000.00;
    // bucket 2: 125000.00; clamp bucket 11 (open-ended): 700000.00
    writeOrders(dir, Seq(100.0, 49999.99, 50000.0, 125000.0, 700000.0))
    val out = SparkEntry.queries("q_agg_histogram")(spark, dir).collect()
      .map(r => (r.getLong(0), (Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        r.getLong(3), r.getLong(4))))
    assert(out.toSeq == Seq(
      0L -> ((Some(0L), Some(50000L), 2L, 10000L + 4999999L)),
      1L -> ((Some(50000L), Some(100000L), 1L, 5000000L)),
      2L -> ((Some(100000L), Some(150000L), 1L, 12500000L)),
      11L -> ((Some(550000L), None, 1L, 70000000L))))
  }

  test("q_quality_benford: sub-1 rows excluded, exact integer shares + chi2") {
    val dir = tmpDir("r15benford")
    // digits: 1 (from 1.00), 1 (19.99), 2 (250.00), 2 (2500.00),
    // 9 (900.12); 0.50 is excluded by the >= 1 guard
    writeOrders(dir, Seq(1.0, 19.99, 250.0, 2500.0, 900.12, 0.5))
    val out = SparkEntry.queries("q_quality_benford")(spark, dir).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    val exp = graft.queries.Relational.BenfordExpPpm.toMap
    def chi(obs: Long, d: Int) = { val dv = obs - exp(d); dv * dv / exp(d) }
    assert(out == Map(
      1 -> ((2L, 400000L, exp(1), chi(400000L, 1))),
      2 -> ((2L, 400000L, exp(2), chi(400000L, 2))),
      9 -> ((1L, 200000L, exp(9), chi(200000L, 9)))))
    // the Benford table itself: first digit 1 carries ~30.1% mass
    assert(exp(1) == 301030L && exp(9) == 45757L)
  }

  test("q_sql_lateral matches an independent window-function derivation") {
    val dir = "/root/testdata/sf0.001"
    val lateral = SparkEntry.queries("q_sql_lateral")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val c = graft.queries.tbl(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val o = graft.queries.tbl(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        floor(col("o_totalprice") * 100d + 0.5d).cast("long").as("price_cents"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey")
      .orderBy(col("price_cents").desc, col("o_orderkey").asc)
    val expected = c.join(o, col("c_custkey") === col("o_custkey"))
      .withColumn("rn", row_number().over(w)).where(col("rn") <= 2)
      .orderBy(col("c_custkey"), col("price_cents").desc, col("o_orderkey"))
      .select("c_custkey", "o_orderkey", "price_cents").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(lateral.nonEmpty && lateral.toSeq == expected.toSeq)
  }

  private def writeEvents(dir: String,
                          rows: Seq[(Long, String, String)]): Unit = {
    import spark.implicits._
    // (user_id, day "2024-01-dd", event_type)
    rows.zipWithIndex.map { case ((u, day, et), i) =>
      (i.toLong, java.sql.Timestamp.valueOf(s"$day 12:00:00"), u, et, 0.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  test("q_events_survival: life table with conversions, censoring, exact micro-nats") {
    val dir = tmpDir("r15surv")
    // horizon = day01 + 6 = day07 (SurvivalObsDays = 7).
    // u1: first day01, purchase day01   -> event t=0
    // u2: first day01, purchase day03   -> event t=2
    // u5: first day01, purchase day03   -> event t=2
    // u3: first day01, purchase day10 (past horizon) -> censored t=6
    // u4: first day02, no purchase      -> censored t=5
    writeEvents(dir, Seq(
      (1L, "2024-01-01", "view"), (1L, "2024-01-01", "purchase"),
      (2L, "2024-01-01", "view"), (2L, "2024-01-03", "purchase"),
      (5L, "2024-01-01", "click"), (5L, "2024-01-03", "purchase"),
      (3L, "2024-01-01", "view"), (3L, "2024-01-10", "purchase"),
      (4L, "2024-01-02", "view"), (4L, "2024-01-05", "click")))
    val out = SparkEntry.queries("q_events_survival")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long])))
    def q(n: Long, d: Long): Long =
      math.floor(-math.log((n - d).toDouble / n) * 1e6 + 0.5).toLong
    // t=0: n=5 d=1; t=2: n=4 d=2; censor rows (d=0) not emitted
    assert(out.toSeq == Seq(
      (0, 5L, 1L, Some(q(5, 1))),
      (2, 4L, 2L, Some(q(5, 1) + q(4, 2)))))
    assert(q(5, 1) == 223144L && q(4, 2) == 693147L)
  }

  test("q_events_survival: S(t)=0 terminal row (all remaining convert) emits NULL") {
    val dir = tmpDir("r15surv0")
    writeEvents(dir, Seq(
      (1L, "2024-01-01", "purchase"),
      (2L, "2024-01-01", "view"), (2L, "2024-01-04", "purchase"),
      (3L, "2024-01-01", "view"), (3L, "2024-01-04", "purchase")))
    val out = SparkEntry.queries("q_events_survival")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long])))
    def q(n: Long, d: Long): Long =
      math.floor(-math.log((n - d).toDouble / n) * 1e6 + 0.5).toLong
    assert(out.toSeq == Seq(
      (0, 3L, 1L, Some(q(3, 1))),
      (3, 2L, 2L, None)))
  }

  private def writeDocs(dir: String, texts: Seq[String]): Unit = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  test("q_text_heaps_law: cumulative vocabulary counts first occurrences only") {
    val dir = tmpDir("r15heaps")
    // first occurrences: a->doc0, b->doc0, c->doc1, d->doc2;
    // 4 docs, 20 buckets -> doc i lands in bucket i*5
    writeDocs(dir, Seq("a b a", "b c", "c d a", "d"))
    val out = SparkEntry.queries("q_text_heaps_law")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (0L, 1L, 3L, 2L), (5L, 2L, 5L, 3L),
      (10L, 3L, 8L, 4L), (15L, 4L, 9L, 4L)))
  }

  test("q_text_burstiness: VMR separates concentrated from spread terms exactly") {
    val dir = tmpDir("r15burst")
    // over N=4 docs: x appears 4x in ONE doc (VMR = 16/4 - 4/4 = 3);
    // y 2x in each of two docs (8/4 - 1 = 1); z once in all four (0).
    // All tot=4 -> tie broken by term asc.
    writeDocs(dir, Seq("x x x x z", "y y z", "y y z", "z"))
    val out = SparkEntry.queries("q_text_burstiness")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      ("x", 1L, 4L, 3000000L),
      ("y", 2L, 4L, 1000000L),
      ("z", 4L, 4L, 0L)))
  }

  test("q_pii_kanonymity: risky classes under k=5, boundary class safe, negative band floors") {
    import spark.implicits._
    val dir = tmpDir("r15kanon")
    // nation 1: (A, band 0) x6 safe; (B, band 0) x2 risky;
    //           (A, band -1: acctbal -500 floors to -1) x1 risky
    // nation 2: one class of exactly 5 -> NOT risky (strict <)
    val rows =
      (1 to 6).map(i => (i.toLong, 1, "A", 100.0)) ++
      Seq((7L, 1, "B", 200.0), (8L, 1, "B", 300.0), (9L, 1, "A", -500.0)) ++
      (10 to 14).map(i => (i.toLong, 2, "C", 900.0))
    rows.toDF("c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val out = SparkEntry.queries("q_pii_kanonymity")(spark, dir).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(out == Map(
      1 -> ((3L, 9L, 2L, 3L, 1L)),
      2 -> ((1L, 5L, 0L, 0L, 5L))))
  }

  private def writeEmb(dir: String,
                       rows: Seq[(Long, Seq[Float], Int)]): Unit = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  test("q_embed_knn_eval: majority vote flags the mislabeled vector, self excluded") {
    val dir = tmpDir("r15knn")
    // two clean clusters of 4 + one A-cluster vector mislabeled 1.
    // Every probe's 5-NN: for cluster members -> 3 own + vM/1 cross ->
    // majority = own label (correct); for vM -> 4 A + 1 B -> pred 0,
    // flagged incorrect with a 4-vote majority.
    writeEmb(dir, Seq(
      (0L, Seq(1.0f, 0.0f), 0), (1L, Seq(0.95f, 0.05f), 0),
      (2L, Seq(0.9f, 0.1f), 0), (3L, Seq(0.85f, 0.15f), 0),
      (4L, Seq(0.0f, 1.0f), 1), (5L, Seq(0.05f, 0.95f), 1),
      (6L, Seq(0.1f, 0.9f), 1), (7L, Seq(0.15f, 0.85f), 1),
      (8L, Seq(0.98f, 0.02f), 1))) // vM: geometrically A, labeled B
    val out = SparkEntry.queries("q_embed_knn_eval")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getLong(3),
        r.getInt(4)))).toMap
    assert(out.keySet == (0L to 8L).toSet, "panel = all 9 (< KnnProbeN)")
    for (i <- 0L to 3L)
      assert(out(i) == ((0, 0, 3L, 1)), s"clean A member $i: 3-vote correct")
    for (i <- 4L to 7L)
      assert(out(i) == ((1, 1, 3L, 1)), s"clean B member $i: 3-vote correct")
    assert(out(8L) == ((1, 0, 4L, 0)), "mislabel flagged: 4 A votes, wrong")
  }

  test("q_sample_coreset: farthest-point traversal, exact distances, vec_id ties") {
    val dir = tmpDir("r15coreset")
    // 1-D layout on the first axis (second axis 0): ids 0..4 at
    // positions 0, 1, 10, 100, 101 (milli-quantized: x1000).
    // seed = id 0 (smallest id). Farthest from {0} = id 4 (at 101).
    // Min-dists then: id1 -> 1 (to seed), id2 -> 10 (to seed, nearer
    // than 91 to id4), id3 -> 1 (to id4) => pick id2 at d2 = 10².
    // Then id1 and id3 tie at d2 = 1 -> smaller vec_id (id1) first,
    // id3 last.
    writeEmb(dir, Seq(
      (0L, Seq(0.0f, 0.0f), 0), (1L, Seq(1.0f, 0.0f), 0),
      (2L, Seq(10.0f, 0.0f), 0), (3L, Seq(100.0f, 0.0f), 1),
      (4L, Seq(101.0f, 0.0f), 1)))
    val out = SparkEntry.queries("q_sample_coreset")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(3)))
    val M = 1000000L // milli² scale: (1.0f -> 1000)²
    assert(out.toSeq == Seq(
      (0, 0L, 0L),
      (1, 4L, 101L * 101L * M),
      (2, 2L, 10L * 10L * M),
      (3, 1L, 1L * M),
      (4, 3L, 1L * M)))
  }

  test("q_timeseries_interpolate: interior gaps fill linearly, exact integer division") {
    val dir = tmpDir("r15interp")
    // one user, observations at hours 0 and 3: 100.00 and 400.00 ->
    // gap hours 1,2 interpolate to 200.00, 300.00. Second gap with
    // truncating division: hours 3..5, 400.00 -> 399.99 at h5:
    // delta=-1 cent over 2h -> h4 = 40000 + (-1*1 div 2) = 40000.
    writeEvents2(dir, Seq(
      (7L, "2024-01-01 00:10:00", 100.0), (7L, "2024-01-01 03:20:00", 400.0),
      (7L, "2024-01-01 05:30:00", 399.99)))
    val raw = SparkEntry.queries("q_timeseries_interpolate")(spark, dir)
      .collect().map(r => (r.getLong(1), r.getInt(2), r.getLong(3)))
    val base = raw.map(_._1).min
    val out = raw.map(t => ((t._1 - base) / 3600000000L, t._2, t._3))
    assert(out.toSeq == Seq(
      (0L, 1, 10000L), (1L, 0, 20000L), (2L, 0, 30000L),
      (3L, 1, 40000L), (4L, 0, 40000L), (5L, 1, 39999L)))
  }

  private def writeEvents2(dir: String,
                           rows: Seq[(Long, String, Double)]): Unit = {
    import spark.implicits._
    rows.zipWithIndex.map { case ((u, ts, v), i) =>
      (i.toLong, java.sql.Timestamp.valueOf(ts), u, "view", v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  test("q_events_seasonality: chi2 counts absent cells without materializing them") {
    val dir = tmpDir("r15season")
    // type a: 4 events all in ONE cell (2024-01-01 is a Monday, dow=2,
    // hour 5). t=4, n_cells=1. Observed cell: (168·4−4)²/(168·4) =
    // 668²/672 = 664.0238095... -> 664023810 micro (floor(...*1e6+.5));
    // absent cells: 167 · floor(4/168·1e6+.5) = 167 · 23810.
    writeEvents2(dir, (1 to 4).map(i => (i.toLong, "2024-01-01 05:15:00", 1.0)))
    val out = SparkEntry.queries("q_events_seasonality")(spark, dir).collect()
    assert(out.length == 1)
    val r = out(0)
    val cell = math.floor(668.0 * 668.0 / (168.0 * 4.0) * 1e6 + 0.5).toLong
    val absent = math.floor(4.0 / 168.0 * 1e6 + 0.5).toLong
    assert((r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getInt(4), r.getInt(5), r.getLong(6)) ==
      (("view", 4L, 1L, cell + 167L * absent, 2, 5, 4L)))
  }

  test("q_agg_mode: deterministic tiebreak on equal counts") {
    import spark.implicits._
    val dir = tmpDir("r15mode")
    // status F: LOW x3, HIGH x3 (tie -> HIGH < LOW lexically), MED x1
    val rows = Seq.fill(3)(("F", "LOW")) ++ Seq.fill(3)(("F", "HIGH")) ++
      Seq(("F", "MED")) ++ Seq.fill(2)(("O", "MED"))
    rows.zipWithIndex.map { case ((st, pr), i) => (i.toLong, st, pr) }
      .toDF("o_orderkey", "o_orderstatus", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = SparkEntry.queries("q_agg_mode")(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(out == Map(
      "F" -> (("HIGH", 3L, 7L, 3L * 1000000L / 7L)),
      "O" -> (("MED", 2L, 2L, 1000000L))))
  }

  test("q_quality_referential: orphans counted, parent coverage exact") {
    import spark.implicits._
    val dir = tmpDir("r15ref")
    // customers 1..4; orders reference 1,1,2,9(orphan),8(orphan);
    // lineitems reference orders 10,10,11,99(orphan)
    (1 to 4).map(i => (i.toLong, "x")).toDF("c_custkey", "c_name")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    Seq((10L, 1L, 5.0), (11L, 1L, 5.0), (12L, 2L, 5.0), (13L, 9L, 5.0),
        (14L, 8L, 5.0))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((10L, 1), (10L, 2), (11L, 1), (99L, 1))
      .toDF("l_orderkey", "l_linenumber")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = SparkEntry.queries("q_quality_referential")(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(out == Map(
      // 5 orders, 2 orphans (400000 ppm); parents hit 1,2 of 4 (500000)
      "orders->customer" -> ((5L, 2L, 400000L, 2L, 4L, 500000L)),
      // 4 items, 1 orphan (250000 ppm); orders hit 10,11 of 5 (400000)
      "lineitem->orders" -> ((4L, 1L, 250000L, 2L, 5L, 400000L))))
  }

  test("q_window_pareto: the exactly-80% boundary excludes the next row") {
    import spark.implicits._
    val dir = tmpDir("r15pareto")
    // nation 1: revenues 50, 30, 15, 5 (cents x100) -> cum-before
    // 0/50/80/95 of tot=100: rows with cum_before*5 < 400 are the first
    // TWO (0, 50) — the 80-cum row starts AT the line and is excluded.
    // nation 2: single customer -> n_top80 = 1.
    Seq((1L, 1), (2L, 1), (3L, 1), (4L, 1), (5L, 2))
      .toDF("c_custkey", "c_nationkey")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    Seq((10L, 1L, 0.50), (11L, 2L, 0.30), (12L, 3L, 0.15), (13L, 4L, 0.05),
        (14L, 5L, 7.00))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = SparkEntry.queries("q_window_pareto")(spark, dir).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    assert(out == Map(
      1 -> ((4L, 100L, 2L, 500000L)),
      2 -> ((1L, 700L, 1L, 1000000L))))
  }

  test("q_text_rake: phrase segmentation at stopwords, exact degree/freq scores") {
    val dir = tmpDir("r15rake")
    // doc0: phrases "deep learning model" + "deep learning"
    //   freq: deep 2, learning 2, model 1
    //   degree: deep 3+2=5, learning 5, model 3
    //   scores (micro): deep/learning 2.5e6, model 3e6
    //   -> "deep learning model" = 8e6; "deep learning" = 5e6
    // doc1: leading/consecutive stopwords collapse to one phrase "graph"
    // doc2: a punctuation-bearing token ("scan.") BREAKS the phrase and
    //   never enters the vocabulary (Rose et al. break candidates at
    //   punctuation too): phrases = "fast" (ph0) and "fast scan" (ph1).
    //   fast: freq 2, degree 1+2=3 -> 1.5e6; scan: freq 1, degree 2 -> 2e6
    //   -> "fast scan" = 3.5e6, "fast" = 1.5e6
    writeDocs(dir, Seq(
      "deep learning model the deep learning",
      "the a graph",
      "fast scan. fast scan"))
    val out = SparkEntry.queries("q_text_rake")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      ("deep learning model", 3L, 8000000L, 1L),
      ("deep learning", 2L, 5000000L, 1L),
      ("fast scan", 2L, 3500000L, 1L),
      ("fast", 1L, 1500000L, 1L),
      ("graph", 1L, 1000000L, 1L)))
  }

  test("q_sim_mmr: diversity flips the relevance-order tie; exact integer chain") {
    val dir = tmpDir("r15mmr")
    // Query = vec 0 = (1, 0). All vectors have EXACT norm 1000 after
    // milli-quantization, so every cosine is integer-exact (dot/1e6):
    //   id1 (0.96, 0.28): rel 960000 — picked first.
    //   id2 (0.8, 0.6):  rel 800000, sim to id1 = 936000
    //   id3 (0.8, -0.6): rel 800000, sim to id1 = 600000
    // Pure relevance (vec_id tiebreak) would pick id2 second; MMR picks
    // id3: 7·800000 - 3·600000 = 3800000 > 7·800000 - 3·936000.
    writeEmb(dir, Seq(
      (0L, Seq(1.0f, 0.0f), 0), (1L, Seq(0.96f, 0.28f), 0),
      (2L, Seq(0.8f, 0.6f), 0), (3L, Seq(0.8f, -0.6f), 0)))
    val out = SparkEntry.queries("q_sim_mmr")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(out.toSeq == Seq(
      (0, 1L, 960000L, 0L, 6720000L),
      (1, 3L, 800000L, 600000L, 3800000L),
      (2, 2L, 800000L, 936000L, 2792000L)))
  }

  test("q_text_langid_eval confusion matrix re-derives from q_text_lang_id's per-doc output") {
    val dir = "/root/testdata/sf0.001"
    val perDoc = SparkEntry.queries("q_text_lang_id")(spark, dir).collect()
      .map(r => (r.getString(1), r.getString(2)))
    val n = perDoc.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val rowTot = perDoc.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val expected = n.map { case ((lang, pred), c) =>
      (lang, pred) -> ((c, c * 1000000L / rowTot(lang),
        if (lang == pred) 1 else 0))
    }
    val got = SparkEntry.queries("q_text_langid_eval")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getInt(4)))).toMap
    assert(got == expected)
  }

  test("q_embed_knn_eval: vote tie resolves to the smaller label") {
    val dir = tmpDir("r15knntie")
    // probe 0 has exactly 4 neighbors (k=5 heap under-full): two label 2,
    // two label 7, symmetric geometry -> 2-2 tie -> pred = 2
    writeEmb(dir, Seq(
      (0L, Seq(1.0f, 1.0f), 2),
      (1L, Seq(1.0f, 0.0f), 2), (2L, Seq(0.0f, 1.0f), 2),
      (3L, Seq(2.0f, 1.0f), 7), (4L, Seq(1.0f, 2.0f), 7)))
    val out = SparkEntry.queries("q_embed_knn_eval")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getInt(2), r.getInt(4)))).toMap
    assert(out(0L) == ((2, 1)), "tie -> smaller label, here also correct")
  }
}
