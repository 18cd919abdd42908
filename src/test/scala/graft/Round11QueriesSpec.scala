package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Invariants for the round-11 additions that complement the DuckDB
  * oracles: the streak fold agrees with the independent window
  * formulation IN SPARK too (three derivations total), paragraph dedup
  * conserves token mass, and the bigram LM matches a hand-computed
  * fixture.
  */
class Round11QueriesSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("q_events_streak: array fold agrees with the window islands formulation") {
    val byFold = SparkEntry.queries("q_events_streak")(spark, sfDir).collect()
      .map(r => (r.getLong(0), (r.getInt(1), r.getInt(2), r.getInt(3)))).toMap
    val d = graft.queries.tbl(spark, sfDir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    val byWindow = d
      .withColumn("grp", unix_date(col("day")) - dense_rank().over(w))
      .groupBy("user_id", "grp").agg(count(lit(1)).as("len"))
      .groupBy("user_id")
      .agg(sum("len").as("n_active_days"), max("len").as("longest"),
        count(lit(1)).as("n_streaks"))
      .collect()
      .map(r => (r.getLong(0),
        (r.getLong(1).toInt, r.getLong(2).toInt, r.getLong(3).toInt))).toMap
    assert(byFold.nonEmpty && byFold == byWindow)
  }

  test("q_dedup_paragraph conserves blocks and finds planted cross-doc boilerplate") {
    import spark.implicits._
    val boiler = (1 to 16).map(i => s"nav$i").mkString(" ") // one full block
    val docs = Seq(
      (10L, boiler + " " + (1 to 20).map(i => s"a$i").mkString(" ")),
      (20L, boiler + " " + (1 to 20).map(i => s"b$i").mkString(" ")),
      (30L, (1 to 35).map(i => s"c$i").mkString(" ")))
      .toDF("doc_id", "text")
    docs.createOrReplaceTempView("documents_stub")
    val dir = tmpDir("pdedup")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q_dedup_paragraph")(spark, dir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 10: blocks = ceil(36/16) = 3, none dropped (first occurrence)
    assert(out(10L) == ((3L, 0L, 36L)), s"doc10: ${out(10L)}")
    // doc 20 shares ONLY the boilerplate block with doc 10 -> 1 dropped,
    // token mass keeps 36 - 16
    assert(out(20L) == ((3L, 1L, 20L)), s"doc20: ${out(20L)}")
    // doc 30: no overlap, 35 tokens in 3 blocks
    assert(out(30L) == ((3L, 0L, 35L)), s"doc30: ${out(30L)}")
  }

  test("q_dedup_paragraph token-mass conservation on the corpus") {
    val out = SparkEntry.queries("q_dedup_paragraph")(spark, sfDir)
    val agg = out.agg(sum("n_blocks"), sum("n_dup_blocks"), sum("kept_tokens"))
      .collect().head
    val totalBlocks = agg.getLong(0)
    val dupBlocks = agg.getLong(1)
    assert(totalBlocks > 0 && dupBlocks >= 0 && dupBlocks < totalBlocks)
    // kept tokens can never exceed the corpus token mass, and must cover
    // it exactly when nothing was dropped per doc
    val tokMass = graft.queries.tbl(spark, sfDir, "documents")
      .agg(sum(size(split(col("text"), " ")))).collect().head.getLong(0)
    assert(agg.getLong(2) <= tokMass)
  }

  test("linkPredict scores a planted 4-cycle exactly") {
    import spark.implicits._
    // C4: 1-2-3-4-1. Non-adjacent pairs (1,3) and (2,4) share BOTH
    // neighbors: cn=2, deg=2 each -> jaccard = 2/(2+2-2) = 1.0
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("src", "dst")
    val out = graft.ops.Triangles.linkPredict(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(out == Map((1L, 3L) -> ((2L, 1000000L)), (2L, 4L) -> ((2L, 1000000L))))
  }

  test("q_events_twa matches a hand-computed fixture") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(s: Int) = new java.sql.Timestamp(t0.getTime + s * 1000L)
    // one user: 1.00 held 10s, 2.00 held 20s, 3.00 unterminated
    // -> twa = (100*10 + 200*20) div 30 = 166 cents
    val dir = tmpDir("twa")
    Seq((1L, ts(0), 7L, "view", 1.0, "{}"),
        (2L, ts(10), 7L, "view", 2.0, "{}"),
        (3L, ts(30), 7L, "view", 3.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q_events_twa")(spark, dir).collect()
    assert(out.length == 1)
    val r = out.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((7L, 3L, 30L, 166L)), r.toString)
  }

  test("Lpa.propagate splits two bridged cliques into their own communities") {
    import spark.implicits._
    // K4 on {1..4} + K4 on {10..13} + bridge (4,10): 3 synchronous
    // min-tie-break rounds converge each clique onto its smallest id
    // (hand-traced: round 1 seeds 1 and 4/10-vs-10, rounds 2-3 flood).
    val cliqueA = for (a <- 1L to 4L; b <- 1L to 4L if a != b) yield (a, b)
    val cliqueB = for (a <- 10L to 13L; b <- 10L to 13L if a != b) yield (a, b)
    val edges = (cliqueA ++ cliqueB ++ Seq((4L, 10L), (10L, 4L)))
      .toDF("src", "dst")
    val out = graft.ops.Lpa.propagate(edges, rounds = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L), out.toString)
  }

  test("q_events_markov matches a hand-computed transition matrix") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(h: Int) = new java.sql.Timestamp(t0.getTime + h * 3600000L)
    // one user: view,click,view,click,purchase ->
    // view->click x2 (p=1.0), click->view x1, click->purchase x1 (p=0.5)
    val dir = tmpDir("markov")
    Seq((1L, ts(0), 7L, "view", 0.0, "{}"),
        (2L, ts(1), 7L, "click", 0.0, "{}"),
        (3L, ts(2), 7L, "view", 0.0, "{}"),
        (4L, ts(3), 7L, "click", 0.0, "{}"),
        (5L, ts(4), 7L, "purchase", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q_events_markov")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(out == Map(
      ("view", "click") -> ((2L, 1000000L)),
      ("click", "view") -> ((1L, 500000L)),
      ("click", "purchase") -> ((1L, 500000L))), out.toString)
  }

  test("q_events_trend: exact signed slopes, degenerate users filtered") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    // user 6 pins the TRUNCATION DIRECTION on a negative numerator with a
    //   nonzero remainder (the DuckDB `//` parity case user 7 cannot
    //   exercise — its division is exact): hours 0,1,3 at 3.00/2.00/1.00
    //   -> num = 3*500-4*600 = -900, den = 3*10-16 = 14,
    //   -900000 div 14 = -64285 toward zero (a floor-division engine
    //   would produce -64286 and fail here)
    // user 7 falls 1 cent/36s: hours 0,1,2 at 3.00/2.00/1.00 ->
    //   num = 3*400-3*600 = -600, den = 3*5-9 = 6, slope = -100000
    // user 8 rises: hours 0,2 at 1.00/2.00 -> num 200, den 4, slope 50000
    // user 9: both events inside one hour -> den = 0, row filtered
    val dir = tmpDir("trend")
    Seq((1L, ts(0), 7L, "view", 3.0, "{}"),
        (2L, ts(60), 7L, "view", 2.0, "{}"),
        (3L, ts(120), 7L, "view", 1.0, "{}"),
        (4L, ts(0), 8L, "view", 1.0, "{}"),
        (5L, ts(120), 8L, "view", 2.0, "{}"),
        (6L, ts(0), 9L, "view", 5.0, "{}"),
        (7L, ts(30), 9L, "view", 9.0, "{}"),
        (8L, ts(0), 6L, "view", 3.0, "{}"),
        (9L, ts(60), 6L, "view", 2.0, "{}"),
        (10L, ts(180), 6L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q_events_trend")(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out == Map(
      6L -> ((3L, -900L, 14L, -64285L)),
      7L -> ((3L, -600L, 6L, -100000L)),
      8L -> ((2L, 200L, 4L, 50000L))), out.toString)
  }

  test("q_text_bigram_lm matches a hand-computed fixture (cap + backoff)") {
    import spark.implicits._
    // corpus: "a b a b" and "a b" -> pairs: (a,b)x3, (b,a)x1 ; N=4
    // c(a,b)=3, c(b,a)=1; left: a->3, b->1; right: b->3, a->1
    // Model cap = 3: (a,b) SURVIVES the capped table (interpolated path),
    // (b,a) is PRUNED and backs off to the unigram term alone — the
    // fixture exercises both scoring branches.
    val docs = Seq((1L, "a b a b"), (2L, "a b")).toDF("doc_id", "text")
    val dir = tmpDir("bigram")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q_text_bigram_lm")(spark, dir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    def qn(p: Double): Long = math.floor(-math.log(p) * 1e6 + 0.5).toLong
    val pAB = 0.75 * (3.0 / 3.0) + 0.25 * (3.0 / 4.0) // = 0.9375 (kept)
    val pBA = 0.0 + 0.25 * (1.0 / 4.0)                // = 0.0625 (backoff)
    val doc1 = math.floor((qn(pAB) * 2 + qn(pBA)).toDouble / 3 + 0.5) / 1e6
    val doc2 = math.floor(qn(pAB).toDouble / 1 + 0.5) / 1e6
    assert(out(1L) == ((3L, doc1)), s"doc1: ${out(1L)} vs $doc1")
    assert(out(2L) == ((1L, doc2)), s"doc2: ${out(2L)} vs $doc2")
  }
}
