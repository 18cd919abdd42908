package graft

/** Round-16 guard fixtures: the degenerate-input contracts added on the
  * round-15 advice (MMR zero-norm query, k-center's k-envelope) — each a
  * fail-fast `require` whose absence would let the two oracle engines
  * diverge (NaN→NULL vs cast error) or let a caller quietly go
  * quadratic.
  */
class Round16QueriesSpec extends SparkSpec {

  test("Mmr.diversifiedTopK fails fast on an all-zero query vector") {
    import spark.implicits._
    val emb = Seq(
      (0L, Seq(0L, 0L)), // the smallest vec_id becomes the query point
      (1L, Seq(1000L, 0L)), (2L, Seq(0L, 1000L)))
      .toDF("vec_id", "q")
    val ex = intercept[IllegalArgumentException] {
      graft.ops.Mmr.diversifiedTopK(emb, k = 2, shortlist = 8)
    }
    assert(ex.getMessage.contains("all-zero"))
  }

  test("q_curate_pipeline_v3 quarantines the most-drifted batch: manifest equals v2 over the day minus that batch") {
    import spark.implicits._
    // day (doc_id % 5 == 0): ids 0..95 step 5 -> 4 range batches of 5
    // docs each. Batch 3 (ids 75..95) is ALL-OOV gibberish — by far the
    // highest KL against the reference (the %5!=0 corpus, which speaks
    // the 31-word vocabulary; KlVocabTopK=24 < 31 keeps a real <oov>
    // reference mass) -> quarantined. Texts are stride-walks over the
    // shared vocabulary (day stride 5, corpus stride 3), which makes
    // every doc distinct (no exact-dedup collapse), every 16-token
    // block unseen by the corpus (bloom gate passes), and every within-
    // day Jaccard exactly 13/31 < 0.5 (no near-dup drop). 24 words of
    // 7+ chars pass the funnel; langs round-robin so the mixture emits
    // >= 1 copy for the .25/.20-weight languages deterministically.
    val vocab = (0 until 31).map(i => f"word$i%02dx")
    val langs = Seq("en", "es", "fr", "de", "zh")
    def walk(start: Int, stride: Int) =
      (0 until 24).map(j => vocab((start + stride * j) % 31)).mkString(" ")
    def gib(j: Int) = (0 until 24).map(i => s"zz${j}q$i%02dxx").mkString(" ")
    def mk(id: Long, text: String) =
      (id, text, langs((id % 5).toInt max 0), s"src${id % 7}",
        text.length.toLong)
    def mkDay(id: Long, text: String) =
      (id, text, langs(((id / 5) % 5).toInt), s"src${id % 7}",
        text.length.toLong)
    val corpus = (1L to 99L).filter(_ % 5 != 0)
      .map(i => mk(i, walk(i.toInt % 31, 3)))
    val day = (0L to 95L by 5).map { i =>
      if (i >= 75) mkDay(i, gib((i / 5).toInt))
      else mkDay(i, walk(i.toInt % 31, 5))
    }
    val dir1 = tmpDir("r16v3a"); val dir2 = tmpDir("r16v3b")
    (corpus ++ day).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir1/documents.parquet")
    // dir2: the SAME corpus slice, the day WITHOUT the drifted batch
    (corpus ++ day.filter(_._1 < 75))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir2/documents.parquet")
    val v3 = SparkEntry.queries("q_curate_pipeline_v3")(spark, dir1)
      .collect().map(_.toSeq).toSeq
    val v2 = SparkEntry.queries("q_curate_pipeline_v2")(spark, dir2)
      .collect().map(_.toSeq).toSeq
    assert(v3.nonEmpty && v3 == v2)
    // and the gate is NOT a no-op: v3 over dir1 differs from v2 over dir1
    val v2full = SparkEntry.queries("q_curate_pipeline_v2")(spark, dir1)
      .collect().map(_.toSeq).toSeq
    assert(v3 != v2full)
  }

  test("Coreset.kCenter enforces the k <= 64 lineage envelope") {
    import spark.implicits._
    val emb = Seq((0L, 0, Seq(0L, 0L)), (1L, 0, Seq(1000L, 0L)))
      .toDF("vec_id", "label", "q")
    val ex = intercept[IllegalArgumentException] {
      graft.ops.Coreset.kCenter(emb, k = 65)
    }
    assert(ex.getMessage.contains("64"))
    // the envelope boundary itself stays legal (covered corpus stops early)
    val ok = graft.ops.Coreset.kCenter(emb, k = 64).collect()
    assert(ok.length == 2)
  }

  // ---- wave 1: M4 / Cramér's V / Dunning collocations / RRF fusion ----

  private def writeEventsV(dir: String,
                           rows: Seq[(Long, String, String, Double)]): Unit = {
    import spark.implicits._
    // (event_id, ts, event_type, value) — explicit ids so equal-timestamp
    // ties are plantable
    rows.map { case (id, ts, et, v) =>
      (id, java.sql.Timestamp.valueOf(ts), 1L, et, v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  test("q_timeseries_m4: bucket edges, equal-timestamp tie broken by event_id") {
    val dir = tmpDir("r16m4")
    // span: t0 = 00:00:00, max = 00:02:07 (+127 s) -> t1 - t0 = 127e6+1 us.
    // bucket(rel_us) = rel_us*128 div (127e6+1): 0s->0, 63s->63, 127s->127.
    writeEventsV(dir, Seq(
      (0L, "2024-01-01 00:00:00", "a", 1.0),  // bucket 0, first by id tie
      (1L, "2024-01-01 00:00:00", "a", 9.0),  // same ts: last by id tie
      (2L, "2024-01-01 00:01:03", "a", 5.0),  // bucket 63
      (3L, "2024-01-01 00:02:07", "a", 2.5),  // bucket 127 (span max)
      (4L, "2024-01-01 00:00:10", "b", 7.77))) // bucket 10
    val out = SparkEntry.queries("q_timeseries_m4")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))))
    assert(out.toSeq == Seq(
      ("a", 0L, (2L, 100L, 900L, 100L, 900L)),
      ("a", 63L, (1L, 500L, 500L, 500L, 500L)),
      ("a", 127L, (1L, 250L, 250L, 250L, 250L)),
      ("b", 10L, (1L, 777L, 777L, 777L, 777L))))
  }

  test("q_quality_cramers_v: perfect association 1e6, independence 0, dof-0 NULL") {
    import spark.implicits._
    val dir = tmpDir("r16cram")
    // lineitem: ONE returnflag (r=1 -> dof 0 -> v NULL, chi2 exactly 0)
    Seq(("N", "O"), ("N", "O"), ("N", "F"))
      .toDF("l_returnflag", "l_linestatus")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    // orders: exactly proportional counts -> every dev 0 -> chi2 0, v 0
    Seq(("O", "1"), ("O", "1"), ("O", "2"), ("O", "2"), ("F", "1"), ("F", "2"))
      .toDF("o_orderstatus", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    // customer: perfect 2x2 association -> chi2 = n, v = 1.0
    Seq(("A", 1), ("A", 1), ("A", 1), ("B", 2), ("B", 2))
      .toDF("c_mktsegment", "c_nationkey")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val out = SparkEntry.queries("q_quality_cramers_v")(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5),
        Option(r.get(6)).map(_.asInstanceOf[Long])))).toMap
    assert(out("customer:segment~nation") ==
      ((5L, 2L, 2L, 2L, 5000000L, Some(1000000L))))
    assert(out("orders:status~priority") ==
      ((6L, 2L, 2L, 4L, 0L, Some(0L))))
    assert(out("lineitem:returnflag~linestatus") ==
      ((3L, 1L, 2L, 2L, 0L, None)))
  }

  test("q_text_collocations: min-pair floor, exact 9-term G2 wiring") {
    import spark.implicits._
    val dir = tmpDir("r16colloc")
    // "x y" x5 alternation: (x,y) 5 pairs (passes floor), (y,x) 4 (pruned)
    Seq((0L, ("x y " * 5).trim, "en", "src0", 19L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q_text_collocations")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // k11=5, k12=k21=0, k22=4, ra=cb=5, nn=9:
    // G2 = 2*(9ln9 - 5ln5 - 4ln4) (the zero cells and the k22/marginal
    // xlx terms cancel pairwise)
    val g2 = math.floor(2.0d * (9 * math.log(9.0) - 5 * math.log(5.0)
      - 4 * math.log(4.0)) * 1e6 + 0.5).toLong
    assert(out.toSeq == Seq(("x", "y", 5L, g2)))
    assert(g2 > 12000000L && g2 < 13000000L) // ~12.366 nats
  }

  test("q_rank_rrf: fused score re-derives from the rank columns; panel = smallest ids") {
    val sfDir = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("q_rank_rrf")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getInt(4), r.getInt(5)))
    assert(out.nonEmpty)
    val probes = out.map(_._1).distinct.sorted
    assert(probes.toSeq == Seq(0L, 1L, 2L, 3L)) // RrfProbeN smallest doc_ids
    for ((p, rows) <- out.groupBy(_._1)) {
      // ranks contiguous from 1, capped at RrfTopK
      assert(rows.map(_._2).sorted.toSeq == (1 to rows.length).toSeq
        && rows.length <= 10, s"probe $p ranks")
      // fused score == sum of the reciprocal-rank contributions
      rows.foreach { case (_, _, doc, rrf, lex, vec) =>
        assert(doc != p)
        val expectRrf = (if (lex > 0) 1000000L / (60 + lex) else 0L) +
          (if (vec > 0) 1000000L / (60 + vec) else 0L)
        assert(rrf == expectRrf, s"probe $p doc $doc")
        assert(lex >= 0 && lex <= 20 && vec >= 0 && vec <= 20)
      }
    }
    // fusion is real: some doc must be ranked by BOTH arms
    assert(out.exists(r => r._5 > 0 && r._6 > 0))
  }

  private def writeDocs(dir: String, rows: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    rows.map { case (id, text) =>
      (id, text, "en", s"src${id % 2}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  test("q_text_readability: punctuated sentences and syllable groups count exactly") {
    val dir = tmpDir("r16read")
    // one doc, one (lang, source) cell: words [the,cat,sat,a,big,dog,
    // ran] = 7, sentences 2, vowel groups e,a,a,a,i,o,a = 7
    writeDocs(dir, Seq((0L, "the cat sat. a big dog ran!")))
    val r = SparkEntry.queries("q_text_readability")(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getLong(row.fieldIndex("n_words")) == 7L)
    assert(row.getLong(row.fieldIndex("n_sents")) == 2L)
    assert(row.getLong(row.fieldIndex("n_sylls")) == 7L)
    val expect = math.floor((206.835 - 1.015 * (7.0 / 2) - 84.6 * (7.0 / 7))
      * 1e6 + 0.5).toLong
    assert(row.getLong(row.fieldIndex("fre_micro")) == expect)
  }

  test("q_quality_gopher: the symbol-ratio rule fires on symbol-bearing docs only") {
    val dir = tmpDir("r16goph")
    val clean = (1 to 30).map(i => s"w$i the the").mkString(" ") // 90 words
    val symbolic = clean + " ### $$$ %%% ####"        // 13 symbols: 130 > 90
    writeDocs(dir, Seq((0L, clean), (1L, symbolic)))
    val r = SparkEntry.queries("q_quality_gopher")(spark, dir).collect()
      .map(row => row.getString(0) ->
        row.getLong(row.fieldIndex("fail_g3"))).toMap
    assert(r("src0") == 0L, s"clean doc must pass g3: $r")
    assert(r("src1") == 1L, s"symbol doc must fail g3: $r")
  }

  test("q_agg_corr_matrix: exact ±1 on (anti)correlated columns, NULL on constant") {
    val dir = tmpDir("r16corr")
    import spark.implicits._
    // qty = i, price = 2i (r=+1), disc = 10-i (r=-1 vs qty), tax = const
    (1 to 8).map(i => (1L, 1L, 1L, i, i.toDouble, 2.0 * i,
      (10 - i) / 100.0, 0.05, "N", "O",
      java.sql.Timestamp.valueOf("1996-01-01 00:00:00")))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = SparkEntry.queries("q_agg_corr_matrix")(spark, dir).collect()
      .map(row => row.getString(1) ->
        (if (row.isNullAt(3)) None else Some(row.getLong(3)))).toMap
    assert(r("qty~price").contains(1000000L), s"perfect correlation: $r")
    assert(r("qty~disc").contains(-1000000L), s"perfect anticorrelation: $r")
    assert(r("qty~tax").isEmpty, s"constant column must yield NULL: $r")
  }

  test("q_timeseries_acf: alternating daily series scores the hand-computed lags") {
    val dir = tmpDir("r16acf")
    import spark.implicits._
    // 6 days, counts 10,20,10,20,10,20 for one type: n=6 Sx=90 Sxx=1500
    // lag1: m=5 sxy=1000 sh=70 st=80 -> r = -4500/5400 -> -833333
    // lag2: m=4 sxy=1000 sh=60 st=60 -> r =  3600/5400 ->  666667
    val rows = for {
      d <- 1 to 6
      j <- 1 to (if (d % 2 == 1) 10 else 20)
    } yield (d.toLong * 100 + j,
      java.sql.Timestamp.valueOf(f"2024-01-0$d%d 08:00:00"), 1L,
      "view", 0.0, "{}")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("q_timeseries_acf")(spark, dir).collect()
      .map(row => row.getLong(1) ->
        (if (row.isNullAt(4)) None else Some(row.getLong(4)))).toMap
    assert(r(1L).contains(-833333L), s"lag1: $r")
    assert(r(2L).contains(666667L), s"lag2: $r")
    assert(r.keySet == (1L to 5L).toSet, s"lags with >=1 pair: $r")
  }

  test("q_pii_ldiversity: homogeneous class flagged risky, diverse class passes") {
    val dir = tmpDir("r16ldiv")
    import spark.implicits._
    // nation 1: one (segment) class whose 4 orders all share ONE priority
    // -> l=1 < 3, risky; nation 2: one class with 3 distinct priorities
    Seq((1L, 1, "AUTO"), (2L, 2, "AUTO"))
      .toDF("c_custkey", "c_nationkey", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    (Seq((10L, 1L, "1-URGENT"), (11L, 1L, "1-URGENT"), (12L, 1L, "1-URGENT"),
      (13L, 1L, "1-URGENT"), (20L, 2L, "1-URGENT"), (21L, 2L, "2-HIGH"),
      (22L, 2L, "3-MEDIUM")))
      .toDF("o_orderkey", "o_custkey", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val r = SparkEntry.queries("q_pii_ldiversity")(spark, dir).collect()
      .map(row => row.getInt(0) -> (row.getLong(3), row.getLong(5))).toMap
    assert(r(1) == ((1L, 1L)), s"nation 1 homogeneous: $r") // risky, min_l=1
    assert(r(2) == ((0L, 3L)), s"nation 2 diverse: $r")     // safe,  min_l=3
  }

  test("q_stats_welch_ttest: equal means -> t=0; hand-computed Welch dof") {
    val dir = tmpDir("r16welch")
    import spark.implicits._
    // treated (disc .10): cents 100,200,300 (m=200); control (disc 0):
    // cents 100,100,300,300 (m=200) -> diff=0, t=0; a1=a2=10000/3 so
    // dof = (2a)^2 / (a^2/2 + a^2/3) = 4.8 exactly (to well under 1e-6)
    val rows =
      Seq((1.0, 0.10), (2.0, 0.10), (3.0, 0.10),
        (1.0, 0.0), (1.0, 0.0), (3.0, 0.0), (3.0, 0.0))
    rows.zipWithIndex.map { case ((price, disc), i) =>
      (i.toLong, 1L, 1L, 1, 1.0, price, disc, 0.0, "N", "O",
        java.sql.Timestamp.valueOf("1996-01-01 00:00:00"))
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = SparkEntry.queries("q_stats_welch_ttest")(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getLong(row.fieldIndex("n_treated")) == 3L)
    assert(row.getLong(row.fieldIndex("n_control")) == 4L)
    assert(row.getLong(row.fieldIndex("diff_micro")) == 0L)
    assert(row.getLong(row.fieldIndex("t_micro")) == 0L)
    assert(row.getLong(row.fieldIndex("dof_micro")) == 4800000L)
  }

  test("q_text_textrank: hub word outranks leaves; symmetric pair ties split by word") {
    val dir = tmpDir("r16trank")
    // star graph: h co-occurs with a/b/c -> h gets the centrality mass;
    // the leaves tie exactly (integer pagerank is deterministic) and
    // order alphabetically
    writeDocs(dir, Seq((0L, "h aa h bb h cc")))
    val out = SparkEntry.queries("q_text_textrank")(spark, dir).collect()
      .map(row => (row.getString(0), row.getLong(1)))
    assert(out.map(_._1).toSeq == Seq("h", "aa", "bb", "cc"), out.toSeq)
    val byW = out.toMap
    assert(byW("h") > byW("aa") && byW("aa") == byW("bb") &&
      byW("bb") == byW("cc"), out.toSeq)
  }

  private def writeLineitem(dir: String,
                            rows: Seq[(String, Double, Double)]): Unit = {
    import spark.implicits._
    // (returnflag, quantity, extendedprice)
    rows.zipWithIndex.map { case ((rf, q, price), i) =>
      (i.toLong, 1L, 1L, 1, q, price, 0.0, 0.0, rf, "O",
        java.sql.Timestamp.valueOf("1996-01-01 00:00:00"))
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
  }

  test("q_agg_skyline: dominated points drop; per-qty maxima pre-collapse") {
    val dir = tmpDir("r16sky")
    // qty->max cents: 5->100, 4->200, 3->150, 2->250
    // skyline (qty desc): (5,100) in, (4,200) in, (3,150) dominated by
    // (4,200), (2,250) in
    writeLineitem(dir, Seq(("N", 5.0, 1.00), ("N", 4.0, 2.00),
      ("N", 3.0, 1.50), ("N", 2.0, 2.50), ("N", 5.0, 0.90)))
    val out = SparkEntry.queries("q_agg_skyline")(spark, dir).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((5L, 100L), (4L, 200L), (2L, 250L)), out)
  }

  test("q_quality_drift_psi: identical weeks tie at the smoothing floor; a shifted week scores higher") {
    val dir = tmpDir("r16psi")
    import spark.implicits._
    // weeks 1,2: same distribution (3 low + 1 high); week 3: all high
    def o(day: String, price: Double, i: Int) =
      (i.toLong, 1L, "O", price, java.sql.Timestamp.valueOf(s"$day 00:00:00"),
        "1-URGENT")
    val rows =
      (1 to 3).map(i => o("2024-01-01", 50000.0, i)) ++ Seq(o("2024-01-01", 750000.0, 4)) ++
      (5 to 7).map(i => o("2024-01-08", 50000.0, i)) ++ Seq(o("2024-01-08", 750000.0, 8)) ++
      (9 to 12).map(i => o("2024-01-15", 750000.0, i))
    rows.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = SparkEntry.queries("q_quality_drift_psi")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(out.length == 3, out.toSeq)
    val psi = out.sortBy(_._1).map(_._2)
    assert(psi(0) == psi(1), s"identical weeks must tie: ${out.toSeq}")
    assert(psi(2) > psi(0), s"shifted week must score higher: ${out.toSeq}")
  }

  test("q_events_paths: hand-traced trigram counts and ppm shares") {
    val dir = tmpDir("r16path")
    import spark.implicits._
    // one user: a b c a b c -> trigrams abc(2), bca(1), cab(1); total 4
    val rows = Seq("a", "b", "c", "a", "b", "c").zipWithIndex.map {
      case (et, i) => (i.toLong,
        java.sql.Timestamp.valueOf(f"2024-01-01 0$i%d:00:00"), 1L, et,
        0.0, "{}")
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q_events_paths")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq(("a>b>c", 2L, 500000L), ("b>c>a", 1L, 250000L),
      ("c>a>b", 1L, 250000L)), out)
  }

  test("q_embed_sq8: well-separated directions survive 8-bit quantization at full recall; zero vectors drop") {
    val dir = tmpDir("r16sq8")
    import spark.implicits._
    // 5 clean axis/diagonal directions + one zero vector (excluded: its
    // milli norm is 0). Panel = whole corpus (KnnProbeN > 5); int8 codes
    // preserve the exact ranking, so the overlap is every one of the 4
    // available candidates — and recall_ppm is 4/KnnK = 800000: the
    // denominator stays KnnK by design (a probe with fewer than K
    // candidates can never report full recall; at corpus scale K
    // candidates always exist).
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f), 0),
      (1L, Seq(0.9f, 0.1f, 0.0f), 0),
      (2L, Seq(0.0f, 1.0f, 0.0f), 1),
      (3L, Seq(0.0f, 0.9f, 0.1f), 1),
      (4L, Seq(0.0f, 0.0f, 1.0f), 2),
      (5L, Seq(0.0f, 0.0f, 0.0f), 2))
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("q_embed_sq8")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(out.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L, 4L), out.toSeq)
    assert(out.forall(_._2 == 800000L), out.toSeq)
  }

  test("q_window_wow_growth: negative growth TRUNCATES toward zero on both engines") {
    val dir = tmpDir("r16wow")
    import spark.implicits._
    // one priority, 3 week-dense weeks: 300 -> 100 -> 200 cents
    // growth w2 = -200e6 div 300 = -666666 (floor would be -666667!)
    // growth w3 = +100e6 div 100 = 1000000
    val rows = Seq(("2024-01-01", 3.00), ("2024-01-08", 1.00),
      ("2024-01-15", 2.00)).zipWithIndex.map { case ((d, p), i) =>
      (i.toLong, 1L, "O", p,
        java.sql.Timestamp.valueOf(s"$d 00:00:00"), "1-URGENT")
    }
    rows.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = SparkEntry.queries("q_window_wow_growth")(spark, dir).collect()
      .map(r => (if (r.isNullAt(4)) None else Some(r.getLong(4))))
    assert(out.toSeq == Seq(None, Some(-666666L), Some(1000000L)), out.toSeq)
  }
}
