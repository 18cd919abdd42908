package graft

import org.apache.spark.sql.functions._

/** Hand-computed fixtures for the round-14 late additions (BM25
  * retrieval, KL corpus-drift, CUSUM change-point) — the invariants the
  * DuckDB hash oracles can't state directly: exact integer traces,
  * ranking order, OOV mass conservation.
  */
class Round14QueriesSpec extends SparkSpec {

  private def docsDir(rows: Seq[(Long, String, String)]): String = {
    import spark.implicits._
    val dir = tmpDir("r14")
    rows.toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("q_events_cusum: burst day spikes by its excess volume; flat stream scores 0") {
    import spark.implicits._
    val dir = tmpDir("cusum")
    def ts(day: Int, i: Int) = java.sql.Timestamp.valueOf(
      f"2024-01-0$day%d 00:00:${i % 60}%02d")
    // type a: daily counts 2,2,2,2,7 (n_days=5, tot=15)
    //   dev = 5*c-15 -> -5,-5,-5,-5,+20; prefix -5,-10,-15,-20,0
    //   running min -5,-10,-15,-20,-20 -> cusum 0,0,0,0,20
    // type b: flat 3,3,3 -> dev 0 everywhere -> cusum 0
    val aCounts = Seq(2, 2, 2, 2, 7)
    val rows =
      aCounts.zipWithIndex.flatMap { case (c, d) =>
        (0 until c).map(i => (d * 100L + i, ts(d + 1, i), 1L, "a", 0.0, "{}"))
      } ++
      (0 until 3).flatMap(d =>
        (0 until 3).map(i => (900L + d * 10 + i, ts(d + 1, i), 1L, "b", 0.0, "{}")))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q_events_cusum")(spark, dir).collect()
      .map(r => (r.getString(0), r.getDate(1).toString) ->
        (r.getLong(2), r.getLong(3))).toMap
    val expected =
      aCounts.zipWithIndex.map { case (c, d) =>
        ("a", s"2024-01-0${d + 1}") -> ((c.toLong, if (c == 7) 20L else 0L))
      }.toMap ++
      (0 until 3).map(d => ("b", s"2024-01-0${d + 1}") -> ((3L, 0L))).toMap
    assert(out == expected, out.toString)
  }

  test("q_text_bm25: multi-term match outranks single-term; non-matching docs and queries absent") {
    // Query 1 = (vector, scan). avgdl = 10/4 = 2.5.
    //   doc 1 "vector scan vector"  matches both terms -> top
    //   doc 2 "scan scan scan"      tf=3, dl=3 -> tfpart 6.6/4.38 = 1.507
    //   doc 4 "vector"              tf=1, dl=1 -> tfpart 2.2/1.66 = 1.325
    //   (same idf for both terms: df=2 each) -> order 1, 2, 4; doc 3 absent.
    // Query 2 = (hash, join, merge): nothing matches -> query absent.
    // Query 3 = (stream, window, the): only doc 3 matches ('the').
    val dir = docsDir(Seq(
      (1L, "vector scan vector", "s1"),
      (2L, "scan scan scan", "s1"),
      (3L, "the the the", "s2"),
      (4L, "vector", "s2")))
    val out = SparkEntry.queries("q_text_bm25")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val q1 = out.filter(_._1 == 1).sortBy(_._2)
    assert(q1.map(_._3).toSeq == Seq(1L, 2L, 4L), q1.mkString(","))
    assert(q1.map(_._2).toSeq == Seq(1, 2, 3))
    assert(q1.forall(_._4 > 0L))
    // scores strictly descend (no tie in this fixture)
    assert(q1.map(_._4).toSeq == q1.map(_._4).sorted(Ordering[Long].reverse).toSeq)
    assert(!out.exists(_._1 == 2), "query with no matching docs must vanish")
    val q3 = out.filter(_._1 == 3)
    assert(q3.map(x => (x._2, x._3)).toSeq == Seq((1, 3L)), q3.mkString(","))
  }

  test("q_graph_modularity: hand-traced two-community graph scores Q = 0.5 exactly") {
    import spark.implicits._
    val dir = tmpDir("mod")
    // Orders o1/o2 both contain parts {1,2}; o3/o4 both contain {3,4}
    // -> co-purchase edges (w>=2): 1-2 and 3-4. Brands: {1,2}=A, {3,4}=B.
    // m=2; every degree=1; per community: e_c=1, d_c=2
    //   -> num_c = 4·2·1 − 4 = 4; Q = (4+4)/(2m)² = 8/16 = 0.5 —
    // the textbook value for two disconnected intra-community edges.
    Seq((10L, 1L), (10L, 2L), (11L, 1L), (11L, 2L),
        (12L, 3L), (12L, 4L), (13L, 3L), (13L, 4L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq((1L, "A"), (2L, "A"), (3L, "B"), (4L, "B"))
      .toDF("p_partkey", "p_brand")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val out = SparkEntry.queries("q_graph_modularity")(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(out == Map(
      "A" -> ((2L, 2L, 1L, 2L, 4L)),
      "B" -> ((2L, 2L, 1L, 2L, 4L))), out.toString)
  }

  test("q_embed_coherence: hand-traced orthogonal vs identical member pairs") {
    import spark.implicits._
    val dir = tmpDir("coh")
    // label 0: orthogonal members (1,0) and (0,1) -> centroid sum
    // (1000,1000): cos = 1e6/(√1e6·√2e6) = 0.7071068 -> 707107 ppm.
    // label 1: identical members (1,1),(1,1) -> cos = 1.0 -> 1000000 ppm.
    Seq((1L, Seq(1.0f, 0.0f), 0), (2L, Seq(0.0f, 1.0f), 0),
        (3L, Seq(1.0f, 1.0f), 1), (4L, Seq(1.0f, 1.0f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("q_embed_coherence")(spark, dir).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out == Map(
      0 -> ((2L, 707107L, 707107L)),
      1 -> ((2L, 1000000L, 1000000L))), out.toString)
  }

  test("q_text_kl_drift: identical-distribution sources score exactly 0") {
    // A and B have the SAME unigram distribution, so each equals the
    // corpus distribution -> every ratio is exactly 1.0 in IEEE
    // arithmetic (integer products < 2^53 are exact) -> ln(1)=0 -> 0.
    val dir = docsDir(Seq(
      (1L, "x y", "A"),
      (2L, "x y", "B")))
    val out = SparkEntry.queries("q_text_kl_drift")(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out == Map("A" -> ((2L, 2L, 0L)), "B" -> ((2L, 2L, 0L))), out.toString)
  }

  test("q_text_kl_drift: skewed source scores highest; KL stays ~non-negative") {
    // corpus: x=6, y=2 (tot 8). C is all-x (max drift); A/B are balanced.
    val dir = docsDir(Seq(
      (1L, "x y", "A"),
      (2L, "x y", "B"),
      (3L, "x x x x", "C")))
    val out = SparkEntry.queries("q_text_kl_drift")(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(out("C") > 0L, out.toString)
    assert(out("C") > out("A") && out("C") > out("B"), out.toString)
    assert(out("A") == out("B"), "symmetric sources must score identically")
    // quantization can shave <1 micro-nat per bucket off a true-0 KL but
    // a real divergence stays positive; A's true KL here is ~0.14 nats
    assert(out("A") > 0L, out.toString)
  }

  test("q_stream_drift_gate: same-distribution batches score exactly 0 per micro-batch") {
    import spark.implicits._
    // ids 0..9, all "x y": the %5==0 stream carries ids 0 and 5 — staged
    // into batches 0 and 3 by the id-range formula (lo=0, step=(5-0)//4=1,
    // bucket = min(3, id//1)). Reference (ids %5<>0, 8 docs) has the SAME
    // distribution as each batch, so every ratio is exactly 1.0 in IEEE
    // arithmetic -> kl_micro exactly 0, n_buckets=2 (x, y), tot_tok=2.
    val dir = tmpDir("drift")
    (0L to 9L).map(i => (i, "x y", "A")).toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q_stream_drift_gate")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out == Map(0L -> ((2L, 2L, 0L)), 3L -> ((2L, 2L, 0L))), out.toString)
  }

  test("q_stream_drift_gate: an all-novel batch with no reference <oov> mass emits NO row") {
    import spark.implicits._
    // reference vocabulary {x, y} fits inside K, so KlRef has no '<oov>'
    // bucket; the streamed docs (ids 0 and 5) are entirely novel tokens.
    // The inner-join clamp must drop BOTH batches on both engines — a
    // degenerate all-null row here was the review catch this pins.
    val dir = tmpDir("driftN")
    (0L to 9L).map(i =>
        (i, if (i % 5 == 0) "zzz qqq" else "x y", "A"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q_stream_drift_gate")(spark, dir).collect()
    assert(out.isEmpty, out.mkString(","))
  }

  test("q_events_cusum equals the textbook recursion on random daily series") {
    // The catalog query computes S via the prefix-sum/running-min window
    // identity; this is the INDEPENDENT derivation — the literal Page
    // recursion S_i = max(0, S_{i-1} + dev_i) folded in plain Scala over
    // the same daily counts — so an identity bug can't hide behind an
    // oracle that replays the same rewrite.
    import spark.implicits._
    val rnd = new scala.util.Random(14)
    val dir = tmpDir("cusumP")
    val counts: Map[(String, Int), Int] = (for {
      t <- Seq("a", "b", "c"); d <- 1 to 20
      c = rnd.nextInt(7) if c > 0
    } yield (t, d) -> c).toMap
    val rows = counts.toSeq.flatMap { case ((t, d), c) =>
      (0 until c).map(i => (d * 1000L + i,
        java.sql.Timestamp.valueOf(f"2024-01-$d%02d 00:00:${i % 60}%02d"),
        1L, t, 0.0, "{}"))
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("q_events_cusum")(spark, dir).collect()
      .map(r => (r.getString(0), r.getDate(1).toString) ->
        r.getLong(3)).toMap
    val expected = Seq("a", "b", "c").flatMap { t =>
      val ds = counts.collect { case ((`t`, d), c) => (d, c.toLong) }
        .toSeq.sortBy(_._1)
      val (nd, tot) = (ds.size.toLong, ds.map(_._2).sum)
      var s = 0L
      ds.map { case (d, c) =>
        s = math.max(0L, s + (nd * c - tot))
        (t, f"2024-01-$d%02d") -> s
      }
    }.toMap
    assert(got == expected)
  }

  test("q_text_bm25 matches a brute-force reference ranking on a random corpus") {
    // Straight-line reference: score every (query, doc) with the BM25
    // formula in plain Scala (same quantization), rank by (score desc,
    // doc_id asc), take 10 — checks the filtered-aggregation plumbing
    // and TopK's bounded-heap prune against the obvious implementation.
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val vocab = Seq("vector", "scan", "hash", "join", "merge", "stream",
      "window", "the", "table", "row", "batch")
    val docs = (1L to 30L).map(i =>
      (i, Seq.fill(3 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "), "s"))
    val dir = docsDir(docs)
    val got = SparkEntry.queries("q_text_bm25")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSeq.sortBy(x => (x._1, x._2))
    // reference
    val toks = docs.map { case (id, text, _) =>
      id -> text.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq }.toMap
    val dl = toks.map { case (id, ts) => id -> ts.size }
    val n = dl.size
    val avgdl = dl.values.sum.toDouble / n
    val queries = Seq(1 -> Seq("vector", "scan"),
      2 -> Seq("hash", "join", "merge"), 3 -> Seq("stream", "window", "the"))
    val allTerms = queries.flatMap(_._2).distinct
    val tf = (for { (id, ts) <- toks.toSeq; t <- ts if allTerms.contains(t) }
      yield (id, t)).groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val df = tf.keys.toSeq.map(_._2).groupBy(identity)
      .map { case (t, v) => t -> v.size.toLong }
    val expected = queries.flatMap { case (q, terms) =>
      val scores = toks.keys.toSeq.flatMap { id =>
        val s = terms.flatMap { t =>
          tf.get((id, t)).map { f =>
            val idf = math.log(1.0 + (n.toDouble - df(t) + 0.5) / (df(t).toDouble + 0.5))
            val tfp = f.toDouble * 2.2 /
              (f.toDouble + 1.2 * (0.25 + 0.75 * (dl(id).toDouble / avgdl)))
            math.floor(idf * tfp * 1000000d + 0.5d).toLong
          }
        }
        if (s.isEmpty) None else Some((id, s.sum))
      }
      scores.sortBy { case (id, sc) => (-sc, id) }.take(10).zipWithIndex
        .map { case ((id, sc), i) => (q, i + 1, id, sc) }
    }.sortBy(x => (x._1, x._2))
    assert(got == expected, s"\ngot:      $got\nexpected: $expected")
  }

  test("q_text_kl_drift matches a brute-force reference on a random multi-source corpus") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 30).map(i => s"w$i")
    val docs = (1L to 40L).map { i =>
      val src = s"S${i % 4}"
      // skew source S0 toward the low vocab ids so drift is non-trivial
      val draw = () =>
        if (src == "S0") vocab(rnd.nextInt(8))
        else vocab(rnd.nextInt(vocab.size))
      (i, Seq.fill(5 + rnd.nextInt(10))(draw()).mkString(" "), src)
    }
    val dir = docsDir(docs)
    val got = SparkEntry.queries("q_text_kl_drift")(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // reference
    val st = (for { (_, text, src) <- docs
                    t <- text.split("[^a-z0-9]+") if t.nonEmpty }
      yield (src, t)).groupBy(identity)
      .map { case (k, v) => k -> v.size.toLong }
    val corpus = st.groupBy(_._1._2).map { case (t, m) => t -> m.values.sum }
    val kept = corpus.toSeq.sortBy { case (t, c) => (-c, t) }.take(24)
      .map(_._1).toSet
    val stb = st.groupBy { case ((s, t), _) =>
        (s, if (kept(t)) t else "<oov>") }
      .map { case (k, m) => k -> m.values.sum }
    val cb = stb.groupBy(_._1._2).map { case (b, m) => b -> m.values.sum }
    val tots = stb.groupBy(_._1._1).map { case (s, m) => s -> m.values.sum }
    val totC = cb.values.sum
    val expected = stb.groupBy(_._1._1).map { case (src, m) =>
      val totS = tots(src)
      val kl = m.map { case ((_, b), cs) =>
        math.floor((cs.toDouble / totS) *
          math.log((cs.toDouble * totC) / (totS.toDouble * cb(b))) *
          1000000d + 0.5d).toLong
      }.sum
      src -> ((m.size.toLong, totS, kl))
    }
    assert(got == expected, s"\ngot:      $got\nexpected: $expected")
  }

  test("q_text_kl_drift: OOV bucket binds past the top-K vocabulary and conserves mass") {
    // 30 distinct terms from one source: 24 kept + 1 '<oov>' bucket; the
    // pruned tail's tokens must be AGGREGATED (tot_tok = all 30+24=54
    // tokens), not dropped. Repeat w0..w23 twice so the kept set is
    // deterministic (counts 2 beat the 6 singleton tail terms).
    val text = ((0 until 24).flatMap(i => Seq(s"w$i", s"w$i")) ++
      (24 until 30).map(i => s"w$i")).mkString(" ")
    val dir = docsDir(Seq((1L, text, "A")))
    val r = SparkEntry.queries("q_text_kl_drift")(spark, dir).collect().head
    assert(r.getString(0) == "A")
    assert(r.getLong(1) == 25L, s"n_buckets = ${r.getLong(1)}")  // 24 kept + <oov>
    assert(r.getLong(2) == 54L, s"tot_tok = ${r.getLong(2)}")
    // single source == corpus -> every ratio exactly 1 -> KL exactly 0
    assert(r.getLong(3) == 0L, s"kl_micro = ${r.getLong(3)}")
  }
}
