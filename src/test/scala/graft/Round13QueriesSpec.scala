package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.NfcNormalize.nfc_normalize

/** Hand-computed fixtures for the round-13 additions that complement the
  * DuckDB oracles (blocklist anti-join, Kneser-Ney smoothing, Unicode
  * cleanup, power-iteration PCA). */
class Round13QueriesSpec extends SparkSpec {

  test("q_filter_blocklist: registered-domain block catches every subdomain variant") {
    import spark.implicits._
    val dir = tmpDir("blk")
    // src3 is blocklisted; doc_ids 0/1/3 hit the cdn./www./bare subdomain
    // branches -- ALL must drop (a subdomain must not evade a domain-level
    // block). srcX is unlisted; its cdn. variant (doc 7, 7%7=0) must KEEP
    // under the same registered domain as its bare variants.
    Seq((0L, "src3"), (1L, "src3"), (3L, "src3"),
        (7L, "srcX"), (2L, "srcX"), (4L, "srcX"))
      .toDF("doc_id", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q_filter_blocklist")(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out == Map("srcX.example.com" -> ((3L, 2L))), out.toString)
  }

  test("q_text_kneser_ney: hand-traced discount + continuation arithmetic") {
    import spark.implicits._
    val dir = tmpDir("kn")
    // tokens a b a b a b a c -> pairs (a,b)x3 (b,a)x3 (a,c)x1; 3 bigram
    // types. Marginals: c(a.)=4, N1+(a,.)=2; c(b.)=3, N1+(b,.)=1;
    // N1+(.,a)=N1+(.,b)=N1+(.,c)=1. With d=0.75 and min-count 3:
    //  P(b|a) = (3-.75)/4 + .75*2/4*(1/3) = 0.5625 + 0.125    -> 687500
    //  P(a|b) = (3-.75)/3 + .75*1/3*(1/3) = 0.75 + 0.8333...e-1 -> 833333
    // (the second pins the continuation term's nonterminating division)
    Seq((1L, "a b a b a b a c"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q_text_kneser_ney")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(out == Map(
      ("a", "b") -> ((3L, 687500L)),
      ("b", "a") -> ((3L, 833333L))), out.toString)
  }

  test("nfc_normalize expression: composes, idempotent, codegen == interpreted") {
    import spark.implicits._
    val decomposed = "cafe\u0301 A\u030Angstro\u0308m"
    val composed = "caf\u00e9 \u00c5ngstr\u00f6m"
    val df = Seq(decomposed, composed, "plain ascii").toDF("s")
      .select(col("s"), nfc_normalize(col("s")).as("n"))
    val rows = df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows(decomposed) == composed)
    assert(rows(composed) == composed)   // idempotent on already-NFC input
    assert(rows("plain ascii") == "plain ascii")
    // SQL registration path + null propagation
    org.apache.spark.sql.graft.GraftExtensions.register(spark)
    val viaSql = spark.sql(
      s"SELECT nfc_normalize('cafe\u0301'), nfc_normalize(CAST(NULL AS STRING))")
      .collect()(0)
    assert(viaSql.getString(0) == "caf\u00e9" && viaSql.isNullAt(1))
  }

  test("q_text_normalize: control strip, NFC compose, whitespace collapse, trim") {
    import spark.implicits._
    val dir = tmpDir("norm")
    // doc_id 0 triggers every noise branch (0 mod 4/3/2 all zero):
    // raw = BEL + "hi" + " cafe"+U+0301 + TAB+"  trailing"+BS+"junk "
    // clean = "hi caf\u00e9 trailingjunk"
    Seq((0L, "hi")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("q_text_normalize")(spark, dir).collect()(0)
    val expectedClean = "hi caf\u00e9 trailingjunk"
    val expectedMd5 = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(expectedClean.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
    }
    assert(r.getInt(1) == 26, s"n_raw = ${r.getInt(1)}")
    assert(r.getInt(2) == 20, s"n_clean = ${r.getInt(2)}")
    assert(r.getString(3) == expectedMd5)
  }

  test("peakConcurrency: half-open boundary + shard-crossing offsets, hand-traced") {
    import spark.implicits._
    // group a: [0,10) [5,15) [10,20) -- peak 2 (at t=10 the first ends
    // BEFORE the third starts; a closed-interval bug would report 3).
    // group b: [3,4) alone -- peak 1. nShards=4 over span [0,20) forces
    // interval spans across shard boundaries, so the per-group offset
    // cumsum (not just the local windows) carries the count.
    // half-null intervals must drop WHOLE: an unpaired +1 from
    // ("a", 1, null) would lift group a's every running count to 3.
    val iv = Seq(("a", Some(0L), Some(10L)), ("a", Some(5L), Some(15L)),
      ("a", Some(10L), Some(20L)), ("b", Some(3L), Some(4L)),
      ("a", Some(1L), None), ("b", None, Some(9L)))
      .toDF("g", "s", "e")
    val out = graft.ops.RangeJoin
      .peakConcurrency(iv, "g", "s", "e", nShards = 4)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(out == Map("a" -> ((2L, 3L)), "b" -> ((1L, 1L))), out.toString)
  }

  test("q_embed_pca: planted anisotropic corpus recovers the dominant axis") {
    import spark.implicits._
    val dir = tmpDir("pca")
    // axis 0 carries variance ~33 (t = 0..19), axis 1 carries ~2.5e-5,
    // the rest are constant zero -- the top component must be +/-e0, and the
    // sign convention (largest-|coord| positive) forces +e0.
    val rows = (0 until 20).map { i =>
      val v = Array.fill(64)(0f)
      v(0) = i.toFloat
      v(1) = (i % 2) * 0.01f
      (i.toLong, v.toSeq, i % 3)
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val m = graft.ops.Pca.fit(
      spark.read.parquet(s"$dir/embeddings.parquet"), "embedding", dim = 64)
    assert(m.v(0) > 0.9999, s"v(0) = ${m.v(0)}")
    assert(m.explainedPpm > 999000, s"explainedPpm = ${m.explainedPpm}")
    assert(math.abs(m.mu(0) - 9.5) < 1e-9)
    // catalog query: projections onto +e0 are (i - mean_0) -- strictly
    // increasing in vec_id, and the fixture's middle pair straddles zero
    val out = SparkEntry.queries("q_embed_pca")(spark, dir).collect()
      .sortBy(_.getLong(0)).map(_.getLong(2))
    assert(out.length == 20)
    assert(out.zip(out.tail).forall { case (a, b) => a < b }, out.mkString(","))
    assert(out(9) < 0 && out(10) > 0, s"${out(9)}, ${out(10)}")
  }
}
