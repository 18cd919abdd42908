package graft

import org.apache.spark.sql.functions._

/** Hand-computed fixtures for round-12 additions that complement the
  * DuckDB oracles. */
class Round12QueriesSpec extends SparkSpec {

  test("q_window_ewma: dyadic kernel + present-mass renormalization, hand-traced") {
    import spark.implicits._
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-${d}%02d 00:00:00")
    // one customer, orders of 1.00 / 2.00 / 4.00:
    //  row 1: den = 128            -> ewma = c1 * 1000 = 100000 exactly
    //         (a decay-toward-zero formulation would give 100000/2 —
    //          the renormalization is what this row pins)
    //  row 2: (128*200 + 64*100)*1000 div 192 = 32000000/192 -> 166666
    //         (nonzero remainder: pins truncation)
    //  row 3: (128*400 + 64*200 + 32*100)*1000 div 224 = 300000 exactly
    val dir = tmpDir("ewma")
    Seq((7L, 1L, ts(1), 1.00), (7L, 2L, ts(2), 2.00), (7L, 3L, ts(3), 4.00))
      .toDF("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = SparkEntry.queries("q_window_ewma")(spark, dir).collect()
      .map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3))).toMap
    assert(out == Map(
      1L -> ((100L, 100000L)),
      2L -> ((200L, 166666L)),
      3L -> ((400L, 300000L))), out.toString)
  }

  test("q_text_source_overlap: planted vocabularies give exact Jaccard ppm") {
    import spark.implicits._
    // srcA vocab {a b c d}, srcB {c d e f}, srcC {x}:
    //  A-B share {c d}: 2*1e6 div (4+4-2) = 333333; C overlaps nothing
    val dir = tmpDir("sovl")
    Seq((1L, "a b c d", "en", "srcA"), (2L, "c d e f", "en", "srcB"),
        (3L, "x", "en", "srcC"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q_text_source_overlap")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(out == Map(("srcA", "srcB") -> ((2L, 333333L))), out.toString)
  }
}
