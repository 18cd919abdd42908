package graft

import graft.ops.Bpe
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Contract for the distributed BPE trainer: semantics match an
  * INDEPENDENT in-memory reference implementation (Sennrich-style:
  * positional pair counts, greedy left-to-right merge application,
  * count-desc/pair-asc selection) on both planted corpora and the real
  * test corpus. The DuckDB round-replay oracle checks the same thing a
  * third way at verify time. */
class BpeSpec extends SparkSpec {

  import spark.implicits._

  // --- reference implementation (plain Scala, shares no code with ops.Bpe)

  private def refApply(s: List[String], l: String, r: String): List[String] = {
    val b = mutable.ListBuffer.empty[String]
    var i = 0
    while (i < s.length) {
      if (i + 1 < s.length && s(i) == l && s(i + 1) == r) { b += (l + r); i += 2 }
      else { b += s(i); i += 1 }
    }
    b.toList
  }

  private def refTrain(words: Map[String, Long],
                       n: Int): Seq[(String, String, Long)] = {
    var syms: Map[List[String], Long] =
      words.map { case (w, f) => w.toList.map(_.toString) -> f }
    val out = mutable.ArrayBuffer.empty[(String, String, Long)]
    var round = 0
    while (round < n) {
      val counts = mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
      for ((s, f) <- syms; i <- 0 until s.length - 1)
        counts((s(i), s(i + 1))) += f
      if (counts.isEmpty) round = n
      else {
        val ((l, r), c) = counts.minBy { case ((l, r), c) => (-c, l + " " + r) }
        out += ((l, r, c))
        syms = syms.groupMapReduce { case (s, _) => refApply(s, l, r) }(_._2)(_ + _)
        round += 1
      }
    }
    out.toSeq
  }

  test("applyMerge is greedy left-to-right and non-overlapping") {
    val cases = Seq(
      (Seq("a", "a", "a"), "a", "a", Seq("aa", "a")),
      (Seq("a", "a", "a", "a"), "a", "a", Seq("aa", "aa")),
      (Seq("a", "b", "a", "b"), "a", "b", Seq("ab", "ab")),
      (Seq("x", "a", "b", "b"), "a", "b", Seq("x", "ab", "b")),
      (Seq("a"), "a", "a", Seq("a")),
      (Seq.empty[String], "a", "a", Seq.empty[String]))
    cases.foreach { case (in, l, r, want) =>
      val got = Seq(Tuple1(in)).toDF("syms")
        .select(Bpe.applyMerge(col("syms"), l, r).as("m"))
        .as[Seq[String]].head()
      assert(got == want, s"$in + ($l,$r): got $got want $want")
      assert(got == refApply(in.toList, l, r), "reference impl disagrees")
    }
  }

  test("pair counting is positional: overlapping occurrences all count") {
    val got = Seq(Tuple1(Seq("a", "a", "a"))).toDF("syms")
      .select(explode(Bpe.pairsOf(col("syms"))).as("p"))
      .as[String].collect().toSeq
    assert(got == Seq("a a", "a a"), s"got $got")
  }

  test("train matches the reference on a planted corpus with ties") {
    // "ab" x3, "ba" x3: round 1 ties (a,b)=3 vs (b,a)=3 -> pair-asc picks
    // (a,b); round 2 then finds (b,a) only in the unmerged "ba" words
    val docs = Seq("ab ab ab ba ba ba").toDF("text")
    val got = Bpe.train(docs, "text", 3)
      .map(m => (m.lhs, m.rhs, m.n_occurrences))
    val want = refTrain(Map("ab" -> 3L, "ba" -> 3L), 3)
    assert(got == want, s"got $got want $want")
    assert(got.head == (("a", "b", 3L)), "tie must break pair-ascending")
  }

  test("train handles back-to-back winning pairs (banana/abab corpus)") {
    // 'banana' holds (a,n) twice with the two post-merge 'an' symbols
    // ADJACENT, and 'abab'/'aaaa' repeat their winners back-to-back too —
    // the case where a shared-delimiter string-replace replay of the
    // greedy fold goes wrong (it skips every second occurrence). The
    // in-memory reference is the greedy fold by construction; the DuckDB
    // replay oracle is exercised on this same corpus shape by
    // tools/check_bpe_oracle.py.
    val docs = Seq(
      "banana banana abab cabbage", "bananana abab abab papaya",
      "banana aaaa aaaa cacao", "ababab banana cabbage papaya",
      "aaaa bananana cacao abab").toDF("text")
    val words = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").count().as[(String, Long)].collect().toMap
    val got = Bpe.train(docs, "text", 8)
      .map(m => (m.lhs, m.rhs, m.n_occurrences))
    val want = refTrain(words, 8)
    assert(got == want, s"got $got want $want")
    // the planted corpus must actually exercise adjacency: some round's
    // winner must occur back-to-back inside a word ('anan' in 'banana')
    assert(want.map(p => p._1 + p._2)
      .exists(m => words.keys.exists(_.contains(m + m))),
      "corpus no longer contains a back-to-back winner — keep one planted")
  }

  test("train stops when no adjacent pairs remain") {
    val got = Bpe.train(Seq("ab ab").toDF("text"), "text", 10)
    // round 1 merges (a,b) everywhere; afterwards every word is a single
    // symbol and no further rule exists
    assert(got.map(m => (m.lhs, m.rhs)) == Seq(("a", "b")), s"got $got")
  }

  test("trainBatched is merge-for-merge identical to sequential train") {
    // corpora chosen so batching DECISIONS actually trigger: overlapping
    // winners (banana: (a,n) then (an,a) share symbols -> batch must
    // stop), count ties at the batch boundary (ab/ba corpus), and
    // concatenation collisions (merging (a,b) creates 'ab' while 'abab'
    // words hold (ab,ab) candidates downstream)
    val corpora = Seq(
      Seq("banana banana abab cabbage", "bananana abab abab papaya",
        "banana aaaa aaaa cacao", "ababab banana cabbage papaya",
        "aaaa bananana cacao abab"),
      Seq("ab ab ab ba ba ba"),
      Seq("the quick brown fox jumps over the lazy dog",
        "pack my box with five dozen liquor jugs",
        "the five boxing wizards jump quickly"))
    for (texts <- corpora) {
      val docs = texts.toDF("text")
      val seq8 = Bpe.train(docs, "text", 12)
      for (m <- Seq(1, 2, 4, 32)) {
        val bat8 = Bpe.trainBatched(docs, "text", 12, batchM = m)
        assert(bat8 == seq8,
          s"batchM=$m diverged on $texts:\nbatched $bat8\nsequential $seq8")
      }
    }
  }

  test("trainBatched matches sequential on the real corpus in fewer jobs") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val seq = Bpe.train(docs, "text", 8)
    val bat = Bpe.trainBatched(docs, "text", 8)
    assert(bat == seq, s"batched $bat\nsequential $seq")
  }

  test("distributed train matches the reference on the real corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val words = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy("w").count()
      .as[(String, Long)].collect().toMap
    val want = refTrain(words, 8)
    val got = Bpe.train(docs, "text", 8)
      .map(m => (m.lhs, m.rhs, m.n_occurrences))
    assert(got == want, s"got $got want $want")
    assert(got.size == 8)
  }
}
