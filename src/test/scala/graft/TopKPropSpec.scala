package graft

import graft.ops.TopK
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property check: the heap-pruned top-k equals the single-phase window
  * it replaces, on random skewed data with heavy value ties (the sort key
  * stays a total order via the unique id tiebreaker — the operator's
  * documented requirement). Fixed seeds, explicit sampling, matching the
  * repo's other property specs. */
class TopKPropSpec extends SparkSpec {
  import spark.implicits._

  private val rowGen = for {
    group <- Gen.oneOf("a", "b", "c", "d")
    value <- Gen.choose(0, 20) // narrow domain => many ties on value
  } yield (group, value)

  test("heap-pruned rank trio matches the single-phase window (100 random tables)") {
    // seeds sharing a k run as one execution: each seed's table keeps its
    // own repartition(7) and is tagged with its seed `t`, and both sides
    // rank per (t, g), so every table is ranked exactly as if run alone
    for ((k, seeds) <- (0 until 100).groupBy(i => 1 + i % 7).toSeq.sortBy(_._1)) {
      val df = seeds.sorted.map { i =>
        val rows = Gen.listOfN(200, rowGen)
          .apply(Gen.Parameters.default, Seed(i.toLong)).get
          .zipWithIndex.map { case ((g, v), id) => (i, g, v.toDouble, id.toLong) }
        rows.toDF("t", "g", "v", "id").repartition(7) // multiple partitions
      }.reduce(_ union _)
      val keys = Seq("v" -> false, "id" -> true)
      val got = TopK.rankTrio(df, Seq("t", "g"), keys, k)
        .select("t", "g", "v", "id", "rn", "rnk", "drnk")
        .orderBy("t", "g", "rn")
        .collect().map(_.toSeq).toSeq
      val w = Window.partitionBy("t", "g").orderBy(col("v").desc, col("id").asc)
      val want = df
        .withColumn("rn", row_number().over(w))
        .withColumn("rnk", rank().over(w))
        .withColumn("drnk", dense_rank().over(w))
        .filter(col("rn") <= k)
        .select("t", "g", "v", "id", "rn", "rnk", "drnk")
        .orderBy("t", "g", "rn")
        .collect().map(_.toSeq).toSeq
      def seed(rows: Seq[Seq[Any]], i: Int) = rows.filter(_.head == i)
      val firstBad = seeds.sorted.find(i => seed(got, i) != seed(want, i))
      assert(firstBad.isEmpty && got == want,
        s"mismatch at seed=${firstBad.getOrElse("?")} k=$k")
    }
  }

  private def trioVsWindow(df: org.apache.spark.sql.DataFrame, k: Int,
                           maxGroups: Int = 65536): Unit = {
    val got = TopK.rankTrio(df, Seq("g"), Seq("v" -> false, "id" -> true), k,
        maxGroups)
      .select("g", "id", "rn", "rnk", "drnk").orderBy("g", "rn")
      .collect().map(_.toSeq).toSeq
    val w = Window.partitionBy("g").orderBy(col("v").desc, col("id").asc)
    val want = df
      .withColumn("rn", row_number().over(w))
      .withColumn("rnk", rank().over(w))
      .withColumn("drnk", dense_rank().over(w))
      .filter(col("rn") <= k)
      .select("g", "id", "rn", "rnk", "drnk").orderBy("g", "rn")
      .collect().map(_.toSeq).toSeq
    assert(got == want)
  }

  test("signed zeros in the sort key: heap order agrees with the window") {
    // Java compareTo orders -0.0 < 0.0 but Spark SQL sorts them equal; the
    // heap must not prune a row the window would keep. Both zeros compete
    // at the k boundary with the id tiebreaker deciding.
    val df = Seq(
      ("a", 0.0, 1L), ("a", -0.0, 2L), ("a", 0.0, 3L), ("a", -0.0, 4L),
      ("a", 1.0, 5L), ("a", -1.0, 6L), ("b", -0.0, 7L), ("b", 0.0, 8L)
    ).toDF("g", "v", "id").repartition(3)
    for (k <- 1 to 4) trioVsWindow(df, k)
  }

  test("binary sort keys order unsigned lexicographically, not ClassCastException") {
    val rows = Seq(
      ("a", Array[Byte](1, 2), 1L), ("a", Array[Byte](-1), 2L), // 0xff sorts last
      ("a", Array[Byte](1), 3L), ("a", Array[Byte](), 4L),
      ("a", Array[Byte](1, 2, 3), 5L), ("b", Array[Byte](0), 6L))
    val df = rows.toDF("g", "v", "id").repartition(2)
    val got = TopK.perGroup(df, Seq("g"), Seq("v" -> true, "id" -> true), 3, "rn")
      .select("g", "id", "rn").orderBy("g", "rn")
      .collect().map(_.toSeq).toSeq
    val w = Window.partitionBy("g").orderBy(col("v").asc, col("id").asc)
    val want = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select("g", "id", "rn").orderBy("g", "rn")
      .collect().map(_.toSeq).toSeq
    assert(got == want)
  }

  test("group-cardinality cap: past maxGroups the task passes through, still exact") {
    // 100 distinct groups with maxGroups=4: tasks stop pruning after their
    // 4th group and forward the tail — the result must STILL equal the
    // plain window (the cap is a memory guard, never a semantics change)
    val rows = (0 until 400).map(i => (s"g${i % 100}", (i * 37 % 50).toDouble, i.toLong))
    val df = rows.toDF("g", "v", "id").repartition(5)
    trioVsWindow(df, 2, maxGroups = 4)
  }
}
