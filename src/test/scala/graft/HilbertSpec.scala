package graft

import org.apache.spark.sql.functions._
import graft.ops.Hilbert

/** Contract tests for the Hilbert curve: bijectivity, continuity (the
  * property Z-order lacks), Column-fold == scalar reference, and the
  * clustered-write round trip. */
class HilbertSpec extends SparkSpec {

  test("bits=4: bijection onto [0, 256) and one-grid-step continuity") {
    val cells = for (x <- 0 until 16; y <- 0 until 16)
      yield (x.toLong, y.toLong, Hilbert.dValueScalar(x, y, bits = 4))
    val ds = cells.map(_._3).sorted
    assert(ds == (0L until 256L).toList, "keys must cover 0..255 exactly")
    // continuity: consecutive keys are ADJACENT grid cells — the Hilbert
    // guarantee (the Z-curve violates this at every power-of-two seam)
    val byD = cells.sortBy(_._3)
    byD.sliding(2).foreach { case Seq((x1, y1, _), (x2, y2, _)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"jump between ($x1,$y1) and ($x2,$y2)")
    }
  }

  test("Column fold equals the scalar reference at bits=12") {
    import spark.implicits._
    // corners, the quadrant seams where rotation bugs live, and a spread
    val pts = Seq((0L, 0L), (4095L, 0L), (0L, 4095L), (4095L, 4095L),
      (2047L, 2048L), (2048L, 2047L), (1L, 4094L), (1234L, 987L),
      (3000L, 17L), (2048L, 2048L))
    val out = pts.toDF("x", "y")
      .select(col("x"), col("y"),
        Hilbert.dValue(col("x"), col("y"), bits = 12).as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    pts.foreach { case (x, y) =>
      assert(out((x, y)) == Hilbert.dValueScalar(x, y, bits = 12),
        s"mismatch at ($x, $y)")
    }
  }

  test("d2xy inverts xy2d: exhaustive at bits=4, sampled at bits=12") {
    for (x <- 0 until 16; y <- 0 until 16)
      assert(Hilbert.d2xy(Hilbert.dValueScalar(x, y, 4), 4) == ((x.toLong, y.toLong)))
    val pts = Seq((0L, 0L), (4095L, 4095L), (2048L, 2047L), (1234L, 987L))
    pts.foreach { case (x, y) =>
      assert(Hilbert.d2xy(Hilbert.dValueScalar(x, y, 12), 12) == ((x, y)))
    }
  }

  test("rectRanges: exact cover with budget, correct over-approximation without") {
    // exact: with a generous budget, key ∈ ranges  ⟺  cell ∈ rect
    val (xlo, xhi, ylo, yhi) = (3L, 9L, 5L, 12L)
    val ranges = Hilbert.rectRanges(xlo, xhi, ylo, yhi, bits = 4,
      maxRanges = 1000)
    def covered(d: Long) = ranges.exists { case (lo, hi) => d >= lo && d <= hi }
    for (x <- 0L until 16L; y <- 0L until 16L) {
      val in = x >= xlo && x <= xhi && y >= ylo && y <= yhi
      assert(covered(Hilbert.dValueScalar(x, y, 4)) == in, s"($x,$y)")
    }
    // ranges ascend and are merged (no adjacent/overlapping neighbors)
    ranges.sliding(2).foreach {
      case Seq((_, h1), (l2, _)) => assert(h1 + 1 < l2)
      case _ =>
    }
    // budget-capped: a SUPERSET cover (pruning stays correct, less tight)
    val tight = Hilbert.rectRanges(xlo, xhi, ylo, yhi, bits = 4, maxRanges = 3)
    assert(tight.size <= 4) // budget + the in-flight block
    for (x <- xlo to xhi; y <- ylo to yhi)
      assert(tight.exists { case (lo, hi) =>
        val d = Hilbert.dValueScalar(x, y, 4); d >= lo && d <= hi })
  }

  test("rect query via key ranges prunes most clustered files") {
    import spark.implicits._
    // the read-side pay-off: per-file Hilbert-key [min,max] (the stats a
    // clustered reader keeps) intersected with rectRanges touches only
    // the files whose blob meets the box — ~10% box -> most files skip
    val pts = spark.range(256L * 256)
      .select((col("id") % 256).as("x"), (col("id") / 256).as("y"))
      .repartition(8)
    val dir = tmpDir("hilr") + "/t"
    pts.withColumn("h", Hilbert.dValue(col("x"), col("y"), bits = 8))
      .repartitionByRange(16, col("h")).sortWithinPartitions("h")
      .write.parquet(dir)
    val fileSpans = spark.read.parquet(dir)
      .groupBy(input_file_name()).agg(min("h").as("lo"), max("h").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(fileSpans.length == 16)
    val ranges = Hilbert.rectRanges(0, 25, 0, 25, bits = 8)
    val touched = fileSpans.count { case (flo, fhi) =>
      ranges.exists { case (rlo, rhi) => rlo <= fhi && rhi >= flo } }
    assert(touched <= 3, s"expected <= 3/16 files touched, got $touched")
    // and the ranges select exactly the box's rows
    val inRanges = ranges.map { case (lo, hi) =>
      col("h").between(lo, hi) }.reduce(_ || _)
    val n = spark.read.parquet(dir).filter(inRanges).count()
    assert(n == 26L * 26, s"range filter selected $n rows")
  }

  test("clustered write: range-partitioned files, contents preserved") {
    import spark.implicits._
    val dir = tmpDir("hil") + "/t"
    val df = (0 until 4096).map(i => (i.toLong, (i * 2654435761L) % 4096L))
      .toDF("a", "b")
    Hilbert.writeClustered(df, dir,
      col("a") % 4096, col("b"), bits = 12, nFiles = 8)
    val back = spark.read.parquet(dir)
    assert(back.count() == 4096)
    assert(back.agg(sum("a"), sum("b")).head() ==
      df.agg(sum("a"), sum("b")).head())
  }
}
