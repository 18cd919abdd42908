package graft

import graft.ops.ZOrder
import org.apache.spark.sql.functions._

/** Z-order clustering must make per-file min/max bounds tight on BOTH
  * clustering columns — measured directly from the written layout, by
  * grouping on input_file_name (file-level stats mirror the row-group
  * stats parquet pruning uses). */
class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  test("z-ordered files prune a y-box that a linear x-sort cannot") {
    // a shuffled 256 x 256 grid: x and y are independent and uniform
    val pts = spark.range(256L * 256)
      .select((col("id") % 256).as("x"), (col("id") / 256).as("y"))
      .repartition(8) // arrival order carries no spatial locality
    val base = new java.io.File(tmpDir("graft_zorder"))
    val zDir = new java.io.File(base, "z").getAbsolutePath
    val linDir = new java.io.File(base, "linear").getAbsolutePath
    ZOrder.writeZOrdered(pts, zDir, col("x"), col("y"), bits = 8, nFiles = 16)
    pts.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.parquet(linDir)

    // fraction of files whose [min_y, max_y] intersects y <= 25 (a 10% box)
    def overlapping(dir: String): Long =
      spark.read.parquet(dir)
        .groupBy(input_file_name()).agg(min("y").as("lo"), max("y").as("hi"))
        .filter(col("lo") <= 25).count()
    val zHit = overlapping(zDir)
    val linHit = overlapping(linDir)
    // linear x-sort: y is uniform within every file -> nothing prunes
    assert(linHit == 16, s"expected all 16 linear files to overlap, got $linHit")
    // z-order: 16 contiguous z-ranges on an 8-bit grid are ~64x64 tiles
    // (plus range-boundary spill), so only the bottom band can overlap
    assert(zHit <= 8, s"z-order should prune most files, got $zHit/16 overlapping")
    // both layouts hold the identical row set
    assert(spark.read.parquet(zDir).count() == 256L * 256)
    // quantize maps domain edges into range
    val q = pts.select(ZOrder.quantize(col("x"), 0, 255, 4).as("q"))
      .agg(min("q"), max("q")).first()
    assert(q.getLong(0) == 0 && q.getLong(1) == 15)
  }

  test("quantize propagates null instead of folding it into bucket 0") {
    val df = Seq[java.lang.Double](null, 0.0, 50.0, 100.0).toDF("x")
      .select(ZOrder.quantize(col("x"), 0.0, 100.0, 4).as("q"))
    val got = df.collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
    assert(got == Seq(None, Some(0L), Some(7L), Some(15L)))
  }

  test("deriveDomains returns per-column (min, max) pairs in input order") {
    val df = Seq((3, 10.5), (-7, 2.0), (12, 99.25)).toDF("a", "b")
    assert(ZOrder.deriveDomains(df, "a", "b") ==
      Seq((-7.0, 12.0), (2.0, 99.25)))
    assert(ZOrder.deriveDomains(df, "b") == Seq((2.0, 99.25)))
    intercept[IllegalArgumentException](ZOrder.deriveDomains(df))
  }
}
