package graft

import graft.io.Maintenance
import org.apache.spark.sql.functions._

/** Small-file compaction: layout accounting, the narrow rewrite, content
  * preservation, the no-op guard, and the partitioned-root refusal.
  * (writeClustered is covered in PipelineSpec.) */
class MaintenanceSpec extends SparkSpec {

  import spark.implicits._

  test("compact collapses a many-small-file layout and preserves contents exactly") {
    val dir = tmpDir("compact") + "/data"
    val df = spark.range(0, 10000).select(col("id"), (col("id") % 97).as("k"))
    df.repartition(40).write.parquet(dir) // the small-file mess
    val before = Maintenance.layoutStats(spark, dir)
    assert(before.nFiles == 40)

    // target sized so the plan lands at a small handful of files
    val target = before.totalBytes / 3 + 1
    val after = Maintenance.compact(spark, dir, target)
    assert(after.nFiles == Maintenance.planFileCount(before.totalBytes, target).toLong)
    assert(after.nFiles < before.nFiles)

    val got = spark.read.parquet(dir).orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == (0L until 10000L).map(i => (i, i % 97)))
    // no staging residue left behind
    assert(!new java.io.File(dir + "_compacting").exists())
    assert(!new java.io.File(dir + "_precompact").exists())
  }

  test("compact with shuffle=true handles a very high file count at full read width") {
    // thousands-of-files leaf: the narrow coalesce(n) path would read
    // n-wide (documented tradeoff); shuffle=true rewrites via
    // repartition(n) so the scan keeps one task per input split
    val dir = tmpDir("compact_wide") + "/data"
    val df = spark.range(0, 20000).select(col("id"), (col("id") % 31).as("k"))
    df.repartition(128).write.parquet(dir)
    val before = Maintenance.layoutStats(spark, dir)
    assert(before.nFiles == 128)
    val target = before.totalBytes / 2 + 1 // plan: 2 output files
    val after = Maintenance.compact(spark, dir, target, shuffle = true)
    assert(after.nFiles == Maintenance.planFileCount(before.totalBytes, target).toLong)
    val got = spark.read.parquet(dir)
    assert(got.count() == 20000)
    assert(got.agg(sum("id")).head.getLong(0) == (0L until 20000L).sum)
  }

  test("compact is a no-op on an already-compact layout") {
    val dir = tmpDir("compact_noop") + "/data"
    spark.range(0, 1000).toDF("id").coalesce(1).write.parquet(dir)
    val before = Maintenance.layoutStats(spark, dir)
    assert(before.nFiles == 1)
    // generous target: 1 file already meets it; the listing must be the
    // only IO (no rewrite -> identical stats, same file bytes)
    val after = Maintenance.compact(spark, dir, targetFileBytes = 1L << 30)
    assert(after == before)
  }

  test("compact refuses a partitioned root instead of flattening it") {
    val dir = tmpDir("compact_part") + "/data"
    spark.range(0, 100).select(col("id"), (col("id") % 2).as("p"))
      .write.partitionBy("p").parquet(dir)
    intercept[IllegalArgumentException](Maintenance.compact(spark, dir))
    // the leaf partitions themselves compact fine
    val leaf = dir + "/p=0"
    assert(Maintenance.layoutStats(spark, leaf).nFiles >= 1)
  }

  test("planFileCount: ceil semantics and floor of one") {
    assert(Maintenance.planFileCount(0, 100) == 1)
    assert(Maintenance.planFileCount(100, 100) == 1)
    assert(Maintenance.planFileCount(101, 100) == 2)
    assert(Maintenance.planFileCount(1000, 100) == 10)
    intercept[IllegalArgumentException](Maintenance.planFileCount(10, 0))
  }

  test("layoutStats of a missing directory is empty, not an error") {
    assert(Maintenance.layoutStats(spark, "target/does_not_exist_xyz")
      == Maintenance.LayoutStats(0, 0))
  }
}
