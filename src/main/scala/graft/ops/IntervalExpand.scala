package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Interval expansion: densify run-length-encoded sensor intervals into a
  * uniform per-sample time series.
  *
  * Semantics derived from the reference pipeline
  * (`/root/reference/pyspark_skript/pyspark_script.py:67-124`): each input row
  * `[start_time, end_time)` with `samples` readings becomes `samples` output
  * rows with evenly-spaced synthetic `start_time`/`end_time`; all other
  * columns are carried through unchanged.
  *
  * Two modes:
  *   - [[faithful]] reproduces the reference bit-for-bit, including its
  *     quirks (SURVEY.md §2.8): Q3 (`samples=0` yields `sequence(0,-1)` =
  *     `[0,-1]`, i.e. two bogus rows), Q4 (`samples IS NULL` rows vanish via
  *     inner posexplode of a null array), Q5 (second-granularity truncation,
  *     string-typed output timestamps, last-row end drift).
  *   - [[strict]] is the sane 100TB-scale variant: `samples <= 0` or null
  *     emits zero rows, output keeps native TimestampType, and the original
  *     interval `end_time` is preserved exactly on the last expanded row.
  *
  * Scale notes: the expansion is a narrow map + generate (no shuffle); the
  * only shuffle is the optional global sort, which at 100 TB should be
  * replaced by per-partition (per-sensor / per-day) sort — hence `sort` is a
  * parameter rather than hardwired. The sort is a range exchange at an
  * explicit width (`spark.sql.shuffle.partitions`) plus a local sort, the
  * same physical plan as `orderBy`: AQE never coalesces a user-specified
  * width, and would otherwise fold one day's small pre-expansion shuffle
  * into a single task that then runs the whole expansion and write.
  */
object IntervalExpand {

  private def sortedByStart(df: DataFrame): DataFrame = {
    val width = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    df.repartitionByRange(width, col("start_time").asc)
      .sortWithinPartitions(col("start_time").asc)
  }

  /** Reference-faithful mode (quirks Q3/Q4/Q5 reproduced).
    * Mirrors pyspark_script.py:67-124 with the typed Column DSL (no string
    * `expr()` parsing). Output `start_time`/`end_time` are strings
    * `yyyy-MM-dd HH:mm:ss` in the session time zone.
    *
    * Execution shape deliberately differs from the reference's
    * transform-into-array-of-structs-then-posexplode: higher-order-function
    * lambdas are CodegenFallback (interpreted, per-element boxing), so we
    * posexplode the bare index sequence and compute the formatted timestamps
    * in a flat projection that whole-stage codegen compiles. The expression
    * trees per output value are identical (`from_unixtime(unix_ts(start) +
    * idx * delta)` over IEEE doubles), so output is bit-for-bit the same.
    */
  def faithful(df: DataFrame, sort: Boolean = true): DataFrame = {
    val sorted = if (sort) sortedByStart(df) else df
    val withDelta = sorted.withColumn(
      "timedelta_per_sample",
      when(col("samples").isNotNull && col("samples") =!= 0,
        (unix_timestamp(col("end_time")) - unix_timestamp(col("start_time"))) / col("samples")
      ).otherwise(lit(0)))
    // sequence(0, samples-1): samples=0 -> sequence(0,-1) = [0,-1] (Q3);
    // samples null -> null array -> row dropped by inner posexplode (Q4).
    withDelta
      .withColumn("__start_s", unix_timestamp(col("start_time")))
      .select(col("*"),
        posexplode(sequence(lit(0), col("samples") - 1)).as(Seq("index", "__idx")))
      .withColumn("start_time",
        from_unixtime(col("__start_s") + col("__idx") * col("timedelta_per_sample")))
      .withColumn("end_time",
        from_unixtime(col("__start_s") + (col("__idx") + 1) * col("timedelta_per_sample")))
      .drop("index", "__idx", "__start_s", "samples", "timedelta_per_sample")
  }

  /** Strict mode: null/non-positive `samples` emit zero rows; output keeps
    * TimestampType at second granularity; the final expanded row's
    * `end_time` equals the original interval `end_time` (no drift). Keeps
    * `sample_idx` so output has a deterministic per-interval ordering key.
    */
  def strict(df: DataFrame, sort: Boolean = false): DataFrame = {
    val sorted = if (sort) sortedByStart(df) else df
    val startSec = unix_timestamp(col("start_time"))
    val endSec = unix_timestamp(col("end_time"))
    val valid = sorted.filter(col("samples").isNotNull && col("samples") > 0)
    val delta = (endSec - startSec) / col("samples")
    valid
      .withColumn("__start_s", startSec)
      .withColumn("__end_s", endSec)
      .withColumn("__delta", delta)
      .select(col("*"), posexplode(sequence(lit(0), col("samples") - 1)).as(Seq("sample_idx", "__i")))
      .withColumn("start_time",
        timestamp_seconds((col("__start_s") + col("__i") * col("__delta")).cast("long")))
      .withColumn("end_time",
        when(col("__i") === col("samples") - 1, timestamp_seconds(col("__end_s")))
          .otherwise(timestamp_seconds((col("__start_s") + (col("__i") + 1) * col("__delta")).cast("long"))))
      .drop("__start_s", "__end_s", "__delta", "__i", "samples")
  }
}
