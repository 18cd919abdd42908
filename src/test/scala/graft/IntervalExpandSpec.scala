package graft

import graft.ops.IntervalExpand
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Golden + quirk tests for the flagship operator (SURVEY §2.8 Q3/Q4/Q5).
  * Reference semantics: /root/reference/pyspark_skript/pyspark_script.py:67-124.
  */
class IntervalExpandSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("start_time", StringType),
    StructField("end_time", StringType),
    StructField("samples", IntegerType),
    StructField("temperature", DoubleType)))

  private def readings(rows: Seq[Row]) =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  test("golden: 3-sample interval expands to 3 evenly spaced rows") {
    val df = readings(Seq(Row("2023-07-03 00:00:00", "2023-07-03 00:00:30", 3, 21.5)))
    val out = IntervalExpand.faithful(df).collect().map(r =>
      (r.getAs[String]("start_time"), r.getAs[String]("end_time"), r.getAs[Double]("temperature")))
    assert(out.toSeq == Seq(
      ("2023-07-03 00:00:00", "2023-07-03 00:00:10", 21.5),
      ("2023-07-03 00:00:10", "2023-07-03 00:00:20", 21.5),
      ("2023-07-03 00:00:20", "2023-07-03 00:00:30", 21.5)))
  }

  test("Q3 quirk: samples=0 produces two bogus rows (sequence(0,-1) = [0,-1])") {
    val df = readings(Seq(Row("2023-07-03 00:00:00", "2023-07-03 00:00:30", 0, 1.0)))
    val out = IntervalExpand.faithful(df).collect()
    assert(out.length == 2)
    // delta is 0 for samples=0, so both rows collapse onto start_time
    assert(out.forall(_.getAs[String]("start_time") == "2023-07-03 00:00:00"))
    assert(out.forall(_.getAs[String]("end_time") == "2023-07-03 00:00:00"))
  }

  test("Q4 quirk: null samples row vanishes (inner posexplode of null array)") {
    val df = readings(Seq(
      Row("2023-07-03 00:00:00", "2023-07-03 00:00:30", null, 1.0),
      Row("2023-07-03 01:00:00", "2023-07-03 01:00:10", 1, 2.0)))
    val out = IntervalExpand.faithful(df).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Double]("temperature") == 2.0)
  }

  test("Q5 quirk: non-dividing span truncates offsets to whole seconds") {
    // 10s / 3 samples: delta = fl(10/3) = 3.3333333333333335 (IEEE rounds up),
    // so sample boundaries truncate to whole seconds (00:13 for 13.33s) and
    // interior widths are uneven (3,3,4 / 6,7,7) — second-granularity drift.
    val df = readings(Seq(
      Row("2023-07-03 00:00:00", "2023-07-03 00:00:10", 3, 1.0),
      Row("2023-07-03 01:00:00", "2023-07-03 01:00:20", 3, 2.0)))
    val out = IntervalExpand.faithful(df).collect().map(r =>
      (r.getAs[String]("start_time"), r.getAs[String]("end_time")))
    assert(out.toSeq == Seq(
      ("2023-07-03 00:00:00", "2023-07-03 00:00:03"),
      ("2023-07-03 00:00:03", "2023-07-03 00:00:06"),
      ("2023-07-03 00:00:06", "2023-07-03 00:00:10"),
      ("2023-07-03 01:00:00", "2023-07-03 01:00:06"),
      ("2023-07-03 01:00:06", "2023-07-03 01:00:13"),
      ("2023-07-03 01:00:13", "2023-07-03 01:00:20")))
  }

  test("faithful: the range exchange keeps a global start_time order across partitions") {
    // 240 one-sample intervals with distinct starts, landed out of order
    val rows = new scala.util.Random(7).shuffle((0 until 240).toList).map { i =>
      val t = java.time.LocalDateTime.of(2023, 7, 3, 0, 0).plusSeconds(i * 37L)
      val f = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      Row(t.format(f), t.plusSeconds(30).format(f), 1, i.toDouble)
    }
    val out = IntervalExpand.faithful(readings(rows))
    val starts = out.collect().map(_.getAs[String]("start_time")).toSeq
    assert(starts.size == 240 && starts == starts.sorted)
    assert(out.rdd.getNumPartitions ==
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
  }

  test("faithful: output schema drops bookkeeping columns, keeps carried values") {
    val df = readings(Seq(Row("2023-07-03 00:00:00", "2023-07-03 00:00:10", 1, 3.0)))
    val out = IntervalExpand.faithful(df)
    assert(out.columns.toSeq == Seq("start_time", "end_time", "temperature"))
  }

  test("strict: samples<=0 or null emit zero rows; last end preserved exactly") {
    val df = readings(Seq(
      Row("2023-07-03 00:00:00", "2023-07-03 00:00:10", 3, 1.0),
      Row("2023-07-03 01:00:00", "2023-07-03 01:00:30", 0, 2.0),
      Row("2023-07-03 02:00:00", "2023-07-03 02:00:30", null, 3.0)))
    val out = IntervalExpand.strict(df).orderBy("sample_idx").collect()
    assert(out.length == 3)
    val last = out.last
    assert(last.getAs[java.sql.Timestamp]("end_time").toString == "2023-07-03 00:00:10.0")
  }

  test("property: rowcount = sum(samples) and per-row monotone timestamps") {
    val rows = (1 to 50).map(i =>
      Row(f"2023-07-03 ${i % 24}%02d:00:00", f"2023-07-03 ${i % 24}%02d:10:00", i % 7 + 1, i.toDouble))
    val df = readings(rows)
    val out = IntervalExpand.faithful(df)
    assert(out.count() == rows.map(_.getInt(2)).sum)
    // within each source interval, expanded starts are monotone
    val byTemp = out.collect().groupBy(_.getAs[Double]("temperature"))
    byTemp.values.foreach { g =>
      val starts = g.map(_.getAs[String]("start_time")).toSeq
      assert(starts == starts.sorted)
    }
  }
}
