package graft

import graft.io.{Sinks, Sources}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.types._

/** Round-trip every interchange format the engine speaks: values, types,
  * and row sets must survive parquet, orc, json-lines, and csv (the text
  * formats via explicit read schemas — inference is banned at scale). */
class FormatRoundTripSpec extends SparkSpec {
  import spark.implicits._

  private val rows = Seq(
    (1L, "alpha", 1.5, true),
    (2L, "beta,with,commas", -2.25, false),
    (3L, "gamma \"quoted\"", 0.0, true))

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("s", StringType),
    StructField("v", DoubleType), StructField("flag", BooleanType)))

  test("parquet/orc/json/csv round-trip values and types") {
    val df = rows.toDF("id", "s", "v", "flag")
    for (fmt <- Seq("parquet", "orc", "json", "csv")) {
      val dir = new java.io.File(tmpDir(s"graft_fmt_$fmt"))
      val path = new java.io.File(dir, "data").getAbsolutePath
      Sinks.writeFormat(df, path, fmt, SaveMode.Overwrite)
      val back = fmt match {
        case "parquet" => spark.read.parquet(path)
        case "orc" => Sources.readOrc(spark, path)
        case "json" => Sources.readJsonLines(spark, path, schema)
        case "csv" => spark.read.option("header", "true").schema(schema).csv(path)
      }
      assert(back.schema == schema, s"$fmt schema drifted: ${back.schema}")
      val got = back.as[(Long, String, Double, Boolean)].collect().sortBy(_._1)
      assert(got.toSeq == rows, s"$fmt round-trip mismatch: ${got.toSeq}")
    }
  }

  test("schema evolution: mergeSchema unions columns across parquet batches") {
    // The long-lived-table reality: batches written months apart carry
    // different column sets. Parquet appends are schema-per-file;
    // mergeSchema at read reconciles them — new columns null-fill old
    // files, dropped columns null-fill new ones. (At 100 TB turn
    // mergeSchema on per-read, not session-wide: it footer-scans every
    // file in the listing, so pair it with partition pruning.)
    val dir = new java.io.File(tmpDir("graft_evolve"))
    val path = new java.io.File(dir, "t").getAbsolutePath
    Seq((1L, "a")).toDF("id", "old_col").write.parquet(path)
    Seq((2L, 9.5)).toDF("id", "new_col").write.mode(SaveMode.Append).parquet(path)
    val merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert(merged.columns.sorted.toSeq == Seq("id", "new_col", "old_col"))
    val byId = merged.collect().map(r => r.getLong(0) ->
      (Option(r.getAs[String]("old_col")), Option(r.getAs[java.lang.Double]("new_col")))).toMap
    assert(byId(1L) == (Some("a"), None) && byId(2L) == (None, Some(9.5)))
    // without mergeSchema the read picks ONE file's schema — the silent
    // column-loss failure mode the option exists to prevent
    val unmerged = spark.read.parquet(path)
    assert(unmerged.columns.length < 3)
  }

  test("idempotent sink threads storage options through to the writer") {
    val dir = new java.io.File(tmpDir("graft_sink_opts"))
    val path = new java.io.File(dir, "t").getAbsolutePath
    val df = rows.toDF("id", "s", "v", "flag")
    // a real writer option proves the pass-through plumbing; an encryption
    // option would ride the same seam on an object-store filesystem
    Sinks.writeIdempotent(df, path, "2024-01-01",
      storageOptions = Map("compression" -> "gzip"))
    val files = new java.io.File(path, "ingest_date=2024-01-01").listFiles()
    assert(files.exists(_.getName.contains(".gz.parquet")),
      s"option did not reach the writer: ${files.map(_.getName).toSeq}")
    assert(spark.read.parquet(path).count() == rows.size)
  }
}
