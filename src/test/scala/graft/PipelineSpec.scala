package graft

import graft.io.{Pipeline, Sinks, Sources}

import java.nio.file.{Files, Paths}

/** End-to-end pipeline tests: latest-file selection (Q9 anchored rule),
  * fail-fast on empty input (Q1/Q2), idempotent re-run (Q8). */
class PipelineSpec extends SparkSpec {

  /** A source dir one level inside a registered temp dir, so the `_out`
    * and `_ledger` siblings a test derives from it are deleted with it. */
  private def srcDir(prefix: String): String =
    Files.createDirectory(Paths.get(tmpDir(prefix), "src")).toString

  private def mkSource(): String = {
    val dir = srcDir("pipe_src")
    def write(name: String, rows: Seq[String]): Unit =
      Files.write(Paths.get(dir, name),
        ("start_time,end_time,samples,temperature" +: rows).mkString("\n").getBytes)
    write("20230601_measurement_data.csv",
      Seq("2023-06-01 00:00:00,2023-06-01 00:00:10,2,99.0"))
    write("20230703_measurement_data.csv",
      Seq("2023-07-03 00:00:00,2023-07-03 00:00:30,3,21.5",
          "2023-07-03 01:00:00,2023-07-03 01:00:10,1,22.0"))
    write("backup_20991231.csv", Seq("2023-01-01 00:00:00,2023-01-01 00:00:10,1,0.0"))
    write("9999_bad_date.csv", Seq("2023-01-01 00:00:00,2023-01-01 00:00:10,1,0.0"))
    dir
  }

  test("latest-file selection: anchored date prefix, invalid dates skipped") {
    val dir = mkSource()
    val files = Sources.listFiles(spark, dir)
    assert(files.size == 4)
    // backup_20991231.csv must NOT win: date must prefix the basename (Q9)
    val latest = Sources.latestByFilenameDate(files)
    assert(latest.exists(_.endsWith("20230703_measurement_data.csv")))
  }

  test("empty source fails fast (Q1/Q2 fixed: no silent fallback)") {
    val empty = srcDir("pipe_empty")
    intercept[IllegalStateException] {
      Pipeline.run(spark, empty, empty + "_out")
    }
  }

  test("pipeline expands the newest file only; idempotent re-run keeps counts") {
    val dir = mkSource()
    val out = dir + "_out"
    val n1 = Pipeline.run(spark, dir, out)
    assert(n1 == 4) // 3 + 1 samples from the 20230703 file
    val firstRead = spark.read.parquet(out).count()
    assert(firstRead == 4)
    // re-run: same ingest_date partition overwritten, NOT appended (Q8)
    Pipeline.run(spark, dir, out)
    assert(spark.read.parquet(out).count() == 4)
    // reference-faithful append mode duplicates instead
    val out2 = dir + "_append"
    Pipeline.run(spark, dir, out2, idempotent = false)
    Pipeline.run(spark, dir, out2, idempotent = false)
    assert(spark.read.parquet(out2).count() == 8)
  }

  test("incremental run processes each dated file once, new files only on re-run") {
    val dir = mkSource()
    val out = dir + "_inc_out"
    val ledger = dir + "_ledger"
    // first run: both valid dated files (bad-date + unanchored skipped)
    val (files1, rows1) = Pipeline.runIncremental(spark, dir, out, ledger)
    assert(files1.map(f => f.substring(f.lastIndexOf('/') + 1)).sorted ==
      Seq("20230601_measurement_data.csv", "20230703_measurement_data.csv"))
    assert(rows1 == 6) // 2 samples (June) + 4 samples (July)
    assert(spark.read.parquet(out).count() == 6)
    // second run: ledger says everything is processed
    val (files2, rows2) = Pipeline.runIncremental(spark, dir, out, ledger)
    assert(files2.isEmpty && rows2 == 0)
    assert(spark.read.parquet(out).count() == 6)
    // a newly landed file is picked up alone; existing partitions untouched
    Files.write(Paths.get(dir, "20230801_measurement_data.csv"),
      ("start_time,end_time,samples,temperature\n" +
       "2023-08-01 00:00:00,2023-08-01 00:00:20,2,25.0\n").getBytes)
    val (files3, rows3) = Pipeline.runIncremental(spark, dir, out, ledger)
    assert(files3.map(f => f.substring(f.lastIndexOf('/') + 1)) ==
      Seq("20230801_measurement_data.csv"))
    assert(rows3 == 2)
    assert(spark.read.parquet(out).count() == 8)
  }

  test("incremental run unions same-date files into one partition write") {
    val dir = srcDir("pipe_samedate")
    def write(name: String, row: String): Unit =
      Files.write(Paths.get(dir, name),
        s"start_time,end_time,samples,temperature\n$row\n".getBytes)
    // two files with the SAME date prefix -> same ingest_date partition
    write("20230901_station_a.csv", "2023-09-01 00:00:00,2023-09-01 00:00:10,2,20.0")
    write("20230901_station_b.csv", "2023-09-01 01:00:00,2023-09-01 01:00:30,3,21.0")
    val out = dir + "_out"
    val (files, rows) = Pipeline.runIncremental(spark, dir, out, dir + "_ledger")
    assert(files.size == 2 && rows == 5)
    // the overwrite-by-partition write must keep BOTH files' rows
    assert(spark.read.parquet(out).count() == 5)
  }

  test("incremental run keeps processed rows when a same-date file arrives LATER") {
    val dir = srcDir("pipe_latedate")
    def write(name: String, row: String): Unit =
      Files.write(Paths.get(dir, name),
        s"start_time,end_time,samples,temperature\n$row\n".getBytes)
    val out = dir + "_out"
    val ledger = dir + "_ledger"
    write("20231001_station_a.csv", "2023-10-01 00:00:00,2023-10-01 00:00:10,2,20.0")
    val (_, rows1) = Pipeline.runIncremental(spark, dir, out, ledger)
    assert(rows1 == 2)
    // a SECOND file lands for the already-processed date: the partition
    // rebuild must union the ledger's same-date files, not erase them
    write("20231001_station_b.csv", "2023-10-01 01:00:00,2023-10-01 01:00:30,3,21.0")
    val (files2, rows2) = Pipeline.runIncremental(spark, dir, out, ledger)
    assert(files2.map(f => f.substring(f.lastIndexOf('/') + 1)) ==
      Seq("20231001_station_b.csv"))
    assert(rows2 == 5) // rebuilt partition: 2 (station_a) + 3 (station_b)
    assert(spark.read.parquet(out).count() == 5)
    // third run: nothing pending, nothing lost
    val (files3, _) = Pipeline.runIncremental(spark, dir, out, ledger)
    assert(files3.isEmpty && spark.read.parquet(out).count() == 5)
    // a recorded file that vanished from the source fails LOUDLY on the
    // next same-date rebuild instead of silently dropping its rows
    write("20231001_station_c.csv", "2023-10-01 02:00:00,2023-10-01 02:00:10,1,22.0")
    Files.delete(Paths.get(dir, "20231001_station_a.csv"))
    intercept[IllegalStateException] {
      Pipeline.runIncremental(spark, dir, out, ledger)
    }
  }

  test("ledger ignores a leftover temp marker; reruns still see every committed marker") {
    import graft.io.Ledger
    val dir = mkSource()
    val out = dir + "_out"
    val ledger = dir + "_ledger"
    val (files1, _) = Pipeline.runIncremental(spark, dir, out, ledger)
    assert(files1.size == 2)
    // one marker per date written, each under only its final
    // run-<uuid>.txt name
    def markers() = new java.io.File(ledger).list().filterNot(_.startsWith(".")).toSeq
    assert(markers().size == 2 &&
      markers().forall(n => n.startsWith("run-") && n.endsWith(".txt")))
    // a crash mid-record leaves a hidden, partial temp marker behind
    Files.write(Paths.get(ledger, ".run-crashed.txt.tmp"), "/half/writ".getBytes)
    val seen = Ledger.processed(spark, ledger)
    assert(seen.size == 2 && seen.forall(_.endsWith("_measurement_data.csv")))
    val (files2, rows2) = Pipeline.runIncremental(spark, dir, out, ledger)
    assert(files2.isEmpty && rows2 == 0)
    Files.write(Paths.get(dir, "20230801_measurement_data.csv"),
      ("start_time,end_time,samples,temperature\n" +
       "2023-08-01 00:00:00,2023-08-01 00:00:20,2,25.0\n").getBytes)
    val (files3, _) = Pipeline.runIncremental(spark, dir, out, ledger)
    assert(files3.size == 1 && markers().size == 3)
    assert(Ledger.processed(spark, ledger).size == 3)
  }

  test("a failing write throws on every attempt and leaves the cache manager empty") {
    val dir = mkSource()
    // a target under a regular file: every write fails
    val blocker = Files.createFile(Paths.get(tmpDir("pipe_blocker"), "blocker.txt"))
    spark.catalog.clearCache()
    intercept[Exception] {
      Pipeline.runWithRetry(spark, dir, blocker.resolve("out").toString,
        maxAttempts = 2, backoffMs = 0)
    }
    assert(spark.sharedState.cacheManager.isEmpty, "run leaked its cache")
    intercept[Exception] {
      Pipeline.runIncremental(spark, dir, blocker.resolve("inc").toString, dir + "_ledger")
    }
    assert(spark.sharedState.cacheManager.isEmpty, "runIncremental leaked its cache")
  }

  private val header = "start_time,end_time,samples,temperature"

  test("the returned row count is the written count on every path, quirks included") {
    val dir = srcDir("pipe_counted")
    // 3 samples, Q3 (samples = 0 expands to 2 rows), Q4 (null samples: 0 rows)
    Files.write(Paths.get(dir, "20230703_station_a.csv"), Seq(header,
      "2023-07-03 00:00:00,2023-07-03 00:00:30,3,21.5",
      "2023-07-03 01:00:00,2023-07-03 01:00:30,0,22.0",
      "2023-07-03 02:00:00,2023-07-03 02:00:30,,23.0").mkString("\n").getBytes)
    def onDisk(out: String) = spark.read.parquet(out).count()
    val idem = Pipeline.run(spark, dir, dir + "_idem")
    assert(idem == 5 && onDisk(dir + "_idem") == idem)
    val appended = Pipeline.run(spark, dir, dir + "_append", idempotent = false)
    assert(appended == 5 && onDisk(dir + "_append") == appended)
    val (_, fresh) = Pipeline.runIncremental(spark, dir, dir + "_inc", dir + "_ledger")
    assert(fresh == 5 && onDisk(dir + "_inc") == fresh)
    // a same-date arrival rebuilds the partition: both files' rows count
    Files.write(Paths.get(dir, "20230703_station_b.csv"), Seq(header,
      "2023-07-03 03:00:00,2023-07-03 03:00:20,2,24.0").mkString("\n").getBytes)
    val (files, rebuilt) = Pipeline.runIncremental(spark, dir, dir + "_inc", dir + "_ledger")
    assert(files.size == 1 && rebuilt == 7 && onDisk(dir + "_inc") == rebuilt)
  }

  test("empty input writes 0 rows and never blocks on the row count") {
    import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
    import org.scalatest.time.SpanSugar._
    implicit val signaler: Signaler = ThreadSignaler
    for ((kind, body) <- Seq("header-only" -> header.getBytes, "0-byte" -> Array.emptyByteArray);
         strict <- Seq(false, true)) {
      val dir = srcDir("pipe_nodata")
      Files.write(Paths.get(dir, "20230703_measurement_data.csv"), body)
      TimeLimits.failAfter(60.seconds) {
        assert(Pipeline.run(spark, dir, dir + "_out", strict = strict) == 0,
          s"run, $kind, strict=$strict")
        val (files, rows) =
          Pipeline.runIncremental(spark, dir, dir + "_inc", dir + "_ledger", strict = strict)
        assert(files.size == 1 && rows == 0, s"runIncremental, $kind, strict=$strict")
      }
    }
  }

  test("the pipeline write keeps the sort's full width") {
    val dir = srcDir("pipe_width")
    // 1,200 one-minute intervals with distinct starts: a small shuffle that
    // AQE would coalesce to one partition if the sort let it
    val rows = (0 until 1200).map { i =>
      val t = java.time.LocalDateTime.of(2023, 7, 3, 0, 0).plusMinutes(i)
      val f = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      s"${t.format(f)},${t.plusMinutes(1).format(f)},2,${i % 40}.5"
    }
    Files.write(Paths.get(dir, "20230703_measurement_data.csv"),
      (header +: rows).mkString("\n").getBytes)
    val out = dir + "_out"
    assert(Pipeline.run(spark, dir, out) == 2400)
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val parts = new java.io.File(out, "ingest_date=2023-07-03").list()
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet")).toSeq
    assert(parts.size == width, s"expected $width part files, got $parts")
  }

  test("loader stages the newest dated CSV into the source dir (S6)") {
    import graft.io.Loader
    val staging = srcDir("stage")
    def write(name: String, rows: Seq[String]): Unit =
      Files.write(Paths.get(staging, name),
        ("start_time,end_time,samples,temperature" +: rows).mkString("\n").getBytes)
    write("20230601_measurement_data.csv",
      Seq("2023-06-01 00:00:00,2023-06-01 00:00:10,2,99.0"))
    write("20230703_measurement_data.csv",
      Seq("2023-07-03 00:00:00,2023-07-03 00:00:30,3,21.5"))
    write("notadate.csv", Seq("2023-01-01 00:00:00,2023-01-01 00:00:10,1,0.0"))
    val source = staging + "_source"
    // empty staging -> None (no crash), nothing staged
    assert(Loader.stageLatest(spark, staging + "_missing", source).isEmpty)
    // stages ONLY the newest dated file; end-to-end run consumes it
    val staged = Loader.stageLatest(spark, staging, source)
    assert(staged.exists(_.endsWith("20230703_measurement_data.csv")))
    assert(Sources.listFiles(spark, source).size == 1)
    assert(Pipeline.run(spark, source, source + "_out") == 3)
    // re-staging is idempotent (overwrite, not duplicate)
    Loader.stageLatest(spark, staging, source)
    assert(Sources.listFiles(spark, source).size == 1)
  }

  test("retry wrapper retries then rethrows (sync retry-or-fail contract)") {
    val empty = srcDir("retry_empty")
    // empty source: every attempt fails -> last failure is rethrown
    intercept[IllegalStateException] {
      Pipeline.runWithRetry(spark, empty, empty + "_out", maxAttempts = 2, backoffMs = 1)
    }
    // healthy source: first attempt succeeds
    val dir = mkSource()
    assert(Pipeline.runWithRetry(spark, dir, dir + "_retry_out", backoffMs = 1) == 4)
  }

  test("compaction merges small files without changing the data") {
    import graft.io.Maintenance
    import spark.implicits._
    val dir = tmpDir("compact") + "/t"
    // write deliberately fragmented: 16 partitions -> 16 small files
    (1L to 1000L).toDF("id").repartition(16).write.parquet(dir)
    val sumBefore = spark.read.parquet(dir).agg(org.apache.spark.sql.functions.sum("id"))
      .head().getLong(0)
    val before = Maintenance.layoutStats(spark, dir)
    val after = Maintenance.compact(spark, dir)
    assert(before.nFiles == 16 && after.nFiles == 1)
    val out = spark.read.parquet(dir)
    assert(out.count() == 1000)
    assert(out.agg(org.apache.spark.sql.functions.sum("id")).head().getLong(0) == sumBefore)
  }

  test("clustered write partitions by key and sorts within files") {
    import graft.io.Maintenance
    import spark.implicits._
    val dir = tmpDir("clustered") + "/t"
    val df = (1L to 500L).map(i => (i % 3, (i * 37) % 101, i)).toDF("p", "c", "id")
    Maintenance.writeClustered(df, dir, "p", Seq("c"))
    // directory layout gives pruning
    assert(spark.read.parquet(dir).where($"p" === 1).count() == df.where($"p" === 1).count())
    // each physical file is sorted by the clustering key
    val files = new java.io.File(dir).listFiles().filter(_.getName.startsWith("p="))
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    files.foreach { f =>
      val cs = spark.read.parquet(f.getAbsolutePath).select("c").collect().map(_.getLong(0))
      assert(cs.sameElements(cs.sorted), s"file ${f.getName} not sorted by c")
    }
  }

  test("explicit schema matches the inferSchema path on clean data") {
    val dir = mkSource()
    val f = dir + "/20230703_measurement_data.csv"
    val explicit = Sources.readCsv(spark, f)
    val inferred = Sources.readCsv(spark, f, schema = None)
    assert(explicit.count() == inferred.count())
    assert(explicit.schema.fieldNames.toSeq == inferred.schema.fieldNames.toSeq)
  }
}
