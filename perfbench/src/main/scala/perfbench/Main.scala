package perfbench

import graft.io.{Ledger, Pipeline}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.util.control.NonFatal

/** One timed operation of a closed loop with one client: a pipeline job, a
  * stream run to completion, or a catalog query. Times are wall-clock
  * milliseconds (the clock listener events carry) plus a nanosecond wall. */
final case class Op(name: String, group: String, pass: Int, traced: Boolean,
                    startMs: Long, endMs: Long, wallS: Double, constructS: Double,
                    constructEndMs: Long, rows: Long, ok: Boolean, snap: Snapshot,
                    extra: Map[String, Double] = Map.empty) {
  def execS: Double = wallS - constructS
}

/** Benchmark harness entry point; `perfbench/run.py` builds and launches it.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --data <sf dir> --expected <json> --out <json> [--spans <json>]
  * perfbench.Main --workload <catalog_mix|stream_microbatch> --dump <dir> ...
  * }}}
  */
object Main {

  /** Batch catalog mix: relational, read-only expand and JSON, the graph
    * loops, LLM and artifact queries. Kept to what one run can warm and
    * time within the benchmark's budget; see perfbench/README.md. */
  val catalog: Seq[(String, String)] = Seq(
    "q_agg_pricing" -> "relational", "q_join_shuffle" -> "relational",
    "q_window_running" -> "relational",
    "q_interval_expand" -> "expand", "q_from_json" -> "json",
    "q_graph_bfs" -> "graph", "q_graph_kcore" -> "graph",
    "q_dedup_minhash_lsh" -> "llm", "q_bpe_apply" -> "llm", "q_curate_pipeline_v3" -> "llm")

  /** Streaming catalog queries; each runs 4 real micro-batches. */
  val streams: Seq[(String, String)] = Seq(
    "q_stream_tumbling", "q_stream_session_timeout", "q_stream_chained_agg",
    "q_stream_outer_join", "q_stream_foreach_batch")
    .map(_ -> "stream")

  /** Intervals per landed CSV: about 225k expanded rows, 2.3 MB of CSV. */
  val IntervalsPerFile = 50000

  /** Pipeline jobs per pass: one period of the arrival schedule. */
  val JobsPerPass = 6

  final case class Conf(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        data: String, expected: String, out: String,
                        spans: Option[String], dump: Option[String])

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val conf = Conf(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv.get("trace").contains("1"), kv("data"), kv("expected"), kv("out"),
      kv.get("spans"), kv.get("dump"))
    val knobs = Seq("SPARK_GRAFT_STATE_PROVIDER", "SPARK_GRAFT_COLD", "SPARK_GRAFT_ONLY")
      .filter(sys.env.contains)
    require(knobs.isEmpty, s"behaviour-changing knobs set: ${knobs.mkString(", ")}")
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val result = conf.workload match {
      case "pipeline_incremental" =>
        // the session PipelineMain builds
        val spark = SparkSession.builder().master(s"local[$cpus]")
          .appName("graft-pipeline")
          .config("spark.sql.shuffle.partitions", cpus)
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.sql.adaptive.enabled", "true")
          .config("spark.ui.enabled", "false")
          .getOrCreate()
        try runPipeline(spark, conf, jvmStartMs) finally spark.stop()
      case w @ ("catalog_mix" | "stream_microbatch") =>
        // the session graft.Bench builds
        val spark = SparkSession.builder().master(s"local[$cpus]")
          .config("spark.sql.shuffle.partitions", cpus)
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.ui.enabled", "false")
          .getOrCreate()
        val names = if (w == "catalog_mix") catalog else streams
        try runQueries(spark, conf, names, jvmStartMs) finally spark.stop()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    Files.writeString(Paths.get(conf.out), Json.render(result))
  }

  private def now(): Long = System.currentTimeMillis()

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  // ---------------------------------------------------------------- queries

  private def runQueries(spark: SparkSession, conf: Conf, names: Seq[(String, String)],
                         jvmStartMs: Long): Map[String, Any] = {
    spark.sparkContext.setLogLevel("WARN")
    log(s"session ready ${(now() - jvmStartMs) / 1000.0} s after JVM start")
    val fns = graft.SparkEntry.queries
    val tracing = new Tracing(spark, streams = names == streams)
    graft.queries.registerAll(spark, conf.data)
    // untimed warmup pass: codegen, JIT, stream staging, artifact fits
    names.map(_._1).sorted.foreach { n =>
      val t0 = System.nanoTime()
      try { spark.catalog.clearCache(); Fingerprint.of(fns(n)(spark, conf.data)) }
      catch { case NonFatal(e) => log(s"warmup $n failed: ${e.getMessage}") }
      log(f"warmup $n%-26s wall ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    conf.dump match {
      case Some(dir) => dump(spark, conf, names.map(_._1), dir)
      case None => timedPasses(spark, conf, names, tracing, jvmStartMs)
    }
  }

  private def timedPasses(spark: SparkSession, conf: Conf, names: Seq[(String, String)],
                          tracing: Tracing, jvmStartMs: Long): Map[String, Any] = {
    val fns = graft.SparkEntry.queries
    val expected = new Expected(conf.expected)
    // start the timed region with the warmup's garbage collected
    System.gc()
    tracing.take()
    val setupS = (now() - jvmStartMs) / 1000.0
    val ops = mutable.ArrayBuffer.empty[Op]
    val deadline = System.nanoTime() + conf.seconds * 1000000000L
    // whole passes only, so every run weighs each query equally. The traced
    // run traces each query in every other pass, half of the queries in
    // odd passes and half in even ones, so untraced twins of the same work
    // give its overhead and warming over the run cancels out
    val minPasses = if (conf.trace) 2 else 1
    var pass = 0
    while (pass < minPasses || System.nanoTime() < deadline) {
      val order = new scala.util.Random(conf.seed * 7919L + pass).shuffle(names)
      order.foreach { case (n, group) =>
        tracing.setTraced(conf.trace && (names.indexWhere(_._1 == n) + pass) % 2 == 1)
        spark.catalog.clearCache()
        tracing.take()
        val ms0 = now()
        val t0 = System.nanoTime()
        var t1 = t0
        var ms1 = ms0
        val outcome =
          try {
            val df = fns(n)(spark, conf.data)
            t1 = System.nanoTime(); ms1 = now()
            Right(Fingerprint.of(df))
          } catch { case NonFatal(e) => Left(s"$n threw: ${e.getMessage}") }
        val t2 = System.nanoTime()
        val ms2 = now()
        val snap = tracing.take()
        val verdict = outcome.flatMap { case (rows, fp) =>
          expected.check(n, rows, fp).toLeft(rows) }
        verdict.left.foreach(log)
        log(f"pass $pass $n%-26s wall ${(t2 - t0) / 1e9}%.3f s construct ${(t1 - t0) / 1e9}%.3f s")
        ops += Op(n, group, pass, tracing.traced, ms0, ms2, (t2 - t0) / 1e9,
          (t1 - t0) / 1e9, ms1, outcome.map(_._1).getOrElse(0L), verdict.isRight, snap)
      }
      pass += 1
    }
    tracing.setTraced(false)
    finish(conf, setupS, ops.toSeq, passes = pass)
  }

  /** Dump each query's result and fingerprint, and the oracle SQL the
    * catalog generates, for tools/establish_expected.py. */
  private def dump(spark: SparkSession, conf: Conf, names: Seq[String],
                   dir: String): Map[String, Any] = {
    val fps = names.map { n =>
      val df = graft.SparkEntry.queries(n)(spark, conf.data)
      val (rows, fp) = Fingerprint.of(df)
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$n")
      n -> Map("rows" -> rows, "fingerprint" -> fp)
    }.toMap
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(Paths.get(dir, "oracle_sql.json"), Json.render(oracle))
    Map("queries" -> fps)
  }

  // --------------------------------------------------------------- pipeline

  private def runPipeline(spark: SparkSession, conf: Conf, jvmStartMs: Long): Map[String, Any] = {
    spark.sparkContext.setLogLevel("WARN")
    log(s"session ready ${(now() - jvmStartMs) / 1000.0} s after JVM start")
    val tracing = new Tracing(spark, streams = false)
    val base = Paths.get("pipeline").toAbsolutePath
    var genNs = 0L
    def gen[T](body: => T): T = {
      val t0 = System.nanoTime()
      try body finally genNs += System.nanoTime() - t0
    }
    // untimed warmup on its own landing zone, full-size files: two new
    // dates, then a rebuild
    locally {
      val warm = new Landing(conf.seed ^ 0x5eedL, IntervalsPerFile, base.resolve("warm_backlog"))
      val landing = base.resolve("warm_landing")
      Files.createDirectories(landing)
      (0 until 3).foreach { i =>
        val a = gen(warm(i))
        Files.move(warm.file(a), landing.resolve(a.name), StandardCopyOption.ATOMIC_MOVE)
        Pipeline.runIncremental(spark, landing.toString, base.resolve("warm_target").toString,
          base.resolve("warm_target/_ledger").toString)
      }
      Seq("warm_backlog", "warm_landing", "warm_target")
        .foreach(d => org.apache.commons.io.FileUtils.deleteDirectory(base.resolve(d).toFile))
    }
    val land = new Landing(conf.seed, IntervalsPerFile, base.resolve("backlog"))
    gen((0 until JobsPerPass).foreach(land(_)))
    val landing = base.resolve("landing")
    val target = base.resolve("target")
    val ledgerDir = target.resolve("_ledger")
    Files.createDirectories(landing)
    System.gc()
    tracing.take()
    val setupS = (now() - jvmStartMs) / 1000.0 - genNs / 1e9

    val byDate = mutable.LinkedHashMap.empty[java.time.LocalDate, List[Arrival]]
    val ops = mutable.ArrayBuffer.empty[Op]
    val deadline = System.nanoTime() + conf.seconds * 1000000000L
    // whole passes of one schedule period (five new dates, one rebuild),
    // so every run weighs new and rebuild jobs alike
    var i = 0
    while (i % JobsPerPass != 0 || i == 0 || System.nanoTime() < deadline) {
      // traced runs trace jobs 1, 2, 5, 6, ...: half of the jobs, and every
      // other rebuild job (arrivals 2, 8, 14, ...)
      tracing.setTraced(conf.trace && i % 4 % 3 != 0)
      val a = land(i)
      Files.move(land.file(a), landing.resolve(a.name), StandardCopyOption.ATOMIC_MOVE)
      val sameDate = a :: byDate.getOrElse(a.date, Nil)
      byDate(a.date) = sameDate
      tracing.take()
      val ms0 = now()
      val t0 = System.nanoTime()
      val outcome =
        try Right(Pipeline.runIncremental(spark, landing.toString, target.toString,
          ledgerDir.toString, strict = false))
        catch { case NonFatal(e) => Left(s"job ${a.name} threw: ${e.getMessage}") }
      val t1 = System.nanoTime()
      val ms1 = now()
      val snap = tracing.take()

      // correctness, outside the timed region
      val expRows = sameDate.map(_.rows).sum
      val expCrc = sameDate.map(_.crcSum).sum
      val l0 = System.nanoTime()
      val processed = Ledger.processed(spark, ledgerDir.toString)
      val ledgerS = (System.nanoTime() - l0) / 1e9
      // the local filesystem keeps a hidden .crc file beside each marker
      val markers = Option(ledgerDir.toFile.listFiles())
        .map(_.count(f => f.isFile && !f.getName.startsWith("."))).getOrElse(0)
      val verdict = outcome.flatMap { case (files, rows) =>
        val landed = byDate.values.flatten.map(_.name).toSet
        val partitions = Option(target.toFile.list()).toSeq.flatten
          .filter(_.startsWith("ingest_date=")).toSet
        lazy val (pRows, pCrc) = partitionFingerprint(spark, target.resolve(s"ingest_date=${a.date}"))
        if (rows != expRows) Left(s"${a.name}: wrote $rows rows, expected $expRows")
        else if (files.map(f => new org.apache.hadoop.fs.Path(f).getName) != Seq(a.name))
          Left(s"${a.name}: job processed $files")
        else if (partitions != byDate.keySet.map(d => s"ingest_date=$d"))
          Left(s"${a.name}: partitions $partitions do not match landed dates")
        else if (processed.map(f => new org.apache.hadoop.fs.Path(f).getName) != landed)
          Left(s"${a.name}: ledger lists ${processed.size} files, ${landed.size} landed")
        else if (pRows != expRows || pCrc != expCrc)
          Left(s"${a.name}: partition holds $pRows rows crc $pCrc, expected $expRows crc $expCrc")
        else Right(rows)
      }
      verdict.left.foreach(log)
      log(f"job $i ${a.name}%-40s wall ${(t1 - t0) / 1e9}%.3f s rows $expRows")
      tracing.take()
      ops += Op(a.name, if (sameDate.size > 1) "rebuild" else "new", i, tracing.traced,
        ms0, ms1, (t1 - t0) / 1e9, 0.0, ms0, outcome.map(_._2).getOrElse(0L),
        verdict.isRight, snap,
        Map("landed_bytes" -> sameDate.map(_.bytes).sum.toDouble,
          "intervals" -> sameDate.map(_.intervals).sum.toDouble,
          "ledger_s" -> ledgerS, "markers" -> markers.toDouble))
      i += 1
    }
    tracing.setTraced(false)
    finish(conf, setupS, ops.toSeq, passes = i / JobsPerPass)
  }

  /** Row count and CRC-32 sum of one output partition, read back from
    * parquet, in the form [[Landing]] computes them. */
  private def partitionFingerprint(spark: SparkSession, dir: Path): (Long, Long) = {
    val r = spark.read.parquet(dir.toString)
      .agg(count(lit(1)), sum(crc32(concat_ws("|", col("start_time"), col("end_time"),
        col("temperature").cast("string")))))
      .head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  // ---------------------------------------------------------------- metrics

  private def finish(conf: Conf, setupS: Double, ops: Seq[Op], passes: Int): Map[String, Any] = {
    val walls = ops.map(_.wallS)
    val sumWall = walls.sum
    val batches = ops.flatMap(_.snap.batches).map(_.triggerMs / 1000.0)
    val e2e = Map(
      "setup_s" -> setupS,
      "op_geomean_s" -> math.exp(walls.map(math.log).sum / walls.size),
      "rows_per_s" -> ops.map(_.rows).sum / sumWall,
      "peak_rss_mb" -> peakRssMb())
    val failed = ops.count(!_.ok)
    def timing(xs: Seq[Double]) = Map("p50_s" -> Stats.median(xs), "samples" -> xs.size) ++
      Stats.tail(xs).map { case (p, v) => Map(s"p${p}_s" -> v) }.getOrElse(Map.empty)
    val passWalls = ops.groupBy(_.pass).values.map(_.map(_.wallS).sum).toSeq
    val named: Map[String, Any] = conf.workload match {
      case "pipeline_incremental" => Map(
        "pipeline.job" -> timing(walls),
        "pipeline.rows_per_s" -> ops.map(_.rows).sum / sumWall)
      case "stream_microbatch" => Map(
        "stream.batch" -> timing(batches),
        "stream.query" -> timing(walls))
      case _ => Map(
        "catalog.query" -> timing(walls),
        "catalog.pass_s" -> Map("p50_s" -> Stats.median(passWalls), "samples" -> passWalls.size))
    }
    val env = Map("cpus" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"),
      "spark" -> org.apache.spark.SPARK_VERSION, "java" -> sys.props("java.version"),
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
      "graft_tmp" -> sys.env.getOrElse("SPARK_GRAFT_TMP", ""))
    val report = Map(
      "workload" -> conf.workload, "seed" -> conf.seed, "env" -> env, "ops" -> ops.size,
      "passes" -> passes, "failed_frac" -> failed.toDouble / math.max(ops.size, 1),
      "setup_s" -> setupS, "peak_rss_mb" -> e2e("peak_rss_mb"),
      "op_walls_s" -> ops.map(o => Seq(o.name, o.wallS))) ++ named
    val traced = ops.filter(_.traced)
    val layer = if (conf.trace) Layers(conf.workload, ops, traced, conf.spans) else Map.empty
    Map("attempted" -> ops.size, "failed" -> failed, "e2e" -> e2e, "layer" -> layer,
      "report" -> report)
  }
}
