package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkEntry.localSession(cpus.toInt)
    // Untimed warmup: first-touch costs (parquet footer reads, codegen /
    // Janino compilation, shuffle machinery init) are session artifacts,
    // not query costs — without this they all land on whichever query the
    // Map happens to iterate first and distort its number by seconds.
    queries.registerAll(spark, sfDir)
    queries.tableNames.foreach(t => spark.table(t).limit(1).count())
    spark.range(1000).groupBy((org.apache.spark.sql.functions.col("id") % 7).as("k"))
      .count().orderBy("k").count()
    // JSON machinery warmup (Jackson + JsonPath init) — otherwise the first
    // JSON query in Map order absorbs seconds of one-time class loading.
    locally {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types._
      spark.range(10).select(
        from_json(lit("""{"k":1}"""), StructType(Seq(StructField("k", IntegerType)))).getField("k"),
        get_json_object(lit("""{"k":1}"""), "$.k")).count()
    }
    // Host-speed calibration probe: a FIXED in-memory sort+agg workload
    // that touches no testdata — MIN of 7 reps after 3 codegen/JIT
    // warmups. Two consecutive rounds saw the whole catalog drift
    // uniformly (0.97x -> 1.24x vs pin) with zero workload regressions —
    // ambient host-speed shifts were consuming the 2x regression gate's
    // headroom. Recording the probe alongside the per-query medians lets
    // the gate normalize: a uniformly slower host inflates probe and
    // queries alike (ratio cancels), while a genuine code regression
    // moves only its query. The workload spans the engine's cost centers
    // (codegen'd hash agg over 48M rows, a 9973-key shuffle, a
    // range-partitioned sort) so it drifts with the machine
    // characteristics the catalog feels. MIN of 7, not median: the probe
    // estimates the machine's attainable speed, and the minimum is the
    // sample statistic least polluted by GC pauses and scheduling noise.
    // Probe-length tuning (measured across fresh JVMs on one host): at 8M
    // rows min-of-7 wobbled ~1.5x run to run, at 16M ~1.4x, at 48M ~1.1x
    // — rep length must amortize scheduler noise before the min settles.
    def calibrate(): Double = {
      import org.apache.spark.sql.functions._
      def once(): Double = {
        val t0 = System.nanoTime()
        spark.range(0L, 48L * 1000 * 1000, 1L, 32)
          .select(col("id"), pmod(hash(col("id")), lit(9973)).as("k"),
            (col("id") % 1000).cast("double").as("v"))
          .groupBy("k")
          .agg(sum("v").as("s"), avg("v").as("a"), count(lit(1)).as("c"))
          .orderBy("k").count()
        (System.nanoTime() - t0) / 1e9
      }
      (1 to 3).foreach(_ => once()) // codegen + JIT + shuffle warmup, untimed
      List.fill(7)(once()).min
    }
    // IO-sensitive calibration probe (round 16): the CPU probe above is
    // blind to disk contention — the round-15 driver artifact flagged the
    // RocksDB-backed streaming family at 2.3-2.8x while the CPU probe sat
    // inside its quiet range (0.366), so the contention guard never
    // fired. This probe writes and reads back a FIXED incompressible
    // parquet (xxhash64 columns defeat snappy) through the same tmpdir
    // filesystem the streaming state stores, checkpoints, and staging
    // sinks live on; an IO-loaded box inflates it the way it inflates
    // the state-store family. MIN of 3 after 1 warmup — the attainable-
    // speed statistic, same rationale as the CPU probe's min-of-7.
    def calibrateIo(): Double = {
      import org.apache.spark.sql.functions._
      val dir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_bench_ioprobe")
      def once(): Double = {
        val t0 = System.nanoTime()
        spark.range(0L, 4L * 1000 * 1000, 1L, 32)
          .select(col("id"), xxhash64(col("id")).as("a"),
            xxhash64(col("id"), lit(1)).as("b"),
            xxhash64(col("id"), lit(2)).as("c"))
          .write.mode("overwrite").parquet(dir.getAbsolutePath)
        // max, not sum: summing 4M pseudorandom longs overflows under
        // ANSI; max still forces the full column read
        spark.read.parquet(dir.getAbsolutePath)
          .agg(max("a"), max("b"), max("c")).head()
        (System.nanoTime() - t0) / 1e9
      }
      once() // FS/file-committer warmup, untimed
      val r = List.fill(3)(once()).min
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
      r
    }
    // Contention self-guard (round 12): the r11 committed artifact was
    // measured under 4.4x ambient contention (probe 1.564 s vs the pin's
    // 0.354 s) — zero genuine regressions, but the artifact misrepresented
    // the workload and forced every reader through the normalization
    // argument. When the probe lands above 2x the PIN's probe (same-cpus
    // pin only — probes are config-specific), retry up to 4 times with a
    // 30 s backoff (contention windows on a shared box are minutes long);
    // if it never settles, divert the full-map artifact to
    // bench_queries_contended.json so the committed gate input is never
    // clobbered by a contended run, and mark the stdout line "contended".
    val (pinCalib, pinCalibIo): (Option[Double], Option[Double]) = {
      val pinPath = sys.env.getOrElse("SPARK_GRAFT_PIN", "baseline_pin_local32.json")
      try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(pinPath)), "UTF-8")
        // Parse only the top-level header: everything before the first
        // "queries" key. Pin files are SINGLE-LINE JSON (this main writes
        // them), so the keys must be matched mid-line — a line-start
        // anchor here never matches and silently kills the contention
        // guard (round-13 review catch). Shadowing is impossible within
        // the header: the only content before "queries" is the fixed
        // sf/cpus/calib/total/failed fields, and query names (q_*) all
        // live after the split point.
        val header = txt.split("\"queries\"", 2)(0)
        val c = """"calib"\s*:\s*([0-9.]+)""".r
          .findFirstMatchIn(header).map(_.group(1).toDouble)
        val cio = """"calib_io"\s*:\s*([0-9.]+)""".r
          .findFirstMatchIn(header).map(_.group(1).toDouble)
        val pc = """"cpus"\s*:\s*"?(\d+)""".r
          .findFirstMatchIn(header).map(_.group(1))
        if (pc.contains(cpus)) (c, cio) else (None, None)
      } catch { case scala.util.control.NonFatal(_) => (None, None) }
    }
    var calib = calibrate()
    var calibIo = calibrateIo()
    // contention = EITHER probe over 2x its pin: CPU load and disk load
    // are independent failure modes (round 15's was IO-only), and either
    // one misrepresents the catalog's quiet-box numbers.
    def probesOver: Boolean =
      pinCalib.exists(pc => calib > 2.0 * pc) ||
        pinCalibIo.exists(pi => calibIo > 2.0 * pi)
    locally {
      var attempts = 0
      while (probesOver && attempts < 4) {
        System.err.println(f"[bench] probes cpu=${calib}%.3f s io=" +
          f"${calibIo}%.3f s over 2x pin (cpu=${pinCalib.getOrElse(-1.0)}%.3f" +
          f" io=${pinCalibIo.getOrElse(-1.0)}%.3f) — ambient contention; " +
          s"retry ${attempts + 1}/4 in 30 s")
        Thread.sleep(30000L)
        calib = calibrate()
        calibIo = calibrateIo()
        attempts += 1
      }
    }
    val contended = probesOver
    // optional comma-separated subset for local iteration
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = only.fold(SparkEntry.queries)(names =>
      SparkEntry.queries.view.filterKeys(names).toMap)
    // Per-query warmup (untimed): each unique plan pays one-time analysis +
    // whole-stage-codegen (Janino) compilation on its first execution —
    // measured at 1.5-7.5 s/query against sub-second steady-state. At the
    // target scale those compile costs amortize to zero, so timing them
    // would grade plan-compilation latency, not execution throughput. Run
    // every selected query once untimed, then time the second execution
    // (non-fatal failures are ignored here; the timed pass reports them).
    // Set SPARK_GRAFT_COLD=1 to skip and time first executions instead.
    if (!sys.env.get("SPARK_GRAFT_COLD").contains("1")) {
      selected.foreach { case (_, fn) =>
        try fn(spark, sfDir).count()
        catch { case scala.util.control.NonFatal(_) => () } }
      // warmup caches are dropped by the per-query clearCache below
    }
    // Per-query MEDIAN of SPARK_GRAFT_RUNS timed samples (default 3), with
    // the samples taken as INTERLEAVED full catalog passes: pass 1 times
    // every query, then pass 2, then pass 3. BENCH_r06 showed why
    // consecutive per-query samples are not enough — a sustained ambient
    // contention window (minutes long on a shared box) poisons all 3
    // back-to-back samples of whichever queries it overlaps (q_from_json
    // recorded 6.21 s vs 0.34 s quiet steady state). Interleaving separates
    // one query's samples by a whole catalog pass (~minutes), so a
    // contention window inflates at most one sample per query and the
    // median discards it. Set SPARK_GRAFT_RUNS=1 for quick local iteration.
    val runs = sys.env.get("SPARK_GRAFT_RUNS")
      .flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(3).max(1)
    val names = selected.keys.toSeq.sorted
    // a failed query reports time -1 (never a plausible elapsed value) and
    // is listed in "failed" — silent failure would otherwise masquerade as
    // a phantom speedup in recorded baselines. Once a query fails in any
    // pass it is skipped in later passes: it is poisoned to -1 regardless,
    // and a deterministic failure would otherwise multiply the wall time of
    // failing passes by `runs`.
    val poisoned = scala.collection.mutable.Set.empty[String]
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    for (pass <- 1 to runs; name <- names if !poisoned(name)) {
      val fn = selected(name)
      // Cache scoping (untimed): queries that persist() internally leave
      // session-lifetime entries; across a 100-query timed pass those
      // accumulate in the driver heap and one eviction-thrashed run can
      // put a 10x outlier into the gating artifact (BENCH_r03:
      // q_contamination 28.9 s recorded vs 2.3 s reproduced). Clearing
      // BEFORE each timed run isolates it: every run starts from zero
      // cache, pays its own materialization, and inherits nothing from
      // predecessors. Codegen stays warm (keyed by generated source, not
      // cache entries).
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count()
            samples(name) = ((System.nanoTime() - t0) / 1e9) :: samples(name) }
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed (pass $pass): ${e.getMessage}")
          poisoned += name
      }
    }
    def median(ts: List[Double]): Double = ts.sorted.apply((ts.size - 1) / 2)
    val results = names.map { name =>
      name -> (if (poisoned(name)) -1.0 else median(samples(name)))
    }.toMap
    // per-query MIN across passes: the artifact's own noise diagnostic — a
    // median far above its min flags residual contention without a rerun
    val mins = names.map { name =>
      name -> (if (poisoned(name)) -1.0 else samples(name).min)
    }.toMap
    // Round 1's single ~4 KB line (83 queries at full double precision) was
    // truncated by the driver's output capture → "parsed": null, no recorded
    // bench total. Keep the stdout line SHORT and parseable: total + failed +
    // a headline subset only; the full per-query map goes to a file.
    def f3(v: Double): String = if (v < 0) "-1" else f"$v%.3f"
    val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.values.filter(_ >= 0).sum
    val headline = Seq(
      "q_agg_pricing", "q_join_shuffle", "q_join_broadcast", "q_window_running",
      "q_interval_expand", "q_dedup_minhash_lsh", "q_sim_topk_native",
      "q_from_json", "q_stream_sessions", "q_topk_per_group")
    val qs = headline.flatMap(k => results.get(k).map(v => "\"" + k + "\":" + f3(v)))
      .mkString("{", ",", "}")
    val fullMap = results.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + f3(v) }.mkString("{", ",", "}")
    val minMap = mins.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + f3(v) }.mkString("{", ",", "}")
    // A SPARK_GRAFT_ONLY subset run must not clobber the committed
    // full-catalog artifact (the regression gate's input) unless the
    // caller explicitly routed it somewhere with SPARK_GRAFT_BENCH_OUT.
    val defaultOut =
      if (only.isDefined) "bench_queries_subset.json"
      else if (contended) "bench_queries_contended.json"
      else "bench_queries.json"
    val mapPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut))
    val contendedField = if (contended) ""","contended":true""" else ""
    java.nio.file.Files.write(mapPath,
      s"""{"sf":"$sfDir","cpus":$cpus,"calib":${f3(calib)},"calib_io":${f3(calibIo)}$contendedField,"total":${f3(total)},"failed":$failed,"queries":$fullMap,"query_mins":$minMap}""".getBytes("UTF-8"))
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","calib":${f3(calib)},"calib_io":${f3(calibIo)}$contendedField,"queries":$qs,"failed":$failed,"sf":"$sfDir","n_queries":${results.size},"full_map":"${mapPath.toAbsolutePath}"}""")
    spark.stop()
  }
}
