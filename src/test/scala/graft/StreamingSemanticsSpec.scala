package graft

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState,
  GroupStateTimeout, ListState, MapState, OutputMode, StatefulProcessor,
  StatefulProcessorWithInitialState, StreamingQueryException, TTLConfig,
  TimeMode, TimerValues, Trigger, ValueState}

/** Multi-batch streaming semantics the single-batch AvailableNow oracle
  * can't exercise: watermark-driven late-data drop, cross-batch dedup
  * state, and state persistence in flatMapGroupsWithState. Each test
  * drives a MemoryStream through explicit micro-batches with
  * processAllAvailable() (deterministic replay — no wall-clock coupling).
  */
class StreamingSemanticsSpec extends SparkSpec {

  import spark.implicits._

  private def ts(min: Int): java.sql.Timestamp =
    new java.sql.Timestamp(1688342400000L + min * 60000L) // 2023-07-03 00:00 UTC

  test("watermark finalizes windows and drops late events (append mode)") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, Long)]
    val agg = in.toDF().toDF("ts", "v")
      .withWatermark("ts", "5 minutes")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(sum("v").as("sv"))
      .select(col("window.start").cast("long").as("w"), col("sv"))
    val q = agg.writeStream.format("memory").queryName("wm_test")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: events in window [0,10); max ts 9min -> watermark 4min,
      // window not finalized yet -> append emits nothing
      in.addData((ts(1), 1L), (ts(9), 2L))
      q.processAllAvailable()
      assert(spark.table("wm_test").count() == 0)
      // batch 2: ts 21min -> watermark 16min > 10 -> window [0,10) closes.
      in.addData((ts(21), 10L))
      q.processAllAvailable()
      val closed = spark.table("wm_test").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(closed.toSeq == Seq((1688342400L, 3L)))
      // batch 3: a very late event for the closed window is DROPPED -> the
      // closed window's sum never changes, no duplicate emission
      in.addData((ts(2), 100L))
      q.processAllAvailable()
      val after = spark.table("wm_test").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(after.toSeq == Seq((1688342400L, 3L)))
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark suppresses cross-batch duplicates") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, String)]
    val deduped = in.toDF().toDF("ts", "k")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark(Seq("k"))
    val q = deduped.writeStream.format("memory").queryName("dedup_test")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData((ts(0), "a"), (ts(1), "b"), (ts(1), "a"))
      q.processAllAvailable()
      // duplicate "a" arriving in a LATER batch, still within the watermark
      in.addData((ts(3), "a"))
      q.processAllAvailable()
      val keys = spark.table("dedup_test").collect().map(_.getString(1)).sorted
      assert(keys.toSeq == Seq("a", "b"))
    } finally q.stop()
  }

  test("foreachBatch sink writes idempotent batch_id partitions") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.StreamOps
    val dir = tmpDir("febatch") + "/out"
    val in = MemoryStream[(Long, Double)]
    in.addData((1L, 10.0), (2L, 20.0))
    val out = StreamOps.runForeachBatchSink(spark, in.toDF().toDF("k", "v"), dir)
    assert(out.count() == 2)
    assert(out.select("batch_id").distinct().count() == 1)
    // replaying the same batch id overwrites, not duplicates (idempotency)
    val replay = MemoryStream[(Long, Double)]
    replay.addData((1L, 10.0), (2L, 20.0), (3L, 30.0))
    val out2 = StreamOps.runForeachBatchSink(spark, replay.toDF().toDF("k", "v"), dir)
    assert(out2.count() == 3)
  }

  test("foreachBatch sink returns an empty frame for an all-empty stream, not a schema error") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.StreamOps
    // the batch fires but writes zero rows -> no part files in the sink;
    // schema inference would throw, the explicit read schema must not
    val dir = tmpDir("febatch_empty") + "/out"
    val in = MemoryStream[(Long, Double)]
    in.addData((1L, 10.0))
    val out = StreamOps.runForeachBatchSink(spark,
      in.toDF().toDF("k", "v").filter(org.apache.spark.sql.functions.col("k") < 0), dir)
    assert(out.count() == 0)
    assert(out.columns.toSeq == Seq("k", "v", "batch_id"))
  }

  test("crash after a batch's write + restart from checkpoint is exactly-once") {
    // The at-least-once worst case: the sink write for batch 1 SUCCEEDS,
    // then the job dies before the offset commit. The restarted query
    // replays batch 1 from the checkpoint; the batch-id-keyed dynamic
    // partition overwrite makes the replay land on exactly its own
    // output — the full recovery path behind q_stream_foreach_batch's
    // exactly-once claim, here actually exercised with an injected crash.
    import org.apache.spark.sql.types._
    val base = new java.io.File(tmpDir("crashsrc"))
    val src = new java.io.File(base, "in"); src.mkdirs()
    val ckpt = new java.io.File(base, "ckpt").getAbsolutePath
    val out = new java.io.File(base, "out").getAbsolutePath
    Seq((1L, "a"), (2L, "b"), (3L, "c")).zipWithIndex.foreach { case ((k, v), i) =>
      val tmp = new java.io.File(base, s"_w$i")
      Seq((k, v)).toDF("k", "v").coalesce(1).write.parquet(tmp.getAbsolutePath)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val f = new java.io.File(src, f"f$i%03d.parquet")
      java.nio.file.Files.move(part.toPath, f.toPath)
      require(f.setLastModified(1000000000000L + i * 60000L))
      org.apache.commons.io.FileUtils.deleteDirectory(tmp)
    }
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType)))
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def start() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src.getAbsolutePath)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.withColumn("batch_id", lit(batchId))
          .write.partitionBy("batch_id")
          .option("partitionOverwriteMode", "dynamic")
          .mode("overwrite").parquet(out)
        if (batchId == 1 && !crashed.getAndSet(true))
          throw new RuntimeException("injected crash AFTER batch 1's write")
      }
      .trigger(Trigger.AvailableNow()).start()
    val q1 = start()
    intercept[StreamingQueryException] { q1.awaitTermination() }
    assert(crashed.get(), "the injected crash must actually fire")
    val q2 = start()
    q2.awaitTermination()
    val rows = spark.read.parquet(out)
      .select(col("k"), col("v"), col("batch_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    // every record exactly once, batch 1 replayed onto itself, batch 2 ran
    assert(rows == Seq((1L, "a", 0L), (2L, "b", 1L), (3L, "c", 2L)))
  }

  test("q_stream_foreach_batch is deterministic across full replays, no duplicates") {
    // the catalog entry runs the whole stream into a fresh sink per
    // invocation; two runs must agree exactly, and within a run every
    // event appears once (exactly-once output from at-least-once delivery)
    val run1 = SparkEntry.queries("q_stream_foreach_batch")(spark, "/root/testdata/sf0.001")
      .collect().map(_.toSeq).toSeq
    val run2 = SparkEntry.queries("q_stream_foreach_batch")(spark, "/root/testdata/sf0.001")
      .collect().map(_.toSeq).toSeq
    assert(run1.nonEmpty && run1 == run2)
    assert(run1.map(_.head).distinct.size == run1.size, "duplicate event_ids in sink")
  }

  test("RocksDB state store yields identical results to the default provider") {
    // providers change WHERE state lives (heap vs local disk), never what
    // it contains: the same multi-batch session-window stream must emit
    // identical finalized sessions under both. RocksDB is the 100 TB
    // deployment choice (off-heap incremental-checkpoint state); this
    // pins that switching providers is a pure operational decision.
    def run(table: String, provider: Option[String]): Seq[(Long, Long, Long)] = {
      val providerKey = graft.streaming.StreamOps.RocksDbProviderConf._1
      val prevProvider = spark.conf.getOption(providerKey)
      provider.foreach(spark.conf.set(providerKey, _))
      try {
        implicit val ctx = spark.sqlContext
        val in = MemoryStream[(java.sql.Timestamp, Long)]
        val agg = in.toDF().toDF("ts", "uid")
          .withWatermark("ts", "5 minutes")
          .groupBy(session_window(col("ts"), "10 minutes"), col("uid"))
          .agg(count(lit(1)).as("n"))
          .select(col("uid"), col("session_window.start").cast("long").as("w"), col("n"))
        val q = agg.writeStream.format("memory").queryName(table)
          .outputMode(OutputMode.Append()).start()
        try {
          in.addData((ts(1), 1L), (ts(5), 1L), (ts(2), 2L))   // open sessions
          q.processAllAvailable()
          in.addData((ts(40), 9L))                            // watermark closes them
          q.processAllAvailable()
          spark.table(table).collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
        } finally q.stop()
      } finally prevProvider match {
        case Some(p) => spark.conf.set(providerKey, p)
        case None if provider.isDefined => spark.conf.unset(providerKey)
        case None => ()
      }
    }
    val default = run("ss_default", None)
    val rocks = run("ss_rocks", Some(graft.streaming.StreamOps.RocksDbProviderConf._2))
    assert(default.nonEmpty, "sessions must finalize under the test watermark")
    assert(rocks == default, s"provider changed results:\n$rocks\nvs\n$default")
  }

  test("runToTable's stateStoreProvider param applies RocksDB and restores the conf") {
    import graft.streaming.StreamOps
    val sfDir = "/root/testdata/sf0.001"
    val providerKey = StreamOps.RocksDbProviderConf._1
    val partsKey = "spark.sql.shuffle.partitions"
    // the key resolves to the HDFS-backed default when never set — record
    // whatever the session shows now and require it back afterwards
    val before = spark.conf.getOption(providerKey)
    assert(!before.exists(_.contains("RocksDB")), "precondition: not already RocksDB")
    // the session already runs at the short-run width of 4, which would
    // hide a leaked width: run the streams at another one
    val sessionParts = spark.conf.get(partsKey)
    spark.conf.set(partsKey, "7")
    // every key must come back exactly, RocksDB above all: it must not
    // leak into later streams in the shared session
    def assertRestored(after: String): Unit = {
      assert(spark.conf.getOption(providerKey) == before,
        s"stateStoreProvider leaked out of $after")
      assert(spark.conf.get(partsKey) == "7", s"shuffle partitions leaked out of $after")
    }
    try {
      def agg = StreamOps.eventsStream(spark, sfDir)
        .groupBy(window(col("ts"), "6 hours"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").cast("long").as("w"), col("event_type"), col("n"))
      def collect(name: String, provider: Option[String]) =
        StreamOps.runToTable(spark, agg, name, "complete", provider)
          .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sorted
      val viaDefault = collect("rp_default", None)
      val viaRocks = collect("rp_rocks", Some(StreamOps.RocksDbProviderConf._2))
      assert(viaDefault.nonEmpty && viaRocks == viaDefault)
      assertRestored("runToTable")
      val sink = tmpDir("rp_sink") + "/out"
      StreamOps.runForeachBatchSink(spark,
        StreamOps.eventsStream(spark, sfDir).select("event_id"), sink)
      assertRestored("runForeachBatchSink")
      // a missing index makes the gate's hoisted per-run work throw inside
      // the scope; the session must come back all the same
      intercept[Exception] {
        StreamOps.dedupIngest(spark, sfDir, "target/no_such_signature_index")
      }
      assertRestored("a dedupIngest whose per-run set-up threw")
    } finally spark.conf.set(partsKey, sessionParts)
  }

  test("left-outer stream-stream join null-emits unmatched rows only after watermark eviction") {
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val purchases = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val l = clicks.toDF().toDF("click_ts", "user_id", "click_id")
      .withWatermark("click_ts", "5 minutes")
    val r = purchases.toDF().toDF("p_ts", "p_user", "purchase_id")
      .withWatermark("p_ts", "5 minutes")
    val joined = l.join(r,
        col("user_id") === col("p_user") &&
        col("p_ts") >= col("click_ts") &&
        col("p_ts") <= col("click_ts") + expr("INTERVAL 10 MINUTES"),
        "leftOuter")
      .select(col("click_id"), coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"))
    val q = joined.writeStream.format("memory").queryName("outer_join_test")
      .outputMode(OutputMode.Append()).start()
    try {
      def rows() = spark.table("outer_join_test").collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSeq.sorted
      // batch 1: user 1's click matches a purchase (emits immediately);
      // user 2's click has no purchase — held in state, NOT emitted yet
      clicks.addData((ts(0), 1L, 100L), (ts(0), 2L, 200L))
      purchases.addData((ts(5), 1L, 900L))
      q.processAllAvailable()
      assert(rows() == Seq((100L, 900L)),
        "unmatched click must stay in state while its window can still match")
      // batch 2: watermark jumps past click 200's window end (0+10min);
      // eviction null-emits it exactly once
      clicks.addData((ts(60), 9L, 999L))
      purchases.addData((ts(60), 9L, 888L))
      q.processAllAvailable()
      assert(rows().contains((200L, -1L)),
        "evicted unmatched click must null-emit after the watermark passes its window")
      assert(rows().count(_._1 == 200L) == 1, "exactly-once null emission")
    } finally q.stop()
  }

  test("streaming ingest dedup runs real multi-batch probes that sum to the batch probe") {
    // q_stream_dedup_ingest's contract: (1) the stream genuinely executes
    // multiple micro-batches (distinct batch_id values in the sink — the
    // staged arrival ordinals, not a single end-of-query batch); (2) the
    // union over batches equals the one-shot batch probe + verify of all
    // new docs (per-document independence of new-vs-corpus pairs); and
    // (3) batch attribution follows the staged id-range arithmetic.
    val dir = "/root/testdata/sf0.001"
    val streamed = SparkEntry.queries("q_stream_dedup_ingest")(spark, dir)
      .collect()
    assert(streamed.map(_.getLong(0)).distinct.length >= 2,
      s"expected multiple real micro-batches, got batch_ids " +
        streamed.map(_.getLong(0)).distinct.mkString(","))
    val batch = SparkEntry.queries("q_dedup_incremental")(spark, dir)
      .select("id_new", "id_corpus", "jac").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val unioned = streamed
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(unioned == batch,
      s"streamed union != batch probe:\n$unioned\nvs\n$batch")
    // attribution: each pair's batch_id matches the staged range bucket
    val ids = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") % 5 === 0).agg(min("doc_id"), max("doc_id"))
      .head()
    val (lo, hi) = (ids.getLong(0), ids.getLong(1))
    val step = (hi - lo) / graft.streaming.StreamOps.DefaultChunks
    streamed.foreach { r =>
      val want = if (step <= 0) graft.streaming.StreamOps.DefaultChunks - 1L
        else math.min(graft.streaming.StreamOps.DefaultChunks - 1L,
          (r.getLong(1) - lo) / step)
      assert(r.getLong(0) == want,
        s"pair ${r.getLong(1)} attributed to batch ${r.getLong(0)}, want $want")
    }
  }

  test("chunked staging runs K real micro-batches, chronologically, exactly-once") {
    import graft.streaming.StreamOps
    val sfDir = "/root/testdata/sf0.001"
    val dir = tmpDir("chunked") + "/out"
    // default staging: 4 chronological chunk files + maxFilesPerTrigger=1;
    // the foreachBatch sink tags rows with their batch id, making the
    // incremental execution directly observable
    val ev = StreamOps.eventsStream(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"))
    val out = StreamOps.runForeachBatchSink(spark, ev, dir)
    val batches = out.groupBy("batch_id")
      .agg(count(lit(1)).as("n"), min("ts").as("lo"), max("ts").as("hi"))
      .orderBy("batch_id").collect()
    assert(batches.count(_.getLong(1) > 0) >= StreamOps.DefaultChunks,
      s"expected >= ${StreamOps.DefaultChunks} non-empty micro-batches, " +
        s"got ${batches.toSeq}")
    // chronological batch order: each batch's events strictly follow the
    // previous batch's (so the watermark only ever advances and no event
    // arrives below it — the invariant that keeps the batch oracles valid)
    val nonEmpty = batches.filter(_.getLong(1) > 0)
    nonEmpty.sliding(2).foreach {
      case Array(a, b) =>
        assert(!a.getTimestamp(3).after(b.getTimestamp(2)),
          s"batch ${b.getLong(0)} overlaps batch ${a.getLong(0)} in event time")
      case _ => ()
    }
    // exactly-once coverage: every event lands in exactly one batch
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val total = spark.read.parquet(s"$sfDir/events.parquet").count()
    assert(out.count() == total)
    assert(out.select("event_id").distinct().count() == total)
  }

  test("multi-batch catalog streams equal their single-batch results at any chunking") {
    import graft.streaming.StreamOps
    val sfDir = "/root/testdata/sf0.001"
    // the catalog's tumbling agg under incremental execution must produce
    // the same final table as one end-of-query batch — complete mode +
    // chronological arrival means no late drops at ANY chunk count (the
    // invariant is the chronological split itself, not the number 4)
    def run(chunks: Int): Seq[Seq[Any]] = StreamOps.runToTable(spark,
      StreamOps.eventsStream(spark, sfDir, chunks)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "6 hours"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .select(unix_micros(col("window.start")).as("win_start"), col("event_type"),
          col("n"), col("sum_value")),
      s"tumbling_c$chunks", "complete").collect().map(_.toSeq).toSeq.sortBy(_.toString)
    val multi = StreamOps.tumbling(spark, sfDir).collect().map(_.toSeq).toSeq.sortBy(_.toString)
    val single = run(1)
    assert(multi.nonEmpty && multi == single)
    assert(run(2) == single)
    assert(run(8) == single)
  }

  test("chained stateful aggregations are chunk-invariant and emit only finalized days") {
    import graft.streaming.StreamOps
    val sfDir = "/root/testdata/sf0.001"
    // two stateful operators in one query: the hour->day cascade must
    // produce the same appended set under incremental execution at any
    // chronological chunking (state handoff between the operators is
    // watermark-driven, and chronological arrival means no late drops),
    // and every emitted day must be FINALIZED — day end at or below the
    // final watermark (max event ms - 1h), the rule the oracle replays.
    def run(chunks: Int): Seq[Seq[Any]] = StreamOps.runToTable(spark,
      StreamOps.eventsStream(spark, sfDir, chunks)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .groupBy(window(col("window"), "1 day"), col("event_type"))
        .agg(sum("n").as("n_events"))
        .select(unix_micros(col("window.start")).as("day_start"),
          col("event_type"), col("n_events")),
      s"chained_c$chunks", "append").collect().map(_.toSeq).toSeq.sortBy(_.toString)
    val multi = run(4)
    assert(multi.nonEmpty)
    assert(run(1) == multi)
    assert(run(8) == multi)
    val evs = graft.queries.tbl(spark, sfDir, "events")
    val wmMs = evs.select(max(unix_millis(col("ts")))).head().getLong(0) - 3600000L
    val dayUs = 24L * 3600 * 1000000L
    multi.foreach { row =>
      val dayEndMs = (row.head.asInstanceOf[Long] + dayUs) / 1000L
      assert(dayEndMs <= wmMs,
        s"day starting ${row.head} emitted past the final watermark")
    }
  }

  test("chunked staging tolerates a degenerate single-timestamp dataset") {
    import graft.streaming.StreamOps
    // `<dir>/<table>.parquet` as one parquet file, as the test tables ship
    def source(table: String, df: org.apache.spark.sql.DataFrame): String = {
      val dir = tmpDir("degenerate")
      df.coalesce(1).write.parquet(s"$dir/${table}_src")
      val part = new java.io.File(s"$dir/${table}_src").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(dir, s"$table.parquet"))
      dir
    }
    def events(ts: String) = spark.range(10).selectExpr(
      "id AS event_id", s"CAST($ts AS LONG) AS ts",
      "id % 3 AS user_id", "'click' AS event_type",
      "CAST(id AS DOUBLE) AS value", "'{}' AS props")
    // all events on ONE instant: every middle chunk's time range is empty.
    // Staging must skip the empty chunks (not crash), and the stream must
    // still process every row in the batches that remain.
    val counted = StreamOps.runToTable(spark,
      StreamOps.eventsStream(spark, source("events", events("1700000000000000000")))
        .groupBy(col("user_id")).agg(count(lit(1)).as("n")),
      "degenerate_counts", "complete")
    assert(counted.agg(sum("n")).head.getLong(0) == 10)
    // an entirely null staging key would stage nothing and silently drop
    // every row: the stager refuses it, for events and documents alike
    val nullTs = intercept[IllegalArgumentException] {
      StreamOps.eventsStream(spark, source("events", events("NULL")))
    }
    assert(nullTs.getMessage.contains("ts is entirely null"), nullTs.getMessage)
    val nullIds = intercept[IllegalArgumentException] {
      StreamOps.newDocsStream(spark, source("documents", spark.range(10)
        .selectExpr("CAST(NULL AS LONG) AS doc_id", "'some text' AS text")), 5, 0)
    }
    assert(nullIds.getMessage.contains("doc_id is entirely null"), nullIds.getMessage)
  }

  test("flatMapGroupsWithState carries state across micro-batches") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, Double)]
    val counts = in.toDS()
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Double), (Long, Long, Double)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[(Long, Double)], state: GroupState[(Long, Double)]) =>
          val (n0, s0) = state.getOption.getOrElse((0L, 0.0))
          var n = n0; var s = s0
          rows.foreach { r => n += 1; s += r._2 }
          state.update((n, s))
          Iterator((key, n, s))
      }.toDF("user", "n", "s")
    val q = counts.writeStream.format("memory").queryName("state_test")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData((7L, 1.0), (7L, 2.0))
      q.processAllAvailable()
      in.addData((7L, 4.0))
      q.processAllAvailable()
      // update mode emits one row per batch; the LAST reflects merged state
      val rows = spark.table("state_test").filter(col("user") === 7)
        .collect().map(r => (r.getLong(1), r.getDouble(2)))
      assert(rows.last == ((3L, 7.0)))
      assert(rows.head == ((2L, 3.0)))
    } finally q.stop()
  }

  test("transformWithState emits batch-identical results to flatMapGroupsWithState") {
    // Same corpus, same chunking (3 real micro-batches), both update-mode:
    // the per-batch emission multisets must match row-for-row — the two
    // APIs differ in WHERE state lives (typed RocksDB handles vs one
    // opaque object), never in what a batch emits.
    val dir = "/root/testdata/sf0.001"
    val fmgws = graft.streaming.StreamOps.statefulCounts(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val tws = graft.streaming.StreamOps.statefulCountsTws(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(tws == fmgws && tws.nonEmpty)
    // and across REAL multi-batch runs: per-key intermediate trajectories
    // agree batch-for-batch (both emit one row per key per touched batch)
    val fm3 = graft.streaming.StreamOps.statefulCounts(spark, dir, chunks = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val tw3 = graft.streaming.StreamOps.statefulCountsTws(spark, dir, chunks = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(tw3 == fm3 && tw3.size >= fmgws.size)
  }

  test("transformWithState event-time timers + ListState: session summaries fire on watermark expiry") {
    // A 30s-inactivity session detector — the shape timers exist for: NO
    // row triggers the emission; the watermark does. Each key's events
    // accrete in a typed ListState; every batch re-arms a single timer at
    // (max event time + 30s); when the watermark passes it, the expired-
    // timer callback emits the session summary and clears both handles.
    class SessionTimeoutProcessor
        extends StatefulProcessor[Long, (Long, java.sql.Timestamp), (Long, Long, Long, Long)] {
      @transient private var events: ListState[Long] = _
      @transient private var timer: ValueState[Long] = _
      override def init(om: OutputMode, tm: TimeMode): Unit = {
        events = getHandle.getListState[Long]("events", Encoders.scalaLong, TTLConfig.NONE)
        timer = getHandle.getValueState[Long]("timer", Encoders.scalaLong, TTLConfig.NONE)
      }
      override def handleInputRows(key: Long, rows: Iterator[(Long, java.sql.Timestamp)],
                                   tv: TimerValues): Iterator[(Long, Long, Long, Long)] = {
        var maxMs = if (timer.exists()) timer.get() - 30000L else Long.MinValue
        rows.foreach { r =>
          events.appendValue(r._2.getTime / 1000L)
          maxMs = math.max(maxMs, r._2.getTime)
        }
        if (timer.exists()) getHandle.deleteTimer(timer.get())
        val expiry = maxMs + 30000L
        getHandle.registerTimer(expiry)
        timer.update(expiry)
        Iterator.empty
      }
      override def handleExpiredTimer(key: Long, tv: TimerValues,
                                      info: ExpiredTimerInfo): Iterator[(Long, Long, Long, Long)] = {
        val secs = events.get().toSeq
        events.clear(); timer.clear()
        Iterator((key, secs.size.toLong, secs.min, secs.max))
      }
    }

    implicit val ctx = spark.sqlContext
    val providerKey = graft.streaming.StreamOps.RocksDbProviderConf._1
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey, graft.streaming.StreamOps.RocksDbProviderConf._2)
    val in = MemoryStream[(Long, Long)] // (user, event epoch-seconds)
    val sessions = in.toDS().toDF("user", "sec")
      .withColumn("ts", timestamp_seconds(col("sec")))
      .withWatermark("ts", "0 seconds")
      .select(col("user"), col("ts")).as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new SessionTimeoutProcessor,
        TimeMode.EventTime(), OutputMode.Append())
      .toDF("user", "n_events", "min_sec", "max_sec")
    val q = sessions.writeStream.format("memory").queryName("tws_timers")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: two users; timers armed at 50s (u1) and 45s (u2);
      // watermark ends at 20s — nothing fires inside processAllAvailable
      in.addData((1L, 10L), (1L, 20L), (2L, 15L))
      q.processAllAvailable()
      assert(spark.table("tws_timers").count() == 0,
        "no timer may fire before the watermark passes its expiry")
      // batch 2: (3, 100) advances the watermark to 100s; the engine runs
      // the extra watermark-advancement batch, firing u1 (50s) and u2
      // (45s) — but NOT u3, whose fresh timer sits at 130s
      in.addData((3L, 100L))
      q.processAllAvailable()
      val fired2 = spark.table("tws_timers").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(fired2 == Set((1L, 2L, 10L, 20L), (2L, 1L, 15L, 15L)))
      // batch 3: watermark to 300s — u3's 130s timer fires with exactly
      // the one event its ListState accreted; u4 arms at 330s and stays
      in.addData((4L, 300L))
      q.processAllAvailable()
      val fired3 = spark.table("tws_timers").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(fired3 == fired2 + ((3L, 1L, 100L, 100L)))
      // batch 4: the EQUALITY boundary, planted to the millisecond — u4's
      // timer sits at exactly 330s and (6, 330) advances the watermark
      // (delay 0) to exactly 330000 ms. TimerStateImpl.getExpiredTimers
      // scans the expiry-sorted index while expiry <= watermark (the
      // comparison compiles to `lcmp; ifgt break`), so expiry == watermark
      // FIRES. This pins the tie-break the q_stream_session_timeout oracle
      // encodes as `deadline <= final watermark` — if a Spark upgrade ever
      // flips the boundary to strict <, this assertion catches it.
      in.addData((6L, 330L))
      q.processAllAvailable()
      val fired4 = spark.table("tws_timers").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(fired4 == fired3 + ((4L, 1L, 300L, 300L)),
        "a timer whose expiry EQUALS the watermark must fire (expiry <= watermark)")
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set(providerKey, p)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("transformWithState MapState + initial-state bootstrap warm-starts from a batch snapshot") {
    // The production restart/migration pattern: a new TWS query boots its
    // state from a BATCH snapshot (e.g. aggregates computed from the lake,
    // or a decommissioned fMGWS job's final output) instead of replaying
    // history. Per-(user, event_type) counts live in a typed MapState;
    // handleInitialState seeds it once per key before any input row.
    class TypeCountsProcessor
        extends StatefulProcessorWithInitialState[Long, (Long, String), (Long, String, Long), (Long, String, Long)] {
      @transient private var counts: MapState[String, Long] = _
      override def init(om: OutputMode, tm: TimeMode): Unit =
        counts = getHandle.getMapState[String, Long]("counts",
          Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
      override def handleInitialState(key: Long, s: (Long, String, Long),
                                      tv: TimerValues): Unit =
        counts.updateValue(s._2, s._3)
      override def handleInputRows(key: Long, rows: Iterator[(Long, String)],
                                   tv: TimerValues): Iterator[(Long, String, Long)] = {
        val touched = scala.collection.mutable.LinkedHashSet.empty[String]
        rows.foreach { r =>
          val prev = if (counts.containsKey(r._2)) counts.getValue(r._2) else 0L
          counts.updateValue(r._2, prev + 1L)
          touched += r._2
        }
        touched.iterator.map(t => (key, t, counts.getValue(t)))
      }
    }

    implicit val ctx = spark.sqlContext
    val providerKey = graft.streaming.StreamOps.RocksDbProviderConf._1
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey, graft.streaming.StreamOps.RocksDbProviderConf._2)
    // snapshot: user 1 already saw 5 clicks; user 2 already saw 2 views
    val snapshot = Seq((1L, "click", 5L), (2L, "view", 2L))
      .toDS().groupByKey(_._1)
    val in = MemoryStream[(Long, String)]
    val out = in.toDS()
      .groupByKey(_._1)
      .transformWithState(new TypeCountsProcessor,
        TimeMode.None(), OutputMode.Update(), snapshot)
      .toDF("user", "event_type", "n")
    val q = out.writeStream.format("memory").queryName("tws_init")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData((1L, "click"), (1L, "view"), (3L, "click"))
      q.processAllAvailable()
      val rows = spark.table("tws_init").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      // user 1's click count CONTINUES from the snapshot (5 -> 6), its view
      // starts fresh; user 3 (absent from snapshot) starts at 1; user 2's
      // snapshot state exists but emits nothing until an input row arrives
      assert(rows == Set((1L, "click", 6L), (1L, "view", 1L), (3L, "click", 1L)))
      in.addData((2L, "view"))
      q.processAllAvailable()
      val rows2 = spark.table("tws_init").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(rows2.contains((2L, "view", 3L)),
        "user 2's first input must continue from its bootstrapped count")
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set(providerKey, p)
        case None => spark.conf.unset(providerKey)
      }
    }
  }
}
