package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, ExpiredTimerInfo,
  GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig,
  TimeMode, TimerValues, Trigger, ValueState}
import org.apache.spark.sql.types._

/** Structured Streaming analogues of the batch operators, modeling the
  * reference's monthly batch trigger as `Trigger.AvailableNow()` (process
  * everything currently in the source, then stop — the idiomatic Spark
  * shape of a scheduled batch ingest; SURVEY §1.4).
  *
  * Each op reads `events` as a file stream, runs through a watermarked
  * stateful transform into an in-memory sink, and returns the materialized
  * table — so the driver's batch-oracle comparison applies unchanged.
  * At scale the memory sink becomes a parquet/Kafka sink; the transforms
  * are identical.
  */
case class Ev(user_id: Long, value: Double)
case class UserAgg(user_id: Long, n_events: Long, sum_value: Double)

object StreamOps {

  /** Default chunk count for [[eventsStream]]: every streaming catalog
    * query runs this many REAL micro-batches with cross-batch state and
    * watermark advancement, not one end-of-query batch. */
  val DefaultChunks = 4

  /** Staged-directory memo of [[staged]], keyed by (canonical source
    * path, slice, chunks). The staged tree is IMMUTABLE once built —
    * file-stream sources are read-only consumers with per-query
    * checkpoints, so every stream over the same input can share one
    * staging (a bench pass invokes ~10 streaming queries x several
    * passes; re-staging each time would pay the split read+write ~40x per
    * run for identical bytes). Concurrent first-callers are serialized
    * per key by computeIfAbsent.
    *
    * Known hazards, acceptable for the sequential bench/test usage:
    * (1) the memo is JVM-scoped — two concurrent JVMs over the same source
    * each build their own staging (duplicate bytes, benign: stagings are
    * per-JVM temp dirs, never shared across processes); (2) staging runs
    * batch jobs on the shared session, and the first events staging sets
    * the nanos read flag session-wide through `Sources.eventsRawNanos`,
    * which leaves it set (TESTDATA.md). Nothing here sets or restores
    * that flag: the staged chunks are plain INT64 read under an explicit
    * LongType schema, so no stream depends on it. Driving StreamOps from
    * concurrent threads on one session would need a session-level lock
    * around staging. */
  private val stagedDirs =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Int), String]()

  /** Stages `source` (built only on a memo miss) under a fresh temp dir as
    * `chunks` single-file drops split into equal-width ranges of the
    * integral `keyCol`, with ascending modification times in range order,
    * and returns the dir. Chunk boundaries are lo + step*i with
    * step = (hi − lo) / chunks in integer math, last chunk inclusive of
    * hi — the exact formula the generated oracles mirror. With
    * `tagArrival` each file carries its chunk ordinal as an
    * `arrival_batch` column.
    *
    * One batch read, `chunks` range-filtered single-file writes (the
    * chunks=1 degenerate case is one full-range write — a raw file copy
    * would be cheaper but silently stages an EMPTY directory when the
    * source is a Spark-written dataset dir rather than a single parquet
    * file, so the read path is used for both). A ZERO-ROW source leaves
    * the dir empty — the stream simply runs zero batches. Rows whose key
    * is entirely null are a different, corrupt case: range staging would
    * silently drop every row, so it fails loudly instead. TempDirs
    * registers a RECURSIVE delete-at-exit — File.deleteOnExit is a silent
    * no-op on non-empty dirs, which previously leaked ~10 staged copies
    * per bench pass until the filesystem was cleaned externally. */
  private def staged(src: java.io.File, slice: String, chunks: Int,
                     keyCol: String, tagArrival: Boolean)
                    (source: => DataFrame): String =
    stagedDirs.computeIfAbsent((src.getCanonicalPath, slice, math.max(chunks, 1)), { _ =>
      val stage = graft.io.TempDirs.createDeletedOnExit("graft_stream_src_")
      val nChunks = math.max(chunks, 1)
      val d = source
      val b = d.agg(min(keyCol), max(keyCol), count(lit(1))).head()
      require(b.getLong(2) == 0L || !b.isNullAt(0),
        s"staging source $src has ${b.getLong(2)} rows but $keyCol is " +
          "entirely null; range staging would drop them all")
      val (lo, hi) =
        if (b.isNullAt(0)) (0L, -1L) else (b.getLong(0), b.getLong(1))
      val step = (hi - lo) / nChunks
      val mtimeBase = 1000000000000L // fixed epoch-ms base; only ORDER matters
      for (i <- 0 until (if (hi < lo) 0 else nChunks)) {
        val lower = lo + step * i
        val upper = if (i == nChunks - 1) hi + 1 else lo + step * (i + 1)
        val tmpOut = new java.io.File(stage, s"_chunk_$i")
        val chunk = d.filter(col(keyCol) >= lower && col(keyCol) < upper)
        (if (tagArrival) chunk.withColumn("arrival_batch", lit(i.toLong)) else chunk)
          .coalesce(1).write.parquet(tmpOut.getAbsolutePath)
        val part = tmpOut.listFiles().filter(_.getName.endsWith(".parquet"))
        require(part.length <= 1,
          s"chunk $i staged ${part.length} part files, expected at most 1")
        // an empty range (all keys on one value, or fewer distinct keys
        // than chunks) writes no part file — skip it; the stream simply
        // runs fewer batches
        part.headOption.foreach { p =>
          val chunkFile = new java.io.File(stage, f"chunk_$i%05d.parquet")
          java.nio.file.Files.move(p.toPath, chunkFile.toPath)
          // ascending mtimes: the file source processes oldest-first, so
          // batch order == key order regardless of listing order. A
          // filesystem that rejects setLastModified would silently fall
          // back to creation-order listing, letting events arrive below
          // the watermark — fail loudly at staging time instead.
          require(chunkFile.setLastModified(mtimeBase + i * 60000L),
            s"setLastModified failed on $chunkFile; chunk ordering " +
              "would not match event time and watermark semantics " +
              "would silently corrupt")
        }
        org.apache.commons.io.FileUtils.deleteDirectory(tmpOut)
      }
      stage.getAbsolutePath
    })

  /** File-source stream over the events parquet (ns timestamps → micros).
    * The file-stream source requires a *directory*, so the input is staged
    * into one (in production this is the landing dir that new files drop
    * into — exactly the reference's S3 ingest contract).
    *
    * The staging splits the input into `chunks` CHRONOLOGICAL files
    * (equal-width time ranges on the raw ns timestamp), with ascending
    * modification times matching event-time order, and the stream reads
    * with `maxFilesPerTrigger 1` — so an AvailableNow run executes
    * `chunks` real micro-batches: state carries across batches and the
    * watermark advances batch-over-batch exactly as in a live deployment
    * (a landing directory accretes files in arrival ≈ event-time order).
    * Chronological splitting means no event is ever below the watermark
    * on arrival, so results equal the final-watermark batch semantics the
    * oracles encode — while the state machinery (join buffers, dedup
    * state, watermark eviction incl. outer-join null emission) runs
    * genuinely incrementally (`StreamingSemanticsSpec` asserts the batch
    * count and cross-batch equivalence).
    *
    * `chunks = 1` restores single-file staging — required by update-mode
    * sinks whose per-batch emissions are appended (see
    * [[statefulCounts]]).
    */
  def eventsStream(s: SparkSession, dir: String,
                   chunks: Int = DefaultChunks): DataFrame = {
    val src = new java.io.File(dir, "events.parquet")
    // `eventsRawNanos` absorbs whatever parquet layout the source carries
    // (NANOS, MICROS-NTZ, raw INT64); the rewritten chunks always carry
    // plain INT64 nanos, so the stream itself never depends on the source
    // layout or session state.
    val stagePath = staged(src, "events", chunks, "ts", tagArrival = false) {
      graft.io.Sources.eventsRawNanos(s, src.getAbsolutePath)
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stagePath)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
  }

  /** Sets each of `kv` on the session for the duration of `body`, then
    * puts every key back to its prior value — or unsets it if it was
    * unset — also when `body` throws. */
  private def withConf[T](s: SparkSession, kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> s.conf.getOption(k) }
    kv.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Checkpoint-manager selection (r17, measured; see the scaladoc of
    * [[NioCheckpointFileManager]]): every [[ckpt]] location
    * is a local POSIX path by construction (TempDirs.base is a
    * java.nio Path), and on local paths the default FileContext manager
    * pays ~45 ms of no-native-hadoop shell forks PER atomic write —
    * ~19 such writes per micro-batch once the per-partition state-store
    * delta commits are counted. The nio manager is the correct local
    * implementation of the same protocol (hidden temp + atomic rename);
    * a deployment checkpointing to HDFS/S3 must NOT set this key — its
    * TempDirs/ckpt seam would not be a local path in the first place. */
  private val CfmConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** The short-run policy every stream run here executes `body` under.
    *
    * Stateful operators allocate one state store per shuffle partition,
    * each with per-batch checkpoint file IO — for a short AvailableNow
    * run (4 chunked micro-batches here) that fixed cost dominates, so the
    * stream runs with 4 shuffle/state partitions (state here is tiny; a
    * long-lived production stream with real state volume would keep the
    * session default), the nio checkpoint manager, and `provider` as the
    * state store when one is given. Per-run invariants a caller hoists
    * out of its micro-batch loop are built inside `body`, so a throw
    * there still restores the session. */
  private def shortRun[T](s: SparkSession, provider: Option[String] = None)
                         (body: => T): T =
    withConf(s, Seq("spark.sql.shuffle.partitions" -> "4",
        CfmConfKey -> classOf[NioCheckpointFileManager].getName) ++
      provider.map(RocksDbProviderConf._1 -> _): _*)(body)

  /** Explicit per-query checkpoint dir under [[graft.io.TempDirs.base]].
    * Left unset, Spark creates the temp checkpoint under
    * `java.io.tmpdir` — disk-backed in this sandbox — and every
    * micro-batch pays its offset-WAL write, commit-log write, and
    * per-partition state-store delta commits against that medium
    * (guide §6). These demo streams already run NON-durable temp
    * checkpoints (memory sinks, deleted after the run), so durability
    * is not being traded away: a production deployment with recovery
    * requirements points its checkpoints at durable storage and its
    * state-store working dirs at fast local disk — exactly the split
    * the `SPARK_GRAFT_TMP` seam in TempDirs parameterizes. */
  private def ckpt(): String =
    graft.io.TempDirs.createDeletedOnExit("graft_ckpt_").getAbsolutePath

  /** Starts `writer` on a fresh [[ckpt]] under an AvailableNow trigger
    * and blocks until it has processed everything currently staged. */
  private def runAvailableNow(writer: DataStreamWriter[Row]): Unit =
    writer.option("checkpointLocation", ckpt())
      .trigger(Trigger.AvailableNow()).start().awaitTermination()

  /** The idempotent foreachBatch write: `df` tagged with `id` and
    * dynamic-overwritten into its own `batch_id=` partition of `sink`, so
    * a replayed batch replaces exactly its own output. */
  private def writeBatch(df: DataFrame, id: Long, sink: String): Unit =
    df.withColumn("batch_id", lit(id))
      .write.partitionBy("batch_id")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(sink)

  /** Spark's disk-backed state store. The default (HDFS-backed) provider
    * keeps every store's working state ON HEAP — fine for these demo
    * volumes, a hard wall at 100 TB scale where session/join state can
    * reach hundreds of GB per executor-week. RocksDB keeps state off-heap
    * on local disk with incremental checkpointing; it is the choice for
    * long-lived stateful streams whose working state approaches executor
    * heap (see [[DefaultStateProvider]] for the measured trade at
    * heap-sized state) and is proven result-identical to the default
    * provider in `StreamingSemanticsSpec` (providers change WHERE state
    * lives, never what it contains). */
  val RocksDbProviderConf: (String, String) =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Deployment-level state-store choice for every catalog stream that
    * does not mandate a provider itself. `SPARK_GRAFT_STATE_PROVIDER=
    * rocksdb` flips the whole catalog to RocksDB in one knob; unset keeps
    * Spark's in-memory (HDFS-checkpointed) store.
    *
    * Why in-memory is the DEFAULT and not RocksDB — measured, not argued:
    * a blanket RocksDB default was tried and benchmarked. At sf3 (30×)
    * the watermark-bounded interval joins ran `q_stream_stream_join`
    * 21.2 s / `q_stream_outer_join` 23.9 s under RocksDB vs 6.7 s / 7.4 s
    * under the in-memory store — 3.2× SLOWER, and changelog checkpointing
    * (incremental commits instead of full snapshot uploads) recovered
    * almost none of it (19.4 s / 22.6 s): the cost is the JNI per-key
    * read/write path on the join's four state stores, which heap-sized
    * state never needs to pay. RocksDB wins exactly when working state
    * approaches executor heap (long-horizon sessions, weeks of join
    * state) — that is a DEPLOYMENT property, not a query property, hence
    * an env seam rather than a per-query hardcode. Queries whose
    * machinery requires RocksDB (`transformWithState`:
    * `statefulCounts`/`sessionTimeout`/`statefulCountsTws`) pass it
    * explicitly and ignore the knob; providers are proven
    * result-identical in StreamingSemanticsSpec, so the knob changes
    * WHERE state lives, never what the catalog returns. */
  val DefaultStateProvider: Option[String] =
    sys.env.get("SPARK_GRAFT_STATE_PROVIDER").map(_.toLowerCase) match {
      case Some("rocksdb") => Some(RocksDbProviderConf._2)
      case _ => None
    }

  /** Runs a stream to completion (AvailableNow) into a memory sink under
    * [[shortRun]]. `stateStoreProvider = None` means the session default
    * (in-memory unless the deployment knob above is set);
    * `Some(provider)` pins one for queries that mandate it. */
  def runToTable(s: SparkSession, df: DataFrame, name: String, mode: String,
                 stateStoreProvider: Option[String] = DefaultStateProvider): DataFrame = {
    shortRun(s, stateStoreProvider) {
      runAvailableNow(df.writeStream.format("memory").queryName(name).outputMode(mode))
    }
    s.table(name)
  }

  /** File-source stream of "newly arriving" documents: the `doc_id %
    * modulus == residue` slice of the documents table staged as `chunks`
    * single-file drops split by doc_id RANGE (ids are the arrival order
    * here — the daily-drop model of a landing directory), read with
    * `maxFilesPerTrigger 1` so an AvailableNow run executes one real
    * micro-batch per drop.
    *
    * Each staged file carries its chunk ordinal as an `arrival_batch`
    * column. That — not the runtime batchId — is what downstream sinks
    * should key on: if a range chunk happens to be EMPTY its file is
    * never written and the engine's batch ids compact, but the embedded
    * ordinal (and the id-range arithmetic an oracle replays, see
    * [[staged]]) is unaffected. */
  def newDocsStream(s: SparkSession, dir: String, modulus: Int, residue: Int,
                    chunks: Int = DefaultChunks): DataFrame = {
    val src = new java.io.File(dir, "documents.parquet")
    val stagePath = staged(src, s"doc_id % $modulus = $residue", chunks,
        "doc_id", tagArrival = true) {
      // null ids stay in the slice so the stager refuses an all-null key
      // instead of staging an empty landing dir
      s.read.parquet(src.getAbsolutePath)
        .where(col("doc_id").isNull || col("doc_id") % modulus === residue)
        .select(col("doc_id"), col("text"))
    }
    s.readStream
      .schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("arrival_batch", LongType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(stagePath)
  }

  /** The shell the streaming document gates share: runs the
    * `doc_id % 5 == 0` new-docs stream under [[shortRun]] into a fresh
    * `prefix` sink dir, and returns the sink read back under an explicit
    * schema (`batch_id` plus `cols`), so an all-empty run yields an empty
    * frame instead of an inference error. `prepare` builds the per-run
    * invariants inside the scope and returns the per-batch step, which
    * gets each non-empty batch (without its ordinal column) and a writer
    * that keys the output on the staged `arrival_batch` ordinal — not the
    * runtime batch id, so it is stable under empty-chunk compaction and
    * replay. */
  private def docsGate(s: SparkSession, dir: String, prefix: String,
                       cols: StructField*)
                      (prepare: => (DataFrame, DataFrame => Unit) => Unit): DataFrame = {
    val stream = newDocsStream(s, dir, modulus = 5, residue = 0)
    val sink = graft.io.TempDirs.createDeletedOnExit(prefix).getAbsolutePath
    shortRun(s) {
      val step = prepare
      runAvailableNow(stream.writeStream.foreachBatch {
        (batch: Dataset[Row], _: Long) =>
          if (!batch.isEmpty) {
            val ab = batch.agg(min("arrival_batch")).head().getLong(0)
            step(batch.drop("arrival_batch"), writeBatch(_, ab, sink))
          }
      })
    }
    s.read.schema(StructType(cols :+ StructField("batch_id", LongType)))
      .parquet(sink)
      .select("batch_id", cols.map(_.name): _*)
  }

  /** STREAMING ingest dedup — the incremental-dedup loop's probe step as
    * a live stream: each micro-batch of newly-arriving documents is
    * MinHash-signed, banded, probed against the PERSISTED corpus
    * signature index (broadcast batch buckets, map-side index join — the
    * corpus is never re-hashed), exact-Jaccard verified, and written to
    * an idempotent batch_id-partitioned sink (the q_stream_foreach_batch
    * exactly-once pattern). Because new-vs-corpus candidate pairs are
    * per-document independent, the union over batches equals the batch
    * probe of all new docs — which is what the generated verify-replay
    * oracle checks, plus the batch attribution itself via the staged
    * id-range arithmetic. At 100 TB this is the nightly ingest shape:
    * the landing stream pays |batch| signatures per drop while the index
    * accretes, keeping total dedup work linear in corpus size. */
  def dedupIngest(s: SparkSession, dir: String, indexPath: String): DataFrame = {
    import graft.ops.Dedup
    docsGate(s, dir, "graft_stream_dedup_", StructField("id_new", LongType),
        StructField("id_corpus", LongType), StructField("jac", DoubleType)) {
      // per-batch INVARIANTS, hoisted out of the micro-batch loop (r17,
      // guide §2.4): the signature index is validated + loaded ONCE per
      // run and lineage-truncated — every batch previously re-planned and
      // re-scanned the index parquet for its probe join. Built inside the
      // timed region per invocation; the probe join itself is unchanged.
      Dedup.requireIndexParams(s, indexPath, 3, 32, 8)
      val index = s.read.parquet(indexPath).localCheckpoint()
      val docs = s.read.parquet(s"$dir/documents.parquet")
      (batch, write) =>
        write(Dedup.verifyCandidatesScoped(docs, "doc_id", "text",
          Dedup.incrementalCandidatePairsAgainst(index, batch, "doc_id", "text"),
          "id_new", "id_corpus"))
    }
  }

  /** Streaming distribution-drift gate — `q_text_kl_drift`'s monitor run
    * per MICRO-BATCH against a fit-once reference distribution: each
    * arriving batch's unigram distribution is scored as
    * KL(batch ‖ reference) over the reference's kept-K + '<oov>' buckets
    * and ONE row per batch is emitted — the alarm feed a crawl pipeline
    * watches before admitting an ingest day into the mixture. The fitted
    * reference ([[graft.queries.TextQueries.KlRef]], ≤ K+1 rows) rides
    * the foreachBatch closure as plain driver data: bucket mapping is a
    * map-side `isin` against the kept set (no join), the reference
    * marginal join is a (K+1)-row literal frame (auto-broadcast), and
    * the only per-batch aggregations are bucket-count sized. Micro-nat
    * quantization before the exact long sum, as the batch query. */
  def driftGate(s: SparkSession, dir: String,
                ref: graft.queries.TextQueries.KlRef): DataFrame =
    docsGate(s, dir, "graft_stream_drift_", StructField("n_buckets", LongType),
        StructField("tot_tok", LongType), StructField("kl_micro", LongType)) {
      (batch, write) =>
        // persisted: cs feeds BOTH the marginal join and the tot_b
        // aggregate — without it each micro-batch tokenizes and
        // aggregates its documents twice (review catch); it is
        // bucket-count sized (<= K+1 rows), so the cache is free
        val cs = batch
          .select(explode(split(lower(col("text")), "[^a-z0-9]+")).as("term"))
          .filter(col("term") =!= "")
          .withColumn("bucket",
            when(col("term").isin(ref.kept: _*), col("term"))
              .otherwise(lit("<oov>")))
          .groupBy("bucket").agg(count(lit(1)).as("cs"))
          .persist()
        try {
          val refDf = s.createDataFrame(ref.buckets).toDF("bucket", "cc")
          write(cs.join(refDf, "bucket")
            .crossJoin(cs.agg(sum("cs").as("tot_b")))
            .withColumn("contrib", floor(
              (col("cs").cast("double") / col("tot_b")) *
                log((col("cs").cast("double") * ref.totC) /
                  (col("tot_b").cast("double") * col("cc"))) *
                1000000d + 0.5d).cast("long"))
            .agg(count(lit(1)).as("n_buckets"),
              sum("cs").as("tot_tok"), sum("contrib").as("kl_micro"))
            // a batch whose EVERY bucket misses the reference (all novel
            // tokens, no reference <oov> mass) must emit NO row — the
            // oracle's GROUP BY over the inner join produces none;
            // without this filter the global agg still returns one
            // degenerate all-null row
            .where(col("n_buckets") > 0))
        } finally cs.unpersist()
    }

  /** Bloom-gated streaming content-seen check — `q_dedup_bloom`'s probe
    * run per MICRO-BATCH against the fit-once corpus sketch: each
    * arriving batch pays a map-side codegen'd `might_contain` filter
    * (the sketch rides as a broadcast handle — once per executor, never
    * per task) plus one corpus pass for the exact verify, the documented
    * per-batch price of the content-seen loop. This is the continuous
    * shape of the batch query: a crawl frontier streaming in while the
    * corpus artifact stays fixed between refits. Output is exact (bloom
    * is a transparent prefilter), keyed by the staged batch ordinal. */
  def bloomGate(s: SparkSession, dir: String,
                sketch: org.apache.spark.broadcast.Broadcast[Array[Byte]])
      : DataFrame =
    docsGate(s, dir, "graft_stream_bloom_", StructField("doc_id", LongType),
        StructField("n_blocks", LongType), StructField("n_seen_blocks", LongType),
        StructField("seen_ppm", LongType)) {
      // the per-batch INVARIANT side, computed once per run (r17, guide
      // §2.4): every micro-batch previously re-scanned and re-hashed the
      // whole corpus inside its exact-verify join — 4 full corpus passes
      // per invocation for an artifact that does not change between
      // batches. The materialized block-hash set is the content-seen
      // index a production gate keeps hot; built INSIDE the timed region
      // from the parquet inputs every invocation (not cross-run state).
      val corpus = s.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") % 5 =!= 0)
      val corpusHashes =
        graft.ops.BloomDedup.corpusBlockHashes(corpus, "doc_id", "text")
      (batch, write) =>
        write(graft.ops.BloomDedup.seenBlocksAgainst(corpusHashes, batch,
          "doc_id", "text", sketch))
    }


  /** Tumbling 6h windows: count + sum per (window, event_type). */
  def tumbling(s: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(s, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(unix_micros(col("window.start")).as("win_start"), col("event_type"),
        col("n"), col("sum_value"))
    runToTable(s, agg, "stream_tumbling", "complete")
  }

  /** Sliding 12h windows every 6h: per-window event counts. */
  def sliding(s: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(s, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "12 hours", "6 hours"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("window.start")).as("win_start"), col("n"))
    runToTable(s, agg, "stream_sliding", "complete")
  }

  /** CHAINED stateful aggregation — two windowed aggregations in ONE
    * streaming query (Spark 3.4+ multiple-stateful-operator support,
    * SPARK-40925): hourly tumbling counts per event_type feed a second
    * window aggregation rolling them up to days (total, peak hour,
    * active-hour count). Append mode is what makes the chain legal: the
    * hourly operator emits a window downstream exactly when the watermark
    * finalizes it, and a day emits when the watermark passes ITS end —
    * since a day's last hour ends with the day, every emitted day has all
    * its hours finalized, so the emission rule the oracle replays is just
    * `day_end_ms <= final watermark ms`. At 100 TB this is the metric
    * roll-up cascade (minute -> hour -> day) run as one query with
    * hour-grained state instead of three jobs re-reading each tier. */
  def chainedAgg(s: SparkSession, dir: String): DataFrame = {
    val hourly = eventsStream(s, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val daily = hourly
      .groupBy(window(col("window"), "1 day"), col("event_type"))
      .agg(sum("n").as("n_events"), max("n").as("peak_hour_n"),
        count(lit(1)).as("n_active_hours"))
      .select(unix_micros(col("window.start")).as("day_start"),
        col("event_type"), col("n_events"), col("peak_hour_n"),
        col("n_active_hours"))
    runToTable(s, daily, "stream_chained_agg", "append")
  }

  /** Session windows (30 min gap) per user. */
  def sessions(s: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(s, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), unix_micros(col("session_window.start")).as("sess_start"),
        col("n_events"))
    runToTable(s, agg, "stream_sessions", "complete")
  }

  /** Stream-static join: the streaming fact enriched by a broadcast
    * dimension read once per micro-batch — no stream state at all, the
    * scale-default for fact-dim enrichment. */
  def staticJoin(s: SparkSession, dir: String): DataFrame = {
    val cust = s.read.parquet(s"$dir/customer.parquet")
    val joined = eventsStream(s, dir)
      .join(broadcast(cust), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
    runToTable(s, joined, "stream_static_join", "complete")
  }

  /** Stream-stream inner join: clicks matched to purchases by the same user
    * within 30 minutes. Both sides watermarked — with the time-range
    * condition that bounds join state to the watermark horizon (unbounded
    * otherwise); inner matches emit as soon as both sides arrive. */
  def streamStreamJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsStream(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
      .withWatermark("click_ts", "1 hour")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "1 hour")
    val joined = clicks.join(purchases,
        col("user_id") === col("p_user") &&
        col("p_ts") >= col("click_ts") &&
        col("p_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("click_id"), col("purchase_id"), col("user_id"))
    runToTable(s, joined, "stream_stream_join", "append")
  }

  /** Stream-stream LEFT OUTER join — the inner join's shape plus
    * watermark-driven state eviction made visible: a click with no
    * purchase inside its 30-minute window is held in the join state until
    * the watermark passes the end of that window, then emitted exactly
    * once with a null purchase side. Unmatched emission is therefore a
    * function of the final watermark (max event time − 1 h): clicks whose
    * window closes below it are null-emitted, later clicks' state is
    * discarded at query end — deterministic for a fixed input, so the
    * whole semantics (matches + the eviction rule) is oracle-expressible
    * in batch SQL. The null side is coalesced to −1: the sentinel keeps
    * the output schema non-nullable BIGINT on both engines.
    * At scale this is how funnel abandonment is computed on live streams —
    * the state store holds only the watermark horizon, never history. */
  def streamStreamOuterJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsStream(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
      .withWatermark("click_ts", "1 hour")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "1 hour")
    val joined = clicks.join(purchases,
        col("user_id") === col("p_user") &&
        col("p_ts") >= col("click_ts") &&
        col("p_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"),
        "leftOuter")
      .select(col("click_id"), coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
        col("user_id"))
    runToTable(s, joined, "stream_outer_join", "append")
  }

  /** Stateful dedup on (user_id, event_type) within the watermark; output
    * is the kept key set (deterministic regardless of arrival order).
    *
    * The watermark delay IS the dedup horizon: state for a key lives
    * until the watermark passes its event time + delay, after which the
    * key can legitimately re-emit. This catalog instance sets the horizon
    * past the corpus's 30-day span so the multi-batch run carries every
    * key's state across ALL batches and the result is the exact global
    * key set (what the batch oracle expresses). A production stream sets
    * the delay to its lateness SLA and accepts re-emission beyond it —
    * that is the operator's contract, not a limitation. */
  def dedupKeys(s: SparkSession, dir: String): DataFrame = {
    val deduped = eventsStream(s, dir)
      .withWatermark("ts", "35 days")
      .select(col("user_id"), col("event_type"), col("ts"))
      .dropDuplicatesWithinWatermark(Seq("user_id", "event_type"))
      .select(col("user_id"), col("event_type"))
    runToTable(s, deduped, "stream_dedup", "append")
  }

  /** foreachBatch sink: per-micro-batch idempotent parquet write keyed by
    * batch id — the production pattern for sinks without native
    * exactly-once support (JDBC upserts, MERGE INTO, services). A replayed
    * batch after a crash overwrites exactly its own `batch_id=` partition,
    * turning at-least-once delivery into exactly-once output. Runs the
    * stream to completion (AvailableNow) and returns the sink contents. */
  def runForeachBatchSink(s: SparkSession, df: DataFrame, path: String): DataFrame = {
    shortRun(s) {
      runAvailableNow(df.writeStream.foreachBatch {
        (batch: Dataset[Row], batchId: Long) => writeBatch(batch, batchId, path)
      })
    }
    // explicit schema (input columns + the batch_id partition column): an
    // all-empty stream writes no part files, and schema inference over an
    // empty sink would throw instead of returning the empty frame
    s.read.schema(df.schema.add("batch_id", LongType)).parquet(path)
  }

  /** Custom state machine via flatMapGroupsWithState: per-user running
    * (count, sum) emitted once per batch.
    *
    * Runs single-batch (`chunks = 1`) BY DESIGN: update-mode semantics
    * emit a row per key per batch it changes in, and the memory sink
    * appends them all — with K batches the sink would hold every
    * intermediate (count, sum) a user passed through, which is the
    * correct update-mode contract but not a batch-oracle-able final
    * table. Cross-batch flatMapGroupsWithState state is exercised in
    * StreamingSemanticsSpec instead, where the intermediates are the
    * assertion target.
    *
    * Runs under the RocksDB state store provider — the production backend
    * for state larger than heap — so the driver's correctness gate
    * exercises it on a catalog query, not just StreamingSemanticsSpec. */
  def statefulCounts(s: SparkSession, dir: String,
                     chunks: Int = 1): DataFrame = {
    import s.implicits._
    val updated = eventsStream(s, dir, chunks)
      .select(col("user_id"), col("value")).as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Double), UserAgg](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[Ev], state: GroupState[(Long, Double)]) =>
          val (n0, s0) = state.getOption.getOrElse((0L, 0.0))
          var n = n0; var sum = s0
          rows.foreach { e => n += 1; sum += e.value }
          state.update((n, sum))
          Iterator(UserAgg(key, n, sum))
      }
      .select(col("user_id"), col("n_events"), round(col("sum_value"), 2).as("sum_value"))
    runToTable(s, updated, "stream_stateful", "update",
      stateStoreProvider = Some(RocksDbProviderConf._2))
  }

  /** The [[statefulCounts]] state machine on Spark 4's transformWithState —
    * the arbitrary-stateful-processing API that supersedes
    * flatMapGroupsWithState: named TYPED state handles (value/list/map)
    * with per-state TTL, timers, schema evolution, and initial-state
    * bootstrap, instead of one opaque state object per key. At 100 TB
    * state volume that granularity matters: a processor evicts or
    * TTL-expires one handle without rewriting the rest, and the handles
    * live in RocksDB (the API REQUIRES the RocksDB provider — state never
    * competes with execution memory). Proven result-identical to the
    * fMGWS operator per batch in StreamingSemanticsSpec.
    */
  private class CountSumProcessor extends StatefulProcessor[Long, Ev, UserAgg] {
    @transient private var agg: ValueState[(Long, Double)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      agg = getHandle.getValueState[(Long, Double)]("agg",
        Encoders.product[(Long, Double)], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Ev],
                                 timers: TimerValues): Iterator[UserAgg] = {
      val (n0, s0) = if (agg.exists()) agg.get() else (0L, 0.0)
      var n = n0; var sum = s0
      rows.foreach { e => n += 1; sum += e.value }
      agg.update((n, sum))
      Iterator(UserAgg(key, n, sum))
    }
  }

  /** Hand-built session windows on transformWithState EVENT-TIME TIMERS —
    * the operator shape timers exist for: a session's closing emission is
    * triggered by the WATERMARK passing its inactivity deadline, not by
    * any input row. Semantics (oracle-expressible, gap = 30 min,
    * watermark delay = 1 h):
    *
    *  - events for a key fold into the open session in event-time order;
    *    a gap >= 30 min between consecutive events closes the older
    *    session IMMEDIATELY (gap evidence — with chronologically staged
    *    input no later event can land inside it);
    *  - each batch re-arms one timer per key at (last event + 30 min);
    *    when the watermark (max event time − 1 h) passes it, the expired-
    *    timer callback emits the still-open session and clears state;
    *  - a key's FINAL session therefore emits iff the final watermark
    *    reaches its deadline — the same eviction contract
    *    q_stream_outer_join pins for join state, here driven through
    *    registerTimer/handleExpiredTimer instead of join internals.
    *
    * Every session emits at most once regardless of batch count (closures
    * are append events), so the query runs the full multi-batch staging.
    * The session fold matches `session_window` (q_stream_sessions) except
    * for the eviction rule, which the oracle encodes as: every non-final
    * session per user, plus final sessions whose (last event + gap) clears
    * the final watermark. */
  private class SessionTimeoutProcessor(gapUs: Long)
      extends StatefulProcessor[Long, (Long, java.sql.Timestamp, Long), (Long, Long, Long)] {
    @transient private var open: ValueState[(Long, Long, Long)] = _ // start/last us, n
    @transient private var armed: ValueState[Long] = _              // registered expiry ms
    override def init(om: OutputMode, tm: TimeMode): Unit = {
      open = getHandle.getValueState[(Long, Long, Long)]("open",
        Encoders.product[(Long, Long, Long)], TTLConfig.NONE)
      armed = getHandle.getValueState[Long]("armed", Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[(Long, java.sql.Timestamp, Long)],
                                 tv: TimerValues): Iterator[(Long, Long, Long)] = {
      // per-key arrival order within a batch is not event-time order
      val evs = rows.map(_._3).toArray.sorted
      var closed = List.empty[(Long, Long, Long)]
      var (st, la, n) = if (open.exists()) open.get() else (-1L, -1L, 0L)
      evs.foreach { t =>
        if (st < 0) { st = t; la = t; n = 1L }
        else if (t - la < gapUs) { la = t; n += 1L } // strict <: gap == 30min breaks
        else { closed ::= ((key, st, n)); st = t; la = t; n = 1L }
      }
      open.update((st, la, n))
      if (armed.exists()) getHandle.deleteTimer(armed.get())
      val expiryMs = la / 1000L + gapUs / 1000L
      getHandle.registerTimer(expiryMs)
      armed.update(expiryMs)
      closed.reverse.iterator
    }
    override def handleExpiredTimer(key: Long, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[(Long, Long, Long)] = {
      // guard: fire only for the currently armed deadline of a live session
      if (open.exists() && armed.exists() &&
          armed.get() == info.getExpiryTimeInMs) {
        val (st, _, n) = open.get()
        open.clear(); armed.clear()
        Iterator((key, st, n))
      } else Iterator.empty
    }
  }

  /** Session summaries via timer eviction; see [[SessionTimeoutProcessor]]. */
  def sessionTimeout(s: SparkSession, dir: String,
                     chunks: Int = DefaultChunks): DataFrame = {
    import s.implicits._
    val out = eventsStream(s, dir, chunks)
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"))
      .as[(Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .transformWithState(new SessionTimeoutProcessor(gapUs = 30L * 60 * 1000000),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF("user_id", "sess_start", "n_events")
    runToTable(s, out, "stream_session_timeout", "append",
      stateStoreProvider = Some(RocksDbProviderConf._2))
  }

  /** Per-user running (count, sum) via [[CountSumProcessor]]. Same
    * single-batch-by-design contract as [[statefulCounts]] (update-mode
    * emissions append per batch in the memory sink); cross-batch state
    * carry is exercised with `chunks > 1` in StreamingSemanticsSpec. */
  def statefulCountsTws(s: SparkSession, dir: String,
                        chunks: Int = 1): DataFrame = {
    import s.implicits._
    val updated = eventsStream(s, dir, chunks)
      .select(col("user_id"), col("value")).as[Ev]
      .groupByKey(_.user_id)
      .transformWithState(new CountSumProcessor,
        TimeMode.None(), OutputMode.Update())
      .select(col("user_id"), col("n_events"), round(col("sum_value"), 2).as("sum_value"))
    runToTable(s, updated, "stream_stateful_tws", "update",
      stateStoreProvider = Some(RocksDbProviderConf._2))
  }
}
