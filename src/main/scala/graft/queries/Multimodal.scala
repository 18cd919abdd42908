package graft.queries

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}

/** Multimodal-column plumbing: media as opaque `binary` columns with typed
  * metadata, decoded/featurized by a pluggable kernel.
  *
  * Two codec tiers:
  *
  *  - [[PngCodec]] is a REAL image codec — `javax.imageio` PNG
  *    encode/decode, pure JVM, no native deps. `q_multimodal_decode`
  *    round-trips every document through it: payload bytes → genuine PNG
  *    (compressed, CRC'd, magic-numbered) → decoded width/height/pixel
  *    stats. PNG is lossless, so decoded pixel sums equal payload byte
  *    sums exactly — the invariant MultimodalIngestSpec pins, alongside a
  *    golden-file decode of a checked-in PNG.
  *  - [[StubCodec]] remains for `q_multimodal_ingest`, whose inputs are
  *    arbitrary binary files (parquet), not images: it stands in for a
  *    format-specific featurizer with expensive construction. The
  *    surrounding shape — binary column, per-partition batch execution,
  *    streamed rows — is identical for both, which is the point: swapping
  *    kernels changes nothing else.
  */
object Multimodal {

  /** Literal cap for the generated verify-replay oracles (the LlmOps
    * ReplayOracleCap stance): recording is bounded to cap+1 rows
    * regardless of corpus size; an over-cap corpus records the frame as
    * a parquet SIDECAR ([[graft.io.Artifacts.replayOnce]] — executor write, no
    * driver collect) that the generated oracle reads back, so the
    * replay stays exact at any scale instead of falling back to
    * rows-only. `Right` = inline literals, `Left` = sidecar path. */
  private val MultimodalReplayCap = 5000

  /* Recordings that [[oracles]] reads back through
   * [[graft.io.Artifacts.single]] to GENERATE its replay oracles:
   *
   *  - `phash_rec`: per-doc dHashes for q_multimodal_phash. The hash
   *    itself needs the image codec (not SQL-expressible, golden-
   *    fixture-tested in MultimodalPhashSpec), but EVERYTHING downstream
   *    — the 8-band LSH pairing, the pigeonhole candidate set, the
   *    bit_count(xor) hamming verify, the per-doc counts, null-handling,
   *    ordering — replays in DuckDB from the recorded literals, exactly
   *    as q_dedup_simhash replays its signatures.
   *  - `png_sizes_rec`: per-doc PNG byte sizes for q_multimodal_decode
   *    (the one decode output that is genuinely codec-private —
   *    DEFLATE's compressed length). The REST of the decode row is
   *    recomputed independently by DuckDB: payload_bytes from
   *    octet_length, width/height from the encoder's closed-form frame
   *    geometry, and px_sum as the true byte sum of the payload (get_bit
   *    over the blob) — so a decoder that misreads the PNG header or
   *    mis-walks pixels hash-mismatches against arithmetic DuckDB did
   *    from scratch.
   *  - `ingest_dir`: q_multimodal_ingest's corpus dir when its layout is
   *    replayable ([[replayableIngestDir]]), for the read_blob replay.
   */

  /** `dir` when q_multimodal_ingest's read_blob replay covers its layout:
    * every `*.parquet` entry is a flat FILE or a ONE-level dataset
    * DIRECTORY of `*.parquet` part files (the driver's flat layout and
    * ScaleUpMain's staged datasets) — covered by a two-glob read_blob
    * list, `<dir>/STAR.parquet` plus `<dir>/STAR.parquet/STAR.parquet`
    * (read_blob skips directories a glob matches and tolerates a
    * no-match glob; verified empirically). Deeper nesting — which
    * Spark's recursive lookup WOULD find — gives None and falls back to
    * rows-only, the same designed fallback as the over-cap literals. */
  private def replayableIngestDir(dir: String): Option[String] = {
    // Replayability demands exact FILE-SET parity between Spark's
    // recursive binaryFile lookup and the oracle's two-glob read_blob
    // (review catches):
    //  - a subdirectory NOT named *.parquet is invisible to the globs
    //    but Spark descends into it -> not replayable;
    //  - a hidden ('_'/'.'-prefixed) *.parquet file is SKIPPED by
    //    Spark's file index but MATCHED by read_blob -> not replayable;
    //  - nesting deeper than one dataset level -> not replayable;
    //  - a path containing a quote or glob metacharacter would corrupt
    //    the interpolated SQL string/glob -> not replayable.
    def hiddenParquet(n: String): Boolean =
      n.endsWith(".parquet") && (n.startsWith("_") || n.startsWith("."))
    def entryOk(e: java.io.File): Boolean =
      if (e.isFile) !hiddenParquet(e.getName)
      else e.getName.endsWith(".parquet") && !hiddenParquet(e.getName) &&
        Option(e.listFiles()).toSeq.flatten.forall(c =>
          c.isFile && !hiddenParquet(c.getName))
    val entries = Option(new java.io.File(dir).listFiles()).toSeq.flatten
    val pathSafe = !dir.exists(c => "'\"*?[]{}".contains(c))
    Some(dir).filter(_ => pathSafe &&
      entries.exists(e => e.getName.endsWith(".parquet") && !hiddenParquet(e.getName)) &&
      entries.forall(entryOk))
  }

  /** STUB codec — stands in for a decoder of formats this container has no
    * library for (audio, video), with expensive *construction* (native lib
    * load, model weights). Instantiated once per partition by
    * [[decodeBatch]], reused across that partition's rows. */
  final class StubCodec {
    def decode(bytes: Array[Byte]): Array[Float] =
      if (bytes == null) null
      else {
        val n = math.min(bytes.length, StubCodec.NumFeatures)
        Array.tabulate(StubCodec.NumFeatures)(i =>
          if (i < n) (bytes(i) & 0xff).toFloat / 255f else 0f)
      }
  }

  /** Single source of truth for the stub feature width — interpolated
    * into the ingest replay oracle's SQL so a codec change (e.g.
    * emitting min(n, 16) entries instead of zero-padding) cannot
    * silently desync the query/oracle pair. Must stay a power of two
    * ≤ 64: the replay's exactness argument needs every 16-term partial
    * sum to fit double's mantissa and the final /NumFeatures to be an
    * exact power-of-two scale. */
  object StubCodec {
    val NumFeatures: Int = 16
  }

  /** REAL image codec: `javax.imageio` PNG (decoder ships in every JDK).
    * One instance per partition — ImageIO's plugin registry lookup is the
    * construction cost worth amortizing. Construction also disables
    * ImageIO's DISK-backed stream cache (the JDK default): with it on,
    * every read/write spools the image through a fresh temp FILE, so a
    * per-row codec loop pays file create/delete churn per image — slow,
    * and wildly variance-prone under ambient disk/GC pressure (measured
    * 1.2 s isolated vs 3.3 s in a long session before the fix). Memory
    * cache is strictly better for byte-array-sized images. The flag is
    * JVM-global, which is exactly the right scope: every partition's
    * codec wants it off. */
  final class PngCodec {
    javax.imageio.ImageIO.setUseCache(false)
    /** Payload bytes → grayscale PNG: width = ceil(sqrt(n)) (squarish
      * frame), row-major fill, zero-padded tail. Real compression, real
      * checksums — downstream consumers can feed the output to any PNG
      * reader. */
    def encode(payload: Array[Byte]): Array[Byte] =
      if (payload == null) null
      else {
        val n = math.max(payload.length, 1)
        val w = math.ceil(math.sqrt(n.toDouble)).toInt
        val h = math.ceil(n.toDouble / w).toInt
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val raster = img.getRaster
        var i = 0
        while (i < payload.length) {
          raster.setSample(i % w, i / w, 0, payload(i) & 0xff)
          i += 1
        }
        val out = new java.io.ByteArrayOutputStream(n / 2 + 64)
        val ok = javax.imageio.ImageIO.write(img, "png", out)
        require(ok, "JDK PNG writer unavailable")
        out.toByteArray
      }

    /** PNG bytes → 64-bit perceptual difference hash (dHash, the
      * industry-standard image near-dup fingerprint): area-downsample the
      * gray band to a 9×8 grid of block means, emit one bit per
      * horizontally-adjacent cell pair (mean(i) > mean(i+1)), 8 bits × 8
      * rows. All arithmetic is EXACT — integer pixel sums with
      * cross-multiplied mean comparisons (sumA·cntB > sumB·cntA), no
      * float rounding — so the hash is bit-reproducible across
      * partitionings and JVMs. Cell boundaries are floor(i·w/9): for
      * w ≥ 9 / h ≥ 8 the cells tile the image exactly; degenerate tiny
      * images clamp each cell to ≥ 1 pixel (cells may share pixels —
      * still deterministic). */
    def dhash(bytes: Array[Byte]): java.lang.Long =
      if (bytes == null) null
      else {
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        require(img != null, "media is not a decodable image")
        val (w, h) = (img.getWidth, img.getHeight)
        val raster = img.getRaster
        val sums = Array.ofDim[Long](8, 9)
        val cnts = Array.ofDim[Long](8, 9)
        var j = 0
        while (j < 8) {
          var i = 0
          while (i < 9) {
            val x0 = i * w / 9
            val x1 = math.max(math.min((i + 1) * w / 9, w), x0 + 1)
            val y0 = j * h / 8
            val y1 = math.max(math.min((j + 1) * h / 8, h), y0 + 1)
            var s = 0L
            var y = y0
            while (y < y1) {
              var x = x0
              while (x < x1) { s += raster.getSample(x, y, 0); x += 1 }
              y += 1
            }
            sums(j)(i) = s
            cnts(j)(i) = (x1 - x0).toLong * (y1 - y0)
            i += 1
          }
          j += 1
        }
        var bits = 0L
        j = 0
        while (j < 8) {
          var i = 0
          while (i < 8) {
            if (sums(j)(i) * cnts(j)(i + 1) > sums(j)(i + 1) * cnts(j)(i))
              bits |= 1L << (j * 8 + i)
            i += 1
          }
          j += 1
        }
        java.lang.Long.valueOf(bits)
      }

    /** PNG bytes → (width, height, pixel sum over the single gray band).
      * Null media stays null (tuple of nulls downstream); non-image bytes
      * fail loudly — silently emitting zeros would corrupt corpus stats. */
    def decode(bytes: Array[Byte]): (Int, Int, Long) =
      if (bytes == null) null
      else {
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        require(img != null, "media is not a decodable image")
        val (w, h) = (img.getWidth, img.getHeight)
        val raster = img.getRaster
        var sum = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { sum += raster.getSample(x, y, 0); x += 1 }
          y += 1
        }
        (w, h, sum)
      }
  }

  /** Batch decode via mapPartitions — the one place the library drops below
    * the DataFrame API, and the canonical reason to: per-partition codec
    * init amortized over the partition's rows, rows streamed (no
    * materialization of the whole partition). Input must carry a binary
    * `media` column; output appends `features: array<float>`. */
  def decodeBatch(df: DataFrame): DataFrame = {
    val outSchema = df.schema.add("features", ArrayType(FloatType))
    val mediaIdx = df.schema.fieldIndex("media")
    df.mapPartitions { rows =>
      val codec = new StubCodec // once per partition, NOT per row
      rows.map(r => Row.fromSeq(r.toSeq :+ codec.decode(r.getAs[Array[Byte]](mediaIdx))))
    }(Encoders.row(outSchema))
  }

  /** Payload → real PNG media column, per-partition batch shape. Input
    * must carry a binary `payload` column; output appends `media` (the
    * PNG bytes — a genuine binary media column any PNG reader accepts). */
  def encodePngBatch(df: DataFrame): DataFrame = {
    val outSchema = df.schema.add("media", org.apache.spark.sql.types.BinaryType)
    val payloadIdx = df.schema.fieldIndex("payload")
    df.mapPartitions { rows =>
      val codec = new PngCodec
      rows.map(r => Row.fromSeq(r.toSeq :+ codec.encode(r.getAs[Array[Byte]](payloadIdx))))
    }(Encoders.row(outSchema))
  }

  /** Real image decode via mapPartitions: appends `width`, `height`,
    * `px_sum` (exact gray-band pixel sum) from the binary `media` column. */
  def decodePngBatch(df: DataFrame): DataFrame = {
    val outSchema = df.schema
      .add("width", org.apache.spark.sql.types.IntegerType)
      .add("height", org.apache.spark.sql.types.IntegerType)
      .add("px_sum", org.apache.spark.sql.types.LongType)
    val mediaIdx = df.schema.fieldIndex("media")
    df.mapPartitions { rows =>
      val codec = new PngCodec // once per partition, NOT per row
      rows.map { r =>
        val d = codec.decode(r.getAs[Array[Byte]](mediaIdx))
        // explicit boxing: Seq(d._1, d._2, d._3) harmonizes (Int, Int,
        // Long) to Seq[Long] — Scala's weak-LUB numeric widening, even
        // under a Seq[Any] ascription — and the INT row encoder then
        // rejects the widened width/height at runtime
        val extra: Seq[Any] =
          if (d == null) Seq(null, null, null)
          else Seq(Int.box(d._1), Int.box(d._2), Long.box(d._3))
        Row.fromSeq(r.toSeq ++ extra)
      }
    }(Encoders.row(outSchema))
  }

  /** Real perceptual-hash kernel via mapPartitions: appends `dhash`
    * (64-bit dHash of the binary `media` PNG column), codec constructed
    * once per partition. */
  def dhashBatch(df: DataFrame): DataFrame = {
    val outSchema = df.schema.add("dhash", org.apache.spark.sql.types.LongType)
    val mediaIdx = df.schema.fieldIndex("media")
    df.mapPartitions { rows =>
      val codec = new PngCodec // once per partition, NOT per row
      rows.map(r =>
        Row.fromSeq(r.toSeq :+ codec.dhash(r.getAs[Array[Byte]](mediaIdx))))
    }(Encoders.row(outSchema))
  }

  val defs: Map[String, Q] = Map(
    // Metadata path: binary payload + typed metadata struct (oracled).
    "q_multimodal_meta" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          encode(col("text"), "UTF-8").as("media"),
          struct(
            length(encode(col("text"), "UTF-8")).as("n_bytes"),
            lit("text/plain").as("mime")).as("meta"))
        .select(col("doc_id"), col("meta.n_bytes").as("n_bytes"), col("meta.mime").as("mime"))
        .orderBy("doc_id")),
    // Resize path: media -> smaller media (stub: keep the first quarter of
    // the bytes — stands in for a thumbnail/downsample kernel). The sliced
    // binary is materialized; the oracle checks the byte accounting.
    "q_multimodal_resize" -> ((s, dir) => {
      val media = encode(col("text"), "UTF-8")
      val target = greatest(ceil(length(media) / lit(4.0)).cast("int"), lit(1))
      tbl(s, dir, "documents")
        .select(col("doc_id"), media.as("media"), target.as("target"))
        .withColumn("resized", col("media").substr(lit(1), col("target")))
        .select(col("doc_id"),
          length(col("media")).as("orig_bytes"),
          length(col("resized")).as("resized_bytes"))
        .orderBy("doc_id")
    }),
    // Frame-sampling path: fixed 32-byte "frames", keep every 4th — the
    // video keyframe-sampling shape (binary slicing via sequence+transform,
    // then an indexed filter).
    "q_multimodal_frames" -> ((s, dir) => {
      val media = encode(col("text"), "UTF-8")
      // floor at 1: sequence(0, -1) would step DOWNWARD ([0,-1], SURVEY Q3)
      // for empty media; an empty doc is one empty frame instead
      val nFrames = greatest(ceil(length(media) / lit(32.0)).cast("int"), lit(1))
      tbl(s, dir, "documents")
        .select(col("doc_id"), media.as("media"), nFrames.as("n_frames"))
        .withColumn("frames",
          transform(sequence(lit(0), col("n_frames") - 1),
            i => col("media").substr(i * 32 + 1, lit(32))))
        .withColumn("sampled", filter(col("frames"), (_, i) => i % 4 === 0))
        .select(col("doc_id"), col("n_frames"),
          size(col("sampled")).as("n_sampled"),
          length(element_at(col("sampled"), 1)).as("first_frame_bytes"))
        .orderBy("doc_id")
    }),
    // Ingest path: REAL files from disk via the binaryFile source (one row
    // per file: path/length/content), fed straight into the per-partition
    // batch codec — the actual entry point of a media pipeline, replacing
    // the text-encoded stand-in the other queries use for oracle-ability.
    // The staged media directory is the scale-factor dir itself (its
    // parquet files are genuine binary payloads present at every SF).
    // ORACLED since round 14: DuckDB's read_blob() scans the same files
    // independently (names, sizes, raw bytes), and the StubCodec fold is
    // replayed exactly — fi = float32(byte_i)/float32(255) widened to
    // double; every partial sum of 16 such terms needs ≤35 mantissa bits,
    // so the left fold is EXACT and order-independent in both engines.
    // Emission rule: the oracle generates for flat and one-level
    // dataset-directory layouts (the driver dirs AND ScaleUpMain
    // corpora, via a two-glob read_blob list); deeper nesting falls
    // back to rows-only (MultimodalIngestSpec covers the invariants).
    "q_multimodal_ingest" -> ((s, dir) => {
      graft.io.Artifacts.once(dir, "ingest_dir")(replayableIngestDir(dir))
      decodeBatch(
        graft.io.Sources.binaryFiles(s, dir, glob = "*.parquet")
          .select(
            regexp_extract(col("path"), "([^/]+)$", 1).as("file_name"),
            col("length").as("n_bytes"),
            col("content").as("media")))
        .select(col("file_name"), col("n_bytes"),
          size(col("features")).as("n_features"),
          round6(aggregate(col("features").cast("array<double>"), lit(0.0), (a, x) => a + x)
            / size(col("features")))
            .as("feature_mean"))
        .orderBy("file_name")
    }),
    // Image near-dup detection — the multimodal tier of the dedup
    // family: every document's bytes become a REAL grayscale PNG, the
    // codec computes a 64-bit perceptual dHash per image (exact integer
    // arithmetic — bit-reproducible), and near-duplicates are found by
    // LSH-style BANDING on the hash, never all-pairs: the 64 bits split
    // into 8 byte-bands, images join on band PAIRS (i, j, bv_i, bv_j) —
    // by pigeonhole ANY pair within Hamming distance ≤ 6 dirties at
    // most 6 bands, so ≥ 2 bands survive intact and the pair collides
    // on that band pair: recall at the ≤6 threshold is exactly 1 (a
    // GUARANTEE, not an LSH probability — pinned in MultimodalPhashSpec
    // against brute force) — and survivors verify with one codegen'd
    // bit_count(xor). The same banded-join shape as MinHash-LSH text
    // dedup, one rung stricter: single-byte bands have only 256 buckets
    // each, so their occupancy grows linearly with the corpus and
    // candidates quadratically — the 16-bit band-pair key keeps the
    // collision floor at 2⁻¹⁶ per combo, measured 17.8× fewer
    // candidates at the sf10 rung (0.69e9 vs 12.2e9). Output is the
    // per-image digest (hash + candidate/near-dup partner counts); a
    // production run would emit the pair list to a sink instead.
    // ORACLED via verify-replay: the codec half (payload → PNG → dHash)
    // is recorded as per-doc literals (golden-fixture-tested — DuckDB
    // has no image codec, the tier's point), and DuckDB recomputes the
    // whole pairing stage from them: banding, pigeonhole candidates,
    // hamming verify, per-doc counts, ordering. The persist is load-
    // bearing twice over: the hash frame is referenced by the band join
    // AND the final digest join (unpersisted, each reference re-runs
    // the codec), and the recording collect reads the same cache.
    "q_multimodal_phash" -> ((s, dir) => {
      val hashed = dhashBatch(
        encodePngBatch(
          tbl(s, dir, "documents")
            .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload")))
          .select(col("doc_id"), col("media"))).persist()
      graft.io.Artifacts.once(dir, "phash_rec") {
        val rec = hashed.select(col("doc_id"), col("dhash"))
          .limit(MultimodalReplayCap + 1).collect().toSeq
        if (rec.size > MultimodalReplayCap)
          Left(graft.io.Artifacts.replayOnce(dir, "phash_sigs")(
            hashed.select(col("doc_id"), col("dhash").as("h"))))
        else Right(rec.map(r => (r.getLong(0), r.getLong(1))))
      }
      // Candidates from BAND-PAIR collisions (2-of-8), not single bands.
      // Pigeonhole: hamming ≤ 6 dirties ≤ 6 of the 8 byte-bands, so ≥ 2
      // bands survive intact and the pair collides on that band PAIR —
      // recall 1 at exactly the query's near-dup threshold. Single-byte
      // bands have only 256 buckets each, so bucket occupancy grows
      // linearly with the corpus and candidates quadratically: the sf10
      // sweep measured 12.2e9 single-band candidates over 500k docs
      // (synthetic text renders to stripey frames whose dhash bytes
      // concentrate on 0x55/0xAA) vs 0.69e9 for band pairs — and TRUE
      // duplicate pairs were only 277k, so the single-band stream was
      // ~18× avoidable join fan-out feeding a pair-sized shuffle.
      val bands = hashed.select(col("doc_id"), col("dhash"),
          explode(expr(
            """flatten(transform(sequence(0, 6), i ->
               transform(sequence(i + 1, 7), j -> named_struct(
                 'i', i, 'j', j,
                 'bi', (dhash >> (i * 8)) & 255,
                 'bj', (dhash >> (j * 8)) & 255))))""")).as("bp"))
        .select(col("doc_id"), col("dhash"), col("bp.i").as("i"),
          col("bp.j").as("j"), col("bp.bi").as("bi"), col("bp.bj").as("bj"))
      // A pair colliding on several band pairs would multi-count, and a
      // DISTINCT here shuffles the candidate stream (the at-scale cost
      // center — ~0.69e9 rows at sf10). Instead each surviving pair is
      // emitted exactly once, by the CANONICAL band pair: (i, j) must be
      // the two smallest zero bytes of ha^hb, checked row-wise with no
      // extra state — the candidate stream flows join → filter → partial
      // agg without ever being exchanged.
      val cand = bands.as("a").join(bands.as("b"),
          col("a.i") === col("b.i") && col("a.j") === col("b.j") &&
            col("a.bi") === col("b.bi") && col("a.bj") === col("b.bj") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
          col("a.dhash").as("ha"), col("b.dhash").as("hb"),
          col("a.i").as("i"), col("a.j").as("j"))
        .withColumn("xr", expr("ha ^ hb"))
        .where(expr(
          "NOT exists(sequence(0, j - 1), b -> b != i AND ((xr >> (b * 8)) & 255) = 0)"))
        .withColumn("hamming", expr("bit_count(xr)"))
      val perDoc = cand.select(explode(array(
          struct(col("da").as("doc_id"), col("hamming")),
          struct(col("db").as("doc_id"), col("hamming")))).as("e"))
        .select(col("e.doc_id").as("doc_id"), col("e.hamming").as("hamming"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_candidates"),
          count(when(col("hamming") <= 6, lit(1))).as("n_near_dups"))
      hashed.join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("dhash"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          coalesce(col("n_near_dups"), lit(0L)).as("n_near_dups"))
        .orderBy("doc_id")
    }),
    // Decode path — REAL codec: every document's UTF-8 bytes become a
    // genuine grayscale PNG (javax.imageio encode: DEFLATE, CRCs, magic),
    // then the decode kernel reads it back and emits true image stats.
    // PNG is lossless, so px_sum equals the payload's unsigned byte sum
    // exactly and width*height bounds the byte count — the invariants
    // MultimodalIngestSpec pins (plus a golden-file decode). ORACLED via
    // verify-replay: only png_bytes (DEFLATE's compressed length —
    // genuinely codec-private) enters as a recorded literal; DuckDB
    // independently recomputes payload_bytes (octet_length), width and
    // height (the encoder's closed-form frame geometry) and px_sum (the
    // true byte sum of the payload via get_bit) — a decoder that
    // misreads the header or mis-walks pixels mismatches arithmetic
    // DuckDB did from scratch.
    "q_multimodal_decode" -> ((s, dir) => {
      val decoded = decodePngBatch(
        encodePngBatch(
          tbl(s, dir, "documents")
            .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload")))
          .select(col("doc_id"), length(col("payload")).as("payload_bytes"),
            col("media")))
        .select(col("doc_id"), col("payload_bytes"),
          length(col("media")).as("png_bytes"),
          col("width"), col("height"), col("px_sum"))
        .persist() // recording collect + the dump read the same run
      graft.io.Artifacts.once(dir, "png_sizes_rec") {
        val rec = decoded.select(col("doc_id"), col("png_bytes"))
          .limit(MultimodalReplayCap + 1).collect().toSeq
        if (rec.size > MultimodalReplayCap)
          Left(graft.io.Artifacts.replayOnce(dir, "png_sizes")(
            decoded.select(col("doc_id"), col("png_bytes"))))
        else Right(rec.map(r => (r.getLong(0), r.getInt(1))))
      }
      decoded.orderBy("doc_id")
    })
  )

  /** q_multimodal_phash's generated replay oracle: the recorded hashes
    * enter as literals; DuckDB recomputes banding (same arithmetic-
    * shift-and-mask byte extraction as the Spark `transform`), the
    * pigeonhole candidate join, bit_count(xor) hamming, the ≤6 near-dup
    * threshold, per-doc counts and the zero-candidate coalesce. */
  private def phashReplayOracleSql(sigs: Seq[(Long, Long)]): String = {
    val vals = sigs.map { case (id, h) => s"($id, $h)" }.mkString(", ")
    phashOracleFrom(s"""
         SELECT CAST(i AS BIGINT), CAST(h AS BIGINT)
         FROM (VALUES $vals) v(i, h)""")
  }

  /** Over-cap variant: same replay, signatures from the parquet sidecar
    * instead of inline literals (same trust boundary — only the codec's
    * dHash output is recorded; pairing replays below). */
  private def phashSidecarOracleSql(path: String): String =
    phashOracleFrom(s"""
         SELECT doc_id, h
         FROM read_parquet('${graft.io.Artifacts.sqlPath(path)}/*.parquet')""")

  /** The shared pairing replay: candidates from a BAND-PAIR (2-of-8)
    * self-join on the SAME contiguous-byte bands Spark uses —
    * n_candidates is banding-DEFINED output, so the oracle must mirror
    * the partition (unlike q_dedup_simhash's hamming-verified pairs,
    * where the sidecar oracle bands independently) — then the canonical
    * smallest-zero-byte-pair filter (each pair exactly once, replacing a
    * candidate-stream DISTINCT), bit_count(xor) hamming, the ≤6 near-dup
    * threshold, per-doc counts, and the zero-candidate coalesce. The
    * band-pair form is algebraically the 2-of-8 pigeonhole candidate set
    * (a pair joins iff ≥2 bands collide — recall 1 for hamming ≤ 6) and
    * scales to corpus-sized sidecars where single-band banding goes
    * quadratic (256 buckets per band). */
  private def phashOracleFrom(sigsSrc: String): String =
    s"""WITH sigs(doc_id, h) AS ($sigsSrc),
       bands AS (
         SELECT doc_id, h, CAST(p.i AS INT) AS i, CAST(p.j AS INT) AS j,
           (h >> (p.i * 8)) & 255 AS bi, (h >> (p.j * 8)) & 255 AS bj
         FROM sigs, (SELECT a.i, b.j
                     FROM (SELECT unnest(range(0, 8)) AS i) a,
                          (SELECT unnest(range(0, 8)) AS j) b
                     WHERE a.i < b.j) p),
       cand AS (
         SELECT x.doc_id AS da, y.doc_id AS db, x.h AS ha, y.h AS hb
         FROM bands x JOIN bands y
           ON x.i = y.i AND x.j = y.j AND x.bi = y.bi AND x.bj = y.bj
             AND x.doc_id < y.doc_id
         WHERE len(list_filter(range(0, x.j),
             b -> b != x.i AND ((xor(x.h, y.h) >> (b * 8)) & 255) = 0)) = 0),
       ch AS (
         SELECT da, db, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
         FROM cand),
       per AS (
         SELECT doc_id, count(*) AS n_candidates,
           count(*) FILTER (hamming <= 6) AS n_near_dups
         FROM (SELECT da AS doc_id, hamming FROM ch
               UNION ALL SELECT db AS doc_id, hamming FROM ch)
         GROUP BY doc_id)
       SELECT s.doc_id, s.h AS dhash,
         coalesce(n_candidates, 0) AS n_candidates,
         coalesce(n_near_dups, 0) AS n_near_dups
       FROM sigs s LEFT JOIN per USING (doc_id)
       ORDER BY doc_id"""

  /** q_multimodal_decode's generated replay oracle: png_bytes from the
    * recorded literals; everything else recomputed from scratch —
    * width = ceil(sqrt(max(n,1))), height = ceil(max(n,1)/width) (the
    * encoder's frame geometry, same IEEE ops both engines), px_sum =
    * the payload's true byte sum (get_bit over the UTF-8 blob; empty
    * payloads coalesce to the all-zero 1×1 frame's sum, 0). */
  private def decodeReplayOracleSql(sizes: Seq[(Long, Int)]): String = {
    val vals = sizes.map { case (id, n) => s"($id, $n)" }.mkString(", ")
    decodeOracleFrom(s"""
         SELECT CAST(i AS BIGINT), CAST(n AS INT)
         FROM (VALUES $vals) v(i, n)""")
  }

  /** Over-cap variant: png_bytes from the parquet sidecar (the one
    * codec-private column); everything else still recomputed from
    * scratch by DuckDB, exactly as in the literal form. */
  private def decodeSidecarOracleSql(path: String): String =
    decodeOracleFrom(s"""
         SELECT doc_id, png_bytes
         FROM read_parquet('${graft.io.Artifacts.sqlPath(path)}/*.parquet')""")

  // px_sum via hex-pair byte decode, not per-bit get_bit lists: the
  // bit form builds an 8·len element list per document, and at the
  // sf10 rung (500k docs × ~2.4k bits) DuckDB's per-vector list
  // materialization grew unbounded past the buffer-manager cap and got
  // the compare process OOM-killed; hex() pairs decode the same byte
  // values with 1/8 the list volume.
  private def decodeOracleFrom(pngSrc: String): String =
    s"""WITH png(doc_id, png_bytes) AS ($pngSrc),
       base AS (SELECT doc_id, encode(text) AS b FROM documents),
       stats AS (SELECT doc_id,
           CAST(octet_length(b) AS INT) AS payload_bytes,
           CAST(coalesce(list_sum(list_transform(
               range(0, CAST(octet_length(b) AS INT)),
               k -> CAST('0x' || substring(hex(b),
                 CAST(k * 2 + 1 AS INT), 2) AS INT))), 0) AS BIGINT)
             AS px_sum
         FROM base),
       geom AS (SELECT doc_id, payload_bytes, px_sum,
           CAST(ceil(sqrt(CAST(greatest(payload_bytes, 1) AS DOUBLE)))
             AS INT) AS width
         FROM stats)
       SELECT g.doc_id, g.payload_bytes, p.png_bytes, g.width,
         CAST(ceil(CAST(greatest(g.payload_bytes, 1) AS DOUBLE) / g.width)
           AS INT) AS height,
         g.px_sum
       FROM geom g JOIN png p USING (doc_id)
       ORDER BY doc_id"""

  /** q_multimodal_ingest's generated replay oracle — nothing recorded
    * but the DIRECTORY: DuckDB re-scans the same files via read_blob()
    * (independent names/sizes/bytes) and recomputes the StubCodec fold
    * from the raw blob: byte_i via hex-pair decode (the decode-oracle
    * idiom — a get_bit form would CAST the whole multi-MB blob to BIT
    * once per lambda evaluation),
    * fi = float32(byte_i)/float32(255) widened to double — REAL/REAL
    * division is float32 in DuckDB, matching the JVM's `/255f` — and
    * the 16-term mean. Exactness argument: each nonzero fi is a
    * float32-quantized value in [2^-8, 1] (lsb ≥ 2^-31), so any partial
    * sum of 16 needs ≤ 35 mantissa bits — every left-fold step is exact
    * in double, hence order-independent and bit-identical across
    * engines; /16 is a power-of-two scale (exact); the final floor
    * rounding is queries.round6 on both sides. */
  private def ingestReplayOracleSql(dir: String): String = {
    // replayableIngestDir refuses quote/glob-metachar paths, so this
    // escape is belt-and-braces against a future caller bypassing it
    val d = dir.replace("'", "''")
    val nf = StubCodec.NumFeatures
    s"""WITH f AS (
         SELECT regexp_extract(filename, '([^/]+)$$', 1) AS file_name,
           size AS n_bytes, content AS b
         FROM read_blob(['$d/*.parquet', '$d/*.parquet/*.parquet'])),
       hx AS (SELECT file_name, n_bytes,
           substring(hex(b), 1, CAST(2 * least(n_bytes, $nf) AS INT)) AS hb
         FROM f),
       feat AS (
         SELECT file_name, n_bytes, CAST($nf AS INT) AS n_features,
           coalesce(list_sum(list_transform(
             range(0, CAST(least(n_bytes, $nf) AS INT)),
             i -> CAST(CAST(CAST('0x' || substring(hb,
                    CAST(i * 2 + 1 AS INT), 2) AS INT) AS REAL)
                  / CAST(255 AS REAL) AS DOUBLE))), 0.0) AS s
         FROM hx)
       SELECT file_name, n_bytes, n_features,
         floor(s / $nf * 1000000 + 0.5) / 1000000 AS feature_mean
       FROM feat ORDER BY file_name"""
  }

  /** Static oracles plus the generated replay trio — def, not val: the
    * replay entries exist only after their query has run and recorded
    * (the [[graft.io.Artifacts.single]] emission rule; literals only
    * under the cap). */
  def oracles: Map[String, String] = {
    import graft.io.Artifacts.single
    staticOracles ++
      single[Either[String, Seq[(Long, Long)]]]("phash_rec").collect {
        case Right(sigs) if sigs.nonEmpty && sigs.size <= MultimodalReplayCap =>
          "q_multimodal_phash" -> phashReplayOracleSql(sigs)
        case Left(path) => "q_multimodal_phash" -> phashSidecarOracleSql(path)
      } ++
      single[Either[String, Seq[(Long, Int)]]]("png_sizes_rec").collect {
        case Right(sizes) if sizes.nonEmpty && sizes.size <= MultimodalReplayCap =>
          "q_multimodal_decode" -> decodeReplayOracleSql(sizes)
        case Left(path) => "q_multimodal_decode" -> decodeSidecarOracleSql(path)
      } ++
      single[Option[String]]("ingest_dir").flatten
        .map(d => "q_multimodal_ingest" -> ingestReplayOracleSql(d))
  }

  private val staticOracles: Map[String, String] = Map(
    "q_multimodal_meta" ->
      """SELECT doc_id,
         CAST(octet_length(encode(text)) AS INT) AS n_bytes,
         'text/plain' AS mime
         FROM documents ORDER BY doc_id""",
    "q_multimodal_resize" ->
      """SELECT doc_id,
         CAST(octet_length(encode(text)) AS INT) AS orig_bytes,
         CAST(least(octet_length(encode(text)),
                    greatest(ceil(octet_length(encode(text)) / 4.0), 1)) AS INT) AS resized_bytes
         FROM documents ORDER BY doc_id""",
    "q_multimodal_frames" ->
      """SELECT doc_id,
         CAST(greatest(ceil(octet_length(encode(text)) / 32.0), 1) AS INT) AS n_frames,
         CAST(ceil(greatest(ceil(octet_length(encode(text)) / 32.0), 1) / 4.0) AS INT) AS n_sampled,
         CAST(least(octet_length(encode(text)), 32) AS INT) AS first_frame_bytes
         FROM documents ORDER BY doc_id"""
  )
}
