package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale text corpora.
  *
  * All four strategies are pure DataFrame pipelines (shuffle on hash keys,
  * no driver-side state), so they scale horizontally:
  *
  *  - [[exactKeep]]: exact dedup by content hash — one shuffle on sha2.
  *  - [[minHashSignatures]] + [[lshCandidatePairs]]: MinHash + LSH banding —
  *    near-dup candidates without the O(n^2) cross join; cost is
  *    O(n * perms) + a self-join on (band, bucket) whose fan-out is bounded
  *    by bucket size.
  *  - [[simHash]]: 64-bit SimHash over token hashes; near-dups share most
  *    bits, found by joining on rotated prefixes or banding the bits.
  *  - [[charShingles]] + exact Jaccard verification for candidate pairs.
  */
object Dedup {

  // functions.substring only takes Int literals; Column.substr takes
  // Column positions, which the shingle lambda needs.
  private def shingleAt(text: Column, i: Column, n: Int): Column =
    text.substr(i, lit(n))

  /** Distinct character n-grams (shingles). Empty/short text yields the
    * whole string as its single shingle. */
  def shingles(text: Column, n: Int): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(length(text) - (n - 1), lit(1))),
      i => shingleAt(text, i, n)))

  /** Distinct token n-grams (word shingles). For natural text these have a
    * far larger space than character n-grams, so unrelated documents share
    * few of them — which keeps MinHash band-collision rates (~ J^rows) low
    * and the LSH candidate set near-linear instead of quadratic. */
  def tokenShingles(text: Column, n: Int): Column = {
    val toks = split(text, " ")
    array_distinct(transform(
      sequence(lit(1), greatest(size(toks) - (n - 1), lit(1))),
      i => concat_ws(" ", slice(toks, i, lit(n)))))
  }

  /** Exact-dup groups: one row per distinct text, keeping the smallest id.
    * At scale: shuffle on sha2(text) — never on the raw text bytes. */
  def exactKeep(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .withColumn("content_hash", sha2(col(textCol), 256))
      .groupBy("content_hash")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** MinHash signature: for each of `perms` hash functions, the minimum over
    * the document's token-shingle set of ((a_i * h + b_i) mod prime), where
    * h is a 32-bit hash of the shingle. Deterministic seeds.
    *
    * Delegates to the native [[org.apache.spark.sql.graft.MinHashSignature]]
    * expression: one tight JVM loop per document inside whole-stage codegen,
    * a narrow plan (no explode, no aggregate, no shuffle) emitting `perms`
    * longs per doc. The DataFrame-composable shapes both lose: HOF lambdas
    * (`transform`/`slice`) are CodegenFallback — per-element interpreted
    * dispatch made shingling the dominant cost (4-5x slower, measured at 5k
    * docs) — and the codegen-friendly explode/window shapes shuffle or
    * generate the whole token stream, which IS the bottleneck at 100 TB.
    * Null-text docs are dropped, matching the HOF pipeline where
    * `transform(null)` -> inner explode emitted no rows.
    */
  def minHashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, perms: Int = 32): DataFrame =
    docs.where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        org.apache.spark.sql.graft.MinHashSignature
          .minhash_signature(col(textCol), shingleN, perms).as("signature"))

  /** LSH banding: split the signature into bands of `rowsPerBand`, bucket by
    * the band's hash, self-join per (band, bucket) -> candidate pairs.
    * Returns distinct (id_a < id_b) candidate pairs.
    *
    * `perms` MUST equal the signature length produced by
    * [[minHashSignatures]] — a mismatch would slice past the end (empty
    * slices hash to one constant bucket, degenerating the self-join to
    * all-pairs) or silently ignore signature tail values.
    */
  def lshCandidatePairs(signatures: DataFrame, rowsPerBand: Int = 8,
                        perms: Int = 32): DataFrame = {
    val banded = bandedBuckets(signatures, rowsPerBand, perms)
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
  }

  /** (doc_id, band, bucket) rows of a signature frame — the LSH join key
    * stream shared by the batch self-join above and the incremental index
    * below. */
  private[graft] def bandedBuckets(signatures: DataFrame, rowsPerBand: Int,
                                   perms: Int): DataFrame = {
    require(perms % rowsPerBand == 0, s"perms=$perms not divisible by rowsPerBand=$rowsPerBand")
    val bands = perms / rowsPerBand
    signatures.select(
      col("doc_id"),
      posexplode(array((0 until bands).map { b =>
        hash(slice(col("signature"), b * rowsPerBand + 1, rowsPerBand))
      }: _*)).as(Seq("band", "bucket")))
  }

  /** Materialize a corpus's banded LSH buckets as a persistent INDEX for
    * incremental dedup. The production shape for a continuously-growing
    * corpus: hash the corpus ONCE at layout time; every daily batch then
    * probes (and appends to) the index instead of re-hashing the corpus —
    * without this, batch-N dedup costs O(corpus) per batch and the
    * pipeline's total work goes quadratic in corpus size.
    *
    * Pass `SaveMode.Append` to add an already-probed batch's buckets to
    * the index. The steady-state loop per batch is:
    *   1. `incrementalCandidatePairs(batch, index)` — batch-vs-corpus dups;
    *   2. `lshCandidatePairs(minHashSignatures(batch, ...))` — dups WITHIN
    *      the batch (the index probe never pairs two new docs with each
    *      other, so skipping this step lets intra-batch copies append
    *      unseen and survive forever);
    *   3. append the surviving batch's buckets to the index.
    *
    * The banding parameters are written to a `_lsh_params` sidecar inside
    * the index dir (underscore-prefixed, so parquet data discovery ignores
    * it); probes and appends validate against it — mismatched banding
    * would otherwise silently probe garbage buckets (near-empty candidate
    * sets, dups flowing through undetected). */
  def writeSignatureIndex(docs: DataFrame, idCol: String, textCol: String,
                          path: String, shingleN: Int = 3, perms: Int = 32,
                          rowsPerBand: Int = 8,
                          mode: org.apache.spark.sql.SaveMode =
                            org.apache.spark.sql.SaveMode.Overwrite): Unit = {
    val spark = docs.sparkSession
    // only the two meaningful index modes: Ignore would no-op the data
    // write but still restamp the sidecar (silent desync with the bucket
    // data — the exact failure the sidecar guards against), and
    // ErrorIfExists has the same hazard on a half-written dir
    val append = mode == org.apache.spark.sql.SaveMode.Append
    require(append || mode == org.apache.spark.sql.SaveMode.Overwrite,
      s"signature index supports Overwrite (build) or Append (grow), not $mode")
    if (append) requireIndexParams(spark, path, shingleN, perms, rowsPerBand)
    bandedBuckets(minHashSignatures(docs, idCol, textCol, shingleN, perms),
        rowsPerBand, perms)
      .write.mode(mode).parquet(path)
    // after the data: parquet Overwrite deletes the dir, sidecar included
    if (!append) stampIndexParams(spark, path, shingleN, perms, rowsPerBand)
  }

  /** Re-stamp the `_lsh_params` sidecar of an existing index. Recovery
    * path for a crash between the data write and the sidecar write in
    * [[writeSignatureIndex]] (probes refuse a sidecar-less index): the
    * CALLER asserts these are the params the index was built with —
    * stamping wrong values recreates exactly the silent-mismatch failure
    * the sidecar exists to prevent. */
  def stampIndexParams(spark: org.apache.spark.sql.SparkSession, path: String,
                       shingleN: Int, perms: Int, rowsPerBand: Int): Unit =
    graft.io.Artifacts.writeSidecar(spark, path,
      banding(shingleN, perms, rowsPerBand), IndexParams)

  private val IndexParams = "_lsh_params"
  private val Restamp = " (recover with stampIndexParams)"

  private def banding(shingleN: Int, perms: Int, rowsPerBand: Int) =
    Map("shingleN" -> shingleN.toString, "perms" -> perms.toString,
      "rowsPerBand" -> rowsPerBand.toString)

  /** Refuse an index whose `_lsh_params` differ from the caller's banding:
    * probing with different banding silently matches nothing. */
  private[graft] def requireIndexParams(spark: org.apache.spark.sql.SparkSession,
      path: String, shingleN: Int, perms: Int, rowsPerBand: Int): Unit =
    graft.io.Artifacts.requireParams(spark, path,
      banding(shingleN, perms, rowsPerBand), IndexParams, "banding", Restamp)

  /** Compact a signature index's accumulated per-batch append files —
    * the maintenance step the continuous ingest loop needs: every
    * [[writeSignatureIndex]] Append adds one small file set, and after
    * thousands of batches the probe's index scan pays per-file open
    * costs that dwarf the bytes.
    * Refuses a sidecar-less index before rewriting it. */
  def compactSignatureIndex(spark: org.apache.spark.sql.SparkSession,
                            path: String,
                            targetFileBytes: Long = 128L * 1024 * 1024,
                            shuffle: Boolean = false): graft.io.Maintenance.LayoutStats = {
    graft.io.Artifacts.readSidecar(spark, path, IndexParams, Restamp)
    graft.io.Artifacts.compact(spark, path, targetFileBytes, shuffle)
  }

  /** Candidate near-dup pairs between a NEW batch and an indexed corpus:
    * (id_new, id_corpus), distinct. Corpus-corpus pairs are never formed —
    * only new-vs-index — so the work per batch is |new batch| signatures
    * plus one join against the index, not a corpus re-hash.
    *
    * The (tiny) new batch's bucket stream is broadcast, so the
    * corpus-sized index scan joins map-side with ZERO index shuffle; a
    * caller probing with an unusually large batch can disable that and
    * take a shuffle join instead (`broadcastNew = false`). Signature
    * params MUST match the ones the index was written with — mismatched
    * banding would silently probe garbage buckets. */
  def incrementalCandidatePairs(spark: org.apache.spark.sql.SparkSession,
                                newDocs: DataFrame, idCol: String, textCol: String,
                                indexPath: String, shingleN: Int = 3,
                                perms: Int = 32, rowsPerBand: Int = 8,
                                broadcastNew: Boolean = true): DataFrame = {
    requireIndexParams(spark, indexPath, shingleN, perms, rowsPerBand)
    incrementalCandidatePairsAgainst(spark.read.parquet(indexPath),
      newDocs, idCol, textCol, shingleN, perms, rowsPerBand, broadcastNew)
  }

  /** [[incrementalCandidatePairs]] against a pre-loaded index frame —
    * the multi-batch streaming probe loads (and lineage-truncates) the
    * index ONCE per run instead of re-planning the parquet scan inside
    * every micro-batch (r17, guide §2.4). The caller is responsible for
    * `requireIndexParams` when the frame came from an index path; the
    * join itself is unchanged, so outputs are identical. */
  def incrementalCandidatePairsAgainst(index: DataFrame,
                                newDocs: DataFrame, idCol: String, textCol: String,
                                shingleN: Int = 3,
                                perms: Int = 32, rowsPerBand: Int = 8,
                                broadcastNew: Boolean = true): DataFrame = {
    require(perms % rowsPerBand == 0, s"perms=$perms not divisible by rowsPerBand=$rowsPerBand")
    val newBanded = bandedBuckets(
      minHashSignatures(newDocs, idCol, textCol, shingleN, perms), rowsPerBand, perms)
    val probe = if (broadcastNew) broadcast(newBanded) else newBanded
    index.as("c")
      .join(probe.as("n"),
        col("n.band") === col("c.band") && col("n.bucket") === col("c.bucket") &&
        col("n.doc_id") =!= col("c.doc_id"))
      .select(col("n.doc_id").as("id_new"), col("c.doc_id").as("id_corpus"))
      .distinct()
  }

  /** 64-bit SimHash over whitespace tokens: sum +/-1 per bit weighted by
    * token hash bits, take the sign vector. Column-level (per-row HOF)
    * variant — fine for small inputs and tests; the corpus-scale path is
    * [[simHashes]]. */
  def simHash(text: Column): Column = {
    val tokens = split(text, "\\s+")
    val hashes = transform(tokens, t => xxhash64(t))
    // For each bit position, count tokens with that bit set vs total.
    val bitSums = (0 until 64).map { b =>
      aggregate(hashes, lit(0),
        (acc, h) => acc + shiftright(h, b).bitwiseAND(lit(1L)).cast("int"))
    }
    val n = size(tokens)
    // bit b of simhash = 1 iff more than half the tokens have bit b set
    (0 until 64).map { b =>
      when(bitSums(b) * 2 > n, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Corpus-scale SimHash: same value as [[simHash]] but computed as
    * explode + 64 codegen'd conditional sums, not 64 interpreted HOF
    * passes per document. Explode preserves document locality, so the 64
    * bit counters partial-aggregate map-side and the shuffle carries 65
    * longs per doc. */
  def simHashes(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val exploded = docs
      .select(col(idCol).as("doc_id"), explode(split(col(textCol), "\\s+")).as("tok"))
      .select(col("doc_id"), xxhash64(col("tok")).as("h"))
    val bitAggs = (0 until 64).map { b =>
      sum(shiftright(col("h"), b).bitwiseAND(lit(1L)).cast("int")).as(s"__b$b")
    }
    val grouped = exploded.groupBy("doc_id")
      .agg(bitAggs.head, (bitAggs.tail :+ count(lit(1)).as("__n")): _*)
    val sig = (0 until 64).map { b =>
      when(col(s"__b$b") * 2 > col("__n"), shiftleft(lit(1L), b)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    grouped.select(col("doc_id"), sig.as("simhash"))
  }

  /** SimHash near-duplicate PAIRS by band LSH + exact hamming verify —
    * the q_multimodal_phash shape applied to text signatures. Splitting
    * the 64-bit signature into `bands` disjoint (64/bands)-bit bands
    * gives PIGEONHOLE exact recall for hamming < bands: a pair differing
    * in at most bands-1 bits leaves at least one band untouched, so it
    * collides in that band's bucket. Candidates come only from
    * band-bucket collisions (never all-pairs); each candidate is
    * verified with a codegen'd bit_count(xor) and kept at or below
    * `maxHamming`. Band width is the scale dial: bucket count per band
    * is 2^(64/bands), and per-bucket work is quadratic in occupancy —
    * the 4 × 16-bit / k ≤ 3 default is the Manku-Jain-Sarma WWW'07
    * web-dedup operating point (65k buckets per band; the sf10 sweep
    * measured the old 8 × 8-bit form at 4.7e9 candidates over 500k docs
    * vs 42M here, the quadratic densification the band width cures).
    * A pair colliding in several bands is emitted ONCE via the canonical
    * smallest-matching-band filter (checked row-wise from ha^hb), not a
    * candidate-stream DISTINCT — the at-scale candidate flood flows
    * join → filter → output without an exchange on pair rows. */
  def simHashPairs(sigs: DataFrame, maxHamming: Int = 3, bands: Int = 4): DataFrame = {
    require(bands > 0 && 64 % bands == 0,
      s"bands must evenly split 64 bits: $bands")
    val bandBits = 64 / bands
    require(maxHamming < bands,
      s"pigeonhole needs maxHamming < bands: $maxHamming >= $bands")
    val mask = if (bandBits == 64) -1L else (1L << bandBits) - 1
    val banded = sigs.select(col("doc_id"), col("simhash"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), bandBits * b).bitwiseAND(lit(mask))
            .as("bval"))): _*)).as("bb"))
      .select(col("doc_id"), col("simhash"),
        col("bb.band").as("band"), col("bb.bval").as("bval"))
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bval") === col("y.bval") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        col("x.simhash").bitwiseXOR(col("y.simhash")).as("xr"),
        col("x.band").as("band"))
      .where(expr(s"band = 0 OR NOT exists(sequence(0, band - 1), " +
        s"b -> ((xr >> (b * $bandBits)) & ${mask}L) = 0)"))
      .select(col("id_a"), col("id_b"), bit_count(col("xr")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Verify-replay DuckDB oracle for [[simHashPairs]]: the recorded
    * per-doc signatures (xxhash64-based, not SQL-expressible) enter as
    * literals, and DuckDB independently recomputes the ENTIRE pairing
    * stage brute-force — all-pairs hamming via bit_count(xor), the
    * threshold, and the ordering. Because the banding is pigeonhole-exact
    * for hamming ≤ maxHamming, a Spark bug anywhere downstream of the
    * signatures — a band extraction that drops a pair, a wrong xor, a
    * threshold or sort drift — hash-mismatches against the brute-force
    * replay; only signature GENERATION is trusted as recorded. */
  def simHashReplayOracleSql(sigs: Seq[(Long, Long)], maxHamming: Int): String = {
    val rows =
      if (sigs.isEmpty)
        "SELECT CAST(NULL AS BIGINT), CAST(NULL AS BIGINT) WHERE FALSE"
      else {
        val vals = sigs.map { case (id, h) => s"$id, $h" }
          .mkString("(", "), (", ")")
        s"SELECT CAST(i AS BIGINT), CAST(h AS BIGINT) FROM (VALUES $vals) v(i, h)"
      }
    s"""WITH sigs(doc_id, h) AS ($rows)
       SELECT x.doc_id AS id_a, y.doc_id AS id_b,
         CAST(bit_count(xor(x.h, y.h)) AS INT) AS hamming
       FROM sigs x JOIN sigs y ON x.doc_id < y.doc_id
       WHERE bit_count(xor(x.h, y.h)) <= $maxHamming
       ORDER BY id_a, id_b"""
  }

  /** Verify-replay DuckDB oracle for [[simHashPairs]] over a SIDECAR
    * parquet of recorded signatures (the over-cap spillover —
    * [[graft.io.Artifacts.replayOnce]]): same trust boundary as the literal
    * variant, but the replay must scale past the all-pairs form, so
    * candidates come from a banded join. Independence is preserved by
    * banding on a DIFFERENT disjoint 64-bit partition than Spark's
    * contiguous 16-bit quarters: band j gathers bits {i : i mod 4 = j}
    * (bit-interleaved). The pigeonhole theorem holds for ANY disjoint
    * 4-way partition — a pair within `maxHamming` ≤ 3 flips leaves some
    * band untouched — so the candidate set still covers every qualifying
    * pair while being generated by arithmetic Spark never ran: a Spark
    * band-extraction bug that silently drops pairs cannot be mirrored
    * here. Hamming, threshold, and ordering are recomputed as in the
    * brute-force variant. */
  def simHashSidecarOracleSql(path: String, maxHamming: Int): String = {
    val p = graft.io.Artifacts.sqlPath(path)
    // bv = Σ_k ((h >> (4k + band)) & 1) << k, unrolled — bit k of the
    // interleaved band value is signature bit 4k+band (two's-complement
    // arithmetic shift keeps (h >> m) & 1 = bit m for negative h too)
    val bv = (0 until 16)
      .map(k => s"(((h >> (${4 * k} + b.band)) & 1) << $k)")
      .mkString(" + ")
    s"""WITH sigs AS (SELECT doc_id, h FROM read_parquet('$p/*.parquet')),
       bands AS (
         SELECT doc_id, h, CAST(b.band AS INT) AS band, $bv AS bv
         FROM sigs, (SELECT unnest(range(0, 4)) AS band) b),
       cand AS (
         SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
           x.h AS ha, y.h AS hb
         FROM bands x JOIN bands y
           ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id)
       SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
       FROM cand WHERE bit_count(xor(ha, hb)) <= $maxHamming
       ORDER BY id_a, id_b"""
  }

  /** Exact Jaccard similarity of two shingle-set columns. NOTE: evaluates
    * `array_intersect` twice (no let-binding in the Column DSL) — in
    * per-pair hot paths use [[withJaccard]], which materializes the
    * intersection size once. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(a) + size(b) - size(array_intersect(a, b))
    inter / union
  }

  /** Append `out` = Jaccard(aCol, bCol), computing the intersection size
    * once per row — array_intersect dominates per-pair verification cost. */
  def withJaccard(df: DataFrame, aCol: String, bCol: String, out: String): DataFrame =
    df.withColumn("__inter", size(array_intersect(col(aCol), col(bCol))))
      .withColumn(out,
        col("__inter").cast("double") / (size(col(aCol)) + size(col(bCol)) - col("__inter")))
      .drop("__inter")

  /** Exact-Jaccard verification of LSH candidate pairs, shared by the
    * batch (`q_dedup_minhash_lsh`) and incremental (`q_dedup_incremental`)
    * paths so the two cannot drift: shingle ONLY the candidate-doc set
    * (broadcast semi-join — O(candidates), not O(corpus)), score each
    * pair once, and keep pairs at or above `threshold`.
    *
    * Returns (leftCol, rightCol, jac) ordered by the pair ids. The
    * candidate-doc shingle frame is persisted: it is joined twice (left
    * and right side) and would otherwise re-scan + re-shingle per side.
    *
    * Cache lifetime — an explicit tradeoff: the persist is session-
    * lifetime. Identical (corpus, candidates) plans are deduplicated by
    * the CacheManager, but each DISTINCT corpus/candidate set cached in
    * one JVM accumulates executor storage until session end. That is the
    * right call for this harness (a handful of bounded candidate sets,
    * MEMORY_AND_DISK so pressure spills rather than OOMs); a long-lived
    * service verifying many corpora should instead use
    * [[verifyCandidatesScoped]], which frees the cache once the result is
    * materialized. */
  def verifyCandidates(docs: DataFrame, idCol: String, textCol: String,
                       cands: DataFrame, leftCol: String, rightCol: String,
                       shingleN: Int = 3, threshold: Double = 0.5): DataFrame = {
    val sh = candidateShingles(docs, idCol, textCol, cands, leftCol, rightCol, shingleN)
    scorePairs(sh, cands, idCol, leftCol, rightCol, threshold)
  }

  /** [[verifyCandidates]] with a scoped cache: materializes the verified
    * pairs eagerly (localCheckpoint — truncates lineage so the returned
    * frame no longer references the shingle cache), then unpersists the
    * shingle frame immediately. The shape for long-lived services that
    * verify MANY distinct corpora/candidate sets in one JVM, where
    * session-lifetime caches would accumulate without bound. Costs one
    * eager materialization; the returned frame is reusable without
    * recompute. */
  def verifyCandidatesScoped(docs: DataFrame, idCol: String, textCol: String,
                             cands: DataFrame, leftCol: String, rightCol: String,
                             shingleN: Int = 3, threshold: Double = 0.5): DataFrame = {
    val sh = candidateShingles(docs, idCol, textCol, cands, leftCol, rightCol, shingleN)
    try scorePairs(sh, cands, idCol, leftCol, rightCol, threshold)
      .localCheckpoint(eager = true)
    finally sh.unpersist()
  }

  /** Persisted shingle frame of exactly the docs referenced by `cands` —
    * broadcast semi-join keeps it O(candidates), not O(corpus). Shared by
    * the session-cache and scoped verify paths so they cannot drift. */
  private def candidateShingles(docs: DataFrame, idCol: String, textCol: String,
                                cands: DataFrame, leftCol: String, rightCol: String,
                                shingleN: Int): DataFrame = {
    val ids = cands.select(explode(array(col(leftCol), col(rightCol))).as(idCol))
      .distinct()
    // shingles enter as the codegen'd 64-bit gram hashes (r16): the HOF
    // string shape was interpreted per gram per candidate doc, and the
    // intersect/size Jaccard counts over hashes equal the counts over
    // strings (the q_sim_set_join 2^-64-collision equivalence the
    // string-replay oracles already lean on)
    docs.join(broadcast(ids), idCol)
      .select(col(idCol), org.apache.spark.sql.graft.TokenShingleHashes
        .token_shingle_hashes(col(textCol), shingleN).as("sh"))
      .persist()
  }

  /** Join the cached shingles onto both sides of each candidate pair,
    * score exact Jaccard once per pair, keep pairs ≥ threshold. The
    * 4-decimal rounding is the engine-stable floor form (`round(x, 4)`
    * rounds Spark's SHORTEST-DECIMAL rendering HALF_UP while DuckDB
    * rounds the exact binary value — see graft.queries.round6; the
    * verify-replay oracles below compare this column bit-for-bit). */
  private def scorePairs(sh: DataFrame, cands: DataFrame, idCol: String,
                         leftCol: String, rightCol: String,
                         threshold: Double): DataFrame =
    withJaccard(
        cands
          .join(sh.withColumnRenamed(idCol, leftCol).withColumnRenamed("sh", "sh_x"), leftCol)
          .join(sh.withColumnRenamed(idCol, rightCol).withColumnRenamed("sh", "sh_y"), rightCol),
        "sh_x", "sh_y", "jac")
      .filter(col("jac") >= threshold)
      .select(col(leftCol), col(rightCol),
        (floor(col("jac") * 10000d + 0.5d) / 10000d).as("jac"))
      .orderBy(leftCol, rightCol)

  /** GENERATED DuckDB oracle for the [[verifyCandidates]] stage: given the
    * recorded candidate pairs (the only non-SQL-expressible piece — murmur
    * MinHash banding — embedded as literals, the q_dedup_semantic /
    * PageRank recorded-fit pattern), DuckDB independently recomputes token
    * 3-gram shingling from the raw `documents` table, exact Jaccard, the
    * threshold filter, the engine-stable 4-decimal rounding, and the
    * ordering. A Spark bug anywhere in the verification stage — wrong
    * shingles, wrong intersection, a dropped or phantom pair, a threshold
    * or rounding drift — hash-mismatches; only the candidate GENERATION
    * is trusted as recorded (its determinism is separately pinned by
    * seeded signatures + IncrementalDedupSpec/RecallFloorSpec).
    *
    * `pairs` carries an optional stage label per pair (multi-stage loops
    * emit a `stage` column; single-stage callers pass None). Shingle
    * semantics replayed exactly: tokens = split on single spaces (empties
    * kept), windows i..i+2 CLAMPED at the end (DuckDB list slicing), so a
    * 1-2 token text yields its whole token list as the one shingle —
    * matching [[tokenShingles]]'s greatest(size-2, 1) + slice.
    *
    * `extraCtes` (appended after the built-in CTEs) and `prefixCol`
    * ((name, SQL expr over `scored` columns)) let a caller prepend a
    * derived leading column — e.g. the streaming ingest query's
    * batch_id, recomputed from staged id-range arithmetic — which also
    * leads the ORDER BY. */
  /** The shared cand/tk/sh/scored CTE block of the verify-replay oracles:
    * recorded candidates as literals, shingling + exact Jaccard
    * recomputed by DuckDB. ONE derivation consumed by both
    * [[verifyReplayOracleSql]] and [[clusterReplayOracleSql]] so the two
    * replays cannot drift. */
  private def scoredCtes(pairs: Seq[(Option[String], Long, Long)],
                         leftCol: String, rightCol: String): (String, Boolean) = {
    val staged = pairs.exists(_._1.isDefined)
    val rows =
      if (pairs.isEmpty) s"SELECT ${if (staged) "CAST(NULL AS VARCHAR), " else ""}" +
        "CAST(NULL AS BIGINT), CAST(NULL AS BIGINT) WHERE FALSE"
      else {
        val vals = pairs.map { case (st, a, b) =>
          (st.map(s => s"'$s', ").getOrElse("")) + s"$a, $b"
        }.mkString("(", "), (", ")")
        val cols = (if (staged) Seq("s", "a", "b") else Seq("a", "b"))
        s"SELECT ${if (staged) "s, " else ""}CAST(a AS BIGINT), CAST(b AS BIGINT) " +
          s"FROM (VALUES $vals) v(${cols.mkString(", ")})"
      }
    (scoredCtesFrom(rows, staged, leftCol, rightCol), staged)
  }

  /** The over-cap candidate source: recorded pairs from a
    * [[graft.io.Artifacts.replayOnce]] parquet ((stage,) a, b columns) instead
    * of inline VALUES — same trust boundary, any corpus size. */
  private def sidecarCandSrc(path: String, staged: Boolean): String =
    s"SELECT ${if (staged) "stage, " else ""}a, b FROM " +
      s"read_parquet('${graft.io.Artifacts.sqlPath(path)}/*.parquet')"

  /** The cand/tk/sh/scored CTE block over an arbitrary candidate-row
    * source (VALUES literals below the cap, a sidecar parquet above it)
    * — ONE derivation for every verify-replay shape so they cannot
    * drift. */
  private def scoredCtesFrom(candSrc: String, staged: Boolean,
                             leftCol: String, rightCol: String): String = {
    val candCols = (if (staged) Seq("stage") else Nil) ++ Seq(leftCol, rightCol)
    val stageSel = if (staged) "c.stage, " else ""
    s"""cand(${candCols.mkString(", ")}) AS ($candSrc),
       tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       sh AS (SELECT doc_id, list_distinct(list_transform(
           range(1, greatest(len(t) - 2, 1) + 1),
           i -> array_to_string(t[CAST(i AS INT):CAST(i + 2 AS INT)], ' '))) AS sh
         FROM tk),
       scored AS (SELECT ${stageSel}c.$leftCol, c.$rightCol,
           CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
             / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) AS j
         FROM cand c
         JOIN sh x ON x.doc_id = c.$leftCol
         JOIN sh y ON y.doc_id = c.$rightCol)"""
  }

  /** The candidate-splice CTE block (cand/tk/sh/scored) alone — for
    * callers that embed the scored pairs inside a LARGER replay chain
    * (the v2 curation pipeline's one-CTE-chain oracle). */
  private[graft] def candidateScoreCtes(pairs: Seq[(Option[String], Long, Long)],
                                        leftCol: String,
                                        rightCol: String): String =
    scoredCtes(pairs, leftCol, rightCol)._1

  def verifyReplayOracleSql(pairs: Seq[(Option[String], Long, Long)],
                            leftCol: String, rightCol: String,
                            threshold: Double,
                            extraCtes: String = "",
                            prefixCol: Option[(String, String)] = None): String = {
    val (ctes, staged) = scoredCtes(pairs, leftCol, rightCol)
    verifySqlOver(ctes, staged, leftCol, rightCol, threshold, extraCtes,
      prefixCol)
  }

  /** [[verifyReplayOracleSql]] with the recorded candidates read back
    * from a [[graft.io.Artifacts.replayOnce]] parquet instead of VALUES
    * literals — the over-cap path, exact at any corpus size. */
  def verifyReplayOracleSqlFrom(path: String, staged: Boolean,
                                leftCol: String, rightCol: String,
                                threshold: Double,
                                extraCtes: String = "",
                                prefixCol: Option[(String, String)] = None): String =
    verifySqlOver(
      scoredCtesFrom(sidecarCandSrc(path, staged), staged, leftCol, rightCol),
      staged, leftCol, rightCol, threshold, extraCtes, prefixCol)

  private def verifySqlOver(ctes: String, staged: Boolean,
                            leftCol: String, rightCol: String,
                            threshold: Double, extraCtes: String,
                            prefixCol: Option[(String, String)]): String = {
    val stageOrd = if (staged) "stage, " else ""
    val extra = if (extraCtes.isEmpty) "" else s",\n       $extraCtes"
    val preSel = prefixCol.map { case (n, e) => s"$e AS $n, " }.getOrElse("")
    val preOrd = prefixCol.map { case (n, _) => s"$n, " }.getOrElse("")
    s"""WITH $ctes$extra
       SELECT $preSel$stageOrd$leftCol, $rightCol,
         floor(j * 10000 + 0.5) / 10000 AS jac
       FROM scored WHERE j >= $threshold
       ORDER BY $preOrd$stageOrd$leftCol, $rightCol"""
  }

  /** GENERATED DuckDB oracle for the full cluster-and-keep stage
    * (q_dedup_clusters): the recorded candidates feed the same scored
    * CTEs as [[verifyReplayOracleSql]], then DuckDB independently runs
    * the whole downstream — threshold, edge symmetrization, recursive
    * min-label reachability (the q_graph_components replay shape,
    * identical semantics to [[Components.connectedComponents]]'s
    * min-reachable-id labels), canonical keep = the component minimum,
    * cluster sizing, and the per-doc keep/drop verdicts. A wrong merge,
    * a split cluster, a wrong canonical pick, or a size drift all
    * hash-mismatch. */
  def clusterReplayOracleSql(pairs: Seq[(Option[String], Long, Long)],
                             threshold: Double): String =
    clusterSqlOver(scoredCtes(pairs, "id_a", "id_b")._1, threshold)

  /** [[clusterReplayOracleSql]] over a sidecar-recorded candidate set —
    * the over-cap path (unstaged by construction: the cluster query's
    * candidates carry no stage label). */
  def clusterReplayOracleSqlFrom(path: String, threshold: Double): String =
    clusterSqlOver(
      scoredCtesFrom(sidecarCandSrc(path, staged = false), staged = false,
        "id_a", "id_b"),
      threshold)

  private def clusterSqlOver(ctes: String, threshold: Double): String = {
    s"""WITH RECURSIVE $ctes,
       p AS MATERIALIZED (SELECT id_a, id_b FROM scored WHERE j >= $threshold),
       e AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM p
                          UNION SELECT id_b AS a, id_a AS b FROM p),
       reach(node, r) AS (
         SELECT a, a FROM e
         UNION
         SELECT e.b, reach.r FROM reach JOIN e ON e.a = reach.node),
       lbl AS MATERIALIZED (
         SELECT node AS doc_id, min(r) AS keep_id FROM reach GROUP BY node),
       sz AS (SELECT keep_id, count(*) AS cluster_size FROM lbl GROUP BY keep_id)
       SELECT l.doc_id, l.keep_id, s.cluster_size,
              l.doc_id <> l.keep_id AS is_drop
       FROM lbl l JOIN sz s USING (keep_id)
       ORDER BY l.doc_id"""
  }
}
