package graft.queries

import graft.ops.{Dedup, Mixing, Quality, Similarity, TextAnalysis}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graft.CosineSimilarity.cosine_sim
import org.apache.spark.sql.functions._

/** LLM-training-data operators: deduplication (exact, n-gram Jaccard,
  * MinHash-LSH, SimHash) and embedding similarity search (brute-force and
  * LSH-bucketed ANN). See graft.ops.Dedup / graft.ops.Similarity for the
  * scale story of each.
  */
object LlmOps {

  /** The catalog's target language mixture — ONE definition shared by
    * `q_mix_domains` and `q_curate_pipeline` (their SQL oracles embed the
    * same weights and must be edited together). */
  private val MixWeights = Map(
    "en" -> 0.25, "de" -> 0.25, "es" -> 0.20, "fr" -> 0.20, "zh" -> 0.10)

  /** `q_filter_blocklist`'s curated registered-domain blocklist — ONE
    * definition interpolated into both the Spark literal table and the
    * DuckDB oracle's VALUES list so an edit cannot drift. Two entries hit
    * the corpus (src3/src12 across every subdomain variant); two miss —
    * the filter must be a no-op for unlisted domains, not merely shrink
    * listed ones. */
  private[queries] val BlockedDomains: Seq[String] = Seq(
    "src3.example.com", "src12.example.com",
    "tracker.example.com", "malware.example.org")

  /** `q_contamination`'s shingle width and overlap floor — ONE definition
    * interpolated into both the Spark call and the DuckDB oracle so a
    * retune cannot drift. 3-grams (not 5): the driver corpus has no
    * cross-doc 5-gram collisions at sf0.01, so the 5-gram sweep verified
    * on an empty result; 3-grams keep the sweep non-empty at every SF. */
  private[queries] val ContamShingleN = 3
  private[queries] val ContamMinOverlap = 3

  /** URL synthesis + canonicalization, shared by `q_dedup_url` and the
    * v2 curation pipeline so the two chains cannot drift. Appends
    * `canonical_url` from (doc_id, source): deterministic raw-URL
    * synthesis with the corpus's noise axes (case, default port,
    * trailing slash, utm params, param order), then native-function
    * normalization — lowercase scheme/host, strip the scheme's default
    * port, trim trailing path slashes, drop utm_*, sort survivors.
    * Everything is map-side (no shuffle in the helper). */
  private def withCanonicalUrl(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val raw = concat(
      when(col("doc_id") % 2 === 0, lit("HTTP://")).otherwise(lit("http://")),
      when(col("doc_id") % 3 === 0, upper(col("source"))).otherwise(col("source")),
      lit(".example.com"),
      when(col("doc_id") % 5 === 0, lit(":80")).otherwise(lit("")),
      lit("/p/"), expr("doc_id div 40").cast("string"),
      when(col("doc_id") % 13 === 0, lit("/")).otherwise(lit("")),
      lit("?utm_source=feed&utm_sid="), (col("doc_id") % 4).cast("string"),
      when(col("doc_id") % 2 === 0, lit("&a=1&b=2")).otherwise(lit("&b=2&a=1")),
      when(col("doc_id") % 11 === 0, lit("&utm_campaign=x")).otherwise(lit("")))
    df.withColumn("raw", raw)
      .withColumn("scheme", lower(element_at(split(col("raw"), "://"), 1)))
      .withColumn("rest", element_at(split(col("raw"), "://"), 2))
      .withColumn("hostport", element_at(split(col("rest"), "/"), 1))
      .withColumn("host", lower(
        when(col("scheme") === "http",
          regexp_replace(col("hostport"), ":80$", ""))
        .when(col("scheme") === "https",
          regexp_replace(col("hostport"), ":443$", ""))
        .otherwise(col("hostport"))))
      .withColumn("pathq", expr("substring(rest, length(hostport) + 1)"))
      .withColumn("path0", element_at(split(col("pathq"), "\\?"), 1))
      .withColumn("query",
        when(size(split(col("pathq"), "\\?")) >= 2,
          element_at(split(col("pathq"), "\\?"), 2)).otherwise(lit("")))
      .withColumn("path",
        when(regexp_replace(col("path0"), "/+$", "") === "", lit("/"))
          .otherwise(regexp_replace(col("path0"), "/+$", "")))
      .withColumn("params", filter(split(col("query"), "&"),
        p => !p.startsWith("utm_") && p =!= ""))
      .withColumn("canonical_url",
        concat(col("scheme"), lit("://"), col("host"), col("path"),
          when(size(col("params")) > 0,
            concat(lit("?"), array_join(array_sort(col("params")), "&")))
            .otherwise(lit(""))))
      .drop("raw", "scheme", "rest", "hostport", "pathq", "path0", "query",
        "path", "params")
  }

  /** The v2 pipeline's content-seen drop threshold: a day's document is
    * discarded when at least half its 16-token blocks already exist in
    * the corpus — ONE definition shared with the generated oracle. */
  private val ContentSeenPpm = 500000L

  /** The v2 pipeline's own day blocklist — a curated artifact like
    * [[BlockedDomains]], chosen so the gate BITES inside the day slice
    * at every scale (the corpus assigns source = doc_id mod 20, so the
    * day's sources are exactly {src0, src5, src10, src15} and the shared
    * corpus-wide list's src3/src12 never appear there): src15 drops a
    * quarter of the day, the second entry must match nothing. ONE
    * definition interpolated into the Spark literal table and the
    * generated oracle. */
  private[queries] val DayBlockedDomains: Seq[String] = Seq(
    "src15.example.com", "phish.example.net")

  /** q_dedup_semantic's cosine threshold — ONE definition shared by the
    * query and its generated oracle (edited together by construction). */
  private val SemanticThreshold = 0.35

  /** q_embed_pca_k's component count — ONE definition shared by the
    * query and its generated oracle. */
  private val PcaK = 3

  /** The corpus Bloom sketch (`q_dedup_bloom`'s fitted filter — numBits/8
    * bytes, the fit-once half of the content-seen check), shared by
    * `q_dedup_bloom` and the streaming `q_stream_bloom_gate`. Held as a
    * BROADCAST handle, not the bytes: a plan-literal sketch ships per task
    * and re-hashes per plan compare (measured 4.3× the pin); the broadcast
    * ships once per executor. */
  private[queries] def bloomSketchFor(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.broadcast.Broadcast[Array[Byte]] =
    graft.io.Artifacts.once(dir, "bloom_sketch") {
      val corpus = tbl(s, dir, "documents").filter(col("doc_id") % 5 =!= 0)
      val bytes = graft.ops.BloomDedup.fitSketch(corpus, "doc_id", "text")
      s.sparkContext.broadcast(bytes)
    }

  /** Recorded LSH CANDIDATE pairs (pre-verification) — the artifacts
    * `lsh_cands`, `inc_cands` and `full_cands` (the curate chains record
    * theirs as plain literal pairs) — read back by [[oracles]] to
    * GENERATE verify-replay DuckDB oracles
    * (the q_dedup_semantic pattern: the murmur-based candidate
    * generation is the only non-SQL-expressible piece, so it enters the
    * oracle as recorded literals while DuckDB independently recomputes
    * shingling, exact Jaccard, threshold, rounding, and ordering from
    * the raw documents table). `Right(pairs)` = inline literals
    * (≤ [[ReplayOracleCap]] pairs, self-contained SQL); `Left(path)` =
    * the over-cap parquet spillover ([[graft.io.Artifacts.replayOnce]],
    * written by executors — the recording collect is limit-bounded
    * either way) the generated oracle reads back, so the replay stays
    * exact at any corpus size. q_dedup_simhash records its per-doc
    * signatures the same way. Candidate DETERMINISM (seeded signatures)
    * is pinned separately by IncrementalDedupSpec / RecallFloorSpec. */
  private type CandRec = Either[String, Seq[(Option[String], Long, Long)]]
  private val ReplayOracleCap = 5000

  /** q_dedup_simhash's hamming budget — ONE definition shared by the
    * query, its generated oracle, and the brute-force spec twin. 3 is
    * the 4-band (16-bit) pigeonhole maximum (any pair within 3 bit
    * flips leaves one band untouched) — the Manku-Jain-Sarma WWW'07
    * web-dedup operating point. The earlier 8 × 8-bit / k ≤ 7 form went
    * quadratic one decade above the gate config: 256 buckets per band
    * densify linearly with the corpus (4.7e9 candidates at sf10's 500k
    * docs vs 42M at this width). */
  private[graft] val SimHashMaxHamming = 3

  /** The exact-Jaccard keep threshold of the MinHash verify stage — ONE
    * definition shared by the queries (verifyCandidates default) and the
    * generated replay oracles. */
  private val VerifyThreshold = 0.5

  /** ANN-tier parameters — ONE definition shared by the queries and
    * their generated replay oracles (the VerifyThreshold stance). The
    * query-set predicates are likewise shared via [[AnnQueryPred]] /
    * [[IvfPqQueryPred]]. */
  private val AnnK = 3
  private val LshAnnBits = 4
  private val IvfNLists = 8
  private val IvfNProbe = 2
  /** PQ codebook size per subspace — retuned 16 → 64 by the round-16
    * (ks, rerank) JOINT sweep (at sf1: recall@3
    * 0.31 → 0.41 at the adcRerank shortlist for an ~11% one-time fit
    * cost; ks=256 buys only +0.04 more for ~10× the fit — SCALE.md
    * records the surface). */
  private val IvfPqKs = 64
  private val AnnQueryPred = "vec_id < 50"
  private val IvfPqQueryPred = "vec_id % 50 = 0"

  private def pairsOf(df: org.apache.spark.sql.DataFrame,
                      stage: Option[String]): Seq[(Option[String], Long, Long)] =
    df.collect().toSeq.map(r => (stage, r.getLong(0), r.getLong(1)))

  /** Record a candidate set for oracle replay: the collect is bounded at
    * ReplayOracleCap+1 rows PER STAGE regardless of corpus size; if the
    * total exceeds the literal cap the full set spills to a
    * [[graft.io.Artifacts.replayOnce]] parquet instead (executor write — the
    * driver never holds the over-cap set). The frames' first two columns
    * are the (left, right) pair ids. */
  private def recordPairs(dir: String, name: String,
      stages: Seq[(Option[String], org.apache.spark.sql.DataFrame)]): CandRec = {
    val probes = stages.map { case (st, df) =>
      (st, df.limit(ReplayOracleCap + 1).collect()) }
    if (probes.iterator.map(_._2.length).sum <= ReplayOracleCap)
      Right(probes.flatMap { case (st, rows) =>
        rows.toSeq.map(r => (st, r.getLong(0), r.getLong(1))) })
    else {
      val staged = stages.exists(_._1.isDefined)
      Left(graft.io.Artifacts.replayOnce(dir, name) {
        stages.map { case (st, df) =>
          val ab = df.select(col(df.columns(0)).as("a"),
            col(df.columns(1)).as("b"))
          if (staged)
            ab.select(lit(st.orNull).cast("string").as("stage"),
              col("a"), col("b"))
          else ab
        }.reduce(_ unionByName _)
      })
    }
  }

  private def replayOracle(name: String, left: String, right: String,
                           staged: Boolean = false, extraCtes: String = "",
                           prefixCol: Option[(String, String)] = None): Option[String] =
    graft.io.Artifacts.single[CandRec](name).map {
      case Right(pairs) => graft.ops.Dedup.verifyReplayOracleSql(pairs, left,
        right, VerifyThreshold, extraCtes, prefixCol)
      case Left(path) => graft.ops.Dedup.verifyReplayOracleSqlFrom(path,
        staged, left, right, VerifyThreshold, extraCtes, prefixCol)
    }

  /** The incremental-dedup corpus index (base slice = doc_id % 5 >= 1,
    * batch slice = % 5 == 0), built once per corpus content — ONE
    * definition shared by `q_dedup_incremental` and the streaming ingest
    * entry so the two probe the same index and cannot drift. */
  private[queries] def incrementalIndexFor(
      s: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.io.Artifacts.once(dir, "lsh_index") {
      val p = graft.io.TempDirs.createDeletedOnExit("graft_lshidx_")
        .getAbsolutePath
      Dedup.writeSignatureIndex(
        tbl(s, dir, "documents").where(!(col("doc_id") % 5 === 0)),
        "doc_id", "text", p)
      p
    }

  /** Record-or-reuse the incremental probe's candidate pairs for `dir` —
    * the shared `inc_cands` recording behind both the batch and streaming
    * ingest oracles (the candidate set is identical: new-vs-corpus pairs are
    * per-document independent, so the per-chunk union equals the batch
    * probe). The frame's first two columns are (id_new, id_corpus);
    * literal-or-sidecar recording as in [[recordPairs]]. */
  private[queries] def incrementalCandidatesFor(dir: String,
      compute: () => org.apache.spark.sql.DataFrame): Unit =
    graft.io.Artifacts.once(dir, "inc_cands")(
      recordPairs(dir, "inc_cands", Seq((None, compute()))))

  /** The generated verify-replay oracle over the recorded incremental
    * candidates, with optional extra CTEs / derived leading column (the
    * streaming ingest query's batch attribution). Same one-dir emission
    * rule as [[replayOracle]], literal-or-sidecar. */
  private[queries] def incrementalReplayOracleSql(extraCtes: String = "",
      prefixCol: Option[(String, String)] = None): Option[String] =
    replayOracle("inc_cands", "id_new", "id_corpus", extraCtes = extraCtes,
      prefixCol = prefixCol)

  val defs: Map[String, Q] = Map(
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exactKeep(tbl(s, dir, "documents"), "doc_id", "text")
        .select("keep_id", "n_copies", "content_hash")
        .orderBy("keep_id")),
    // URL-canonicalization dedup — the CommonCrawl-pipeline staple that
    // precedes any content dedup: the same resource hides behind case
    // differences, default ports, trailing slashes, parameter order, and
    // utm_* tracking junk. Raw URLs are SYNTHESIZED deterministically
    // from (doc_id, source) with exactly those noise axes (the corpus
    // has no URL column; the operator — the canonicalization chain — is
    // the point), then normalized with NATIVE codegen'd functions only:
    // lowercase scheme/host, strip the scheme's default port, trim
    // trailing path slashes, drop utm_* params, sort the survivors.
    // Everything up to the final group-by is map-side; the shuffle key is
    // the canonical URL (one vocab-of-resources-sized aggregation, the
    // exact-dedup shape). The oracle replays every normalization step
    // with the literal-split/list_filter/list_sort equivalents.
    "q_dedup_url" -> ((s, dir) =>
      withCanonicalUrl(tbl(s, dir, "documents").select("doc_id", "source"))
        .groupBy("canonical_url")
        .agg(min("doc_id").as("keeper_doc_id"), count(lit(1)).as("n_docs"))
        .orderBy("canonical_url")),
    // Paragraph-level exact dedup — the C4/CCNet step BETWEEN doc-level
    // exact dedup and fuzzy dedup: boilerplate repeats at sub-document
    // granularity (nav bars, license blocks, templated intros), so the
    // corpus is deduped on PARAGRAPHS, keeping each one's first
    // occurrence in (doc_id, block_idx) order and re-counting what each
    // document retains. The synthetic corpus has no newlines, so the
    // paragraph unit is the deterministic 16-token block (chunkDocs with
    // window = stride — the q_text_chunks kernel, zero overlap).
    // Scale shape: blocks explode map-side; the first-occurrence table is
    // ONE aggregation keyed on the block's 64-bit xxhash (8-byte shuffle
    // keys instead of ~100-byte block strings — the q_text_dup_ngrams
    // move — with min(struct) per key, constant per-key state); the
    // mark join shuffles hash-keyed rows and the per-doc re-count is a
    // counts-only aggregate. Nothing holds unbounded per-key state. The
    // oracle works over block STRINGS (hash = string counts modulo
    // ~n²/2⁶⁵ collisions, the established equivalence) via the
    // independent row_number-over-partition formulation.
    "q_dedup_paragraph" -> ((s, dir) => {
      val blocks = graft.ops.TextAnalysis.chunkDocs(
          tbl(s, dir, "documents"), "doc_id", "text", window = 16, stride = 16)
        .select(col("doc_id"), col("chunk_idx"), col("n_tok"),
          xxhash64(col("chunk_text")).as("h"))
      val first = blocks.groupBy("h")
        .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("f"))
      blocks.join(first, "h")
        .withColumn("kept", col("doc_id") === col("f.doc_id") &&
          col("chunk_idx") === col("f.chunk_idx"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_blocks"),
          count(when(!col("kept"), lit(1))).as("n_dup_blocks"),
          sum(when(col("kept"), col("n_tok")).otherwise(lit(0)))
            .as("kept_tokens"))
        .orderBy("doc_id")
    }),
    // Bloom-gated cross-batch content-seen check (ops.BloomDedup): the
    // day's batch probes a fixed-size Bloom sketch of the corpus's
    // 16-token block hashes (Spark's own BloomFilterAggregate — the
    // runtime-filter expression, bridged like cosine_sim), never-seen
    // blocks exit map-side, and the bloom-positive remainder is verified
    // exactly. The sketch fixes the 100 TB asymmetry the exact join
    // can't: neither corpus nor batch broadcasts, but the SKETCH is
    // numBits-bounded and the verified candidate set is dup-volume-sized.
    // Output is exact (no false negatives + exact verify), so the oracle
    // is the plain block join the sketch replaces at scale, over block
    // STRINGS (the q_dedup_paragraph hash = string stance).
    "q_dedup_bloom" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      val corpus = d.filter(col("doc_id") % 5 =!= 0)
      // fit-once/probe-many: the serialized filter is a corpus artifact;
      // every invocation after the first pays one batch pass + one
      // corpus verify pass
      val sketch = bloomSketchFor(s, dir)
      graft.ops.BloomDedup.seenBlocks(corpus,
          d.filter(col("doc_id") % 5 === 0), "doc_id", "text", sketch)
        .orderBy("doc_id")
    }),
    // Exact character-3-gram Jaccard between consecutive doc ids — the
    // verification kernel of near-dup detection, oracled exactly.
    "q_dedup_ngram_jaccard" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      val a = d.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh_a"))
      val b = d.select((col("doc_id") - 1).as("doc_id"), Dedup.shingles(col("text"), 3).as("sh_b"))
      Dedup.withJaccard(a.join(b, "doc_id"), "sh_a", "sh_b", "jac")
        .select(col("doc_id"), col("jac"))
        .orderBy("doc_id")
    }),
    // Exact-substring dedup: longest shared token run per document pair
    // (ops.SubstringDedup — anchor-gram join + relational run extension).
    // minRun = 20 suits this corpus's ~55-token documents; a production
    // 50-token Lee-et-al pass is the same operator with minRun = 50. The
    // DF cap sits above the corpus max, so semantics are exact and the
    // DuckDB gram-string oracle must hash-match.
    "q_dedup_substring" -> ((s, dir) =>
      graft.ops.SubstringDedup.longestSharedRuns(
          tbl(s, dir, "documents"), "doc_id", "text",
          minRun = 20, maxGramDf = 100000L)
        .orderBy("doc_a", "doc_b")),
    // MinHash+LSH candidates verified with exact Jaccard. Oracled via the
    // GENERATED verify-replay SQL: murmur-based candidate generation isn't
    // expressible in DuckDB, so the recorded candidate pairs enter as
    // literals and DuckDB independently recomputes shingling + Jaccard +
    // threshold + ordering from raw documents (see [[CandRec]]).
    "q_dedup_minhash_lsh" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      // Signatures are NOT persisted: the native expression makes them a
      // cheap map-only recompute. The candidate pairs feed two consumers
      // (the id semi-join and the final verification join), so they persist;
      // the entry is tiny (pair ids only), deduplicated by Spark's plan
      // cache across re-invocations, and lives until session shutdown — at
      // real scale this is a checkpoint to distributed storage instead.
      val sigs = Dedup.minHashSignatures(d, "doc_id", "text")
      val cands = Dedup.lshCandidatePairs(sigs).persist()
      // record the candidate set once per corpus for the generated
      // verify-replay oracle (first invocation pays one collect of the
      // tiny persisted pair frame; later invocations hit the memo)
      graft.io.Artifacts.once(dir, "lsh_cands")(
        recordPairs(dir, "lsh_cands", Seq((None, cands))))
      // exact-Jaccard verification of the candidate set only — shared
      // helper (shingles the candidate docs once, persisted; threshold
      // 0.5) so this and the incremental query cannot drift
      Dedup.verifyCandidates(d, "doc_id", "text", cands, "id_a", "id_b")
    }),
    // The near-dup loop's FINAL step — the keep/drop decision a crawl
    // pipeline actually acts on: verified near-dup pairs (same
    // signatures/banding/threshold as q_dedup_minhash_lsh — shared
    // candidate memo, so the two queries cannot drift) merge into dup
    // CLUSTERS via connected components (pairs are not transitive-safe
    // to act on directly: A~B, B~C must drop to ONE canonical doc, not
    // two independent pair picks), canonical keep = the cluster's min
    // doc_id, output one verdict row per clustered doc. Scale shape:
    // components run on the near-dup PAIR graph (bounded by near-dup
    // volume, orders below corpus size); cluster sizing is one
    // component-keyed aggregation joined back. Singleton docs (no
    // verified pair) emit nothing — the output is dup-volume-sized,
    // never corpus-sized. Oracled end-to-end via the generated
    // verify-replay + recursive-components SQL (Dedup.clusterReplayOracleSql).
    "q_dedup_clusters" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      val cands = Dedup.lshCandidatePairs(
        Dedup.minHashSignatures(d, "doc_id", "text")).persist()
      graft.io.Artifacts.once(dir, "lsh_cands")(
        recordPairs(dir, "lsh_cands", Seq((None, cands))))
      val pairs = Dedup.verifyCandidates(d, "doc_id", "text",
          cands, "id_a", "id_b")
        .select("id_a", "id_b")
      val comp = graft.ops.Components.connectedComponents(pairs, "id_a", "id_b")
      comp.groupBy("component").agg(count(lit(1)).as("cluster_size"))
        .join(comp, "component")
        .select(col("id").as("doc_id"), col("component").as("keep_id"),
          col("cluster_size"),
          (col("id") =!= col("component")).as("is_drop"))
        .orderBy("doc_id")
    }),
    // Incremental dedup: a "daily batch" (doc_id % 5 == 0) probed against
    // a persisted signature index of the corpus (the other 80%). The
    // index is built once per corpus and memoized (same lifecycle as the
    // IVF index); each batch then costs |batch| signatures + one
    // broadcast join against the index — the corpus is NEVER re-hashed,
    // which is what keeps a continuously-growing 100 TB corpus's total
    // dedup work linear instead of quadratic. Candidates get the exact-
    // Jaccard verify, oracled by the generated verify-replay SQL
    // (recorded candidates + DuckDB-recomputed verification).
    // NOTE: this query runs step 1 of the documented 3-step ingest loop
    // (index probe) ONLY — the within-batch pass (step 2,
    // `lshCandidatePairs` over the batch itself; the probe never forms
    // new-new pairs) and the index append (step 3) are intentionally
    // omitted from the catalog entry so its output isolates probe
    // behavior; both are exercised end-to-end by IncrementalDedupSpec's
    // intra-batch and append tests.
    "q_dedup_incremental" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      val isNew = col("doc_id") % 5 === 0
      val idx = incrementalIndexFor(s, dir)
      // persisted: three consumers (the verify helper's id projection +
      // two pair joins); tiny (pair ids only), plan-cache-deduplicated
      // across invocations, freed at session end — same stance as the
      // LSH query
      val cands = Dedup.incrementalCandidatePairs(s, d.where(isNew), "doc_id", "text", idx)
        .persist()
      graft.io.Artifacts.once(dir, "inc_cands")(
        recordPairs(dir, "inc_cands", Seq((None, cands))))
      Dedup.verifyCandidates(d, "doc_id", "text", cands, "id_new", "id_corpus")
    }),
    // The FULL 3-step ingest loop as one catalog entry (q_dedup_incremental
    // above isolates step 1): day-1 batch (doc_id % 5 == 0) is probed
    // against the base index (% 5 >= 2), self-paired within the batch,
    // then APPENDED (SaveMode.Append, sidecar-validated); a day-2 batch
    // (% 5 == 1) probes the appended index — its pairs against day-1 docs
    // exist ONLY if the append is visible, which is the in-output proof of
    // step 3. Ordering hazard, handled in the fit: a parquet path scan
    // re-lists files at EXECUTION time, so the day-1 probe must be
    // materialized before the append mutates the directory — the
    // production "probe before append, or probe a snapshot listing" rule.
    // Index build + append run once per corpus content, so each
    // invocation pays batch-sized work only. Oracled by the generated
    // verify-replay SQL (per-stage recorded candidates + DuckDB-recomputed
    // verification); invariants additionally in CatalogContractSpec.
    "q_dedup_incremental_full" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      val isDay1 = col("doc_id") % 5 === 0
      val isDay2 = col("doc_id") % 5 === 1
      val isBase = col("doc_id") % 5 >= 2
      // its OWN index, never incrementalIndexFor's: q_dedup_incremental
      // probes that one and it must stay base-only. The append happens
      // exactly once per corpus, inside the fit, so reruns are idempotent
      val (idx, probe1Path) = graft.io.Artifacts.once(dir, "lsh_full_loop") {
        val p = graft.io.TempDirs.createDeletedOnExit("graft_lshfull_").getAbsolutePath
        Dedup.writeSignatureIndex(d.where(isBase), "doc_id", "text", p)
        val s1 = graft.io.TempDirs.createDeletedOnExit("graft_lshfull_p1_").getAbsolutePath
        Dedup.incrementalCandidatePairs(s, d.where(isDay1), "doc_id", "text", p)
          .write.mode("overwrite").parquet(s1)
        Dedup.writeSignatureIndex(d.where(isDay1), "doc_id", "text", p,
          mode = org.apache.spark.sql.SaveMode.Append)
        (p, s1)
      }
      val s1 = s.read.parquet(probe1Path)
        .select(col("id_new").as("id_a"), col("id_corpus").as("id_b"))
      val s2 = Dedup.lshCandidatePairs(
        Dedup.minHashSignatures(d.where(isDay1), "doc_id", "text"))
      val s3 = Dedup.incrementalCandidatePairs(s, d.where(isDay2), "doc_id", "text", idx)
        .select(col("id_new").as("id_a"), col("id_corpus").as("id_b"))
      graft.io.Artifacts.once(dir, "full_cands")(
        recordPairs(dir, "full_cands", Seq(
          (Some("probe_corpus"), s1),
          (Some("within_batch"), s2),
          (Some("probe_appended"), s3))))
      def verified(c: org.apache.spark.sql.DataFrame, stage: String) =
        Dedup.verifyCandidates(d, "doc_id", "text", c, "id_a", "id_b")
          .withColumn("stage", lit(stage))
      verified(s1, "probe_corpus")
        .unionByName(verified(s2, "within_batch"))
        .unionByName(verified(s3, "probe_appended"))
        .select("stage", "id_a", "id_b", "jac")
        .orderBy("stage", "id_a", "id_b")
    }),
    // SimHash near-dup pairs: 64-bit signatures (explode + codegen'd bit
    // sums, not per-row HOFs) -> 16-bit-band LSH candidates -> exact
    // bit_count(xor) hamming verify at <= 3 — pigeonhole-exact recall by
    // construction (4 disjoint 16-bit bands, the Manku-Jain-Sarma WWW'07
    // operating point; see SimHashMaxHamming for why the byte-band form
    // was retired at the sf10 rung). ORACLED via generated
    // verify-replay SQL: the recorded signatures enter as literals and
    // DuckDB recomputes the whole pairing stage brute-force, so a
    // banding bug that drops a pair (or any hamming/threshold/ordering
    // drift) hash-mismatches; only signature generation is trusted as
    // recorded. The signature frame persists: the band self-join reads
    // it twice and the memo collect pays once per corpus per JVM. The
    // memo collect is itself capped: limit(cap+1) bounds the driver
    // transfer to ReplayOracleCap+1 rows regardless of corpus size; an
    // over-cap corpus records the signature frame as a parquet SIDECAR
    // instead (executor write, no driver collect at all) so the replay
    // oracle stays exact at any scale — the round-15 rows-only fallback
    // is gone.
    "q_dedup_simhash" -> ((s, dir) => {
      val sigs = Dedup.simHashes(tbl(s, dir, "documents"), "doc_id", "text")
        .persist()
      graft.io.Artifacts.once(dir, "simhash_rec") {
        val rec = sigs.limit(ReplayOracleCap + 1).collect().toSeq
        if (rec.size > ReplayOracleCap)
          Left(graft.io.Artifacts.replayOnce(dir, "simhash_sigs")(
            sigs.select(col("doc_id"), col("simhash").as("h"))))
        else Right(rec.map(r => (r.getLong(0), r.getLong(1))))
      }
      Dedup.simHashPairs(sigs, SimHashMaxHamming)
        .orderBy("id_a", "id_b")
    }),

    // Winnowing fingerprint dedup (Schleimer et al. 2003, the MOSS
    // scheme): window-min k-gram selection gives a ~2/(w+1)-density
    // fingerprint index with GUARANTEED recall for shared runs of
    // w+k-1 = 7+ tokens; df-capped fingerprints join into doc pairs
    // sharing >= 5 fingerprints. Selection orders by gram STRING
    // (bit-replayable by the static DuckDB oracle); every shuffle AFTER
    // selection keys on xxhash64(fp) longs — the hash = string
    // equivalence (see ops.Winnowing; plan-contracted: no string-typed
    // join/agg key downstream of selection).
    "q_dedup_winnowing" -> ((s, dir) =>
      graft.ops.Winnowing.sharedFingerprintPairs(
          tbl(s, dir, "documents"), "doc_id", "text",
          k = 4, w = 4, maxDf = 50L, minShared = 5L)
        .orderBy("id_a", "id_b")),

    // Brute-force exact top-5 via the codegen'd native Catalyst expression.
    "q_sim_topk_native" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Similarity.bruteForceTopK(e.filter(col("vec_id") < 20), e, 5,
          (a, b) => cosine_sim(a, b))
        .orderBy("query_id", "rnk")
    }),
    // Same semantics via built-in higher-order functions (zip_with/aggregate).
    "q_sim_topk_hof" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Similarity.bruteForceTopK(
          e.filter(col("vec_id") >= 20 && col("vec_id") < 40), e, 5)
        .orderBy("query_id", "rnk")
    }),
    // LSH-bucketed ANN — the scale path. ORACLED by the static generated
    // replay SQL (Similarity.lshAnnOracleSql): the seeded hyperplanes are
    // a pure function of (dim, bits, seed), so DuckDB regenerates them as
    // literals and replays sign bits, multi-probe expansion, and the
    // exact cosine top-k bit-for-bit.
    "q_sim_lsh_ann" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      // multi-probe (Hamming radius 1): ~5x recall over single-probe on
      // near-isotropic embeddings for a (bits+1)x candidate bound
      // (RecallFloorSpec pins the floor)
      Similarity.lshTopK(e, e.filter(col("vec_id") < 50), dim = 64,
          k = AnnK, bits = LshAnnBits, hammingRadius = 1)
        .orderBy("query_id", "rnk")
    }),
    // IVF-PQ (FAISS IVFx,PQy): coarse lists -> ADC scoring over 8-byte
    // codes -> exact rerank of a DENSITY-SCALED shortlist (adcRerank —
    // fixed shortlists collapse as density grows; resolves to the floor
    // 32 at the driver corpus). ks=64 per the round-16 joint sweep. The
    // three-tier shape that serves billion-vector ANN; ORACLED via the
    // generated replay SQL (recorded coarse centroids + PQ codebooks as
    // literals, all three tiers recomputed by DuckDB); recall floor
    // pinned in PqSpec. Both index halves are fit ONCE per corpus
    // (memoized like q_sim_ivf_ann's); every invocation after that is a
    // pure probe.
    "q_sim_ivfpq_ann" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      // the rerank width is density-scaled per corpus (adcRerank's
      // fraction-of-candidates law — a FIXED shortlist collapses as
      // density grows; RecallLadderSpec pins the contrast), so it is
      // stored with the fit for the generated oracle to replay. Its own
      // index, not q_sim_ivf_ann's, so the two lifecycles stay independent
      val (index, cb, rr) = graft.io.Artifacts.once(dir, "ivfpq_index") {
        val (index, cb) = Similarity.fitIvfPq(e, nLists = IvfNLists, m = 8,
          ks = IvfPqKs, dim = 64,
          graft.io.TempDirs.createDeletedOnExit("graft_ivfpq_").getAbsolutePath)
        (index, cb, Similarity.adcRerank(e.count(), IvfNLists, IvfNProbe))
      }
      Similarity.probeIvfPq(e, e.filter(col("vec_id") % 50 === 0), k = AnnK,
          index, cb, nProbe = IvfNProbe, rerank = rr)
        .orderBy("query_id", "rnk")
    }),
    "q_sim_ivf_ann" -> ((s, dir) => {
      // fit/probe split in catalog form: the index (k-means + corpus
      // partitioned by list_id) is built ONCE per corpus content
      // (Artifacts.once); every invocation after that is a pure probe —
      // the shape a production ANN service runs, where the index build is
      // a layout job and queries only pay partition-pruned scans. Deterministic seed
      // keeps the output identical to a fresh fit. ORACLED via the
      // generated replay SQL: since fitIvf assigns lists with the
      // replayable argmin fold, the recorded centroids alone let DuckDB
      // rebuild the whole index and recompute the probe end-to-end.
      val index = graft.io.Artifacts.once(dir, "ivf_index")(
        Similarity.fitIvf(tbl(s, dir, "embeddings"), nLists = IvfNLists,
          graft.io.TempDirs.createDeletedOnExit("graft_ivf_").getAbsolutePath))
      Similarity.probeIvf(s, index,
          tbl(s, dir, "embeddings").filter(col("vec_id") < 50), k = AnnK,
          nProbe = IvfNProbe)
        .orderBy("query_id", "rnk")
    }),
    // Deterministic train/val/test assignment by content hash: stable
    // across runs, engines, partitionings, and corpus growth (a doc's split
    // never changes when other docs are added) — the reproducible-split
    // pattern for training corpora. First hex nibble of md5: 12/16 train,
    // 2/16 val, 2/16 test.
    "q_split_hash" -> ((s, dir) => {
      val h = substring(md5(concat(col("doc_id").cast("string"), lit(":graft"))), 1, 1)
      val split = when(h.isin("c", "d"), "val")
        .when(h.isin("e", "f"), "test")
        .otherwise("train")
      tbl(s, dir, "documents")
        .select(col("doc_id"), split.as("split"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .orderBy("split")
    }),
    // Deterministic stratified sampling per label: hash-of-id acceptance
    // (ops.Sampling) with caller-supplied per-label fractions — map-only,
    // no RNG, no driver collect, and (unlike df.stat.sampleBy) exactly
    // expressible in ANSI SQL, so this is fully oracled.
    "q_sample_stratified" -> ((s, dir) =>
      graft.ops.Sampling.stratifiedHashSample(
          tbl(s, dir, "embeddings"), "vec_id", "label",
          fractions = Map(0 -> 0.75, 1 -> 0.25), defaultFraction = 0.5)
        .groupBy("label").agg(count(lit(1)).as("n_sampled"))
        .orderBy("label")),
    // Exact-size-k weighted sample without replacement (Efraimidis-
    // Spirakis priorities over a derandomized uniform) — the FIXED-BUDGET
    // sampler the Bernoulli family above cannot express ("exactly 200
    // docs, longer docs proportionally likelier"). Selection runs on the
    // RAW priority (micro-nat(-ln u) / weight, exact-integer IEEE
    // division) and plans as TakeOrderedAndProject: bounded k-row heap
    // per partition, no shuffle, corpus read once (plan-pinned in
    // ReservoirSampleSpec); the output column is round6-stabilized.
    "q_sample_reservoir" -> ((s, dir) =>
      graft.ops.Sampling.weightedReservoir(
          tbl(s, dir, "documents").select("doc_id", "lang", "n_chars"),
          "doc_id", "n_chars", k = 200)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          round6(col("priority")).as("priority"))
        .orderBy("priority", "doc_id")),
    // Deterministic negative sampling for contrastive pairs — the
    // negatives-mining step of embedding/reranker training data: each
    // anchor doc draws 3 pseudo-random corpus negatives as a pure
    // function of (doc_id, draw index) — the reservoir query's
    // derandomized md5 recipe, here a 48-bit prefix mod corpus size —
    // so the draw is reproducible across runs, partitionings, and
    // engines (fully DuckDB-oracled, unlike an RNG sample). Self-draws
    // step to the next id; repeats across draws are kept (i is the draw
    // rank — the honest semantics of sampling WITH replacement).
    // Scale shape: the anchor side explodes map-side, the negative
    // lookup is ONE equi-join on neg_id against the corpus (AQE
    // broadcast-promotes whichever side fits), corpus never shuffled
    // twice. The corpus-size scalar arrives as a one-row broadcast.
    "q_sample_negatives" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      val nRow = d.agg((max("doc_id") + 1).as("n"))
      val h = conv(substring(md5(concat(col("doc_id").cast("string"),
        lit(":neg:"), col("i").cast("string"))), 1, 12), 16, 10).cast("long")
      val raw = pmod(h, col("n"))
      d.select(col("doc_id")).crossJoin(broadcast(nRow))
        .select(col("doc_id"), col("n"),
          explode(sequence(lit(0), lit(2))).as("i"))
        .withColumn("neg_id",
          when(raw === col("doc_id"), pmod(raw + 1, col("n"))).otherwise(raw))
        .join(d.select(col("doc_id").as("neg_id"),
          col("source").as("neg_source")), "neg_id")
        .select(col("doc_id"), col("i"), col("neg_id"), col("neg_source"))
        .orderBy("doc_id", "i")
    }),
    // Contiguous 0-based example ids + round-robin shard assignment —
    // the training-shard numbering primitive. NOT row_number over an
    // unpartitioned window (single-task at scale): ops.GlobalIndex runs
    // the two-job zipWithIndex contract (range shuffle once, bounded
    // per-partition counts, narrow offset map); GlobalIndexSpec pins
    // the no-global-window plan and partitioning-independence.
    "q_global_index" -> ((s, dir) =>
      graft.ops.GlobalIndex.withGlobalIndex(
          tbl(s, dir, "documents").select("doc_id", "lang"), "doc_id")
        .withColumn("shard", col("global_idx") % 16)
        .orderBy("doc_id")),
    // Benchmark-contamination sweep: which training docs share token
    // n-grams with an eval doc? Codegen'd shingle hashes + a broadcast
    // benchmark-shingle index — linear in shingle volume, never doc-pairs,
    // zero caching (ops.Contamination documents the 100 TB shape). Eval
    // set = doc_id % 100 == 0, a stand-in benchmark table. maxShingleDf
    // sits far above the test corpus's max DF (measured 4 at sf0.1), so the
    // hot-gram cap is inactive here and the oracle's exact all-pairs
    // list-intersect semantics are preserved bit-for-bit. Shingle width is
    // [[ContamShingleN]] = 3 (the high-recall screen): the driver corpus
    // has ZERO cross-doc 5-gram collisions at sf0.01, so the previous
    // 5-gram sweep verified on an EMPTY result — a degenerate oracle. At
    // 3-grams the sweep stays non-empty at every test SF (3 / 2 / 201
    // hits at sf0.001 / 0.01 / 0.1).
    "q_contamination" -> ((s, dir) =>
      graft.ops.Contamination.sweep(tbl(s, dir, "documents"), "doc_id", "text",
          isEval = id => id % 100 === 0, shingleN = ContamShingleN,
          minOverlap = ContamMinOverlap, maxShingleDf = 100000L)
        .orderBy("doc_id", "eval_id")),
    // Crawl blocklist filtering — the first gate of a web-corpus pipeline:
    // drop every document whose REGISTERED domain is on a curated
    // blocklist, regardless of which subdomain served it (cdn./www.
    // variants must not evade a domain-level block). Hosts are
    // SYNTHESIZED deterministically from (doc_id, source) — the corpus
    // has no URL column; the operator is the suffix-normalizing anti-join.
    // Registered domain = last 3 labels (the corpus's public suffix is
    // the 2-label "example.com"), extracted map-side with native
    // split/slice — no shuffle until the final keyed count. The blocklist
    // is a FIXED literal table (4 rows here; 10^5-ish in production — a
    // curated artifact, never corpus-scale) joined as a broadcast
    // LEFT ANTI: the 100 TB side streams map-side past an executor-local
    // hash set and never shuffles. Oracled by a step-for-step replay
    // (same synthesis, same last-3-label slice, NOT-EXISTS anti form).
    "q_filter_blocklist" -> ((s, dir) => {
      val sub = when(col("doc_id") % 7 === 0, lit("cdn."))
        .when(col("doc_id") % 7 === 1, lit("www."))
        .otherwise(lit(""))
      val docs = tbl(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          concat(sub, col("source"), lit(".example.com")).as("host"))
        .withColumn("registered_domain",
          array_join(slice(split(col("host"), "\\."), -3, 3), "."))
      val bl = s.createDataFrame(BlockedDomains.map(Tuple1(_)))
        .toDF("blocked_domain")
      docs
        .join(broadcast(bl),
          docs("registered_domain") === bl("blocked_domain"), "left_anti")
        .groupBy("registered_domain")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc_id"))
        .orderBy("registered_domain")
    }),
    // Domain mixing: downsample every label to the smallest label's size —
    // deterministic multiplicative-hash acceptance (no RNG), per-label
    // quotas arriving via aggregate + broadcast join (no driver collect,
    // no caller-supplied map). Plain integer arithmetic throughout, so the
    // operator is fully oracle-expressible.
    "q_sample_weighted" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val cnt = e.groupBy("label").agg(count(lit(1)).as("cnt"))
      val minCnt = cnt.agg(min("cnt").as("min_cnt"))
      val quota = cnt.crossJoin(broadcast(minCnt))
        .withColumn("ppm", floor(col("min_cnt") * lit(1000000.0) / col("cnt")))
      e.join(broadcast(quota), "label")
        .filter((col("vec_id") * lit(2654435761L)) % lit(1000000L) < col("ppm"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_kept"), max("cnt").as("label_size"))
        .orderBy("label")
    }),
    // Training-mixture re-weighting (ops.Mixing): each language re-scaled
    // to a target share of total chars — scarce domains repeat (multiple
    // epochs: de/es/fr land at r≈1.4–1.9), abundant ones downsample
    // (en r≈0.6), zh is deliberately under-weighted. Replication is a
    // map-side explode(sequence(1, n)); the only exchanges are two tiny
    // broadcast aggregates. Deterministic hash acceptance on the
    // fractional epoch — fully oracle-expressible (the oracle computes
    // sum(n_copies) analytically instead of unnesting).
    "q_mix_domains" -> ((s, dir) =>
      graft.ops.Mixing.mixToWeights(
          tbl(s, dir, "documents"), "lang", "doc_id", "n_chars",
          weights = MixWeights)
        .groupBy("lang")
        .agg(countDistinct("doc_id").as("n_docs"),
          count(lit(1)).as("n_rows_out"),
          sum("n_chars").as("units_out"),
          max("copy_idx").as("max_epoch"))
        .orderBy("lang")),
    // Temperature-scaled mixture (Mixing.mixToTemperature): weights
    // DERIVED from the data as units^0.5 — no hand-picked map — the
    // α-sampling rule multilingual corpora actually train with. sqrt is
    // IEEE-correctly-rounded (pow is not) and the scaled masses are
    // floor-quantized to integer micro-units before the normalizing sum,
    // so the whole rule is exact on both engines.
    "q_mix_temperature" -> ((s, dir) =>
      graft.ops.Mixing.mixToTemperature(
          tbl(s, dir, "documents"), "lang", "doc_id", "n_chars")
        .groupBy("lang")
        .agg(countDistinct("doc_id").as("n_docs"),
          count(lit(1)).as("n_rows_out"),
          sum("n_chars").as("units_out"),
          max("copy_idx").as("max_epoch"))
        .orderBy("lang")),
    // END-TO-END curation: the full training-data pipeline as ONE lazy
    // plan — filter funnel → exact dedup → domain mixture → context-window
    // packing — emitting the pack manifest (what a curation run actually
    // ships to the trainer). Every stage is the catalog operator it names
    // (Quality.funnel, hash-keyed keep-min dedup, Mixing.mixToWeights,
    // sharded-cumsum packing), composed without materialization barriers:
    // Catalyst fuses the funnel into the scan, the dedup shuffles a 32-char
    // hash key (never raw text as the key), the mixture stats arrive as
    // broadcasts, packing is 8 independent shard windows, and the final
    // manifest aggregate REUSES the shard partitioning (no extra
    // exchange). The emit path crosses two row-bearing shuffles total;
    // the mixture stats cost one extra pass over the deduped corpus (the
    // classic two-pass stats+emit shape — at 100 TB persist the deduped
    // corpus between passes).
    "q_curate_pipeline" -> ((s, dir) => {
      val toks = TextAnalysis.tokens(col("text"))
      // 1. curation funnel (rules shared with q_filter_funnel)
      val kept = Quality.funnel(
          tbl(s, dir, "documents")
            .select(col("doc_id"), col("text"), col("lang"), col("n_chars"),
              size(toks).as("words"), size(array_distinct(toks)).as("uniq_words")),
          TextQueries.CurationRules)
        .filter(col("verdict") === "kept")
      // 2. exact dedup, keep-min-id: window over the CONTENT HASH so the
      // shuffle key is 32 bytes, not the document (Dedup.exactKeep is the
      // aggregate variant; the window keeps survivor rows intact)
      val byHash = Window.partitionBy(md5(col("text")))
      val deduped = kept
        .withColumn("_keep", min("doc_id").over(byHash))
        .filter(col("doc_id") === col("_keep"))
        .select("doc_id", "lang", "n_chars", "words")
      // 3. training mixture (MixWeights — the same map q_mix_domains runs)
      val mixed = Mixing.mixToWeights(deduped, "lang", "doc_id", "n_chars",
        weights = MixWeights)
      // 4. pack manifest: deterministic shard, cumsum binning within shard
      val byShard = Window.partitionBy("shard").orderBy("doc_id", "copy_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
      mixed
        .withColumn("shard", pmod(col("doc_id") + col("copy_idx"), lit(8)))
        .withColumn("cum", coalesce(sum("words").over(byShard), lit(0L)))
        .withColumn("pack_id", floor(col("cum") / 2048.0))
        .groupBy("shard", "pack_id")
        .agg(count(lit(1)).as("n_rows"), countDistinct("doc_id").as("n_docs"),
          sum("words").as("n_tokens"))
        .orderBy("shard", "pack_id")
    }),
    // CRAWL-DAY pipeline v2 — the full incremental curation chain a web
    // corpus actually runs per ingest day, in front of v1's stages, as
    // ONE lazy plan over the day slice (doc_id % 5 = 0, the established
    // batch convention) against the corpus (the rest):
    //   1. domain BLOCKLIST gate — broadcast LEFT ANTI on the registered
    //      domain (q_filter_blocklist's op), map-side;
    //   2. URL CANONICALIZATION dedup — the shared withCanonicalUrl
    //      chain, keep-min-id per canonical URL over an xxhash64 window
    //      key (8-byte shuffle key, never the URL string);
    //   3. BLOOM CONTENT-SEEN gate — the day probes the corpus sketch
    //      (bloomSketchFor, the fit-once artifact q_dedup_bloom and the
    //      streaming gate share); docs with ≥ ContentSeenPpm of their
    //      blocks already in the corpus drop. Exact output (bloom is a
    //      transparent prefilter + exact verify), so the oracle replays
    //      it as the plain block join;
    //   4. MinHash NEAR-DUP within the day — banded candidates + exact
    //      Jaccard ≥ VerifyThreshold verify, drop-if-smaller-neighbor
    //      (the SemanticDedup keep rule: no transitive over-drop);
    //      candidates are recorded for the spliced replay oracle;
    //   5-8. v1's funnel → exact dedup → mixture → pack manifest.
    // Emit-path shuffles stay bounded and text never rides as a shuffle
    // key (PlanContractSpec pins both); the mixture stats and every gate
    // table arrive via broadcasts. The one corpus-sized cost is the
    // bloom verify's corpus block scan — the per-day price the batch
    // q_dedup_bloom documents.
    "q_curate_pipeline_v2" -> ((s, dir) =>
      curateChain(s, dir,
        tbl(s, dir, "documents").filter(col("doc_id") % 5 === 0),
        "curate_v2_cands")),
    // CRAWL-DAY pipeline v3 — v2 with DRIFT-GATED ADMISSION as stage 0
    // (the round-14 verdict's composition): the day arrives as
    // DefaultChunks ingest batches (the established id-range staging
    // arithmetic), each batch is scored KL(batch ‖ reference) against
    // the fit-once reference distribution (TextQueries.klRefFor — the
    // artifact q_stream_drift_gate probes), and the day's MOST-DRIFTED
    // batch (max kl_micro, batch_id tiebreak) is QUARANTINED: held out
    // of the curation chain for review instead of admitted — the canary
    // semantics a production ingest runs so one poisoned/mis-crawled
    // shard cannot enter the trainer while the rest of the day ships.
    // Argmax (not a fixed threshold) keeps the gate EXERCISED at every
    // corpus size — a threshold tuned to one SF verifies as a no-op at
    // another (the zero-row degeneracy lesson). Per-bucket contribs are
    // micro-quantized BEFORE the exact integer sum (the ln-wobble
    // discipline), so the quarantine pick is bit-stable across engines;
    // stage-0 cost is one day-sized tokenize + a |batches|·|buckets|
    // aggregate, and the reference rides in as K+1 broadcast-sized rows.
    "q_curate_pipeline_v3" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      val day = d.filter(col("doc_id") % 5 === 0)
      val ref = TextQueries.klRefFor(s, dir)
      val n = graft.streaming.StreamOps.DefaultChunks
      val bounds = day.agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
        .select(col("lo"), expr(s"(hi - lo) div $n").as("step"))
      val batched = day.crossJoin(broadcast(bounds))
        .withColumn("batch_id",
          when(col("step") <= 0, lit((n - 1).toLong))
            // integer `div`, not double-/ + floor: mirrors the oracle's
            // `//` exactly at any doc_id magnitude (no double mantissa)
            .otherwise(least(lit((n - 1).toLong),
              expr("(doc_id - lo) div step"))))
        .drop("lo", "step")
      val refDf = s.createDataFrame(ref.buckets).toDF("bucket", "cc")
      val bc = batched
        .select(col("batch_id"),
          explode(split(lower(col("text")), "[^a-z0-9]+")).as("term"))
        .filter(col("term") =!= "")
        .withColumn("bucket",
          when(col("term").isin(ref.kept: _*), col("term"))
            .otherwise(lit("<oov>")))
        .groupBy("batch_id", "bucket").agg(count(lit(1)).as("cs"))
      // tot is |batches|-bounded (DefaultChunks rows) — broadcast keeps
      // the drift stage's only row-bearing shuffles at the two keyed
      // aggregates
      val tot = bc.groupBy("batch_id").agg(sum("cs").as("tot_b"))
      val kl = bc.join(broadcast(refDf), "bucket")
        .join(broadcast(tot), "batch_id")
        .withColumn("contrib", floor(
          (col("cs").cast("double") / col("tot_b")) *
            log((col("cs").cast("double") * ref.totC) /
              (col("tot_b").cast("double") * col("cc"))) *
            1000000d + 0.5d).cast("long"))
        .groupBy("batch_id").agg(sum("contrib").as("kl_micro"))
      // one-row quarantine pick; broadcast-anti keeps admission map-side.
      // localCheckpoint (r16, guide §3.3/§7.3): the pick is ONE row but
      // its lineage is the whole day-sized drift-scoring subtree — left
      // lazy, that subtree rides under the admission anti-join into
      // EVERY downstream plan of the 8-stage chain, and each AQE stage
      // re-optimization re-walks it (measured: v3 ran 2.4× v2 with only
      // ~1.4 s of stage-0 execution; the rest was plan-size-driven
      // driver time). Truncating here executes stage 0 once and hands
      // the chain a 1-row leaf. Values are unchanged: the checkpoint
      // materializes exactly the frame the anti-join consumed before.
      val quarantined = kl.orderBy(desc("kl_micro"), asc("batch_id")).limit(1)
        .select("batch_id").localCheckpoint()
      val admitted = batched
        .join(broadcast(quarantined), Seq("batch_id"), "left_anti")
        .drop("batch_id")
      curateChain(s, dir, admitted, "curate_v3_cands")
    }),
    // Embedding-cosine near-dup pairs above a threshold — exact semantics
    // via the chunk-salted pair join (see Similarity.thresholdPairs for why
    // an LSH prefilter cannot be lossless at this threshold): a hot label
    // fans out to chunks² balanced tasks instead of one quadratic straggler.
    // Scored with the codegen'd native expression inside whole-stage codegen.
    "q_sim_threshold_pairs" -> ((s, dir) =>
      Similarity.thresholdPairs(tbl(s, dir, "embeddings"),
          "label", "vec_id", "embedding", threshold = 0.35, chunks = 8,
          (x, y) => cosine_sim(x, y))
        .select(col("label"), col("id_a"), col("id_b"))
        .orderBy("label", "id_a", "id_b")),
    // Near-dup CLUSTERS: threshold pairs -> connected components (min-label
    // propagation, ops.Components). Production dedup keeps min-id per
    // component as representative; this emits the per-vertex component map.
    "q_sim_clusters" -> ((s, dir) => {
      val pairs = Similarity.thresholdPairs(tbl(s, dir, "embeddings"),
        "label", "vec_id", "embedding", threshold = 0.35, chunks = 8,
        (x, y) => cosine_sim(x, y))
      graft.ops.Components.connectedComponents(pairs, "id_a", "id_b")
        .select(col("id").as("vec_id"), col("component"))
        .orderBy("vec_id")
    }),
    // Embedding-cosine near-dup DEDUP keep-list — the full production
    // decision the clusters query stops short of: every vector maps to its
    // representative (min id of its near-dup component; itself when it has
    // no near-dup) and a kept flag. Exact pairs (chunk-salted join) ->
    // connected components -> left join back onto the corpus, so
    // singletons — the overwhelming majority at scale, which never enter
    // the edge list — are emitted without ever being shuffled through the
    // component loop. The component map is vertex-sized (only docs with a
    // near-dup), orders of magnitude smaller than the corpus at real
    // scale; AQE turns the keep-list join into a broadcast when it fits.
    "q_dedup_embedding" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val pairs = Similarity.thresholdPairs(e,
        "label", "vec_id", "embedding", threshold = 0.35, chunks = 8,
        (x, y) => cosine_sim(x, y))
      val comp = graft.ops.Components.connectedComponents(pairs, "id_a", "id_b")
        .withColumnRenamed("id", "vec_id")
      e.select(col("vec_id"))
        .join(comp, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("component"), col("vec_id")).as("keep_id"))
        .withColumn("kept", col("vec_id") === col("keep_id"))
        .orderBy("vec_id")
    }),
    // Exact all-pairs set-similarity join (ops.SetSimJoin): every document
    // pair with token-3-gram-shingle-set Jaccard >= 0.75, via the
    // lossless Bayardo prefix filter (rarest-element prefixes, candidates
    // only from prefix collisions) — the exact counterpart to the
    // probabilistic MinHash-LSH path, and fully hash-oracled because
    // nothing in it is approximate. Shingles, not words: the synthetic
    // 31-word vocabulary makes word-set prefixes collide on everything
    // (measured all-pairs degeneration, 114 s at sf0.1), while the ~27k
    // shingle universe prunes candidates to ~1% (see SetSimJoin scaladoc).
    // tau = 0.75 is exactly representable in binary, so the prefix-length
    // ceil() cannot round across an integer boundary.
    // Elements enter as the codegen'd 64-bit gram hashes, not strings:
    // equal grams always collide, unequal with p ~ 2^-64 (the
    // q_contamination equivalence argument), so every count — df, prefix
    // rank, intersection, jac — equals the string computation the DuckDB
    // oracle runs, while the engine shuffles 8-byte longs and never
    // materializes gram strings (HOF shingling measured 2.6 s of the
    // 8 s total at sf0.1; the native kernel is a narrow codegen'd map).
    "q_sim_set_join" -> ((s, dir) =>
      graft.ops.SetSimJoin.similarPairs(
        tbl(s, dir, "documents").filter(col("text").isNotNull),
        "doc_id",
        org.apache.spark.sql.graft.TokenShingleHashes
          .token_shingle_hashes(col("text"), 3),
        tau = 0.75)),
    // Directed CONTAINMENT join (SetSimJoin.containedPairsRational) —
    // the quote/clone/benchmark-leak primitive Jaccard can't express: a
    // 20-token excerpt quoted inside a 90-token document is ~20%
    // union-similar but 100% contained. Probes are derived excerpts
    // (first 20 tokens of every 10th doc — each must rediscover its
    // source at cont = 1, the planted ground truth), searched against
    // the WHOLE corpus with the asymmetric lossless prefix filter:
    // probe prefixes rank rarest-first by corpus df, candidates only
    // from prefix collisions, exact integer acceptance. Both sides are
    // corpus-scale joins — no broadcast index, which is what separates
    // this from q_contamination's small-benchmark sweep. The oracle is
    // the brute blocking replay over gram STRINGS (any qualifying pair
    // shares a gram), independent of the prefix logic it checks.
    // Elements enter as the codegen'd 64-bit gram hashes (r16) — the
    // same representation swap q_sim_set_join already carries, with the
    // same equivalence argument: equal grams always collide, unequal
    // with p ≈ 2^-64, so every df / prefix rank / intersection /
    // cont_ppm equals the string computation the oracle replays, while
    // the engine's three shuffles move 8-byte longs and the corpus-side
    // explode generates longs, never ~40-byte gram strings (HOF string
    // shingling was 3 corpus-scale interpreted evaluations — measured
    // 5.2 s at sf0.1 vs the set join's 2.0 s on the SAME prefix-filter
    // kernel; guide §2.3 "narrower types" + §4 "no interpreted
    // expressions in the hot path").
    "q_sim_containment_join" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").filter(col("text").isNotNull)
      val hashes = org.apache.spark.sql.graft.TokenShingleHashes
      val probes = d.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("pid"),
          array_join(slice(split(col("text"), " "), 1, 20), " ").as("ptext"))
      graft.ops.SetSimJoin.containedPairsRational(
          probes, "pid", hashes.token_shingle_hashes(col("ptext"), 3),
          d, "doc_id", hashes.token_shingle_hashes(col("text"), 3),
          tauNum = 1, tauDen = 2)
        .withColumnRenamed("probe_id", "probe_doc")
        .orderBy("probe_doc", "doc_id")
    }),
    // SemDeDup (ops.SemanticDedup): k-means blocking instead of the
    // metadata label — the dedup that works when no label exists. FULLY
    // ORACLED despite the ML fit: the seeded k-means|| produces
    // deterministic centroids, the assignment is an explicit
    // nearest-centroid argmin expression (not the model's opaque
    // transform), and the fitted centroids are recorded so [[oracles]]
    // can GENERATE the DuckDB SQL that replays assignment + threshold +
    // drop rule over centroid literals (the q_graph_pagerank pattern).
    // SemanticDedupSpec additionally pins the keep/drop contract on
    // planted data.
    "q_dedup_semantic" -> ((s, dir) => {
      import graft.ops.SemanticDedup
      val e = tbl(s, dir, "embeddings")
      val cents = SemanticDedup.fitCentroids(e, "embedding", k = 8)
      graft.io.Artifacts.once(dir, "semantic_centroids")(cents)
      val assigned = e.select(col("vec_id"), col("embedding"),
        SemanticDedup.nearestCentroid(col("embedding"), cents).as("cluster"))
      SemanticDedup.dedupAssigned(assigned, "vec_id", "embedding",
          threshold = SemanticThreshold, chunks = 4,
          sim = (x, y) => cosine_sim(x, y))
        .orderBy("vec_id")
    }),
    // K-means fit stats, FULLY ORACLED despite the ML fit (the
    // q_dedup_semantic move, reported instead of consumed as blocking):
    // seeded k-means|| centroids are recorded, assignment is the explicit
    // nearestCentroidDist argmin fold, and the per-cluster report —
    // count, inertia, mean distance — quantizes each row's winning d² to
    // integer micro-units BEFORE the sum, so the emitted stats are exact
    // long arithmetic on both engines. This is the embedding-space
    // diagnostic a curation run reads before trusting any
    // clustering-derived dedup/mixing decision.
    "q_embed_kmeans" -> ((s, dir) => {
      import graft.ops.SemanticDedup
      val e = tbl(s, dir, "embeddings")
      val cents = SemanticDedup.fitCentroids(e, "embedding", k = 10)
      graft.io.Artifacts.once(dir, "kmeans_centroids")(cents)
      e.select(
          SemanticDedup.nearestCentroidDist(col("embedding"), cents).as("a"))
        .select(col("a.c").as("cluster"),
          floor(col("a.d") * lit(1000000.0)).cast("long").as("dm"))
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_vecs"), sum("dm").as("inertia_micro"))
        .withColumn("avg_dist_micro", expr("inertia_micro div n_vecs"))
        .orderBy("cluster")
    }),
    // Product quantization (ops.ProductQuantizer): 64 floats -> 8 codes,
    // 32x compression for the corpus-scale similarity tiers. Fit on a
    // deterministic 1024-row sample (driver-side Lloyd's, the FAISS
    // recipe), encode + reconstruct map-side via codebook literals, and
    // report per-label reconstruction quality. ORACLED via the generated
    // codebook-replay SQL (PQ.reconStatsOracleSql): the fitted codebook
    // enters as a literal and DuckDB independently replays encode argmin,
    // decode, and the reconstruction cosine. The per-row cosine is
    // floor-quantized to integer MICRO-UNITS before the label sums (the
    // q_embed_kmeans inertia move), so the aggregates are exact long
    // arithmetic — a double avg would depend on summation order. PqSpec
    // pins the encode/decode contract and a reconstruction floor.
    "q_embed_pq" -> ((s, dir) => {
      import graft.ops.{ProductQuantizer => PQ}
      val e = tbl(s, dir, "embeddings")
      val cb = graft.io.Artifacts.once(dir, "pq_codebook")(
        PQ.fit(e, "vec_id", "embedding", dim = 64, m = 8, ks = 16))
      val recon = PQ.decodeExpr(PQ.encodeExpr(col("embedding"), cb), cb)
      e.withColumn("rcm",
          floor(Similarity.cosine(col("embedding"), recon) * lit(1000000.0)))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          sum("rcm").as("sum_recon_cos_micro"),
          min("rcm").as("min_recon_cos_micro"))
        .orderBy("label")
    }),
    // First-principal-component projection (ops.Pca): ONE treeAggregate
    // pass accumulates the d×d moment matrix (per-partition imperative —
    // d² doubles per partition, corpus-independent driver load), the
    // power loop runs on the driver's 64×64, and the projection is a
    // map-side sequential fold against the recorded (μ, v) literals —
    // the embedding-tier preprocessing step (whitening / drift checks /
    // OPQ-style rotations) at its 100 TB shape: no shuffle anywhere.
    // ORACLED via the generated replay SQL (Pca.projectionOracleSql):
    // the fitted vectors enter as literals and DuckDB re-folds every
    // projection bit-identically, micro-quantized at emission.
    "q_embed_pca" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val m = graft.io.Artifacts.once(dir, "pca_fit")(
        graft.ops.Pca.fit(e, "embedding", dim = 64))
      e.select(col("vec_id"), col("label"),
          graft.ops.Pca.projectionMicro(col("embedding"), m).as("proj_micro"))
        .orderBy("vec_id")
    }),

    // Top-k PCA + WHITENING — q_embed_pca's k-component generalization
    // by orthogonal iteration (same single tree-aggregated moment pass;
    // the subspace QR loop is driver-side d²·k arithmetic), emitting
    // per-row coordinates in the top-3 basis plus their unit-variance
    // whitened twins — the standard embedding preprocessing before ANN
    // indexing / OPQ rotation. Still no shuffle anywhere: fit is one
    // pass, scoring is map-side folds against recorded (μ, V, λ)
    // literals, ORACLED via the generated replay SQL (DuckDB re-folds
    // every coordinate bit-identically; √λ enters both engines as the
    // identical driver-computed literal). Orthonormality and planted-
    // axis recovery are property-tested in PcaKSpec.
    "q_embed_pca_k" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val m = graft.io.Artifacts.once(dir, "pca_k_fit")(
        graft.ops.Pca.fitK(e, "embedding", dim = 64, k = PcaK))
      val cols = (0 until PcaK).flatMap { j =>
        Seq(
          graft.ops.Pca.projectionKMicro(col("embedding"), m, j)
            .as(s"pc${j + 1}_micro"),
          graft.ops.Pca.whitenedKMicro(col("embedding"), m, j)
            .as(s"white${j + 1}_micro"))
      }
      e.select(col("vec_id") +: col("label") +: cols: _*)
        .orderBy("vec_id")
    }),
    // Embedding-space coherence audit per label: every member's cosine
    // to its label centroid (mean + worst member) — the cluster-health /
    // mislabel-screen diagnostic run before trusting labels for
    // SemDeDup blocking or as classifier supervision. FULLY exact with
    // NO recorded literals, unlike the fitted-model tier: embeddings
    // quantize to integer milli-units FIRST, so dot products, norms and
    // the centroid (kept as the un-normalized SUM vector — cosine is
    // scale-invariant) are exact longs, and the only float ops are one
    // IEEE sqrt·sqrt·divide sequence per member (each correctly rounded
    // by the standard, hence bit-identical across engines — the wobbly
    // op class is ln, not sqrt). Scale shape: components explode to
    // |corpus|·d rows but stay narrow; the centroid aggregate is
    // map-side-combined to |labels|·d rows (a broadcast-sized build the
    // join auto-broadcasts); per-member and per-label aggregates follow.
    // Overflow bounds (n = members per label, d = 64): the centroid
    // norm nb = Σ cs² would hit signed-64 wrap at d·(n·1000)² ≥ 2^63,
    // i.e. n ≈ 3.8×10⁵ — Spark's non-ANSI long sum wraps SILENTLY while
    // DuckDB promotes to HUGEINT, so nb is summed in DECIMAL(38,0).
    // Bound on the SUM (not the term): nb = Σ_{d=64} cs² ≤ d·(n·1000)²,
    // which stays under the decimal(38,0) ceiling of 10³⁸ (past which
    // Spark's non-ANSI decimal sum returns silent NULL) for
    // n ≲ 1.2×10¹⁵ members per label — unreachable. The input is only
    // |labels|·d rows, so the decimal agg costs nothing. The remaining
    // long paths are safe far
    // beyond that: cs = Σ q wraps at n ≈ 9×10¹⁵, and dot = Σ q·cs at
    // n ≈ 2^63/(d·10⁶) ≈ 1.4×10¹¹ members per label.
    "q_embed_coherence" -> ((s, dir) => {
      // native milli quantization (r16) — the HOF lambda was interpreted
      // per element; see QuantizeMilli for the bit-equality argument
      val comp = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          posexplode(org.apache.spark.sql.graft.QuantizeMilli
            .quantize_milli(col("embedding"))))
        .toDF("vec_id", "label", "idx", "q")
      val cent = comp.groupBy("label", "idx").agg(sum("q").as("cs"))
      val cn = cent.groupBy("label")
        .agg(sum(col("cs").cast("decimal(38,0)") * col("cs")).as("nb"))
      val per = comp.join(cent, Seq("label", "idx"))
        .groupBy("vec_id", "label")
        .agg(sum(col("q") * col("cs")).as("dot"),
          sum(col("q") * col("q")).as("na"))
      per.join(cn, "label")
        .where(col("na") > 0 && col("nb") > 0)
        .withColumn("cos_ppm", floor(
          col("dot").cast("double") /
            (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))) *
            1000000d + 0.5d).cast("long"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"), min("cos_ppm").as("min_cos_ppm"),
          expr("sum(cos_ppm) div count(1)").as("mean_cos_ppm"))
        .orderBy("label")
    }),
    // k-anonymity re-identification audit (Sweeney 2002) over the
    // customer dimension's quasi-identifier tuple (nation, market
    // segment, account-balance band): any equivalence class smaller
    // than KAnonK is a linkage-attack risk the PII tier must generalize
    // or suppress before release — the census that decides WHERE
    // q_pii_pseudonymize's treatment is insufficient. All-integer, two
    // map-side-combined aggregations (rows → quasi classes → nations);
    // the quasi space is schema-bounded (nations × segments × balance
    // bands), never row-scale.
    "q_pii_kanonymity" -> ((s, dir) => {
      val cls = tbl(s, dir, "customer")
        .select(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / lit(KAnonBandWidth.toDouble)).as("bal_band"))
        .groupBy("c_nationkey", "c_mktsegment", "bal_band")
        .agg(count(lit(1)).as("n"))
      cls.groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_classes"),
          sum("n").as("n_rows"),
          sum(when(col("n") < KAnonK, 1L).otherwise(0L)).as("n_risky_classes"),
          sum(when(col("n") < KAnonK, col("n")).otherwise(0L)).as("n_risky_rows"),
          min("n").as("min_class_size"))
        .orderBy("c_nationkey")
    }),

    // Distinct-l-diversity audit (Machanavajjhala et al., TKDD 2007) —
    // k-anonymity's required companion: a class can be k-anonymous yet
    // leak the sensitive attribute outright when every member SHARES it
    // (the homogeneity attack). Quasi-identifier = (nation, segment);
    // sensitive attribute = the customer's order priorities; a class is
    // risky when its members exhibit fewer than LDivL distinct sensitive
    // values. One FK equi-join (orders→customer, unhinted — AQE
    // broadcast-promotes the customer projection when it fits) feeding a
    // two-phase distinct aggregation; classes are schema-bounded
    // (nations × segments), so everything after the join is tiny.
    // All-integer output.
    "q_pii_ldiversity" -> ((s, dir) => {
      val cls = tbl(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderpriority"))
        .join(tbl(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(countDistinct("o_orderpriority").as("l"),
          count(lit(1)).as("n_rows"))
      cls.groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_classes"),
          sum("n_rows").as("n_rows"),
          sum(when(col("l") < LDivL, 1L).otherwise(0L)).as("n_risky_classes"),
          sum(when(col("l") < LDivL, col("n_rows")).otherwise(0L))
            .as("n_risky_rows"),
          min("l").as("min_l"))
        .orderBy("c_nationkey")
    }),
    // kNN classifier audit: a fixed KnnProbeN-probe panel (smallest
    // vec_ids — deterministic on both engines) is scored against the
    // FULL corpus by exact integer-quantized cosine, the KnnK nearest
    // neighbors vote, and the majority label (count desc, label asc
    // tiebreak) is compared to the probe's own label — the label-noise /
    // embedding-space-health check run before trusting labels as
    // supervision (the per-class twin of q_embed_coherence's centroid
    // view). Numerics: milli-quantized components make dots/norms exact
    // longs via zip_with/aggregate (codegen-friendly, no explode-join);
    // the only float op is the correctly-rounded sqrt·sqrt·divide.
    // Scale shape: probes are a broadcast literal-sized panel, the
    // corpus side is ONE linear scan (|corpus| × KnnProbeN narrow
    // rows), and both vote stages are TopK bounded heaps — brute-force
    // in the probe count, never quadratic in the corpus; the ANN tier
    // (q_sim_*_ann) is the path when the PANEL is corpus-scale.
    "q_embed_knn_eval" -> ((s, dir) => {
      // native quantize/dot kernels (r16) — the corpus × panel scan paid
      // an interpreted HOF dispatch per dimension per pair; values are
      // identical (QuantizeMilli/DotLong scaladocs)
      import org.apache.spark.sql.graft.{DotLong, QuantizeMilli}
      val emb = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          QuantizeMilli.quantize_milli(col("embedding")).as("q"))
        .withColumn("nq", DotLong.dot_long(col("q"), col("q")))
      val panel = emb.orderBy("vec_id").limit(KnnProbeN)
        .select(col("vec_id").as("p_id"), col("label").as("p_label"),
          col("q").as("p_q"), col("nq").as("p_nq"))
      val pairs = emb.crossJoin(broadcast(panel))
        .where(col("vec_id") =!= col("p_id") &&
          col("nq") > 0L && col("p_nq") > 0L)
        .withColumn("dot", DotLong.dot_long(col("q"), col("p_q")))
        .withColumn("cos_ppm", floor(
          col("dot").cast("double") /
            (sqrt(col("nq").cast("double")) * sqrt(col("p_nq").cast("double"))) *
            1000000d + 0.5d).cast("long"))
      val nn = graft.ops.TopK.perGroup(
        pairs.select("p_id", "p_label", "vec_id", "label", "cos_ppm"),
        Seq("p_id"), Seq(("cos_ppm", false), ("vec_id", true)),
        k = KnnK, rankCol = "knn_rn")
      val votes = nn.groupBy("p_id", "p_label", "label")
        .agg(count(lit(1)).as("n_votes"))
      graft.ops.TopK.perGroup(votes, Seq("p_id"),
          Seq(("n_votes", false), ("label", true)), k = 1,
          rankCol = "vote_rn")
        .select(col("p_id").as("vec_id"), col("p_label").as("true_label"),
          col("label").as("pred_label"), col("n_votes"),
          when(col("label") === col("p_label"), 1).otherwise(0).as("correct"))
        .orderBy("vec_id")
    }),

    // Int8 scalar-quantization recall audit (the FAISS SQ8 baseline —
    // Jégou et al.'s flat-quantizer control arm): how much top-K recall
    // does 8-bit storage cost vs the exact ranking? — the sizing study
    // run before choosing between SQ8 (4× smaller, cheap decode) and PQ
    // (16×, ADC). Codes derive from the milli-quantized components by a
    // GLOBAL symmetric scale c8 = round(q·127/maxabs) ∈ [−127, 127]
    // (one correctly-rounded double op per component — engine-mirrored;
    // the affine per-dim variant would break the exact-integer dot).
    // Both rankings ride ONE corpus×panel pairs scan: exact cosine over
    // milli codes and SQ8 cosine over int8 codes are exact integer
    // dots/norms with the one sqrt·sqrt·divide at the end; recall@K =
    // |exact∩sq8| per probe, exact integer ppm. Scale shape: maxabs is
    // a one-row broadcast fit, the panel a bounded TakeOrdered, the
    // corpus side one linear narrow scan (the kNN-audit contract), both
    // rank cuts bounded TopK heaps.
    "q_embed_sq8" -> ((s, dir) => {
      // native quantize/dot kernels (r16) on the hot corpus×panel scan;
      // the c8 recode and maxabs fold keep their HOF shape (once per
      // row, broadcast-dependent scale — not the hot path)
      import org.apache.spark.sql.graft.{DotLong, QuantizeMilli}
      val emb = tbl(s, dir, "embeddings")
        .select(col("vec_id"),
          QuantizeMilli.quantize_milli(col("embedding")).as("q"))
        .withColumn("nq", DotLong.dot_long(col("q"), col("q")))
        .filter(col("nq") > 0L)
      val mx = emb.select(aggregate(transform(col("q"), v => abs(v)),
          lit(0L), (a, v) => greatest(a, v)).as("ma"))
        .agg(max("ma").as("maxabs"))
      val coded = emb.crossJoin(broadcast(mx))
        .withColumn("c8", transform(col("q"),
          v => floor(v.cast("double") * 127d / col("maxabs") + 0.5d)
            .cast("long")))
        .withColumn("n8", DotLong.dot_long(col("c8"), col("c8")))
        .filter(col("n8") > 0L)
        .select("vec_id", "q", "nq", "c8", "n8")
      val panel = coded.orderBy("vec_id").limit(KnnProbeN)
        .select(col("vec_id").as("p_id"), col("q").as("p_q"),
          col("nq").as("p_nq"), col("c8").as("p_c8"), col("n8").as("p_n8"))
      val pairs = coded.crossJoin(broadcast(panel))
        .where(col("vec_id") =!= col("p_id"))
        .withColumn("cos_ppm", floor(
          DotLong.dot_long(col("q"), col("p_q")).cast("double") /
            (sqrt(col("nq").cast("double")) *
              sqrt(col("p_nq").cast("double"))) * 1000000d + 0.5d)
          .cast("long"))
        .withColumn("cos8_ppm", floor(
          DotLong.dot_long(col("c8"), col("p_c8")).cast("double") /
            (sqrt(col("n8").cast("double")) *
              sqrt(col("p_n8").cast("double"))) * 1000000d + 0.5d)
          .cast("long"))
        .select("p_id", "vec_id", "cos_ppm", "cos8_ppm")
      def cut(score: String) = graft.ops.TopK.perGroup(pairs, Seq("p_id"),
        Seq((score, false), ("vec_id", true)), k = KnnK,
        rankCol = s"rn_$score").select("p_id", "vec_id")
      val overlap = cut("cos_ppm").join(cut("cos8_ppm"), Seq("p_id", "vec_id"))
        .groupBy("p_id").agg(count(lit(1)).as("n_overlap"))
      panel.select(col("p_id"))
        .join(overlap, Seq("p_id"), "left")
        .select(col("p_id").as("vec_id"),
          coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
          expr(s"coalesce(n_overlap, 0) * 1000000 div $KnnK")
            .as("recall_ppm"))
        .orderBy("vec_id")
    }),
    // Greedy k-center coreset / diverse-seed selection (Gonzalez 1985 —
    // see graft.ops.Coreset): CoresetK maximally-spread exemplars for
    // eval panels, deterministic clustering inits, or annotation batches
    // where near-duplicate picks waste labeling budget. Fully integer
    // (exact squared distances over milli-quantized components, no
    // sqrt), zero recorded literals — the DuckDB oracle replays the
    // identical k-stage argmax chain from the raw table. Scale shape: k
    // narrow passes over the cached corpus + one-row argmaxes, never a
    // pairwise join.
    "q_sample_coreset" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          org.apache.spark.sql.graft.QuantizeMilli
            .quantize_milli(col("embedding")).as("q"))
      graft.ops.Coreset.kCenter(emb, CoresetK).orderBy("sel_order")
    }),
    // MMR diversified top-k retrieval (Carbonell & Goldstein 1998 —
    // graft.ops.Mmr): re-rank the MmrShortlist most query-relevant
    // vectors so the final MmrK cover the neighborhood instead of
    // repeating near-duplicates — the retrieval-page twin of the
    // k-center traversal, and the dedup-aware serving stage of a RAG
    // stack. Zero recorded literals: the query point is the smallest
    // vec_id, every similarity is the exact milli-quantized integer
    // cosine, and λ=7/10 keeps the objective in longs, so DuckDB
    // replays the identical greedy chain from the raw table.
    "q_sim_mmr" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
        .select(col("vec_id"),
          org.apache.spark.sql.graft.QuantizeMilli
            .quantize_milli(col("embedding")).as("q"))
      graft.ops.Mmr.diversifiedTopK(emb, MmrK, MmrShortlist)
        .orderBy("sel_order")
    }),
    // Hybrid-retrieval rank fusion via Reciprocal Rank Fusion (Cormack,
    // Clarke & Büttner, SIGIR 2009): query-by-document "more like this"
    // — for each probe doc, a LEXICAL ranking (BM25 over the probe's
    // top-tf terms; TextQueries.Bm25K1/B, the catalog's validated
    // formula) and a VECTOR ranking (exact milli-quantized cosine of the
    // aligned embedding) are fused by Σ 1e6 div (k0 + rank), which is
    // where hybrid RAG serving actually lands: RRF needs no score
    // calibration between a BM25 log-scale and a cosine in [-1,1].
    // Scale shape: ONE token aggregation feeds tf/dl/df; the probe
    // panel, its query terms, df and the corpus stats all ride
    // broadcasts (each ≤ probes × terms rows); the vector side is the
    // kNN-audit scan (corpus × broadcast panel, linear); every ranking
    // is a TopK bounded heap, and the fusion outer-join touches only
    // the ≤ 2·probes·depth ranked rows. Determinism: integer rrf
    // scores; the lexical score's ln keeps the documented BM25
    // rank-swap FP signature.
    "q_rank_rrf" -> ((s, dir) => {
      val toks = tbl(s, dir, "documents")
        .select(col("doc_id"),
          explode(split(lower(col("text")), "[^a-z0-9]+")).as("term"))
        // the doc_id isnotnull is a semantic no-op that keeps every tf
        // consumer's pushed constraints identical, so dl/pq/dfreq/score
        // all REUSE tf's aggregation exchange instead of re-scanning the
        // corpus per branch (the q_text_pmi canonicalization move)
        .filter(col("term") =!= "" && col("doc_id").isNotNull)
      // ONE doc_id-keyed exchange serves the whole tf chain (r17, guide
      // §2.4 — operations keyed the same way share one exchange):
      // hash(doc_id) satisfies the clustered distribution of tf's
      // (doc_id, term) aggregate, dl's (doc_id) rollup, the tf⋈dl join,
      // AND lexScore's (p_id, doc_id) aggregate, so none of them plans
      // its own exchange — the r16 driver profile measured this chain as
      // 12 serial single-task stages, mostly AQE orchestration of those
      // per-step re-exchanges of tiny frames. The repartition shuffles
      // raw token rows instead of partially-aggregated (doc_id, term)
      // rows; at any scale the token stream is within a small constant
      // of |tf| (documents repeat terms a few times), and it buys the
      // removal of three downstream vertex-sized exchanges plus their
      // serialized AQE stages.
      val byDoc = toks.repartition(col("doc_id"))
      val tf = byDoc.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
      val stats = dl.agg(count(lit(1)).as("n"), sum("dl").as("sumdl"))
      val probes = tbl(s, dir, "documents")
        .select(col("doc_id").as("p_id")).orderBy("p_id").limit(RrfProbeN)
      val pq = graft.ops.TopK.perGroup(
          tf.join(broadcast(probes), col("doc_id") === col("p_id")),
          Seq("p_id"), Seq(("tf", false), ("term", true)), k = RrfQTerms,
          rankCol = "qt_rn")
        .select(col("p_id"), col("term"))
      val dfreq = tf.join(broadcast(pq.select("term").distinct()), "term")
        .groupBy("term").agg(count(lit(1)).as("df"))
      val lexScore = tf.join(broadcast(pq), "term")
        .filter(col("doc_id") =!= col("p_id"))
        .join(broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .withColumn("idf", log(lit(1.0d) +
          (col("n").cast("double") - col("df") + 0.5d) /
            (col("df").cast("double") + 0.5d)))
        .withColumn("tfpart",
          col("tf").cast("double") * lit(TextQueries.Bm25K1 + 1.0d) /
            (col("tf").cast("double") + lit(TextQueries.Bm25K1) *
              (lit(1.0d - TextQueries.Bm25B) + lit(TextQueries.Bm25B) *
                (col("dl").cast("double") /
                  (col("sumdl").cast("double") / col("n"))))))
        .withColumn("s_micro",
          floor(col("idf") * col("tfpart") * 1000000d + 0.5d).cast("long"))
        .groupBy("p_id", "doc_id")
        .agg(sum("s_micro").as("score_micro"))
      val lexRank = graft.ops.TopK.perGroup(lexScore, Seq("p_id"),
          Seq(("score_micro", false), ("doc_id", true)), k = RrfDepth,
          rankCol = "lex_rank")
        .select(col("p_id"), col("doc_id"), col("lex_rank"))
      // native quantize/dot kernels (r16) on the corpus×panel scan —
      // same swap as q_embed_knn_eval
      val emb = tbl(s, dir, "embeddings")
        .select(col("vec_id"),
          org.apache.spark.sql.graft.QuantizeMilli
            .quantize_milli(col("embedding")).as("q"))
        .withColumn("nq", org.apache.spark.sql.graft.DotLong
          .dot_long(col("q"), col("q")))
      val panel = emb.join(broadcast(probes), col("vec_id") === col("p_id"))
        .select(col("p_id"), col("q").as("p_q"), col("nq").as("p_nq"))
      val vecRank = graft.ops.TopK.perGroup(
          emb.crossJoin(broadcast(panel))
            .where(col("vec_id") =!= col("p_id") &&
              col("nq") > 0L && col("p_nq") > 0L)
            .withColumn("dot", org.apache.spark.sql.graft.DotLong
              .dot_long(col("q"), col("p_q")))
            .withColumn("cos_ppm", floor(
              col("dot").cast("double") /
                (sqrt(col("nq").cast("double")) *
                  sqrt(col("p_nq").cast("double"))) * 1000000d + 0.5d)
              .cast("long"))
            .select(col("p_id"), col("vec_id").as("doc_id"), col("cos_ppm")),
          Seq("p_id"), Seq(("cos_ppm", false), ("doc_id", true)),
          k = RrfDepth, rankCol = "vec_rank")
        .select(col("p_id"), col("doc_id"), col("vec_rank"))
      val fused = lexRank.join(vecRank, Seq("p_id", "doc_id"), "full_outer")
        .withColumn("rrf_micro",
          coalesce(expr(s"1000000 div ($RrfK0 + lex_rank)"), lit(0L)) +
            coalesce(expr(s"1000000 div ($RrfK0 + vec_rank)"), lit(0L)))
      graft.ops.TopK.perGroup(fused, Seq("p_id"),
          Seq(("rrf_micro", false), ("doc_id", true)), k = RrfTopK,
          rankCol = "rrf_rank")
        .select(col("p_id").as("probe_id"), col("rrf_rank"), col("doc_id"),
          col("rrf_micro"),
          coalesce(col("lex_rank"), lit(0)).as("lex_rank"),
          coalesce(col("vec_rank"), lit(0)).as("vec_rank"))
        .orderBy("probe_id", "rrf_rank")
    })
  )

  /** q_rank_rrf's shape: probe panel size, query terms per probe, per-
    * list ranking depth, the RRF smoothing constant k0 (60 per Cormack
    * et al.'s recommendation), and the fused page size — interpolated
    * into both engines. */
  private[graft] val RrfProbeN = 4
  private[graft] val RrfQTerms = 5
  private[graft] val RrfDepth = 20
  private[graft] val RrfK0 = 60
  private[graft] val RrfTopK = 10

  /** Stages 1-8 of the crawl-day pipelines — ONE lazy plan over the
    * admitted `day` slice (v2 passes the raw %5==0 day; v3 its
    * drift-admitted remainder): blocklist gate, URL-canonical dedup,
    * bloom content-seen gate, within-day MinHash near-dup (candidates
    * recorded as artifact `candName` for the spliced replay oracle),
    * funnel, exact dedup, mixture, pack manifest. Shared so the two pipelines
    * (and their generated oracles, which interpolate the same chain)
    * cannot drift.
    * `day` must carry (doc_id, source, text, lang, n_chars). */
  private def curateChain(s: org.apache.spark.sql.SparkSession, dir: String,
                          day: org.apache.spark.sql.DataFrame,
                          candName: String): org.apache.spark.sql.DataFrame = {
      val d = tbl(s, dir, "documents")
      val sub = when(col("doc_id") % 7 === 0, lit("cdn."))
        .when(col("doc_id") % 7 === 1, lit("www."))
        .otherwise(lit(""))
      val hosted = day.withColumn("registered_domain",
        array_join(slice(split(
          concat(sub, col("source"), lit(".example.com")), "\\."), -3, 3), "."))
      val bl = s.createDataFrame(DayBlockedDomains.map(Tuple1(_)))
        .toDF("blocked_domain")
      val unblocked = hosted.join(broadcast(bl),
        hosted("registered_domain") === bl("blocked_domain"), "left_anti")
      // 2. URL-canonical dedup, keep-min-id, hash-keyed window
      val byUrl = Window.partitionBy(xxhash64(col("canonical_url")))
      // persisted: referenced by the bloom probe's batch side AND the
      // post-gate anti-join — unpersisted, each reference re-runs the
      // blocklist + canonicalization + window chain (measured ~2× the
      // stage cost). Day-sized, the price v1's scaladoc concedes for
      // the multi-pass stages ("persist the deduped corpus between
      // passes" at 100 TB).
      val urlKept = withCanonicalUrl(unblocked)
        .withColumn("_uk", min("doc_id").over(byUrl))
        .filter(col("doc_id") === col("_uk"))
        .drop("_uk", "canonical_url", "registered_domain")
        .persist()
      // 3. bloom content-seen gate against the corpus sketch
      val corpus = d.filter(col("doc_id") % 5 =!= 0)
      val seenHigh = graft.ops.BloomDedup
        .seenBlocks(corpus, urlKept, "doc_id", "text", bloomSketchFor(s, dir))
        .filter(col("seen_ppm") >= ContentSeenPpm)
        .select("doc_id")
      // boundedness: seenHigh ≤ the day's high-overlap dup volume.
      // fresh fans out three ways (signatures, the verify join's doc
      // side, the near-dup anti-join) — persisted for the same reason.
      val fresh = urlKept.join(broadcast(seenHigh), Seq("doc_id"), "left_anti")
        .persist()
      // 4. within-day MinHash near-dup, drop-if-smaller-neighbor
      val sigs = Dedup.minHashSignatures(fresh, "doc_id", "text")
      val cands = Dedup.lshCandidatePairs(sigs).persist()
      graft.io.Artifacts.once(dir, candName)(pairsOf(cands, None))
      // localCheckpoint (r16, guide §3.3): dupDrop is broadcast-anti'd
      // into the emit chain, and mixToWeights' two deduped references
      // duplicated its whole verify-join subtree — the verify stage
      // executed per reference (ReuseExchange does not fire across the
      // renamed broadcast subtrees; measured v2 7.5 → 4.4 s, v3
      // 10.4 → 6.9 s from this one truncation). Bounded: dupDrop is the
      // verified near-dup id set the chain already assumes
      // broadcast-sized; values unchanged (oracles re-verified).
      val dupDrop = Dedup
        .verifyCandidates(fresh, "doc_id", "text", cands, "id_a", "id_b")
        .select(col("id_b").as("doc_id")).distinct() // id_a < id_b always
        .localCheckpoint()
      // boundedness: dupDrop ≤ verified near-dup volume
      val neardeduped = fresh.join(broadcast(dupDrop), Seq("doc_id"), "left_anti")
      // 5. curation funnel (v1's rules) over the surviving day
      val toks = TextAnalysis.tokens(col("text"))
      val kept = Quality.funnel(
          neardeduped.select(col("doc_id"), col("text"), col("lang"),
            col("n_chars"), size(toks).as("words"),
            size(array_distinct(toks)).as("uniq_words")),
          TextQueries.CurationRules)
        .filter(col("verdict") === "kept")
      // 6. exact dedup on the content hash (v1's stage)
      val byHash = Window.partitionBy(md5(col("text")))
      val deduped = kept
        .withColumn("_keep", min("doc_id").over(byHash))
        .filter(col("doc_id") === col("_keep"))
        .select("doc_id", "lang", "n_chars", "words")
      // 7. training mixture + 8. pack manifest (v1's stages)
      val mixed = Mixing.mixToWeights(deduped, "lang", "doc_id", "n_chars",
        weights = MixWeights)
      val byShard = Window.partitionBy("shard").orderBy("doc_id", "copy_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
      mixed
        .withColumn("shard", pmod(col("doc_id") + col("copy_idx"), lit(8)))
        .withColumn("cum", coalesce(sum("words").over(byShard), lit(0L)))
        .withColumn("pack_id", floor(col("cum") / 2048.0))
        .groupBy("shard", "pack_id")
        .agg(count(lit(1)).as("n_rows"), countDistinct("doc_id").as("n_docs"),
          sum("words").as("n_tokens"))
        .orderBy("shard", "pack_id")
  }


  /** q_sample_coreset's selection count — interpolated into the oracle
    * generator so query and replay stay in lockstep. */
  private[graft] val CoresetK = 8

  /** q_sim_mmr's result depth and relevance-shortlist size —
    * interpolated into the oracle generator. */
  private[graft] val MmrK = 8
  private[graft] val MmrShortlist = 32

  /** q_pii_kanonymity's minimum safe equivalence-class size and the
    * account-balance banding width forming the quasi-identifier —
    * interpolated into the oracle. */
  private[graft] val KAnonK = 5
  private[graft] val KAnonBandWidth = 1000

  /** q_pii_ldiversity's minimum distinct-sensitive-value count per
    * quasi-identifier class — interpolated into the oracle. */
  private[graft] val LDivL = 3

  /** q_embed_knn_eval's probe-panel size and neighbor count —
    * interpolated into the oracle. The panel is the smallest
    * KnnProbeN vec_ids: deterministic under ORDER BY on both engines,
    * corpus-size-independent. */
  private[graft] val KnnProbeN = 20
  private[graft] val KnnK = 5

  /** q_curate_pipeline_v2's generated one-CTE-chain oracle: the ONLY
    * literal splice is the MinHash candidate stage (murmur signatures
    * are not SQL-expressible); every other stage — blocklist,
    * canonicalization, the bloom gate's exact block join, candidate
    * Jaccard verify + drop rule, funnel, exact dedup, mixture, packing —
    * is recomputed by DuckDB from the raw documents table, step for
    * step. A drift anywhere in the eight-stage chain hash-mismatches. */
  private def curateV2OracleSql(pairs: Seq[(Option[String], Long, Long)]): String =
    curateChainOracleSql(pairs,
      """day AS (SELECT doc_id, source, text, lang, n_chars
               FROM documents WHERE doc_id % 5 = 0)""")

  /** q_curate_pipeline_v3's generated oracle: v2's chain with the
    * drift-gated admission stage 0 prepended — per-ingest-batch
    * KL(batch ‖ reference) recomputed from scratch (the
    * q_stream_drift_gate oracle's CTEs: reference vocabulary + buckets
    * from the corpus slice, micro-quantized per-bucket contribs before
    * the exact integer sum), the day's most-drifted batch quarantined
    * (max kl_micro, batch_id tiebreak), and `day` redefined as the
    * admitted remainder. */
  private def curateV3OracleSql(pairs: Seq[(Option[String], Long, Long)]): String = {
    val n = graft.streaming.StreamOps.DefaultChunks
    val stage0 = s"""bounds0 AS (SELECT min(doc_id) AS lo,
           (max(doc_id) - min(doc_id)) // $n AS step
         FROM documents WHERE doc_id % 5 = 0),
       day0 AS (SELECT doc_id, source, text, lang, n_chars,
           CAST(CASE WHEN (SELECT step FROM bounds0) <= 0 THEN ${n - 1}
                ELSE least(${n - 1}, (doc_id - (SELECT lo FROM bounds0))
                  // (SELECT step FROM bounds0)) END AS BIGINT) AS batch_id
         FROM documents WHERE doc_id % 5 = 0),
       rt0 AS (SELECT
           unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term
         FROM documents WHERE doc_id % 5 <> 0),
       rtc0 AS (SELECT term, count(*) AS c FROM rt0
                WHERE term <> '' GROUP BY 1),
       kept0 AS (SELECT term FROM rtc0
                 ORDER BY c DESC, term ASC LIMIT ${TextQueries.KlVocabTopK}),
       rb0 AS (SELECT CASE WHEN term IN (SELECT term FROM kept0) THEN term
                 ELSE '<oov>' END AS bucket, sum(c) AS cc
               FROM rtc0 GROUP BY 1),
       rtot0 AS (SELECT CAST(sum(cc) AS BIGINT) AS tot_c FROM rb0),
       bt0 AS (SELECT batch_id,
           unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term
         FROM day0),
       bc0 AS (SELECT batch_id,
           CASE WHEN term IN (SELECT term FROM kept0) THEN term
                ELSE '<oov>' END AS bucket, count(*) AS cs
         FROM bt0 WHERE term <> '' GROUP BY 1, 2),
       btot0 AS (SELECT batch_id, sum(cs) AS tot_b FROM bc0 GROUP BY 1),
       klb AS (SELECT b.batch_id,
           CAST(sum(CAST(floor(
             (CAST(b.cs AS DOUBLE) / t.tot_b) *
             ln((CAST(b.cs AS DOUBLE) * x.tot_c)
                / (CAST(t.tot_b AS DOUBLE) * r.cc)) *
             1000000 + 0.5) AS BIGINT)) AS BIGINT) AS kl_micro
         FROM bc0 b JOIN rb0 r USING (bucket) JOIN btot0 t USING (batch_id)
              CROSS JOIN rtot0 x
         GROUP BY 1),
       quar AS (SELECT batch_id FROM klb
                ORDER BY kl_micro DESC, batch_id ASC LIMIT 1),
       day AS (SELECT doc_id, source, text, lang, n_chars FROM day0
               WHERE batch_id NOT IN (SELECT batch_id FROM quar))"""
    curateChainOracleSql(pairs, stage0)
  }

  /** The shared v2/v3 chain: `dayCtes` must end by defining `day` (the
    * admitted ingest slice); everything downstream — blocklist, URL
    * canonicalization, bloom gate, near-dup verify, funnel, exact dedup,
    * mixture, packing — is identical between the two pipelines. */
  private def curateChainOracleSql(pairs: Seq[(Option[String], Long, Long)],
                                   dayCtes: String): String = {
    val cand = Dedup.candidateScoreCtes(pairs, "id_a", "id_b")
    val blocked = DayBlockedDomains.map(d => s"'$d'").mkString(", ")
    s"""WITH $cand,
       $dayCtes,
       bk AS (SELECT *, array_to_string(string_split(
           (CASE WHEN doc_id % 7 = 0 THEN 'cdn.'
                 WHEN doc_id % 7 = 1 THEN 'www.' ELSE '' END)
           || source || '.example.com', '.')[-3:], '.') AS registered_domain
         FROM day),
       unb AS (SELECT doc_id, source, text, lang, n_chars FROM bk
               WHERE registered_domain NOT IN ($blocked)),
       u0 AS (SELECT doc_id, text, lang, n_chars,
           (CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'http://' END) ||
           (CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END) ||
           '.example.com' ||
           (CASE WHEN doc_id % 5 = 0 THEN ':80' ELSE '' END) ||
           '/p/' || CAST(doc_id // 40 AS VARCHAR) ||
           (CASE WHEN doc_id % 13 = 0 THEN '/' ELSE '' END) ||
           '?utm_source=feed&utm_sid=' || CAST(doc_id % 4 AS VARCHAR) ||
           (CASE WHEN doc_id % 2 = 0 THEN '&a=1&b=2' ELSE '&b=2&a=1' END) ||
           (CASE WHEN doc_id % 11 = 0 THEN '&utm_campaign=x' ELSE '' END)
             AS raw
         FROM unb),
       u1 AS (SELECT doc_id, text, lang, n_chars,
           lower(string_split(raw, '://')[1]) AS scheme,
           string_split(raw, '://')[2] AS rest FROM u0),
       u2 AS (SELECT *, string_split(rest, '/')[1] AS hostport FROM u1),
       u3 AS (SELECT doc_id, text, lang, n_chars, scheme,
           lower(CASE WHEN scheme = 'http'
                        THEN regexp_replace(hostport, ':80$$', '')
                      WHEN scheme = 'https'
                        THEN regexp_replace(hostport, ':443$$', '')
                      ELSE hostport END) AS host,
           substring(rest, length(hostport) + 1) AS pathq FROM u2),
       u4 AS (SELECT doc_id, text, lang, n_chars, scheme, host,
           string_split(pathq, '?')[1] AS path0,
           CASE WHEN len(string_split(pathq, '?')) >= 2
                THEN string_split(pathq, '?')[2] ELSE '' END AS query
         FROM u3),
       u5 AS (SELECT doc_id, text, lang, n_chars, scheme, host,
           CASE WHEN regexp_replace(path0, '/+$$', '') = '' THEN '/'
                ELSE regexp_replace(path0, '/+$$', '') END AS path,
           list_filter(string_split(query, '&'),
             p -> p NOT LIKE 'utm_%' AND p <> '') AS params
         FROM u4),
       u6 AS (SELECT doc_id, text, lang, n_chars,
           scheme || '://' || host || path ||
           CASE WHEN len(params) > 0
                THEN '?' || array_to_string(list_sort(params), '&')
                ELSE '' END AS canonical_url
         FROM u5),
       urlk AS (SELECT doc_id, text, lang, n_chars FROM (
           SELECT *, min(doc_id) OVER (PARTITION BY canonical_url) AS uk
           FROM u6) t
         WHERE doc_id = uk),
       cb0 AS (SELECT doc_id, string_split(text, ' ') AS toks,
           len(string_split(text, ' ')) AS n
         FROM documents WHERE doc_id % 5 <> 0),
       cb1 AS (SELECT doc_id, toks, n,
           CAST(unnest(generate_series(0, CAST(floor((n - 1) / 16.0) AS BIGINT))) AS INT)
             AS chunk_idx
         FROM cb0),
       corpusb AS (SELECT DISTINCT
           array_to_string(toks[chunk_idx * 16 + 1 : chunk_idx * 16 + 16], ' ') AS blk
         FROM cb1),
       db0 AS (SELECT doc_id, string_split(text, ' ') AS toks,
           len(string_split(text, ' ')) AS n FROM urlk),
       db1 AS (SELECT doc_id, toks, n,
           CAST(unnest(generate_series(0, CAST(floor((n - 1) / 16.0) AS BIGINT))) AS INT)
             AS chunk_idx
         FROM db0),
       dbx AS (SELECT doc_id,
           array_to_string(toks[chunk_idx * 16 + 1 : chunk_idx * 16 + 16], ' ') AS blk
         FROM db1),
       seenb AS (SELECT doc_id, count(*) AS ns
                 FROM dbx JOIN corpusb USING (blk) GROUP BY doc_id),
       totb AS (SELECT doc_id, count(*) AS nb FROM dbx GROUP BY doc_id),
       high AS (SELECT s.doc_id FROM seenb s JOIN totb t USING (doc_id)
                WHERE s.ns * 1000000 // t.nb >= $ContentSeenPpm),
       freshd AS (SELECT * FROM urlk
                  WHERE doc_id NOT IN (SELECT doc_id FROM high)),
       drp AS (SELECT DISTINCT id_b AS doc_id FROM scored
               WHERE j >= $VerifyThreshold),
       nd AS (SELECT * FROM freshd
              WHERE doc_id NOT IN (SELECT doc_id FROM drp)),
       f AS (SELECT doc_id, text, lang, n_chars,
           len(string_split(text, ' ')) AS words,
           len(list_distinct(string_split(text, ' '))) AS uniq_words
         FROM nd),
       kept AS (SELECT * FROM f
         WHERE NOT (n_chars < 100) AND NOT (words < 20)
           AND NOT (uniq_words * 3 < words) AND NOT (words > 90)),
       ded AS (SELECT doc_id, lang, n_chars, words FROM (
           SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
           FROM kept) t
         WHERE doc_id = keep_id),
       uu AS (SELECT lang, CAST(sum(n_chars) AS DOUBLE) AS du
              FROM ded GROUP BY lang),
       tt AS (SELECT CAST(sum(n_chars) AS DOUBLE) AS tu FROM ded),
       w(lang, wt) AS (VALUES
         ('de', CAST(0.25 AS DOUBLE)), ('en', CAST(0.25 AS DOUBLE)),
         ('es', CAST(0.20 AS DOUBLE)), ('fr', CAST(0.20 AS DOUBLE)),
         ('zh', CAST(0.10 AS DOUBLE))),
       rr AS (SELECT d.doc_id, d.words,
               least(w.wt * tt.tu / uu.du, 16.0) AS rrv,
               CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR) || ':graft-mix'), 1, 4) AS INT)
                 / 65536.0 AS h
             FROM ded d JOIN uu USING (lang) JOIN w USING (lang) CROSS JOIN tt),
       nn AS (SELECT doc_id, words,
               CAST(floor(rrv) AS BIGINT)
                 + CASE WHEN h < rrv - floor(rrv) THEN 1 ELSE 0 END AS n_copies
             FROM rr),
       xx AS (SELECT doc_id, words,
               CAST(unnest(generate_series(1, n_copies)) AS INT) AS copy_idx
             FROM nn),
       pp AS (SELECT *, (doc_id + copy_idx) % 8 AS shard FROM xx),
       cc AS (SELECT *, coalesce(sum(words) OVER (PARTITION BY shard
               ORDER BY doc_id, copy_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
             FROM pp)
       SELECT shard, CAST(floor(cum / 2048.0) AS BIGINT) AS pack_id,
         count(*) AS n_rows, count(DISTINCT doc_id) AS n_docs,
         CAST(sum(words) AS BIGINT) AS n_tokens
       FROM cc GROUP BY shard, pack_id ORDER BY shard, pack_id"""
  }

  /** Static oracles plus the GENERATED ones, each present once its query
    * has recorded its fit or candidates on exactly one corpus
    * ([[graft.io.Artifacts.single]]) — Verify runs every query before it
    * dumps, so its single-dir runs emit them all. */
  def oracles: Map[String, String] = {
    import graft.io.Artifacts.single
    type Sigs = Either[String, Seq[(Long, Long)]]
    type Pairs = Seq[(Option[String], Long, Long)]
    val gen: Seq[(String, Option[String])] = Seq(
      "q_dedup_semantic" -> single[Seq[Array[Double]]]("semantic_centroids")
        .map(graft.ops.SemanticDedup.oracleSql(_, SemanticThreshold)),
      "q_embed_kmeans" -> single[Seq[Array[Double]]]("kmeans_centroids")
        .map(graft.ops.SemanticDedup.statsOracleSql),
      "q_dedup_minhash_lsh" -> replayOracle("lsh_cands", "id_a", "id_b"),
      // q_dedup_clusters rides the SAME candidate recording (identical
      // seeded signatures -> identical candidates)
      "q_dedup_clusters" -> single[CandRec]("lsh_cands").map {
        case Right(rec) =>
          graft.ops.Dedup.clusterReplayOracleSql(rec, VerifyThreshold)
        case Left(path) =>
          graft.ops.Dedup.clusterReplayOracleSqlFrom(path, VerifyThreshold)
      },
      "q_dedup_incremental" -> replayOracle("inc_cands", "id_new", "id_corpus"),
      "q_curate_pipeline_v2" -> single[Pairs]("curate_v2_cands")
        .filter(_.size <= ReplayOracleCap).map(curateV2OracleSql),
      "q_curate_pipeline_v3" -> single[Pairs]("curate_v3_cands")
        .filter(_.size <= ReplayOracleCap).map(curateV3OracleSql),
      "q_dedup_incremental_full" ->
        replayOracle("full_cands", "id_a", "id_b", staged = true),
      "q_dedup_simhash" -> single[Sigs]("simhash_rec").collect {
        // inline literals: brute-force all-pairs replay (self-contained)
        case Right(sigs) if sigs.nonEmpty && sigs.size <= ReplayOracleCap =>
          graft.ops.Dedup.simHashReplayOracleSql(sigs, SimHashMaxHamming)
        // over-cap sidecar: independently-banded join replay
        case Left(path) =>
          graft.ops.Dedup.simHashSidecarOracleSql(path, SimHashMaxHamming)
      },
      // ANN tier: recorded fitted artifacts (centroids / codebooks —
      // driver-tiny, never corpus-sized) replay the whole index in DuckDB
      "q_sim_ivf_ann" -> single[Similarity.IvfIndex]("ivf_index").map(ix =>
        Similarity.ivfAnnOracleSql(ix.centroids, IvfNProbe, AnnK, AnnQueryPred)),
      "q_sim_ivfpq_ann" -> single[(Similarity.IvfIndex,
          graft.ops.ProductQuantizer.PqCodebook, Int)]("ivfpq_index").map {
        case (ix, cb, rr) => Similarity.ivfPqAnnOracleSql(ix.centroids, cb,
          IvfNProbe, rr, AnnK, IvfPqQueryPred)
      },
      "q_embed_pq" -> single[graft.ops.ProductQuantizer.PqCodebook]("pq_codebook")
        .map(graft.ops.ProductQuantizer.reconStatsOracleSql),
      "q_embed_pca" -> single[graft.ops.Pca.PcaModel]("pca_fit")
        .map(graft.ops.Pca.projectionOracleSql),
      "q_embed_pca_k" -> single[graft.ops.Pca.PcaKModel]("pca_k_fit")
        .map(graft.ops.Pca.projectionKOracleSql))
    staticOracles ++ gen.collect { case (q, Some(sql)) => q -> sql }
  }

  private val staticOracles: Map[String, String] = Map(
    // the hyperplanes regenerate from (dim, bits, seed)
    "q_sim_lsh_ann" ->
      Similarity.lshAnnOracleSql(dim = 64, bits = LshAnnBits, k = AnnK,
        queryPred = AnnQueryPred, hammingRadius = 1),
    "q_dedup_winnowing" ->
      graft.ops.Winnowing.oracleSql(k = 4, w = 4, maxDf = 50L, minShared = 5L),
    // The lexical arm replays q_text_bm25's validated arithmetic (same
    // interpolated K1/B literals, same cast/div order); the vector arm
    // replays the kNN-audit cosine; ranks are row_number with the same
    // (score desc, doc asc) tiebreaks; the fusion is exact integer //
    // over a FULL OUTER join of the two capped lists.
    "q_rank_rrf" ->
      s"""WITH toks AS (SELECT doc_id,
             unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term
           FROM documents),
         tok2 AS (SELECT doc_id, term FROM toks WHERE term <> ''),
         tf AS MATERIALIZED (
           SELECT doc_id, term, count(*) AS tf FROM tok2 GROUP BY 1, 2),
         dl AS MATERIALIZED (
           SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
         stats AS (SELECT count(*) AS n, sum(dl) AS sumdl FROM dl),
         probes AS (SELECT doc_id AS p_id FROM documents
                    ORDER BY doc_id LIMIT $RrfProbeN),
         pqr AS (SELECT p.p_id, tf.term, row_number() OVER
                   (PARTITION BY p.p_id ORDER BY tf.tf DESC, tf.term ASC)
                   AS rn
                 FROM tf JOIN probes p ON tf.doc_id = p.p_id),
         pq AS MATERIALIZED (
           SELECT p_id, term FROM pqr WHERE rn <= $RrfQTerms),
         dfreq AS (SELECT term, count(*) AS df FROM tf
                   WHERE term IN (SELECT DISTINCT term FROM pq)
                   GROUP BY 1),
         lex AS (SELECT pq.p_id, tf.doc_id,
             CAST(sum(CAST(floor(
               ln(1.0 + ((CAST(n AS DOUBLE) - df) + 0.5)
                          / (CAST(df AS DOUBLE) + 0.5)) *
               (CAST(tf AS DOUBLE) * ${TextQueries.Bm25K1 + 1.0d} /
                 (CAST(tf AS DOUBLE) + ${TextQueries.Bm25K1} *
                   (${1.0d - TextQueries.Bm25B} + ${TextQueries.Bm25B} *
                     (CAST(dl.dl AS DOUBLE) /
                       (CAST(sumdl AS DOUBLE) / n))))) *
               1000000 + 0.5) AS BIGINT)) AS BIGINT) AS score_micro
           FROM tf JOIN pq USING (term) JOIN dfreq USING (term)
                JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats
           WHERE tf.doc_id <> pq.p_id
           GROUP BY 1, 2),
         lexk AS (SELECT p_id, doc_id, lex_rank FROM (
             SELECT p_id, doc_id, CAST(row_number() OVER (PARTITION BY p_id
                 ORDER BY score_micro DESC, doc_id ASC) AS INT) AS lex_rank
             FROM lex) z
           WHERE lex_rank <= $RrfDepth),
         e AS (SELECT vec_id, list_transform(embedding, x ->
                 CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS q
               FROM embeddings),
         en AS MATERIALIZED (SELECT vec_id, q,
             CAST(list_sum(list_transform(q, v -> v * v)) AS BIGINT) AS nq
           FROM e),
         panel AS (SELECT p.p_id, en.q AS p_q, en.nq AS p_nq
                   FROM en JOIN probes p ON en.vec_id = p.p_id),
         vp AS (SELECT panel.p_id, en.vec_id AS doc_id,
             CAST(floor(CAST(list_sum(list_transform(
                 range(1, len(en.q) + 1),
                 i -> en.q[CAST(i AS INT)] * panel.p_q[CAST(i AS INT)]))
               AS DOUBLE)
               / (sqrt(CAST(en.nq AS DOUBLE)) * sqrt(CAST(panel.p_nq AS DOUBLE)))
               * 1000000 + 0.5) AS BIGINT) AS cos_ppm
           FROM en, panel
           WHERE en.vec_id <> panel.p_id AND en.nq > 0 AND panel.p_nq > 0),
         vk AS (SELECT p_id, doc_id, vec_rank FROM (
             SELECT p_id, doc_id, CAST(row_number() OVER (PARTITION BY p_id
                 ORDER BY cos_ppm DESC, doc_id ASC) AS INT) AS vec_rank
             FROM vp) z
           WHERE vec_rank <= $RrfDepth),
         fused AS (SELECT coalesce(l.p_id, v.p_id) AS p_id,
             coalesce(l.doc_id, v.doc_id) AS doc_id,
             l.lex_rank, v.vec_rank,
             coalesce(1000000 // ($RrfK0 + l.lex_rank), 0)
               + coalesce(1000000 // ($RrfK0 + v.vec_rank), 0) AS rrf_micro
           FROM lexk l FULL OUTER JOIN vk v
             ON l.p_id = v.p_id AND l.doc_id = v.doc_id),
         fr AS (SELECT p_id, doc_id, rrf_micro, lex_rank, vec_rank,
             CAST(row_number() OVER (PARTITION BY p_id
               ORDER BY rrf_micro DESC, doc_id ASC) AS INT) AS rrf_rank
           FROM fused)
         SELECT p_id AS probe_id, rrf_rank, doc_id, rrf_micro,
           coalesce(lex_rank, 0) AS lex_rank,
           coalesce(vec_rank, 0) AS vec_rank
         FROM fr WHERE rrf_rank <= $RrfTopK ORDER BY probe_id, rrf_rank""",
    // Exact static replay (no recorded literals): milli-quantize, exact
    // integer dots/norms against the sum-vector centroid, then the one
    // correctly-rounded sqrt·sqrt·divide per member. idx is 1-based here
    // vs Spark's 0-based posexplode — a join key internal to each
    // engine, so the offset is immaterial.
    "q_embed_coherence" ->
      """WITH comp AS (
           SELECT vec_id, label, u.s.idx AS idx, u.s.q AS q FROM (
             SELECT vec_id, label,
               unnest(list_transform(range(1, len(embedding) + 1),
                 i -> {'idx': CAST(i AS INT),
                       'q': CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
                              * 1000 + 0.5) AS BIGINT)})) AS s
             FROM embeddings) u),
         cent AS (SELECT label, idx, CAST(sum(q) AS BIGINT) AS cs
                  FROM comp GROUP BY 1, 2),
         cn AS (SELECT label, CAST(sum(cs * cs) AS BIGINT) AS nb
                FROM cent GROUP BY 1),
         per AS (SELECT c.vec_id, c.label,
                   CAST(sum(c.q * ce.cs) AS BIGINT) AS dot,
                   CAST(sum(c.q * c.q) AS BIGINT) AS na
                 FROM comp c JOIN cent ce USING (label, idx) GROUP BY 1, 2),
         scored AS (SELECT p.label,
             CAST(floor(CAST(p.dot AS DOUBLE)
               / (sqrt(CAST(p.na AS DOUBLE)) * sqrt(CAST(n.nb AS DOUBLE)))
               * 1000000 + 0.5) AS BIGINT) AS cos_ppm
           FROM per p JOIN cn n USING (label) WHERE p.na > 0 AND n.nb > 0)
         SELECT label, count(*) AS n_vecs,
           CAST(min(cos_ppm) AS BIGINT) AS min_cos_ppm,
           CAST(sum(cos_ppm) // count(*) AS BIGINT) AS mean_cos_ppm
         FROM scored GROUP BY 1 ORDER BY 1""",
    "q_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies,
         sha256(text) AS content_hash
         FROM documents GROUP BY sha256(text) ORDER BY keep_id""",
    "q_sample_coreset" -> graft.ops.Coreset.oracleSql(CoresetK),
    "q_sim_mmr" -> graft.ops.Mmr.oracleSql(MmrK, MmrShortlist),
    // All-integer; floor (not //, which truncates) so negative balances
    // band identically to Spark's floor.
    "q_pii_kanonymity" ->
      s"""WITH cls AS (
           SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / $KAnonBandWidth.0) AS BIGINT) AS bal_band,
             count(*) AS n
           FROM customer GROUP BY 1, 2, 3)
         SELECT c_nationkey, count(*) AS n_classes,
           CAST(sum(n) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN n < $KAnonK THEN 1 ELSE 0 END) AS BIGINT)
             AS n_risky_classes,
           CAST(sum(CASE WHEN n < $KAnonK THEN n ELSE 0 END) AS BIGINT)
             AS n_risky_rows,
           CAST(min(n) AS BIGINT) AS min_class_size
         FROM cls GROUP BY c_nationkey ORDER BY c_nationkey""",
    "q_pii_ldiversity" ->
      s"""WITH cls AS (
           SELECT c.c_nationkey, c.c_mktsegment,
             count(DISTINCT o.o_orderpriority) AS l,
             count(*) AS n_rows
           FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
           GROUP BY 1, 2)
         SELECT c_nationkey, count(*) AS n_classes,
           CAST(sum(n_rows) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN l < $LDivL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_risky_classes,
           CAST(sum(CASE WHEN l < $LDivL THEN n_rows ELSE 0 END) AS BIGINT)
             AS n_risky_rows,
           CAST(min(l) AS BIGINT) AS min_l
         FROM cls GROUP BY c_nationkey ORDER BY c_nationkey""",
    // The coherence replay's milli-quantization (exact integer dots and
    // norms via 1-based list folds), the same sqrt·sqrt·divide, then
    // both vote stages as ranking windows.
    "q_embed_knn_eval" ->
      s"""WITH e AS (
           SELECT vec_id, label,
             list_transform(embedding, x ->
               CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS q
           FROM embeddings),
         n AS (SELECT vec_id, label, q,
             CAST(list_sum(list_transform(q, v -> v * v)) AS BIGINT) AS nq
           FROM e),
         p AS (SELECT vec_id AS p_id, label AS p_label, q AS p_q, nq AS p_nq
               FROM n ORDER BY vec_id LIMIT $KnnProbeN),
         pr AS (SELECT n.vec_id, n.label, p.p_id, p.p_label,
             CAST(floor(CAST(list_sum(list_transform(
                 range(1, len(n.q) + 1),
                 i -> n.q[CAST(i AS INT)] * p.p_q[CAST(i AS INT)]))
               AS DOUBLE)
               / (sqrt(CAST(n.nq AS DOUBLE)) * sqrt(CAST(p.p_nq AS DOUBLE)))
               * 1000000 + 0.5) AS BIGINT) AS cos_ppm
           FROM n, p
           WHERE n.vec_id <> p.p_id AND n.nq > 0 AND p.p_nq > 0),
         r AS (SELECT p_id, p_label, label, cos_ppm, row_number() OVER
                 (PARTITION BY p_id ORDER BY cos_ppm DESC, vec_id ASC) AS rn
               FROM pr),
         k AS (SELECT p_id, p_label, label, count(*) AS n_votes
               FROM r WHERE rn <= $KnnK GROUP BY 1, 2, 3),
         v AS (SELECT p_id, p_label, label, n_votes, row_number() OVER
                 (PARTITION BY p_id ORDER BY n_votes DESC, label ASC) AS vr
               FROM k)
         SELECT p_id AS vec_id, p_label AS true_label,
           label AS pred_label, n_votes,
           CASE WHEN label = p_label THEN 1 ELSE 0 END AS correct
         FROM v WHERE vr = 1 ORDER BY vec_id""",
    // Same milli codes, same global-scale int8 derivation (one mirrored
    // double op per component), both rankings recomputed from scratch.
    "q_embed_sq8" ->
      s"""WITH e AS (
           SELECT vec_id,
             list_transform(embedding, x ->
               CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS q
           FROM embeddings),
         en AS (SELECT vec_id, q,
             CAST(list_sum(list_transform(q, v -> v * v)) AS BIGINT) AS nq
           FROM e),
         e2 AS (SELECT * FROM en WHERE nq > 0),
         mxx AS (SELECT CAST(max(list_max(list_transform(q, v -> abs(v))))
               AS BIGINT) AS maxabs
             FROM e2),
         c AS (SELECT vec_id, q, nq,
             list_transform(q, v -> CAST(floor(CAST(v AS DOUBLE) * 127
               / maxabs + 0.5) AS BIGINT)) AS c8
           FROM e2, mxx),
         c2 AS (SELECT vec_id, q, nq, c8,
             CAST(list_sum(list_transform(c8, v -> v * v)) AS BIGINT) AS n8
           FROM c),
         c3 AS (SELECT * FROM c2 WHERE n8 > 0),
         p AS (SELECT vec_id AS p_id, q AS p_q, nq AS p_nq,
               c8 AS p_c8, n8 AS p_n8
             FROM c3 ORDER BY vec_id LIMIT $KnnProbeN),
         pr AS (SELECT c3.vec_id, p.p_id,
             CAST(floor(CAST(list_sum(list_transform(
                 range(1, len(c3.q) + 1),
                 i -> c3.q[CAST(i AS INT)] * p.p_q[CAST(i AS INT)]))
               AS DOUBLE)
               / (sqrt(CAST(c3.nq AS DOUBLE)) * sqrt(CAST(p.p_nq AS DOUBLE)))
               * 1000000 + 0.5) AS BIGINT) AS cos_ppm,
             CAST(floor(CAST(list_sum(list_transform(
                 range(1, len(c3.c8) + 1),
                 i -> c3.c8[CAST(i AS INT)] * p.p_c8[CAST(i AS INT)]))
               AS DOUBLE)
               / (sqrt(CAST(c3.n8 AS DOUBLE)) * sqrt(CAST(p.p_n8 AS DOUBLE)))
               * 1000000 + 0.5) AS BIGINT) AS cos8_ppm
           FROM c3, p WHERE c3.vec_id <> p.p_id),
         r1 AS (SELECT p_id, vec_id, row_number() OVER (PARTITION BY p_id
               ORDER BY cos_ppm DESC, vec_id ASC) AS rn FROM pr),
         r2 AS (SELECT p_id, vec_id, row_number() OVER (PARTITION BY p_id
               ORDER BY cos8_ppm DESC, vec_id ASC) AS rn FROM pr),
         ov AS (SELECT r1.p_id, count(*) AS n
           FROM r1 JOIN r2 ON r1.p_id = r2.p_id AND r1.vec_id = r2.vec_id
           WHERE r1.rn <= $KnnK AND r2.rn <= $KnnK GROUP BY 1)
         SELECT p.p_id AS vec_id,
           CAST(coalesce(ov.n, 0) AS BIGINT) AS n_overlap,
           CAST(coalesce(ov.n, 0) * 1000000 // $KnnK AS BIGINT) AS recall_ppm
         FROM p LEFT JOIN ov ON ov.p_id = p.p_id ORDER BY vec_id""",
    // Independent formulation on purpose: first-occurrence via
    // row_number over block STRINGS (the Spark side keys on xxhash64 —
    // hash = string counts modulo ~n²/2⁶⁵ collisions).
    "q_dedup_paragraph" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks,
           len(string_split(text, ' ')) AS n FROM documents),
         c AS (SELECT doc_id, toks, n,
           CAST(unnest(generate_series(0, CAST(floor((n - 1) / 16.0) AS BIGINT))) AS INT)
             AS chunk_idx
         FROM d),
         x AS (SELECT doc_id, chunk_idx, least(16, n - chunk_idx * 16) AS n_tok,
           array_to_string(toks[chunk_idx * 16 + 1 : chunk_idx * 16 + 16], ' ')
             AS chunk_text
         FROM c),
         y AS (SELECT doc_id, chunk_idx, n_tok,
           row_number() OVER (PARTITION BY chunk_text
             ORDER BY doc_id, chunk_idx) AS rn
         FROM x)
         SELECT doc_id, count(*) AS n_blocks,
           count(CASE WHEN rn > 1 THEN 1 END) AS n_dup_blocks,
           CAST(sum(CASE WHEN rn = 1 THEN n_tok ELSE 0 END) AS BIGINT)
             AS kept_tokens
         FROM y GROUP BY doc_id ORDER BY doc_id""",
    // The exact join the Bloom sketch replaces at scale — bloom is a
    // transparent prefilter (no false negatives; verify removes false
    // positives), so the oracle never models it. Block derivation is the
    // q_dedup_paragraph CTE verbatim.
    "q_dedup_bloom" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks,
           len(string_split(text, ' ')) AS n FROM documents),
         c AS (SELECT doc_id, toks, n,
           CAST(unnest(generate_series(0, CAST(floor((n - 1) / 16.0) AS BIGINT))) AS INT)
             AS chunk_idx
         FROM d),
         x AS (SELECT doc_id, chunk_idx,
           array_to_string(toks[chunk_idx * 16 + 1 : chunk_idx * 16 + 16], ' ')
             AS blk
         FROM c),
         corpus AS (SELECT DISTINCT blk FROM x WHERE doc_id % 5 <> 0),
         batch AS (SELECT doc_id, blk FROM x WHERE doc_id % 5 = 0),
         seen AS (SELECT doc_id, count(*) AS n_seen_blocks
                  FROM batch JOIN corpus USING (blk) GROUP BY doc_id),
         tot AS (SELECT doc_id, count(*) AS n_blocks
                 FROM batch GROUP BY doc_id)
         SELECT t.doc_id, t.n_blocks, s.n_seen_blocks,
           CAST(s.n_seen_blocks * 1000000 // t.n_blocks AS BIGINT) AS seen_ppm
         FROM seen s JOIN tot t USING (doc_id)
         ORDER BY t.doc_id""",
    // Step-for-step replay of the synthesis + canonicalization chain
    // (literal splits where Spark splits on trivially-literal regexes).
    "q_dedup_url" ->
      """WITH r AS (SELECT doc_id,
           (CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'http://' END) ||
           (CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END) ||
           '.example.com' ||
           (CASE WHEN doc_id % 5 = 0 THEN ':80' ELSE '' END) ||
           '/p/' || CAST(doc_id // 40 AS VARCHAR) ||
           (CASE WHEN doc_id % 13 = 0 THEN '/' ELSE '' END) ||
           '?utm_source=feed&utm_sid=' || CAST(doc_id % 4 AS VARCHAR) ||
           (CASE WHEN doc_id % 2 = 0 THEN '&a=1&b=2' ELSE '&b=2&a=1' END) ||
           (CASE WHEN doc_id % 11 = 0 THEN '&utm_campaign=x' ELSE '' END)
             AS raw
         FROM documents),
         c1 AS (SELECT doc_id,
           lower(string_split(raw, '://')[1]) AS scheme,
           string_split(raw, '://')[2] AS rest FROM r),
         c2 AS (SELECT doc_id, scheme, rest,
           string_split(rest, '/')[1] AS hostport FROM c1),
         c3 AS (SELECT doc_id, scheme,
           lower(CASE WHEN scheme = 'http'
                        THEN regexp_replace(hostport, ':80$', '')
                      WHEN scheme = 'https'
                        THEN regexp_replace(hostport, ':443$', '')
                      ELSE hostport END) AS host,
           substring(rest, length(hostport) + 1) AS pathq FROM c2),
         c4 AS (SELECT doc_id, scheme, host,
           string_split(pathq, '?')[1] AS path0,
           CASE WHEN len(string_split(pathq, '?')) >= 2
                THEN string_split(pathq, '?')[2] ELSE '' END AS query
         FROM c3),
         c5 AS (SELECT doc_id, scheme, host,
           CASE WHEN regexp_replace(path0, '/+$', '') = '' THEN '/'
                ELSE regexp_replace(path0, '/+$', '') END AS path,
           list_filter(string_split(query, '&'),
             p -> p NOT LIKE 'utm_%' AND p <> '') AS params
         FROM c4),
         c6 AS (SELECT doc_id,
           scheme || '://' || host || path ||
           CASE WHEN len(params) > 0
                THEN '?' || array_to_string(list_sort(params), '&')
                ELSE '' END AS canonical_url
         FROM c5)
         SELECT canonical_url, min(doc_id) AS keeper_doc_id,
           count(*) AS n_docs
         FROM c6 GROUP BY canonical_url ORDER BY canonical_url""",
    "q_dedup_ngram_jaccard" ->
      """WITH sh AS (
           SELECT doc_id, list_distinct(list_transform(
             range(1, greatest(length(text) - 2, 1) + 1),
             i -> substring(text, CAST(i AS INT), 3))) AS s
           FROM documents)
         SELECT a.doc_id,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jac
         FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
         ORDER BY a.doc_id""",
    // Same construction over gram STRINGS (the engine joins on 64-bit gram
    // hashes; equal strings always collide, unequal ones with p ~ 2^-64 —
    // the q_contamination equivalence argument). Parallel unnests zip the
    // position and gram lists; islands via the pos - row_number identity.
    // Literals: 18 = minRun - 2 (range stop = len - minRun + 2), 19 =
    // minRun - 1, for the catalog's minRun = 20.
    "q_dedup_substring" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') t
                       FROM documents WHERE text IS NOT NULL),
         gl AS (SELECT doc_id,
                  list_transform(range(1, greatest(len(t) - 18, 1)),
                                 i -> i - 1) AS poss,
                  list_transform(range(1, greatest(len(t) - 18, 1)),
                                 i -> array_to_string(list_slice(t, i, i + 19), ' ')) AS grams
                FROM toks),
         g AS (SELECT doc_id, unnest(poss) AS pos, unnest(grams) AS gram FROM gl),
         m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a,
                      a.pos - b.pos AS diag
               FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id),
         isl AS (SELECT doc_a, doc_b, diag, pos_a,
                   pos_a - row_number() OVER (PARTITION BY doc_a, doc_b, diag
                                              ORDER BY pos_a) AS island
                 FROM m),
         runs AS (SELECT doc_a, doc_b, diag, island,
                    count(*) + 19 AS run_tokens
                  FROM isl GROUP BY doc_a, doc_b, diag, island)
         SELECT doc_a, doc_b, CAST(max(run_tokens) AS BIGINT) AS max_run_tokens,
           count(*) AS n_runs
         FROM runs GROUP BY doc_a, doc_b ORDER BY doc_a, doc_b""",
    "q_split_hash" ->
      """SELECT split, count(*) AS n_docs,
         min(doc_id) AS min_id, max(doc_id) AS max_id
         FROM (SELECT doc_id,
           CASE WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':graft'), 1, 1)
                     IN ('c', 'd') THEN 'val'
                WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':graft'), 1, 1)
                     IN ('e', 'f') THEN 'test'
                ELSE 'train' END AS split
           FROM documents) t
         GROUP BY split ORDER BY split""",
    "q_sim_topk_native" ->
      """SELECT q.vec_id AS query_id,
           CAST(row_number() OVER (PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                             CAST(c.embedding AS DOUBLE[])) DESC,
                      c.vec_id ASC) AS INT) AS rnk,
           c.vec_id AS neighbor_id
         FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
         WHERE q.vec_id < 20
         QUALIFY rnk <= 5
         ORDER BY query_id, rnk""",
    "q_sim_topk_hof" ->
      """SELECT q.vec_id AS query_id,
           CAST(row_number() OVER (PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                             CAST(c.embedding AS DOUBLE[])) DESC,
                      c.vec_id ASC) AS INT) AS rnk,
           c.vec_id AS neighbor_id
         FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
         WHERE q.vec_id >= 20 AND q.vec_id < 40
         QUALIFY rnk <= 5
         ORDER BY query_id, rnk""",
    // Blocking oracle for the prefix-filtered join: tau > 0 implies any
    // qualifying pair shares >= 1 token, so candidates = pairs sharing ANY
    // token (lossless, cheaper than all-pairs), then exact Jaccard. The
    // engine's prefix filter is a strict subset of this candidate set with
    // identical survivors. jac is a ratio of ints — deterministic IEEE
    // division, bit-identical across engines, no rounding needed.
    "q_sim_set_join" ->
      """WITH raw AS (SELECT doc_id, string_split(text, ' ') AS t
                      FROM documents WHERE text IS NOT NULL),
         toks AS (
           SELECT doc_id, list_distinct(list_transform(
             range(1, greatest(len(t) - 2, 1) + 1),
             i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS g
           FROM raw),
         tok AS (SELECT doc_id, unnest(g) AS tok FROM toks),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM tok a JOIN tok b
                    ON a.tok = b.tok AND a.doc_id < b.doc_id)
         SELECT c.id_a, c.id_b,
           CAST(len(list_intersect(ta.g, tb.g)) AS DOUBLE)
             / (len(ta.g) + len(tb.g) - len(list_intersect(ta.g, tb.g))) AS jac
         FROM cand c
         JOIN toks ta ON ta.doc_id = c.id_a
         JOIN toks tb ON tb.doc_id = c.id_b
         WHERE CAST(len(list_intersect(ta.g, tb.g)) AS DOUBLE)
             / (len(ta.g) + len(tb.g) - len(list_intersect(ta.g, tb.g))) >= 0.75
         ORDER BY id_a, id_b""",
    // Brute blocking replay over gram strings: any pair with inter >= 1
    // shares a gram, so the shared-gram join is a complete candidate set
    // — independent of the Spark side's prefix filter.
    "q_sim_containment_join" ->
      """WITH d AS (SELECT doc_id, text FROM documents
                    WHERE text IS NOT NULL),
         p AS (SELECT doc_id AS pid,
                 array_to_string(list_slice(string_split(text, ' '), 1, 20),
                   ' ') AS ptext
               FROM d WHERE doc_id % 10 = 0),
         pg AS MATERIALIZED (
           SELECT pid, list_distinct(list_transform(
             range(1, greatest(len(t) - 2, 1) + 1),
             i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS g
           FROM (SELECT pid, string_split(ptext, ' ') AS t FROM p) q),
         cg AS MATERIALIZED (
           SELECT doc_id, list_distinct(list_transform(
             range(1, greatest(len(t) - 2, 1) + 1),
             i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS g
           FROM (SELECT doc_id, string_split(text, ' ') AS t FROM d) q),
         ptok AS (SELECT pid, unnest(g) AS tok FROM pg),
         ctok AS (SELECT doc_id, unnest(g) AS tok FROM cg),
         cand AS (SELECT DISTINCT pid, doc_id FROM ptok JOIN ctok USING (tok)),
         v AS (SELECT c.pid, c.doc_id,
                 CAST(len(list_intersect(pg.g, cg.g)) AS INT) AS inter,
                 CAST(len(pg.g) AS INT) AS n_probe
               FROM cand c JOIN pg USING (pid) JOIN cg USING (doc_id))
         SELECT pid AS probe_doc, doc_id, n_probe, inter,
           CAST(CAST(inter AS BIGINT) * 1000000 // n_probe AS BIGINT)
             AS cont_ppm
         FROM v WHERE inter * 2 >= n_probe
         ORDER BY probe_doc, doc_id""",
    "q_sim_threshold_pairs" ->
      """SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b
         FROM embeddings a JOIN embeddings b
           ON a.label = b.label AND a.vec_id < b.vec_id
         WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])) > 0.35
         ORDER BY a.label, id_a, id_b""",
    "q_sim_clusters" ->
      """WITH RECURSIVE pairs AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b
           FROM embeddings a JOIN embeddings b
             ON a.label = b.label AND a.vec_id < b.vec_id
           WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])) > 0.35),
         edges AS (
           SELECT id_a AS src, id_b AS dst FROM pairs
           UNION ALL SELECT id_b, id_a FROM pairs),
         reach(id, lbl) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id)
         SELECT id AS vec_id, min(lbl) AS component
         FROM reach GROUP BY id ORDER BY vec_id""",
    "q_dedup_embedding" ->
      """WITH RECURSIVE pairs AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b
           FROM embeddings a JOIN embeddings b
             ON a.label = b.label AND a.vec_id < b.vec_id
           WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])) > 0.35),
         edges AS (
           SELECT id_a AS src, id_b AS dst FROM pairs
           UNION ALL SELECT id_b, id_a FROM pairs),
         reach(id, lbl) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
         comp AS (
           SELECT id, min(lbl) AS component FROM reach GROUP BY id)
         SELECT e.vec_id,
           coalesce(c.component, e.vec_id) AS keep_id,
           coalesce(c.component, e.vec_id) = e.vec_id AS kept
         FROM embeddings e LEFT JOIN comp c ON c.id = e.vec_id
         ORDER BY e.vec_id""",
    "q_sample_stratified" ->
      """SELECT label, count(*) AS n_sampled
         FROM embeddings
         WHERE CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR) || ':graft-sample'), 1, 4)) AS INT) / 65536.0
               < (CASE WHEN label = 0 THEN 0.75
                       WHEN label = 1 THEN 0.25
                       ELSE 0.5 END)
         GROUP BY label ORDER BY label""",
    "q_mix_domains" ->
      """WITH u AS (SELECT lang, CAST(sum(n_chars) AS DOUBLE) AS du
                    FROM documents GROUP BY lang),
         t AS (SELECT CAST(sum(n_chars) AS DOUBLE) AS tu FROM documents),
         w(lang, wt) AS (VALUES
           ('de', CAST(0.25 AS DOUBLE)), ('en', CAST(0.25 AS DOUBLE)),
           ('es', CAST(0.20 AS DOUBLE)), ('fr', CAST(0.20 AS DOUBLE)),
           ('zh', CAST(0.10 AS DOUBLE))),
         r AS (SELECT d.doc_id, d.lang, d.n_chars,
                 least(w.wt * t.tu / u.du, 16.0) AS rr,
                 CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR) || ':graft-mix'), 1, 4) AS INT)
                   / 65536.0 AS h
               FROM documents d JOIN u USING (lang) JOIN w USING (lang) CROSS JOIN t),
         n AS (SELECT lang, doc_id, n_chars,
                 CAST(floor(rr) AS BIGINT)
                   + CASE WHEN h < rr - floor(rr) THEN 1 ELSE 0 END AS n_copies
               FROM r)
         SELECT lang,
           count(DISTINCT doc_id) FILTER (WHERE n_copies > 0) AS n_docs,
           CAST(sum(n_copies) AS BIGINT) AS n_rows_out,
           CAST(sum(n_copies * n_chars) AS BIGINT) AS units_out,
           CAST(max(n_copies) AS INT) AS max_epoch
         FROM n GROUP BY lang HAVING sum(n_copies) > 0 ORDER BY lang""",
    // The temperature rule replayed: sqrt + micro-unit floor quantization,
    // exact integer normalizing sums, association mirrored term by term.
    "q_mix_temperature" ->
      """WITH u AS (SELECT lang, sum(n_chars) AS du FROM documents GROUP BY lang),
         s AS (SELECT lang, du,
                 CAST(floor(sqrt(CAST(du AS DOUBLE)) * 1000000.0) AS BIGINT) AS sw
               FROM u),
         t AS (SELECT sum(sw) AS sum_sw, sum(du) AS total FROM s),
         r AS (SELECT d.doc_id, d.lang, d.n_chars,
                 least(CAST(s.sw AS DOUBLE) / CAST(t.sum_sw AS DOUBLE)
                         * CAST(t.total AS DOUBLE) / CAST(s.du AS DOUBLE),
                       16.0) AS rr,
                 CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR) || ':graft-mix-temp'), 1, 4) AS INT)
                   / 65536.0 AS h
               FROM documents d JOIN s USING (lang) CROSS JOIN t),
         n AS (SELECT lang, doc_id, n_chars,
                 CAST(floor(rr) AS BIGINT)
                   + CASE WHEN h < rr - floor(rr) THEN 1 ELSE 0 END AS n_copies
               FROM r)
         SELECT lang,
           count(DISTINCT doc_id) FILTER (WHERE n_copies > 0) AS n_docs,
           CAST(sum(n_copies) AS BIGINT) AS n_rows_out,
           CAST(sum(n_copies * n_chars) AS BIGINT) AS units_out,
           CAST(max(n_copies) AS INT) AS max_epoch
         FROM n GROUP BY lang HAVING sum(n_copies) > 0 ORDER BY lang""",
    "q_curate_pipeline" ->
      """WITH f AS (SELECT doc_id, text, lang, n_chars,
           len(string_split(text, ' ')) AS words,
           len(list_distinct(string_split(text, ' '))) AS uniq_words
         FROM documents),
         kept AS (SELECT * FROM f
           WHERE NOT (n_chars < 100) AND NOT (words < 20)
             AND NOT (uniq_words * 3 < words) AND NOT (words > 90)),
         ded AS (SELECT doc_id, lang, n_chars, words FROM (
             SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
             FROM kept) t
           WHERE doc_id = keep_id),
         u AS (SELECT lang, CAST(sum(n_chars) AS DOUBLE) AS du
               FROM ded GROUP BY lang),
         tt AS (SELECT CAST(sum(n_chars) AS DOUBLE) AS tu FROM ded),
         w(lang, wt) AS (VALUES
           ('de', CAST(0.25 AS DOUBLE)), ('en', CAST(0.25 AS DOUBLE)),
           ('es', CAST(0.20 AS DOUBLE)), ('fr', CAST(0.20 AS DOUBLE)),
           ('zh', CAST(0.10 AS DOUBLE))),
         r AS (SELECT d.doc_id, d.words,
                 least(w.wt * tt.tu / u.du, 16.0) AS rr,
                 CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR) || ':graft-mix'), 1, 4) AS INT)
                   / 65536.0 AS h
               FROM ded d JOIN u USING (lang) JOIN w USING (lang) CROSS JOIN tt),
         n AS (SELECT doc_id, words,
                 CAST(floor(rr) AS BIGINT)
                   + CASE WHEN h < rr - floor(rr) THEN 1 ELSE 0 END AS n_copies
               FROM r),
         x AS (SELECT doc_id, words,
                 CAST(unnest(generate_series(1, n_copies)) AS INT) AS copy_idx
               FROM n),
         p AS (SELECT *, (doc_id + copy_idx) % 8 AS shard FROM x),
         c AS (SELECT *, coalesce(sum(words) OVER (PARTITION BY shard
                 ORDER BY doc_id, copy_idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
               FROM p)
         SELECT shard, CAST(floor(cum / 2048.0) AS BIGINT) AS pack_id,
           count(*) AS n_rows, count(DISTINCT doc_id) AS n_docs,
           CAST(sum(words) AS BIGINT) AS n_tokens
         FROM c GROUP BY shard, pack_id ORDER BY shard, pack_id""",
    // Postings-join replay, not all-pairs list_intersect: shingles are
    // distinct within a doc, so count(*) per (train, eval) pair over the
    // gram-equality join IS |intersection| — algebraically identical, but
    // the old sh-x-sh form enumerated |train| x |eval| pairs (2.5e9 at
    // sf10 — unfinishable) where this touches only pairs that share a
    // gram. Exactness note: the Spark side's maxShingleDf hot-gram cap
    // is inactive on these corpora (measured max df 28 at sf10 vs the
    // 100k cap), so no capped-vs-uncapped divergence can occur.
    "q_contamination" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
         sh AS (SELECT doc_id, list_distinct(list_transform(
                  range(1, greatest(len(t) - ${ContamShingleN - 1}, 1) + 1),
                  i -> array_to_string(
                    list_slice(t, i, i + ${ContamShingleN - 1}), ' '))) s
                FROM toks),
         posts AS (SELECT doc_id, unnest(s) AS g FROM sh)
         SELECT t.doc_id, e.doc_id AS eval_id,
           CAST(count(*) AS BIGINT) AS overlap
         FROM posts t JOIN posts e
           ON t.g = e.g AND t.doc_id % 100 <> 0 AND e.doc_id % 100 = 0
         GROUP BY t.doc_id, e.doc_id
         HAVING count(*) >= $ContamMinOverlap
         ORDER BY t.doc_id, eval_id""",
    // Step-for-step replay: same host synthesis, same last-3-label
    // registered-domain slice, LEFT JOIN ... IS NULL as the anti form.
    "q_filter_blocklist" ->
      s"""WITH d AS (SELECT doc_id,
           (CASE WHEN doc_id % 7 = 0 THEN 'cdn.'
                 WHEN doc_id % 7 = 1 THEN 'www.' ELSE '' END)
             || source || '.example.com' AS host
         FROM documents),
         r AS (SELECT doc_id,
           array_to_string(string_split(host, '.')[-3:], '.')
             AS registered_domain FROM d),
         bl AS (SELECT * FROM (VALUES
           ${BlockedDomains.map(b => s"('$b')").mkString(", ")})
           AS t(blocked_domain))
         SELECT r.registered_domain, count(*) AS n_docs,
           min(r.doc_id) AS min_doc_id
         FROM r LEFT JOIN bl ON r.registered_domain = bl.blocked_domain
         WHERE bl.blocked_domain IS NULL
         GROUP BY 1 ORDER BY 1""",
    "q_sample_weighted" ->
      """WITH cnt AS (SELECT label, count(*) AS cnt FROM embeddings GROUP BY label),
         m AS (SELECT min(cnt) AS min_cnt FROM cnt),
         q AS (SELECT label, cnt,
                 CAST(floor(min_cnt * 1000000.0 / cnt) AS BIGINT) AS ppm
               FROM cnt CROSS JOIN m)
         SELECT e.label, count(*) AS n_kept, max(q.cnt) AS label_size
         FROM embeddings e JOIN q USING (label)
         WHERE (e.vec_id * 2654435761) % 1000000 < q.ppm
         GROUP BY e.label ORDER BY e.label""",
    // Replays the A-ES selection exactly: same md5-prefix uniform,
    // micro-nat ln quantization, exact-integer division, and (raw
    // priority, id) order before the LIMIT; rounding happens after.
    "q_sample_reservoir" ->
      """WITH s AS (SELECT doc_id, lang, n_chars,
             CAST(floor(-ln((CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)
                 || ':graft-es'), 1, 4) AS INT) + 1) / 65537.0) * 1e6 + 0.5)
               AS BIGINT) AS q
           FROM documents),
         p AS (SELECT doc_id, lang, n_chars,
             CAST(q AS DOUBLE) / n_chars AS pr FROM s),
         sel AS (SELECT * FROM p ORDER BY pr, doc_id LIMIT 200)
         SELECT doc_id, lang, n_chars,
           floor(pr * 1000000 + 0.5) / 1000000 AS priority
         FROM sel ORDER BY priority, doc_id""",
    // Step-for-step replay of the derandomized draw: same md5 prefix,
    // same 48-bit hex -> BIGINT, same mod / self-step rules.
    "q_sample_negatives" ->
      """WITH n AS (SELECT max(doc_id) + 1 AS n FROM documents),
         a AS (SELECT doc_id, unnest([0, 1, 2]) AS i FROM documents),
         h AS (SELECT a.doc_id, a.i,
             CAST(('0x' || substring(md5(CAST(a.doc_id AS VARCHAR)
               || ':neg:' || CAST(a.i AS VARCHAR)), 1, 12)) AS BIGINT)
               % n.n AS raw
           FROM a CROSS JOIN n),
         g AS (SELECT h.doc_id, h.i,
             CASE WHEN h.raw = h.doc_id THEN (h.raw + 1) % n.n
                  ELSE h.raw END AS neg_id
           FROM h CROSS JOIN n)
         SELECT g.doc_id, g.i, g.neg_id, d.source AS neg_source
         FROM g JOIN documents d ON d.doc_id = g.neg_id
         ORDER BY g.doc_id, g.i""",
    "q_global_index" ->
      """SELECT doc_id, lang,
           row_number() OVER (ORDER BY doc_id) - 1 AS global_idx,
           (row_number() OVER (ORDER BY doc_id) - 1) % 16 AS shard
         FROM documents ORDER BY doc_id"""
  )
}
