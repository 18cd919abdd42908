package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level audit of every forced `broadcast()` hint in main: a hint
  * ships the build side to EVERY executor, so each site must carry an
  * argument for why that table stays bounded as the corpus grows — the
  * round-11 verdict found two hints (the uncapped bigram model, the
  * user-dimension retention cohort) that were silent scale hazards
  * passing every correctness check. This spec turns the class into a
  * compile-time-adjacent check: adding a `broadcast(` call site fails
  * the suite until the site is allowlisted HERE with its bound, and a
  * removed site fails until its stale entry is dropped.
  *
  * Round 13 hardening (advisor): the match now also catches QUALIFIED
  * hints (`functions.broadcast(x)`, `sc.broadcast(x)` — only `def`
  * definitions are excluded), and each (file, ident) entry records its
  * exact SITE COUNT, so a second broadcast of an already-allowlisted
  * identifier in the same file can no longer hide behind the existing
  * entry.
  *
  * Bound classes, strongest first:
  *  - ONE_ROW     a single-row aggregate (count/min/total)
  *  - SCHEMA      enumerated domain: regions/nations/brands/labels/
  *                weeks/shards — cardinality fixed by the schema or the
  *                calendar, independent of row count
  *  - CAPPED      explicitly capped by construction (min-count cap,
  *                Misra-Gries k, df cap, top-k heap, fixed sample)
  *  - VOCAB       vocabulary-sized model table — grows ~log(corpus),
  *                the contract every LM scorer here shares
  *  - PROBE      caller-supplied probe/batch set, small by the API's
  *                contract (ANN query batches, incremental-dedup day
  *                batches); opt-outs documented where a caller may
  *                legitimately probe big
  *  - OUTPUT      bounded by the operator's own candidate/output set
  *                (near-dup candidate ids); the documented production
  *                fallback is a shuffle semi-join
  *  - ENTITY_DIM  an entity dimension (customers/products) — fits in
  *                the common case; the site documents the swap-to-
  *                shuffle story for when it does not
  */
class BroadcastAuditSpec extends AnyFunSuite {

  // (file, first-arg ident) -> (expected site count, bound argument)
  private val allow: Map[(String, String), (Int, String)] = Map(
    ("BloomDedup.scala", "candHashes") -> (2, "OUTPUT: distinct bloom-positive hashes = true-dup volume + the numBits-sized FP rate, 8 bytes each (seenBlocks + the r17 seenBlocksAgainst twin)"),
    ("BloomDedup.scala", "verified") -> (2, "OUTPUT: verified subset of candHashes (above; same bound at both sites)"),
    ("Contamination.scala", "index") -> (1, "CAPPED: df-capped benchmark gram index; broadcastIndex=false opt-out for big benchmarks"),
    ("Dedup.scala", "ids") -> (1, "OUTPUT: candidate-pair doc ids (near-dup volume, not corpus); production fallback = shuffle semi-join"),
    ("Dedup.scala", "newBanded") -> (1, "PROBE: incremental day-batch signatures; broadcastNew=false opt-out for large batches"),
    ("Events.scala", "maxts") -> (1, "ONE_ROW: max timestamp"),
    ("Events.scala", "horizon") -> (1, "ONE_ROW: survival observation-horizon date (administrative censoring anchor)"),
    ("Events.scala", "span") -> (1, "ONE_ROW: M4 time-span (t0, t1)"),
    ("Events.scala", "lags") -> (1, "LITERAL: the fixed 1..AcfMaxLag lag table (AcfMaxLag rows by definition)"),
    ("Events.scala", "tot") -> (2, "SCHEMA/ONE_ROW: per-event-type ACF series totals + the trigram-path grand total"),
    ("Relational.scala", "ra") -> (1, "SCHEMA: Cramers-V row marginals — one row per category of a schema-bounded column"),
    ("Relational.scala", "rb") -> (1, "SCHEMA: Cramers-V column marginals — one row per category of a schema-bounded column"),
    ("LlmOps.scala", "probes") -> (2, "CAPPED: RrfProbeN-row probe id panel (limit by construction; lexical + vector arms)"),
    ("LlmOps.scala", "pq") -> (2, "CAPPED: RrfProbeN x RrfQTerms probe query terms (bounded TopK; df + scoring sites)"),
    ("LlmOps.scala", "dfreq") -> (1, "CAPPED: document frequencies of the <= RrfProbeN x RrfQTerms probe terms"),
    ("LlmOps.scala", "stats") -> (1, "ONE_ROW: corpus (N, sum dl) BM25 normalizer"),
    ("Events.scala", "tots") -> (1, "SCHEMA: one row per event type (seasonality totals)"),
    ("Events.scala", "sizes") -> (1, "SCHEMA: one row per signup WEEK (calendar-bounded)"),
    ("HeavyHitters.scala", "candidates") -> (1, "CAPPED: Misra-Gries summary, <= k rows per partition merged"),
    ("BloomDedup.scala", "bytes") -> (1, "SKETCH: serialized bloom filter, numBits/8 bytes (4 MiB default) — corpus-size-independent artifact"),
    ("LlmOps.scala", "bytes") -> (1, "SKETCH: q_dedup_bloom's fitted filter broadcast — numBits/8 bytes, corpus-size-independent"),
    ("LlmOps.scala", "bl") -> (2, "LITERAL: curated domain blocklists (BlockedDomains + the v2 pipeline's DayBlockedDomains — fixed artifacts, never corpus-scale)"),
    ("LlmOps.scala", "seenHigh") -> (1, "OUTPUT: day docs above the content-seen threshold — high-overlap dup volume, never day-scale"),
    ("LlmOps.scala", "dupDrop") -> (1, "OUTPUT: verified near-dup drop ids — near-dup volume, never day-scale"),
    ("LlmOps.scala", "bounds") -> (1, "ONE_ROW: the v3 day's (lo, step) staging bounds"),
    ("LlmOps.scala", "refDf") -> (1, "SCHEMA: the fit-once KL reference — K+1 bucket rows by construction"),
    ("LlmOps.scala", "quarantined") -> (1, "ONE_ROW: the v3 argmax-drift quarantine pick (limit 1)"),
    ("LlmOps.scala", "tot") -> (1, "SCHEMA: v3 per-batch token totals — DefaultChunks rows by construction"),
    ("LlmOps.scala", "minCnt") -> (1, "ONE_ROW: min label count"),
    ("LlmOps.scala", "panel") -> (3, "CAPPED: KnnProbeN/RrfProbeN-row probe panels (bounded TakeOrdered by construction; kNN audit + SQ8 recall audit + RRF vector arm)"),
    ("LlmOps.scala", "mx") -> (1, "ONE_ROW: SQ8 global max-abs milli component (the quantizer scale fit)"),
    ("LlmOps.scala", "nRow") -> (1, "ONE_ROW: corpus max doc id + 1 (negative-draw modulus)"),
    ("LlmOps.scala", "quota") -> (1, "SCHEMA: one row per label"),
    ("Mixing.scala", "stats") -> (2, "SCHEMA: one row per mixture domain (joined twice: quota + deficit pass)"),
    ("PageRank.scala", "n1") -> (1, "ONE_ROW: vertex count (prepare, shared by fixedPoint and untilConverged)"),
    ("RangeJoin.scala", "offsets") -> (3, "SCHEMA: one row per shard / per (group, shard) (fixed shard count; sweep + overlap + concurrency sites)"),
    ("Relational.scala", "freq") -> (2, "SCHEMA: brand marginals (p_brand domain; lift numerator + denominator)"),
    ("Relational.scala", "n") -> (2, "SCHEMA: nation dimension (25 rows; two query sites)"),
    ("Relational.scala", "nb") -> (2, "ONE_ROW: basket count (support + confidence normalizers)"),
    ("Relational.scala", "r") -> (1, "SCHEMA: region dimension (5 rows)"),
    ("Relational.scala", "region") -> (1, "SCHEMA: region dimension (5 rows)"),
    ("Relational.scala", "tbl") -> (2, "ENTITY_DIM: part (p_partkey, p_brand) projections — product catalog (basket-rules + modularity attribution; the latter measured 28 s -> map-side at the sf10 rung); swap to shuffle joins past executor memory"),
    ("Relational.scala", "tot") -> (2, "ONE_ROW: grand totals (basket lift + Cramers-V n/r/c row)"),
    ("Relational.scala", "ntot") -> (1, "ONE_ROW: Benford base-row count"),
    ("Relational.scala", "rRow") -> (1, "ONE_ROW: the density-derived radius r = ceil(sqrt(bbox_area/n)) for the grid radius join"),
    ("Relational.scala", "erased") -> (1, "CAPPED: curated deletion list (GDPR subjects — corpus/97 on the synthetic fixture but a curated request queue in production; swap to a shuffle semi-join if a backlog ever outgrows executors)"),
    ("Relational.scala", "ref") -> (1, "SCHEMA: PSI reference bucket marginals, <= PsiBuckets rows by construction"),
    ("Relational.scala", "rtot") -> (1, "ONE_ROW: PSI reference grand total"),
    ("Relational.scala", "ptot") -> (1, "ONE_ROW: FK parent distinct count (referential audit)"),
    ("Relational.scala", "expTbl") -> (1, "LITERAL: Benford expected-distribution table (9 rows by definition)"),
    ("Similarity.scala", "probes") -> (2, "PROBE: ANN query batch (API contract: probe sets are small; coarse + fine stage)"),
    ("Similarity.scala", "q") -> (1, "PROBE: LSH query batch"),
    ("Similarity.scala", "queries") -> (2, "PROBE: brute-force/HOF query batch (native + HOF variants)"),
    ("Similarity.scala", "shortlist") -> (1, "PROBE: per-probe ADC shortlist, <= probes x shortlist-k rows"),
    ("StreamOps.scala", "cust") -> (1, "ENTITY_DIM: stream-static enrichment dim; per-batch shuffle join is the documented swap when the dim outgrows executors"),
    ("TextAnalysis.scala", "lm") -> (1, "VOCAB: unigram LM table (min-df floor documented in unigramNll)"),
    ("TextAnalysis.scala", "n") -> (1, "ONE_ROW: corpus doc count"),
    ("TextAnalysis.scala", "total") -> (1, "ONE_ROW: token total"),
    ("TextModels.scala", "docs") -> (1, "ONE_ROW: doc-count aggregate (inline .agg)"),
    ("TextModels.scala", "model") -> (1, "CAPPED: top-vocabTopK DSIR feature table, <= K rows by construction"),
    ("TextModels.scala", "modelAll") -> (1, "CAPPED: NB grid + per-class UNK rows, <= (K+1) x classes rows by construction"),
    ("TextModels.scala", "keptVocab") -> (1, "CAPPED: top-vocabTopK word list, <= K rows (OOV anti-join probe)"),
    ("TextModels.scala", "oovRow") -> (1, "ONE_ROW: DSIR zero-count UNK lambda"),
    ("TextModels.scala", "priors") -> (1, "SCHEMA: one row per class"),
    ("TextModels.scala", "totL") -> (2, "SCHEMA: one row per class (model grid + UNK term)"),
    ("TextModels.scala", "tots") -> (1, "SCHEMA: one row per feature-model side (2)"),
    ("TextModels.scala", "vSize") -> (3, "ONE_ROW: capped vocab size + 1 (NB grid, NB UNK term, DSIR grid)"),
    ("TextQueries.scala", "capped") -> (1, "CAPPED: min-count-capped bigram table (left marginal folded in), <= total-pairs/cap rows (plan-contracted build side)"),
    ("TextQueries.scala", "cbKept") -> (1, "CAPPED: top-VocabTopK unigram marginal, <= K rows by construction; pruned words score the UnigramFloorCount backoff"),
    ("TextQueries.scala", "tot") -> (4, "ONE_ROW: pair total / bigram-type total (PMI numerator + LM normalizer + KN continuation normalizer + collocation G2 grand total)"),
    ("TextQueries.scala", "vocab") -> (1, "VOCAB: distinct-token table (tf-idf df join)"),
    ("TextQueries.scala", "qt") -> (1, "LITERAL: the fixed BM25 query set (Bm25Queries — a few rows by definition)"),
    ("TextQueries.scala", "dfreq") -> (1, "CAPPED: document frequencies for the literal query-term set only, <= |distinct query terms| rows"),
    ("TextQueries.scala", "stats") -> (1, "ONE_ROW: (N, total doc length) aggregate"),
    ("TextQueries.scala", "kept") -> (1, "CAPPED: top-KlVocabTopK corpus terms, <= K rows by construction (bounded TakeOrdered)"),
    ("TextQueries.scala", "cb") -> (1, "CAPPED: corpus bucket marginals, <= KlVocabTopK+1 rows (kept terms + <oov>)"),
    ("TextQueries.scala", "tots") -> (1, "ENTITY_DIM: one row per ingest source/provider — bounded in the monitoring use case; swap to a shuffled equi-join if sources are open-web-domain-scale"),
    ("TextQueries.scala", "totc") -> (1, "ONE_ROW: corpus token total"),
    ("TextQueries.scala", "nd") -> (3, "ONE_ROW: doc-id max + 1 (Heaps bucket modulus; doc/token/vocab sites)"),
    ("TextQueries.scala", "nd2") -> (1, "ONE_ROW: corpus doc count (burstiness zero-inclusive mean)"),
    ("TextQueries.scala", "wordScore") -> (1, "VOCAB: RAKE word-score table (the tf-idf vocabulary contract)"),
    ("TextQueries.scala", "ids") -> (3, "CAPPED: TextRank top-VocabK word->node id table, <= TextRankVocabK rows by construction (two edge-build sites + the rank-to-word join)"),
    ("TextQueries.scala", "ltot") -> (1, "SCHEMA: one row per labeled language (confusion-matrix row totals)"),
    ("Triangles.scala", "deg") -> (2, "CAPPED: backbone degrees, <= k per vertex by the top-k backbone's construction (both wedge endpoints)"))

  test("every forced broadcast() hint site is allowlisted with a boundedness argument") {
    // (?<!\w) — NOT (?<![.\w]) — so qualified hints (functions.broadcast,
    // sc.broadcast) are audited too; (?<!def ) excludes definitions.
    val pat = java.util.regex.Pattern
      .compile("(?<!\\w)(?<!def )broadcast\\(\\s*([A-Za-z_][A-Za-z0-9_]*)")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val found: Map[(String, String), Int] =
      walk(new java.io.File("src/main/scala")).flatMap { f =>
        val noComments = new String(
            java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
          .linesIterator.map(_.replaceAll("//.*", "")).mkString("\n")
        val m = pat.matcher(noComments)
        Iterator.continually(m.find()).takeWhile(identity)
          .map(_ => (f.getName, m.group(1))).toList
      }.groupBy(identity).view.mapValues(_.size).toMap
    val unlisted = found.filter { case (k, n) => allow.get(k).forall(_._1 != n) }
    val stale = allow.filter { case (k, (n, _)) => !found.get(k).contains(n) }
    assert(unlisted.isEmpty,
      s"forced broadcast hint site(s) without a matching (count, bound) " +
        s"entry — update BroadcastAuditSpec.allow (site -> actual count): " +
        s"$unlisted")
    assert(stale.isEmpty,
      s"stale allowlist entries (hint removed, renamed, or count changed): " +
        s"${stale.map { case (k, (n, _)) => k -> n }}")
  }
}
