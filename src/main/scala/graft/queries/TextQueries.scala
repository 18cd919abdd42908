package graft.queries

import graft.ops.TextAnalysis
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.NfcNormalize.nfc_normalize

/** Text-analysis catalog queries over `documents`: quality stats, token
  * counting (whitespace + BPE-ish regex), language-ID heuristic, and
  * rolling-hash fingerprinting. All pure Column expressions.
  */
object TextQueries {

  /** The curation rule chain — ONE definition shared by `q_filter_funnel`
    * and `q_curate_pipeline` so a threshold tune cannot drift between the
    * report and the pipeline that applies it (their SQL oracles each embed
    * the same thresholds and must be edited together; integer arithmetic
    * only, so there is no float-boundary hazard to mirror). Expects
    * columns `n_chars`, `words`, `uniq_words`. */
  private[queries] val CurationRules: Seq[(String, org.apache.spark.sql.Column)] = Seq(
    "r1_too_short" -> (col("n_chars") < 100),
    "r2_too_few_tokens" -> (col("words") < 20),
    "r3_repetitive" -> (col("uniq_words") * 3 < col("words")),
    "r4_too_long" -> (col("words") > 90))

  /** Head/middle/tail NLL bucket thresholds for `q_text_perplexity` —
    * ONE definition interpolated into both the Spark query and the DuckDB
    * oracle text so a tune cannot drift between them. In production these
    * come from per-language approx percentiles of a corpus sample (the
    * CCNet recipe); fixed constants keep the catalog query deterministic.
    * The nll value compared against them is exact 6-decimal arithmetic on
    * both engines (see TextAnalysis.unigramNll), so the boundary
    * comparison is engine-portable. */
  private[queries] val PerplexityHeadMax = 3.40
  private[queries] val PerplexityMiddleMax = 3.41

  /** q_text_bigram_lm's model cap: bigrams seen fewer than this many
    * times are PRUNED from the broadcast model table and their pairs back
    * off to the unigram term alone. ONE definition interpolated into both
    * the Spark query and the DuckDB oracle so a tune cannot drift. The
    * cap is what makes the scoring join's build side bounded — the capped
    * table has at most Σ pair-occurrences / cap rows regardless of how
    * many distinct bigrams the corpus grows (billions on the open web);
    * in production the cap scales with corpus size to hold a fixed model
    * budget. 3 keeps the sf0.01 catalog corpus exercising BOTH branches
    * (most repeated bigrams survive; the singleton tail backs off). */
  private[graft] val BigramMinCount = 3

  /** q_text_collocations' evidence floor: bigrams seen fewer times are
    * not significance-tested (G² of a near-hapax is noise, and the floor
    * is what bounds the output at Σ pair-occurrences / floor rows).
    * Interpolated into both engines. */
  private[graft] val CollocMinPair = 5

  /** Catalog-scale vocabulary cap for every word-keyed model broadcast
    * (bigram-LM unigram marginal, NB grid, DSIR features): keep the
    * top-K words by count (ties: word asc — a bounded-heap TakeOrdered,
    * replayed exactly by the oracle's ORDER BY/LIMIT), score the rest
    * through an explicit OOV floor/UNK term. K bounds the broadcast
    * BY CONSTRUCTION — corpus-independent, unlike the pruned-count
    * bound Σc/cap or the "vocab ~ log corpus" folklore this replaces.
    * The synthetic corpus draws from 31 distinct words with no hapax
    * tail (a min-df floor would never bind there), so the catalog cap
    * sits at 24 to keep the OOV branch EXERCISED and hash-verified at
    * every test scale; production uses TextModels.DefaultVocabTopK. */
  private[graft] val VocabTopK = 24

  /** The OOV backoff count for pruned unigram-marginal words in
    * q_text_bigram_lm — the `unigramNll` missing-count floor
    * generalized: a word outside the kept vocabulary scores as if seen
    * this many times (1 = the singleton assumption, pessimistic but
    * always positive, so backed-off pairs keep p > 0 with no extra
    * smoothing mass). */
  private[graft] val UnigramFloorCount = 1L

  val defs: Map[String, Q] = Map(
    "q_text_stats" -> ((s, dir) => {
      val toks = TextAnalysis.tokens(col("text"))
      tbl(s, dir, "documents")
        .select(
          col("doc_id"),
          length(col("text")).as("n_chars"),
          size(toks).as("n_tokens"),
          // mean token length, deterministic: int sums then one division
          round(aggregate(transform(toks, t => length(t)), lit(0), (a, x) => a + x)
            .cast("double") / size(toks), 6).as("avg_token_len"),
          size(filter(toks, t => length(t) >= 6)).as("n_long_tokens"),
          (length(col("text")) - length(regexp_replace(col("text"), "[aeiou]", "")))
            .as("n_vowels"))
        .orderBy("doc_id")
    }),
    // Unicode text cleaning — the zeroth pass of every web-corpus
    // pipeline, run here with graft's native codegen'd `nfc_normalize`
    // Expression (Spark has NO built-in Unicode normalizer; the usual
    // Scala-UDF fallback pays a serialization boundary per row — the
    // native kernel stays inside whole-stage codegen and skips
    // re-encoding on already-NFC rows via the JDK quick-check). The
    // corpus text is ASCII-clean by construction, so noise is SYNTHESIZED
    // deterministically per doc_id: decomposed combining sequences (NFC
    // must compose them), control characters (BEL/BS must strip), and
    // tab/space runs (must collapse). Chain: NFC → strip \p{Cc} →
    // collapse \s+ → trim; emitted as length deltas + an md5 of the
    // cleaned text, so ONE wrong byte anywhere hash-mismatches. Entirely
    // map-side — no shuffle at any scale.
    "q_text_normalize" -> ((s, dir) => {
      val noisy = concat(
        when(col("doc_id") % 4 === 0, lit("\u0007")).otherwise(lit("")),
        col("text"),
        when(col("doc_id") % 3 === 0, lit(" cafe\u0301")).otherwise(lit("")),
        when(col("doc_id") % 3 === 1, lit(" A\u030Angstro\u0308m"))
          .otherwise(lit("")),
        when(col("doc_id") % 2 === 0, lit("\t  trailing\u0008junk "))
          .otherwise(lit("")))
      tbl(s, dir, "documents")
        .select(col("doc_id"), noisy.as("raw"))
        .withColumn("clean", trim(regexp_replace(regexp_replace(
          nfc_normalize(col("raw")), "\\p{Cc}", ""), "\\s+", " ")))
        .select(col("doc_id"), length(col("raw")).as("n_raw"),
          length(col("clean")).as("n_clean"),
          md5(col("clean").cast("binary")).as("clean_md5"))
        .orderBy("doc_id")
    }),
    "q_text_tokens" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(
          col("doc_id"),
          size(split(col("text"), " ")).as("ws_tokens"),
          size(expr(s"regexp_extract_all(text, '${TextAnalysis.bpeishPattern}', 0)"))
            .as("bpeish_tokens"))
        .orderBy("doc_id")),
    "q_text_lang_id" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"), col("lang"), TextAnalysis.langId(col("text")).as("pred_lang"))
        .orderBy("doc_id")),
    // Language-ID classifier audit: confusion matrix of labeled vs
    // predicted language + per-true-language row shares — the
    // label-noise screen for the heuristic the curation tier routes on
    // (q_text_quality_by_lang, the mixing quotas). Cells are
    // schema-bounded (|langs|²); exact integer ppm.
    "q_text_langid_eval" -> ((s, dir) => {
      val pred = tbl(s, dir, "documents")
        .select(col("lang"), TextAnalysis.langId(col("text")).as("pred_lang"))
      val cells = pred.groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
      val ltot = cells.groupBy("lang").agg(sum("n").as("t"))
      cells.join(broadcast(ltot), "lang")
        .select(col("lang"), col("pred_lang"), col("n"),
          expr("n * 1000000 div t").as("row_ppm"),
          when(col("lang") === col("pred_lang"), 1).otherwise(0)
            .as("is_correct"))
        .orderBy("lang", "pred_lang")
    }),
    "q_text_fingerprint" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),
    // Fuzzy matching: edit distance between consecutive docs' prefixes
    // (bounded to 30 chars — levenshtein is O(n*m) per pair).
    "q_text_levenshtein" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      val a = d.select(col("doc_id"), substring(col("text"), 1, 30).as("pfx_a"))
      val b = d.select((col("doc_id") - 1).as("doc_id"), substring(col("text"), 1, 30).as("pfx_b"))
      a.join(b, "doc_id")
        .select(col("doc_id"), levenshtein(col("pfx_a"), col("pfx_b")).as("edit_dist"))
        .orderBy("doc_id")
    }),
    // Top-3 terms per document by tf-idf (tokenize -> tf/df -> idf join ->
    // per-doc top-k window; see TextAnalysis.tfidfTopTerms for the shape).
    "q_text_tfidf" -> ((s, dir) =>
      TextAnalysis.tfidfTopTerms(tbl(s, dir, "documents"), "doc_id", "text", 3)
        .orderBy("doc_id", "rnk")),
    // Corpus-level quality rollup by language.
    "q_text_quality_by_lang" -> ((s, dir) => {
      val toks = TextAnalysis.tokens(col("text"))
      tbl(s, dir, "documents")
        .select(col("lang"), length(col("text")).as("nc"), size(toks).as("nt"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("nc").as("total_chars"),
          round(sum("nc").cast("double") / sum("nt"), 6).as("chars_per_token"))
        .orderBy("lang")
    }),
    // Curation drop funnel (ops.Quality.funnel): every document attributed
    // to the FIRST rule it fails, or "kept" — the per-filter cost report a
    // corpus-curation run publishes. One map-only codegen'd when-chain +
    // a 5-group aggregate; rules are integer arithmetic only, so the
    // verdict is engine-portable with no float-boundary hazard.
    "q_filter_funnel" -> ((s, dir) => {
      val toks = TextAnalysis.tokens(col("text"))
      graft.ops.Quality.funnel(
          tbl(s, dir, "documents")
            .select(col("doc_id"), col("n_chars"), size(toks).as("words"),
              size(array_distinct(toks)).as("uniq_words")),
          CurationRules)
        .groupBy("verdict")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
        .orderBy("verdict")
    }),
    // RAG-prep document chunking (TextAnalysis.chunkDocs): 64-token
    // windows every 48 tokens (16-token overlap), map-side explode only.
    // The manifest aggregates per doc; chunk_text integrity rides the
    // hash via the first chunk's text and total chunk-token mass.
    "q_text_chunks" -> ((s, dir) =>
      graft.ops.TextAnalysis.chunkDocs(
          tbl(s, dir, "documents"), "doc_id", "text", window = 64, stride = 48)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum("n_tok").as("chunk_tok_mass"),
          min(when(col("chunk_idx") === 0, col("chunk_text"))).as("first_chunk"))
        .orderBy("doc_id")),
    // Sequence packing for context windows: assign docs to fixed-budget
    // token packs by cumulative token count within deterministic shards.
    // The shard (doc_id % 8) is the scale unit — each shard's running sum
    // is an independent window, so packing 100 TB is shards-many balanced
    // window partitions, never one global cumsum. A doc may straddle its
    // pack boundary (standard cumsum binning — exact greedy packing is
    // inherently sequential).
    "q_pack_sequences" -> ((s, dir) => {
      val budget = 2048
      val w = Window.partitionBy("shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      tbl(s, dir, "documents")
        .select(col("doc_id"), (col("doc_id") % 8).as("shard"),
          size(TextAnalysis.tokens(col("text"))).as("n_tok"))
        .withColumn("cum_before", coalesce(sum("n_tok").over(w), lit(0L)))
        .withColumn("pack_id", floor(col("cum_before") / (budget * 1.0)))
        .groupBy("shard", "pack_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
        .orderBy("shard", "pack_id")
    }),
    // Unigram-LM pseudo-perplexity scoring + CCNet-style head/middle/tail
    // bucketing (TextAnalysis.unigramNll): LM = one hash agg over the
    // exploded token stream, scoring = broadcast-LM join, per-token NLL
    // quantized to integer micro-nats so aggregation is exact long math.
    "q_text_perplexity" -> ((s, dir) =>
      TextAnalysis.unigramNll(tbl(s, dir, "documents"), "doc_id", "text")
        .withColumn("bucket",
          when(col("nll") < PerplexityHeadMax, "head")
            .when(col("nll") < PerplexityMiddleMax, "middle")
            .otherwise("tail"))
        .orderBy("doc_id")),
    // Repetition scoring (corpus-curation quality filter): fraction of
    // trigram occurrences that repeat an already-seen trigram. Map-only.
    "q_text_repetition" -> ((s, dir) => {
      val (total, uniq, ratio) = TextAnalysis.repetition(col("text"), 3)
      tbl(s, dir, "documents")
        .select(col("doc_id"), total.as("n_shingles"), uniq.as("n_uniq"),
          ratio.as("rep_ratio"))
        .orderBy("doc_id")
    }),
    // BPE pair statistics (ops.Bpe): the per-round kernel of tokenizer
    // induction as one catalog query — adjacent character-pair counts
    // over the word-frequency table (the vocab-sized compressed
    // intermediate; the corpus's trillions of running words collapse into
    // it via one map-side-combined agg). Fully oracled.
    "q_bpe_pairs" -> ((s, dir) => {
      val words = graft.ops.Bpe.wordFreqs(tbl(s, dir, "documents"), "text")
        .filter(length(col("word")) >= 2)
      words
        .select(col("word"), col("freq"), explode(
          transform(sequence(lit(1), length(col("word")) - 1),
            i => col("word").substr(i, lit(2)))).as("pair"))
        .groupBy("pair")
        .agg(countDistinct("word").as("n_words"),
          sum("freq").as("n_occurrences"))
        .orderBy(desc("n_occurrences"), asc("pair"))
    }),
    // Full BPE training loop (ops.Bpe.trainBatched): count-pairs ->
    // provably-safe batched argmax -> apply-merges over the vocab-sized
    // symbol table; the result is the rank-ordered merge table (the
    // tokenizer model a pipeline persists), merge-for-merge identical to
    // the 1-per-round sequence (BpeSpec) but in ~nMerges/batch scheduler
    // round-trips. The DuckDB oracle RECOMPUTES the whole merge sequence
    // independently — per-round CTEs replay each state via delimiter-
    // guarded string replace and re-derive each round's arg-max winner,
    // so any divergence at any round hash-mismatches.
    "q_bpe_train" -> ((s, dir) =>
      graft.ops.Bpe.mergeTable(s,
        graft.ops.Bpe.trainBatched(tbl(s, dir, "documents"), "text", BpeMerges))),
    // Tokenizer APPLY at corpus scale: train the merge rules, tokenize
    // the VOCAB once (merge chains run over distinct words, never running
    // words), then broadcast-join the corpus's exploded words against the
    // vocab-sized (word -> token count) table — the shape that tokenizes
    // 10^12 running words with 10^7 merge-chain evaluations. Oracled by
    // the same static replay SQL family as q_bpe_train.
    "q_bpe_apply" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      // APPLY consumes the merges as a fitted tokenizer model artifact
      // (bpeMergesFor); q_bpe_train deliberately keeps refitting
      val merges = bpeMergesFor(s, dir,
        () => graft.ops.Bpe.trainBatched(docs, "text", BpeMerges))
      val vocab = graft.ops.Bpe.tokenizeVocab(docs, "text", merges)
      docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) >= 1)
        .join(broadcast(vocab), "word")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"), sum("word_tokens").as("n_tokens"))
        .orderBy("doc_id")
    }),
    // Inverted index (posting-list construction): term -> document
    // frequency, collection frequency, and a bounded posting sample (the
    // 10 smallest doc ids — the driver-visible digest; production writes
    // full posting lists to a term-partitioned sink instead of returning
    // them). df/cf are plain counts (constant per-key state, map-side
    // combined); the sample is bounded BEFORE any per-term aggregation
    // buffer exists: distinct (term, doc_id) pairs -> TopK.perGroup's
    // bounded-heap prune (k=10 smallest ids per term per input partition)
    // -> a collect_list over at most 10 survivor rows per term. The old
    // shape — collect_set(doc_id) then slice — buffered every doc id
    // containing the term in ONE aggregation buffer, which for a stopword
    // at 100 TB is a corpus-sized per-key OOM; here no buffer anywhere
    // exceeds 10 ids. The sample aggregate reuses the prune window's
    // term partitioning (no extra exchange), and the counts join is
    // vocab-sized on both sides.
    "q_text_inverted_index" -> ((s, dir) => {
      val terms = tbl(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .filter(length(col("term")) >= 1)
      val counts = terms.groupBy("term")
        .agg(countDistinct("doc_id").as("df"), count(lit(1)).as("cf"))
      val sample = graft.ops.TopK.perGroup(
          terms.distinct(), Seq("term"), Seq(("doc_id", true)),
          k = 10, rankCol = "sample_rn")
        .groupBy("term")
        .agg(array_join(sort_array(collect_list(col("doc_id"))), ",")
          .as("posting_sample"))
      counts.join(sample, "term").orderBy("term")
    }),
    // Corpus-wide duplicated-text rate per document (the Gopher/MassiveText
    // "duplicate n-gram fraction" quality signal, Rae et al. 2021): the
    // share of each doc's distinct 8-gram shingles that also occur in at
    // least one OTHER document. Same engine shape as q_contamination: the
    // codegen'd TokenShingleHashes kernel emits per-doc-distinct 64-bit
    // gram hashes (8-byte shuffle keys, never ~50-byte gram strings, and
    // the narrow map recomputes per consumer instead of caching an
    // exploded frame larger than the corpus), document frequency is one
    // constant-buffer aggregate, and the mark-and-count join shuffles on
    // the gram hash both sides. The DuckDB oracle computes over gram
    // STRINGS — hash counts equal string counts except with p ≈ n²/2^65
    // (the q_contamination equivalence argument). dup_pct uses integer
    // `div`, not floor(double division): a true quotient just below an
    // integer can round UP under IEEE division and flip floor().
    "q_text_dup_ngrams" -> ((s, dir) => {
      import org.apache.spark.sql.graft.TokenShingleHashes.token_shingle_hashes
      val grams = tbl(s, dir, "documents")
        .where(col("text").isNotNull)
        .select(col("doc_id"),
          explode(token_shingle_hashes(col("text"), 8)).as("h"))
      val dfreq = grams.groupBy("h").agg(count(lit(1)).as("df"))
      grams.join(dfreq, "h")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          count(when(col("df") >= 2, lit(1))).as("n_dup"))
        .withColumn("dup_pct", expr("n_dup * 100 div n_grams"))
        .orderBy("doc_id")
    }),
    // Collocation mining via pointwise mutual information over adjacent
    // word pairs: PMI = ln(c_ab·N / (c_a·c_b)) with left/right marginals,
    // quantized to integer micro-nats (the q_text_perplexity move) so the
    // emitted value is exact long math on both engines. The corpus-scale
    // pair stream is aggregated ONCE (`cab`, map-side combined); the
    // marginals are exactly derivable from it (n_left = Σ_w2 n_pair,
    // n_right = Σ_w1 n_pair, n_tot = Σ n_pair — every pair occurrence is
    // counted exactly once in each), so `ca`/`cb`/`tot` re-aggregate the
    // DISTINCT-PAIR table, never the corpus: one documents scan (the
    // other three references reuse cab's shuffle via ReuseExchange —
    // plan-asserted in PlanContractSpec), and the marginal joins shuffle
    // vocab²-bounded rows instead of the raw pair stream, which also
    // shrinks the Zipf-hub keys ("the" as w1) from corpus-frequency to
    // distinct-successor counts — the compress-then-compute move
    // Bpe.wordFreqs makes.
    "q_text_pmi" -> ((s, dir) => {
      // pair stream via the native codegen'd kernel (r16): the HOF
      // transform-lambda shape was CodegenFallback per element — see
      // TokenPairs scaladoc for the measured cost and the equivalence
      val prs = tbl(s, dir, "documents")
        .select(explode(org.apache.spark.sql.graft.TokenPairs
          .token_pairs(col("text"))).as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
        // semantic no-op (split() never yields null elements) that makes
        // the join-inferred isnotnull constraints explicit and IDENTICAL
        // in every branch: without it, Catalyst pushes a different null
        // filter into each cab reference (w1-only under the ca join,
        // w2-only under cb, none under tot), the four subtrees stop
        // canonicalizing equal, and AQE's stage reuse cannot collapse
        // them — 4 corpus scans instead of 1
        .filter(col("w1").isNotNull && col("w2").isNotNull)
      val cab = prs.groupBy("w1", "w2").agg(count(lit(1)).as("n_pair"))
      val ca = cab.groupBy("w1").agg(sum("n_pair").as("n_left"))
      val cb = cab.groupBy("w2").agg(sum("n_pair").as("n_right"))
      val tot = cab.agg(sum("n_pair").as("n_tot"))
      cab.join(ca, "w1").join(cb, "w2").crossJoin(broadcast(tot))
        .filter(col("n_pair") >= 5)
        .withColumn("pmi_micro",
          floor(log((col("n_pair").cast("double") * col("n_tot"))
            / (col("n_left").cast("double") * col("n_right"))) * 1e6 + 0.5d)
            .cast("long"))
        .select(col("w1"), col("w2"), col("n_pair"), col("pmi_micro"))
        .orderBy(desc("pmi_micro"), asc("w1"), asc("w2"))
    }),
    // Collocation significance via Dunning's log-likelihood ratio G²
    // ("Accurate Methods for the Statistics of Surprise and Coincidence",
    // Computational Linguistics 1993) — the significance-tested upgrade
    // over q_text_pmi: PMI over-ranks rare pairs (two hapaxes that
    // co-occur once score maximal PMI), while G² weighs the evidence
    // MASS, which is what you want before promoting a bigram to a
    // tokenizer merge or a phrase-level dedup shingle. Same one-pass
    // pair-stream shape as PMI (cab, then marginals re-aggregated from
    // the compressed pair table; one corpus scan via ReuseExchange);
    // G² = 2·Σ xlx over the 2×2 contingency computed per row from 9
    // exact-long counts — the only FP is ln (the validated tf-idf
    // class), quantized to micro before emission. Like PMI, the n_pair
    // floor is the row cap: output ≤ Σc/floor rows, never vocab².
    "q_text_collocations" -> ((s, dir) => {
      // native pair kernel (r16) — same swap as q_text_pmi
      val prs = tbl(s, dir, "documents")
        .select(explode(org.apache.spark.sql.graft.TokenPairs
          .token_pairs(col("text"))).as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .filter(col("w1").isNotNull && col("w2").isNotNull)
      val cab = prs.groupBy("w1", "w2").agg(count(lit(1)).as("k11"))
      val ca = cab.groupBy("w1").agg(sum("k11").as("ra"))
      val cb = cab.groupBy("w2").agg(sum("k11").as("cb"))
      val tot = cab.agg(sum("k11").as("nn"))
      def xlx(c: org.apache.spark.sql.Column) =
        when(c > 0L, c.cast("double") * log(c.cast("double")))
          .otherwise(lit(0.0d))
      cab.join(ca, "w1").join(cb, "w2").crossJoin(broadcast(tot))
        .filter(col("k11") >= CollocMinPair)
        .withColumn("k12", col("ra") - col("k11"))
        .withColumn("k21", col("cb") - col("k11"))
        .withColumn("k22", col("nn") - col("ra") - col("cb") + col("k11"))
        .withColumn("g2_micro", floor((lit(2.0d) *
          (xlx(col("k11")) + xlx(col("k12")) + xlx(col("k21"))
            + xlx(col("k22"))
            - xlx(col("ra")) - xlx(col("nn") - col("ra"))
            - xlx(col("cb")) - xlx(col("nn") - col("cb"))
            + xlx(col("nn")))) * 1000000d + 0.5d).cast("long"))
        .select(col("w1"), col("w2"), col("k11").as("n_pair"),
          col("g2_micro"))
        .orderBy(desc("g2_micro"), asc("w1"), asc("w2"))
    }),
    // Interpolated BIGRAM-LM pseudo-perplexity — the upgrade tier over
    // q_text_perplexity's unigram score (a bigram LM separates fluent
    // word ORDER from mere in-vocabulary word choice, which is what
    // separates templated spam from prose):
    //   p(w2|w1) = 3/4·c(w1,w2)/c(w1·) + 1/4·c(·w2)/N   if c(w1,w2) ≥ cap
    //   p(w2|w1) =                       1/4·c(·w2)/N   otherwise (backoff)
    // with every count defined over the corpus's adjacent-pair stream, so
    // ALL model tables derive from ONE pair aggregation (`cab`) exactly
    // as q_text_pmi's marginals do — the left marginal is c(w1·), the
    // right c(·w2), the grand total N. EVERY scoring broadcast is capped:
    //  - the bigram table is MIN-COUNT-CAPPED (≤ Σc/cap rows: each
    //    surviving row accounts for ≥ cap pair occurrences — distinct
    //    bigrams grow with the corpus, billions on the open web, and an
    //    uncapped broadcast is a driver/executor OOM at scale); the left
    //    marginal c(w1·) rides INSIDE it (joined at fit time — it is only
    //    read on the kept branch, so folding it in is EXACT and retires
    //    the separate vocab-sized ca broadcast entirely);
    //  - the right marginal c(·w2) — needed for every pair — broadcasts
    //    only its top-VocabTopK words by count (bounded-heap TakeOrdered,
    //    deterministic ties), a CORPUS-INDEPENDENT K-row build side;
    //    pruned words score through the UnigramFloorCount backoff
    //    (coalesce — the unigramNll missing-count floor), keeping
    //    p > 0 for every pair with no extra smoothing mass.
    // Pairs pruned from the bigram model back off to the unigram term
    // alone via LEFT join + isNull test, keeping every cab reference
    // canonically equal so the fit side stays one documents scan.
    // Numeric determinism: p
    // is a FIXED IEEE op sequence (two exact int→double casts per ratio,
    // each division and the 3/4 + 1/4 combination correctly rounded,
    // identical order in both engines; the pruned branch adds an exact
    // +0.0), then per-pair NLL quantizes to integer micro-nats before
    // the exact long per-doc sum — only ln's ≤1 ulp remains, the same
    // validated class as tf-idf/perplexity.
    "q_text_bigram_lm" -> ((s, dir) => {
      // native pair kernel (r16) — same swap as q_text_pmi; bigram_lm
      // pays the pair build twice (fit + scoring scan), so twice over
      val prs = tbl(s, dir, "documents")
        .select(col("doc_id"),
          explode(org.apache.spark.sql.graft.TokenPairs
            .token_pairs(col("text"))).as("p"))
        .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
        .filter(col("w1").isNotNull && col("w2").isNotNull)
      val cab = prs.groupBy("w1", "w2").agg(count(lit(1)).as("n_ab"))
      val ca = cab.groupBy("w1").agg(sum("n_ab").as("n_a"))
      val cb = cab.groupBy("w2").agg(sum("n_ab").as("n_b"))
      val tot = cab.agg(sum("n_ab").as("n_tot"))
      // n_a folded into the capped table (exact: read only on the kept
      // branch); the fit-side join is unhinted — planner's choice
      val capped = cab.filter(col("n_ab") >= BigramMinCount).join(ca, "w1")
      val cbKept = cb.orderBy(col("n_b").desc, col("w2").asc)
        .limit(VocabTopK)
      val p = when(col("n_ab").isNotNull,
          lit(0.75) * (col("n_ab").cast("double") / col("n_a")))
          .otherwise(lit(0d)) +
        lit(0.25) * (coalesce(col("n_b"), lit(UnigramFloorCount))
          .cast("double") / col("n_tot"))
      prs.join(broadcast(capped), Seq("w1", "w2"), "left")
        .join(broadcast(cbKept), Seq("w2"), "left")
        .crossJoin(broadcast(tot))
        .withColumn("__q", floor(-log(p) * 1000000d + 0.5d).cast("long"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_pairs"), sum("__q").as("__sq"))
        .select(col("doc_id"), col("n_pairs"),
          (floor(col("__sq").cast("double") / col("n_pairs") + 0.5d) / 1000000d)
            .as("nll2"))
        .orderBy("doc_id")
    }),
    // Interpolated KNESER-NEY bigram model — the published upgrade over
    // q_text_bigram_lm's count interpolation (Kneser & Ney 1995; Chen &
    // Goodman 1998): instead of backing off to raw unigram FREQUENCY,
    // back off to CONTINUATION probability — how many distinct contexts
    // a word follows — which is what separates "Francisco" (frequent but
    // only ever after "San") from genuinely free words. With absolute
    // discount d = 0.75:
    //   P_kn(w2|w1) = (c(w1,w2) − d)/c(w1·)
    //               + d · N1+(w1,·)/c(w1·) · N1+(·,w2)/N1+(·,·)
    // All four model tables derive from ONE pair-count aggregation
    // (`cab`) — c(w1·) is its per-w1 sum, N1+(w1,·)/N1+(·,w2) its per-key
    // ROW counts, N1+(·,·) its total row count — so the fit is one
    // documents scan + one (w1,w2) shuffle, the q_text_pmi shape; the
    // emitted model is the min-count-capped table (bounded by Σc/cap
    // rows, the bigram-LM broadcast-cap contract). Observed counts are
    // ≥ 1 > d, so the max(c−d, 0) clamp is vacuous on the emitted rows —
    // no branch to mirror. Numeric determinism: fixed IEEE op sequence
    // (exact int→double casts, each / and · correctly rounded, identical
    // association both engines), quantized to integer micro units before
    // emission — no ln call, so not even an ulp of library slack.
    "q_text_kneser_ney" -> ((s, dir) => {
      // native pair kernel (r16) — same swap as q_text_pmi
      val prs = tbl(s, dir, "documents")
        .select(explode(org.apache.spark.sql.graft.TokenPairs
          .token_pairs(col("text"))).as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .filter(col("w1").isNotNull && col("w2").isNotNull)
      val cab = prs.groupBy("w1", "w2").agg(count(lit(1)).as("n_ab"))
      // Continuation counts are ROW counts over cab, but written as
      // count(1) (or even count(n_ab) — the rewriter normalizes it) the
      // cb/tot references let column pruning strip n_ab, their cab
      // subtrees collapse to a keys-only DISTINCT, and that shuffles a
      // SECOND (countless) exchange — the pair stream scans twice
      // (measured; the 1-scan shape is pinned in PlanContractSpec). The
      // semantic no-op `when(n_ab > 0, 1)` — vacuously true, counts are
      // positive — keeps n_ab referenced in every branch, so all four
      // cab subtrees canonicalize to ONE exchange (the q_text_pmi
      // isNotNull move, applied to pruning instead of null inference).
      val rowCnt = count(when(col("n_ab") > 0, lit(1)))
      val ca = cab.groupBy("w1")
        .agg(sum("n_ab").as("n_a"), rowCnt.as("n1p_a"))
      val cb = cab.groupBy("w2").agg(rowCnt.as("n1p_b"))
      val tot = cab.agg(rowCnt.as("n_types"))
      // cap filter AFTER the joins (the q_text_pmi move): written pre-join
      // it lands only on the capped reference and the four cab subtrees
      // stop canonicalizing equal — 2 corpus scans instead of 1 (measured;
      // PlanContractSpec pins the 1-scan shape). The optimizer pushes it
      // back below the joins either way, so runtime cost is identical.
      cab.join(ca, "w1").join(cb, "w2").crossJoin(broadcast(tot))
        .filter(col("n_ab") >= BigramMinCount)
        .withColumn("pkn_micro",
          floor(((col("n_ab").cast("double") - lit(0.75d)) / col("n_a")
            + lit(0.75d) * col("n1p_a").cast("double") / col("n_a")
              * (col("n1p_b").cast("double") / col("n_types")))
            * 1000000d + 0.5d).cast("long"))
        .select(col("w1"), col("w2"), col("n_ab"), col("pkn_micro"))
        .orderBy(desc("pkn_micro"), asc("w1"), asc("w2"))
    }),
    // Multinomial Naive Bayes language classifier (ops.TextModels) —
    // the classifier tier of corpus curation (CCNet-style domain/quality
    // filtering is a linear scorer of exactly this shape), trained and
    // applied in one lazy plan. FULLY ORACLED despite being ML: Laplace-
    // smoothed per-class token log-probs quantized to integer micro-nats
    // at the ln call, exact long sums, deterministic class-asc
    // tie-break; DuckDB re-derives the whole model and every score.
    "q_text_nb_classify" -> ((s, dir) =>
      graft.ops.TextModels.nbClassify(
          tbl(s, dir, "documents"), "doc_id", "text", "lang",
          vocabTopK = VocabTopK)
        .orderBy("doc_id")),
    // DSIR importance weights (Xie et al. 2023): every document scored
    // by log p_target - log p_raw under smoothed unigram feature models
    // (target = the 'en' slice). Model tables are top-K-capped feature
    // broadcasts with an UNK term (TextModels scaladoc); one corpus
    // read; exact integer micro-nat math end to end.
    "q_text_dsir" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      graft.ops.TextModels
        .dsirWeights(d, "doc_id", "text", col("lang") === "en",
          vocabTopK = VocabTopK)
        .join(d.select(col("doc_id"), col("lang")), "doc_id")
        .select(col("doc_id"), col("lang"), col("n_tok"),
          col("dsir_weight_micro"))
        .orderBy("doc_id")
    }),
    // Character-entropy quality signal (gibberish / low-information
    // detection): per-doc Shannon entropy over characters, computed with
    // the per-occurrence micro-nat quantization q_text_perplexity uses
    // (each -ln(c/n) quantized to a long BEFORE the weighted sum), so
    // both engines do identical exact arithmetic. Map-side + one
    // (doc, char) aggregation.
    "q_text_entropy" -> ((s, dir) => {
      val ch = tbl(s, dir, "documents")
        .select(col("doc_id"), length(col("text")).as("n"),
          explode(split(col("text"), "")).as("ch"))
      ch.groupBy("doc_id", "n", "ch").agg(count(lit(1)).as("c"))
        .withColumn("q",
          floor(-log(col("c").cast("double") / col("n")) * 1e6 + 0.5d)
            .cast("long"))
        .groupBy("doc_id")
        .agg(max("n").as("n_chars"),
          count(lit(1)).as("n_distinct_chars"),
          floor(sum(col("c") * col("q")).cast("double") / max("n") + 0.5d)
            .cast("long").as("entropy_micro"))
        .orderBy("doc_id")
    }),
    // Zipf-exponent fit per language — the corpus-level lexical-law
    // diagnostic (a natural corpus fits ln(count) ~= a + s·ln(rank) with
    // s near -1; templated/synthetic/boilerplate-heavy corpora bend the
    // curve, which makes the fitted slope a cheap corpus-forensics
    // signal at ingest time). Head ranks only (top 100 per lang) via the
    // BOUNDED-HEAP per-group top-k — the vocabulary never meets an
    // unpartitioned ranking window — then closed-form OLS over
    // (ln rank, ln count) in EXACT integer arithmetic: both lns quantize
    // to milli-nats BEFORE the sums (so Σ terms stay within long under
    // the n=100 bound) and the slope publishes as micro-units via
    // truncating division, the q_events_trend contract (negative
    // numerator parity included — Zipf slopes are negative).
    "q_text_zipf_fit" -> ((s, dir) => {
      val tf = tbl(s, dir, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) >= 1)
        .groupBy("lang", "word").agg(count(lit(1)).as("c"))
      val top = graft.ops.TopK.perGroup(tf, Seq("lang"),
        Seq("c" -> false, "word" -> true), k = 100, rankCol = "zrank")
      top.select(col("lang"),
          floor(log(col("zrank").cast("double")) * 1000 + 0.5).cast("long").as("x"),
          floor(log(col("c").cast("double")) * 1000 + 0.5).cast("long").as("y"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_ranks"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
        .withColumn("num", col("n_ranks") * col("sxy") - col("sx") * col("sy"))
        .withColumn("den", col("n_ranks") * col("sxx") - col("sx") * col("sx"))
        .filter(col("den") > 0)
        .select(col("lang"), col("n_ranks"),
          expr("num * 1000000 div den").as("zipf_slope_micro"))
        .orderBy("lang")
    }),
    // Type-token lexical diversity per language: types, tokens, hapax
    // legomena (count-1 types) and their ppm ratios — the quick screen
    // for templated or duplicated text (low TTR, vanishing hapax share)
    // before paying for the heavier dedup passes. One (lang, word)
    // aggregation with map-side combine (vocab-sized shuffle keys), then
    // a lang-sized rollup; exact integer ppm via truncating division.
    "q_text_ttr" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) >= 1)
        .groupBy("lang", "word").agg(count(lit(1)).as("c"))
        .groupBy("lang")
        .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_types"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
        .select(col("lang"), col("n_tokens"), col("n_types"), col("n_hapax"),
          expr("n_types * 1000000 div n_tokens").as("ttr_ppm"),
          expr("n_hapax * 1000000 div n_types").as("hapax_ppm"))
        .orderBy("lang")),
    // Source-level vocabulary overlap matrix (corpus governance: which
    // sources duplicate each other's lexical content — mirrored feeds,
    // scraped re-posts — before paying for document-level dedup between
    // them). Per-word source SETS ride the coPairs map-side pair explode
    // (fan-out bounded by the SOURCE count per word — a schema-bounded
    // 20 here, capped at 64 like every co-occurrence query), so the
    // |sources|² matrix costs one vocab-keyed aggregation + one bounded
    // explode, never a row-bearing self-join. Jaccard in exact integer
    // ppm over distinct-word counts.
    "q_text_source_overlap" -> ((s, dir) => {
      def sw = tbl(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) >= 1)
        .select("source", "word").distinct()
      val sizes = sw.groupBy("source").agg(count(lit(1)).as("n"))
      // word→source-set pairs from a persisted edge-list artifact; the
      // sizes rollup still derives fresh, which re-verifies the token
      // stream on every gate run
      s.read.parquet(graft.io.Artifacts.writeOnce(s, dir, "source_overlap",
          Map("fact" -> "documents", "basket" -> "word",
            "item" -> "source", "maxBasket" -> "64")) {
          graft.ops.Triangles.coPairs(sw, "word", "source", maxBasket = 64)
        })
        .join(sizes.select(col("source").as("src"), col("n").as("n_a")), "src")
        .join(sizes.select(col("source").as("dst"), col("n").as("n_b")), "dst")
        .select(col("src").as("source_a"), col("dst").as("source_b"),
          col("w").as("n_shared"),
          expr("w * 1000000 div (n_a + n_b - w)").as("jaccard_ppm"))
        .orderBy("source_a", "source_b")
    }),
    // Exact corpus heavy hitters (stopword/boilerplate token discovery):
    // Misra-Gries candidate pass (bounded k counters per partition, one
    // narrow scan) + broadcast verify pass with exact counts — the
    // vocabulary never becomes the shuffle key set, so the plan holds
    // when the token stream is 10^12 rows with 10^8 distinct tokens.
    // Output = every token strictly above a 1/(k+1) frequency fraction,
    // exact and k-independent, so the oracle is the naive GROUP BY /
    // HAVING SQL the sketch replaces. graft.ops.HeavyHitters.
    "q_text_heavy_hitters" -> ((s, dir) => {
      val words = tbl(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) >= 1)
      graft.ops.HeavyHitters.exact(words, "word", HeavyHitterK)
        .select(col("item").as("word"), col("cnt"))
        .orderBy(col("cnt").desc, col("word"))
    }),
    // BM25 top-k retrieval (Robertson's probabilistic ranking — the
    // retrieval half of a RAG / benchmark-lookup stack) for a fixed
    // literal query set over the corpus. Scale shape: the query-term set
    // is TINY and broadcast — the exploded token stream is filtered to it
    // BEFORE any aggregation, so tf/df/scoring all run over
    // |matching tokens|, never the corpus vocabulary; doc lengths are one
    // map-side-combined agg; (N, Σdl) ship as a broadcast one-row cross
    // join (no collect); the final per-query top-k is TopK.perGroup's
    // bounded-heap prune (nothing rank-sorts more than candidate docs).
    // Numeric determinism: the per-(query,doc,term) BM25 contribution is
    // quantized to integer micro-units BEFORE the per-doc sum (the
    // unigramNll move), so ranking compares exact longs with doc_id
    // tiebreak — ln's ≤1-ulp cross-engine wobble (the validated tf-idf
    // class) is the only FP exposure. k1/b/k+1 are interpolated into the
    // oracle from the SAME Scala doubles, so both engines parse identical
    // decimal literals.
    "q_text_bm25" -> ((s, dir) => {
      val toks = tbl(s, dir, "documents")
        .select(col("doc_id"),
          explode(split(lower(col("text")), "[^a-z0-9]+")).as("term"))
        .filter(col("term") =!= "")
      val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val stats = dl.agg(count(lit(1)).as("n"), sum("dl").as("sumdl"))
      val qt = s.createDataFrame(
          Bm25Queries.flatMap { case (q, ts) => ts.map((q, _)) })
        .toDF("query_id", "term")
      val allTerms = Bm25Queries.flatMap(_._2).distinct
      val tf = toks.filter(col("term").isin(allTerms: _*))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val byDoc = tf
        .join(broadcast(dfreq), "term")
        .join(broadcast(qt), "term")
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .withColumn("avgdl", col("sumdl").cast("double") / col("n"))
        .withColumn("idf", log(lit(1.0d) +
          (col("n").cast("double") - col("df") + 0.5d) /
            (col("df").cast("double") + 0.5d)))
        .withColumn("tfpart",
          col("tf").cast("double") * lit(Bm25K1 + 1.0d) /
            (col("tf").cast("double") + lit(Bm25K1) *
              (lit(1.0d - Bm25B) + lit(Bm25B) *
                (col("dl").cast("double") / col("avgdl")))))
        // FP-exposure signature (distinct from the other micro-quantized
        // queries): idf comes from ln, so a 1-ulp cross-engine wobble at
        // a floor boundary shifts s_micro by ±1 — and here that ±1 feeds
        // a RANKING, so a future mismatch on this query will present as
        // a rank swap / top-k membership flip between two docs whose
        // score_micro differ by ≤1, not as a ±1 value diff. If one ever
        // fires, the fix is a coarser secondary quantization band for
        // ordering (compare at reduced precision, doc_id tiebreak),
        // keeping the fine score as the emitted value.
        .withColumn("s_micro",
          floor(col("idf") * col("tfpart") * 1000000d + 0.5d).cast("long"))
        .groupBy("query_id", "doc_id")
        .agg(sum("s_micro").as("score_micro"))
      // rankCol must not be named "rnk" — perGroup drops an internal
      // column of that name after the rename
      graft.ops.TopK.perGroup(byDoc, Seq("query_id"),
          Seq(("score_micro", false), ("doc_id", true)), k = Bm25TopK,
          rankCol = "bm25_rn")
        .select(col("query_id"), col("bm25_rn").as("rnk"), col("doc_id"),
          col("score_micro"))
        .orderBy("query_id", "rnk")
    }),
    // Corpus-drift detection: KL(source ‖ corpus) over the unigram
    // distribution per source — the distribution-shift monitor a rolling
    // crawl pipeline runs per ingest day/provider before mixing. The
    // vocabulary is capped the catalog-standard way: keep the top-K
    // corpus terms (bounded TakeOrdered, corpus-independent broadcast),
    // collapse everything else into ONE '<oov>' bucket whose mass is
    // aggregated, not dropped — so the divergence stays a true KL over a
    // (K+1)-bucket distribution and the plan never keys a shuffle or a
    // broadcast on open-web vocabulary. Corpus marginals re-aggregate the
    // compressed (source, term) table (the PMI compress-then-compute
    // move) — ONE corpus-scale token aggregation total. Per-bucket
    // contributions quantize to integer micro-nats before the exact long
    // sum; a same-dist source scores exactly 0 (ratio 1 → ln never runs).
    "q_text_kl_drift" -> ((s, dir) => {
      val toks = tbl(s, dir, "documents")
        .select(col("source"),
          explode(split(lower(col("text")), "[^a-z0-9]+")).as("term"))
        .filter(col("term") =!= "")
      val st = toks.groupBy("source", "term").agg(count(lit(1)).as("c"))
      val kept = st.groupBy("term").agg(sum("c").as("cc"))
        .orderBy(col("cc").desc, col("term").asc).limit(KlVocabTopK)
        .select(col("term"), lit(1).as("keep"))
      val stb = st.join(broadcast(kept), Seq("term"), "left")
        .withColumn("bucket",
          when(col("keep").isNotNull, col("term")).otherwise(lit("<oov>")))
        .groupBy("source", "bucket").agg(sum("c").as("cs"))
      val cb = stb.groupBy("bucket").agg(sum("cs").as("cc"))
      val tots = stb.groupBy("source").agg(sum("cs").as("tot_s"))
      val totc = cb.agg(sum("cc").as("tot_c"))
      stb.join(broadcast(cb), "bucket")
        .join(broadcast(tots), "source")
        .crossJoin(broadcast(totc))
        .withColumn("contrib", floor(
          (col("cs").cast("double") / col("tot_s")) *
            log((col("cs").cast("double") * col("tot_c")) /
              (col("tot_s").cast("double") * col("cc"))) *
            1000000d + 0.5d).cast("long"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_buckets"), sum("cs").as("tot_tok"),
          sum("contrib").as("kl_micro"))
        .orderBy("source")
    }),
    // Heaps-law vocabulary-growth curve: cumulative distinct vocabulary
    // vs cumulative tokens over the corpus in doc_id order — the
    // diminishing-returns audit ("is more crawl still buying new
    // vocabulary?") run before committing another ingest tranche. The
    // prefix trick keeps it ONE pass and fully exact: a term first
    // appears at min(doc_id), so cumulative vocabulary at any prefix =
    // count of terms whose min falls inside it — no order-sensitive
    // dedup, no ln, pure integer arithmetic (bucket = doc_id*B div
    // ndocs). Scale shape: the only corpus-scale aggregations are the
    // per-term min and per-doc count (both map-side combined); the
    // cumulative windows run over exactly HeapsBuckets rows.
    "q_text_heaps_law" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val toks = docs
        .select(col("doc_id"),
          explode(split(lower(col("text")), "[^a-z0-9]+")).as("term"))
        .filter(col("term") =!= "")
      val nd = docs.agg((max("doc_id") + 1L).as("ndocs"))
      val B = HeapsBuckets
      val docB = docs.select("doc_id").crossJoin(broadcast(nd))
        .select(expr(s"doc_id * $B div ndocs").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("docs_b"))
      val tokB = toks.groupBy("doc_id").agg(count(lit(1)).as("ntok"))
        .crossJoin(broadcast(nd))
        .select(expr(s"doc_id * $B div ndocs").as("bucket"), col("ntok"))
        .groupBy("bucket").agg(sum("ntok").as("toks_b"))
      val vocB = toks.groupBy("term").agg(min("doc_id").as("fd"))
        .crossJoin(broadcast(nd))
        .select(expr(s"fd * $B div ndocs").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("voc_b"))
      val upTo = Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docB.join(tokB, Seq("bucket"), "left").join(vocB, Seq("bucket"), "left")
        .select(col("bucket"),
          sum(col("docs_b")).over(upTo).as("cum_docs"),
          sum(coalesce(col("toks_b"), lit(0L))).over(upTo).as("cum_tokens"),
          sum(coalesce(col("voc_b"), lit(0L))).over(upTo).as("cum_vocab"))
        .orderBy("bucket")
    }),
    // Per-term burstiness (Church & Gale 1995): variance-to-mean ratio
    // of a term's per-document counts over ALL docs (zeros included) —
    // VMR 1 = Poisson background, VMR >> 1 = topical/bursty, the signal
    // separating content words from function words for quality scoring.
    // The zero-inclusive moments never materialize zeros: over N docs,
    // mean = tot/N and E[x^2] = ss/N with tot/ss from present rows only,
    // giving VMR = ss/tot - tot/N — two correctly-rounded IEEE divides
    // (the deterministic FP class; ln never runs) then one micro-
    // quantization. Scale shape: one (term, doc) aggregation, one
    // per-term rollup, and TopK.perGroup's bounded heap caps the output
    // at BurstTopK — the vocabulary never becomes a sort key.
    "q_text_burstiness" -> ((s, dir) => {
      val toks = tbl(s, dir, "documents")
        .select(col("doc_id"),
          explode(split(lower(col("text")), "[^a-z0-9]+")).as("term"))
        .filter(col("term") =!= "")
      val td = toks.groupBy("term", "doc_id").agg(count(lit(1)).as("c"))
      val st = td.groupBy("term").agg(count(lit(1)).as("df"),
        sum("c").as("tot"), sum(col("c") * col("c")).as("ss"))
      val nd2 = tbl(s, dir, "documents").agg(count(lit(1)).as("ndocs"))
      graft.ops.TopK.perGroup(st.withColumn("g", lit(1)), Seq("g"),
          Seq(("tot", false), ("term", true)), k = BurstTopK,
          rankCol = "burst_rn")
        .crossJoin(broadcast(nd2))
        .select(col("term"), col("df"), col("tot"),
          floor((col("ss").cast("double") / col("tot") -
            col("tot").cast("double") / col("ndocs")) * 1000000d + 0.5d)
            .cast("long").as("vmr_micro"))
        .orderBy(desc("tot"), asc("term"))
    }),
    // RAKE keyword extraction (Rose et al. 2010): candidate phrases =
    // maximal stopword-free token runs; each word scores degree/freq
    // where freq counts its phrase-instance occurrences and degree sums
    // the lengths of the phrases it occurs in (co-occurrence incl.
    // self); a phrase scores the sum of its words' scores. The unsuper-
    // vised keyword baseline for corpus triage / dedup-cluster naming.
    // Determinism: degree/freq is one correctly-rounded IEEE divide of
    // two exact longs (the ratio is bounded by max phrase length, so no
    // precision cliff), micro-quantized per WORD before the exact long
    // sum per phrase — identical fold on both engines. Tokenization:
    // the SPACE split is intentional (RAKE is position-sensitive —
    // phrases are maximal adjacent runs, so tokens must keep their
    // in-document adjacency), but unlike the tier's '[^a-z0-9]+'
    // queries a punctuation-bearing token ("model.") is not silently
    // kept: RAKE breaks candidate phrases at punctuation as well as at
    // stopwords (Rose et al. §1.2.1), so any token containing a
    // non-[a-z0-9] character acts as a phrase BREAKER and never enters
    // the vocabulary — the emitted words stay consistent with the rest
    // of the text tier. Scale shape:
    // phrase segmentation is two windows sharing ONE doc_id exchange
    // (running stopword count, then per-phrase length — both bounded by
    // doc length); the word-score table is VOCAB-sized and broadcast
    // (the tf-idf contract); output is a bounded TopK heap over
    // distinct phrases.
    "q_text_rake" -> ((s, dir) => {
      val stops = RakeStopwords
      val toks = tbl(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(split(lower(col("text")), " ")))
        .toDF("doc_id", "pos", "w")
        .filter(col("w") =!= "")
      val seg = Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val breaker = col("w").isInCollection(stops) ||
        col("w").rlike("[^a-z0-9]")
      val tagged = toks
        .withColumn("ph",
          sum(when(breaker, 1L).otherwise(0L)).over(seg))
        .filter(!breaker)
      val withLen = tagged.withColumn("plen",
        count(lit(1)).over(Window.partitionBy("doc_id", "ph")))
      val wordScore = withLen.groupBy("w")
        .agg(count(lit(1)).as("freq"), sum("plen").as("degree"))
        .withColumn("wscore_micro", floor(
          col("degree").cast("double") / col("freq") * 1000000d + 0.5d)
          .cast("long"))
      val phrases = withLen
        .join(broadcast(wordScore.select("w", "wscore_micro")), "w")
        .groupBy("doc_id", "ph")
        .agg(
          array_join(transform(array_sort(collect_list(struct(col("pos"),
            col("w")))), e => e.getField("w")), " ").as("phrase"),
          count(lit(1)).as("n_words"),
          sum("wscore_micro").as("score_micro"))
      val dedup = phrases.groupBy("phrase")
        .agg(max("n_words").as("n_words"), max("score_micro").as("score_micro"),
          count(lit(1)).as("n_occ"))
      graft.ops.TopK.perGroup(dedup.withColumn("g", lit(1)), Seq("g"),
          Seq(("score_micro", false), ("phrase", true)), k = RakeTopK,
          rankCol = "rake_rn")
        .select(col("phrase"), col("n_words"), col("score_micro"), col("n_occ"))
        .orderBy(desc("score_micro"), asc("phrase"))
    }),
    // Flesch reading-ease profile (Flesch 1948) per (lang, source)
    // corpus slice — the classic readability screen a curation pipeline
    // runs to route text to grade-level buckets before mixing. FRE =
    // 206.835 − 1.015·(W/S) − 84.6·(Y/W) over slice-level EXACT counts:
    // W = tokens ('[^a-z0-9]+' split, the tier standard), S = sentences
    // ('[.!?]+' split, floored at one per doc — the synthetic corpus has
    // no terminators, so the floor branch carries it; punctuated text is
    // covered by the fixture spec), Y = vowel-group syllable heuristic
    // ('[aeiouy]+' runs — the standard cheap proxy). Determinism: the
    // three counts are exact longs; W/S and Y/W are single correctly-
    // rounded IEEE divides and the fixed left-to-right linear combination
    // is micro-quantized once — bit-identical on both engines. Scale:
    // one map-side-combined aggregation, output bounded langs × sources;
    // the per-doc regex work is embarrassingly parallel scan CPU.
    "q_text_readability" -> ((s, dir) => {
      val per = tbl(s, dir, "documents").select(
        col("lang"), col("source"),
        size(filter(split(lower(col("text")), "[^a-z0-9]+"),
          w => w =!= "")).cast("long").as("w"),
        greatest(size(filter(split(col("text"), "[.!?]+"),
          x => trim(x) =!= "")), lit(1)).cast("long").as("sent"),
        size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"),
          lit(0))).cast("long").as("syl"))
        .filter(col("w") > 0L)
      per.groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"), sum("w").as("n_words"),
          sum("sent").as("n_sents"), sum("syl").as("n_sylls"))
        .withColumn("fre_micro", floor(
          (lit(206.835d)
            - lit(1.015d) * (col("n_words").cast("double") / col("n_sents"))
            - lit(84.6d) * (col("n_sylls").cast("double") / col("n_words")))
            * 1000000d + 0.5d).cast("long"))
        .orderBy("lang", "source")
    }),
    // Gopher-style document-quality rule panel (Rae et al. 2021, Table
    // A1, thresholds tuned to the synthetic corpus so both branches of
    // each live rule fire): per-source rule-level rejection counts — the
    // report a curation team reads BEFORE wiring rules into a drop
    // pipeline (q_curate_pipeline applies; this one measures). Rules:
    // g1 word count outside [25,85]; g2 mean word length outside [4,10]
    // (integer-exact: 4·W > chars ∨ chars > 10·W); g3 symbol-to-word
    // ratio over 10% (zero on the terminator-free synthetic corpus —
    // the branch is fixture-covered); g4 fewer than two stopword
    // tokens; g5 top-token dominance over 20% (5·max_tf > W — the
    // repetition screen q_text_repetition scores continuously). All
    // comparisons are exact integer arithmetic — no FP anywhere. Scale:
    // one (doc, word) aggregation (the tf shape), one doc rollup, one
    // source rollup — map-side combines end to end, output bounded by
    // the source dimension.
    "q_quality_gopher" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      // JOIN-FREE: the doc-level symbol count rides the token stream as
      // a carried column (max-folded through both rollups) instead of a
      // corpus-sized doc-keyed join back to the documents scan.
      val pw = docs.select(col("doc_id"), col("source"),
          length(regexp_replace(lower(col("text")), "[a-z0-9 ]", ""))
            .cast("long").as("nsym"),
          explode(split(lower(col("text")), "[^a-z0-9]+")).as("w"))
        .filter(col("w") =!= "")
        .groupBy("doc_id", "source", "w")
        .agg(count(lit(1)).as("c"), max("nsym").as("nsym"))
      val f = pw.groupBy("doc_id", "source").agg(
        sum("c").as("words"),
        sum(length(col("w")) * col("c")).as("wchars"),
        max("c").as("topc"),
        sum(when(col("w").isInCollection(GopherStopwords), col("c"))
          .otherwise(0L)).as("stopc"),
        max("nsym").as("nsym"))
        .withColumn("g1", col("words") < 25L || col("words") > 85L)
        .withColumn("g2", col("wchars") < col("words") * 4L ||
          col("wchars") > col("words") * 10L)
        .withColumn("g3", col("nsym") * 10L > col("words"))
        .withColumn("g4", col("stopc") < 2L)
        .withColumn("g5", col("topc") * 5L > col("words"))
      def cnt(c: String) = sum(when(col(c), 1L).otherwise(0L)).as(s"fail_$c")
      f.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), cnt("g1"), cnt("g2"), cnt("g3"),
          cnt("g4"), cnt("g5"),
          sum(when(!col("g1") && !col("g2") && !col("g3") && !col("g4") &&
            !col("g5"), 1L).otherwise(0L)).as("n_pass"))
        .orderBy("source")
    }),
    // TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004):
    // PageRank over the word co-occurrence graph — the graph-centrality
    // upgrade over RAKE's degree/freq heuristic (a word matters because
    // IMPORTANT words co-occur with it, not merely many). Graph:
    // adjacent-token pairs (window 1, the paper's strongest setting)
    // restricted to the top-TextRankVocabK corpus words — the VOCAB cap
    // that keeps nodes/edges bounded BY CONSTRUCTION (≤ K², so the
    // iterate-as-joins kernel shuffles a constant-size graph no matter
    // the corpus); unweighted, symmetrized, then TextRankIters rounds of
    // graft.ops.PageRank's integer-exact fixed-point (order-invariant
    // long arithmetic — bit-identical on any cluster and in DuckDB's
    // unrolled replay). Scale shape: one token scan + doc-bounded lead
    // window builds the pair stream; the two word→node joins broadcast
    // the K-row id table; everything downstream is K-sized.
    "q_text_textrank" -> ((s, dir) => {
      val toks = tbl(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(split(lower(col("text")), "[^a-z0-9]+")))
        .toDF("doc_id", "pos", "w")
      val ids = graft.ops.TopK.perGroup(
          toks.filter(col("w") =!= "").groupBy("w")
            .agg(count(lit(1)).as("cnt")).withColumn("g", lit(1)),
          Seq("g"), Seq(("cnt", false), ("w", true)),
          k = TextRankVocabK, rankCol = "node")
        .select(col("w"), col("node").cast("long").as("node"))
      val seqw = Window.partitionBy("doc_id").orderBy("pos")
      val pairs = toks.withColumn("w2", lead("w", 1).over(seqw))
        .filter(col("w") =!= "" && col("w2").isNotNull &&
          col("w2") =!= "" && col("w") =!= col("w2"))
        .join(broadcast(ids.select(col("w"), col("node").as("id1"))), "w")
        .join(broadcast(ids.select(col("w").as("w2"),
          col("node").as("id2"))), "w2")
        .select("id1", "id2")
      val edges = pairs.select(col("id1").as("src"), col("id2").as("dst"))
        .unionAll(pairs.select(col("id2").as("src"), col("id1").as("dst")))
        .distinct()
      // K-bounded graph (≤ VocabK nodes, ≤ K·(K−1) edges by the vocab
      // cap) → the driver fixed point: identical integer recurrence,
      // none of the 2-shuffles-per-round overhead the unrolled join plan
      // pays on a 64-node graph (measured 9.4 s → ~0 at sf0.1, r16)
      val pr = graft.ops.PageRank.fixedPointLocal(edges, TextRankIters,
        maxEdges = TextRankVocabK * (TextRankVocabK - 1))
      graft.ops.TopK.perGroup(
          pr.join(broadcast(ids), "node").withColumn("g", lit(1)),
          Seq("g"), Seq(("rank_micro", false), ("w", true)),
          k = TextRankTopK, rankCol = "tr_rn")
        .select(col("w").as("word"), col("rank_micro"))
        .orderBy(desc("rank_micro"), asc("word"))
    })
  )

  /** q_text_rake's stopword set and output cap — ONE definition shared
    * with the oracle's interpolated literals. The synthetic corpus's
    * function words; production swaps in a real list (the set size only
    * affects the broadcast-free segmentation scan). */
  private[queries] val RakeStopwords: Seq[String] = Seq("a", "the")
  private[queries] val RakeTopK = 15

  /** q_quality_gopher's stopword panel (rule g4) — ONE definition shared
    * with the oracle's interpolated IN-list. The synthetic corpus's two
    * function words; production swaps in the Gopher paper's list. */
  private[queries] val GopherStopwords: Seq[String] = Seq("a", "the")

  /** q_text_textrank's graph envelope: the co-occurrence graph is built
    * over the top-VocabK corpus words only (nodes/edges bounded BY
    * CONSTRUCTION — the broadcast-cap contract), ranked for Iters
    * integer-PageRank rounds, emitting the TopK keywords. All three
    * interpolated into the generated oracle. */
  private[graft] val TextRankVocabK = 64
  private[graft] val TextRankIters = 10
  private[graft] val TextRankTopK = 15

  /** q_text_heavy_hitters' counter budget — threshold φ = 1/(k+1) of all
    * running tokens. Interpolated into the oracle SQL so the threshold
    * cannot drift between engines. */
  private[queries] val HeavyHitterK = 48

  /** q_bpe_train's round count — interpolated into the oracle generator
    * (Bpe.oracleSql) so the query and its replay stay in lockstep. */
  private[queries] val BpeMerges = 8

  /** q_bpe_apply's fitted tokenizer model, persisted as a merge-table
    * artifact and loaded back on every invocation, timed bench passes
    * included: the bench times "load model + apply", what a production
    * tokenizer-apply job pays (its trainer ships merges as a file; apply
    * never refits). q_bpe_train still refits every invocation — training
    * is its declared computation. */
  private[queries] def bpeMergesFor(s: org.apache.spark.sql.SparkSession,
      dir: String,
      fit: () => Seq[graft.ops.Bpe.Merge]): Seq[graft.ops.Bpe.Merge] = {
    val path = graft.io.Artifacts.writeOnce(s, dir, "bpe_merge_model",
        Map("merges" -> BpeMerges.toString)) {
      graft.ops.Bpe.mergeTable(s, fit()).coalesce(1)
    }
    s.read.parquet(path).orderBy("merge_rank").collect().toSeq.map { r =>
      graft.ops.Bpe.Merge(r.getAs[Int]("merge_rank"), r.getAs[String]("lhs"),
        r.getAs[String]("rhs"), r.getAs[Long]("n_occurrences"))
    }
  }

  /** q_text_bm25's fixed query set — ONE definition shared by the Spark
    * literal table and the oracle's VALUES list so an edit cannot drift.
    * Terms chosen from the synthetic corpus vocabulary; query 3 pairs a
    * rare-ish term with a ubiquitous one so the idf weighting (not just
    * tf) decides ranks. */
  private[queries] val Bm25Queries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("vector", "scan"),
    2 -> Seq("hash", "join", "merge"),
    3 -> Seq("stream", "window", "the"))

  /** BM25 shape parameters (the standard defaults) and result depth —
    * interpolated into the oracle SQL from these same doubles. */
  private[queries] val Bm25K1 = 1.2d
  private[queries] val Bm25B = 0.75d
  private[queries] val Bm25TopK = 10

  /** q_text_heaps_law's prefix-bucket count — the cumulative curve's
    * resolution; the windows it feeds run over exactly this many rows
    * at any corpus size. Interpolated into the oracle. */
  private[queries] val HeapsBuckets = 20

  /** q_text_burstiness' output cap (bounded-heap top-K by total count,
    * term tiebreak) — interpolated into the oracle's ranking window. */
  private[queries] val BurstTopK = 30

  /** q_text_kl_drift's kept-vocabulary size: top-K corpus terms stay
    * distinct buckets, the rest collapse into '<oov>'. 24 < the synthetic
    * corpus's 31-word vocabulary, so the OOV bucket is EXERCISED and
    * hash-verified at every test scale (the VocabTopK rationale);
    * production sizes K to the model budget — the broadcast is K-bounded
    * BY CONSTRUCTION regardless of corpus vocabulary. */
  private[queries] val KlVocabTopK = 24

  /** A fitted KL drift reference: the kept vocabulary plus the
    * (K+1)-bucket reference distribution — the artifact a production
    * drift monitor fits once per reference corpus and probes every
    * ingest batch against. Driver-resident BY CONSTRUCTION (≤ K terms,
    * ≤ K+1 bucket rows), so it rides a streaming foreachBatch closure. */
  final case class KlRef(kept: Seq[String], buckets: Seq[(String, Long)],
                         totC: Long)

  /** The [[KlRef]] fitted over the static 4/5ths of `documents`
    * (doc_id % 5 =!= 0 — the corpus side of the catalog's streaming
    * splits), once per corpus content. One corpus-scale aggregation; the
    * two collects are K- and (K+1)-bounded (CollectAuditSpec). The
    * reference <oov> mass is what gives a NOVEL batch token a finite
    * score; a reference whose vocabulary fits entirely inside K has no
    * <oov> row and a novel-token batch bucket simply drops from the inner
    * join — the documented clamp for the infinite-KL case. */
  def klRefFor(s: org.apache.spark.sql.SparkSession, dir: String): KlRef =
    graft.io.Artifacts.once(dir, "kl_ref") {
      // persisted: tc feeds BOTH the kept-vocabulary TakeOrdered and the
      // bucket-marginal aggregation — one corpus-scale tokenize+aggregate,
      // then two vocab-sized reads (review catch: without the persist the
      // corpus pass ran twice)
      val tc = tbl(s, dir, "documents").where(col("doc_id") % 5 =!= 0)
        .select(explode(split(lower(col("text")), "[^a-z0-9]+")).as("term"))
        .filter(col("term") =!= "")
        .groupBy("term").agg(count(lit(1)).as("c"))
        .persist()
      try {
        val kept = tc.orderBy(col("c").desc, col("term").asc)
          .limit(KlVocabTopK).select("term")
          .collect().map(_.getString(0)).toSeq
        val buckets = tc.withColumn("bucket",
            when(col("term").isin(kept: _*), col("term"))
              .otherwise(lit("<oov>")))
          .groupBy("bucket").agg(sum("c").as("cc"))
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
          .sortBy(_._1)
        KlRef(kept, buckets, buckets.map(_._2).sum)
      } finally tc.unpersist()
    }

  private val markerCase = {
    // CASE chain mirroring TextAnalysis.langId (en > es > fr > de > zh on ties)
    val m = Map(
      "en" -> "['the','and','of','to','in']",
      "es" -> "['el','la','de','y','que']",
      "fr" -> "['le','la','et','les','des']",
      "de" -> "['der','die','und','das','ist']",
      "zh" -> "['的','是','了','在','我']")
    val score = (l: String) => s"len(list_intersect(string_split(text, ' '), ${m(l)}))"
    val best = s"greatest(${Seq("en", "es", "fr", "de", "zh").map(score).mkString(", ")})"
    s"""CASE WHEN ${score("en")} > 0 AND ${score("en")} = $best THEN 'en'
             WHEN ${score("es")} > 0 AND ${score("es")} = $best THEN 'es'
             WHEN ${score("fr")} > 0 AND ${score("fr")} = $best THEN 'fr'
             WHEN ${score("de")} > 0 AND ${score("de")} = $best THEN 'de'
             WHEN ${score("zh")} > 0 AND ${score("zh")} = $best THEN 'zh'
             ELSE 'und' END"""
  }

  val oracles: Map[String, String] = Map(
    // Replays the bounded-heap top-100 as a ranking window (legal at
    // verification scale), then the same milli-nat ln quantization and
    // exact integer OLS; `//` = Spark `div` (truncation toward zero on
    // the negative slope numerators, pinned by Round11QueriesSpec).
    "q_text_zipf_fit" ->
      """WITH toks AS (SELECT lang, unnest(string_split(text, ' ')) AS word
                       FROM documents),
         tf AS (SELECT lang, word, count(*) AS c FROM toks
                WHERE length(word) >= 1 GROUP BY 1, 2),
         top AS (SELECT lang, c, rnk FROM (
                   SELECT lang, c, row_number() OVER (PARTITION BY lang
                     ORDER BY c DESC, word ASC) AS rnk FROM tf) z
                 WHERE rnk <= 100),
         pts AS (SELECT lang,
                   CAST(floor(ln(CAST(rnk AS DOUBLE)) * 1000 + 0.5) AS BIGINT) AS x,
                   CAST(floor(ln(CAST(c AS DOUBLE)) * 1000 + 0.5) AS BIGINT) AS y
                 FROM top),
         s AS (SELECT lang, count(*) AS n_ranks, sum(x) AS sx, sum(y) AS sy,
                 sum(x * y) AS sxy, sum(x * x) AS sxx
               FROM pts GROUP BY lang)
         SELECT lang, n_ranks,
           CAST((n_ranks * sxy - sx * sy) * 1000000
             // (n_ranks * sxx - sx * sx) AS BIGINT) AS zipf_slope_micro
         FROM s WHERE n_ranks * sxx - sx * sx > 0 ORDER BY lang""",
    // Replays the basket cap exactly as the graph oracles do
    // (row_number <= 64 — never binding at 20 sources, but replayed so
    // the derivations cannot drift).
    "q_text_source_overlap" ->
      """WITH sw AS (SELECT DISTINCT source, word FROM (
             SELECT source, unnest(string_split(text, ' ')) AS word
             FROM documents) t
           WHERE length(word) >= 1),
         sizes AS (SELECT source, count(*) AS n FROM sw GROUP BY source),
         caps AS (SELECT word, source FROM (
             SELECT word, source, row_number() OVER (PARTITION BY word
               ORDER BY source) AS rn FROM sw) z
           WHERE rn <= 64),
         pr AS (SELECT a.source AS sa, b.source AS sb, count(*) AS w
                FROM caps a JOIN caps b
                  ON a.word = b.word AND a.source < b.source
                GROUP BY 1, 2)
         SELECT sa AS source_a, sb AS source_b, w AS n_shared,
           CAST(w * 1000000 // (x.n + y.n - w) AS BIGINT) AS jaccard_ppm
         FROM pr JOIN sizes x ON x.source = sa JOIN sizes y ON y.source = sb
         ORDER BY source_a, source_b""",
    "q_text_ttr" ->
      """WITH toks AS (SELECT lang, unnest(string_split(text, ' ')) AS word
                       FROM documents),
         tf AS (SELECT lang, word, count(*) AS c FROM toks
                WHERE length(word) >= 1 GROUP BY 1, 2)
         SELECT lang, CAST(sum(c) AS BIGINT) AS n_tokens,
           count(*) AS n_types,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           CAST(count(*) * 1000000 // sum(c) AS BIGINT) AS ttr_ppm,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000
             // count(*) AS BIGINT) AS hapax_ppm
         FROM tf GROUP BY lang ORDER BY lang""",
    "q_text_levenshtein" ->
      """SELECT a.doc_id,
         CAST(levenshtein(substring(a.text, 1, 30), substring(b.text, 1, 30)) AS INT) AS edit_dist
         FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
         ORDER BY a.doc_id""",
    "q_text_stats" ->
      """SELECT doc_id,
         CAST(length(text) AS INT) AS n_chars,
         CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
         round(CAST(list_sum(list_transform(string_split(text, ' '), t -> length(t))) AS DOUBLE)
           / len(string_split(text, ' ')), 6) AS avg_token_len,
         CAST(len(list_filter(string_split(text, ' '), t -> length(t) >= 6)) AS INT) AS n_long_tokens,
         CAST(length(text) - length(regexp_replace(text, '[aeiou]', '', 'g')) AS INT) AS n_vowels
         FROM documents ORDER BY doc_id""",
    // Replays the noise synthesis with chr() codepoints (769/778/776 are
    // the combining acute/ring/diaeresis the Spark side injects via \u
    // escapes; 7/8/9 = BEL/BS/TAB), then the identical clean chain —
    // DuckDB's utf8proc NFC and the JDK Normalizer both implement UAX #15,
    // so the md5 over the cleaned text matches byte-for-byte.
    "q_text_normalize" ->
      """WITH noisy AS (SELECT doc_id,
           (CASE WHEN doc_id % 4 = 0 THEN chr(7) ELSE '' END) || text ||
           (CASE WHEN doc_id % 3 = 0 THEN ' cafe' || chr(769) ELSE '' END) ||
           (CASE WHEN doc_id % 3 = 1
                 THEN ' A' || chr(778) || 'ngstro' || chr(776) || 'm'
                 ELSE '' END) ||
           (CASE WHEN doc_id % 2 = 0
                 THEN chr(9) || '  trailing' || chr(8) || 'junk '
                 ELSE '' END) AS raw
         FROM documents),
         c AS (SELECT doc_id, CAST(length(raw) AS INT) AS n_raw,
           trim(regexp_replace(regexp_replace(nfc_normalize(raw),
             '\p{Cc}', '', 'g'), '\s+', ' ', 'g')) AS clean
         FROM noisy)
         SELECT doc_id, n_raw, CAST(length(clean) AS INT) AS n_clean,
           md5(clean) AS clean_md5
         FROM c ORDER BY doc_id""",
    "q_text_tokens" ->
      """SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
         CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS INT) AS bpeish_tokens
         FROM documents ORDER BY doc_id""",
    "q_text_lang_id" ->
      s"SELECT doc_id, lang, $markerCase AS pred_lang FROM documents ORDER BY doc_id",
    "q_text_langid_eval" ->
      s"""WITH p AS (SELECT lang, $markerCase AS pred_lang FROM documents),
         c AS (SELECT lang, pred_lang, count(*) AS n FROM p GROUP BY 1, 2),
         t AS (SELECT lang, CAST(sum(n) AS BIGINT) AS t FROM c GROUP BY 1)
         SELECT c.lang, c.pred_lang, c.n, c.n * 1000000 // t.t AS row_ppm,
           CASE WHEN c.lang = c.pred_lang THEN 1 ELSE 0 END AS is_correct
         FROM c JOIN t USING (lang) ORDER BY c.lang, c.pred_lang""",
    "q_text_fingerprint" ->
      """SELECT doc_id,
         CAST(list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split(text, ' '),
                            t -> CAST(length(t) * 17 + ascii(t) AS BIGINT))),
           (a, b) -> (a * 31 + b) % 1000000007) AS BIGINT) AS fp
         FROM documents ORDER BY doc_id""",
    "q_text_tfidf" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term
           FROM documents),
         tok2 AS (SELECT doc_id, term FROM toks WHERE term <> ''),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2 GROUP BY 1, 2),
         df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok2 GROUP BY 1),
         n AS (SELECT count(*) AS n FROM documents)
         SELECT doc_id, term, rnk FROM (
           SELECT tf.doc_id, tf.term,
             CAST(row_number() OVER (PARTITION BY tf.doc_id
               ORDER BY round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) DESC,
                        tf.term ASC) AS INT) AS rnk
           FROM tf JOIN df USING (term) CROSS JOIN n) x
         WHERE rnk <= 3 ORDER BY doc_id, rnk""",
    "q_text_quality_by_lang" ->
      """SELECT lang, count(*) AS n_docs,
         CAST(sum(length(text)) AS BIGINT) AS total_chars,
         round(CAST(sum(length(text)) AS DOUBLE) / sum(len(string_split(text, ' '))), 6)
           AS chars_per_token
         FROM documents GROUP BY lang ORDER BY lang""",
    "q_text_chunks" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks,
           len(string_split(text, ' ')) AS n
         FROM documents),
         c AS (SELECT doc_id, toks, n,
           CAST(unnest(generate_series(0, CAST(floor((n - 1) / 48.0) AS BIGINT))) AS INT)
             AS chunk_idx
         FROM d),
         x AS (SELECT doc_id, chunk_idx,
           least(64, n - chunk_idx * 48) AS n_tok,
           array_to_string(toks[chunk_idx * 48 + 1 : chunk_idx * 48 + 64], ' ')
             AS chunk_text
         FROM c)
         SELECT doc_id, count(*) AS n_chunks,
           CAST(sum(n_tok) AS BIGINT) AS chunk_tok_mass,
           min(CASE WHEN chunk_idx = 0 THEN chunk_text END) AS first_chunk
         FROM x GROUP BY doc_id ORDER BY doc_id""",
    "q_filter_funnel" ->
      """WITH s AS (SELECT doc_id, n_chars,
           len(string_split(text, ' ')) AS words,
           len(list_distinct(string_split(text, ' '))) AS uniq_words
         FROM documents)
         SELECT CASE WHEN n_chars < 100 THEN 'r1_too_short'
                     WHEN words < 20 THEN 'r2_too_few_tokens'
                     WHEN uniq_words * 3 < words THEN 'r3_repetitive'
                     WHEN words > 90 THEN 'r4_too_long'
                     ELSE 'kept' END AS verdict,
           count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
         FROM s GROUP BY verdict ORDER BY verdict""",
    "q_pack_sequences" ->
      """WITH d AS (
           SELECT doc_id, doc_id % 8 AS shard,
             len(string_split(text, ' ')) AS n_tok
           FROM documents),
         c AS (
           SELECT shard, doc_id, n_tok,
             coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
           FROM d)
         SELECT shard, CAST(floor(cum_before / 2048.0) AS BIGINT) AS pack_id,
           count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
         FROM c GROUP BY shard, pack_id ORDER BY shard, pack_id""",
    "q_text_perplexity" ->
      s"""WITH toks AS (
           SELECT doc_id,
             unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term
           FROM documents),
         tok2 AS (SELECT doc_id, term FROM toks WHERE term <> ''),
         lm AS (SELECT term, count(*) AS cnt FROM tok2 GROUP BY 1),
         tot AS (SELECT count(*) AS total FROM tok2),
         q AS (
           SELECT doc_id,
             CAST(floor(-ln(CAST(cnt AS DOUBLE) / total) * 1000000 + 0.5)
               AS BIGINT) AS q
           FROM tok2 JOIN lm USING (term) CROSS JOIN tot),
         d AS (
           SELECT doc_id, count(*) AS n_tok,
             floor(CAST(sum(q) AS DOUBLE) / count(*) + 0.5) / 1000000 AS nll
           FROM q GROUP BY doc_id)
         SELECT doc_id, n_tok, nll,
           CASE WHEN nll < $PerplexityHeadMax THEN 'head'
                WHEN nll < $PerplexityMiddleMax THEN 'middle'
                ELSE 'tail' END AS bucket
         FROM d ORDER BY doc_id""",
    "q_text_repetition" ->
      """SELECT doc_id,
         CAST(greatest(length(text) - 2, 1) AS INT) AS n_shingles,
         CAST(len(list_distinct(list_transform(
           range(1, greatest(length(text) - 2, 1) + 1),
           i -> substring(text, CAST(i AS INT), 3)))) AS INT) AS n_uniq,
         round(1.0 - CAST(len(list_distinct(list_transform(
             range(1, greatest(length(text) - 2, 1) + 1),
             i -> substring(text, CAST(i AS INT), 3)))) AS DOUBLE)
           / greatest(length(text) - 2, 1), 6) AS rep_ratio
         FROM documents ORDER BY doc_id""",
    "q_bpe_pairs" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
         wf AS (SELECT word, count(*) AS freq FROM w
                WHERE length(word) >= 2 GROUP BY word),
         p AS (SELECT word, freq,
                 unnest(list_transform(range(1, length(word)),
                   i -> substring(word, CAST(i AS INT), 2))) AS pair
               FROM wf)
         SELECT pair, count(DISTINCT word) AS n_words,
           CAST(sum(freq) AS BIGINT) AS n_occurrences
         FROM p GROUP BY pair ORDER BY n_occurrences DESC, pair""",
    // STATIC round-replay oracle: recomputes the merge sequence itself —
    // see Bpe.oracleSql (not data-dependent; generated from the round
    // count alone, so it can live in this static map).
    "q_bpe_train" -> graft.ops.Bpe.oracleSql(BpeMerges),
    "q_bpe_apply" -> graft.ops.Bpe.applyOracleSql(BpeMerges),
    "q_text_inverted_index" ->
      """SELECT term, count(DISTINCT doc_id) AS df, count(*) AS cf,
           array_to_string(list_slice(list_sort(list_distinct(list(doc_id))), 1, 10), ',')
             AS posting_sample
         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
               FROM documents) t
         WHERE length(term) >= 1
         GROUP BY term ORDER BY term""",
    // Gram strings stand in for the kernel's 64-bit hashes (equal counts
    // absent collisions); position arithmetic mirrors the kernel's
    // grams = max(n - 7, 1) floor — a short doc still yields one short
    // gram — and list_slice clamps exactly like the kernel's tail slice.
    "q_text_dup_ngrams" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                       FROM documents WHERE text IS NOT NULL),
         g AS (SELECT DISTINCT doc_id, gram FROM (
                 SELECT doc_id,
                   unnest(list_transform(
                     range(1, greatest(len(t) - 6, 2)),
                     i -> array_to_string(list_slice(t, i, i + 7), ' '))) AS gram
                 FROM toks)),
         dfq AS (SELECT gram, count(*) AS df FROM g GROUP BY gram)
         SELECT doc_id, count(*) AS n_grams,
           count(*) FILTER (WHERE df >= 2) AS n_dup,
           (count(*) FILTER (WHERE df >= 2)) * 100 // count(*) AS dup_pct
         FROM g JOIN dfq USING (gram)
         GROUP BY doc_id ORDER BY doc_id""",
    "q_text_pmi" ->
      """WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
         prs AS (SELECT unnest(list_transform(range(1, len(t)),
                   i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS p
                 FROM toks WHERE len(t) >= 2),
         pr AS (SELECT p.w1 AS w1, p.w2 AS w2 FROM prs),
         cab AS (SELECT w1, w2, count(*) AS n_pair FROM pr GROUP BY w1, w2),
         ca AS (SELECT w1, count(*) AS n_left FROM pr GROUP BY w1),
         cb AS (SELECT w2, count(*) AS n_right FROM pr GROUP BY w2),
         tot AS (SELECT count(*) AS n_tot FROM pr)
         SELECT cab.w1, cab.w2, cab.n_pair,
           CAST(floor(ln((CAST(n_pair AS DOUBLE) * n_tot)
             / (CAST(n_left AS DOUBLE) * n_right)) * 1e6 + 0.5) AS BIGINT)
             AS pmi_micro
         FROM cab JOIN ca USING (w1) JOIN cb USING (w2) CROSS JOIN tot
         WHERE n_pair >= 5
         ORDER BY pmi_micro DESC, w1, w2""",
    // The marginals count the raw pair stream directly (count(*) per w1 /
    // per w2) — equal by construction to the Spark side's sums over the
    // pair-count table; the interpolation arithmetic mirrors the Spark
    // op sequence exactly (two casts, two divisions, 3/4 + 1/4 combine;
    // the pruned branch contributes an exact 0.0 to the same final add).
    // The min-count model cap is replayed as a LEFT JOIN against the
    // capped table — a Spark pair wrongly kept or wrongly pruned flips
    // its branch and hash-mismatches; the top-K unigram vocabulary is
    // replayed as ORDER BY n_b DESC, w2 LIMIT K (the same deterministic
    // tie-break as the Spark TakeOrdered) with coalesce to the floor
    // count, so a word wrongly kept/pruned or a wrong floor flips the
    // backoff branch and hash-mismatches. pr/model CTEs are AS MATERIALIZED:
    // the pair stream is referenced 5 times (cab/ca/cb/tot + scoring),
    // and DuckDB's default inlining re-expands the unnest under each —
    // the Bpe-oracle blowup shape, which at 10x scale ran minutes and
    // tens of GB before the hint.
    // Same pair stream as the PMI oracle; the 9-term xlx expansion runs
    // per output row over exact BIGINT counts (marginals re-derived from
    // the raw pair stream = the Spark side's sums over the pair-count
    // table, the PMI equivalence), ln being the only FP exposure.
    "q_text_collocations" ->
      s"""WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
         prs AS (SELECT unnest(list_transform(range(1, len(t)),
                   i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS p
                 FROM toks WHERE len(t) >= 2),
         pr AS MATERIALIZED (SELECT p.w1 AS w1, p.w2 AS w2 FROM prs),
         cab AS (SELECT w1, w2, count(*) AS k11 FROM pr GROUP BY w1, w2),
         ca AS (SELECT w1, count(*) AS ra FROM pr GROUP BY w1),
         cb AS (SELECT w2, count(*) AS cb FROM pr GROUP BY w2),
         tot AS (SELECT count(*) AS nn FROM pr),
         g AS (SELECT w1, w2, k11, ra, cb, nn,
                 ra - k11 AS k12, cb - k11 AS k21,
                 nn - ra - cb + k11 AS k22
               FROM cab JOIN ca USING (w1) JOIN cb USING (w2) CROSS JOIN tot
               WHERE k11 >= $CollocMinPair)
         SELECT w1, w2, k11 AS n_pair,
           CAST(floor(2.0 * (
               (CASE WHEN k11 > 0 THEN CAST(k11 AS DOUBLE) * ln(CAST(k11 AS DOUBLE)) ELSE 0.0 END)
             + (CASE WHEN k12 > 0 THEN CAST(k12 AS DOUBLE) * ln(CAST(k12 AS DOUBLE)) ELSE 0.0 END)
             + (CASE WHEN k21 > 0 THEN CAST(k21 AS DOUBLE) * ln(CAST(k21 AS DOUBLE)) ELSE 0.0 END)
             + (CASE WHEN k22 > 0 THEN CAST(k22 AS DOUBLE) * ln(CAST(k22 AS DOUBLE)) ELSE 0.0 END)
             - (CASE WHEN ra > 0 THEN CAST(ra AS DOUBLE) * ln(CAST(ra AS DOUBLE)) ELSE 0.0 END)
             - (CASE WHEN nn - ra > 0 THEN CAST(nn - ra AS DOUBLE) * ln(CAST(nn - ra AS DOUBLE)) ELSE 0.0 END)
             - (CASE WHEN cb > 0 THEN CAST(cb AS DOUBLE) * ln(CAST(cb AS DOUBLE)) ELSE 0.0 END)
             - (CASE WHEN nn - cb > 0 THEN CAST(nn - cb AS DOUBLE) * ln(CAST(nn - cb AS DOUBLE)) ELSE 0.0 END)
             + (CASE WHEN nn > 0 THEN CAST(nn AS DOUBLE) * ln(CAST(nn AS DOUBLE)) ELSE 0.0 END)
           ) * 1e6 + 0.5) AS BIGINT) AS g2_micro
         FROM g ORDER BY g2_micro DESC, w1, w2""",
    "q_text_bigram_lm" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                       FROM documents),
         prs AS (SELECT doc_id, unnest(list_transform(range(1, len(t)),
                   i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS p
                 FROM toks WHERE len(t) >= 2),
         pr AS MATERIALIZED (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM prs),
         cab AS MATERIALIZED (
           SELECT w1, w2, count(*) AS n_ab FROM pr GROUP BY w1, w2),
         ca AS MATERIALIZED (SELECT w1, count(*) AS n_a FROM pr GROUP BY w1),
         capped AS MATERIALIZED (
           SELECT w1, w2, n_ab, n_a FROM cab JOIN ca USING (w1)
           WHERE n_ab >= $BigramMinCount),
         cb AS MATERIALIZED (SELECT w2, count(*) AS n_b FROM pr GROUP BY w2),
         cbk AS MATERIALIZED (
           SELECT w2, n_b FROM cb ORDER BY n_b DESC, w2 ASC LIMIT $VocabTopK),
         tot AS MATERIALIZED (SELECT count(*) AS n_tot FROM pr),
         q AS (SELECT doc_id,
             CAST(floor(-ln(
               (CASE WHEN n_ab IS NOT NULL
                     THEN 0.75 * (CAST(n_ab AS DOUBLE) / n_a)
                     ELSE 0.0 END)
               + 0.25 * (CAST(coalesce(n_b, $UnigramFloorCount) AS DOUBLE)
                 / n_tot)) * 1000000 + 0.5)
               AS BIGINT) AS q
           FROM pr LEFT JOIN capped USING (w1, w2)
             LEFT JOIN cbk USING (w2) CROSS JOIN tot)
         SELECT doc_id, count(*) AS n_pairs,
           floor(CAST(sum(q) AS DOUBLE) / count(*) + 0.5) / 1000000 AS nll2
         FROM q GROUP BY doc_id ORDER BY doc_id""",
    // Re-derives every KN model table from the same single pair-count
    // aggregation (sums and ROW counts over cab — continuation counts,
    // not frequencies) and mirrors the discount arithmetic's op sequence
    // exactly; BIGINT-cast n_a keeps the division operand types clean
    // (DuckDB sums BIGINT into HUGEINT; the cast is exact at any corpus
    // size whose pair total fits a long — Spark's own overflow point).
    "q_text_kneser_ney" ->
      s"""WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
         prs AS (SELECT unnest(list_transform(range(1, len(t)),
                   i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS p
                 FROM toks WHERE len(t) >= 2),
         pr AS (SELECT p.w1 AS w1, p.w2 AS w2 FROM prs),
         cab AS MATERIALIZED (
           SELECT w1, w2, count(*) AS n_ab FROM pr GROUP BY w1, w2),
         ca AS (SELECT w1, CAST(sum(n_ab) AS BIGINT) AS n_a,
                  count(*) AS n1p_a FROM cab GROUP BY w1),
         cb AS (SELECT w2, count(*) AS n1p_b FROM cab GROUP BY w2),
         tot AS (SELECT count(*) AS n_types FROM cab)
         SELECT cab.w1, cab.w2, cab.n_ab,
           CAST(floor(((CAST(n_ab AS DOUBLE) - 0.75) / n_a
             + 0.75 * CAST(n1p_a AS DOUBLE) / n_a
               * (CAST(n1p_b AS DOUBLE) / n_types)) * 1000000 + 0.5)
             AS BIGINT) AS pkn_micro
         FROM cab JOIN ca USING (w1) JOIN cb USING (w2) CROSS JOIN tot
         WHERE n_ab >= $BigramMinCount
         ORDER BY pkn_micro DESC, w1, w2""",
    // Independently re-derives the whole NB model: top-K vocabulary
    // (count desc, word asc — the Spark TakeOrdered tie-break), V =
    // kept + 1 (UNK type), dense kept-vocab x class grid with Laplace
    // smoothing, the per-class UNK term for OOV tokens, micro-nat
    // quantization at each ln, exact BIGINT sums, class-asc tie-break —
    // any Spark drift in the cap boundary, smoothing, densification,
    // OOV accounting, priors, or tie-breaks hash-mismatches.
    "q_text_nb_classify" ->
      s"""WITH t2 AS (SELECT doc_id, lang,
             unnest(string_split(text, ' ')) AS word FROM documents),
         toks AS MATERIALIZED (SELECT * FROM t2 WHERE length(word) >= 1),
         cwl AS MATERIALIZED (
           SELECT word, lang AS hyp, count(*) AS c FROM toks GROUP BY 1, 2),
         kept AS MATERIALIZED (
           SELECT word FROM (SELECT word, sum(c) AS cw FROM cwl GROUP BY word)
           ORDER BY cw DESC, word ASC LIMIT $VocabTopK),
         v AS (SELECT count(*) + 1 AS v_size FROM kept),
         classes AS (SELECT DISTINCT lang AS hyp FROM documents),
         tot AS (SELECT hyp, CAST(sum(c) AS BIGINT) AS t FROM cwl GROUP BY 1),
         model AS (SELECT kept.word, classes.hyp,
             CAST(floor(-ln((coalesce(c, 0) + 1.0) / (t + v_size)) * 1e6 + 0.5)
               AS BIGINT) AS q
           FROM kept CROSS JOIN classes
           LEFT JOIN cwl ON cwl.word = kept.word AND cwl.hyp = classes.hyp
           JOIN tot ON tot.hyp = classes.hyp CROSS JOIN v),
         oovq AS (SELECT hyp,
             CAST(floor(-ln(1.0 / (t + v_size)) * 1e6 + 0.5) AS BIGINT) AS q_unk
           FROM tot CROSS JOIN v),
         pri AS (SELECT lang AS hyp,
             CAST(floor(-ln(CAST(nd AS DOUBLE) / ndt) * 1e6 + 0.5) AS BIGINT) AS qp
           FROM (SELECT lang, count(*) AS nd FROM documents GROUP BY 1) x
           CROSS JOIN (SELECT count(*) AS ndt FROM documents) y),
         seen AS (SELECT toks.doc_id, min(toks.lang) AS lang, m.hyp,
             CAST(sum(m.q) AS BIGINT) AS s
           FROM toks JOIN model m ON m.word = toks.word
           GROUP BY toks.doc_id, m.hyp),
         oov AS (SELECT o.doc_id, o.lang, oovq.hyp,
             o.n_oov * oovq.q_unk AS s
           FROM (SELECT doc_id, min(lang) AS lang, count(*) AS n_oov
                 FROM toks WHERE word NOT IN (SELECT word FROM kept)
                 GROUP BY doc_id) o CROSS JOIN oovq),
         sc AS (SELECT doc_id, min(lang) AS lang, hyp,
             CAST(sum(s) AS BIGINT) AS s
           FROM (SELECT * FROM seen UNION ALL SELECT * FROM oov)
           GROUP BY doc_id, hyp),
         fin AS (SELECT doc_id, lang, hyp, s + qp AS score,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY s + qp ASC, hyp ASC) AS rn
           FROM sc JOIN pri USING (hyp))
         SELECT doc_id, lang, hyp AS pred_nb,
           CAST(score AS BIGINT) AS nb_score_micro
         FROM fin WHERE rn = 1 ORDER BY doc_id""",
    // Mirrors the capped DSIR model: top-K features by raw count (ties
    // word asc), V = kept + 1, per-word lambda over kept words, the
    // zero-count UNK lambda for everything else (LEFT JOIN + coalesce).
    "q_text_dsir" ->
      s"""WITH t2 AS (SELECT doc_id, lang = 'en' AS is_t,
             unnest(string_split(text, ' ')) AS word FROM documents),
         toks AS MATERIALIZED (SELECT * FROM t2 WHERE length(word) >= 1),
         cnts AS MATERIALIZED (SELECT word, count(*) AS c_raw,
             sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS c_tgt
           FROM toks GROUP BY 1),
         kept AS MATERIALIZED (
           SELECT word, c_raw, c_tgt FROM cnts
           ORDER BY c_raw DESC, word ASC LIMIT $VocabTopK),
         v AS (SELECT count(*) + 1 AS v_size FROM kept),
         tots AS (SELECT CAST(sum(c_raw) AS BIGINT) AS t_raw,
             CAST(sum(c_tgt) AS BIGINT) AS t_tgt FROM cnts),
         model AS (SELECT word,
             CAST(floor(-ln((c_raw + 1.0) / (t_raw + v_size)) * 1e6 + 0.5) AS BIGINT)
             - CAST(floor(-ln((c_tgt + 1.0) / (t_tgt + v_size)) * 1e6 + 0.5) AS BIGINT)
               AS lambda
           FROM kept CROSS JOIN tots CROSS JOIN v),
         unk AS (SELECT
             CAST(floor(-ln(1.0 / (t_raw + v_size)) * 1e6 + 0.5) AS BIGINT)
             - CAST(floor(-ln(1.0 / (t_tgt + v_size)) * 1e6 + 0.5) AS BIGINT)
               AS lambda_unk
           FROM tots CROSS JOIN v),
         w AS (SELECT toks.doc_id, count(*) AS n_tok,
             CAST(sum(coalesce(m.lambda, lambda_unk)) AS BIGINT)
               AS dsir_weight_micro
           FROM toks LEFT JOIN model m ON m.word = toks.word
           CROSS JOIN unk
           GROUP BY toks.doc_id)
         SELECT w.doc_id, d.lang, w.n_tok, w.dsir_weight_micro
         FROM w JOIN documents d ON d.doc_id = w.doc_id
         ORDER BY w.doc_id""",
    "q_text_entropy" ->
      """WITH ch AS (SELECT doc_id, length(text) AS n,
             unnest(string_split(text, '')) AS ch FROM documents),
         cnt AS (SELECT doc_id, n, ch, count(*) AS c FROM ch GROUP BY 1, 2, 3),
         q AS (SELECT doc_id, n, c,
             CAST(floor(-ln(CAST(c AS DOUBLE) / n) * 1e6 + 0.5) AS BIGINT) AS q
           FROM cnt)
         SELECT doc_id, CAST(max(n) AS INT) AS n_chars,
           count(*) AS n_distinct_chars,
           CAST(floor(CAST(sum(c * q) AS DOUBLE) / max(n) + 0.5) AS BIGINT)
             AS entropy_micro
         FROM q GROUP BY doc_id ORDER BY doc_id""",
    // The sketch's output is exact, so the oracle is the naive plan the
    // sketch replaces at scale: full GROUP BY then the 1/(k+1) HAVING.
    "q_text_heavy_hitters" ->
      s"""WITH w AS (SELECT unnest(string_split(text, ' ')) AS word
             FROM documents),
         w2 AS (SELECT word FROM w WHERE length(word) >= 1),
         t AS (SELECT count(*) AS n FROM w2),
         c AS (SELECT word, count(*) AS cnt FROM w2 GROUP BY word)
         SELECT word, cnt FROM c, t
         WHERE cnt * ${HeavyHitterK + 1} > n
         ORDER BY cnt DESC, word""",
    // Same tokenization as q_text_tfidf; arithmetic mirrors the Spark
    // column expressions operation-for-operation (avgdl division first,
    // then dl/avgdl; idf = ln(1 + ((N-df)+0.5)/(df+0.5)); micro-quantize
    // per term, sum exact longs per doc; row_number ties on doc_id).
    "q_text_bm25" ->
      s"""WITH toks AS (
           SELECT doc_id,
             unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term
           FROM documents),
         tok2 AS (SELECT doc_id, term FROM toks WHERE term <> ''),
         dl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY 1),
         stats AS (SELECT count(*) AS n, sum(dl) AS sumdl FROM dl),
         q(query_id, term) AS (VALUES ${Bm25Queries.flatMap { case (q, ts) =>
        ts.map(t => s"($q, '$t')") }.mkString(", ")}),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2
                WHERE term IN (${Bm25Queries.flatMap(_._2).distinct
        .map(t => s"'$t'").mkString(", ")})
                GROUP BY 1, 2),
         df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         agg AS (
           SELECT q.query_id, tf.doc_id,
             CAST(sum(CAST(floor(
               ln(1.0 + ((CAST(n AS DOUBLE) - df) + 0.5)
                          / (CAST(df AS DOUBLE) + 0.5)) *
               (CAST(tf AS DOUBLE) * ${Bm25K1 + 1.0d} /
                 (CAST(tf AS DOUBLE) + ${Bm25K1} * (${1.0d - Bm25B} +
                   ${Bm25B} * (CAST(dl.dl AS DOUBLE) /
                     (CAST(sumdl AS DOUBLE) / n))))) *
               1000000 + 0.5) AS BIGINT)) AS BIGINT) AS score_micro
           FROM tf JOIN df USING (term) JOIN q USING (term)
                JOIN dl USING (doc_id) CROSS JOIN stats
           GROUP BY 1, 2)
         SELECT query_id, rnk, doc_id, score_micro FROM (
           SELECT query_id, doc_id, score_micro,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY score_micro DESC, doc_id ASC) AS INT) AS rnk
           FROM agg) z
         WHERE rnk <= $Bm25TopK ORDER BY query_id, rnk""",
    // Replays the top-K kept vocabulary (ORDER BY cc DESC, term LIMIT K —
    // the bounded TakeOrdered), the <oov> collapse, and the per-bucket
    // micro-nat quantization exactly.
    "q_text_kl_drift" ->
      s"""WITH toks AS (
           SELECT source,
             unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term
           FROM documents),
         tok2 AS (SELECT source, term FROM toks WHERE term <> ''),
         st AS (SELECT source, term, count(*) AS c FROM tok2 GROUP BY 1, 2),
         kept AS (SELECT term FROM (
             SELECT term, sum(c) AS cc FROM st GROUP BY 1) z
           ORDER BY cc DESC, term ASC LIMIT $KlVocabTopK),
         stb AS (SELECT source,
             CASE WHEN term IN (SELECT term FROM kept) THEN term
                  ELSE '<oov>' END AS bucket, sum(c) AS cs
           FROM st GROUP BY 1, 2),
         cb AS (SELECT bucket, sum(cs) AS cc FROM stb GROUP BY 1),
         tots AS (SELECT source, sum(cs) AS tot_s FROM stb GROUP BY 1),
         totc AS (SELECT sum(cs) AS tot_c FROM stb)
         SELECT s.source, count(*) AS n_buckets,
           CAST(sum(s.cs) AS BIGINT) AS tot_tok,
           CAST(sum(CAST(floor(
             (CAST(s.cs AS DOUBLE) / t.tot_s) *
             ln((CAST(s.cs AS DOUBLE) * x.tot_c)
                / (CAST(t.tot_s AS DOUBLE) * c.cc)) *
             1000000 + 0.5) AS BIGINT)) AS BIGINT) AS kl_micro
         FROM stb s JOIN cb c USING (bucket) JOIN tots t USING (source)
              CROSS JOIN totc x
         GROUP BY 1 ORDER BY 1""",
    // Same prefix-bucket derivation; pure integer arithmetic throughout
    // (min-doc first-appearance, integer-div bucketing), so the replay
    // is exact with no quantization at all.
    "q_text_heaps_law" ->
      s"""WITH nd AS (SELECT max(doc_id) + 1 AS ndocs FROM documents),
         toks AS (SELECT doc_id,
             unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term
           FROM documents),
         tok2 AS (SELECT doc_id, term FROM toks WHERE term <> ''),
         docb AS (SELECT doc_id * $HeapsBuckets // ndocs AS bucket,
             count(*) AS docs_b
           FROM documents, nd GROUP BY 1),
         tokb AS (SELECT doc_id * $HeapsBuckets // ndocs AS bucket,
             count(*) AS toks_b
           FROM tok2, nd GROUP BY 1),
         vocb AS (SELECT fd * $HeapsBuckets // ndocs AS bucket,
             count(*) AS voc_b
           FROM (SELECT term, min(doc_id) AS fd FROM tok2 GROUP BY 1) z,
                nd GROUP BY 1)
         SELECT d.bucket,
           CAST(sum(d.docs_b) OVER w AS BIGINT) AS cum_docs,
           CAST(sum(coalesce(t.toks_b, 0)) OVER w AS BIGINT) AS cum_tokens,
           CAST(sum(coalesce(v.voc_b, 0)) OVER w AS BIGINT) AS cum_vocab
         FROM docb d LEFT JOIN tokb t USING (bucket)
              LEFT JOIN vocb v USING (bucket)
         WINDOW w AS (ORDER BY d.bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         ORDER BY d.bucket""",
    // Replays the bounded heap as a ranking window; the VMR arithmetic
    // mirrors the Spark expression shape exactly (two IEEE divides,
    // subtract, micro-quantize — the deterministic FP class).
    "q_text_burstiness" ->
      s"""WITH toks AS (SELECT doc_id,
             unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term
           FROM documents),
         tok2 AS (SELECT doc_id, term FROM toks WHERE term <> ''),
         td AS (SELECT term, doc_id, count(*) AS c FROM tok2 GROUP BY 1, 2),
         st AS (SELECT term, count(*) AS df,
             CAST(sum(c) AS BIGINT) AS tot,
             CAST(sum(c * c) AS BIGINT) AS ss
           FROM td GROUP BY 1),
         nd AS (SELECT count(*) AS ndocs FROM documents),
         top AS (SELECT term, df, tot, ss FROM (
             SELECT st.*, row_number() OVER
               (ORDER BY tot DESC, term ASC) AS rn FROM st) z
           WHERE rn <= $BurstTopK)
         SELECT term, df, tot,
           CAST(floor((CAST(ss AS DOUBLE) / tot
             - CAST(tot AS DOUBLE) / ndocs) * 1000000 + 0.5) AS BIGINT)
             AS vmr_micro
         FROM top, nd ORDER BY tot DESC, term""",
    // Same segmentation (running stopword count partitions each doc
    // into phrases), same per-word micro-quantization before the exact
    // per-phrase sum. DuckDB's parallel unnests zip, giving 1-based
    // positions vs Spark's 0-based posexplode — positions only ever
    // order/segment, never surface, so the offset is immaterial.
    "q_text_rake" -> {
      val sw = RakeStopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH toks AS (
           SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w,
             unnest(range(1, len(string_split(lower(text), ' ')) + 1)) AS pos
           FROM documents),
         t2 AS (SELECT * FROM toks WHERE w <> ''),
         tagged AS (SELECT doc_id, pos, w,
             sum(CASE WHEN w IN ($sw)
                   OR regexp_matches(w, '[^a-z0-9]')
                 THEN 1 ELSE 0 END) OVER
               (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph
           FROM t2),
         body AS (SELECT doc_id, pos, w, ph FROM tagged
                  WHERE w NOT IN ($sw)
                    AND NOT regexp_matches(w, '[^a-z0-9]')),
         wl AS (SELECT body.*, count(*) OVER (PARTITION BY doc_id, ph)
                  AS plen
                FROM body),
         ws AS (SELECT w, count(*) AS freq,
                  CAST(sum(plen) AS BIGINT) AS degree
                FROM wl GROUP BY 1),
         ws2 AS (SELECT w, CAST(floor(CAST(degree AS DOUBLE) / freq
                   * 1000000 + 0.5) AS BIGINT) AS wscore_micro
                 FROM ws),
         phr AS (SELECT wl.doc_id, wl.ph,
             string_agg(wl.w, ' ' ORDER BY wl.pos) AS phrase,
             count(*) AS n_words,
             CAST(sum(ws2.wscore_micro) AS BIGINT) AS score_micro
           FROM wl JOIN ws2 USING (w) GROUP BY 1, 2),
         ded AS (SELECT phrase,
             CAST(max(n_words) AS BIGINT) AS n_words,
             CAST(max(score_micro) AS BIGINT) AS score_micro,
             count(*) AS n_occ
           FROM phr GROUP BY 1),
         top AS (SELECT phrase, n_words, score_micro, n_occ FROM (
             SELECT ded.*, row_number() OVER
               (ORDER BY score_micro DESC, phrase ASC) AS rn FROM ded) z
           WHERE rn <= $RakeTopK)
         SELECT phrase, n_words, score_micro, n_occ
         FROM top ORDER BY score_micro DESC, phrase"""
    },
    // Same exact counts; the FRE linear combination is evaluated in the
    // same left-to-right order so every IEEE op pairs up bit-identically.
    "q_text_readability" ->
      """WITH per AS (
           SELECT lang, source,
             CAST(len(list_filter(string_split_regex(lower(text),
               '[^a-z0-9]+'), w -> w <> '')) AS BIGINT) AS w,
             CAST(greatest(len(list_filter(string_split_regex(text,
               '[.!?]+'), x -> trim(x) <> '')), 1) AS BIGINT) AS sent,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
               AS BIGINT) AS syl
           FROM documents)
         SELECT lang, source, count(*) AS n_docs,
           CAST(sum(w) AS BIGINT) AS n_words,
           CAST(sum(sent) AS BIGINT) AS n_sents,
           CAST(sum(syl) AS BIGINT) AS n_sylls,
           CAST(floor((206.835
               - 1.015 * (CAST(sum(w) AS DOUBLE) / CAST(sum(sent) AS BIGINT))
               - 84.6 * (CAST(sum(syl) AS DOUBLE) / CAST(sum(w) AS BIGINT)))
             * 1000000 + 0.5) AS BIGINT) AS fre_micro
         FROM per WHERE w > 0 GROUP BY 1, 2 ORDER BY 1, 2""",
    // Integer-exact rule comparisons — nothing to quantize. DuckDB's
    // regexp_replace needs the explicit 'g' flag to match Spark's
    // global-by-default replace.
    "q_quality_gopher" -> {
      val sw = GopherStopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH pw AS (
           SELECT doc_id, source, w, count(*) AS c FROM (
             SELECT doc_id, source,
               unnest(list_filter(string_split_regex(lower(text),
                 '[^a-z0-9]+'), w -> w <> '')) AS w
             FROM documents) t GROUP BY 1, 2, 3),
         pd AS (SELECT doc_id, source, CAST(sum(c) AS BIGINT) AS words,
             CAST(sum(len(w) * c) AS BIGINT) AS wchars,
             CAST(max(c) AS BIGINT) AS topc,
             CAST(sum(CASE WHEN w IN ($sw) THEN c ELSE 0 END)
               AS BIGINT) AS stopc
           FROM pw GROUP BY 1, 2),
         sym AS (SELECT doc_id,
             CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))
               AS BIGINT) AS nsym
           FROM documents),
         f AS (SELECT pd.source,
             (words < 25 OR words > 85) AS g1,
             (wchars < words * 4 OR wchars > words * 10) AS g2,
             (nsym * 10 > words) AS g3,
             (stopc < 2) AS g4,
             (topc * 5 > words) AS g5
           FROM pd JOIN sym USING (doc_id))
         SELECT source, count(*) AS n_docs,
           CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS fail_g1,
           CAST(sum(CASE WHEN g2 THEN 1 ELSE 0 END) AS BIGINT) AS fail_g2,
           CAST(sum(CASE WHEN g3 THEN 1 ELSE 0 END) AS BIGINT) AS fail_g3,
           CAST(sum(CASE WHEN g4 THEN 1 ELSE 0 END) AS BIGINT) AS fail_g4,
           CAST(sum(CASE WHEN g5 THEN 1 ELSE 0 END) AS BIGINT) AS fail_g5,
           CAST(sum(CASE WHEN NOT g1 AND NOT g2 AND NOT g3 AND NOT g4
             AND NOT g5 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
         FROM f GROUP BY 1 ORDER BY 1"""
    },
    // Same capped graph; the integer-PageRank recurrence replays via
    // PageRank.oracleSql's unrolled rounds nested as a subquery (the
    // q_graph_pagerank generator — outer CTE names chosen to dodge its
    // internal e/deg/nv/r0/cK names).
    "q_text_textrank" -> {
      val prSql = graft.ops.PageRank.oracleSql(
        "SELECT src, dst FROM tre", TextRankIters)
      // AS MATERIALIZED: DuckDB inlines CTEs by default, and the
      // unrolled PageRank rounds reference the edge pipeline ~2·iters
      // times — inlined, each copy re-plans the whole token stream and
      // the compare process balloons (observed: an 85 GB OOM at the
      // sf10 rung). Materializing pins each stage to one evaluation;
      // `tre` is K²-bounded so everything downstream is tiny.
      s"""WITH toks AS MATERIALIZED (
           SELECT doc_id,
             unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS w,
             unnest(range(1,
               len(string_split_regex(lower(text), '[^a-z0-9]+')) + 1))
               AS pos
           FROM documents),
         ids AS MATERIALIZED (SELECT w, CAST(rn AS BIGINT) AS node FROM (
             SELECT w, row_number() OVER (ORDER BY cnt DESC, w ASC) AS rn
             FROM (SELECT w, count(*) AS cnt FROM toks WHERE w <> ''
                   GROUP BY 1) v) z
           WHERE rn <= $TextRankVocabK),
         prs AS MATERIALIZED (SELECT t.w, t.doc_id, t.pos,
             lead(t.w) OVER (PARTITION BY t.doc_id ORDER BY t.pos) AS w2
           FROM toks t),
         pe AS MATERIALIZED (SELECT a.node AS id1, b.node AS id2
           FROM prs p JOIN ids a ON a.w = p.w JOIN ids b ON b.w = p.w2
           WHERE p.w <> p.w2),
         tre AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
           SELECT id1 AS src, id2 AS dst FROM pe
           UNION ALL SELECT id2, id1 FROM pe) u),
         pr AS (SELECT * FROM ($prSql) z)
         SELECT i.w AS word, pr.rank_micro
         FROM pr JOIN ids i ON i.node = pr.node
         ORDER BY pr.rank_micro DESC, word
         LIMIT $TextRankTopK"""
    }
  )
}
