package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level audit of every `.collect()` in main — the BroadcastAudit
  * treatment for the other unbounded-capable API: a collect ships rows to
  * the DRIVER, so each site must carry an argument for why its row count
  * stays bounded as the corpus grows (an unbounded one is the
  * driver-OOM / not-actually-distributed smell the round-11 verdict's
  * anti-pattern sweep checked by hand). `.head()` calls are not audited:
  * that API is single-row by construction. A new `.collect()` fails the
  * suite until its file's count and bound are updated HERE; a removed
  * one fails as stale.
  */
class CollectAuditSpec extends AnyFunSuite {

  // file -> (expected .collect() sites, why each is bounded)
  private val allow: Map[String, (Int, String)] = Map(
    "Bucketing.scala" -> (1,
      "DESCRIBE EXTENDED rows — table-metadata-sized"),
    "Mmr.scala" -> (2,
      "query-point seed (limit(1)) + the TopK-bounded relevance shortlist (<= MmrShortlist rows) the driver greedy runs over"),
    "Coreset.scala" -> (2,
      "k-center seed + per-round farthest-point argmax — both limit(1)-bounded, k rounds total"),
    "OrderStats.scala" -> (3,
      "histogram counter cells <= brackets x bins per round (documented inline; single- and multi-column variants) + the multi-column bounds row per column (schema-bounded)"),
    "Bpe.scala" -> (2,
      "limit(1) pair argmax + limit(batchM+1) merge batch — both explicitly limited"),
    "ProductQuantizer.scala" -> (1,
      "seeded codebook fit sample — fixed sample size"),
    "PageRank.scala" -> (1,
      "fixedPointLocal edge list — limit(maxEdges+1)-bounded, refuses over-cap graphs (callers pass a by-construction K-bound, e.g. textrank's VocabK^2)"),
    "ScaleUpMain.scala" -> (1,
      "scale-up tooling (not a query operator): distinct user ids of the source corpus"),
    "LlmOps.scala" -> (3,
      "oracle memos: pairsOf (v2/v3 pipeline candidate memos, bounded by within-day near-dup volume) + recordPairs (limit(ReplayOracleCap+1)-bounded per stage; over-cap spills the full set to an Artifacts.replayOnce parquet via executor write) + simhash signatures (limit(ReplayOracleCap+1)-bounded; over-cap likewise sidecars)"),
    "Events.scala" -> (1,
      "sketch-tiles oracle memo (one row per event type, schema-bounded); RFM thresholds now arrive via OrderStats.quantilesDiscMulti's audited collects"),
    "Relational.scala" -> (2,
      "oracle memos: approx-distinct (one row per return flag) + approx-quantiles (flags x percentiles) — both schema-bounded"),
    "Multimodal.scala" -> (2,
      "oracle memos: dHash signatures + PNG byte sizes, both limit(MultimodalReplayCap+1)-bounded collects; over-cap spills to an Artifacts.replayOnce parquet"),
    "TextQueries.scala" -> (3,
      "KlRef fit memo: kept vocabulary (limit(KlVocabTopK)) + bucket marginals (<= K+1 rows by the <oov> collapse) — both K-bounded by construction; + the BPE merge-model load (<= BpeMerges rows — the persisted tokenizer artifact read back per q_bpe_apply invocation)"))

  test("every .collect() site in main is allowlisted with a boundedness argument") {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val found = walk(new java.io.File("src/main/scala")).flatMap { f =>
      val noComments = new String(
          java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .linesIterator.map(_.replaceAll("//.*", "")).mkString("\n")
      val n = "\\.collect\\(\\)".r.findAllIn(noComments).size
      if (n > 0) Some(f.getName -> n) else None
    }.toMap
    val unlisted = found.filter { case (f, n) => allow.get(f).forall(_._1 != n) }
    val stale = allow.filter { case (f, (n, _)) => !found.get(f).contains(n) }
    assert(unlisted.isEmpty,
      s"collect() sites without a recorded bound (file -> actual count; " +
        s"update CollectAuditSpec.allow with each site's bound): $unlisted")
    assert(stale.isEmpty,
      s"stale collect() allowlist entries (expected counts): $stale")
  }
}
