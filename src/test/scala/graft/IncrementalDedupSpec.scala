package graft

import graft.ops.Dedup
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._

/** Incremental LSH dedup: a new batch probed against a persisted
  * signature index finds its corpus near-dups, never re-pairs the corpus
  * with itself, and the index grows by append for the next batch.
  */
class IncrementalDedupSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and then " +
    "runs far away into the deep dark forest to hide from all the hunters"

  // corpus: two near-identical docs (1,2) + one unrelated (3)
  private def corpus = Seq(
    (1L, base),
    (2L, base + " tonight"),
    (3L, "completely different content about databases and distributed systems at scale")
  ).toDF("doc_id", "text")

  // new batch: a near-dup of corpus doc 1, and an unrelated doc
  private def batch = Seq(
    (100L, base + " quietly"),
    (101L, "unrelated fresh material mentioning streams watermarks and state stores only")
  ).toDF("doc_id", "text")

  test("new batch finds corpus near-dups; corpus pairs are never formed") {
    val idx = tmpDir("lsh_idx_test_")
    Dedup.writeSignatureIndex(corpus, "doc_id", "text", idx)
    val pairs = Dedup.incrementalCandidatePairs(spark, batch, "doc_id", "text", idx)
      .as[(Long, Long)].collect().toSet
    // the planted near-dup is found against BOTH corpus copies
    assert(pairs.contains((100L, 1L)) && pairs.contains((100L, 2L)), s"got $pairs")
    // the unrelated new doc matches nothing
    assert(!pairs.exists(_._1 == 101L), s"got $pairs")
    // corpus-corpus pairs (1,2) are NOT recomputed — every pair's left
    // side is a new-batch doc
    assert(pairs.forall(_._1 >= 100L), s"got $pairs")
  }

  test("append grows the index: the next batch matches the previous one") {
    val idx = tmpDir("lsh_idx_test2_")
    Dedup.writeSignatureIndex(corpus, "doc_id", "text", idx)
    // steady-state loop: probe batch 1, then append it to the index
    Dedup.writeSignatureIndex(batch, "doc_id", "text", idx, mode = SaveMode.Append)
    // batch 2 holds a near-dup of BATCH-1 doc 100 (not of the original corpus)
    val batch2 = Seq((200L, base + " quietly indeed")).toDF("doc_id", "text")
    val pairs = Dedup.incrementalCandidatePairs(spark, batch2, "doc_id", "text", idx)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((200L, 100L)), s"batch-2 must match appended batch-1: $pairs")
  }

  test("dedup clusters: transitive near-dups collapse to ONE canonical keep") {
    // A~B and B~C (each pair above threshold) but A and C may be farther
    // apart — acting on pairs independently could keep two of the three;
    // the cluster verdict must keep exactly min(doc_id) and drop the
    // other two, with cluster_size 3 on every member's row.
    val docs = Seq(
      (10L, base),
      (11L, base + " tonight"),
      (12L, base + " tonight okay"),
      (99L, "totally different text about compilers and register allocation"))
      .toDF("doc_id", "text")
    val cands = Dedup.lshCandidatePairs(
      Dedup.minHashSignatures(docs, "doc_id", "text"))
    val pairs = Dedup.verifyCandidates(docs, "doc_id", "text",
        cands, "id_a", "id_b")
      .select("id_a", "id_b")
    assert(pairs.count() >= 2, "fixture degenerate: chain pairs not formed")
    val comp = graft.ops.Components.connectedComponents(pairs, "id_a", "id_b")
    val out = comp.groupBy("component")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("cluster_size"))
      .join(comp, "component")
      .collect().map(r => (r.getLong(2), r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((10L, 10L, 3L), (11L, 10L, 3L), (12L, 10L, 3L)),
      out.toString)
  }

  test("compactSignatureIndex merges append accretion, preserves the sidecar, changes nothing") {
    val idx = tmpDir("lsh_idx_test6_")
    Dedup.writeSignatureIndex(corpus, "doc_id", "text", idx)
    // simulate the continuous loop: 6 tiny appended batches = 6 extra file sets
    for (i <- 0 until 6)
      Dedup.writeSignatureIndex(
        Seq((300L + i, s"filler batch $i with some moderately unique text"))
          .toDF("doc_id", "text"),
        "doc_id", "text", idx, mode = SaveMode.Append)
    val before = graft.io.Maintenance.layoutStats(spark, idx)
    val pairsBefore = Dedup.incrementalCandidatePairs(
      spark, batch, "doc_id", "text", idx).as[(Long, Long)].collect().toSet
    val after = Dedup.compactSignatureIndex(spark, idx)
    assert(after.nFiles < before.nFiles,
      s"compaction must shrink the layout: ${before.nFiles} -> ${after.nFiles}")
    // the sidecar survived the swap (the generic Maintenance.compact
    // path alone would have stripped it and the probe would refuse)
    val pairsAfter = Dedup.incrementalCandidatePairs(
      spark, batch, "doc_id", "text", idx).as[(Long, Long)].collect().toSet
    assert(pairsAfter == pairsBefore, s"$pairsBefore -> $pairsAfter")
    // and the loop continues: appends still validate against the sidecar
    Dedup.writeSignatureIndex(
      Seq((400L, base + " quietly whispered")).toDF("doc_id", "text"),
      "doc_id", "text", idx, mode = SaveMode.Append)
    val next = Dedup.incrementalCandidatePairs(spark,
        Seq((500L, base + " quietly murmured")).toDF("doc_id", "text"),
        "doc_id", "text", idx)
      .as[(Long, Long)].collect().toSet
    assert(next.contains((500L, 400L)), s"post-compaction append invisible: $next")
  }

  test("mismatched banding params are refused via the index sidecar") {
    val idx = tmpDir("lsh_idx_test3_")
    Dedup.writeSignatureIndex(corpus, "doc_id", "text", idx) // defaults: 3/32/8
    // internally-consistent but DIFFERENT banding: without the sidecar
    // check this would silently probe garbage buckets and match nothing
    val e = intercept[IllegalArgumentException](
      Dedup.incrementalCandidatePairs(spark, batch, "doc_id", "text", idx,
        perms = 32, rowsPerBand = 4))
    assert(e.getMessage.contains("banding params mismatch"), e.getMessage)
    // appends validate too
    val e2 = intercept[IllegalArgumentException](
      Dedup.writeSignatureIndex(batch, "doc_id", "text", idx, shingleN = 5,
        mode = SaveMode.Append))
    assert(e2.getMessage.contains("banding params mismatch"), e2.getMessage)
    // and plain internal inconsistency still fails fast
    intercept[IllegalArgumentException](
      Dedup.incrementalCandidatePairs(spark, batch, "doc_id", "text", idx,
        perms = 32, rowsPerBand = 7))
  }

  test("unsupported save modes are refused; stampIndexParams repairs a sidecar-less index") {
    val idx = tmpDir("lsh_idx_test5_")
    Dedup.writeSignatureIndex(corpus, "doc_id", "text", idx)
    // Ignore would no-op the data write but restamp the sidecar — refused
    val e = intercept[IllegalArgumentException](
      Dedup.writeSignatureIndex(batch, "doc_id", "text", idx, perms = 64,
        mode = SaveMode.Ignore))
    assert(e.getMessage.contains("Overwrite (build) or Append (grow)"), e.getMessage)
    // simulate a crash between data and sidecar writes: delete the sidecar
    val p = new org.apache.hadoop.fs.Path(idx, "_lsh_params")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, false)
    val e2 = intercept[IllegalArgumentException](
      Dedup.incrementalCandidatePairs(spark, batch, "doc_id", "text", idx))
    assert(e2.getMessage.contains("stampIndexParams"), e2.getMessage)
    // the documented repair restores probing with the original params
    Dedup.stampIndexParams(spark, idx, shingleN = 3, perms = 32, rowsPerBand = 8)
    val pairs = Dedup.incrementalCandidatePairs(spark, batch, "doc_id", "text", idx)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((100L, 1L)), s"repaired index must probe normally: $pairs")
  }

  test("index probe plan: batch side broadcasts, index side joins map-only") {
    // the corpus-sized index must stream through its scan into a broadcast
    // join with the (tiny) batch's buckets — an index-side shuffle here
    // would move the whole corpus index per daily batch
    val idx = tmpDir("lsh_idx_plan_")
    Dedup.writeSignatureIndex(corpus, "doc_id", "text", idx)
    val plan = Dedup.incrementalCandidatePairs(spark, batch, "doc_id", "text", idx)
      .queryExecution.executedPlan
    val bhj = collectWithSubqueries(plan) { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, s"index probe must broadcast the batch side:\n$plan")
    val indexSide = bhj.head.children(if (bhj.head.buildSide.toString == "BuildRight") 0 else 1)
    val shuffles = collectWithSubqueries(indexSide) { case e: ShuffleExchangeExec => e }
    assert(shuffles.isEmpty, s"index side must be map-only up to the probe join:\n$indexSide")
  }

  test("intra-batch duplicates: the documented loop's within-batch pass finds them") {
    // the index probe NEVER pairs two new docs with each other — a batch
    // holding two copies of the same doc appends both unless step 2 of
    // the documented loop (lshCandidatePairs WITHIN the batch) runs
    val dupBatch = Seq(
      (300L, base + " tonight maybe"),
      (301L, base + " tonight maybe"), // intra-batch duplicate
      (302L, "yet another unrelated document discussing compilers and type systems today")
    ).toDF("doc_id", "text")
    val idx = tmpDir("lsh_idx_test4_")
    Dedup.writeSignatureIndex(corpus.where(col("doc_id") === 3L), "doc_id", "text", idx)
    val vsCorpus = Dedup.incrementalCandidatePairs(spark, dupBatch, "doc_id", "text", idx)
      .as[(Long, Long)].collect().toSet
    assert(!vsCorpus.exists(p => p._1 >= 300L && p._2 >= 300L),
      s"index probe must not form new-new pairs: $vsCorpus")
    val within = Dedup.lshCandidatePairs(
        Dedup.minHashSignatures(dupBatch, "doc_id", "text"))
      .as[(Long, Long)].collect().toSet
    assert(within.contains((300L, 301L)), s"within-batch pass must find the dup: $within")
  }
}
