package graft

import graft.ops.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** Cross-method recall floors for the rows-only approximate queries, on the
  * driver's REAL sf0.001 tables (not planted toy data): the approximate
  * pipeline is checked against an exhaustive exact computation of the same
  * semantics, and its measured recall is pinned as a floor. This bounds the
  * rows-only catalog entries (`q_dedup_minhash_lsh`, `q_sim_lsh_ann`,
  * `q_sim_ivf_ann`) with a quantitative guarantee the DuckDB gate cannot
  * express. All pipelines are deterministic (fixed hash seeds / kmeans
  * seed), so the measured recall is a stable property of the code + data,
  * not a flaky sample — a drop below the pinned floor means the
  * algorithm changed.
  */
class RecallFloorSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def pairSet(df: org.apache.spark.sql.DataFrame,
                      a: String, b: String): Set[(Long, Long)] =
    df.select(col(a), col(b)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("minhash-LSH dedup recall vs exhaustive all-pairs Jaccard (real corpus)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // exhaustive ground truth: every (id_a < id_b) pair, exact token-shingle
    // Jaccard — the same shingle function the verify stage uses, so the
    // only difference under test is the LSH candidate generation
    val sh = docs.select(col("doc_id"),
      Dedup.tokenShingles(col("text"), 3).as("sh"))
    val allPairs = sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.sh").as("sh_a"), col("b.sh").as("sh_b"))
    val exact = pairSet(
      Dedup.withJaccard(allPairs, "sh_a", "sh_b", "jac")
        .filter(col("jac") >= 0.5), "id_a", "id_b")
    assert(exact.size >= 20, s"ground truth unexpectedly small: ${exact.size}")

    val verified = pairSet(
      Dedup.verifyCandidatesScoped(docs, "doc_id", "text",
        Dedup.lshCandidatePairs(Dedup.minHashSignatures(docs, "doc_id", "text")),
        "id_a", "id_b"), "id_a", "id_b")
    // precision is 1 BY CONSTRUCTION (candidates are exact-Jaccard verified
    // at the same threshold) — assert it anyway as a drift tripwire
    assert(verified.subsetOf(exact),
      s"verified pairs outside the exact >=0.5 set: ${verified -- exact}")
    val recall = (verified & exact).size.toDouble / exact.size
    info(f"LSH dedup recall: $recall%.4f (${(verified & exact).size}/${exact.size})")
    assert(recall >= 0.90, f"LSH dedup recall $recall%.4f below pinned floor")
  }

  test("LSH ANN recall@3 vs exact top-k (real embeddings)") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = e.filter(col("vec_id") < 50)
    val exact = pairSet(Similarity.bruteForceTopK(queries, e, 3),
      "query_id", "neighbor_id")
    // the catalog configuration (q_sim_lsh_ann): multi-probe, radius 1
    val ann = pairSet(
      Similarity.lshTopK(e, queries, dim = 64, k = 3, bits = 4,
        hammingRadius = 1),
      "query_id", "neighbor_id")
    val recall = (ann & exact).size.toDouble / exact.size
    info(f"LSH ANN recall@3: $recall%.4f (${(ann & exact).size}/${exact.size})")
    // measured 0.4333 multi-probe (vs 0.1133 single-probe) on the real
    // near-isotropic embeddings — close to the (1-θ/π)-collision
    // prediction; clustered data reaches 1.0 (LlmOpsSpec planted test)
    assert(recall >= 0.40, f"LSH ANN recall $recall%.4f below pinned floor")
    // single-probe must stay strictly worse-or-equal AND nonzero — a
    // tripwire that the multi-probe expansion actually probes supersets
    val single = pairSet(
      Similarity.lshTopK(e, queries, dim = 64, k = 3, bits = 4),
      "query_id", "neighbor_id")
    val singleRecall = (single & exact).size.toDouble / exact.size
    info(f"single-probe recall@3: $singleRecall%.4f")
    assert(singleRecall <= recall && singleRecall > 0.0)
  }

  test("IVF ANN recall@3 vs exact top-k (real embeddings)") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = e.filter(col("vec_id") < 50)
    val exact = pairSet(Similarity.bruteForceTopK(queries, e, 3),
      "query_id", "neighbor_id")
    val index = Similarity.fitIvf(e, nLists = 8,
      tmpDir("graft_ivf_recall_"))
    val ivf = pairSet(Similarity.probeIvf(spark, index, queries, k = 3, nProbe = 2),
      "query_id", "neighbor_id")
    val recall = (ivf & exact).size.toDouble / exact.size
    info(f"IVF ANN recall@3: $recall%.4f (${(ivf & exact).size}/${exact.size})")
    // nProbe=2 of 8 lists on near-isotropic embeddings: the coarse
    // quantizer buys ~1.8x over the 0.25 random-list baseline; raising
    // nProbe is the recall/cost dial (nProbe=8 would be exact)
    assert(recall >= 0.40, f"IVF ANN recall $recall%.4f below pinned floor")
  }
}
