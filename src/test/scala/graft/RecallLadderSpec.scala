package graft

import graft.ops.Similarity
import org.apache.spark.sql.functions._

/** RecallFloorSpec's floors extended to the 10× density rung (the
  * round-13 verdict's ask): the catalog ANN configurations measured
  * against exhaustive exact top-k on the SCALED corpus, where candidate
  * density — not corpus size per se — is what moves approximate recall.
  * All pipelines are deterministic (seeded hyperplanes / k-means /
  * farthest-point PQ init), so each measured recall is a stable property
  * of code + data and is pinned as a floor with margin.
  *
  * The headline finding this ladder exists to hold: LSH multi-probe and
  * IVF recall RISE with density (true neighbors get closer, so they
  * collide/co-list more often: 0.43/0.40 at sf0.001 → 0.56/0.51 at sf1)
  * — but a FIXED-length ADC shortlist collapses (rerank = 32: 0.16 at
  * sf1, 0.08 at sf10), and the fix is [[Similarity.adcRerank]]'s
  * fraction-of-candidates law (0.33 at sf1, 0.42 at sf10). The sf10
  * points are recorded in SCALE.md; this suite asserts the sf1 rung.
  *
  * The scaled corpus is tooling output (`graft.ScaleUpMain` →
  * /tmp/graft_sf1); when absent the suite CANCELS rather than fails —
  * the floors are meaningless without the rung data.
  */
class RecallLadderSpec extends SparkSpec {

  private val sf1Dir = "/tmp/graft_sf1"

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("sf1 rung: LSH multi-probe, IVF, and density-scaled IVF-PQ recall floors") {
    assume(new java.io.File(s"$sf1Dir/embeddings.parquet").exists(),
      s"scaled rung data absent — regenerate with ScaleUpMain into $sf1Dir")
    val e = spark.read.parquet(s"$sf1Dir/embeddings.parquet").cache()
    val n = e.count()
    val queries = e.filter(col("vec_id") < 50).cache()
    val exact = pairSet(Similarity.bruteForceTopK(queries, e, 3))
    def recall(got: Set[(Long, Long)]): Double =
      (got & exact).size.toDouble / exact.size

    val lsh = recall(pairSet(Similarity.lshTopK(e, queries, dim = 64, k = 3,
      bits = 4, hammingRadius = 1)))
    info(f"sf1 LSH multi-probe recall@3 = $lsh%.4f")
    assert(lsh >= 0.50, f"LSH rung recall $lsh%.4f below floor (measured 0.56)")

    val ivfDir = tmpDir("graft_ladder_ivf_")
    val ix = Similarity.fitIvf(e, nLists = 8, ivfDir)
    val ivf = recall(pairSet(
      Similarity.probeIvf(spark, ix, queries, k = 3, nProbe = 2)))
    info(f"sf1 IVF nProbe=2 recall@3 = $ivf%.4f")
    assert(ivf >= 0.45, f"IVF rung recall $ivf%.4f below floor (measured 0.51)")

    val pqDir = tmpDir("graft_ladder_ivfpq_")
    // ks=64: the round-16 joint-sweep operating point (the catalog's) —
    // +0.10 recall over ks=16 at the adcRerank shortlist for ~11% more
    // one-time fit (SCALE.md records the surface)
    val (pix, cb) = Similarity.fitIvfPq(e, nLists = 8, m = 8, ks = 64,
      dim = 64, pqDir)
    val fixed = recall(pairSet(Similarity.probeIvfPq(e, queries, 3, pix, cb,
      nProbe = 2, rerank = 32)))
    val scaledRerank = Similarity.adcRerank(n, nLists = 8, nProbe = 2)
    val scaled = recall(pairSet(Similarity.probeIvfPq(e, queries, 3, pix, cb,
      nProbe = 2, rerank = scaledRerank)))
    info(f"sf1 IVF-PQ recall@3: fixed-32 = $fixed%.4f, " +
      f"adcRerank($scaledRerank) = $scaled%.4f")
    // the retune's proof: the density-scaled shortlist must clear a floor
    // the collapsed fixed shortlist cannot (ks=64 measured 0.41 scaled
    // vs 0.28 fixed; floors raised from the ks=16 era's 0.28/0.16)
    assert(scaled >= 0.38,
      f"density-scaled IVF-PQ recall $scaled%.4f below floor (measured 0.41)")
    assert(scaled > fixed,
      f"adcRerank ($scaled%.4f) must beat the fixed shortlist ($fixed%.4f)")
  }
}
