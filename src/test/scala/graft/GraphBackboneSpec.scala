package graft

import graft.io.Artifacts
import graft.ops.Triangles
import graft.queries.TextQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The corpus-artifact contract, on the persisted co-occurrence edge
  * builds and the other fit-once artifacts: the artifact scan is
  * row-identical to the fresh coPairs build, consumers share ONE build
  * per (corpus, name) while the corpus is unchanged, a corpus rewritten
  * in place is refitted, and the cross-session load path refuses a
  * params mismatch loudly instead of probing a differently-built graph. */
class GraphBackboneSpec extends SparkSpec {

  private val sf001 = "/root/testdata/sf0.001"

  private def copyOfSf001(prefix: String): String = {
    val dir = java.nio.file.Paths.get(tmpDir(prefix))
    new java.io.File(sf001).listFiles.foreach(f =>
      java.nio.file.Files.copy(f.toPath, dir.resolve(f.getName)))
    dir.toString
  }

  test("artifact scan is row-identical to the fresh coPairs build") {
    val fresh = Triangles.coPairs(
      spark.read.parquet(s"$sf001/lineitem.parquet")
        .select("l_orderkey", "l_suppkey"),
      "l_orderkey", "l_suppkey", maxBasket = 64)
    val art = spark.read.parquet(Artifacts.writeOnce(spark, sf001,
      "spec_co_supplier", Map("fact" -> "lineitem", "maxBasket" -> "64")) { fresh })
    val a = fresh.orderBy("src", "dst").collect().toSeq
    val b = art.orderBy("src", "dst").collect().toSeq
    assert(a.nonEmpty && a == b)
  }

  test("writeOnce builds once per (corpus, name) while the corpus is unchanged") {
    for (corpus <- Seq(sf001, copyOfSf001("backbone_once_"))) {
      var builds = 0
      def build = {
        builds += 1
        Triangles.coPairs(
          spark.read.parquet(s"$corpus/lineitem.parquet")
            .select("l_orderkey", "l_partkey"),
          "l_orderkey", "l_partkey", maxBasket = 64)
      }
      def pairs = spark.read.parquet(Artifacts.writeOnce(spark, corpus,
        "spec_once", Map("maxBasket" -> "64"))(build))
      val n1 = pairs.count()
      val n2 = pairs.count()
      assert(builds == 1 && n1 == n2 && n1 > 0)
    }
  }

  test("load validates the params sidecar and refuses mismatches") {
    Artifacts.writeOnce(spark, sf001, "spec_load",
      Map("item" -> "l_suppkey", "maxBasket" -> "64")) {
      Triangles.coPairs(
        spark.read.parquet(s"$sf001/lineitem.parquet")
          .select("l_orderkey", "l_suppkey"),
        "l_orderkey", "l_suppkey", maxBasket = 64)
    }
    val path = Artifacts.path(sf001, "spec_load")
    val ok = Artifacts.load(spark, path,
      Map("item" -> "l_suppkey", "maxBasket" -> "64"))
    assert(ok.count() > 0)
    val ex = intercept[IllegalArgumentException] {
      Artifacts.load(spark, path,
        Map("item" -> "l_partkey", "maxBasket" -> "64"))
    }
    assert(ex.getMessage.contains("different params"))
  }

  test("graph consumers agree with a from-scratch derivation via the artifact") {
    // q_graph_components over the artifact vs the same op over a fresh
    // edge build — the consumer-level equality the lifecycle must keep
    val fresh = Triangles.coPairs(
        spark.read.parquet(s"$sf001/lineitem.parquet")
          .select("l_orderkey", "l_partkey"),
        "l_orderkey", "l_partkey", maxBasket = 64)
      .filter(col("w") >= 2)
    val fromScratch = graft.ops.Components
      .connectedComponents(fresh, "src", "dst")
      .orderBy("id").collect().toSeq
    val viaArtifact = SparkEntry.queries("q_graph_components")(spark, sf001)
      .collect().toSeq
    assert(fromScratch.nonEmpty && fromScratch == viaArtifact)
  }

  test("a corpus rewritten in place is refitted: q_graph_kcore, q_bpe_apply, klRefFor") {
    val corpus = copyOfSf001("refit_corpus_")
    val fresh = copyOfSf001("refit_fresh_")
    val fitted = Seq("q_graph_kcore", "q_bpe_apply", "q_embed_pca", "q_embed_pq",
      "q_sim_ivf_ann")
    def results(dir: String): Map[String, Any] =
      fitted.map(q => q -> SparkEntry.queries(q)(spark, dir).collect().toSeq).toMap +
        ("klRefFor" -> TextQueries.klRefFor(spark, dir))
    val before = results(corpus)

    // the rewrite lands in both copies; `fresh` has never been fitted
    def rewrite(table: String)(change: DataFrame => DataFrame): Unit = {
      val changed = change(spark.read.parquet(s"$corpus/$table.parquet"))
      val rows = spark.createDataFrame(
        java.util.Arrays.asList(changed.collect(): _*), changed.schema)
      for (dir <- Seq(corpus, fresh))
        rows.write.mode("overwrite").parquet(s"$dir/$table.parquet")
    }
    // a denser co-purchase graph, text with other character-pair and
    // term statistics (a bijective rewrite such as reversal would not do:
    // BPE token counts are invariant under it), and fewer embeddings
    // (the PCA, PQ and IVF fits all see other vectors)
    rewrite("lineitem")(_.withColumn("l_partkey", col("l_partkey") % 40))
    rewrite("documents")(_.withColumn("text", regexp_replace(col("text"), "e", "")))
    rewrite("embeddings")(_.filter(col("vec_id") % 7 =!= 0))

    val after = results(corpus)
    val expected = results(fresh)
    val unchanged = expected.keys.filter(k => expected(k) == before(k))
    assert(unchanged.isEmpty, s"the rewrite must change every result: $unchanged")
    val stale = expected.keys.filter(k => after(k) != expected(k)).toSeq.sorted
    assert(stale.isEmpty, s"stale fits served after the rewrite: $stale")
  }

  test("single emits a recording only while exactly one corpus holds a valid one") {
    val (a, b) = (tmpDir("single_a_"), tmpDir("single_b_"))
    def write(dir: String, text: String): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "t.txt"), text)
    def single = Artifacts.single[String]("spec_single")
    def record(dir: String, v: String): Unit = Artifacts.once(dir, "spec_single")(v)
    write(a, "a"); write(b, "b")
    assert(single.isEmpty, "nothing recorded yet")
    record(a, "a1")
    assert(single.contains("a1"), "one corpus recorded")
    record(b, "b1")
    assert(single.isEmpty, "two corpora recorded")
    write(a, "a, rewritten")
    assert(single.contains("b1"), "a's recording is stale, b's alone is valid")
    record(a, "a2")
    assert(single.isEmpty, "a re-recorded: two valid recordings again")
    write(b, "b, rewritten")
    assert(single.contains("a2"), "b's recording is stale, a's alone is valid")
    write(a, "a, rewritten twice")
    assert(single.isEmpty, "every recording is stale")
  }
}
