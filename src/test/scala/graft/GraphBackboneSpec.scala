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
    def results(dir: String) = (
      SparkEntry.queries("q_graph_kcore")(spark, dir).collect().toSeq,
      SparkEntry.queries("q_bpe_apply")(spark, dir).collect().toSeq,
      TextQueries.klRefFor(spark, dir))
    val before = results(corpus)

    // the rewrite lands in both copies; `fresh` has never been fitted
    def rewrite(table: String)(change: DataFrame => DataFrame): Unit = {
      val changed = change(spark.read.parquet(s"$corpus/$table.parquet"))
      val rows = spark.createDataFrame(
        java.util.Arrays.asList(changed.collect(): _*), changed.schema)
      for (dir <- Seq(corpus, fresh))
        rows.write.mode("overwrite").parquet(s"$dir/$table.parquet")
    }
    // a denser co-purchase graph, and text with other character-pair and
    // term statistics (a bijective rewrite such as reversal would not do:
    // BPE token counts are invariant under it)
    rewrite("lineitem")(_.withColumn("l_partkey", col("l_partkey") % 40))
    rewrite("documents")(_.withColumn("text", regexp_replace(col("text"), "e", "")))

    val after = results(corpus)
    val expected = results(fresh)
    assert(expected._1 != before._1 && expected._2 != before._2 &&
      expected._3 != before._3, "the rewrite must change every result")
    val stale = Seq(
      "q_graph_kcore" -> (after._1 == expected._1),
      "q_bpe_apply" -> (after._2 == expected._2),
      "klRefFor" -> (after._3 == expected._3)).collect { case (n, false) => n }
    assert(stale.isEmpty, s"stale fits served after the rewrite: $stale")
  }
}
