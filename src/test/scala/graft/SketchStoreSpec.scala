package graft

import graft.io.{Artifacts, SketchStore}
import graft.ops.{BloomDedup, ProductQuantizer => PQ, Similarity}
import org.apache.spark.sql.functions._

/** The restart contract for persisted index artifacts: probe results
  * across a save/load cycle are BIT-IDENTICAL to probes against the
  * fitting JVM's in-memory handle, mismatched params and corrupt bytes
  * are refused, and compaction does not strip the sidecars. */
class SketchStoreSpec extends SparkSpec {

  import spark.implicits._

  private val sf001 = "/root/testdata/sf0.001"
  test("bloom: save/load round-trips bytes exactly; probes identical") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .select(col("doc_id"), col("text")).limit(60).cache()
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 3 === 0)
    val fitted = BloomDedup.fitSketch(corpus, "doc_id", "text",
      window = 8, estItems = 1L << 12, numBits = 1L << 15)
    val dir = tmpDir("bloomstore")
    SketchStore.saveBloom(spark, dir, fitted, window = 8,
      estItems = 1L << 12, numBits = 1L << 15)
    val loaded = SketchStore.loadBloom(spark, dir, window = 8,
      estItems = 1L << 12, numBits = 1L << 15)
    assert(java.util.Arrays.equals(fitted, loaded))
    // probe equality: the loaded artifact gates the same rows
    def probe(bytes: Array[Byte]) = {
      val bc = spark.sparkContext.broadcast(bytes)
      val out = BloomDedup.seenBlocks(corpus, batch, "doc_id", "text",
        bc, window = 8).collect().map(_.toSeq).toSet
      bc.unpersist()
      out
    }
    assert(probe(fitted) == probe(loaded))
  }

  test("bloom: mismatched params and corrupt bytes are refused") {
    val dir = tmpDir("bloomguard")
    val bytes = Array.tabulate[Byte](64)(_.toByte)
    SketchStore.saveBloom(spark, dir, bytes, window = 16,
      estItems = 1L << 12, numBits = 1L << 15)
    val wrong = intercept[IllegalArgumentException] {
      SketchStore.loadBloom(spark, dir, window = 8,
        estItems = 1L << 12, numBits = 1L << 15)
    }
    assert(wrong.getMessage.contains("window"))
    // flip one byte on disk: integrity check must refuse. (Drop Hadoop
    // LocalFileSystem's own .crc shadow first — it would throw before
    // OUR check runs; on object stores there is no such shadow, so the
    // sidecar CRC is the only integrity line.)
    val bin = java.nio.file.Paths.get(dir, "sketch.bin")
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(dir, ".sketch.bin.crc"))
    val raw = java.nio.file.Files.readAllBytes(bin)
    raw(5) = (raw(5) ^ 0x40).toByte
    java.nio.file.Files.write(bin, raw)
    val corrupt = intercept[IllegalArgumentException] {
      SketchStore.loadBloom(spark, dir, window = 16,
        estItems = 1L << 12, numBits = 1L << 15)
    }
    assert(corrupt.getMessage.contains("integrity"))
  }

  test("ivf: loadIvf probes bit-identically to the fitting session") {
    val e = spark.read.parquet(s"$sf001/embeddings.parquet").cache()
    val queries = e.limit(5)
    val dir = tmpDir("ivfstore")
    val fitted = Similarity.fitIvf(e, nLists = 4, dir)
    val reopened = Similarity.loadIvf(spark, dir)
    assert(fitted.centroids.map(_.toSeq).toSeq ==
      reopened.centroids.map(_.toSeq).toSeq, "centroids must be bit-exact")
    def results(ix: Similarity.IvfIndex) =
      Similarity.probeIvf(spark, ix, queries, k = 3, nProbe = 2)
        .collect().map(_.toSeq).toSet
    assert(results(fitted) == results(reopened))
  }

  test("ivfpq: loadIvfPq probes bit-identically; codebook bit-exact") {
    val e = spark.read.parquet(s"$sf001/embeddings.parquet").cache()
    val queries = e.limit(5)
    val dir = tmpDir("ivfpqstore")
    val (ix, cb) = Similarity.fitIvfPq(e, nLists = 4, m = 8, ks = 16,
      dim = 64, dir)
    val (ix2, cb2) = Similarity.loadIvfPq(spark, dir)
    assert(cb.m == cb2.m && cb.ks == cb2.ks && cb.subDim == cb2.subDim)
    assert(cb.centroids.flatten.flatten.toSeq == cb2.centroids.flatten.flatten.toSeq,
      "codebook must round-trip bit-exactly")
    def results(i: Similarity.IvfIndex, c: PQ.PqCodebook) =
      Similarity.probeIvfPq(e, queries, 3, i, c, nProbe = 2, rerank = 8)
        .collect().map(_.toSeq).toSet
    assert(results(ix, cb) == results(ix2, cb2))
  }

  test("compact keeps _ivf_centroids through the swap") {
    val e = spark.read.parquet(s"$sf001/embeddings.parquet").cache()
    val root = tmpDir("ivfcompact")
    // a flat (unpartitioned) artifact dir exercises the generic path:
    // write the lists unpartitioned so Maintenance.compact accepts it
    Similarity.fitIvf(e, nLists = 4, s"$root/part")
    // compact a leaf list dir that carries a copied sidecar: simulate by
    // compacting an unpartitioned clone of the index with sidecars
    val flat = s"$root/flat"
    spark.read.parquet(s"$root/part").repartition(8)
      .write.parquet(flat)
    SketchStore.saveIvfCentroids(spark, flat,
      SketchStore.loadIvfCentroids(spark, s"$root/part"))
    Artifacts.compact(spark, flat,
      targetFileBytes = 256L * 1024 * 1024)
    // sidecar survived the rename swap and still parses bit-exactly
    val cents = SketchStore.loadIvfCentroids(spark, flat)
    assert(cents.length == 4 && cents.forall(_.length == 64))
    assert(spark.read.parquet(flat).count() == e.count())
  }
}
