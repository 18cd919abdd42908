package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Codecs for the driver-held index artifacts: the Bloom content-seen
  * sketch, IVF coarse centroids and PQ codebooks. Their lifecycle (params
  * sidecar, refusal, compaction) is [[Artifacts]]; what is specific here
  * is the format, chosen for exact replay:
  *  - floats serialize as `floatToRawIntBits` hex: text, yet bit-exact,
  *    with no decimal round-trip hazard;
  *  - the Bloom sketch carries a CRC32 and length in its sidecar, because
  *    a corrupt filter fails silently (a wrong false-positive set, no
  *    exception), so integrity is checked at load.
  * SketchStoreSpec proves probe equality across a save/load cycle.
  */
object SketchStore {

  private def crc32(bytes: Array[Byte]): Long = {
    val c = new java.util.zip.CRC32(); c.update(bytes); c.getValue
  }

  private def hex(f: Float): String =
    java.lang.Integer.toHexString(java.lang.Float.floatToRawIntBits(f))
  private def unhex(s: String): Float =
    java.lang.Float.intBitsToFloat(java.lang.Integer.parseUnsignedInt(s, 16))

  // ------------------------------------------------------------------
  // Bloom content-seen sketch
  // ------------------------------------------------------------------

  /** Persist a fitted Bloom sketch (`BloomDedup.fitSketch` bytes) to
    * `dir/sketch.bin` + `dir/_bloom_params`. */
  def saveBloom(spark: SparkSession, dir: String, sketch: Array[Byte],
                window: Int, estItems: Long, numBits: Long): Unit = {
    Artifacts.writeBytes(spark, new Path(dir, "sketch.bin"), sketch)
    Artifacts.writeSidecar(spark, dir, bloomParams(window, estItems, numBits) ++
      Map("length" -> sketch.length.toString, "crc32" -> crc32(sketch).toString),
      BloomParams)
  }

  /** Load a persisted Bloom sketch, refusing parameter mismatches and
    * integrity failures. The caller passes the params it is ABOUT to
    * probe with; they must equal the ones the sketch was fitted with. */
  def loadBloom(spark: SparkSession, dir: String,
                window: Int, estItems: Long, numBits: Long): Array[Byte] = {
    val have = Artifacts.requireParams(spark, dir,
      bloomParams(window, estItems, numBits), BloomParams, "bloom sketch").params
    val bytes = Artifacts.readBytes(spark, new Path(dir, "sketch.bin"))
    require(bytes.length.toString == have("length") &&
        crc32(bytes).toString == have("crc32"),
      s"bloom sketch at $dir failed integrity check " +
        s"(length ${bytes.length} vs ${have("length")}, crc ${crc32(bytes)} vs " +
        s"${have("crc32")}) — a corrupt filter probes garbage silently, refusing")
    bytes
  }

  private val BloomParams = "_bloom_params"

  private def bloomParams(window: Int, estItems: Long, numBits: Long) =
    Map("window" -> window.toString, "estItems" -> estItems.toString,
      "numBits" -> numBits.toString)

  // ------------------------------------------------------------------
  // IVF centroids (stamped inside the inverted-list parquet directory)
  // ------------------------------------------------------------------

  /** Stamp IVF coarse centroids as a `_ivf_centroids` sidecar inside the
    * index's parquet directory. One hex-float row per centroid. */
  def saveIvfCentroids(spark: SparkSession, indexDir: String,
                       centroids: Array[Array[Float]]): Unit = {
    require(centroids.nonEmpty, "empty centroid set")
    val dim = centroids.head.length
    require(centroids.forall(_.length == dim), "ragged centroids")
    Artifacts.writeSidecar(spark, indexDir,
      Map("nLists" -> centroids.length.toString, "dim" -> dim.toString),
      "_ivf_centroids", centroids.toSeq.map(_.map(hex).mkString(" ")))
  }

  /** Load centroids stamped by [[saveIvfCentroids]]; bit-exact. */
  def loadIvfCentroids(spark: SparkSession, indexDir: String): Array[Array[Float]] = {
    val Artifacts.Sidecar(kv, rows) =
      Artifacts.readSidecar(spark, indexDir, "_ivf_centroids")
    require(rows.length == kv("nLists").toInt,
      s"_ivf_centroids at $indexDir declares nLists=${kv("nLists")} but " +
        s"carries ${rows.length} rows — truncated sidecar, refusing")
    val cents = rows.map(_.split(" ").map(unhex)).toArray
    require(cents.forall(_.length == kv("dim").toInt),
      s"_ivf_centroids at $indexDir has rows shorter than dim=${kv("dim")}")
    cents
  }

  // ------------------------------------------------------------------
  // PQ codebook (stamped inside the coded inverted-list directory)
  // ------------------------------------------------------------------

  /** Stamp a PQ codebook as a `_pq_codebook` sidecar: header (m, ks,
    * subDim), then the m·ks sub-centroids in (subspace-major, code-minor)
    * order, one hex-float row each. */
  def savePqCodebook(spark: SparkSession, indexDir: String,
                     cb: graft.ops.ProductQuantizer.PqCodebook): Unit =
    Artifacts.writeSidecar(spark, indexDir,
      Map("m" -> cb.m.toString, "ks" -> cb.ks.toString,
        "subDim" -> cb.subDim.toString),
      "_pq_codebook", cb.centroids.toSeq.flatMap(_.map(_.map(hex).mkString(" "))))

  /** Load a codebook stamped by [[savePqCodebook]]; bit-exact. */
  def loadPqCodebook(spark: SparkSession,
                     indexDir: String): graft.ops.ProductQuantizer.PqCodebook = {
    val Artifacts.Sidecar(kv, rows) =
      Artifacts.readSidecar(spark, indexDir, "_pq_codebook")
    val (m, ks, subDim) = (kv("m").toInt, kv("ks").toInt, kv("subDim").toInt)
    require(rows.length == m * ks,
      s"_pq_codebook at $indexDir declares m*ks=${m * ks} rows, has ${rows.length}")
    val flat = rows.map(_.split(" ").map(unhex))
    require(flat.forall(_.length == subDim),
      s"_pq_codebook at $indexDir has rows shorter than subDim=$subDim")
    graft.ops.ProductQuantizer.PqCodebook(m, ks, subDim,
      Array.tabulate(m, ks)((mi, j) => flat(mi * ks + j)))
  }
}
