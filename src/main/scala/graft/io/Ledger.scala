package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets

/** Processed-files ledger — the engine's analogue of Glue job bookmarks
  * (`--job-bookmark-option: job-bookmark-enable`,
  * `/root/reference/batch_processing_IaC.py:301`): incremental runs skip
  * inputs recorded as already processed.
  *
  * Layout: a directory of immutable `run-<uuid>.txt` marker files, one
  * per completed run, each listing the input paths that run processed
  * (newline-separated). A marker is written under a hidden `.`-prefixed
  * temp name and renamed into place, and readers list only `run-*.txt`,
  * so a concurrent reader — or a rerun after a crash mid-write — never
  * sees a partial record. Re-running a failed job re-processes its inputs
  * (markers are written only after the sink commit, mirroring the
  * bookmark-after-success contract). Driver-side metadata only — the
  * ledger stays tiny regardless of data volume.
  */
object Ledger {

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Filesystem-normalized form of a path: fully qualified (scheme +
    * authority) by the path's OWN filesystem. Recorded and compared in this
    * form on both write and read — otherwise qualification drift (file:/ vs
    * file:///, an HDFS nameservice alias) makes `processed` miss every
    * entry and the pipeline silently re-processes the whole source. */
  def normalize(spark: SparkSession, p: String): String = {
    val path = new Path(p)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(path).toString
  }

  /** All input paths recorded as processed. Empty if the ledger is new. */
  def processed(spark: SparkSession, ledgerDir: String): Set[String] = {
    val f = fs(spark, ledgerDir)
    val p = new Path(ledgerDir)
    if (!f.exists(p)) Set.empty
    else f.listStatus(p, (q: Path) => q.getName.startsWith("run-") &&
        q.getName.endsWith(".txt")).toSeq.filter(_.isFile).flatMap { st =>
      val in = f.open(st.getPath)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    }.filter(_.nonEmpty).map(normalize(spark, _)).toSet
  }

  /** Record `files` as processed — call only AFTER the sink commit.
    * Marker names are UUIDs: a timestamp+hashCode name can collide across
    * fast successive record() calls, and `create(overwrite = false)` would
    * then throw AFTER the data write already committed. Readers see the
    * marker only once the final rename lands, complete. */
  def record(spark: SparkSession, ledgerDir: String, files: Seq[String]): Unit = {
    if (files.isEmpty) return
    val f = fs(spark, ledgerDir)
    f.mkdirs(new Path(ledgerDir))
    val name = s"run-${java.util.UUID.randomUUID()}.txt"
    val tmp = new Path(ledgerDir, s".$name.tmp")
    val out = f.create(tmp, false)
    try out.write((files.map(normalize(spark, _)).mkString("\n") + "\n")
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (!f.rename(tmp, new Path(ledgerDir, name)))
      throw new java.io.IOException(s"could not rename ledger marker $tmp to $name")
  }
}
