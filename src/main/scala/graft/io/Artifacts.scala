package graft.io

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The lifecycle of a fit-once corpus artifact: fit once, persist, stamp
  * the params, refuse on a mismatch, reuse only while the input is
  * unchanged.
  *
  * An artifact is whatever a query derives from a corpus and would
  * otherwise re-derive per invocation: a persisted edge list, a model
  * table, a signature index, a Bloom sketch, a catalog registration. Its
  * fit pays a corpus-scale pass; every later use should pay a scan of
  * the artifact, or nothing.
  *
  * Reuse is valid only against the input it was fitted on, so [[once]]
  * keeps each fit with the content fingerprint of its corpus directory
  * (relative path, length and mtime of every file, from one listing) and
  * refits when that changes. A corpus rewritten in place at the same path
  * is refitted; an unchanged one costs a listing and no Spark job.
  *
  * Reuse is valid only with the params it was fitted with: probing a
  * sketch, an index or an edge list built with another window, banding or
  * basket cap does not fail, it silently computes something else. So a
  * persisted artifact carries a `key=value` params sidecar, and a load
  * names the params it is about to probe with and is refused on any
  * difference, or when the sidecar is missing. Data is written first and
  * the sidecar second, so a crash between the two leaves a refusable
  * state, never a silently mismatched one. Sidecars are underscore-
  * prefixed, so parquet data discovery ignores them inside a data
  * directory, and [[compact]] carries them through a layout rewrite.
  *
  * Oracle emission reads a recording back with [[single]]: a generated
  * oracle replays the value some query recorded on a corpus, and the
  * dump it checks names no corpus. So a recording is emitted only when
  * exactly one corpus holds a still-valid slot for it. When the query
  * never ran (a subset run) there is nothing to replay; when two corpora
  * recorded in one JVM the right one for the dump is ambiguous; when the
  * corpus was rewritten since, the recording describes content that is
  * gone. In each case the generated oracle is omitted and the compare
  * falls back to rows-only, never to a wrong-corpus or stale replay.
  *
  * Locations: artifacts live under one per-JVM directory that
  * [[TempDirs]] deletes at exit; nothing reads them after the session.
  * Replay recordings ([[replayOnce]]) are the exception: the oracle
  * compare reads them after the JVM has exited, so they live under
  * `java.io.tmpdir/graft_replay`.
  */
object Artifacts {

  /** Sidecar name of a parquet artifact's params. */
  private val ParamsFile = "_params.txt"

  /** A parsed sidecar: its `key=value` lines, and the other lines in order. */
  final case class Sidecar(params: Map[String, String], body: Seq[String])

  private lazy val root =
    TempDirs.createDeletedOnExit("graft_artifacts_").getAbsolutePath

  /** The corpus's directory name: the dir legible (sanitized, length-
    * capped) plus a hash of the raw string, so two corpora never collide. */
  private def corpusKey(dir: String): String = {
    val sane = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    (if (sane.length > 64) sane.takeRight(64) else sane) + "_" +
      java.lang.Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(dir))
  }

  /** Location of artifact `name` fitted on corpus `dir`. */
  def path(dir: String, name: String): String = s"$root/${corpusKey(dir)}/$name"

  /** Location of replay recording `name` for corpus `dir`. */
  private def replayPath(dir: String, name: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_replay/${corpusKey(dir)}/$name"

  /** SQL-escape an artifact path for interpolation into a generated oracle. */
  def sqlPath(path: String): String = path.replace("'", "''")

  // ------------------------------------------------------------------
  // Files and sidecars
  // ------------------------------------------------------------------

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[graft] def writeBytes(spark: SparkSession, p: Path,
                                bytes: Array[Byte]): Unit = {
    val out = fs(spark, p).create(p, true)
    try out.write(bytes) finally out.close()
  }

  private[graft] def readBytes(spark: SparkSession, p: Path): Array[Byte] = {
    val f = fs(spark, p)
    require(f.exists(p), s"missing artifact file $p")
    val bytes = new Array[Byte](f.getFileStatus(p).getLen.toInt)
    val in = f.open(p)
    try in.readFully(0, bytes) finally in.close()
    bytes
  }

  /** Stamp sidecar `file` under `dir`: the params as sorted `key=value`
    * lines, then `body`. */
  def writeSidecar(spark: SparkSession, dir: String, params: Map[String, String],
                   file: String = ParamsFile, body: Seq[String] = Nil): Unit =
    writeBytes(spark, new Path(dir, file),
      (params.toSeq.sorted.map { case (k, v) => s"$k=$v" } ++ body)
        .mkString("", "\n", "\n").getBytes(UTF_8))

  /** Read sidecar `file` under `dir`, refusing when it is missing; `repair`
    * is appended to the refusal to say how to restore one. */
  def readSidecar(spark: SparkSession, dir: String, file: String = ParamsFile,
                  repair: String = ""): Sidecar = {
    val p = new Path(dir, file)
    require(fs(spark, p).exists(p), s"no $file sidecar under $dir — not an " +
      "artifact, or a crash between the data and sidecar writes; refusing " +
      s"an unvalidated artifact$repair")
    val (kv, body) = new String(readBytes(spark, p), UTF_8).linesIterator
      .filter(_.nonEmpty).toSeq.partition(_.contains("="))
    Sidecar(kv.map { l => val Array(k, v) = l.split("=", 2); k -> v.trim }.toMap,
      body)
  }

  /** Read sidecar `file` under `dir` and refuse unless every `want` entry
    * matches; `what` names the artifact kind in the refusal. */
  def requireParams(spark: SparkSession, dir: String, want: Map[String, String],
                    file: String = ParamsFile, what: String = "artifact",
                    repair: String = ""): Sidecar = {
    val have = readSidecar(spark, dir, file, repair)
    val mismatched = want.keys.toSeq.sorted
      .filter(k => have.params.get(k) != want.get(k))
    require(mismatched.isEmpty,
      s"$what params mismatch at $dir: built with different params, " +
        mismatched.map(k => s"$k=${have.params.getOrElse(k, "<absent>")} " +
          s"(want ${want(k)})").mkString(", ") +
        " — probing with mismatched params fails silently, refusing")
    have
  }

  /** Load the parquet artifact at `path` in a later session, refusing it
    * unless its params sidecar matches `want`. */
  def load(spark: SparkSession, path: String, want: Map[String, String]): DataFrame = {
    requireParams(spark, path, want)
    spark.read.parquet(path)
  }

  /** [[Maintenance.compact]] for a sidecar-carrying artifact directory.
    * The generic rename swap carries the old directory away with its
    * deleted backup, sidecars included, so every top-level `_`-prefixed
    * file is read before the rewrite and re-stamped if it went missing. */
  def compact(spark: SparkSession, dir: String,
              targetFileBytes: Long = 128L * 1024 * 1024,
              shuffle: Boolean = false): Maintenance.LayoutStats = {
    val top = new Path(dir)
    val f = fs(spark, top)
    val sidecars = f.listStatus(top).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith("_"))
      .map(s => s.getPath -> readBytes(spark, s.getPath))
    val stats = Maintenance.compact(spark, dir, targetFileBytes, shuffle)
    sidecars.foreach { case (p, bytes) =>
      if (!f.exists(p)) writeBytes(spark, p, bytes) // a no-op compaction never moved it
    }
    stats
  }

  // ------------------------------------------------------------------
  // Fit once per corpus content
  // ------------------------------------------------------------------

  /** One fit: the fingerprint it was made on and its value. The fit runs
    * under the slot's own monitor, never inside the map's bin lock, so a
    * fit may call [[once]] for another artifact. */
  private final class Slot {
    var stamp: Seq[(String, Long, Long)] = null
    var value: Any = null
  }

  /** Slots keyed by (corpus dir, artifact name). */
  private val slots = new java.util.concurrent.ConcurrentHashMap[(String, String), Slot]()

  /** One listing of `dir`: (relative path, length, mtime) of every file,
    * sorted. Only length and mtime are read: the local file system loads
    * permission and owner lazily, through a forked shell. */
  private def fingerprint(dir: String): Seq[(String, Long, Long)] = {
    val top = new Path(dir)
    val f = fs(SparkSession.active, top)
    val prefix = f.makeQualified(top).toUri.getPath.stripSuffix("/") + "/"
    def files(p: Path): Seq[FileStatus] = f.listStatus(p).toSeq
      .flatMap(s => if (s.isDirectory) files(s.getPath) else Seq(s))
    files(top).map(s => (s.getPath.toUri.getPath.stripPrefix(prefix),
      s.getLen, s.getModificationTime)).sorted
  }

  /** The value of `fit` for artifact `name` of corpus `dir`, fitted at
    * most once per content of `dir`: a later call returns the stored
    * value while the fingerprint is unchanged and refits when it is not.
    * A failed fit stores nothing. */
  def once[T](dir: String, name: String)(fit: => T): T = {
    val slot = slots.computeIfAbsent((dir, name), _ => new Slot)
    val stamp = fingerprint(dir)
    slot.synchronized {
      if (slot.stamp != stamp) { slot.value = fit; slot.stamp = stamp }
      slot.value.asInstanceOf[T]
    }
  }

  /** The value of artifact `name` when exactly one corpus holds a slot
    * for it that is still valid for that corpus's current content (the
    * emission rule above); `None` for no corpus, for two or more, or for
    * a corpus rewritten or deleted since it recorded. */
  def single[T](name: String): Option[T] = {
    import scala.jdk.CollectionConverters._
    slots.asScala.toSeq.collect { case ((dir, `name`), slot) =>
      slot.synchronized {
        val now = scala.util.Try(fingerprint(dir)).toOption
        if (slot.stamp != null && now.contains(slot.stamp)) Some(slot.value)
        else None
      }
    }.flatten match {
      case Seq(v) => Some(v.asInstanceOf[T])
      case _ => None
    }
  }

  /** Write `df` as parquet artifact `name` of corpus `dir` with `params`
    * stamped in its sidecar, once per content of `dir`; returns its path. */
  def writeOnce(spark: SparkSession, dir: String, name: String,
                params: Map[String, String])(df: => DataFrame): String =
    once(dir, name) {
      val p = path(dir, name)
      df.write.mode("overwrite").parquet(p)
      writeSidecar(spark, p, params)
      p
    }

  /** Write replay recording `name` of corpus `dir` as one parquet file,
    * once per content of `dir`; returns its path. */
  def replayOnce(dir: String, name: String)(df: => DataFrame): String =
    once(dir, s"replay:$name") {
      val p = replayPath(dir, name)
      df.coalesce(1).write.mode("overwrite").parquet(p)
      p
    }
}
