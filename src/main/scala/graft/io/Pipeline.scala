package graft.io

import graft.ops.IntervalExpand
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** The reference's end-to-end batch job (entry point A, SURVEY §3.1),
  * re-expressed: discover the newest dated CSV -> densify intervals ->
  * write parquet. The orchestration contract (monthly trigger, .sync
  * retry semantics, bookmarks) reduces to: run() either completes or
  * throws — exit codes replace Step Functions states.
  */
object Pipeline {

  /** @param strict  false = reference-faithful expansion (string
    *                timestamps, Q3/Q4 quirks); true = typed + sane.
    * @param idempotent  true = overwrite-by-ingest-date partition (Q8
    *                fixed); false = reference-faithful append.
    * @return number of output rows written.
    */
  def run(spark: SparkSession, sourceDir: String, targetDir: String,
          strict: Boolean = false, idempotent: Boolean = true): Long = {
    val files = Sources.listFiles(spark, sourceDir)
    val latest = Sources.latestByFilenameDate(files).getOrElse {
      // Q1/Q2 decision: fail fast, no silent fallback to a hardcoded file.
      throw new IllegalStateException(
        s"no dated CSV (yyyyMMdd_*.csv) found under $sourceDir")
    }
    val readings = Sources.readCsv(spark, latest)
    val expanded =
      if (strict) IntervalExpand.strict(readings)
      else IntervalExpand.faithful(readings)
    val ingestDate = Sources.filenameDate(
      new org.apache.hadoop.fs.Path(latest).getName).get.toString
    written(expanded) { out =>
      if (idempotent) Sinks.writeIdempotent(out, targetDir, ingestDate)
      else Sinks.writeAppend(out, targetDir)
    }
  }

  /** Runs `write` once over `df` and returns the rows it wrote. The count
    * is observed rather than recomputed: a separate count action would
    * run the ×samples-amplified expansion twice, or pin a cached copy.
    * The observer sits between the sort's exchange and the sink, in the
    * write's result stage, where each partition's metrics are merged once,
    * so a retried task is not counted twice. */
  private def written(df: DataFrame)(write: DataFrame => Unit): Long = {
    val obs = Observation()
    write(df.observe(obs, count(lit(1)).as("rows")))
    obs.get("rows").asInstanceOf[Long]
  }

  /** Step Functions `.sync` retry-or-fail analogue (the reference's state
    * machine blocks on the Glue job and retries or fails the execution,
    * `batch_processing_IaC.py:653-667`): run the pipeline up to
    * `maxAttempts` times with linear backoff, rethrowing the last failure —
    * callers observe the same complete-or-throw contract as [[run]]. */
  def runWithRetry(spark: SparkSession, sourceDir: String, targetDir: String,
                   maxAttempts: Int = 3, backoffMs: Long = 1000,
                   strict: Boolean = false, idempotent: Boolean = true): Long = {
    require(maxAttempts >= 1, "maxAttempts must be >= 1")
    var result: Option[Long] = None
    var last: Throwable = null
    var attempt = 0
    while (result.isEmpty && attempt < maxAttempts) {
      attempt += 1
      try result = Some(run(spark, sourceDir, targetDir, strict, idempotent))
      catch {
        case scala.util.control.NonFatal(e) =>
          last = e
          if (attempt < maxAttempts) {
            System.err.println(
              s"[pipeline] attempt $attempt/$maxAttempts failed: ${e.getMessage}; retrying")
            Thread.sleep(backoffMs * attempt)
          }
      }
    }
    result.getOrElse(throw last)
  }

  /** Incremental variant — the Glue-bookmark contract (SURVEY §2.8 Q8):
    * process EVERY dated file not yet in the ledger, oldest first, each
    * into its own `ingest_date` partition; record files as processed only
    * after their write commits. A crashed run re-processes its in-flight
    * file into the same partition (overwrite), so the pipeline is
    * exactly-once at the partition level with at-least-once execution.
    *
    * @return (files processed this run, total rows written).
    */
  def runIncremental(spark: SparkSession, sourceDir: String, targetDir: String,
                     ledgerDir: String, strict: Boolean = false): (Seq[String], Long) = {
    val done = Ledger.processed(spark, ledgerDir)
    // Listing paths go through the same normalization as ledger entries, so
    // the processed-set compare never misses on qualification drift.
    val pending = Sources.listFiles(spark, sourceDir)
      .map(Ledger.normalize(spark, _))
      .flatMap(f => Sources.filenameDate(new org.apache.hadoop.fs.Path(f).getName).map(_ -> f))
      .filterNot { case (_, f) => done.contains(f) }
    // Group by date: files sharing a yyyyMMdd prefix land in the SAME
    // ingest_date partition, and the overwrite-by-partition sink would
    // otherwise let the last file erase its siblings' rows. One write per
    // date, covering every file of that date, keeps overwrite = idempotent.
    val byDate = pending.groupBy(_._1).toSeq.sortBy(_._1)
    var rows = 0L
    byDate.foreach { case (date, dateFiles) =>
      val newFiles = dateFiles.map(_._2)
      // A late-arriving file for an ALREADY-processed date must not erase
      // its processed siblings: the overwrite replaces the whole
      // ingest_date partition, so the partition is rebuilt from the
      // ledger's same-date files plus the new ones (exactly-once is a
      // per-partition contract, not per-file). A recorded file that has
      // vanished from the source is a loud error — rebuilding without it
      // would silently drop its rows from the partition.
      val priorSameDate = done.toSeq.sorted.filter(p =>
        Sources.filenameDate(new org.apache.hadoop.fs.Path(p).getName).contains(date))
      priorSameDate.foreach { p =>
        val path = new org.apache.hadoop.fs.Path(p)
        val pfs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!pfs.exists(path)) throw new IllegalStateException(
          s"cannot rebuild ingest_date=$date: previously processed file $p " +
          "is gone; partition overwrite would silently drop its rows")
      }
      val files = priorSameDate ++ newFiles
      val readings = files.map(Sources.readCsv(spark, _)).reduce(_ unionByName _)
      val expanded =
        if (strict) IntervalExpand.strict(readings)
        else IntervalExpand.faithful(readings)
      rows += written(expanded)(Sinks.writeIdempotent(_, targetDir, date.toString))
      Ledger.record(spark, ledgerDir, newFiles)
    }
    (byDate.flatMap(_._2.map(_._2)), rows)
  }
}
