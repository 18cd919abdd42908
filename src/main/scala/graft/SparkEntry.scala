package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates the per-module query catalogs. Each module pairs Spark
  * DataFrame queries with DuckDB oracle SQL over the same parquet tables;
  * modules without an oracle entry get the driver's rows-only check
  * (approximate / non-SQL-expressible operators).
  */
object SparkEntry {

  // def, not val: the generated oracles read fits and recordings that
  // queries leave at run time, through Artifacts.single — a val would
  // freeze the map before any query ran and permanently drop them.
  private[graft] def modules: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      (Flagship.defs, Flagship.oracles),
      (Relational.defs, Relational.oracles),
      (Windows.defs, Windows.oracles),
      (SetOps.defs, SetOps.oracles),
      (Scalars.defs, Scalars.oracles),
      (Events.defs, Events.oracles),
      (LlmOps.defs, LlmOps.oracles),
      (TextQueries.defs, TextQueries.oracles),
      (UdfDemo.defs, UdfDemo.oracles),
      (Multimodal.defs, Multimodal.oracles),
      (StreamingQueries.defs, StreamingQueries.oracles)
    )

  /** The local session every entry point runs on: `local[cores]`, one
    * shuffle partition per core, UTC, no UI, WARN logging. */
  def localSession(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_interval_expand")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.iterator.map(_._1).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.iterator.map(_._2).reduce(_ ++ _)
}
