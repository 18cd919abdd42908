package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Partitioned-layout materialization for dynamic partition pruning — the
  * OTHER half of the 100 TB scan-reduction story next to bucketing: a
  * fact table hive-partitioned on a derived key lets Catalyst prune whole
  * partition DIRECTORIES at runtime from a dim-side filter
  * (DynamicPartitionPruning: the dim join keys arrive via the reused
  * broadcast exchange and become a partition filter on the fact scan), so
  * a quarter-scoped query over a decade of data reads 3 months of files
  * — never planned, never opened. `q_join_dpp` exercises the path
  * end-to-end; PlanContractSpec pins the `dynamicpruning` scan filter.
  *
  * The layout is a corpus artifact ([[graft.io.Artifacts]]): pay the
  * partitioned write once, every downstream query prunes for free.
  */
object Dpp {

  /** Materialize `df` hive-partitioned by `partCol`, once per content of
    * corpus `dir`, and return the layout path. */
  def ensurePartitioned(dir: String, df: DataFrame, partCol: String): String =
    graft.io.Artifacts.once(dir, "graft_dpp_layout") {
      val path = graft.io.Artifacts.path(dir, "graft_dpp_layout")
      df.write.mode(SaveMode.Overwrite).partitionBy(partCol).parquet(path)
      path
    }
}
