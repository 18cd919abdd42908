package graft.io

/** CLI entry for the batch pipeline: `runMain graft.io.PipelineMain
  * <sourceDir> <targetDir> [--strict] [--append] [--incremental]`.
  * `--incremental` processes every pending dated file (bookmark ledger at
  * `<targetDir>/_ledger` — the underscore prefix keeps it invisible to
  * Spark's file index); default processes the newest file only, like the
  * reference. Exit code semantics replace the reference's Step Functions
  * retry contract (SURVEY §3.3).
  */
object PipelineMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: PipelineMain <sourceDir> <targetDir> [--strict] [--append] [--incremental]")
    val spark = graft.SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    try {
      if (args.contains("--incremental")) {
        val (files, rows) = Pipeline.runIncremental(spark, args(0), args(1),
          ledgerDir = args(1) + "/_ledger", strict = args.contains("--strict"))
        println(s"""{"pipeline":"ok","files_processed":${files.size},"rows_written":$rows,"target":"${args(1)}"}""")
      } else {
        val n = Pipeline.run(spark, args(0), args(1),
          strict = args.contains("--strict"), idempotent = !args.contains("--append"))
        println(s"""{"pipeline":"ok","rows_written":$n,"target":"${args(1)}"}""")
      }
    } finally spark.stop()
  }
}
