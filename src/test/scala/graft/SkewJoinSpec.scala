package graft

import org.apache.spark.sql.execution.PartialReducerPartitionSpec
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.functions._

/** Skew-mitigation contracts. The uniform scale ladder cannot grow key
  * skew (replica key-spaces are disjoint), so these pin the two
  * mitigation paths on a constructed hot key:
  *
  *  1. AQE skew-split ENGAGES: the skewed side's over-threshold shuffle
  *     partition is split into PartialReducerPartitionSpec slices — the
  *     runtime's own mitigation, asserted from the executed plan's
  *     metrics rather than trusted from documentation.
  *  2. Manual salting produces identical results to the unsalted join —
  *     the correctness half of the `q_join_skew_salted` demo (its
  *     measured half lives in SCALE.md on the zipf corpus).
  *
  * Thresholds are lowered because test data is KBs, not the 256 MB
  * production default; the PLAN SHAPE under "partition >> threshold" is
  * what's being pinned, and that shape is size-ratio-invariant.
  */
class SkewJoinSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val confKeys = Seq(
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.adaptive.skewJoin.enabled",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes")

  private def withSkewConf[T](f: => T): T = {
    val saved = confKeys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      f
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // ~50% of fact rows on one hot key, remainder uniform over 1000 keys —
  // the zipf-corpus shape at in-memory size
  private def fact = spark.range(120000).select(
    when(col("id") % 2 === 0, lit(7L)).otherwise(pmod(col("id"), lit(1000)))
      .as("k"),
    (col("id") % 97).as("v")) // integral payload: sums compare exactly
  private def dim = spark.range(1000).select(
    col("id").as("k2"), concat(lit("g"), col("id") % 5).as("grp"))

  test("AQE splits the hot partition: PartialReducerPartitionSpec in the executed plan") {
    withSkewConf {
      val j = fact.join(dim, col("k") === col("k2"))
        .groupBy("grp").agg(count(lit(1)).as("n"), sum("v").as("s"))
      j.collect() // AQE finalizes only on execution
      val reads = collectWithSubqueries(j.queryExecution.executedPlan) {
        case r: AQEShuffleReadExec => r
      }
      assert(reads.nonEmpty, "no AQE shuffle reads in the executed plan")
      val skewSplits = reads.flatMap(_.partitionSpecs).collect {
        case p: PartialReducerPartitionSpec => p
      }
      assert(skewSplits.nonEmpty,
        s"AQE did not split the hot partition:\n${j.queryExecution.executedPlan}")
    }
  }

  test("salted join equals unsalted on the same skewed data") {
    withSkewConf {
      val salts = 8
      val unsalted = fact.join(dim, col("k") === col("k2"))
        .groupBy("grp").agg(count(lit(1)).as("n"), sum("v").as("s"))
        .orderBy("grp").collect().toSeq
      val f = fact.withColumn("f_salt", pmod(xxhash64(col("k"), col("v")), lit(salts)))
      val d = dim.withColumn("d_salt", explode(sequence(lit(0), lit(salts - 1))))
      val salted = f.join(d,
          col("k") === col("k2") && col("f_salt") === col("d_salt"))
        .groupBy("grp").agg(count(lit(1)).as("n"), sum("v").as("s"))
        .orderBy("grp").collect().toSeq
      assert(salted == unsalted, "salting changed the join result")
    }
  }
}
