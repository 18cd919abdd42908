package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** r17 equivalence pins for the graph loops moved from unrolled Catalyst
  * plans to RDD loops (Lpa, Bfs, KCore): each new loop must reproduce the
  * pre-r17 DataFrame recurrence bit-for-bit on randomized graphs. The old
  * recurrences are inlined here verbatim (minus the per-round
  * localCheckpoint, harmless at test depth) so the pin survives the
  * production code's rewrite.
  */
class R17GraphLoopEquivSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic pseudo-random symmetrized edge list. */
  private def randomGraph(n: Int, m: Int, seed: Long): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val base = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    (base ++ base.map(_.swap)).toDF("src", "dst")
  }

  // ---- pre-r17 DF recurrences, inlined ----

  private def lpaDf(edges: DataFrame, rounds: Int): DataFrame = {
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
    var labels = e.select(col("src").as("id")).distinct()
      .withColumn("lab", col("id"))
    for (_ <- 1 to rounds) {
      val votes = e.join(labels, col("id") === col("src"))
        .groupBy(col("dst"), col("lab")).agg(count(lit(1)).as("c"))
      labels = votes
        .groupBy(col("dst").as("id"))
        .agg(max(struct(col("c"), (-col("lab")).as("nl"))).as("m"))
        .select(col("id"), (-col("m.nl")).as("lab"))
        .localCheckpoint(eager = true)
    }
    labels.select(col("id"), col("lab").as("community"))
  }

  private def bfsDf(edges: DataFrame, seed: org.apache.spark.sql.Column,
                    rounds: Int): (DataFrame, Int) = {
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
    var dist = e.select(col("src").as("id")).distinct()
      .filter(seed).withColumn("d", lit(0))
    var prevCount = dist.count()
    var executed = 0
    var converged = false
    while (executed < rounds && !converged) {
      dist = dist
        .unionByName(e.join(dist.withColumnRenamed("id", "src"), "src")
          .select(col("dst").as("id"), (col("d") + 1).as("d")))
        .groupBy("id").agg(min("d").as("d"))
        .localCheckpoint(eager = true)
      executed += 1
      val c = dist.count()
      converged = c == prevCount
      prevCount = c
    }
    (dist.select(col("id"), col("d").as("dist")), executed)
  }

  private def kcoreDf(edges: DataFrame, k: Int,
                      rounds: Int): (DataFrame, Int) = {
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
    def shrink(act: DataFrame) = e
      .join(act.select(col("id").as("src")), Seq("src"), "left_semi")
      .join(act.select(col("id").as("dst")), Seq("dst"), "left_semi")
    var active = e.select(col("src").as("id")).distinct()
    var prevCount = active.count()
    var executed = 0
    var converged = false
    while (executed < rounds && !converged) {
      active = shrink(active)
        .groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select("id")
        .localCheckpoint(eager = true)
      executed += 1
      val c = active.count()
      converged = c == prevCount
      prevCount = c
    }
    (shrink(active)
      .groupBy(col("src").as("id")).agg(count(lit(1)).as("core_degree")),
      executed)
  }

  test("Lpa.propagate (RDD loop) == pre-r17 DF recurrence on random graphs") {
    for (seed <- 1L to 3L) {
      val g = randomGraph(n = 40, m = 80, seed)
      val now = graft.ops.Lpa.propagate(g, rounds = 3)
        .orderBy("id").as[(Long, Long)].collect().toSeq
      val old = lpaDf(g, rounds = 3)
        .orderBy("id").as[(Long, Long)].collect().toSeq
      assert(now == old, s"LPA diverged on seed $seed")
    }
  }

  test("Bfs.distancesConverged (RDD loop) == pre-r17 DF recurrence") {
    // caps 1-3 stop below the fixpoint (these graphs take 4-5 rounds): a
    // capped run must equal the same number of fixed reference rounds
    for (seed <- 1L to 3L; cap <- Seq(1, 2, 3, 100)) {
      val g = randomGraph(n = 60, m = 90, seed)
      val (nowDf, nowRounds) = graft.ops.Bfs.distancesConverged(g,
        col("id") % 5 === 0, maxRounds = cap)
      val now = nowDf.orderBy("id").as[(Long, Int)].collect().toSeq
      val (oldDf, oldRounds) = bfsDf(g, col("id") % 5 === 0, rounds = cap)
      val old = oldDf.orderBy("id").as[(Long, Int)].collect().toSeq
      assert(nowRounds == oldRounds,
        s"BFS round count drifted on seed $seed cap $cap")
      assert(now == old, s"BFS distances diverged on seed $seed cap $cap")
    }
  }

  test("Components: even maxIter converging exactly at the cap is not refused") {
    // one edge: round 1 relabels vertex 2, round 2 is the identity. The
    // paired convergence check compares two rounds back, so at an even
    // cap it still sees round 1's change — the single-round fallback at
    // the cap boundary must recognize convergence instead of throwing.
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val out = graft.ops.Components.connectedComponents(edges, "src", "dst",
        maxIter = 2)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 1L), (2L, 1L)))
    // and a genuinely unconverged run at an even cap still refuses
    val path = (1L until 40L).map(i => (i, i + 1)).toDF("src", "dst")
    intercept[IllegalStateException] {
      graft.ops.Components.connectedComponents(path, "src", "dst",
        maxIter = 2).count()
    }
  }

  test("KCore.peelConverged (RDD loop) == pre-r17 DF recurrence") {
    for (seed <- 1L to 3L; cap <- Seq(1, 2, 3, 100)) {
      val g = randomGraph(n = 40, m = 70, seed)
      val (nowDf, nowRounds) =
        graft.ops.KCore.peelConverged(g, k = 2, maxRounds = cap)
      val now = nowDf.orderBy("id").as[(Long, Long)].collect().toSeq
      val (oldDf, oldRounds) = kcoreDf(g, k = 2, rounds = cap)
      val old = oldDf.orderBy("id").as[(Long, Long)].collect().toSeq
      assert(nowRounds == oldRounds,
        s"k-core round count drifted on seed $seed cap $cap")
      assert(now == old, s"k-core diverged on seed $seed cap $cap")
    }
  }

  test("non-integral vertex ids are refused by every RDD-loop operator") {
    // a truncating cast would merge 10.2 and 10.9 into vertex 10
    val g = Seq((10.2, 1L), (10.9, 2L), (1.0, 10L)).toDF("src", "dst")
    val calls: Seq[() => Any] = Seq(
      () => graft.ops.Bfs.distancesConverged(g, col("id") === 1),
      () => graft.ops.KCore.peelConverged(g, k = 1),
      () => graft.ops.Lpa.propagate(g, rounds = 1),
      () => graft.ops.Components.connectedComponents(g, "src", "dst"))
    for (call <- calls) {
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("must be integral"), e.getMessage)
    }
  }

  test("graph loops release the caches their results no longer read") {
    val sc = spark.sparkContext
    // ids of the RDDs `body` leaves persisted (released again afterwards)
    def leftPersisted(body: => Unit): Int = {
      val before = sc.getPersistentRDDs.keySet
      body
      val left = sc.getPersistentRDDs.keySet -- before
      left.foreach(id => sc.getPersistentRDDs(id).unpersist())
      left.size
    }
    val g = randomGraph(n = 60, m = 90, seed = 1L)
    // the materialized distance table is the one cache the result reads
    assert(leftPersisted {
      graft.ops.Bfs.distancesConverged(g, col("id") % 5 === 0)._1.collect()
    } == 1)
    val path = (1L until 40L).map(i => (i, i + 1)).toDF("src", "dst")
    assert(leftPersisted {
      intercept[IllegalStateException] {
        graft.ops.Components.connectedComponents(path, "src", "dst",
          maxIter = 2)
      }
    } == 0)
  }
}
