package perfbench

import java.nio.file.{Files, Paths}

/** Per-layer metrics of a traced run, and its span file.
  *
  * Spans nest workload -> op -> micro-batch -> Spark job (ops without
  * micro-batches hold their jobs directly). A span's self time is its
  * exclusive share of its parent minus what its children cover, so the self
  * times of an op and everything below it add up to the op's wall even when
  * jobs run concurrently; an op's self time is its driver gap, the wall no
  * Spark job or micro-batch accounts for. */
object Layers {

  private final case class Span(id: String, parent: String, kind: String, name: String,
                                module: String, startMs: Long, endMs: Long, selfMs: Double)

  private def clip(iv: (Long, Long), lo: Long, hi: Long) =
    (math.max(iv._1, lo), math.max(math.min(iv._2, hi), math.max(iv._1, lo)))

  /** Each interval's exclusive share: every instant is split evenly among
    * the intervals active at it, so concurrent jobs (AQE submits
    * independent stages together) are not counted twice and the shares
    * add up to the covered length. */
  private def shares(iv: Seq[(Long, Long)]): Seq[Double] = {
    val pts = iv.flatMap { case (s, e) => Seq(s, e) }.distinct.sorted
    val out = Array.fill(iv.size)(0.0)
    pts.zip(pts.drop(1)).foreach { case (p, q) =>
      val active = iv.indices.filter(i => iv(i)._1 <= p && iv(i)._2 >= q)
      active.foreach(i => out(i) += (q - p).toDouble / active.size)
    }
    out.toSeq
  }

  /** Spans of one op with exclusive self times, and its driver gap (ms):
    * the op's wall not covered by any micro-batch or job. */
  private def opSpans(op: Op): (Seq[Span], Long) = {
    val opId = s"op${op.pass}.${op.name}"
    val (lo, hi) = (op.startMs, math.max(op.endMs, op.startMs))
    val batchIv = op.snap.batches.map(b => clip((b.startMs, b.startMs + b.triggerMs), lo, hi))
    def jobIv(j: JobRec) = clip((j.startMs, j.endMs), lo, hi)
    val inBatch = op.snap.jobs.groupBy { j =>
      val (s, e) = jobIv(j)
      batchIv.indexWhere { case (bs, be) => s >= bs && e <= be }
    }
    val direct = inBatch.getOrElse(-1, Nil)
    val children = batchIv ++ direct.map(jobIv)
    val childShare = shares(children)
    val gapMs = (hi - lo) - Stats.covered(children)
    val batchSpans = op.snap.batches.indices.flatMap { i =>
      val b = op.snap.batches(i)
      val (bs, be) = batchIv(i)
      val scale = if (be > bs) childShare(i) / (be - bs) else 0.0
      val jobs = inBatch.getOrElse(i, Nil)
      val jobShare = shares(jobs.map(jobIv)).map(_ * scale)
      val bid = s"$opId.b${b.batchId}"
      Span(bid, opId, "batch", s"${b.queryId}#${b.batchId}", "streaming", bs, be,
        childShare(i) - jobShare.sum) +:
        jobs.zip(jobShare).map { case (j, sh) =>
          Span(s"$opId.j${j.id}", bid, "job", j.callSite, j.module, jobIv(j)._1, jobIv(j)._2, sh) }
    }
    val directSpans = direct.zip(childShare.drop(batchIv.size)).map { case (j, sh) =>
      Span(s"$opId.j${j.id}", opId, "job", j.callSite, j.module, jobIv(j)._1, jobIv(j)._2, sh) }
    (Span(opId, "workload", "op", op.name, op.group, lo, hi, gapMs.toDouble) +:
      (batchSpans ++ directSpans), gapMs)
  }

  def apply(workload: String, all: Seq[Op], traced: Seq[Op],
            spansOut: Option[String]): Map[String, Double] = {
    import Stats.median
    val perOp = traced.map(opSpans)
    val spans = perOp.flatMap(_._1)
    // driver gap (s) and reconciliation error (share of the op's wall): the
    // exclusive self times of an op and everything below it add up to its wall
    val gaps = perOp.map { case (ss, gapMs) =>
      val wall = (ss.head.endMs - ss.head.startMs).toDouble
      (gapMs / 1000.0, if (wall > 0) math.abs(ss.map(_.selfMs).sum - wall) / wall else 0.0)
    }

    val n = math.max(traced.size, 1).toDouble
    val stages = traced.flatMap(_.snap.stages)
    val jobs = traced.flatMap(_.snap.jobs)
    val wallS = traced.map(_.wallS).sum
    val runS = stages.map(_.runMs).sum / 1000.0
    val spark = Map(
      "spark.jobs" -> jobs.size / n,
      "spark.stages" -> stages.count(_.tasks > 0) / n,
      "spark.tasks" -> stages.map(_.tasks).sum / n,
      "spark.executor_run_s" -> runS / n,
      "spark.executor_cpu_s" -> stages.map(_.cpuNs).sum / 1e9 / n,
      "spark.gc_s" -> stages.map(_.gcMs).sum / 1000.0 / n,
      "spark.busy_cores" -> (if (wallS > 0) runS / wallS else 0.0),
      "spark.driver_gap_s" -> gaps.map(_._1).sum / n,
      "spark.scan_tasks_max" -> stages.filter(_.scansFiles).map(_.numTasks).maxOption.getOrElse(0).toDouble,
      "spark.shuffle_write_bytes" -> stages.map(_.shuffleWriteBytes).sum / n,
      "spark.shuffle_read_bytes" -> stages.map(_.shuffleReadBytes).sum / n,
      "spark.spill_bytes" -> stages.map(_.spillBytes).sum / n,
      "spark.task_failures" -> stages.map(_.failedTasks).sum.toDouble)

    // tracing overhead: traced wall over untraced wall of the same work
    val untraced = all.filterNot(_.traced)
    val overhead =
      if (traced.isEmpty || untraced.isEmpty) 0.0
      else if (workload == "pipeline_incremental") {
        def perRow(ops: Seq[Op]) = median(ops.map(o => o.wallS / math.max(o.rows, 1L)))
        perRow(traced) / perRow(untraced)
      } else {
        val u = untraced.groupBy(_.name).map { case (k, v) => k -> median(v.map(_.wallS)) }
        median(traced.groupBy(_.name).toSeq.collect {
          case (k, v) if u.contains(k) => median(v.map(_.wallS)) / u(k) })
      }
    val trace = Map(
      "trace.overhead" -> overhead,
      "trace.reconcile_err_frac" -> gaps.map(_._2).maxOption.getOrElse(0.0))

    def atFile(op: Op, file: String) =
      Stats.covered(op.snap.jobs.filter(_.callSite.contains(file)).map(j => (j.startMs, j.endMs))) / 1000.0
    val pipe = workload == "pipeline_incremental"
    val pipeline = Map(
      "io.pipeline.jobs_per_file" -> (if (pipe) jobs.size / n else 0.0),
      "io.pipeline.count_job_s" -> (if (pipe) median(traced.map(atFile(_, "Pipeline.scala"))) else 0.0),
      "io.pipeline.driver_s" -> (if (pipe) median(gaps.map(_._1)) else 0.0),
      "io.pipeline.cached_bytes_peak" ->
        (if (pipe) traced.map(_.snap.cachedBytesPeak).maxOption.getOrElse(0L).toDouble else 0.0),
      "io.sources.csv_read_amplification" -> {
        val landed = traced.map(_.extra.getOrElse("landed_bytes", 0.0)).sum
        if (landed > 0) stages.filter(_.scansFiles).map(_.inputBytes).sum / landed else 0.0
      },
      "io.sinks.write_job_s" -> (if (pipe) median(traced.map(atFile(_, "Sinks.scala"))) else 0.0),
      "io.sinks.rows_out" -> (if (pipe) median(traced.map(_.snap.writes.map(_.rows).sum.toDouble)) else 0.0),
      "io.sinks.bytes_out" -> (if (pipe) median(traced.map(_.snap.writes.map(_.bytes).sum.toDouble)) else 0.0),
      "io.sinks.files_out" -> (if (pipe) median(traced.map(_.snap.writes.map(_.files).sum.toDouble)) else 0.0),
      "io.ledger.processed_s" -> median(traced.flatMap(_.extra.get("ledger_s"))),
      "io.ledger.markers" -> median(traced.flatMap(_.extra.get("markers"))),
      "ops.expand.rows_out_per_in" -> {
        val in = traced.map(_.extra.getOrElse("intervals", 0.0)).sum
        if (in > 0) traced.map(_.rows).sum / in else 0.0
      })

    val batches = traced.flatMap(_.snap.batches)
    def perBatch(key: String) = median(batches.map(_.durationMs.getOrElse(key, 0L) / 1000.0))
    val stream = Map(
      "stream.batch_p50_s" -> median(batches.map(_.triggerMs / 1000.0)),
      "stream.add_batch_s" -> perBatch("addBatch"),
      "stream.wal_commit_s" -> perBatch("walCommit"),
      "stream.commit_offsets_s" -> perBatch("commitOffsets"),
      "stream.query_planning_s" -> perBatch("queryPlanning"),
      "stream.latest_offset_s" -> perBatch("latestOffset"),
      "stream.get_batch_s" -> perBatch("getBatch"),
      "stream.state_commit_s" -> median(batches.map(_.stateCommitMs / 1000.0)),
      "stream.state_rows" -> median(batches.map(_.stateRows.toDouble)),
      "stream.state_bytes" -> median(batches.map(_.stateBytes.toDouble)),
      "stream.batches" -> (if (batches.isEmpty) 0.0 else median(traced.map(_.snap.batches.size.toDouble))),
      "stream.query_overhead_s" ->
        (if (batches.isEmpty) 0.0 else median(traced.map(o => o.wallS - o.snap.batches.map(_.triggerMs).sum / 1000.0))))

    // catalog counts and group walls per pass: the sum, over the queries
    // of a group, of each query's median over its traced runs
    val cat = workload == "catalog_mix"
    def perPass(group: Option[String])(f: Op => Double) =
      if (!cat) 0.0
      else traced.filter(o => group.forall(_ == o.group)).groupBy(_.name).values
        .map(v => median(v.map(f))).sum
    val catalog = Map(
      "catalog.construct_s" -> (if (cat) median(traced.map(_.constructS)) else 0.0),
      "catalog.eager_jobs" -> perPass(None)(o => o.snap.jobs.count(_.startMs <= o.constructEndMs).toDouble),
      "catalog.exec_s" -> (if (cat) median(traced.map(_.execS)) else 0.0),
      "catalog.graph.exec_s" -> perPass(Some("graph"))(_.execS),
      "catalog.graph.jobs" -> perPass(Some("graph"))(_.snap.jobs.size.toDouble),
      "catalog.llm.exec_s" -> perPass(Some("llm"))(_.execS),
      "catalog.relational.exec_s" -> perPass(Some("relational"))(_.execS))

    spansOut.foreach { path =>
      val wlStart = traced.map(_.startMs).minOption.getOrElse(0L)
      val wlEnd = traced.map(_.endMs).maxOption.getOrElse(0L)
      val covered = Stats.covered(traced.map(o => (o.startMs, o.endMs)))
      val rows = Map("id" -> "workload", "parent" -> "", "kind" -> "workload", "name" -> workload,
        "module" -> "perfbench", "start_ms" -> wlStart, "end_ms" -> wlEnd,
        "self_ms" -> ((wlEnd - wlStart) - covered)) +: spans.map { s =>
        Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
          "module" -> s.module, "start_ms" -> s.startMs, "end_ms" -> s.endMs, "self_ms" -> s.selfMs)
      }
      Files.writeString(Paths.get(path), rows.map(Json.render).mkString("[\n", ",\n", "\n]\n"))
    }
    spark ++ trace ++ pipeline ++ stream ++ catalog
  }
}
