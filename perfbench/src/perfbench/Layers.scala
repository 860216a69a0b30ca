package perfbench

/** Per-layer metrics of the traced run. Counts come from a fixed window of
  * operations (the workload's first `minOps(trace = true)` operations), so
  * two traced runs with the same seed report the same counts; times are
  * medians over every operation of the run. A layer the workload does not
  * exercise reports 0. */
object Layers {
  val units: Map[String, String] = Map(
    "config.parse_ms" -> "ms",
    "pipeline.plan_ms" -> "ms", "pipeline.exec_ms" -> "ms",
    "pipeline.jobs_per_run" -> "count", "pipeline.rows_in" -> "rows",
    "pipeline.quarantine_frac" -> "ratio",
    "tables.snapshot_ms" -> "ms", "tables.log_versions" -> "count",
    "tables.live_files" -> "count", "tables.jobs_per_merge" -> "count",
    "tables.jobs_per_append" -> "count", "tables.jobs_per_mv_refresh" -> "count",
    "tables.merge.census_s" -> "s", "tables.merge.probe_s" -> "s",
    "tables.merge.stage_s" -> "s", "tables.merge.commit_s" -> "s",
    "tables.files_added_per_commit" -> "count",
    "tables.files_removed_per_commit" -> "count",
    "tables.rewrite_bytes_per_changed_row" -> "B/row",
    "streaming.batch_ms_p50" -> "ms", "streaming.jobs_per_batch" -> "count",
    "queries.lsh.candidates_s" -> "s", "queries.lsh.verify_s" -> "s",
    "queries.lsh.cc_s" -> "s", "queries.lsh.cc_rounds" -> "count",
    "queries.lsh.survivor_frac" -> "ratio",
    "core.leaked_cached_rdds" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_run_ms" -> "ms", "spark.executor_cpu_ms" -> "ms",
    "spark.driver_ms" -> "ms", "spark.shuffle_write_bytes" -> "B",
    "spark.shuffle_read_bytes" -> "B", "spark.spill_bytes" -> "B",
    "spark.gc_ms" -> "ms", "spark.input_bytes" -> "B", "spark.output_bytes" -> "B",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms", "codegen.classes_compiled" -> "count",
    "codegen.compile_ms" -> "ms")

  // core.Attribution stage names of Similarity.lshClusters, by phase
  private val lshCandidates = Seq("collapse_keys", "candidates", "cand_bands", "cand_pairs")
  private val lshVerify = Seq("verify_encode", "verify_force", "edges_sym")

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Main.median(xs)

  /** Spark and Catalyst counters per operation, averaged over `ops`. */
  def spark(ops: Seq[Op]): Map[String, Double] = {
    val cs = ops.flatMap(o => o.counters.map(o -> _))
    def m(f: ((Op, OpCounters)) => Double) = mean(cs.map(f))
    Map(
      "spark.jobs" -> m(_._2.jobs), "spark.stages" -> m(_._2.stages),
      "spark.tasks" -> m(_._2.tasks.toDouble),
      "spark.executor_run_ms" -> m(_._2.runMs.toDouble),
      "spark.executor_cpu_ms" -> m(_._2.cpuNs / 1e6),
      "spark.driver_ms" -> m { case (o, c) => math.max(0.0, o.ms - c.jobBusyMs) },
      "spark.shuffle_write_bytes" -> m(_._2.shuffleWrite.toDouble),
      "spark.shuffle_read_bytes" -> m(_._2.shuffleRead.toDouble),
      "spark.spill_bytes" -> m(_._2.spill.toDouble),
      "spark.gc_ms" -> m(_._2.gcMs.toDouble),
      "spark.input_bytes" -> m(_._2.inputBytes.toDouble),
      "spark.output_bytes" -> m(_._2.outputBytes.toDouble),
      "catalyst.analysis_ms" -> m(_._2.analysisMs.toDouble),
      "catalyst.optimization_ms" -> m(_._2.optimizationMs.toDouble),
      "catalyst.planning_ms" -> m(_._2.planningMs.toDouble),
      "codegen.classes_compiled" -> m(_._2.codegenClasses.toDouble),
      "codegen.compile_ms" -> m(_._2.codegenNs / 1e6))
  }

  def metrics(wl: Workload, ops: Seq[Op], leakedMax: Int): Map[String, Double] = {
    val window = ops.take(wl.minOps(trace = true))
    val runs = ops.filter(o => o.pipeline && o.counters.isDefined)
    val wRuns = window.filter(_.pipeline)
    def of(kinds: String*) = window.filter(o => kinds.contains(o.kind))
    def attr(o: Op, stages: Seq[String]) =
      o.counters.map(_.attribution).getOrElse(Map.empty)
        .collect { case (k, (s, _)) if stages.contains(k) => s }.sum
    def x(o: Op, k: String) = o.extra.getOrElse(k, 0.0)
    val merges = of("merge", "delete")
    val commits = window.filter(o => TableUpsert.commits(o.kind))
    val lsh = wRuns.filter(_.counters.exists(_.attribution.contains("cc_round")))
    val last = ops.reverse.find(_.extra.contains("log_version"))
    Map(
      "config.parse_ms" -> med(ops.flatMap(_.extra.get("parse_ms"))),
      "pipeline.plan_ms" -> med(runs.flatMap(_.counters.map(_.firstJobMs)).filterNot(_.isNaN)),
      "pipeline.exec_ms" -> med(runs.flatMap(o => o.counters.map(c => o.ms - c.firstJobMs))
        .filterNot(_.isNaN)),
      "pipeline.jobs_per_run" -> mean(wRuns.flatMap(_.counters.map(_.jobs.toDouble))),
      "pipeline.rows_in" -> mean(wRuns.map(_.inRows.toDouble)),
      "pipeline.quarantine_frac" -> mean(wRuns.map(o => x(o, "quarantined") /
        math.max(1.0, x(o, "rows_in")))),
      "tables.snapshot_ms" -> med(ops.flatMap(_.extra.get("snapshot_ms"))),
      "tables.log_versions" -> last.map(x(_, "log_version")).getOrElse(0.0),
      "tables.live_files" -> last.map(x(_, "live_files")).getOrElse(0.0),
      "tables.jobs_per_merge" -> med(merges.flatMap(_.counters.map(_.jobs.toDouble))),
      "tables.jobs_per_append" -> med(of("append").flatMap(_.counters.map(_.jobs.toDouble))),
      "tables.jobs_per_mv_refresh" ->
        med(of("mv_refresh").flatMap(_.counters.map(_.jobs.toDouble))),
      "tables.merge.census_s" -> mean(merges.map(attr(_, Seq("merge_census")))),
      "tables.merge.probe_s" -> mean(merges.map(attr(_, Seq("merge_probe")))),
      "tables.merge.stage_s" -> mean(merges.map(attr(_, Seq("merge_stage")))),
      "tables.merge.commit_s" -> mean(merges.map(attr(_, Seq("merge_commit")))),
      "tables.files_added_per_commit" -> mean(commits.map(x(_, "files_added"))),
      "tables.files_removed_per_commit" -> mean(commits.map(x(_, "files_removed"))),
      "tables.rewrite_bytes_per_changed_row" -> {
        val rows = merges.map(x(_, "changed_rows")).sum
        if (rows == 0) 0.0 else merges.map(x(_, "bytes_added")).sum / rows
      },
      // no streaming op runs: see perfbench/README.md
      "streaming.batch_ms_p50" -> 0.0,
      "streaming.jobs_per_batch" -> 0.0,
      "queries.lsh.candidates_s" -> mean(lsh.map(attr(_, lshCandidates))),
      "queries.lsh.verify_s" -> mean(lsh.map(attr(_, lshVerify))),
      "queries.lsh.cc_s" -> mean(lsh.map(attr(_, Seq("cc_round")))),
      "queries.lsh.cc_rounds" -> mean(lsh.map(o =>
        o.counters.get.attribution.get("cc_round").map(_._2.toDouble).getOrElse(0.0))),
      "queries.lsh.survivor_frac" -> mean(wRuns.flatMap(_.extra.get("dedup_survivor_frac"))),
      "core.leaked_cached_rdds" -> leakedMax.toDouble
    ) ++ spark(window)
  }

  /** Spark and Catalyst counters split by operation type (window only). */
  def perOpType(ops: Seq[Op]): Map[String, Map[String, Double]] =
    ops.filter(_.counters.isDefined).groupBy(_.kind).map { case (k, v) =>
      k -> (spark(v) ++ Map("ops" -> v.size.toDouble)) }
}
