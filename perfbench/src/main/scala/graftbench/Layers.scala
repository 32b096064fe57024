package graftbench

/** Folds the jobs, stages and query executions of one traced op into
  * its per-layer fields. A job belongs to exactly one layer:
  *  - `store_read` / `store_write`: launched inside the benchmark's
  *    calls into the index's [[graft.sources.DataStore]];
  *  - `load`: a parquet schema read (`parquet at ...`), i.e. a fixture
  *    or batch load through `SparkEntry.table`;
  *  - `materialize`: an eager pin (`localCheckpoint at ...`);
  *  - `construct`: any other job launched while the op's frame is
  *    being built;
  *  - `exec`: any other job of the final action.
  * Adaptive execution submits its query-stage jobs from a helper
  * thread, so their call site names that thread; such a job takes the
  * call site of the job of the same SQL execution that was submitted
  * from the op's own thread (the pin, the write, the final action). */
object Layers {
  private def isStageJob(site: String) = site.contains("withThreadLocalCaptured")

  def layer(j: JobRec, site: String): String =
    if (j.store.nonEmpty) "store_" + j.store
    else if (site.startsWith("parquet at ")) "load"
    else if (site.startsWith("localCheckpoint at ") || site.startsWith("checkpoint at "))
      "materialize"
    else if (j.phase == "construct") "construct"
    else "exec"

  /** Seconds covered by the union of the jobs' [start, end] intervals. */
  def covered(js: Seq[JobRec]): Double = {
    var end = Long.MinValue
    var total = 0L
    js.sortBy(_.startMs).foreach { j =>
      if (j.endMs > end) {
        total += j.endMs - math.max(j.startMs, end)
        end = j.endMs
      }
    }
    total / 1e3
  }

  private val MB = 1024.0 * 1024.0

  def perOp(
      jobs: Seq[JobRec], plans: Seq[(String, Long)], opStartMs: Long,
      constructS: Double, execS: Double, storeReadS: Double,
      storeWriteS: Double, pinnedBytes: Long): Seq[(String, Any)] = {
    val rootSite = jobs.filter(j => j.executionId.nonEmpty && !isStageJob(j.callSite))
      .groupBy(_.executionId).map { case (id, js) => id -> js.maxBy(_.id).callSite }
    def site(j: JobRec) =
      if (isStageJob(j.callSite)) rootSite.getOrElse(j.executionId, j.callSite)
      else j.callSite
    val layered = jobs.sortBy(_.id).map(j => (j, site(j), layer(j, site(j))))
    val by = layered.groupBy(_._3).map { case (k, v) => k -> v.map(_._1) }
      .withDefaultValue(Nil)
    val inConstruct = jobs.filter(_.phase == "construct")
    val stages = jobs.flatMap(_.stages)
    val exec = by("exec").flatMap(_.stages)
    Seq(
      "construct_s" -> constructS,
      "exec_s" -> execS,
      "jobs_covered_s" -> covered(jobs),
      "construct.jobs" -> inConstruct.size,
      "construct.self_s" -> (constructS - covered(inConstruct)),
      "sources.load_s" -> covered(by("load")),
      "sources.load_jobs" -> by("load").size,
      "sources.scan_mb" -> stages.map(_.inputBytes).sum / MB,
      "sources.scan_rows" -> stages.map(_.inputRecords).sum,
      "sources.store_read_s" -> storeReadS,
      "sources.store_write_s" -> storeWriteS,
      "sources.store_write_mb" ->
        by("store_write").flatMap(_.stages).map(_.outputBytes).sum / MB,
      "materialize.pins" ->
        layered.count { case (j, s, l) => l == "materialize" && !isStageJob(j.callSite) },
      "materialize.s" -> covered(by("materialize")),
      "materialize.mb" -> pinnedBytes / MB,
      "plan.s" -> plans.map(_._2).sum / 1e3,
      "plan.executions" -> plans.size,
      "exec.jobs" -> by("exec").size,
      "exec.stages" -> exec.size,
      "exec.tasks" -> exec.map(_.numTasks).sum,
      "exec.task_s" -> exec.map(_.runTimeMs).sum / 1e3,
      "exec.single_task_stages" -> exec.count(_.numTasks == 1),
      "exec.shuffle_read_mb" -> exec.map(_.shuffleReadBytes).sum / MB,
      "exec.shuffle_write_mb" -> exec.map(_.shuffleWriteBytes).sum / MB,
      "exec.spill_mb" -> exec.map(_.spillBytes).sum / MB,
      "all_task_s" -> stages.map(_.runTimeMs).sum / 1e3,
      "jobs" -> layered.map { case (j, s, l) =>
        Seq(l, j.phase, s, j.startMs - opStartMs, j.endMs - j.startMs,
          j.stages.size, j.stages.map(_.numTasks).sum)
      })
  }
}
