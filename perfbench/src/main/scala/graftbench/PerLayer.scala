package graftbench

/** The per-layer metrics of the traced run, in report order, with units.
  * Every traced run reports all of them; a layer a workload does not touch
  * reads 0. README.md maps each to the end-to-end metric it should move.
  */
object PerLayer {
  val units: Seq[(String, String)] = Seq(
    "queries.build_s" -> "s", "queries.build_jobs" -> "count",
    "core.rdd_blocks_written" -> "count", "core.rdd_mb_written" -> "MB",
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s",
    "catalyst.planning_s" -> "s", "catalyst.codegen_compiles" -> "count",
    "catalyst.codegen_compile_s" -> "s",
    "scheduler.jobs" -> "count", "scheduler.tasks" -> "count",
    "scheduler.tasks_per_job" -> "1", "scheduler.empty_task_ratio" -> "1",
    "scheduler.driver_idle_s" -> "s",
    "executor.run_s" -> "s", "executor.cpu_s" -> "s", "executor.gc_s" -> "s",
    "executor.slot_busy_ratio" -> "1",
    "shuffle.write_mb" -> "MB", "shuffle.read_mb" -> "MB",
    "shuffle.fetch_wait_s" -> "s", "shuffle.spill_mb" -> "MB",
    "driver.result_mb" -> "MB", "driver.gc_s" -> "s",
    "qpe.grid_s" -> "s", "qpe.kernel_s" -> "s", "qpe.write_s" -> "s",
    "qpe.product_mb" -> "MB",
    "rt.emit_wait_s" -> "s", "rt.trigger_overhead_s" -> "s",
    "rt.state_rows" -> "count", "rt.generator_lag_s" -> "s",
    "llm.curation_s" -> "s", "llm.dedupindex_s" -> "s",
    "llm.similarity_s" -> "s", "rt.audit_s" -> "s",
    "llm.index_files" -> "count", "llm.index_mb" -> "MB", "llm.kept_ratio" -> "1",
    "trace.run_s" -> "s", "trace.overhead_s" -> "s",
    "trace.job_self_s" -> "s", "trace.stage_s" -> "s")

  def names: Seq[String] = units.map(_._1)
  def unit(name: String): String = units.find(_._1 == name).map(_._2).getOrElse("1")
}
