package graftbench

/** The per-layer metric names of the traced run. Every traced run reports
  * all of them; a layer that a workload does not call reads 0. */
object Layers {
  val Families: Seq[String] = Seq("ops.dedup", "ops.similarity", "ops.textsearch", "ops.graph", "queries.curation")
  val FamilyFields: Seq[String] = Seq("jobs", "stages", "tasks", "task_ms", "plan_ms", "driver_ms",
    "shuffle_bytes", "gc_ms", "cold_ms", "warm_ms")
  val Routes: Seq[String] = Seq("search", "similar")
  val RouteFields: Seq[String] = Seq("requests", "errors", "latency_p50_ms", "jobs_per_req",
    "plan_ms_per_req", "task_ms_per_req")
  /** Build-once artifacts, timed by calling their builders directly. */
  val Artifacts: Seq[String] = Seq("postings_index", "ivf_index")

  val names: Seq[String] =
    Seq("sources.scan_rows", "sources.scan_bytes", "sources.scan_task_ms") ++
    Seq("events_in", "shuffle_records", "shuffle_bytes", "task_ms", "wall_ms", "combine_ratio")
      .map("pipeline.fold." + _) ++
    Seq("triggers", "rows_per_trigger_p50", "trigger_ms_p50", "trigger_ms_p99", "add_batch_ms_p50",
      "planning_ms_p50", "commit_ms_p50", "state_rows", "state_memory_bytes", "backlog_files_max",
      "gen_late_ms_p99", "latency_p99_ms").map("streaming." + _) ++
    (for (f <- Families; x <- FamilyFields) yield s"$f.$x") ++
    Seq("queries.curate.cold_s", "queries.curate.warm_s") ++
    Artifacts.map(a => s"queries.artifacts.$a.build_ms") ++
    (for (r <- Routes; x <- RouteFields) yield s"service.$r.$x") ++
    Seq("jvm.gc_ms", "jvm.peak_rss_mb", "trace.spans", "trace.overhead_ms", "trace.overhead_share")

  val defaults: Map[String, Double] = names.map(_ -> 0.0).toMap

  def unit(name: String): String = name.split('.').last match {
    case n if n.endsWith("_per_s") => "1/s"
    case n if n.endsWith("_ms") || n.contains("_ms_") => "ms"
    case n if n.endsWith("_s") => "s"
    case n if n.endsWith("_bytes") => "bytes"
    case n if n.endsWith("_mb") => "MB"
    case n if n.endsWith("ratio") || n.endsWith("share") => "ratio"
    case _ => "count"
  }
}
