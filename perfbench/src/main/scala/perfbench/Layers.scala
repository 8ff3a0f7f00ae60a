package perfbench

/** The per-layer metrics of a traced run. Every traced run reports every
  * name below; a layer the workload never calls reports 0. */
object Layers {
  final case class M(name: String, unit: String, better: String)

  private def lo(n: String, u: String) = M(n, u, "lower")
  private def hi(n: String, u: String) = M(n, u, "higher")

  val fixed: Seq[M] = Seq(
    lo("ingest.replay_s", "s"),
    hi("ingest.input_mb", "MB"),
    lo("merge.apply_s", "s"),
    hi("merge.events_in", "count"),
    lo("merge.events_quarantined", "count"),
    lo("merge.keys_written", "count"),
    lo("merge.tombstones_written", "count"),
    lo("merge.buckets_touched", "count"),
    lo("merge.skipped", "count"),
    hi("merge.useful_ratio", "ratio"),
    lo("lake.files_added", "count"),
    lo("lake.files_removed", "count"),
    lo("lake.bytes_removed_mb", "MB"),
    lo("lake.files_total", "count"),
    lo("lake.snapshot_ms", "ms"),
    lo("lake.tombstone_share", "ratio"),
    lo("lake.compact_s", "s"),
    lo("lake.compact_mb", "MB"),
    lo("dsv2.lookup_plan_ms", "ms"),
    lo("dsv2.lookup_exec_ms", "ms"),
    lo("dsv2.lookup_files", "count"),
    hi("dsv2.lookup_hit_ratio", "ratio"),
    hi("dsv2.cdc_rows", "count"),
    lo("spark.jobs", "count"),
    lo("spark.stages", "count"),
    lo("spark.tasks", "count"),
    lo("spark.shuffle_write_mb", "MB"),
    lo("spark.shuffle_read_mb", "MB"),
    lo("spark.spill_mb", "MB"),
    lo("spark.task_skew", "ratio"),
    hi("spark.cpu_busy", "ratio"),
    lo("spark.gc_s", "s"),
    lo("spark.codegen_compiles", "count"),
    lo("jvm.jit_s", "s"))

  def queryMetric(q: String): String = s"ops.${q}_s"

  def all: Seq[M] =
    fixed ++ Workloads.SuiteQueries.map(q => lo(queryMetric(q), "s"))
}
