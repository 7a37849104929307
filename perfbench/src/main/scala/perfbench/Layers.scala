package perfbench

/** Every per-layer metric a traced run prints, in order. A workload that
  * does not exercise a layer reports it as 0. */
object Layers {
  val spans: Seq[String] = Seq(
    "plans.plan_probe", "sources.output_write", "sources.store_commit",
    "sources.scan", "sources.lookup", "plans.annotate_pass", "model.record_roundtrip",
    "plans.operator_encode", "sources.write_self",
    "queries.construct", "queries.execute")

  val all: Seq[Metric] =
    spans.flatMap(Layer.zero.metrics) ++ Seq(
      Metric("plans.planned_jobs", 0, "count"),
      Metric("plans.views_recomputed_frac", 0, "ratio"),
      Metric("plans.stale_views_left", 0, "count"),
      Metric("sources.files_written", 0, "count"),
      Metric("sources.store_bytes_per_doc", 0, "bytes"),
      Metric("queries.plan_s", 0, "s"),
      Metric("queries.idle_core_frac", 0, "ratio"),
      Metric("checks.failed_frac", 0, "ratio"),
      Metric("trace.untraced_wall_s", 0, "s"),
      Metric("trace.traced_wall_s", 0, "s"),
      Metric("trace.overhead_s", 0, "s"),
      Metric("jvm.live_heap_mb", 0, "MB"),
      Metric("jvm.peak_rss_mb", 0, "MB")) ++
    DocChecks.chain.flatMap(m => Seq(
      Metric(s"operators.${m.name}.ns_per_doc", 0, "ns"),
      Metric(s"operators.${m.name}.spans_per_doc", 0, "count"))) ++ Seq(
      Metric("plans.provide_ns_per_doc", 0, "ns"),
      Metric("model.identifier_ns_per_doc", 0, "ns"))

  /** `measured` completed with zeros, in the order of `all`. */
  def fill(measured: Seq[Metric]): Seq[Metric] = {
    val byName = measured.map(m => m.name -> m).toMap
    val unknown = byName.keySet -- all.map(_.name)
    require(unknown.isEmpty, s"metrics missing from Layers.all: $unknown")
    all.map(z => byName.get(z.name).map(m => m.copy(unit = z.unit)).getOrElse(z))
  }
}
