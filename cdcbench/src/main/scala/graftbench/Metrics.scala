package graftbench

/** Every metric the benchmark reports, with its unit. BENCHMARK.json
  * declares the same names in the same order (MetricsSpec checks it);
  * `cdcbench/DESIGN.md` says which workload each one is measured on and
  * which end-to-end metric a per-layer one should move.
  */
object Metrics {
  final case class M(name: String, unit: String)

  /** Reported untraced, on both workloads. */
  val endToEnd: Seq[M] = Seq(
    M("setup_s", "s"),
    M("load_rows_per_s", "rows/s"),
    M("tick_s_p50", "s"),
    M("merge_changes_per_s", "changes/s"),
    M("freshness_s_p50", "s"),
    M("freshness_s_p90", "s"),
    M("lookup_ms_p50", "ms"),
    M("compare_s", "s"),
    M("peak_rss_mb", "MB"))

  /** Spans whose Spark work is counted: the layer calls that submit jobs. */
  val CountedSpans: Seq[String] = Seq("ingest.bulk_write", "ingest.land", "ingest.merge_commit",
    "streaming.batch", "query.compare", "query.lookup")
  val Counters: Seq[String] = Seq("jobs", "stages", "shuffle_write_bytes", "spill_bytes", "input_bytes")
  val Layers: Seq[String] = Seq("codec", "sources", "ingest", "merge", "orchestrate", "streaming", "query")
  /** End-to-end metrics whose traced/untraced ratio is the tracing
    * overhead; `run.py` computes these from the two runs.
    */
  val OverheadOf: Seq[String] = Seq("tick_s_p50", "freshness_s_p50", "lookup_ms_p50", "compare_s")

  /** Reported by the traced run, on both workloads; a layer the workload
    * bypasses reports 0.
    */
  val perLayer: Seq[M] = Seq(
    M("sources.manifest_read_ms", "ms"),
    M("codec.export_decode_s", "s"),
    M("ingest.bulk_write_s", "s"),
    M("orchestrate.plan_ms_p50", "ms"),
    M("orchestrate.persist_ms_p50", "ms"),
    M("orchestrate.files_per_tick_p50", "count"),
    M("orchestrate.ticks", "count"),
    M("ingest.merge_commit_s_p50", "s"),
    M("ingest.touched_days_p50", "count"),
    M("ingest.rows_rewritten_per_change", "ratio"),
    M("ingest.bytes_written_per_change", "bytes"),
    M("ingest.prune_landing_ms", "ms"),
    M("merge.upsert_s_p50", "s"),
    M("merge.dedup_rows_in_out", "ratio"),
    M("ingest.lake_files_end", "count"),
    M("ingest.land_ms_p50", "ms"),
    M("streaming.trigger_ms_p50", "ms"),
    M("streaming.add_batch_ms_p50", "ms"),
    M("streaming.latest_offset_ms_p50", "ms"),
    M("streaming.log_commit_ms_p50", "ms"),
    M("streaming.batches", "count"),
    M("streaming.rows_read_per_landed_row", "ratio"),
    M("streaming.backlog_files_end", "count"),
    M("streaming.sustained_changes_per_s", "changes/s"),
    M("gen.lag_ms_p99", "ms")) ++
    Layers.map(l => M(s"$l.self_s", "s")) ++
    (for (s <- CountedSpans; c <- Counters) yield M(s"$s.$c", if (c.endsWith("bytes")) "bytes" else "count")) ++
    OverheadOf.map(m => M(s"trace.overhead_pct.$m", "%"))

  private val units = (endToEnd ++ perLayer).map(m => m.name -> m.unit).toMap

  def unitOf(name: String): String =
    units.getOrElse(name, throw new IllegalArgumentException(s"undeclared metric $name"))
}
