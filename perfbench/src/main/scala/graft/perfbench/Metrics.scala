package graft.perfbench

/** Every metric the benchmark reports, with its unit. BENCHMARK.json lists
  * the same names; perfbench/tests/test_perfbench.py checks they agree.
  *
  * End-to-end metrics are reported by every workload (untraced runs); the
  * per-layer metrics by every workload's traced run, 0 where the workload
  * does not exercise that layer.
  */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "round_s" -> "s",
    "bytes_per_row" -> "B/row")

  /** Span layer of the parquet comparators: reference only, not a layer
    * of graft, so it has no self_s metric. */
  val Reference = "reference"

  /** Layers, named after the repo's modules; `bench` is the harness. */
  val layers: Seq[String] = Seq("format.codec", "format.file", "spark.scan", "spark.write",
    "spark.maint", "queries", "bench")

  val queries: Seq[String] = Seq("q1_pricing_summary", "q6_forecast_revenue",
    "q3_shipping_priority", "q5_local_supplier", "q18_large_orders", "q_events_hourly",
    "d_dedup_exact", "d_dedup_minhash_lsh", "d_ngram_jaccard",
    "s_ann_ivfpq", "t_lm_bigram", "t_pipeline_e2e")

  /** Per-layer metrics measured as a span's median duration per round. */
  val spanNames: Seq[String] =
    Data.large.flatMap(t => Seq(s"file.$t.write_s", s"file.$t.read_s")) ++
      Data.large.map(t => s"scan.$t.s") ++ Seq("scan.proj_s", "scan.pruned_s",
        "parquet.scan_full_s", "parquet.scan_proj_s", "parquet.scan_pruned_s") ++
      Data.large.flatMap(t => Seq(s"write.$t.s", s"parquet.write.$t.s")) ++
      Seq("maint.delete_dv_s", "maint.update_s", "maint.compact_s", "maint.scan_after_dv_s") ++
      queries.map(q => s"query.$q.s")

  val perLayer: Seq[(String, String)] =
    layers.map(l => s"self_s.$l" -> "s") ++
      Gen.codecNames.flatMap(c => Seq(s"codec.$c.encode_mb_s" -> "MB/s",
        s"codec.$c.decode_mb_s" -> "MB/s", s"codec.$c.pages" -> "count", s"codec.$c.bytes" -> "B")) ++
      spanNames.map(_ -> "s") ++
      Data.large.flatMap(t => Seq(s"file.$t.bytes" -> "B", s"write.$t.bytes" -> "B")) ++
      Seq("file.write_mb_s" -> "MB/s", "file.read_mb_s" -> "MB/s",
        "file.bytes_per_raw_byte" -> "ratio",
        "scan.page_groups_read" -> "count", "scan.page_groups_skipped" -> "count",
        "scan.bytes_fetched_mb" -> "MB", "scan.task_s" -> "s",
        "parquet.disk_bytes_per_row" -> "B/row",
        "maint.files_rewritten" -> "count", "maint.bytes_written" -> "B",
        "query.scan_mb" -> "MB", "query.shuffle_mb" -> "MB", "query.task_s" -> "s",
        "round.count" -> "count", "setup.cold_s" -> "s",
        "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB", "trace.overhead_frac" -> "ratio",
        "host.steal_frac" -> "ratio", "host.busy_frac" -> "ratio", "host.load1" -> "count")

  /** Zero for every per-layer metric a workload does not produce itself. */
  def zeros(names: Seq[String]): Map[String, Double] = names.map(_ -> 0.0).toMap
}
