package graftbench

/** The metric catalog. `BENCHMARK.json` lists the same names and units
  * (a test keeps the two in step); `moves` names the end-to-end metric a
  * per-layer metric should move, and on which workload that shows.
  */
object Catalog {
  /** `gated`: listed in `BENCHMARK.json`. Metrics of `snapshot_reads`,
    * which `BENCHMARK.json` leaves out, are printed but not gated.
    */
  final case class Entry(name: String, unit: String, better: String,
                         moves: String = "", gated: Boolean = true)

  /** Generic end-to-end metrics, measured with tracing off on every
    * workload. Each workload reads them under its own names (see
    * [[Workload.endToEnd]]).
    */
  val endToEnd: Seq[Entry] = Seq(
    Entry("setup_s", "s", "lower"),
    Entry("throughput_per_s", "1/s", "higher"),
    Entry("op_p50_s", "s", "lower"),
    Entry("write_bytes_per_row", "bytes", "lower"),
    Entry("heap_peak_mb", "MB", "lower"),
  )

  val perLayer: Seq[Entry] = Seq(
    Entry("operators.scd2_upsert_clustered_s", "s", "lower",
      "merge_batch_p50_s, upsert_rows_per_s on scd2_merge"),
    Entry("operators.scd2_upsert_uniform_s", "s", "lower",
      "merge_batch_p50_s, upsert_rows_per_s on scd2_merge"),
    Entry("operators.append_without_dups_s", "s", "lower",
      "merge_batch_p50_s, upsert_rows_per_s on scd2_merge"),
    Entry("tables.merge_files_rewritten_frac", "frac", "lower",
      "write_bytes_per_row on scd2_merge"),
    Entry("tables.commit_bytes_written", "bytes", "lower",
      "write_bytes_per_row on scd2_merge"),
    Entry("tables.optimize_s", "s", "lower",
      "upsert_rows_per_s on scd2_merge"),
    Entry("tables.bytes_per_live_row", "bytes", "lower",
      "write_bytes_per_row on scd2_merge (end state)"),
    Entry("tables.num_files_end", "count", "lower",
      "merge_batch_p50_s on scd2_merge (end state)"),
    Entry("tables.to_df_where_s", "s", "lower",
      "point_p50_s, point_tail_s on snapshot_reads", gated = false),
    Entry("tables.scan_s", "s", "lower",
      "point_p50_s, point_tail_s, range_p50_s on snapshot_reads", gated = false),
    Entry("tables.files_read_per_point", "count", "lower",
      "point_p50_s on snapshot_reads", gated = false),
    Entry("tables.files_read_per_range", "count", "lower",
      "range_p50_s on snapshot_reads", gated = false),
    Entry("tables.bloom_lookup_s", "s", "lower",
      "read_ops_per_s on snapshot_reads", gated = false),
    Entry("tables.time_travel_s", "s", "lower",
      "read_ops_per_s on snapshot_reads", gated = false),
    Entry("tables.detail_s", "s", "lower",
      "read_ops_per_s on snapshot_reads", gated = false),
    Entry("tables.append_s", "s", "lower",
      "read_ops_per_s on snapshot_reads", gated = false),
    Entry("tables.log_versions_end", "count", "lower",
      "read_ops_per_s on snapshot_reads (end state)", gated = false),
    Entry("point_tail_s", "s", "lower",
      "end-to-end tail of snapshot_reads point lookups", gated = false),
    Entry("range_p50_s", "s", "lower",
      "end-to-end median of snapshot_reads range scans", gated = false),
    Entry("text.quality_filter_s", "s", "lower",
      "docs_per_s on corpus_ingest"),
    Entry("text.bpe_token_count_s", "s", "lower",
      "docs_per_s on corpus_ingest"),
    Entry("text.quality_kept_frac", "frac", "higher",
      "reported beside text.quality_filter_s on corpus_ingest"),
    Entry("text.bpe_fit_s", "s", "lower",
      "setup_s on corpus_ingest"),
    Entry("plans.kernel_rows_per_s", "rows/s", "higher",
      "docs_per_s on corpus_ingest"),
    Entry("streaming.incremental_s", "s", "lower",
      "ingest_batch_p50_s, docs_per_s on corpus_ingest"),
    Entry("streaming.novel_frac", "frac", "higher",
      "reported beside streaming.incremental_s on corpus_ingest"),
    Entry("streaming.index_files", "count", "lower",
      "ingest_batch_p50_s on corpus_ingest (after the last batch)"),
    Entry("spark.jobs_per_op", "count", "lower",
      "op_p50_s on every workload (main op: scd2 upsert, point lookup, incremental)"),
    Entry("spark.tasks_per_op", "count", "lower",
      "op_p50_s on every workload (main op)"),
    Entry("spark.shuffle_bytes_per_op", "bytes", "lower",
      "op_p50_s on every workload (main op)"),
    Entry("spark.task_busy_frac", "frac", "higher",
      "throughput_per_s on every workload (main op)"),
    Entry("jvm.gc_s", "s", "lower",
      "op_p50_s on every workload (GC seconds per main op)"),
    Entry("trace.overhead_frac", "frac", "lower"),
  )

  val gatedPerLayer: Seq[Entry] = perLayer.filter(_.gated)
}
