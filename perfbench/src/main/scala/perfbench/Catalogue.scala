package perfbench

/** Every metric the harness prints, with its unit. BENCHMARK.json lists
  * the same names; README.md says which layer metric should move which
  * end-to-end metric on which workload. */
object Catalogue {

  /** Printed by every untraced run, for every workload. A "call" is one
    * delivery to `ConsumerPipeline.multi` (consumer workloads) or one
    * registry query materialized to a `noop` sink (analytics_mix). */
  val endToEnd: Seq[(String, String)] = Seq(
    "call_geomean_s" -> "s",
    "throughput_per_s" -> "1/s",
    "setup_s" -> "s")

  val consumerLayers: Seq[(String, String)] = Seq(
    "pipeline.jobs_per_call" -> "count",
    "pipeline.stages_per_call" -> "count",
    "pipeline.tasks_per_call" -> "count",
    "pipeline.shuffle_write_bytes_per_call" -> "bytes",
    "pipeline.executor_run_s_per_call" -> "s",
    "pipeline.driver_gap_s_per_call" -> "s",
    "decode.time_s" -> "s",
    "decode.unusable" -> "count",
    "identify.time_s" -> "s",
    "identify.rejected" -> "count",
    "sequence.time_s" -> "s",
    "sequence.chains" -> "count",
    "execute.time_s" -> "s",
    "execute.task_calls" -> "count",
    "execute.useful_ratio" -> "ratio",
    "replay.deliveries_per_batch" -> "count",
    "state.load_s" -> "s",
    "state.rows_loaded" -> "count",
    "state.save_s" -> "s",
    "state.bytes_written" -> "bytes",
    "state.bytes_per_msg" -> "bytes",
    "deadletters.write_s" -> "s",
    "deadletters.records" -> "count")

  /** analytics_mix query set, by family. */
  val families: Seq[(String, Seq[String])] = Seq(
    "dedup" -> Seq("cluster_labels", "dedup_components"),
    "sketch" -> Seq("kmv_pair_overlap", "hll_sliding_estimate",
      "cms_table_ingest"),
    "temporal" -> Seq("session_stats", "heaps_law", "asof_join"),
    "consumer_tier" -> Seq("decode_json", "task_multi", "state_upsert"),
    "warehouse" -> Seq("q1_agg"))

  val queries: Seq[String] = families.flatMap(_._2)

  val analyticsLayers: Seq[(String, String)] =
    families.flatMap { case (f, _) => Seq(
      s"$f.time_s" -> "s",
      s"$f.jobs" -> "count",
      s"$f.shuffle_write_bytes" -> "bytes",
      s"$f.spill_bytes" -> "bytes",
      s"$f.executor_run_s" -> "s")
    } ++ queries.flatMap(q => Seq(s"q.$q.time_s" -> "s", s"q.$q.jobs" -> "count"))

  /** Traced-minus-untraced call metrics, measured in the traced run on
    * calls that cover the same routes or queries. */
  val traceLayers: Seq[(String, String)] = Seq(
    "trace.overhead_call_geomean_s" -> "s",
    "trace.overhead_throughput_per_s" -> "1/s")

  val perLayer: Seq[(String, String)] =
    consumerLayers ++ analyticsLayers ++ traceLayers

  val unit: Map[String, String] = (endToEnd ++ perLayer).toMap
}
