package graftbench

/** The metric names and units BENCHMARK.json declares, in one place. */
object Metrics {

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "peak_rss_mb" -> "MB",
    "pass_s" -> "s",
    "throughput_per_s" -> "items/s")

  /** CrawlRound jobs grouped by short call site (line dropped). Jobs from
    * any other site are totalled under `round.other`.
    */
  val roundSites: Seq[String] = Seq(
    "count-CrawlRound", "collect-CrawlRound", "parquet-Rounds")

  val perLayer: Seq[(String, String)] = Seq(
    // the workload's own figures, from the untraced pass of the traced run
    "error_rate" -> "ratio",
    "urls_per_s" -> "urls/s",
    "round_p50_s" -> "s",
    "round_tail_s" -> "s",
    "resume_s" -> "s",
    "publish_s" -> "s",
    "minhash_s" -> "s",
    "minhash_incremental_s" -> "s",
    "simhash_s" -> "s",
    "ann_topk_s" -> "s",
    // jobs.CrawlRound, per round
    "round.jobs" -> "count",
    "round.tasks" -> "count",
    "round.driver_s" -> "s",
    "round.executor_cpu_s" -> "s",
    "round.shuffle_bytes" -> "bytes",
    "round.gc_s" -> "s",
    "round.accounted_min" -> "ratio") ++
    (roundSites :+ "other").flatMap(s => Seq(s"round.$s.jobs" -> "count", s"round.$s.busy_s" -> "s")) ++
    Seq(
      // frontier.RoundState
      "state.files_written" -> "count",
      "state.bytes_written" -> "bytes",
      "state.bytes_per_url" -> "bytes",
      "state.checkpoint_s" -> "s",
      "state.checkpoint_bytes" -> "bytes",
      "state.read_s" -> "s",
      // frontier.ShardedSeen
      "seen.build_s" -> "s",
      "seen.probe_s" -> "s",
      "seen.maybe_hits" -> "count",
      "seen.true_hits" -> "count",
      "seen.fp_rate" -> "ratio",
      // frontier.Politeness
      "rank.select_s" -> "s",
      "rank.max_task_rows" -> "rows",
      // jobs.ExtractJob
      "extract.pages_per_s" -> "pages/s",
      "extract.cpu_s" -> "s",
      "extract.ok_ratio" -> "ratio",
      // jobs.Compaction
      "compaction.read_files" -> "count",
      "compaction.rows" -> "rows",
      // ops.TextOps minhash
      "minhash.index_s" -> "s",
      "minhash.pairs" -> "count",
      "minhash.shuffle_bytes" -> "bytes",
      "minhash.spill_bytes" -> "bytes",
      "minhash.task_skew" -> "ratio",
      // ops.TextOps simhash
      "simhash.sign_s" -> "s",
      "simhash.pairs_s" -> "s",
      "simhash.shuffle_bytes" -> "bytes",
      // ops.VectorOps
      "ann.lsh_s" -> "s",
      "ann.ivf_train_s" -> "s",
      "ann.ivf_s" -> "s",
      "ann.single_task_stages" -> "count",
      // Spark engine, per timed pass
      "spark.jobs" -> "count",
      "spark.gc_s" -> "s",
      "spark.spill_bytes" -> "bytes",
      "spark.unattributed_jobs" -> "count",
      "trace.overhead_s" -> "s")
}
