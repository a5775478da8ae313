package perfbench

/** The per-layer metric names every traced run emits, with their units.
  * A layer a workload does not exercise reads 0 on that workload. */
object Layers {
  /** Operation types with a Spark split, across all workloads. */
  val SparkOps: Seq[String] =
    Seq("query", "filtered_query", "negative_query", "upsert", "delete", "reopen")
  val DriverOps: Seq[String] = SparkOps ++ Seq("text_job", "dedup_job", "profile_job")
  val SparkParts: Seq[(String, String)] = Seq("jobs" -> "count", "tasks" -> "count",
    "job_ms" -> "ms", "plan_ms" -> "ms", "executor_cpu_ms" -> "ms", "gc_ms" -> "ms",
    "shuffle_bytes" -> "bytes")

  val all: Seq[(String, String)] =
    Seq("core.Collection.addDF_s" -> "s", "core.Collection.buildIndex_s" -> "s",
      "core.Collection.addDocuments_ms" -> "ms", "core.Collection.delete_ms" -> "ms",
      "core.DB.persistent_ms" -> "ms") ++
    DriverOps.map(op => s"core.$op.driver_ms" -> "ms") ++
    Seq("ops.VectorIndex.build_s" -> "s", "ops.VectorIndex.topK_ms" -> "ms",
      "embed.HashingEmbeddingFunc.embedBatch_ms" -> "ms",
      "persist.write_bytes_per_upsert" -> "bytes", "persist.files_in_collection_dir" -> "count",
      "persist.disk_bytes_per_user_byte" -> "ratio",
      "spark.session_start_s" -> "s") ++
    SparkOps.flatMap(op => SparkParts.map { case (p, u) => s"spark.$op.$p" -> u }) ++
    Seq("spark.query.rows_read_per_result" -> "ratio",
      "spark.filtered_query.rows_scanned_per_result" -> "ratio") ++
    CensusProbe.Entries.flatMap(e => Seq(s"entry.${e}_s" -> "s",
      s"entry.$e.executor_cpu_s" -> "s", s"entry.$e.shuffle_bytes" -> "bytes")) ++
    (1 to 3).map(i => s"trace.overhead.op${i}_p50_ms" -> "ms") ++
    Seq("trace.spans" -> "count")
}
