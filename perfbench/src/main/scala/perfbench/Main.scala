package perfbench

import java.nio.file.Files

/** One benchmark run in its own JVM:
  * `--workload W --seed N --seconds S --trace 0|1 --work DIR [--data DIR] [--tiny 1]`.
  *
  * Prints an info line `{"named": ...}` with the workload's metrics under
  * their own names, then, as the last line, the result object: with
  * `--trace 0` the end-to-end metrics, with `--trace 1` the per-layer ones.
  * Spans of a traced run go to `DIR/spans.jsonl`. */
object Main {
  def main(args: Array[String]): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = Opts.parse(args)
    Files.createDirectories(opts.work)
    val spark = Session.build(opts.work)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    try run(spark, opts, sessionS) finally spark.stop()
  }

  private val t0 = System.nanoTime()
  /** Phase marks on stderr: where a run's wall time goes. */
  private def mark(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2f s  $what")

  private def run(spark: org.apache.spark.sql.SparkSession, opts: Opts, sessionS: Double): Unit = {
    mark(f"session up, $sessionS%.2f s after JVM start")
    val tracer = new Tracer(spark)
    val w: Workload = opts.workload match {
      case "topk" | "topk_cached" => new TopK(spark, opts, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    val r = w.report
    mark("inputs generated")
    if (opts.trace) tracer.start()
    val setups = (0 until w.setupReps).map { rep =>
      if (rep > 0) w.discard()
      System.gc()
      val t0 = System.nanoTime()
      w.setup()
      val sec = (System.nanoTime() - t0) / 1e9
      mark(f"set-up ${rep + 1}: $sec%.3f s")
      sec
    }
    w.afterSetup()
    val heapMb = Jvm.liveHeapMb()
    mark("heap measured")

    // warm-up: JIT, codegen caches and lazy state fill before timing; its
    // failures still count, its latencies do not
    w.warmup()
    mark("warm-up done")
    val warmFailed = r.samples.count(!_.ok)
    r.samples.clear()

    val overhead = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!opts.trace) w.loop(opts.seconds, 0)
    else {
      // half the window untraced, half traced: the difference of the two
      // halves is the tracing overhead
      tracer.enabled = false
      val next = w.loop(opts.seconds / 2, 0)
      val untraced = w.opNames.map(op => op -> r.latenciesMs(op)).toMap
      val cut = r.samples.size
      tracer.enabled = true
      w.loop(opts.seconds / 2, next)
      val traced = r.samples.drop(cut)
      w.opNames.zipWithIndex.foreach { case (op, i) =>
        val a = untraced(op)
        val b = traced.filter(s => s.op == op && s.ok).map(_.ns / 1e6).toSeq
        if (a.nonEmpty && b.nonEmpty)
          overhead(s"trace.overhead.op${i + 1}_p50_ms") = (Stats.median(b) - Stats.median(a.toSeq), "ms")
      }
      // the probes: the write path and the census entries, once each
      new WriteProbe(spark, opts.seed, opts.tiny, opts.work.resolve("ingest"), tracer, r).run()
      new CensusProbe(spark, opts.data, opts.work.resolve("dump"), tracer, r).run()
      tracer.stop()
    }

    mark("timed operations done")
    w.opNames.foreach { op =>
      val l = r.latenciesMs(op)
      if (l.nonEmpty) mark(f"$op%-15s n=${l.length}%3d min=${l.head}%9.2f p50=${Stats.median(l.toSeq)}%9.2f max=${l.last}%9.2f ms")
    }
    w.verify()
    mark("checks done")
    w.finish()
    mark("finished")

    val e2e = r.e2e
    e2e("setup_s") = (Stats.median(setups), "s")
    e2e("live_heap_mb") = (heapMb, "MB")
    w.opNames.zipWithIndex.foreach { case (op, i) =>
      val lat = r.latenciesMs(op)
      e2e(s"op${i + 1}_p50_ms") = (if (lat.isEmpty) Double.NaN else Stats.median(lat.toSeq), "ms")
    }
    val failed = r.failed + warmFailed
    val attempted = r.attempted + warmFailed
    r.named("setup_s") = e2e("setup_s")
    r.named("live_heap_mb") = e2e("live_heap_mb")
    r.named("failed_ops_frac") = (failed.toDouble / math.max(1L, attempted), "ratio")
    w.opNames.foreach(op => r.named(s"samples.$op") = (r.latenciesMs(op).length.toDouble, "count"))

    if (opts.trace) {
      Layers.DriverOps.foreach { op =>
        val m = tracer.opMetrics(op)
        if (m.nonEmpty) {
          r.layer(s"core.$op.driver_ms") = (m("driver_ms"), "ms")
          if (Layers.SparkOps.contains(op))
            Layers.SparkParts.foreach { case (p, u) => r.layer(s"spark.$op.$p") = (m(p), u) }
          if (op == "query") r.layer("spark.query.rows_read_per_result") = (m("records_read") / w.k, "ratio")
          if (op == "filtered_query")
            r.layer("spark.filtered_query.rows_scanned_per_result") = (m("records_read") / w.k, "ratio")
        }
      }
      r.layer("spark.session_start_s") = (sessionS, "s")
      r.layer ++= overhead
      tracer.write(opts.work.resolve("spans.jsonl"))
      r.layer("trace.spans") = (tracer.spans.size.toDouble, "count")
    }
    val required = w.requiredChecks ++
      (if (opts.trace) Seq("ingest.query", "ingest.reopen.count", "census.oracle_dump") else Nil)
    val checksRan = required.forall(c => r.checks.getOrElse(c, 0L) > 0)
    println(s"""{"workload": ${Json.str(opts.workload)}, "named": ${Json.metrics(r.named)}, "checks": ${r.checks.map { case (k, v) => s"${Json.str(k)}: $v" }.mkString("{", ", ", "}")}}""")
    val metrics = if (!opts.trace) e2e else
      Layers.all.map { case (name, unit) => name -> r.layer.getOrElse(name, (0.0, unit)) }.toMap
    println(s"""{"correct": ${failed == 0 && checksRan}, "attempted": $attempted, "failed": $failed, "metrics": ${Json.metrics(metrics)}}""")
  }
}
