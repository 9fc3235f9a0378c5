package perfbench

/** Every metric the benchmark reports, in the order `BENCHMARK.json` lists
  * them. End-to-end metrics come from untraced runs; per-layer metrics
  * from traced ones. A per-layer metric of a layer a workload never calls
  * reads 0 on that workload. */
object Metrics {
  final case class Metric(name: String, unit: String, better: String)

  val Workloads: Seq[String] = Seq("ingest_upsert", "lake_read")

  val EndToEnd: Seq[Metric] = Seq(
    Metric("setup_s", "s", "lower"),
    Metric("throughput_per_s", "1/s", "higher"),
    Metric("op_p50_ms", "ms", "lower"),
    Metric("lookup_p50_ms", "ms", "lower"),
    Metric("space_amp", "ratio", "lower"))

  /** Spans whose Spark work is reported, one block of metrics each. */
  val SparkSpans: Seq[String] = Seq("core.write", "core.compact", "core.lookup",
    "core.incremental", "dsv2.sql", "pipeline.blob_read", "pipeline.minhash_pairs",
    "pipeline.components", "functions.signatures")

  /** Per-layer times: mean self time per call of a span. */
  val SpanTimes: Seq[(String, String)] = Seq(
    "core.write_ms" -> "core.write",
    "core.compact_ms" -> "core.compact",
    "core.plan_ms" -> "core.plan",
    "core.read_build_ms" -> "core.read_build",
    "core.lookup_exec_ms" -> "core.lookup",
    "core.incremental_ms" -> "core.incremental",
    "dsv2.analyze_ms" -> "dsv2.analyze",
    "dsv2.plan_ms" -> "dsv2.plan",
    "dsv2.exec_ms" -> "dsv2.exec",
    "pipeline.blob_read_ms" -> "pipeline.blob_read",
    "pipeline.minhash_pairs_ms" -> "pipeline.minhash_pairs",
    "pipeline.components_ms" -> "pipeline.components",
    "functions.signatures_ms" -> "functions.signatures")

  val PerLayer: Seq[Metric] =
    SpanTimes.map { case (n, _) => Metric(n, "ms", "lower") } ++ Seq(
      Metric("core.compact_calls", "count", "lower"),
      Metric("core.write_amp", "ratio", "lower"),
      Metric("core.files_per_commit", "count", "lower"),
      Metric("core.sorted_runs_max", "count", "lower"),
      Metric("core.sorted_runs_mean", "count", "lower"),
      Metric("core.plan_files_per_lookup", "count", "lower"),
      Metric("core.commit_retries", "count", "lower"),
      Metric("dsv2.rows_scanned_per_row_out", "ratio", "lower"),
      Metric("pipeline.minhash_pairs_found", "count", "higher"),
      Metric("pipeline.blob_cache_hits", "count", "higher"),
      Metric("pipeline.blob_stream_opens", "count", "lower"),
      Metric("e2e.delta_read_p50_ms", "ms", "lower"),
      Metric("e2e.op_tail_ms", "ms", "lower"),
      Metric("e2e.op_tail_pct", "%", "higher"),
      Metric("e2e.op_samples", "count", "higher"),
      Metric("e2e.lookup_tail_ms", "ms", "lower"),
      Metric("e2e.lookup_tail_pct", "%", "higher"),
      Metric("e2e.lookup_samples", "count", "higher"),
      Metric("jvm.gc_ms", "ms", "lower"),
      Metric("jvm.heap_peak_mb", "MB", "lower"),
      Metric("trace.overhead_pct", "%", "lower")) ++
      SparkSpans.flatMap(s => Seq(
        Metric(s"$s.jobs", "count", "lower"),
        Metric(s"$s.stages", "count", "lower"),
        Metric(s"$s.tasks", "count", "lower"),
        Metric(s"$s.shuffle_bytes", "bytes", "lower"),
        Metric(s"$s.spill_bytes", "bytes", "lower"),
        Metric(s"$s.task_busy_ms", "ms", "lower"),
        Metric(s"$s.utilization", "ratio", "higher")))

  val units: Map[String, String] = (EndToEnd ++ PerLayer).map(m => m.name -> m.unit).toMap

  /** Span-derived per-layer values: mean self time per call, and per
    * reported span its Spark work per call and its core utilization. */
  def fromSpans(tr: Tracer, cpus: Int): Map[String, Double] = {
    val spans = tr.all
    val self = Stats.selfTimes(spans)
    val byName = spans.groupBy(_.name)
    val work = tr.sparkBySpan()
    val times = SpanTimes.flatMap { case (metric, span) =>
      byName.get(span).map(ss => metric -> Stats.mean(ss.map(s => self(s.id) / 1e6)))
    }
    val spark = SparkSpans.flatMap { name =>
      byName.get(name).toSeq.flatMap { ss =>
        val w = ss.map(s => work.getOrElse(s.id, SparkWork())).reduce(_ + _)
        val calls = ss.size.toDouble
        val wallMs = ss.map(_.dur).sum / 1e6
        Seq(
          s"$name.jobs" -> w.jobs / calls,
          s"$name.stages" -> w.stages / calls,
          s"$name.tasks" -> w.tasks / calls,
          s"$name.shuffle_bytes" -> w.shuffleBytes / calls,
          s"$name.spill_bytes" -> w.spillBytes / calls,
          s"$name.task_busy_ms" -> w.taskBusyMs / calls,
          s"$name.utilization" -> w.taskBusyMs / (wallMs * cpus))
      }
    }
    (times ++ spark).toMap
  }

  /** The highest percentile of `ms` with ten samples beyond it (the
    * maximum when even the median lacks them), which percentile that is,
    * and the sample count. */
  def tails(prefix: String, ms: Seq[Double]): Map[String, Double] =
    if (ms.isEmpty) Map.empty
    else {
      val p = Stats.supportedPercentile(ms.size).getOrElse(100)
      Map(s"e2e.${prefix}_tail_ms" -> Stats.percentile(ms, p),
        s"e2e.${prefix}_tail_pct" -> p.toDouble,
        s"e2e.${prefix}_samples" -> ms.size.toDouble)
    }
}

/** The result line, and a readable listing before it. */
object Output {
  def render(metrics: Seq[(String, Double)], recorders: Seq[Recorder]): String = {
    val attempted = recorders.map(_.attempted).sum
    val failed = recorders.map(_.failed).sum
    val byName = recorders.flatMap(_.failedByName).groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    metrics.foreach { case (n, v) => println(f"$n%-40s $v%16.4f ${Metrics.units(n)}") }
    println(s"attempted $attempted, failed $failed" +
      (if (byName.isEmpty) "" else byName.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" (", ", ", ")")))
    metrics.foreach { case (n, v) =>
      require(!v.isNaN && !v.isInfinite, s"metric $n is $v")
    }
    val body = metrics.map { case (n, v) =>
      s""""$n": {"value": $v, "unit": "${Metrics.units(n)}"}"""
    }.mkString(", ")
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}"""
  }
}
