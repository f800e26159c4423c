package perfbench

import java.lang.management.ManagementFactory

import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** One benchmark run in its own JVM. Prints, as its last stdout line,
  * `PERFBENCH_RESULT {json}` with every end-to-end and per-layer metric
  * (per-layer values are zero unless `--trace 1`), the attempted/failed
  * tally and the output checks; run.py turns it into the contract line.
  */
object Main {
  /** Every end-to-end metric, in BENCHMARK.json order. */
  val EndToEnd: Seq[String] =
    Seq("setup_s", "input_per_s", "admitted_per_s", "step_p50_s", "store_mb")

  /** Every per-layer metric the traced run reports, with its unit; a layer
    * a workload does not run reports 0. `trace_overhead_frac` is added by
    * run.py from the untraced run.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "pipeline.jobs_per_gen" -> "count", "pipeline.stages_per_gen" -> "count",
    "pipeline.busy_frac" -> "ratio", "pipeline.task_s_per_gen" -> "s",
    "pipeline.shuffle_mb_per_gen" -> "MB", "pipeline.spill_mb_per_gen" -> "MB",
    "pipeline.stage_s" -> "s", "pipeline.driver_s_per_gen" -> "s",
    "synth.fetch_us_per_page" -> "us", "synth.fetch_s_per_gen" -> "s",
    "functions.extract_us_per_page" -> "us", "functions.extract_s_per_gen" -> "s",
    "functions.spans_per_page" -> "count", "functions.pages_per_gen" -> "count",
    "operators.maybe_seen_ratio" -> "ratio", "operators.bloom_fp_ratio" -> "ratio",
    "operators.cuckoo_hit_ratio" -> "ratio", "operators.bloom_probe_ns" -> "ns",
    "snapshot.stage_s" -> "s", "snapshot.seen_chain_dirs" -> "count",
    "snapshot.bytes_written_per_gen" -> "bytes", "snapshot.write_amp" -> "ratio",
    "snapshot.read_seen_s" -> "s", "snapshot.maintain_s" -> "s",
    "streaming.jobs_per_batch" -> "count", "streaming.add_batch_s" -> "s",
    "streaming.trigger_overhead_s" -> "s", "streaming.late_early_ratio" -> "ratio",
    "streaming.stage_s" -> "s",
    "ml.lsh_candidates" -> "count", "ml.pairs" -> "count", "ml.verify_yield" -> "ratio",
    "ml.stage_s" -> "s", "synth.stage_s" -> "s", "functions.stage_s" -> "s",
    "operators.stage_s" -> "s",
    "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB")

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = Harness.session(a.work, cores)
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val out = try a.workload match {
      case "stream-dedup" => StreamBench.run(spark, a, cores, sessionS, tracer)
      case _ => CrawlBench.run(spark, a, cores, sessionS, tracer)
    } finally tracer.foreach(_.close())
    tracer.foreach(_.writeSpans(a.traceOut.resolve(s"spans-${a.workload}-seed${a.seed}.jsonl")))
    spark.stop()

    val e2e = out.endToEnd.map(m => m.name -> m).toMap
    require(EndToEnd.forall(e2e.contains), s"missing end-to-end metrics in ${e2e.keys}")
    val layer = out.perLayer.map(m => m.name -> m).toMap
    require(layer.keySet.subsetOf(PerLayer.map(_._1).toSet), s"unlisted per-layer metrics in ${layer.keys}")
    def metricsJson(ms: Seq[Metric]) = ms.map(m => m.name -> Map("value" -> m.value, "unit" -> m.unit)).toMap
    val json = Serialization.write(Map(
      "workload" -> a.workload, "seed" -> a.seed, "cores" -> cores,
      "correct" -> (out.failed == 0), "attempted" -> out.attempted, "failed" -> out.failed,
      "steps" -> out.steps, "step_p50_s" -> out.stepP50S,
      "end_to_end" -> metricsJson(EndToEnd.map(e2e)),
      "per_layer" -> metricsJson(PerLayer.map { case (n, u) => layer.getOrElse(n, Metric(n, 0.0, u)) }),
      "checks" -> out.checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail))))(DefaultFormats)
    println(s"PERFBENCH_RESULT $json")
  }
}
