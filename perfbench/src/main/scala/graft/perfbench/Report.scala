package graft.perfbench

import graft.perfbench.Main.PassRec

/** Turns one run's samples into the metrics the benchmark prints.
  *
  * End-to-end metrics come from the untraced passes. Host noise only ever
  * adds time, so a run's figure for a pass, or for one op, is its fastest
  * untraced sample, as `graft.Bench` takes the fastest of its passes.
  * Per-layer metrics are summed over the ops of each traced pass, and the
  * median over traced passes is reported. */
final class Report(workload: String, seed: Long, cores: Int,
                   setupSec: Double, setupSteps: Seq[(String, Double)],
                   passes: Seq[PassRec], heapMb: Double,
                   warm: Seq[Sample]) {
  // the warm passes' ops are attempted and checked like the timed ones
  import Report._

  private val plain = passes.filter(!_.traced)
  private val traced = passes.filter(_.traced)
  /** Each op's fastest latency over the untraced passes. */
  private val opSec = plain.flatMap(_.samples).groupBy(_.id).values
    .map(_.map(_.sec).min).toSeq
  private val all = warm ++ passes.flatMap(_.samples)
  val attempted: Int = all.size
  val failed: Int = all.count(!_.ok)
  private val writes = passes.flatMap(_.samples)
    .filter(s => StoreCycle.Committing(s.kind)).map(_.sec)

  private def med(xs: Seq[Double]): Double = Stats.median(xs)

  def endToEnd: Seq[(String, String, Double)] = Seq(
    ("setup_s", "s", setupSec),
    ("pass_s", "s", plain.map(_.sec).min),
    ("op_p50_s", "s", Stats.harrellDavis(opSec, 0.5)),
    ("op_p90_s", "s", Stats.harrellDavis(opSec, 0.9)),
    ("cpu_s", "s", plain.map(_.cpuSec).min),
    ("heap_retained_mb", "MB", heapMb))

  private def storeStat(k: String): Double = med(passes.map(_.store.getOrElse(k, 0.0)))

  /** Per-layer sums of one traced pass. */
  private def layerOf(p: PassRec): Map[String, Double] = {
    val sums = p.samples.flatMap(_.layer).groupMapReduce(_._1)(_._2)(_ + _)
    val byKind = p.samples.groupMapReduce(_.kind)(_.sec * 1e3)(_ + _)
    val kinds = KindMetric.map { case (kind, m) => m -> byKind.getOrElse(kind, 0.0) }
    sums ++ kinds ++ p.store.filter(_._1.contains('.')) ++ Map(
      "exec.util" -> sums.getOrElse("exec.cpu_ms", 0.0) / (p.sec * 1e3 * cores))
  }

  def perLayer: Seq[(String, String, Double)] = {
    val layers = traced.map(layerOf)
    val overhead = med(traced.map(_.sec)) / med(plain.map(_.sec))
    val extra = Map(
      "floor.range1_ms" -> med(passes.map(_.floorSec * 1e3)),
      "write_p50_s" -> med(writes),
      "write_amp" -> storeStat("write_amp"),
      "space_amp" -> storeStat("space_amp"),
      "failed_frac" -> failed.toDouble / attempted,
      "trace.overhead_ratio" -> overhead)
    PerLayer.map { case (n, unit) =>
      (n, unit, extra.getOrElse(n, med(layers.map(_.getOrElse(n, 0.0)))))
    }
  }

  private def metrics(ms: Seq[(String, String, Double)]): String =
    Json.obj(ms.map { case (n, u, v) =>
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })

  /** The last stdout line: the benchmark's result. */
  def resultLine(tracedRun: Boolean): String = Json.obj(Seq(
    "correct" -> (failed == 0).toString,
    "attempted" -> attempted.toString,
    "failed" -> failed.toString,
    "metrics" -> metrics(if (tracedRun) perLayer else endToEnd)))

  /** Every figure of the run in one object, for the log. */
  def summary: String = Json.obj(Seq(
    "workload" -> Json.str(workload), "seed" -> seed.toString,
    "cores" -> cores.toString,
    "setup_s" -> Json.num(setupSec),
    "setup_steps_s" -> Json.obj(setupSteps.map { case (n, t) => n -> Json.num(t) }),
    "passes" -> plain.size.toString, "traced_passes" -> traced.size.toString,
    "ops" -> opSec.size.toString,
    "ops_beyond_p90" -> opSec.count(_ > Stats.harrellDavis(opSec, 0.9)).toString,
    "failed_frac" -> Json.num(failed.toDouble / attempted),
    "write_p50_s" -> Json.num(med(writes)),
    "write_amp" -> Json.num(storeStat("write_amp")),
    "space_amp" -> Json.num(storeStat("space_amp")),
    "failures" -> Json.arr(all.filter(!_.ok).map(s =>
      Json.str(s"pass ${s.pass} ${s.id}: ${s.err}"))),
    "end_to_end" -> metrics(endToEnd)))

  /** The run's artifact: context, every pass and op, and (traced) spans. */
  def artifact(context: String, spans: Seq[Span]): String = {
    val t0 = spans.map(_.startNs).minOption.getOrElse(0L)
    Json.obj(Seq(
      "context" -> context,
      "summary" -> summary,
      "per_layer" -> (if (traced.nonEmpty) metrics(perLayer) else "null"),
      "passes" -> Json.arr(passes.map(p => Json.obj(Seq(
        "pass" -> p.pass.toString, "traced" -> p.traced.toString,
        "sec" -> Json.num(p.sec), "cpu_s" -> Json.num(p.cpuSec),
        "floor_s" -> Json.num(p.floorSec),
        "loadavg_before" -> Json.num(p.load0), "loadavg_after" -> Json.num(p.load1),
        "store" -> Json.obj(p.store.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
        "ops" -> Json.arr(p.samples.map(s => Json.obj(Seq(
          "id" -> Json.str(s.id), "kind" -> Json.str(s.kind),
          "sec" -> Json.num(s.sec), "ok" -> s.ok.toString, "err" -> Json.str(s.err),
          "layer" -> Json.obj(s.layer.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }))))))))),
      "spans" -> Json.arr(spans.map(s => Json.obj(Seq(
        "op" -> Json.str(s.key), "name" -> Json.str(s.name),
        "parent" -> Json.str(s.parent),
        "start_ms" -> Json.num((s.startNs - t0) / 1e6),
        "dur_ms" -> Json.num((s.endNs - s.startNs) / 1e6)))))))
  }
}

object Report {
  /** Wall milliseconds of the ops of a kind, as a per-layer metric. */
  val KindMetric: Seq[(String, String)] = Seq(
    "store.publish" -> "store.publish_ms",
    "store.merge" -> "store.merge_ms",
    "store.delta" -> "store.delta_ms",
    "store.dv" -> "store.dv_ms",
    "store.read_merged" -> "store.read_merged_ms",
    "store.retain" -> "store.maintain_ms",
    "model.pipeline" -> "model.pipeline_ms",
    "streaming.sink" -> "streaming.sink_ms",
    "datagen.gen" -> "datagen.gen_ms")

  /** Every per-layer metric, in the order BENCHMARK.json lists them. */
  val PerLayer: Seq[(String, String)] = Seq(
    "floor.range1_ms" -> "ms",
    "ops.build_ms" -> "ms", "ops.build_jobs" -> "count",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms",
    "sched.jobs" -> "count", "sched.stages" -> "count",
    "sched.stages_skipped" -> "count", "sched.tasks" -> "count",
    "sched.gap_ms" -> "ms",
    "exec.run_ms" -> "ms", "exec.cpu_ms" -> "ms", "exec.gc_ms" -> "ms",
    "exec.util" -> "ratio", "exec.task_failures" -> "count",
    "shuffle.read_bytes" -> "bytes", "shuffle.write_bytes" -> "bytes",
    "shuffle.fetch_wait_ms" -> "ms", "spill.bytes" -> "bytes",
    "sources.input_bytes" -> "bytes", "sources.files_read" -> "count",
    "store.publish_ms" -> "ms", "store.merge_ms" -> "ms",
    "store.delta_ms" -> "ms", "store.dv_ms" -> "ms",
    "store.read_merged_ms" -> "ms", "store.maintain_ms" -> "ms",
    "store.bytes_written" -> "bytes", "store.files_written" -> "count",
    "model.pipeline_ms" -> "ms", "model.train_ms" -> "ms",
    "model.predict_ms" -> "ms", "model.persist_ms" -> "ms",
    "streaming.sink_ms" -> "ms", "streaming.trigger_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms",
    "datagen.gen_ms" -> "ms",
    "write_p50_s" -> "s", "write_amp" -> "ratio", "space_amp" -> "ratio",
    "failed_frac" -> "ratio",
    "trace.overhead_ratio" -> "ratio")

  /** Host and build context recorded with every run. */
  def context(env: Env): String = Json.obj(Seq(
    "nproc" -> env.cores.toString,
    "available_processors" -> Runtime.getRuntime.availableProcessors.toString,
    "loadavg_1m" -> Json.num(Host.loadAvg()),
    "java_version" -> Json.str(System.getProperty("java.version")),
    "jvm" -> Json.str(System.getProperty("java.vm.name")),
    "spark_version" -> Json.str(env.spark.version),
    "scala_version" -> Json.str(scala.util.Properties.versionNumberString),
    "max_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0)))
}
