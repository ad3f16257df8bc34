package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files => JFiles, Paths}

import scala.collection.mutable

/** The benchmark's JVM entry point. `run.py` builds the project and calls
  * it; see README.md for the workloads and metrics.
  *
  *   Main run      --workload W --seed N --seconds S --trace 0|1 --bench DIR
  *                 --scratch DIR --cores C [--out FILE]
  *   Main classify --bench DIR --scratch DIR --cores C   (writes workloads.tsv)
  *   Main expect   --bench DIR --scratch DIR --cores C   (writes expected.tsv)
  *   Main prime    --bench DIR --scratch DIR --cores C   (session and warmup
  *                 only: the build records the classes it loads)
  */
object Main {
  final case class Args(mode: String, kv: Map[String, String]) {
    def apply(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def get(k: String): Option[String] = kv.get(k)
    def bench: String = apply("bench")
    def data: String = s"$bench/data"
    def scratch: String = apply("scratch")
    def cores: Int = apply("cores").toInt
  }

  def parse(args: Array[String]): Args = {
    val mode = args.headOption.getOrElse("run")
    val kv = args.drop(1).grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"bad argument: ${other.mkString(" ")}")
    }.toMap
    Args(mode, kv)
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    a.mode match {
      case "run" => run(a)
      case "classify" => Classify.run(a)
      case "expect" => Classify.expect(a)
      case "prime" =>
        val env = Env.open(a.data, s"${a.scratch}/prime", a.cores)
        Setup.warmup(env.spark, env.dataDir)
        env.close()
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
  }

  def workload(env: Env, name: String, catalog: Catalog, seed: Long): Workload =
    name match {
      case "store_cycle" =>
        val acc = catalog.expected.get(Classify.PipelineKey)
          .map(o => java.lang.Double.longBitsToDouble(o.chk))
          .getOrElse(throw new IllegalStateException("no expected pipeline accuracy"))
        new StoreCycle(env, catalog.queries(name), catalog, seed, acc)
      case w if Catalog.Workloads.contains(w) =>
        new QueryWorkload(env, catalog.queries(w), catalog, seed)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

  final case class PassRec(pass: Int, traced: Boolean, sec: Double, cpuSec: Double,
                           floorSec: Double, load0: Double, load1: Double,
                           samples: Seq[Sample], store: Map[String, Double])

  /** One measured run, as `run` prints it. */
  final case class Measured(report: Report, context: String, spans: Seq[Span],
                            traced: Boolean)

  def run(a: Args): Unit = {
    val m = measure(a)
    a.get("out").foreach { out =>
      new File(out).getParentFile.mkdirs()
      JFiles.write(Paths.get(out), m.report.artifact(m.context, m.spans).getBytes(UTF_8))
    }
    println(Json.obj(Seq("context" -> m.context)))
    println(Json.obj(Seq("report" -> m.report.summary)))
    println(m.report.resultLine(m.traced))
  }

  def measure(a: Args): Measured = {
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val catalog = Catalog.load(a.bench)
    require(catalog.expected.nonEmpty, s"no expected outputs under ${a.bench}")
    require(catalog.queries(name).nonEmpty || name == "store_cycle",
      s"workload $name has no queries")

    // set-up: one session, as graft.Bench sets up, and an untimed warm pass
    val setupSteps = mutable.LinkedHashMap.empty[String, Double]
    val t0 = System.nanoTime()
    var last = t0
    def step(n: String): Unit = {
      val t = System.nanoTime()
      setupSteps(n) = (t - last) / 1e9
      last = t
    }
    val env = Env.open(a.data, s"${a.scratch}/run", a.cores)
    step("session")
    Setup.warmup(env.spark, env.dataDir)
    step("warmup")
    Setup.build(env.spark, env.dataDir, catalog.steps(name))
    step("infra")
    val wl = workload(env, name, catalog, seed)
    step("workload")
    val warmSamples = wl.pass(-1).map(new Runner(env, None).run(_, -1))
    step("warm_pass")
    val setupSec = (System.nanoTime() - t0) / 1e9

    val sc = env.spark.sparkContext
    val trace = if (traced) Some(new Trace(sc)) else None
    val plain = new Runner(env, None)
    val tracing = trace.map(t => new Runner(env, Some(t)))
    val passes = mutable.ArrayBuffer.empty[PassRec]
    val start = System.nanoTime()
    var p = 0
    // a traced run alternates untraced and traced passes and starts and
    // ends untraced, so the JVM's warming over the run weighs on both sides
    // of the tracing overhead alike
    // and at least two untraced passes, so a run's figure is never its
    // first timed pass alone
    val minPasses = if (traced) 3 else 2
    while (p < minPasses || (System.nanoTime() - start) / 1e9 < seconds ||
        (traced && p % 2 == 0)) {
      val tracedPass = traced && p % 2 == 1
      val runner = if (tracedPass) tracing.get else plain
      if (tracedPass) sc.addSparkListener(trace.get)
      val load0 = Host.loadAvg()
      val floor = runner.floorProbe()
      val (hook0, hookCpu0) = (runner.untimedSec, runner.untimedCpuSec)
      val cpu0 = Host.cpuSec()
      val t0 = System.nanoTime()
      val samples = wl.pass(p).map(runner.run(_, p))
      val sec = (System.nanoTime() - t0) / 1e9 - (runner.untimedSec - hook0)
      val cpu = Host.cpuSec() - cpu0 - (runner.untimedCpuSec - hookCpu0)
      if (tracedPass) {
        org.apache.spark.perfbench.ListenerBus.drain(sc)
        sc.removeSparkListener(trace.get)
      }
      val store = wl match {
        case s: StoreCycle => s.passStats()
        case _ => Map.empty[String, Double]
      }
      passes += PassRec(p, tracedPass, sec, cpu, floor, load0, Host.loadAvg(),
        samples, store)
      p += 1
    }
    val heapMb = Host.retainedHeapMb()
    val context = Report.context(env)
    env.close()

    Measured(new Report(name, seed, a.cores, setupSec, setupSteps.toSeq,
      passes.toSeq, heapMb, warmSamples), context,
      trace.map(_.spans.toSeq).getOrElse(Nil), traced)
  }
}
