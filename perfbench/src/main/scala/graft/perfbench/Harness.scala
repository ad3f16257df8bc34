package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.Timing

/** What an op produced: output rows and an order-insensitive checksum. */
final case class Outcome(rows: Long, chk: Long)

/** One unit of work the client sends and waits for. */
sealed trait Op { def id: String; def kind: String }

/** A declared query: built by its plan builder, then planned and executed
  * through the all-columns checksum plan of [[graft.Timing]]. */
final case class QueryOp(id: String, build: () => DataFrame,
                         expected: Option[Outcome]) extends Op {
  def kind: String = "query"
}

/** A call into the store, model, streaming or datagen layer. `call`
  * checks its own output and throws on a mismatch. `before` and `after`
  * run around it, untimed: the harness's own staging and bookkeeping. */
final case class CallOp(id: String, kind: String, call: () => Any,
                        before: () => Unit = () => (),
                        after: () => Unit = () => ()) extends Op

/** One timed op invocation; `layer` holds the traced counters. */
final case class Sample(id: String, kind: String, pass: Int, sec: Double,
                        ok: Boolean, err: String,
                        layer: Map[String, Double])

/** One SparkSession on its own scratch directories (warehouse, shuffle
  * and spill, streaming checkpoints), so every set-up starts from an empty
  * lake and nothing is written outside the run's scratch root. */
final class Env(val spark: SparkSession, val dataDir: String,
                val root: String, val cores: Int) {
  /** The warehouse directory, which holds the lake, as a local path. */
  def lakeDir: String =
    new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath
  def close(): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    Files.delete(new File(root))
  }
}

object Env {
  def open(dataDir: String, root: String, cores: Int): Env = {
    new File(root).mkdirs()
    val spark = graft.sources.GraftSession.configure(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.local.dir", s"$root/local")
      .config("spark.hadoop.hadoop.tmp.dir", s"$root/hadoop")
      // the status store keeps this many finished jobs and SQL executions;
      // a bounded count keeps the retained heap independent of run length
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.sql.ui.retainedExecutions", "100"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new Env(spark, dataDir, root, cores)
  }
}

object Files {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  /** Every regular file under `dir` with its size. */
  def sizes(dir: File): Map[String, Long] =
    if (!dir.exists()) Map.empty
    else if (dir.isFile) Map(dir.getPath -> dir.length())
    else Option(dir.listFiles()).toSeq.flatten.flatMap(f => sizes(f)).toMap

  def bytes(dir: File): Long = sizes(dir).values.sum
}

/** Scan counters read from an executed plan after it ran. */
object Scans extends AdaptiveSparkPlanHelper {
  def filesRead(df: DataFrame): Long =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
}

/** The closed-loop client: runs ops one at a time, each to completion,
  * and records a [[Sample]] per op. With a [[Trace]] attached it also
  * records spans and the layer counters of every op. */
final class Runner(env: Env, trace: Option[Trace]) {
  private val sc = env.spark.sparkContext
  private var seq = 0L
  /** Wall and process CPU seconds spent in the untimed hooks of call ops,
    * which a pass's figures leave out. */
  var untimedSec = 0.0
  var untimedCpuSec = 0.0

  private def now(): Long = System.nanoTime()

  def run(op: Op, pass: Int): Sample = {
    seq += 1
    val key = s"$seq:${op.id}"
    val untimed: (CallOp => Unit) => Option[String] = hook => op match {
      case c: CallOp =>
        val (w0, c0) = (now(), Host.cpuSec())
        try { hook(c); None } catch { case e: Exception => Some(message(e)) }
        finally {
          untimedSec += (now() - w0) / 1e9
          untimedCpuSec += Host.cpuSec() - c0
        }
      case _ => None
    }
    val prologueErr = untimed(_.before())
    sc.setLocalProperty(Trace.OpKey, key)
    val t0 = now()
    // what only a query op has: its build and planning split, and the
    // wall-clock instant its build ended, which separates build-time jobs
    var queryLayer = Map.empty[String, Double]
    var buildEndMs = 0L
    val opErr: Option[String] = if (prologueErr.isDefined) prologueErr else try {
      op match {
        case q: QueryOp =>
          val df = q.build()
          val t1 = now()
          buildEndMs = System.currentTimeMillis()
          val cp = Timing.checksumPlan(df)
          cp.queryExecution.executedPlan
          val t2 = now()
          val row = cp.collect().head
          val t3 = now()
          val got = Outcome(row.getLong(0), row.getLong(1))
          trace.foreach { t =>
            t.span(key, "build", "op", t0, t1)
            t.span(key, "plan", "op", t1, t2)
            t.span(key, "execute", "op", t2, t3)
            t.span(key, "checksum", "op", t3, now())
            val phases = cp.queryExecution.tracker.phases
            def phaseMs(p: String) = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
            queryLayer = Map(
              "ops.build_ms" -> (t1 - t0) / 1e6,
              "plan_ms" -> (t2 - t1) / 1e6,
              "catalyst.analysis_ms" -> phaseMs("analysis"),
              "catalyst.optimization_ms" -> phaseMs("optimization"),
              "catalyst.planning_ms" -> phaseMs("planning"),
              "sources.files_read" -> Scans.filesRead(cp).toDouble)
          }
          q.expected match {
            case None => Some("no expected output recorded")
            case Some(e) if e != got => Some(s"output $got, expected $e")
            case _ => None
          }
        case c: CallOp =>
          val t1 = now()
          c.call()
          trace.foreach(_.span(key, c.kind, "op", t1, now()))
          None
      }
    } catch {
      case e: Exception => Some(message(e))
    }
    val t9 = now()
    sc.setLocalProperty(Trace.OpKey, null)
    val err = opErr.orElse(untimed(_.after()))
    val sec = (t9 - t0) / 1e9
    val layer = trace.map { t =>
      t.span(key, "op", "", t0, t9)
      layerOf(op, t.countersOf(key), queryLayer, buildEndMs, sec * 1e3)
    }.getOrElse(Map.empty)
    Sample(op.id, op.kind, pass, sec, err.isEmpty, err.getOrElse(""), layer)
  }

  private def message(e: Exception): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).replaceAll("\\s+", " ").take(300)

  private def layerOf(op: Op, c: OpCounters, queryLayer: Map[String, Double],
                      buildEndMs: Long, wallMs: Double): Map[String, Double] = {
    val counters = Map(
      "sched.jobs" -> c.jobs.toDouble,
      "sched.stages" -> c.stages.toDouble,
      "sched.stages_skipped" -> c.stagesSkipped.toDouble,
      "sched.tasks" -> c.tasks.toDouble,
      "exec.run_ms" -> c.runMs.toDouble,
      "exec.cpu_ms" -> c.cpuNs / 1e6,
      "exec.gc_ms" -> c.gcMs.toDouble,
      "exec.task_failures" -> c.taskFailures.toDouble,
      "shuffle.read_bytes" -> c.shuffleReadBytes.toDouble,
      "shuffle.write_bytes" -> c.shuffleWriteBytes.toDouble,
      "shuffle.fetch_wait_ms" -> c.fetchWaitMs.toDouble,
      "spill.bytes" -> c.spillBytes.toDouble,
      "sources.input_bytes" -> c.inputBytes.toDouble)
    val jobs = c.jobIntervals.toSeq
    op match {
      case _: QueryOp =>
        // gap: time in neither the build, the planning, nor a running job
        val gap = wallMs - queryLayer.getOrElse("ops.build_ms", 0.0) -
          queryLayer.getOrElse("plan_ms", 0.0) - Trace.activeMs(jobs, buildEndMs)
        // exec.active_ms: wall time with a task running after the build;
        // with build and planning it splits an op's wall time by layer
        counters ++ (queryLayer - "plan_ms") ++ Map(
          "ops.build_jobs" -> jobs.count(_._1 < buildEndMs).toDouble,
          "sched.gap_ms" -> gap,
          "catalyst.wall_ms" -> queryLayer.getOrElse("plan_ms", 0.0),
          "exec.active_ms" -> Trace.activeMs(c.taskIntervals.toSeq, buildEndMs).toDouble)
      case call: CallOp =>
        val gap = "sched.gap_ms" -> (wallMs - Trace.activeMs(jobs, 0L))
        // the reference pipeline's job time, by the file that launched it
        def site(f: String) = c.siteMs.getOrElse(f, 0L).toDouble
        if (call.kind != "model.pipeline") counters + gap
        else counters + gap ++ Map(
          "model.train_ms" -> site("TrainEval.scala"),
          "model.predict_ms" -> site("Pipeline.scala"),
          "model.persist_ms" -> site("Persist.scala"))
    }
  }

  /** The harness floor: the checksum of `spark.range(1)`, seconds. */
  def floorProbe(): Double = {
    val t0 = now()
    Timing.checksumPlan(env.spark.range(1).toDF()).collect()
    (now() - t0) / 1e9
  }
}

object Host {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuSec(): Double = os.getProcessCpuTime / 1e9
  def loadAvg(): Double = os.getSystemLoadAverage

  /** Heap in use after full collections, MB: collects until the live set
    * stops shrinking (at most six times). */
  def retainedHeapMb(): Double = {
    // Spark's ContextCleaner drops shuffle and broadcast state of collected
    // plans asynchronously, so each collection gets a moment to run first
    def used() = {
      System.gc(); Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var last = used()
    var next = used()
    var n = 2
    while (next < last * 0.99 && n < 6) { last = next; next = used(); n += 1 }
    next / 1048576.0
  }
}

object Stats {
  /** Linear-interpolated quantile, the same rule as Python's
    * `statistics.quantiles(method="inclusive")`. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Harrell-Davis estimate of quantile `q`: a Beta-weighted mean of all
    * order statistics. On the few op samples a run has, it moves smoothly
    * where the plain sample quantile jumps from one op's latency to the
    * next op's. */
  def harrellDavis(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val n = s.size
    if (n <= 1) s.headOption.getOrElse(0.0)
    else {
      val b = new org.apache.commons.math3.distribution.BetaDistribution(
        (n + 1) * q, (n + 1) * (1 - q))
      s.indices.map(i => (b.cumulativeProbability((i + 1.0) / n) -
        b.cumulativeProbability(i.toDouble / n)) * s(i)).sum
    }
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => " "; case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
