package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbench.SqlExecutions

import graft.SparkEntry

/** Puts every declared query in one workload, from the relations its
  * executed plans scanned, profiles each classified query's wall time by
  * layer, and records every query's expected output.
  *
  * A query is run once on a fresh lake after the set-up infrastructure is
  * built. Every SQL execution it triggers, at build time or evaluation, is
  * seen through its SQL-execution-end event; the corpus tables behind the
  * scanned files are its relation set. A lake table written during set-up
  * or by an earlier query stands for the corpus tables it was built from.
  *
  *  - `store_cycle`: the query read or published a snapshot
  *    (a snapshot base is created by whichever query of a family runs
  *    first, so reading one counts like publishing it);
  *  - `corpus_curation`: its relations include `documents` or `embeddings`;
  *  - `star_interactive`: its relations are star-schema tables or `events`;
  *  - `excluded`: anything else (the reason is recorded).
  */
object Classify {
  val Star = Set("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events")
  val Corpus = Set("documents", "embeddings")
  val PipelineKey = "model.pipeline"
  private val SetupTag = "setup:"

  /** Root paths of every file relation a plan (or its subqueries) reads. */
  def scannedPaths(plan: LogicalPlan): Seq[String] = {
    val inner = plan.collect { case w: DataWritingCommand => w.query }
    (plan +: inner).flatMap(_.collectWithSubqueries {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.toUri.getPath)
        case _ => Nil
      }
    }.flatten)
  }

  /** Collects the scanned paths of every SQL execution of the context. */
  final class Recorder extends SparkListener {
    private val paths = mutable.ArrayBuffer.empty[String]
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        SqlExecutions.of(end).foreach(qe => synchronized(paths ++= scannedPaths(qe.analyzed)))
      case _ =>
    }
    def take(): Seq[String] = synchronized { val p = paths.toSeq; paths.clear(); p }
  }

  def run(a: Main.Args): Unit = {
    val env = Env.open(a.data, s"${a.scratch}/classify", a.cores)
    val spark = env.spark
    val area = new File(a.scratch).getCanonicalPath
    val snapshots = new File(env.lakeDir, "graft_snapshots").getCanonicalPath + "/"
    val data = new File(a.data).getCanonicalPath
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    // file written during the run -> corpus tables it was derived from
    val lineage = mutable.HashMap.empty[String, Set[String]]
    /** Runs `f`; returns the corpus tables it read and whether it read or
      * wrote the snapshot store. The files it wrote stand for those tables
      * from then on. */
    def observe(step: Option[String])(f: => Any): (Set[String], Boolean, Option[String]) = {
      val before = Files.sizes(new File(area))
      rec.take()
      val err = try { f; None } catch { case e: Exception => Some(e.toString.take(200)) }
      org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
      val after = Files.sizes(new File(area))
      val written = after.keySet.filter(f => before.get(f) != after.get(f))
      def under(p: String)(f: String) = f == p || f.startsWith(p + "/")
      val paths = rec.take().map(p => new File(p).getCanonicalPath).toSet
      val tables = paths.flatMap { (p: String) =>
        if (p.startsWith(data + "/")) Set(new File(p).getName.stripSuffix(".parquet"))
        // read back what this step wrote, or a staging file it has removed
        // again: derived from the step's other reads
        else if (written.exists(under(p)) || (p.startsWith(area + "/") && !new File(p).exists))
          Set.empty[String]
        else {
          val from = lineage.collect { case (f, t) if under(p)(f) => t }.flatten.toSet
          if (from.nonEmpty) from else Set(s"other:${p.stripPrefix(area)}")
        }
      }
      written.foreach(f => lineage(f) = tables ++ step.map(SetupTag + _))
      val touchesStore = (paths ++ written).exists(p => (p + "/").startsWith(snapshots))
      (tables, touchesStore, err)
    }
    Setup.warmup(spark, env.dataDir)
    val stepSec = Setup.infra(spark, env.dataDir).map { case (n, f) =>
      val t0 = System.nanoTime()
      observe(Some(n))(f())
      n -> (System.nanoTime() - t0) / 1e9
    }

    val outputs = mutable.HashMap.empty[String, Outcome]
    val lines = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val (sources, store, err) = observe(None) {
        val (rows, chk) = graft.Timing.evaluate(fn(spark, env.dataDir))
        outputs(name) = Outcome(rows, chk)
      }
      val (steps, tables) = sources.partition(_.startsWith(SetupTag))
      val (wl, why) =
        if (err.isDefined) ("excluded", s"failed: ${err.get}")
        else if (store) ("store_cycle", "reads or publishes snapshots")
        else if (tables.exists(Corpus)) ("corpus_curation", "scans documents or embeddings")
        else if (tables.nonEmpty && tables.forall(Star)) ("star_interactive", "scans only star-schema and events tables")
        else if (tables.isEmpty) ("excluded", "scans no file: in-memory or generated input")
        else ("excluded", "scans a relation outside the corpus")
      (name, wl, tables.toSeq.sorted.mkString(","), why,
        steps.map(_.stripPrefix(SetupTag)).toSeq.sorted.mkString(","))
    }
    // each classified query once more, now warm and traced: the split of
    // its wall time by layer, which the measured sample is chosen to match
    val trace = new Trace(spark.sparkContext)
    spark.sparkContext.addSparkListener(trace)
    val runner = new Runner(env, Some(trace))
    val profiles = lines.filter(l => l._2 != "excluded" && outputs.contains(l._1)).flatMap { l =>
      val s = runner.run(QueryOp(l._1, () => SparkEntry.queries(l._1)(spark, env.dataDir),
        outputs.get(l._1)), 0)
      // a store query may publish again and so change its output; its
      // profile still counts
      if (s.ok || s.err.startsWith("output ")) Some(l._1 -> Profile.of(s)) else None
    }.toMap
    env.close()
    val entries = lines.map { case (n, w, _, _, steps) =>
      Entry(n, w, if (steps.isEmpty) Set.empty[String] else steps.split(",").toSet, profiles.get(n)) }
    val measured = Catalog.sample(entries)
    Catalog.write(s"${a.bench}/workloads.tsv",
      "# query\tworkload\tcorpus tables scanned\trule\tin a run\tset-up steps read\t" +
        Profile.Header + " (written by: run.py --classify)",
      lines.map { case (n, w, t, why, steps) =>
        (Seq(n, w, if (t.isEmpty) "-" else t, why,
          if (measured(n)) "measured" else "-", if (steps.isEmpty) "-" else steps) ++
          profiles.get(n).map(_.cells).getOrElse(Profile.Missing)).mkString("\t") })
    stepSec.foreach { case (n, sec) => println(f"set-up step $n: $sec%.2f s") }
    lines.groupBy(_._2).toSeq.sortBy(_._1).foreach { case (w, ls) =>
      val all = ls.flatMap(l => profiles.get(l._1))
      val sample = ls.filter(l => measured(l._1)).flatMap(l => profiles.get(l._1))
      println(s"$w: ${ls.size} queries, ${sample.size} measured" + (if (all.isEmpty) ""
        else s"; class ${Profile.summary(all)}; sample ${Profile.summary(sample)}"))
    }
  }

  /** Records every classified query's `(rows, chk)` after a full set-up,
    * and the reference pipeline's accuracy. */
  def expect(a: Main.Args): Unit = {
    val catalog = Catalog.load(a.bench)
    val env = Env.open(a.data, s"${a.scratch}/expect", a.cores)
    val spark = env.spark
    Setup.warmup(spark, env.dataDir)
    Setup.infra(spark, env.dataDir).foreach(_._2())
    val lines = catalog.workloadOf.filter(_._2 != "excluded").keys.toSeq.sorted.map { n =>
      val (rows, chk) = graft.Timing.evaluate(SparkEntry.queries(n)(spark, env.dataDir))
      s"$n\t$rows\t$chk"
    }
    val r = graft.model.Pipeline.run(spark, s"${env.root}/model",
      numTrees = StoreCycle.PipelineTrees)
    val pipeline = s"$PipelineKey\t${r.nTest}\t${java.lang.Double.doubleToLongBits(r.accuracy)}"
    env.close()
    Catalog.write(s"${a.bench}/expected.tsv",
      "# name\trows\tchk (written by: run.py --expect; the model line holds the accuracy's IEEE bits)",
      lines :+ pipeline)
    println(s"expected outputs: ${lines.size} queries, pipeline accuracy ${r.accuracy}")
  }
}
