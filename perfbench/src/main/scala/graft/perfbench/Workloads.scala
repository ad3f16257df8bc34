package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files => JFiles, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.store.Snapshots

/** The benchmark's committed inputs, read from its own directory:
  *  - `workloads.tsv`: every declared query with the workload its scanned
  *    relations put it in, or `excluded` and the reason, whether a run
  *    measures it, the set-up steps whose output it reads, and its wall
  *    time split by layer (written by the `classify` mode);
  *  - `expected.tsv`: every classified query's `(rows, chk)` on the
  *    benchmark corpus (written by the `expect` mode). */
final case class Catalog(entries: Seq[Entry], measured: Set[String],
                         expected: Map[String, Outcome]) {
  val workloadOf: Map[String, String] = entries.map(e => e.name -> e.workload).toMap

  /** The queries a run of `workload` measures. */
  def queries(workload: String): Seq[String] =
    entries.collect { case e if e.workload == workload && measured(e.name) => e.name }.sorted

  /** The set-up steps the measured queries of `workload` read, in
    * `graft.Bench`'s order. */
  def steps(workload: String): Seq[String] = {
    val need = entries.filter(e => e.workload == workload && measured(e.name))
      .flatMap(_.steps).toSet
    Setup.Steps.filter(need)
  }
}

/** One row of `workloads.tsv`. */
final case class Entry(name: String, workload: String, steps: Set[String],
                       profile: Option[Profile])

/** One query's wall time on the benchmark corpus, split by layer, from a
  * warm traced run: its plan build, Catalyst planning, the time a task was
  * running, and the rest (job and stage scheduling, the driver's result
  * handling). */
final case class Profile(wallMs: Double, buildMs: Double, catalystMs: Double,
                         execMs: Double) {
  def schedMs: Double = math.max(0.0, wallMs - buildMs - catalystMs - execMs)
  def execShare: Double = execMs / wallMs
  def cells: Seq[String] = Seq(wallMs, buildMs, catalystMs, schedMs, execMs).map(v => f"$v%.1f")
}

object Profile {
  val Header = "wall_ms\tbuild_ms\tcatalyst_ms\tsched_ms\texec_ms"
  val Missing: Seq[String] = Seq.fill(5)("-")

  def of(s: Sample): Profile = Profile(s.sec * 1e3, s.layer("ops.build_ms"),
    s.layer("catalyst.wall_ms"), s.layer("exec.active_ms"))

  def parse(cells: Seq[String]): Option[Profile] =
    if (cells.size < 5 || cells.head == "-") None
    else {
      val Seq(wall, build, catalyst, _, exec) = cells.take(5).map(_.toDouble)
      Some(Profile(wall, build, catalyst, exec))
    }

  /** The layers' shares of the summed wall time of `ps`. */
  def summary(ps: Seq[Profile]): String = {
    val pct = Catalog.shares(ps).map(x => f"${100 * x}%.0f%%")
    f"wall ${ps.map(_.wallMs).sum / 1e3}%.1f s, build ${pct(0)}, catalyst ${pct(1)}, " +
      s"sched ${pct(2)}, exec ${pct(3)}"
  }
}

object Catalog {
  val Workloads = Seq("star_interactive", "corpus_curation", "store_cycle")

  /** Queries a pass of each workload measures. A pass over a whole class
    * takes about a minute on four cores, and a run of the benchmark,
    * set-up included, has to end in well under one. */
  val SampleSize = Map("star_interactive" -> 10, "corpus_curation" -> 10, "store_cycle" -> 1)

  /** The measured sample: each class's queries with a profile, ordered by
    * the share of their wall time spent in executor tasks, are cut into
    * `SampleSize` strata of equal count. From each stratum in turn the
    * query is taken that brings the sample's summed layer shares closest
    * to the whole class's. The sample so spans the class from floor-bound
    * to executor-bound queries and spends its time by layer as the class
    * does. Queries that read a set-up step outside `Setup.Sampled` are left
    * out. */
  def sample(entries: Seq[Entry]): Set[String] =
    entries.groupBy(_.workload).toSeq.flatMap { case (w, es) =>
      val k = SampleSize.getOrElse(w, 0)
      val target = shares(es.flatMap(_.profile))
      val pool = es.filter(e => e.profile.isDefined && e.steps.subsetOf(Setup.Sampled))
        .sortBy(e => (e.profile.get.execShare, e.name))
      val strata = (0 until math.min(k, pool.size))
        .map(i => pool.slice(i * pool.size / k, (i + 1) * pool.size / k))
      strata.foldLeft(Seq.empty[Entry]) { (picked, stratum) =>
        picked :+ stratum.minBy { e =>
          val s = shares((picked :+ e).flatMap(_.profile))
          (s.zip(target).map { case (x, y) => math.abs(x - y) }.sum, e.name)
        }
      }.map(_.name)
    }.toSet

  /** Build, Catalyst, scheduling and executor shares of the summed wall
    * time of `ps`. */
  def shares(ps: Seq[Profile]): Seq[Double] = {
    val wall = ps.map(_.wallMs).sum
    Seq[Profile => Double](_.buildMs, _.catalystMs, _.schedMs, _.execMs)
      .map(f => ps.map(f).sum / wall)
  }

  private def rows(path: String): Seq[Array[String]] = {
    val p = Paths.get(path)
    if (!JFiles.exists(p)) Seq.empty
    else JFiles.readAllLines(p, UTF_8).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\t"))
  }

  def load(benchDir: String): Catalog = {
    val wl = rows(s"$benchDir/workloads.tsv")
    Catalog(wl.map(r => Entry(r(0), r(1), if (r(5) == "-") Set.empty else r(5).split(",").toSet,
        Profile.parse(r.drop(6).toSeq))),
      wl.filter(_(4) == "measured").map(_(0)).toSet,
      rows(s"$benchDir/expected.tsv")
        .map(r => r(0) -> Outcome(r(1).toLong, r(2).toLong)).toMap)
  }

  def write(path: String, header: String, lines: Seq[String]): Unit =
    JFiles.write(Paths.get(path), (header +: lines).mkString("", "\n", "\n").getBytes(UTF_8))
}

/** The set-up `graft.Bench` runs before it times anything. */
object Setup {
  /** The warmup: codegen, parquet decoding, shuffle machinery and JIT. */
  def warmup(spark: SparkSession, dir: String): Unit = {
    spark.read.parquet(s"$dir/lineitem.parquet")
      .groupBy(col("l_returnflag")).agg(sum(col("l_quantity"))).collect()
    spark.read.parquet(s"$dir/documents.parquet")
      .agg(avg(length(col("text")))).collect()
    spark.read.parquet(s"$dir/embeddings.parquet")
      .agg(sum(size(col("embedding")))).collect()
    spark.read.parquet(s"$dir/orders.parquet")
      .agg(max(col("o_totalprice"))).collect()
  }

  /** The infrastructure builds, in `graft.Bench`'s order. A run's set-up
    * builds those its measured queries read. */
  def infra(spark: SparkSession, dir: String): Seq[(String, () => Any)] = Seq(
    "ensureLayoutTables" -> (() => graft.ops.Relational.ensureLayoutTables(spark, dir)),
    "ensureVectorLayout" -> (() => graft.ops.Similarity.ensureVectorLayout(spark, dir)),
    "ensureClusterLabels" -> (() => graft.ops.Dedup.ensureClusterLabels(spark, dir)),
    "ensureIncrementalBase" -> (() => graft.ops.Dedup.ensureIncrementalBase(spark, dir)),
    "healIncrementalBase" -> (() => graft.ops.Dedup.healIncrementalBase(spark, dir)),
    "ensureRevenueBase" -> (() => graft.ops.Materialize.ensureRevenueBase(spark, dir)),
    "ensureRarePostingIndex" -> (() => graft.ops.Text.ensureRarePostingIndex(spark, dir)))

  /** The names of the infrastructure builds, in order. */
  val Steps: Seq[String] = infra(null, "").map(_._1)

  /** The steps a run's set-up may build for its sample; a query that reads
    * another is not sampled. The two left out take 5-6 s each on four
    * cores, as long as the rest together (README.md). */
  val Sampled: Set[String] = Steps.toSet -- Set("ensureLayoutTables", "ensureVectorLayout")

  /** Builds the named steps, in order. */
  def build(spark: SparkSession, dir: String, steps: Seq[String]): Unit =
    infra(spark, dir).filter(s => steps.contains(s._1)).foreach(_._2())
}

/** A workload: the ops of one pass, in the order the seed fixes. */
trait Workload {
  /** The ops of pass `pass` (negative passes are the untimed warm pass). */
  def pass(pass: Int): Seq[Op]
}

/** A fixed set of declared queries; the seed only reorders them. */
final class QueryWorkload(env: Env, names: Seq[String], catalog: Catalog,
                          seed: Long) extends Workload {
  private val ops: Seq[Op] = names.map { n =>
    val fn = SparkEntry.queries(n)
    QueryOp(n, () => fn(env.spark, env.dataDir), catalog.expected.get(n))
  }
  def pass(pass: Int): Seq[Op] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(ops)
}

/** Writes beside reads on the run's scratch lake. Each pass:
  *  1. generates the synthetic feature table (`datagen.gen`); before it,
  *     untimed, the harness stages a seeded change batch of that table
  *     (upserts, deletes, inserts) as the user's change data, and the
  *     stream's new event files;
  *  2. applies it through `Snapshots.publish` (append to a change log),
  *     `mergeIntoLatest` (copy-on-write), `publishDelta` (merge-on-read)
  *     and `publishDeltaDV` (deletion vector);
  *  3. reads the three merged states back, which must carry one checksum,
  *     and the copy-on-write change feed, whose size the batch fixes;
  *  4. runs new event files through `EventStream.snapshotSinkQuery`;
  *  5. runs the reference pipeline `model.Pipeline.run`;
  *  6. runs the declared queries that read or publish snapshots;
  *  7. ends with `retain(1)` and `vacuum` on every base. Retention keeps a
  *     merge-on-read chain whole, so those stacks grow by one delta a
  *     pass; every set-up starts a fresh lake, so the timed passes of every
  *     run see the same depths. */
final class StoreCycle(env: Env, queries: Seq[String], catalog: Catalog,
                       seed: Long, expectedAccuracy: Double) extends Workload {
  import StoreCycle._
  private val spark = env.spark
  private val keys = Seq("row_id")
  private val tables = Seq(Cow, Mor, Dv)
  private var liveKeys: Vector[Long] = (0L until BaseRows).toVector
  private var nextInsert = BaseRows.toLong
  /** Bytes the committing ops of the current pass added to the lake, and
    * the size of the pass's change data — the write-amplification ratio. */
  private var passWritten = 0L
  private var passFiles = 0L
  private var passChangeBytes = 0L
  private var spaceAmp = 0.0
  /** (trigger, addBatch) milliseconds of the pass's micro-batches. */
  private val streamProgress = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]

  /** The store counters of the pass that just ended. */
  def passStats(): Map[String, Double] = {
    val st = Map(
      "store.bytes_written" -> passWritten.toDouble,
      "store.files_written" -> passFiles.toDouble,
      "write_amp" -> passWritten.toDouble / passChangeBytes,
      "space_amp" -> spaceAmp,
      "streaming.trigger_ms" -> streamProgress.map(_._1).sum,
      "streaming.add_batch_ms" -> streamProgress.map(_._2).sum)
    streamProgress.clear()
    st
  }

  private def lakeFiles(): Map[String, Long] =
    Files.sizes(new File(env.lakeDir, "graft_snapshots"))

  private def checksum(df: DataFrame): Outcome = {
    val r = graft.Timing.checksumPlan(df).collect().head
    Outcome(r.getLong(0), r.getLong(1))
  }

  /** The committed-state check: rows as the change batches predict. */
  private def expectRows(o: Outcome, n: Long, what: String): Outcome = {
    require(o.rows == n, s"$what: ${o.rows} rows, expected $n")
    o
  }

  // the base table every write path starts from, published uncounted
  {
    val base = graft.datagen.SyntheticFeatures.generate(spark, BaseRows, env.cores)
    tables.foreach(t => Snapshots.publish(spark, base, t))
    Snapshots.publish(spark, base.limit(0), Log)
  }

  /** An op that writes to the lake; the files it adds count as written.
    * The lake is walked before and after the op, untimed, as are the
    * harness's own `prologue` and `epilogue`. */
  private def commit(id: String, kind: String, prologue: () => Unit = () => (),
                     epilogue: () => Unit = () => ())(f: => Any): CallOp = {
    var before = Map.empty[String, Long]
    CallOp(id, kind, () => f,
      before = () => { prologue(); before = lakeFiles() },
      after = () => {
        val added = lakeFiles().filter { case (p, n) => before.get(p) != Some(n) }
        passWritten += added.values.sum
        passFiles += added.size
        epilogue()
      })
  }

  def pass(pass: Int): Seq[Op] = {
    val rnd = new scala.util.Random(seed * 7919L + pass)
    val touched = rnd.shuffle(liveKeys).take(Upserts + Deletes)
    val (upKeys, delKeys) = touched.splitAt(Upserts)
    val insKeys = (0L until Inserts).map(_ + nextInsert)
    val genRows = nextInsert + Inserts
    val changeDir = s"${env.root}/changes/pass$pass"
    var changes: DataFrame = null
    // the user's change data for the pass, staged untimed before the
    // datagen op: the change batch and the stream's new event files
    val stage = () => {
      passWritten = 0L; passFiles = 0L
      val all = graft.datagen.SyntheticFeatures.generate(spark, genRows, env.cores)
      // an upsert moves feature_0 by an amount unique to the pass (warm
      // passes are negative), so every upsert is a visible change
      val ups = all.where(col("row_id").isin(upKeys ++ insKeys: _*))
        .withColumn("feature_0", col("feature_0") + lit(pass + 1000.0))
        .withColumn("_op", lit("upsert"))
      val dels = all.where(col("row_id").isin(delKeys: _*))
        .withColumn("_op", lit("delete"))
      ups.unionByName(dels).coalesce(1).write.parquet(changeDir)
      changes = spark.read.parquet(changeDir)
      passChangeBytes = Files.bytes(new File(changeDir)) + streamInput(pass)
      expectRows(checksum(changes), touched.size + Inserts, "change batch")
      ()
    }
    val gen = CallOp("datagen.generate", "datagen.gen", () => expectRows(checksum(
      graft.datagen.SyntheticFeatures.generate(spark, genRows, env.cores)), genRows, "features"),
      before = stage)
    val feedRows = 2L * Upserts + Deletes + Inserts
    val gone = delKeys.toSet
    liveKeys = liveKeys.filterNot(gone) ++ insKeys
    val afterRows = liveKeys.size.toLong
    nextInsert += Inserts
    val writes = Seq(
      commit("store.publish", "store.publish")(Snapshots.publish(spark, changes, Log)),
      commit("store.merge_cow", "store.merge")(Snapshots.mergeIntoLatest(spark, Cow, changes, keys)),
      commit("store.delta_mor", "store.delta")(Snapshots.publishDelta(spark, changes, Mor, keys)),
      commit("store.delta_dv", "store.dv")(Snapshots.publishDeltaDV(spark, changes, Dv, keys)))
    var merged = Map.empty[String, Outcome]
    val reads = tables.map { t =>
      CallOp(s"store.read_merged_$t", "store.read_merged", () => {
        val o = expectRows(checksum(Snapshots.latestMerged(spark, t)), afterRows, t)
        merged += t -> o
        if (merged.size == tables.size)
          require(merged.values.toSet.size == 1,
            s"merged states differ across write paths: $merged")
        o
      })
    } :+ CallOp("store.change_feed", "store.read_merged", () => {
      val vs = Snapshots.versions(spark, Cow).takeRight(2)
      expectRows(checksum(Snapshots.changeFeed(spark, Cow, vs.head, vs.last,
        keys, graft.model.Pipeline.featureCols :+ "target")), feedRows, "change feed")
    })
    var streamVersions = 0
    val stream = commit("streaming.sink", "streaming.sink",
      prologue = () => streamVersions = Snapshots.versions(spark, Stream).size,
      epilogue = () => checkStream(streamVersions))(streamBatch())
    val model = CallOp("model.pipeline", "model.pipeline", () => {
      val r = graft.model.Pipeline.run(spark, s"${env.root}/model/pass$pass",
        numTrees = PipelineTrees)
      require(r.accuracy == expectedAccuracy,
        s"pipeline accuracy ${r.accuracy}, expected $expectedAccuracy")
    })
    val declared = new QueryWorkload(env, queries, catalog, seed).pass(pass)
    val maintain = commit("store.maintain", "store.retain", epilogue = () => {
      val liveBytes = Files.bytes(new File(Snapshots.versionPath(spark, Cow,
        Snapshots.latest(spark, Cow).get)))
      val stored = tables.map(t => Files.bytes(new File(env.lakeDir, s"graft_snapshots/$t"))).sum
      spaceAmp = stored.toDouble / (tables.size * liveBytes)
    }) {
      (tables ++ Seq(Log, Stream)).foreach { t =>
        Snapshots.retain(spark, t, 1)
        Snapshots.vacuum(spark, t, 0L)
      }
    }
    // the write path runs in a fixed order; the seed orders the rest
    val free = new scala.util.Random(seed * 31L + pass)
      .shuffle(reads ++ Seq(stream, model) ++ declared)
    Seq(gen) ++ writes ++ free :+ maintain
  }

  private def streamDir = s"${env.root}/stream/in"
  private val events = graft.sources.Tables.events(spark, env.dataDir).drop("ts")
  private var streamSlices = Seq.empty[Long]

  /** Drops this pass's seeded event slices into the stream's input, one
    * file each; returns their bytes. */
  private def streamInput(pass: Int): Long = {
    val in = streamDir
    streamSlices = (0 until StreamFiles).map { i =>
      val part = events.where(pmod(xxhash64(col("event_id"), lit(seed), lit(pass)),
        lit(100L)) === i)
      part.coalesce(1).write.parquet(s"$in-tmp/p$pass-$i")
      part.count()
    }
    // files appear in the input directory atomically, as a producer's would
    new File(in).mkdirs()
    (0 until StreamFiles).map { i =>
      val src = new File(s"$in-tmp/p$pass-$i").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new File(s"$in/p$pass-$i.parquet")
      JFiles.move(src.toPath, dst.toPath)
      dst.length()
    }.sum
  }

  /** Runs the snapshot sink until it has taken the pass's event files, one
    * micro-batch each. */
  private def streamBatch(): Unit = {
    val stream = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir)
    val q = graft.streaming.EventStream.snapshotSinkQuery(stream, Stream,
      s"${env.root}/stream/checkpoint", "perfbench")
    try q.processAllAvailable() finally q.stop()
    q.recentProgress.foreach { p =>
      def ms(k: String) = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      streamProgress += ((ms("triggerExecution"), ms("addBatch")))
    }
  }

  /** The sink published one version per event file, with its rows. */
  private def checkStream(before: Int): Unit = {
    val vs = Snapshots.versions(spark, Stream)
    require(vs.size == before + StreamFiles,
      s"stream sink published ${vs.size - before} versions, expected $StreamFiles")
    val published = vs.takeRight(StreamFiles).map(v => Snapshots.readVersion(spark, Stream, v).count())
    require(published.sorted == streamSlices.sorted,
      s"stream sink published rows $published, expected $streamSlices")
  }
}

object StoreCycle {
  val Cow = "perfbench_cow"
  val Mor = "perfbench_mor"
  val Dv = "perfbench_dv"
  val Log = "perfbench_log"
  val Stream = "perfbench_stream"
  val BaseRows = 2000
  val Upserts = 30
  val Deletes = 10
  val Inserts = 10
  val StreamFiles = 2
  /** Trees of the reference pipeline's forest (the reference fits 100). */
  val PipelineTrees = 10
  /** Kinds of the ops that commit a write. */
  val Committing = Set("store.publish", "store.merge", "store.delta", "store.dv",
    "streaming.sink")
}
