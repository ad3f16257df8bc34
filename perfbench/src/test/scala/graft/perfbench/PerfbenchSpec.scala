package graft.perfbench

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** The benchmark's own checks. Run from the benchmark's directory with
  * `sbt test` (see README.md). */
class PerfbenchSpec extends AnyFunSuite {
  private val bench = "."
  private val scratch = new File("target/test-scratch").getAbsolutePath
  private val cores = Runtime.getRuntime.availableProcessors
  private lazy val catalog = Catalog.load(bench)

  private def rows(file: String): Seq[Array[String]] =
    scala.io.Source.fromFile(s"$bench/$file").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\t")).toSeq

  test("classification puts every declared query in exactly one workload or on the exclusion list") {
    val wl = rows("workloads.tsv")
    val names = wl.map(_(0))
    assert(names.distinct.size == names.size, "a query is listed twice")
    assert(names.toSet == SparkEntry.queries.keySet)
    wl.foreach { r =>
      assert((Catalog.Workloads :+ "excluded").contains(r(1)), r.mkString(" "))
      assert(r(3).nonEmpty, s"${r(0)} has no stated rule")
    }
    // the measured sample is exactly what the sampling rule picks from the
    // recorded profiles
    assert(catalog.measured == Catalog.sample(catalog.entries))
    Catalog.Workloads.filter(_ != "store_cycle")
      .foreach(w => assert(catalog.queries(w).nonEmpty, w))
    // every classified query has a recorded output
    wl.filter(_(1) != "excluded").foreach(r => assert(catalog.expected.contains(r(0)), r(0)))
  }

  test("two seeds give identical checksums, equal to the expected ones") {
    val env = Env.open(s"$bench/data", s"$scratch/seeds", cores)
    try {
      Setup.warmup(env.spark, env.dataDir)
      Setup.build(env.spark, env.dataDir,
        Seq("star_interactive", "corpus_curation").flatMap(catalog.steps).distinct)
      val runner = new Runner(env, None)
      for (w <- Seq("star_interactive", "corpus_curation")) {
        val bySeed = Seq(1L, 2L).map { seed =>
          val ops = Main.workload(env, w, catalog, seed).pass(0)
          ops.map(_.id) -> ops.map(runner.run(_, 0))
        }
        assert(bySeed(0)._1 != bySeed(1)._1, s"$w: the seeds give one order")
        bySeed.flatMap(_._2).foreach(s => assert(s.ok, s"$w ${s.id}: ${s.err}"))
      }
    } finally env.close()
    // the store cycle checks its three write paths and the pipeline
    // accuracy itself; each seed gets its own lake
    Seq(1L, 2L).foreach { seed =>
      val env = Env.open(s"$bench/data", s"$scratch/store$seed", cores)
      try {
        val store = Main.workload(env, "store_cycle", catalog, seed)
        val runner = new Runner(env, None)
        (0 to 1).flatMap(p => store.pass(p).map(runner.run(_, p)))
          .foreach(s => assert(s.ok, s"store_cycle seed $seed ${s.id}: ${s.err}"))
      } finally env.close()
    }
  }

  test("traced and untraced runs agree on failed_frac") {
    def run(trace: String) = Main.measure(Main.Args("run", Map(
      "workload" -> "corpus_curation", "seed" -> "7", "seconds" -> "1",
      "trace" -> trace, "bench" -> bench, "scratch" -> s"$scratch/trace$trace",
      "cores" -> cores.toString))).report
    val (plain, traced) = (run("0"), run("1"))
    assert(plain.attempted > 0 && traced.attempted > 0)
    assert(plain.failed.toDouble / plain.attempted == traced.failed.toDouble / traced.attempted)
    val layer = traced.perLayer.map(m => m._1 -> m._3).toMap
    assert(layer("sched.jobs") > 0 && layer("exec.cpu_ms") > 0)
    assert(layer.keySet == Report.PerLayer.map(_._1).toSet)
  }
}
