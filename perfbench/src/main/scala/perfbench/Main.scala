package perfbench

import graft.Pixetl
import graft.core.{GraftSession, LayerSpec}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** End-to-end benchmark of `graft.Pixetl.run`: seeded GeoTIFF / polygon
  * fixtures in, published tiles + manifests out, on a local session with
  * one Spark task thread per core. Closed loop: one client, one run at a
  * time, each to a fresh destination.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR [--self-test]
  *
  * Prints one record line, then the result line (the last line of stdout).
  */
object Main {

  val Reproject = Fixtures.Reproject(srcRes = 0.3, grid = "zoom_2", calcScale = 2, calcOffset = 1)
  val Vector = Fixtures.Vector(grid = "10/1600", features = 40)

  /** A workload's inputs as `Pixetl.run` sees them and what it must publish. */
  final case class Prepared(spec: LayerSpec, traceSpec: LayerSpec, expected: Check.Expected,
                            pxPerTile: Long, bytesPerPx: Int, features: Option[Path],
                            featureRows: Long)

  /** A run during which the hypervisor stole more than this share of the
    * host's CPU time ran contended (the repo's own bench gate uses 2% too). */
  val MaxStealPct = 2.0

  final case class RunResult(wallS: Double, cpuS: Double, stealPct: Double, peakRssMb: Double,
                             problems: Seq[String],
                             digests: Map[String, String], trace: Option[StepTrace.Report])

  private def median(xs: collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach(f => Files.copy(f, to.resolve(from.relativize(f).toString)))
    finally s.close()
  }

  /** CPU time of this JVM, all threads. */
  private def processCpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** (steal, total) jiffies of the host from /proc/stat's aggregate line. */
  private def cpuJiffies(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum)
  }

  /** Resident-set high-water mark of this JVM while `f` runs, in MB,
    * sampled from /proc every 10 ms. */
  private def withPeakRss[T](f: => T): (T, Double) = {
    def rssKb(): Long = {
      val s = Files.readAllLines(Paths.get("/proc/self/status"))
      val it = s.iterator()
      var kb = 0L
      while (it.hasNext) {
        val l = it.next()
        if (l.startsWith("VmRSS:")) kb = l.split("\\s+")(1).toLong
      }
      kb
    }
    @volatile var stop = false
    @volatile var peak = rssKb()
    val t = new Thread(() => while (!stop) { peak = math.max(peak, rssKb()); Thread.sleep(10) })
    t.setDaemon(true); t.start()
    try (f, { stop = true; t.join(); math.max(peak, rssKb()) / 1024.0 })
    finally { stop = true; t.join() }
  }

  // ------------------------------------------------------------ fixtures
  /** Write the workload's fixtures under `dir` (timed into setup_s). */
  def generate(spark: SparkSession, workload: String, seed: Long, dir: Path): Unit = workload match {
    case "raster_reproject" => Fixtures.writeReprojectSources(seed, Reproject, dir.resolve("src"))
    case "vector_burn" =>
      Fixtures.writeVectorFeatures(spark, Fixtures.vectorFeatures(seed, Vector), dir.resolve("features.parquet"))
  }

  /** The spec and the expected output for fixtures under `dir`. Reprojected
    * digests are filled in from the warm-up run once it passes the
    * tolerance check. */
  def prepare(workload: String, seed: Long, dir: Path): Prepared = {
    val src = dir.resolve("src").toAbsolutePath
    workload match {
      case "raster_reproject" =>
        val spec = Fixtures.reprojectSpec(Reproject, src.toString)
        val g = spec.gridDef
        val id = g.tileId(0)
        val tol = Reproject.calcScale * 3 + 2
        Prepared(spec, Fixtures.reprojectSpec(Reproject, CountingFileSystem.uriOf(src)),
          Check.Expected(Map(id -> ""), Map("processed" -> 1L),
            near = Map(id -> (Fixtures.reprojectExpected(seed, Reproject, spec), tol)),
            statsSidecars = true, gdalCopy = true),
          g.cols.toLong * g.cols, 2, None, 0)
      case "vector_burn" =>
        val spec = Fixtures.vectorSpec(Vector)
        val g = spec.gridDef
        val feats = Fixtures.vectorFeatures(seed, Vector)
        val tiles = Fixtures.vectorExpected(feats, spec)
        Prepared(spec, spec,
          Check.Expected(tiles.map { case (k, v) => k -> Check.digest(v) },
            Map("processed" -> tiles.size.toLong, "skipped (does not intersect)" -> (g.numTiles - tiles.size)),
            statsSidecars = false, gdalCopy = false),
          g.cols.toLong * g.cols, 1, Some(dir.resolve("features.parquet")), feats.size)
    }
  }

  // ----------------------------------------------------------------- runs
  /** One `Pixetl.run` to a fresh destination, then the output check. The
    * destination is removed afterwards unless `keep`. */
  def runOnce(spark: SparkSession, p: Prepared, dest: Path, trace: Option[StepTrace],
              keep: Boolean = false): RunResult = {
    deleteTree(dest)
    Files.createDirectories(dest)
    p.features.foreach(f => copyTree(f, dest.resolve("features.parquet")))
    val spec = if (trace.isDefined) p.traceSpec else p.spec
    trace.foreach { t => org.apache.spark.PerfbenchBus.drain(spark.sparkContext); t.clear() }
    System.gc()
    var status: Seq[(String, Long)] = Nil
    var error: Option[String] = None
    val startMs = System.currentTimeMillis()
    val startNs = System.nanoTime()
    val startCpu = processCpuNs()
    val (steal0, jiffies0) = cpuJiffies()
    val ((), rss) = withPeakRss {
      try status = Pixetl.run(spark, spec, dest.toString, overwrite = false, sub = None)
      catch { case e: Throwable =>
        error = Some("Pixetl.run threw " + Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .map(c => s"${c.getClass.getName}: ${c.getMessage}").mkString(" <- "))
      }
    }
    val wall = (System.nanoTime() - startNs) / 1e9
    val cpu = (processCpuNs() - startCpu) / 1e9
    val (steal1, jiffies1) = cpuJiffies()
    val stealPct = 100.0 * (steal1 - steal0) / math.max(1L, jiffies1 - jiffies0)
    val endMs = System.currentTimeMillis()
    val report = trace.map { t =>
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext); t.report(startMs, endMs)
    }
    val (problems, digests) = error match {
      case Some(e) => (Seq(e), Map.empty[String, String])
      case None =>
        try Check.problems(p.expected, dest.resolve(spec.prefix()),
          dest.resolve(spec.prefix(fmt = "gdal-geotiff")), status)
        catch { case e: Throwable =>
          (Seq(s"output check threw ${e.getClass.getName}: ${e.getMessage}"), Map.empty[String, String]) }
    }
    if (!keep) deleteTree(dest)
    RunResult(wall, cpu, stealPct, rss, problems, digests, report)
  }

  // ------------------------------------------------------------- metrics
  private type Metric = (String, Double, String)

  /** Wall-time metrics are the median of the uncontended runs or, when no
    * run was uncontended, the least contended run; memory is over all runs. */
  private def endToEnd(p: Prepared, runs: Seq[RunResult], setupS: Double, cores: Int): Seq[Metric] = {
    val quiet = runs.filter(_.stealPct <= MaxStealPct)
    val wall = median((if (quiet.nonEmpty) quiet else runs.sortBy(_.stealPct).take(1)).map(_.wallS))
    val outPx = p.expected.digests.size * p.pxPerTile
    Seq(("wall_s", wall, "s"),
      ("out_mpx_per_s", outPx / 1e6 / wall, "Mpx/s"),
      ("gb_per_s_per_core", outPx * p.bytesPerPx / 1e9 / wall / cores, "GB/s/core"),
      ("setup_s", setupS, "s"),
      ("peak_rss_mb", median(runs.map(_.peakRssMb)), "MB"))
  }

  /** Step metrics are medians over the traced runs; counts come from the
    * last one (they repeat exactly). */
  private def perLayer(p: Prepared, untraced: Seq[RunResult], traced: Seq[RunResult],
                       kernels: Map[String, Double]): Seq[Metric] = {
    val reps = traced.flatMap(r => r.trace.map(r -> _))
    def med(f: ((RunResult, StepTrace.Report)) => Double) = median(reps.map(f))
    val steps = StepTrace.Steps.flatMap { s =>
      def acc(f: StepTrace#Acc => Double) = med(r => f(r._2.steps(s).acc))
      Seq((s"$s.wall_s", med(_._2.steps(s).wallS), "s"),
        (s"$s.cpu_s", acc(_.cpuNs / 1e9), "s"),
        (s"$s.gc_s", acc(_.gcMs / 1e3), "s"),
        (s"$s.shuffle_write_mb", acc(_.shuffleWrite / 1e6), "MB"),
        (s"$s.spill_mb", acc(_.spill / 1e6), "MB"),
        (s"$s.tasks", acc(_.tasks.toDouble), "count"))
    }
    val last = reps.last._2
    val recompute =
      if (p.features.isDefined) last.parquetRows.toDouble / p.featureRows
      else {
        val sink = last.bytesByStep.getOrElse("sources.sink", 0L)
        if (sink == 0) 0.0
        else last.bytesByStep.filter(_._1 != "sources.harvest").values.sum.toDouble / sink
      }
    steps ++ Seq(
      ("plans.recompute_factor", recompute, "count"),
      ("sources.read_ops", last.opens.toDouble, "count"),
      ("sources.bytes_read_mb", last.bytesByStep.values.sum / 1e6, "MB"),
      ("operators.pixel_rows", last.pixelRows.toDouble, "count"),
      ("pixetl.driver_s", med { case (r, t) => r.wallS - t.allWallS }, "s"),
      ("trace.coverage", med { case (r, t) => t.steps.values.map(_.wallS).sum / r.wallS }, "ratio"),
      ("trace.overhead", median(traced.map(_.wallS)) / median(untraced.map(_.wallS)), "ratio")) ++
      kernels.toSeq.sortBy(_._1).map { case (k, v) =>
        (k, v, if (k.endsWith("us_per_pair")) "us" else if (k.endsWith("ns_per_pt")) "ns/pt" else "ns/px")
      }
  }

  // ----------------------------------------------------------------- json
  private def num(d: Double): String =
    java.lang.Double.toString(if (d.isNaN || d.isInfinite) 0.0 else d)
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  private def arr(xs: Seq[Double]): String = xs.map(num).mkString("[", ",", "]")
  private def metricsJson(ms: Seq[Metric]): String =
    obj(ms.map { case (n, v, u) => n -> obj(Seq("value" -> num(v), "unit" -> str(u))) })

  // ----------------------------------------------------------------- main
  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    require(Seq("raster_reproject", "vector_burn").contains(workload),
      s"unknown workload $workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    deleteTree(work)
    Files.createDirectories(work)

    var exitCode = 0
    val spark = GraftSession.local("perfbench", cores.toString)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    spark.sparkContext.hadoopConfiguration.set(s"fs.${CountingFileSystem.Scheme}.impl",
      classOf[CountingFileSystem].getName)
    try {
      // set-up: fixtures written three times (median counted), two warm-up
      // runs (the JIT still speeds the second one up markedly)
      val genS = (0 until 3).map { i =>
        val d = work.resolve(s"fixtures$i")
        val t = System.nanoTime()
        generate(spark, workload, seed, d)
        val s = (System.nanoTime() - t) / 1e9
        if (i < 2) deleteTree(d)
        s
      }
      val p0 = prepare(workload, seed, work.resolve("fixtures2"))
      val out = work.resolve("out")
      val warm = runOnce(spark, p0, out, None)
      // a resampled tile's exact pixels come from the warm-up run, accepted
      // only when it lies within tolerance of the analytic field
      val p =
        if (warm.problems.nonEmpty || p0.expected.digests.values.forall(_.nonEmpty)) p0
        else p0.copy(expected = p0.expected.copy(digests = warm.digests))

      if (args.contains("--self-test")) {
        if (!(warm.problems.isEmpty && SelfTest.run(spark, p, work.resolve("selftest")))) exitCode = 1
      } else {
        val warm2 = runOnce(spark, p, out, None)
        val setupS = sessionS + median(genS) + warm.wallS + warm2.wallS
        // closed loop until `seconds` have passed; a traced run follows
        // each untraced one
        val runs = mutable.ArrayBuffer.empty[RunResult]
        val tracedRuns = mutable.ArrayBuffer.empty[RunResult]
        val listener = new StepTrace
        val t0 = System.nanoTime()
        while (runs.size < 2 || (System.nanoTime() - t0) / 1e9 < seconds) {
          runs += runOnce(spark, p, out, None)
          if (traced) {
            spark.sparkContext.addSparkListener(listener)
            try tracedRuns += runOnce(spark, p, out, Some(listener))
            finally spark.sparkContext.removeSparkListener(listener)
          }
        }
        val all = Seq(warm, warm2) ++ runs ++ tracedRuns
        val failed = all.count(_.problems.nonEmpty)
        val ok = runs.filter(_.problems.isEmpty).toSeq
        val okTraced = tracedRuns.filter(_.problems.isEmpty).toSeq
        val (kernels, kernelCounts) =
          if (traced) Kernels.run(spark, seed, work.resolve("kernels"), Vector)
          else (Map.empty[String, Double], Map.empty[String, Double])
        val e2e = endToEnd(p, ok, setupS, cores)
        val layers = if (traced && okTraced.nonEmpty) perLayer(p, ok, okTraced, kernels) else Nil
        val record = obj(Seq(
          "workload" -> str(workload), "seed" -> seed.toString, "trace" -> traced.toString,
          "cores" -> cores.toString, "closed_loop_clients" -> "1",
          "runs_attempted" -> all.size.toString, "runs_failed" -> failed.toString,
          "failed_frac" -> num(failed.toDouble / all.size),
          "wall_s_samples" -> arr(ok.map(_.wallS)),
          "process_cpu_s_samples" -> arr(ok.map(_.cpuS)),
          // host steal over each timed run, to discount contended ones
          "steal_pct_samples" -> arr(ok.map(_.stealPct)),
          "uncontended_runs" -> ok.count(_.stealPct <= MaxStealPct).toString,
          "traced_wall_s_samples" -> arr(okTraced.map(_.wallS)),
          // per traced run: opens, bytes read, parquet rows, pixel rows (they must repeat)
          "traced_counts" -> okTraced.flatMap(_.trace).map(t =>
            arr(Seq(t.opens.toDouble, t.bytesByStep.values.sum.toDouble, t.parquetRows.toDouble,
              t.pixelRows.toDouble)))
            .mkString("[", ",", "]"),
          "setup" -> obj(Seq("session_s" -> num(sessionS), "fixture_gen_s" -> arr(genS),
            "warmup_run_s" -> arr(Seq(warm.wallS, warm2.wallS)))),
          "processed_tiles" -> p.expected.digests.size.toString,
          "out_px_per_run" -> (p.expected.digests.size * p.pxPerTile).toString,
          "baseline_gb_per_s_per_core" -> arr(Seq(0.15 / 48, 0.3 / 48)),
          "problems" -> all.flatMap(_.problems).distinct.take(10).map(str).mkString("[", ",", "]"),
          "end_to_end" -> metricsJson(e2e),
          "per_layer" -> metricsJson(layers),
          "kernel_counts_computed" -> obj(kernelCounts.toSeq.sortBy(_._1).map { case (n, v) => n -> num(v) })))
        println(obj(Seq("record" -> record)))
        println(obj(Seq(
          "correct" -> (failed == 0).toString,
          "attempted" -> all.size.toString,
          "failed" -> failed.toString,
          "metrics" -> metricsJson(if (traced) layers else e2e))))
      }
    } finally spark.stop()
    if (exitCode != 0) sys.exit(exitCode)
  }
}
