package graft

import graft.core.{GraftSession, LayerSpec}
import graft.operators.Raster
import graft.plans.LayerJob
import org.apache.spark.sql.functions._

/** Benchmark main: runs the headline queries on SPARK_GRAFT_SF_DIR and
  * prints one JSON line {"metric":"total","value":…,"queries":{…}}.
  *
  * Three timed runs per query; `queries` reports the MEDIAN (the headline
  * number — robust to one-off GC/JIT hiccups) and `queries_min` the min
  * (what a warmed long-running cluster job would see). n=1 swings of ±3×
  * on unchanged binaries made round-2 regressions unattributable.
  */
object Bench {
  /** Headline set: one per operator family, weighted toward the shapes that
    * dominate at 100 TB (scan+agg, 3-way join, window, dedup shuffle,
    * similarity, text scoring, rasterize-style pixel agg). */
  val headline: Seq[String] = Seq(
    "q1_pricing_summary", "q5_local_supplier", "j5_join3_revenue", "j2_file_catalog_join",
    "a1_rasterize_count", "a3_band_stats", "a4_histogram",
    "w1_ordered_burn_rank", "st1_window_agg", "st2_sessionize",
    "f3_exists_antijoin", "o1_topk", "x5_asof_join",
    "t3_quality_score", "t4_fingerprint",
    "d2_minhash_sig", "d3_lsh_candidates", "d5_jaccard_pairs",
    "d6_dedup_groups", "t7_tfidf", "c1_curation_pipeline", "c2_quality_gate",
    "e1_knn_brute", "e2_knn_lsh", "e6_semantic_dedup",
    "s1_grid_seed", "m1_media_features", "r3_warp_3857",
    "r6_focal_mean", "t16_posting_lists", "g1_distance_join",
    "g4_pagerank", "t20_bm25", "x10_funnel", "a10_region_label",
    "b1_bloom_join", "q4_order_priority", "q6_forecast_revenue",
    // round-8 additions: the heaviest new TPC-H shapes (5-table join,
    // double-correlated anti/semi, nested-agg profit), the maintained-
    // stats BM25, and the mixture-balancing window
    "q7_nation_volume", "q21_waiting_supplier", "q9_product_profit",
    "t22_bm25_incremental", "t24_mixture_sample",
    // round-9 additions: the corpus-rewrite scrub, the two new iterative
    // graph ops, and the histogram quantile sketch
    "t25_span_scrub", "g7_label_prop", "g8_kcore", "x20_approx_quantile",
    "e12_kmeans_exact",
    // round-9 second batch: the frequency sketch, the second iterative
    // eigen-style graph op, subspace codebook training, and the
    // window-cumsum compaction planner
    "t29_count_min", "g9_hits", "e13_pq_train", "x22_compaction_plan",
    // round-9 third batch: the halo-exchange multi-index terrain pass,
    // sparse-frontier personalized pagerank, wedge-capped link prediction,
    // the bitmap-index overlap matrix, and native session windows
    "r12_terrain_idx", "g10_ppr", "g11_link_pred", "x26_bitmap_overlap",
    "st5_session_window",
    // round-9 fourth batch: sequence patterns (collect-and-regex shape),
    // modularity (labeling + census over one pinned edge relation)
    "x27_event_pattern", "g12_modularity",
    // round-9 batch 8/9: GNN message passing (two dst-keyed hop rounds)
    // and the real-decode perceptual-hash pass over 5000 PNGs.
    // d17_prefix_filter is deliberately NOT headline: its sf0.1 output is
    // the complete 8.9M-pair Jaccard≥0.5 set (~56 s of exact verify) —
    // gate-checked at both SFs instead
    "g13_neigh_agg", "m6_ahash",
    // round-9 batches 10–18: two-stage retrieval, DSIR scoring, the
    // rolling-distinct WAU explode, bucket-ranked gini, watershed
    // pointer doubling, and the corpus-entropy diagnostic
    "e22_rerank", "t34_importance_weights", "x39_rolling_wau",
    "x36_gini", "r16_watershed", "t35_token_entropy")

  /** The RDD-fixpoint / iterative family whose single-run sf1 numbers swing
    * ±30-100% between quiet runs (VERDICT r16 #4, COVERAGE.md caveat):
    * eager build-time fixpoint jobs dominate these, and one sample makes
    * their per-query sf1 regressions unfalsifiable. These entries get a
    * SECOND sf1 run (budget permitting); the record carries the min (what
    * a warmed cluster job sees) plus the max/min spread per entry, so a
    * reader can tell a real regression from run-to-run variance. */
  val sf1MinOf2: Set[String] = Set(
    "d5_jaccard_pairs", "d6_dedup_groups", "r16_watershed", "g9_hits",
    "g7_label_prop", "g8_kcore", "g10_ppr", "g12_modularity",
    "g4_pagerank", "g13_neigh_agg", "e12_kmeans_exact", "e13_pq_train",
    // round 19 (VERDICT r18 #1): a10 swung 4.49 → 7.21 s between r18's own
    // quiet runs — the widest observed fixpoint swinger was not in the
    // spread set; q21 is not a fixpoint but its 256-partition third-decade
    // shuffle showed the same single-draw sensitivity.
    "a10_region_label", "q21_waiting_supplier")

  /** 1-minute load average from /proc/loadavg — recorded at start and end
    * so a contention-polluted run identifies itself in the record (the
    * round-9 driver run read 87.8 s against 58.9 s quiet purely from host
    * load; without the stamp that reads as a regression). */
  private def loadavg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** (steal, total) jiffies from /proc/stat's aggregate cpu line. Loadavg
    * is BLIND to hypervisor steal: the r13 session saw a uniform 1.4×
    * slowdown at loadavg 0.44 with ~15%% of demanded cycles stolen by a
    * noisy neighbor — only the steal counter exposes it. */
  private def cpuJiffies(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat").getLines().next()
        .split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Throwable => (0L, 0L) }

  /** Deterministic single-thread spin (200M xorshift rounds), milliseconds.
    * A machine-speed normalizer for cross-round comparisons: the r13
    * session measured a UNIFORM 1.35× day-vs-night swing on an identical
    * binary with loadavg AND steal both green — per-query ratios against a
    * record from a different host state are meaningless without a
    * calibration constant to divide out. */
  private def calibSpinMs(): Double = {
    var x = 0x9E3779B97F4A7C15L
    val t0 = System.nanoTime()
    var i = 0
    while (i < 200000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (x == 42) System.err.println("") // keep the loop alive past JIT DCE
    ms
  }

  /** The first of `records` (file name, full record line), newest first,
    * that is quiet and was taken at `cpus` task threads: a contended
    * record's `quiet_record` must point at numbers comparable with its own. */
  def quietSibling(records: Seq[(String, String)], cpus: Int): Option[String] =
    records.collectFirst {
      case (name, body) if !body.contains("\"contended\":true") &&
          "\"cpus\":(\\d+)".r.findFirstMatchIn(body).exists(_.group(1).toInt == cpus) =>
        name
    }

  /** The contention predicate, extracted so a unit test can feed synthetic
    * (start, steal, calibStart, calibEnd) tuples through it (VERDICT r13 #1).
    *
    * Round 13's `loadEnd > maxLoad` term SELF-TRIGGERED: the 1-minute
    * loadavg sampled right after the bench's own 32-way run always reflects
    * the bench's own work, so every full run on a quiet host got tagged
    * contended (the driver's r13 record was quarantined at loadavg_start
    * 1.42 / steal 0.23%, both green, purely on loadavg_end 1.81) and
    * BENCH_LATEST could never legitimately update. Mid-run contention is
    * instead detected by re-running the calibration spin AFTER the last
    * query — Spark is idle by then, so the single-thread spin measures the
    * machine, not the bench: a slowed end spin (ratio > maxCalibDrift)
    * means something else was eating cycles mid-run. This also catches the
    * steal-at-low-loadavg case the calibSpinMs scaladoc documents. */
  def contendedGate(loadStart: Double, stealPct: Double,
      calibStartMs: Double, calibEndMs: Double,
      maxLoad: Double, maxSteal: Double, maxCalibDrift: Double): Boolean =
    loadStart > maxLoad || stealPct > maxSteal ||
      // SYMMETRIC drift (round 18): a START spin slower than the END spin
      // means the run BEGAN on a busy machine that went quiet mid-run —
      // the r18 case (calib 393→301 ms with loadavg_start 1.45 just under
      // the gate: the sf0.1 section and the early-query timings ran
      // contended while every gate input read green). END-slower catches
      // mid-run arrivals; START-slower catches warm starts. Either
      // direction past maxCalibDrift quarantines the record.
      (calibStartMs > 0 && calibEndMs > 0 &&
        math.max(calibEndMs / calibStartMs,
          calibStartMs / calibEndMs) > maxCalibDrift)

  /** Per-query task-metric accumulator (VERDICT r17 #5): shuffle bytes +
    * spill between reset() and snapshot(), so a decade ratio like q21's
    * 11.45x carries the evidence to distinguish "~linear, host variance"
    * from "a sort started spilling". Listener events post asynchronously;
    * snapshot() after a short drain pause is MB-accurate, which is the
    * reporting granularity. */
  final class TaskMetricsAgg extends org.apache.spark.scheduler.SparkListener {
    private var read = 0L; private var write = 0L
    private var memSpill = 0L; private var diskSpill = 0L
    private var tasks = 0L
    def reset(): Unit = synchronized {
      read = 0; write = 0; memSpill = 0; diskSpill = 0; tasks = 0 }
    override def onTaskEnd(
        te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) synchronized {
        read += m.shuffleReadMetrics.totalBytesRead
        write += m.shuffleWriteMetrics.bytesWritten
        memSpill += m.memoryBytesSpilled
        diskSpill += m.diskBytesSpilled
        tasks += 1
      }
    }
    /** (shuffle_read, shuffle_write, mem_spill, disk_spill, tasks).
      * Attribution is BEST-EFFORT per query (ADVICE r18): listener events
      * post asynchronously, so instead of one fixed sleep this polls until
      * two consecutive reads agree — a still-draining bus (straggler
      * onTaskEnd from the previous query's teardown absorbed by reset(),
      * or this query's own tail) shows up as movement between polls. Byte
      * fields are reported at MB granularity, well inside the residual. */
    def snapshot(): (Long, Long, Long, Long, Long) = {
      var prev = synchronized { (read, write, memSpill, diskSpill, tasks) }
      var tries = 0
      while (tries < 20) { // ≤ 1 s worst case; typically one round
        Thread.sleep(50)
        val cur = synchronized { (read, write, memSpill, diskSpill, tasks) }
        if (cur == prev) return cur
        prev = cur; tries += 1
      }
      prev
    }
  }

  /** Force FULL evaluation of a query's output: write to the `noop` sink.
    *
    * `df.count()` lets Catalyst prune every column that doesn't affect
    * cardinality — round 15 proved the layer pipeline's per-core MB/s had
    * been measuring shuffle bookkeeping this way, and the same trap applies
    * to any headline query whose expensive columns are cardinality-invariant
    * (m-family decode chains, p-family array outputs). The noop DSv2 sink is
    * Spark's benchmarking idiom for exactly this: the write requires the
    * full output schema (no pruning), keeps ORDER BY in the physical plan
    * (an aggregate would let EliminateSorts drop it), and its commit path
    * discards rows without serialization cost — so the timing reflects
    * materialized outputs, not bookkeeping. (VERDICT r15 ask #2.) */
  private def forceAll(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.defaultCores()
    // optional trailing query names: bench only those (local iteration);
    // the driver always invokes with no args = the full headline set.
    // Unknown names fail fast — a typo must not silently produce a smaller
    // record that reads as a 93% "speedup" (ADVICE r10).
    val only = args.toSet
    // Contention gate (ADVICE r10/r12): the r12-vs-r11 record ran an
    // IDENTICAL binary and still swung −44%..+96% per query purely from
    // host load (loadavg_start 3.97). A full run therefore WAITS for the
    // host to go quiet (≤ maxLoad) before starting, and if the wait times
    // out it still runs — the driver needs a BENCH_rN line — but tags the
    // record "contended":true and refuses to overwrite BENCH_LATEST.json,
    // so regression detection never compares against noise.
    val maxLoad = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAXLOAD", "1.5").toDouble
    val waitSecs = sys.env.getOrElse("SPARK_GRAFT_BENCH_WAIT_SECS", "600").toInt
    if (only.isEmpty) {
      var waited = 0
      while (loadavg() > maxLoad && waited < waitSecs) {
        System.err.println(f"[bench] loadavg ${loadavg()}%.2f > $maxLoad%.1f — waiting for quiet host ($waited/$waitSecs s)")
        Thread.sleep(15000); waited += 15
      }
    }
    val known = SparkEntry.queries.keySet +
      "layer_pipeline_199mpx" + "layer_pipeline_2gpx"
    val unknown = only -- known
    if (unknown.nonEmpty) {
      System.err.println(s"[bench] unknown query names: ${unknown.toSeq.sorted.mkString(", ")}")
      System.err.println(s"[bench] valid names: any SparkEntry.queries key, layer_pipeline_199mpx, or layer_pipeline_2gpx")
      sys.exit(2)
    }
    // explicit names may reach ANY ledger query (local iteration on a
    // non-headline query is the whole point of args); a no-args run is
    // exactly the headline set
    val toRun = if (only.isEmpty) headline
      else (headline ++ SparkEntry.queries.keys.filterNot(headline.contains))
        .filter(only)
    val spark = GraftSession.local("bench", cpus)
    // bench-only: 256-wide shuffles took sf10 q21 17.3 → 9.2 s (COVERAGE.md) but slow the pixetl runs
    spark.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "256")

    // warm the session: JIT the parquet reader + codegen paths once
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()

    // per-query shuffle/spill evidence for the scaling sections (r17 #5)
    val taskMetrics = new TaskMetricsAgg
    spark.sparkContext.addSparkListener(taskMetrics)
    val qMetrics = scala.collection.mutable.LinkedHashMap
      .empty[(String, String), (Long, Long, Long, Long, Long)]

    // Pipeline throughput: the full LayerJob (seed → spatial join → block
    // read → mosaic → calc → cast/fill → stats) over 2 tiles of the
    // 90/9984 grid with the synthetic reader — ~199 Mpx end to end, the
    // shape the reference's 648-tile envelope is quoted against. Counts
    // blocks AND folds stats so every stage executes.
    def layerPipeline(grid: String = "90/9984",
        subset: Seq[String] = Seq("90N_180W", "90N_090W")): (Double, Double, Double) = {
      val spec = LayerSpec(dataset = "bench", version = "v1", sourceType = "raster",
        pixelMeaning = "x", dataType = "uint16", calc = Some("A * 2 + 1"),
        grid = grid, sourceUri = Some(Seq("mem")), noData = Some(Seq(0.0)))
      val catalog = {
        import spark.implicits._
        Seq(("mem://bench.tif", 1,
          graft.functions.GeoFunctions.write(
            graft.functions.GeoFunctions.envelope(-180, -90, 180, 90))))
          .toDF("uri", "band", "footprint")
      }
      val reader: LayerJob.BlockReader = b => Raster.synthesizeBand(b.drop("band"), band = 1)
      val t0 = System.nanoTime()
      val r = LayerJob.run(spark, spec, catalog, reader,
        subset = Some(subset))
      val tb = System.nanoTime()
      r.blocks.queryExecution.executedPlan // plan = analysis + optimization
      val t1 = System.nanoTime()
      // FORCE the pixel plane: count() lets Catalyst column-prune every
      // band computation (generation, mask, calc, cast — the aggregate's
      // unused value expressions too), so a count-driven "199 Mpx" run
      // measured shuffle bookkeeping, not pixels (discovered r15 — the
      // earlier per-core MB/s figures overstate real pixel throughput).
      // size() forces each band array to materialize (computing every
      // element); the stats fold is forced by consuming its aggregates.
      r.blocks.agg(sum(size(col("band_1")))).collect()
      r.tileStats.agg(sum(col("n") + col("stat_min") + col("stat_max"))).collect()
      ((tb - t0) / 1e9, (t1 - tb) / 1e9, (System.nanoTime() - t1) / 1e9)
    }

    /** Dispersion-guarded measurement: 3 timed runs, each COLD (graft-
      * registered caches released between runs, so a run never reads a
      * predecessor's pinned intermediates — medians measure the real
      * pipeline, and round-over-round comparisons compare like with like).
      * If max/min > 3 the spread is machine contention, not the query
      * (round 6 recorded 3–5× phantom regressions from a loaded host):
      * take one extra run so the reported median sheds the outlier, and
      * report (median, min, max) so the driver can SEE the spread.
      *
      * Each run yields (build_s, plan_s, exec_s): build = DataFrame
      * construction, including any eager control-plane or RDD-fixpoint
      * jobs the query runs at build time (honest: that cost repeats every
      * submission — and for RDD-driven queries like d6 it IS the work, so
      * it gets its OWN bucket instead of polluting "plan", VERDICT r14 #4);
      * plan = analysis + optimization of the returned DataFrame; exec = the
      * counting action. The split is what located the focal family's
      * plan-constant bottleneck in round 10; now every headline query
      * records it, so a "slow" toy-SF query whose cost is all plan
      * constant identifies itself in the record. */
    def measure(once: () => (Double, Double, Double))
        : (Double, Double, Double, Double, Double, Double) = {
      def run(): (Double, Double, Double) = {
        val t = once()
        graft.core.Caching.release(spark)
        t
      }
      val first = Seq(run(), run(), run())
      def tot(t: (Double, Double, Double)) = t._1 + t._2 + t._3
      val all = (if (first.map(tot).max / first.map(tot).min > 3.0) first :+ run()
        else first).sortBy(tot)
      val med = all((all.size - 1) / 2)
      (tot(med), tot(all.head), tot(all.last), med._1, med._2, med._3)
    }
    val loadStart = loadavg()
    val (steal0, jiffies0) = cpuJiffies()
    // calibration BEFORE the timed queries (JIT-warmed by a throwaway run).
    // min-of-two, SAME estimator as calibEndMs (ADVICE r18): the symmetric
    // drift gate compares start/end, and a single-spin start vs min-of-two
    // end is biased > 1 on a quiet host — enough to spuriously quarantine
    // a clean run at the 1.2 threshold in the start-slower direction.
    val calibMs = { calibSpinMs(); math.min(calibSpinMs(), calibSpinMs()) }
    val results = toRun.flatMap { name =>
      SparkEntry.queries.get(name).map { fn =>
        name -> measure { () =>
          taskMetrics.reset()
          val t0 = System.nanoTime()
          try {
            val df = fn(spark, sfDir)
            val tb = System.nanoTime()
            df.queryExecution.executedPlan // force analysis + optimization
            val t1 = System.nanoTime()
            forceAll(df)
            val t2 = System.nanoTime()
            // sf0.1 task-count/shuffle evidence (VERDICT r18 #7): the AQE
            // audit needs per-query task counts at toy SF to verify small
            // queries coalesce under the 256-wide initial partitioning.
            // Last of the 3 runs wins (byte/task volumes agree across runs
            // of the same query; only the timings swing).
            qMetrics(("sf01", name)) = taskMetrics.snapshot()
            ((tb - t0) / 1e9, (t1 - tb) / 1e9, (t2 - t1) / 1e9)
          } catch { case e: Throwable =>
            // record REAL elapsed-to-failure: a sentinel like -1 would
            // SUBTRACT from the headline total and read as a speedup —
            // the exact failure mode the partial-run guard exists for
            System.err.println(s"[bench] $name: $e")
            ((System.nanoTime() - t0) / 1e9, 0.0, 0.0)
          }
        }
      }
    } ++ (if (only.isEmpty || only("layer_pipeline_199mpx"))
      Seq("layer_pipeline_199mpx" -> measure(() => layerPipeline())) else Nil)
    def render(f: ((String, (Double, Double, Double, Double, Double, Double))) => Double): String =
      results.map { case kv @ (k, _) => "\"" + k + "\":" + f"${f(kv)}%.3f" }
        .mkString("{", ",", "}")
    val qs = render(_._2._1)
    val qsMin = render(_._2._2)
    val qsMax = render(_._2._3)
    val qsBuild = render(_._2._4)
    val qsPlan = render(_._2._5)
    val qsExec = render(_._2._6)
    val total = results.map(_._2._1).sum
    val loadEnd = loadavg()
    val (steal1, jiffies1) = cpuJiffies()
    // share of ALL cpu time the hypervisor stole across the run — the
    // contention axis loadavg cannot see (steal shows up only under load,
    // and a stolen-cycle run is uniformly slower with a quiet loadavg)
    val stealPct =
      if (jiffies1 > jiffies0) 100.0 * (steal1 - steal0) / (jiffies1 - jiffies0)
      else 0.0
    val maxSteal = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAXSTEAL", "2.0").toDouble
    val maxCalibDrift = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAXDRIFT", "1.2").toDouble
    // post-run calibration spin: Spark is idle now, so a slowed spin vs the
    // pre-run constant exposes MID-RUN contention without the self-trigger
    // of sampling loadavg right after our own 32-way work (VERDICT r13 #1).
    // min of two spins = "how fast can this machine go right now".
    val calibEndMs = math.min(calibSpinMs(), calibSpinMs())

    // sf1 section (VERDICT r13 #3): one decade up, where exec dominates the
    // plan constants that are ≥80% of the most expensive sf0.1 entries and
    // the 2× throughput gate is tested where it matters. The dataset is
    // ScaleData's key-shifted 10× replication of the driver's sf0.1 (built
    // once, cached under .benchdata/sf1 — join fan-outs and distinct-key
    // counts scale exactly 10×, dims stay fixed). ONE timed run per query —
    // the sf0.1 medians keep the round-over-round continuity role; sf1 is
    // the scaling evidence — bounded by a wall budget so the driver's
    // per-round invocation stays safe; queries past the budget are recorded
    // in sf1_skipped, never silently dropped. Runs AFTER the post-run
    // calibration spin so the sf0.1 contention verdict is unaffected.
    // layer_pipeline is excluded (synthetic raster — SF-independent).
    val sf1Budget = sys.env.getOrElse("SPARK_GRAFT_SF1_BUDGET_SECS", "600").toDouble
    val sf1Enabled = only.isEmpty &&
      !sys.env.get("SPARK_GRAFT_SF1").contains("off")
    // per-SECTION contention stamps (VERDICT r15 #7): the sf0.1 stamps above
    // close BEFORE sf1 starts, so a half-contended run (quiet sf0.1, noisy
    // sf1 or vice versa) can no longer hide inside a passing run-wide gate —
    // each section carries its own loadavg window and steal delta.
    val sf1LoadStart = if (sf1Enabled) loadavg() else -1.0
    val (sf1Steal0, sf1Jiffies0) = cpuJiffies()
    /** One timed (build, plan, exec) run of a ledger query against `dir`,
      * cache-released afterwards; None on failure (shared by the sf1 and
      * sf10 sections — a failed query never masquerades as a timing). */
    def timedOne(dir: String, name: String, section: String = ""): Option[(Double, Double, Double)] =
      try {
        taskMetrics.reset()
        val q0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, dir)
        val qb = System.nanoTime()
        df.queryExecution.executedPlan
        val q1 = System.nanoTime()
        forceAll(df)
        val t = ((qb - q0) / 1e9, (q1 - qb) / 1e9, (System.nanoTime() - q1) / 1e9)
        // shuffle/spill snapshot per (section, query) — for min-of-2
        // entries the LAST run's bytes land in the record (the byte
        // volumes of two same-query runs agree; only the timings swing)
        if (section.nonEmpty) qMetrics((section, name)) = taskMetrics.snapshot()
        Some(t)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $dir $name FAILED: $e"); None
      } finally graft.core.Caching.release(spark)
    def tot3(t: (Double, Double, Double)): Double = t._1 + t._2 + t._3
    val sf1Spread = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val (sf1Results, sf1Skipped, sf1Failed) = if (!sf1Enabled) (Nil, Nil, Nil) else {
      // derive sf1 from the SAME source dir this run benches (ADVICE r14:
      // a hardcoded DefaultFrom silently ignored SPARK_GRAFT_SF_DIR, and a
      // stale .benchdata/sf1 built from different source data was reused)
      val sf1Dir = try ScaleData.ensure(spark, from = sfDir)
        catch { case e: Throwable =>
          System.err.println(s"[bench] sf1 build failed: $e"); null }
      if (sf1Dir == null) (Nil, Seq("<build-failed>"), Nil) else {
        val t0 = System.nanoTime()
        val names = headline.filter(SparkEntry.queries.contains)
        val done = scala.collection.mutable.ArrayBuffer.empty[(String, (Double, Double, Double))]
        val skipped = scala.collection.mutable.ArrayBuffer.empty[String]
        val failed = scala.collection.mutable.ArrayBuffer.empty[String]
        def withinBudget = (System.nanoTime() - t0) / 1e9 <= sf1Budget
        names.foreach { name =>
          if (!withinBudget) skipped += name
          else timedOne(sf1Dir, name, "sf1") match {
            // a failed query must not masquerade as a timing (ADVICE r14
            // medium: it corrupted the scaling evidence) — record it in
            // its own list, excluded from sf1_queries/sf1_total/sf1_n
            case None => failed += name
            case Some(t1) =>
              // min-of-2 for the high-variance fixpoint family (VERDICT
              // r16 #3): record the better run and the max/min spread
              val best =
                if (sf1MinOf2(name) && withinBudget) timedOne(sf1Dir, name, "sf1") match {
                  case Some(t2) =>
                    sf1Spread(name) = math.max(tot3(t1), tot3(t2)) /
                      math.max(1e-9, math.min(tot3(t1), tot3(t2)))
                    if (tot3(t2) < tot3(t1)) t2 else t1
                  case None => t1
                } else t1
              done += name -> best
          }
        }
        (done.toSeq, skipped.toSeq, failed.toSeq)
      }
    }
    val sf1LoadEnd = if (sf1Enabled) loadavg() else -1.0
    val (sf1Steal1, sf1Jiffies1) = cpuJiffies()
    val sf1StealPct =
      if (sf1Jiffies1 > sf1Jiffies0)
        100.0 * (sf1Steal1 - sf1Steal0) / (sf1Jiffies1 - sf1Jiffies0)
      else 0.0
    // sf10 section (VERDICT r16 #7): opt-in (SPARK_GRAFT_SF10=on) third
    // decade of scaling evidence over the 10 most expensive sf1 entries of
    // THIS run — the curve that only bends at the third decade (e6's
    // fixed-bits quadratic would have) shows up here a round earlier. The
    // dataset is ScaleData's 100-copy derivation of the same source dir
    // (distinct affine ciphers / reversal-decorrelated embeddings, so dup
    // and candidate structure scales linearly like the corpus). One timed
    // run per query, budget-guarded, own contention stamps.
    val sf10Enabled = sf1Enabled && sf1Results.nonEmpty &&
      sys.env.get("SPARK_GRAFT_SF10").contains("on")
    val sf10Budget = sys.env.getOrElse("SPARK_GRAFT_SF10_BUDGET_SECS", "1800").toDouble
    val sf10LoadStart = if (sf10Enabled) loadavg() else -1.0
    val (sf10Steal0, sf10Jiffies0) = cpuJiffies()
    val (sf10Results, sf10Skipped, sf10Failed) = if (!sf10Enabled) (Nil, Nil, Nil) else {
      val sf10Dir = try ScaleData.ensure(spark, from = sfDir,
          to = ScaleData.Sf10To, copies = ScaleData.Sf10Copies)
        catch { case e: Throwable =>
          System.err.println(s"[bench] sf10 build failed: $e"); null }
      if (sf10Dir == null) (Nil, Seq("<build-failed>"), Nil) else {
        val names = sf1Results.sortBy { case (_, t) => -tot3(t) }.take(10).map(_._1)
        val t0 = System.nanoTime()
        val done = scala.collection.mutable.ArrayBuffer.empty[(String, (Double, Double, Double))]
        val skipped = scala.collection.mutable.ArrayBuffer.empty[String]
        val failed = scala.collection.mutable.ArrayBuffer.empty[String]
        names.foreach { name =>
          if ((System.nanoTime() - t0) / 1e9 > sf10Budget) skipped += name
          else timedOne(sf10Dir, name, "sf10") match {
            case Some(t) => done += name -> t
            case None => failed += name
          }
        }
        (done.toSeq, skipped.toSeq, failed.toSeq)
      }
    }
    val sf10LoadEnd = if (sf10Enabled) loadavg() else -1.0
    val (sf10Steal1, sf10Jiffies1) = cpuJiffies()
    val sf10StealPct =
      if (sf10Jiffies1 > sf10Jiffies0)
        100.0 * (sf10Steal1 - sf10Steal0) / (sf10Jiffies1 - sf10Jiffies0)
      else 0.0

    // 2-Gpx pipeline decade leg (VERDICT r17 #7): the baseline-parity
    // claim rests on the 199-Mpx forced pipeline; this leg runs the SAME
    // pipeline at ~11x the pixels — 3 tiles of the 90/27008 grid =
    // 2,188 Mpx — so the Mpx/s/core figure gets its own scale curve (flat
    // within ~1.3x = the map phase really is linear). CANONICAL since
    // round 19 (VERDICT r18 #5): every full run records it — the decade
    // curve (3.04 → 4.79 Mpx/s/core in r18) is the repo's strongest
    // baseline evidence and must not live behind an opt-in flag. Costs
    // ~45 s per full run; SPARK_GRAFT_PIPE2G=off opts out.
    val pipe2gEnabled = only("layer_pipeline_2gpx") ||
      (only.isEmpty && !sys.env.get("SPARK_GRAFT_PIPE2G").contains("off"))
    val pipe2g = if (!pipe2gEnabled) None else Some(measure(() =>
      layerPipeline("90/27008", Seq("90N_180W", "90N_090W", "00N_180W"))))

    val sf1Total = sf1Results.map { case (_, (b, p, e)) => b + p + e }.sum
    def sf1Render(f: ((Double, Double, Double)) => Double): String =
      sf1Results.map { case (k, t) => "\"" + k + "\":" + f"${f(t)}%.3f" }
        .mkString("{", ",", "}")
    def sf1List(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val sf1SpreadJson = sf1Spread
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.2f" }.mkString("{", ",", "}")
    val sf1Tag = if (!sf1Enabled) "" else
      f""","sf1_total":$sf1Total%.3f,"sf1_n":${sf1Results.size},"sf1_skipped":${sf1List(sf1Skipped)},"sf1_failed":${sf1List(sf1Failed)},"sf1_loadavg_start":$sf1LoadStart%.2f,"sf1_loadavg_end":$sf1LoadEnd%.2f,"sf1_steal_pct":$sf1StealPct%.2f"""
    val sf1Full = if (!sf1Enabled) "" else
      s"""$sf1Tag,"sf1_queries":${sf1Render(t => t._1 + t._2 + t._3)},"sf1_queries_build":${sf1Render(_._1)},"sf1_queries_plan":${sf1Render(_._2)},"sf1_queries_exec":${sf1Render(_._3)},"sf1_spread":$sf1SpreadJson"""
    val sf10Total = sf10Results.map { case (_, t) => tot3(t) }.sum
    def sf10Render(f: ((Double, Double, Double)) => Double): String =
      sf10Results.map { case (k, t) => "\"" + k + "\":" + f"${f(t)}%.3f" }
        .mkString("{", ",", "}")
    // per-query sf10/sf1 total ratio: 10× data, so ~10 ≈ linear scaling
    val sf1ByName = sf1Results.toMap
    val sf10RatioJson = sf10Results.map { case (k, t) =>
      val r = sf1ByName.get(k).map(s => tot3(t) / math.max(1e-9, tot3(s)))
      "\"" + k + "\":" + f"${r.getOrElse(-1.0)}%.2f"
    }.mkString("{", ",", "}")
    def metricsJson(section: String, names: Seq[String]): String =
      names.flatMap(n => qMetrics.get((section, n)).map { case (r, w, ms, ds, tk) =>
        "\"" + n + "\":" +
          f"""{"shuffle_read_mb":${r / 1e6}%.1f,"shuffle_write_mb":${w / 1e6}%.1f,"mem_spill_mb":${ms / 1e6}%.1f,"disk_spill_mb":${ds / 1e6}%.1f,"tasks":$tk%d}"""
      }).mkString("{", ",", "}")
    val nCores = cpus.toInt
    val pipe2gTag = pipe2g.map { case (tot, _, _, b, pl, ex) =>
      val mpx2g = 3.0 * 27008L * 27008L / 1e6
      val mpx199 = 2.0 * 9984L * 9984L / 1e6
      val p199 = results.toMap.get("layer_pipeline_199mpx")
      f""","pipe2g_total":$tot%.3f,"pipe2g_build":$b%.3f,"pipe2g_plan":$pl%.3f,"pipe2g_exec":$ex%.3f,"pipe2g_mpx":$mpx2g%.1f,"pipe2g_mpx_per_core_exec":${mpx2g / ex / nCores}%.2f""" +
        p199.map(t => f""","pipe199_mpx_per_core_exec":${mpx199 / t._6 / nCores}%.2f""").getOrElse("")
    }.getOrElse("")
    val sf10Tag = if (!sf10Enabled) "" else
      f""","sf10_total":$sf10Total%.3f,"sf10_n":${sf10Results.size},"sf10_skipped":${sf1List(sf10Skipped)},"sf10_failed":${sf1List(sf10Failed)},"sf10_loadavg_start":$sf10LoadStart%.2f,"sf10_loadavg_end":$sf10LoadEnd%.2f,"sf10_steal_pct":$sf10StealPct%.2f"""
    val sf10Names = sf10Results.map(_._1)
    val sf10Full = if (!sf10Enabled) "" else
      s"""$sf10Tag,"sf10_queries":${sf10Render(tot3)},"sf10_queries_build":${sf10Render(_._1)},"sf10_queries_plan":${sf10Render(_._2)},"sf10_queries_exec":${sf10Render(_._3)},"sf10_ratio_vs_sf1":$sf10RatioJson,"sf10_shuffle":${metricsJson("sf10", sf10Names)},"sf1_shuffle":${metricsJson("sf1", sf10Names)}"""
    // sf0.1 per-query task counts + shuffle bytes, full record only (the
    // AQE audit evidence — VERDICT r18 #7): whether small queries coalesce
    // to few tasks under the 256-wide initial partitioning is now readable
    // off every round's BENCH_FULL, not a one-off claim.
    val sf01Shuffle =
      s""","sf01_shuffle":${metricsJson("sf01", results.map(_._1))}"""
    // Filtered (partial) runs are a different artifact class: they go to
    // BENCH_PARTIAL.json, carry "partial":true + the filter list, and NEVER
    // overwrite the headline record — a 3-query iteration run must not read
    // as a 93% total drop across rounds (ADVICE r10).
    // Per-SECTION steal also gates the canonical-record update (round 19):
    // the run-wide gate samples the sf0.1 window only, and the r19 host's
    // INTERMITTENT steal bursts produced a run whose sf0.1 passed at 1.17%
    // while its sf1/sf10 sections ran at ~11% — that record overwrote
    // BENCH_LATEST and would have poisoned the next round's regression
    // diff exactly the way ADVICE r12 described for the run-wide case.
    // The stamps already exist; now they bite.
    val contendedSections = Seq(
      "sf1" -> (sf1Enabled, sf1StealPct),
      "sf10" -> (sf10Enabled, sf10StealPct)).collect {
        case (n, (true, s)) if s > maxSteal => n }
    val contended = only.isEmpty &&
      (contendedGate(loadStart, stealPct, calibMs, calibEndMs,
        maxLoad, maxSteal, maxCalibDrift) || contendedSections.nonEmpty)
    // Contended-record redirect (VERDICT r16 #8): the driver archives
    // whatever this run produces as BENCH_rN, so a contended canonical
    // record is a standing trap for round-over-round tooling (r16's
    // BENCH_r16.json was diffed at face value). Stamp a contended record
    // with the path of the newest QUIET full sibling so any reader can
    // machine-route itself to comparable numbers.
    val quietRecordTag = if (!contended) "" else
      (try {
        import scala.jdk.CollectionConverters._
        // Files.list streams hold a directory fd until closed (its javadoc
        // mandates try-with-resources) — ADVICE r17
        val ls = java.nio.file.Files.list(java.nio.file.Paths.get("."))
        try {
          quietSibling(ls.iterator().asScala
            .filter(_.getFileName.toString.matches("BENCH_FULL_r\\d+(-\\d+)?\\.json"))
            .toSeq
            .sortBy(p => -java.nio.file.Files.getLastModifiedTime(p).toMillis)
            .map(p => p.getFileName.toString ->
              new String(java.nio.file.Files.readAllBytes(p), "UTF-8")), nCores)
            .map(n => s""","quiet_record":"$n"""")
            .getOrElse("")
        } finally ls.close()
      } catch { case _: Throwable => "" })
    val partialTag =
      (if (contended) ""","contended":true""" + quietRecordTag +
        (if (contendedSections.nonEmpty)
          s""","contended_sections":${sf1List(contendedSections)}""" else "")
       else "") +
      (if (only.isEmpty) ""
       else s""","partial":true,"filter":[${only.toSeq.sorted.map("\"" + _ + "\"").mkString(",")}]""")
    val full =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","cpus":$nCores%d,"loadavg_start":$loadStart%.2f,"loadavg_end":$loadEnd%.2f,"steal_pct":$stealPct%.2f,"calib_spin_ms":$calibMs%.1f,"calib_spin_end_ms":$calibEndMs%.1f$partialTag,"queries":$qs,"queries_min":$qsMin,"queries_max":$qsMax,"queries_build":$qsBuild,"queries_plan":$qsPlan,"queries_exec":$qsExec$sf01Shuffle$sf1Full$sf10Full$pipe2gTag,"sf":"$sfDir"}"""
    // The driver tails stdout with a ~3 KB byte cap; rounds 7 AND 8 lost the
    // head of the full (min/max-bearing) line to that cap even with the
    // file fallback. Keep the full record in BENCH_LATEST.json, but print a
    // COMPACT medians-only line to stdout — ~1.5 KB, which survives the tail
    // cap together with sbt's trailing [success] line.
    val compact =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","cpus":$nCores%d,"loadavg_start":$loadStart%.2f,"loadavg_end":$loadEnd%.2f,"steal_pct":$stealPct%.2f,"calib_spin_ms":$calibMs%.1f,"calib_spin_end_ms":$calibEndMs%.1f$partialTag$sf1Tag$sf10Tag$pipe2gTag,"queries":$qs,"sf":"$sfDir"}"""
    // a contended full run must NOT become the canonical baseline: r12's
    // contended record overwrote BENCH_LATEST and poisoned a round of
    // regression detection (ADVICE r12 medium)
    val outFile =
      if (!only.isEmpty) "BENCH_PARTIAL.json"
      else if (contended) { System.err.println(
        f"[bench] loadavg_start $loadStart%.2f > $maxLoad%.1f or steal $stealPct%.1f%% > $maxSteal%.1f%% or calib drift ${calibEndMs / math.max(calibMs, 1e-9)}%.2f > $maxCalibDrift%.2f or section steal (${contendedSections.mkString(",")}): contended record goes to BENCH_CONTENDED.json, BENCH_LATEST.json untouched")
        "BENCH_CONTENDED.json" }
      // the canonical record is the 32-core profile: a QUIET low-core
      // scaling arm must not become the regression baseline (round 20: an
      // 8-core quiet run silently overwrote BENCH_LATEST; its per-query
      // numbers read as phantom regressions at the default profile).
      // "cpus" is now in every record so readers can tell the arms apart.
      else if (nCores != 32) { System.err.println(
        s"[bench] cpus=$nCores != 32: quiet scaling-arm record goes to BENCH_SCALING.json, BENCH_LATEST.json untouched")
        "BENCH_SCALING.json" }
      else "BENCH_LATEST.json"
    def writeLine(path: String): Unit =
      try java.nio.file.Files.write(java.nio.file.Paths.get(path),
        (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case e: Throwable => System.err.println(s"[bench] file write $path: $e") }
    writeLine(outFile)
    // Self-archive the FULL record per round: the driver's per-round parser
    // keeps only the stdout medians map (ADVICE r12-low, still true of
    // BENCH_r13.json), losing the min/max/plan/exec split that plan audits
    // need. Round stamping: the driver's round-end sequence writes
    // CORRECTNESS_rN minutes before it runs bench, so a FRESH latest
    // CORRECTNESS file (<30 min) means this bench run belongs to the SAME
    // round N; a stale one means a mid-round local run of round N+1. (The
    // old unconditional max+1 stamped the driver's r14 run as r15 —
    // VERDICT r14 minor.) Full runs only — a partial iteration run must
    // not stamp a round archive.
    if (only.isEmpty) {
      val round = try {
        import scala.jdk.CollectionConverters._
        // same try/finally as the quietRecordTag site above — Files.list
        // holds a directory fd until closed (ADVICE r17; this second site
        // was the half of the fix VERDICT r18 flagged)
        val rls = java.nio.file.Files.list(java.nio.file.Paths.get("."))
        val rs = try {
          rls.iterator().asScala
            .map(_.getFileName.toString)
            .collect { case s if s.matches("CORRECTNESS_r\\d+\\.json") =>
              s.stripPrefix("CORRECTNESS_r").stripSuffix(".json").toInt }
            .toSeq
        } finally rls.close()
        if (rs.isEmpty) 1 else {
          val latest = java.nio.file.Paths.get(f"CORRECTNESS_r${rs.max}%d.json")
          val ageMin = (System.currentTimeMillis() -
            java.nio.file.Files.getLastModifiedTime(latest).toMillis) / 60000.0
          if (ageMin < 30.0) rs.max else rs.max + 1
        }
      } catch { case _: Throwable => 0 }
      // NEVER clobber an existing round archive (ADVICE r15 medium): the
      // <30-min freshness heuristic above is only a guess, and a manual
      // full run started inside the driver's round-end window would
      // otherwise silently overwrite the driver's canonical BENCH_FULL_rN.
      // If the unsuffixed name is taken, write the first free suffixed
      // sibling (BENCH_FULL_rN-1.json, -2, …) instead.
      val base = f"BENCH_FULL_r$round%02d"
      val target = Iterator.single(s"$base.json") ++
        Iterator.from(1).map(i => s"$base-$i.json")
      writeLine(target.find(p => !java.nio.file.Files.exists(
        java.nio.file.Paths.get(p))).get)
    }
    println(compact)
    spark.stop()
  }
}
