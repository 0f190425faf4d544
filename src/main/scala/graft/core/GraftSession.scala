package graft.core

import org.apache.spark.sql.SparkSession

/** The one session profile: every entry point (the pixetl CLIs, Bench,
  * Verify, Explain, ScaleData, the tools and the test suites) builds its
  * session here, so the oracle ledger and the specs run the same physical
  * conf and the same `GraftExtensions` rules as production.
  *
  * Local testing runs `local[cores]` in one JVM; the same settings scale to
  * a real cluster (AQE re-plans shuffles at runtime, shuffle partitions
  * sized to cores not the 200 default, broadcast threshold left at default
  * so small dimension tables broadcast automatically).
  */
object GraftSession {

  /** Spark task threads when a caller names none: `SPARK_GRAFT_CPUS`, else
    * every core of the host. */
  def defaultCores(env: Map[String, String] = sys.env): String =
    env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)

  /** The profile's settings for `cores` task threads. */
  def settings(cores: String): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    // explicit: skewed shuffle joins split at runtime
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // physical-only: let AQE re-coalesce cached-plan output partitioning;
    // otherwise every Caching.shared pin freezes its pre-AQE partition
    // count and inflates all downstream stages (t22: 559 → 32 tasks)
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    // 8 MB advisory (not the 64 MB default): post-shuffle coalescing keeps
    // compute-heavy cached intermediates parallel on many cores, while
    // small relations still collapse to one task; clusters re-size this
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8m",
    // AQE sort-merge → shuffled-hash rewrite when every build-side
    // partition is measured under 64 MB (guide §3.1): skips both sides'
    // sorts with runtime-bounded memory — unlike preferSortMergeJoin=
    // false this never trusts planner ESTIMATES. Round-19 A/B on the
    // bench profile: sf1 q21 3.54→1.95 s / t22 5.54→2.47; sf10
    // q7 11.45→7.92 / g9 7.54→5.81. Physical-only (same results).
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "64m",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // test tables carry TIMESTAMP(NANOS) columns (events.ts)
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** The profile on a builder with no master and no extensions — for
    * callers that add their own master and memory settings (the soaks). */
  def builder(appName: String = "graft", cores: String = defaultCores()): SparkSession.Builder =
    settings(cores).foldLeft(SparkSession.builder().appName(appName)) {
      case (b, (k, v)) => b.config(k, v)
    }

  /** Local session with the graft SQL surface loaded. */
  def local(appName: String = "graft", cores: String = defaultCores()): SparkSession = {
    val s = builder(appName, cores)
      .master(s"local[$cores]")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.GeoFunctions.register(s)
    s
  }
}
