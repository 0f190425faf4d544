package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The range-join optimizer rule: a pure "point in interval" join must
  * rewrite to a binned equi-join (no nested loop) and return exactly the
  * naive join's rows. The session carries the rule (`GraftExtensions`), so
  * the naive reference runs with it excluded. */
class RangeJoinBinningSpec extends SparkSpec {
  import spark.implicits._

  private def ts(base: Long) = expr(s"timestamp_micros(${base}L)")

  // 40 intervals of varying width and 400 points, spread over ~6 hours
  private lazy val intervals = spark.range(40).select(
    col("id").as("iv_id"),
    expr("timestamp_micros(id * 500000000)").as("w_start"),            // every ~8.3 min
    expr("timestamp_micros(id * 500000000 + (id % 5 + 1) * 1800000000)").as("w_end")) // 30-150 min
  private lazy val points = spark.range(400).select(
    col("id").as("p_id"),
    expr("timestamp_micros(id * 60000000)").as("ts"))                  // every minute

  /** Run `body` with the rewrite switched off: the rule-free reference. */
  private def withoutRule[T](body: => T): T = {
    val key = "spark.sql.optimizer.excludedRules"
    spark.conf.set(key, RangeJoinBinning.ruleName)
    try body finally spark.conf.unset(key)
  }

  private def pairs(df: DataFrame): Array[(Long, Long)] =
    df.select("iv_id", "p_id").collect().map(r => (r.getLong(0), r.getLong(1)))

  test("the rewrite is on by default and off when the rule is excluded") {
    def join = intervals.join(points,
      col("ts") >= col("w_start") && col("ts") < col("w_end"))
    val plan = join.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoopJoin") && plan.contains("Generate"), plan)
    val naivePlan = withoutRule(join.queryExecution.executedPlan.toString)
    assert(naivePlan.contains("NestedLoopJoin"), naivePlan)
  }

  test("pure range join rewrites to a binned equi-join with identical rows") {
    def join = intervals.join(points,
      col("ts") >= col("w_start") && col("ts") < col("w_end"))
    val naive = withoutRule(pairs(join)).toSet
    assert(naive.nonEmpty)

    val joined = join
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoopJoin"), plan)
    assert(plan.contains("Generate"), plan)
    val got = pairs(joined)
    assert(got.length == got.toSet.size, "rewrite must not duplicate pairs")
    assert(got.toSet == naive)
  }

  test("reversed operand order and closed bounds also rewrite") {
    val joined = points.join(intervals,
      col("w_start") <= col("ts") && col("ts") <= col("w_end"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoopJoin"), plan)
    val naive = withoutRule(pairs(points.join(intervals,
      col("ts") >= col("w_start") && col("ts") <= col("w_end"))).toSet)
    assert(pairs(joined).toSet == naive && naive.nonEmpty)
  }

  test("plain SQL BETWEEN-shaped joins rewrite too") {
    intervals.createOrReplaceTempView("iv")
    points.createOrReplaceTempView("pt")
    def join = spark.sql(
      "SELECT iv_id, p_id FROM iv JOIN pt ON pt.ts BETWEEN iv.w_start AND iv.w_end")
    val joined = join
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoopJoin"), plan)
    assert(plan.contains("Generate"), plan)
    val naive = withoutRule(pairs(join).toSet)
    assert(pairs(joined).toSet == naive && naive.nonEmpty)
  }

  test("joins with an existing equi key are left alone") {
    val iv = intervals.withColumn("k", col("iv_id") % 3)
    val pt = points.withColumn("k", col("p_id") % 3)
    val joined = iv.join(pt,
      iv("k") === pt("k") && col("ts") >= col("w_start") && col("ts") < col("w_end"))
    assert(!joined.queryExecution.executedPlan.toString.contains("Generate"))
    assert(joined.count() > 0)
  }

  test("malformed intervals (end before start) produce no rows, no junk bins") {
    val bad = Seq((1L)).toDF("iv_id").select(col("iv_id"),
      ts(7200000000L).as("w_start"), ts(0L).as("w_end"))
    val joined = bad.join(points,
      col("ts") >= col("w_start") && col("ts") < col("w_end"))
    assert(!joined.queryExecution.executedPlan.toString.contains("NestedLoopJoin"))
    assert(joined.count() == 0)
  }
}
