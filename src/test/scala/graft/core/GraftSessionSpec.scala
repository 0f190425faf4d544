package graft.core

import graft.SparkSpec

/** The one session profile: the specs run on exactly what the CLIs, Bench
  * and Verify run on, SQL surface and optimizer rules included. */
class GraftSessionSpec extends SparkSpec {

  test("the spec session carries the profile's settings for 4 cores") {
    assert(spark.sparkContext.master == "local[4]")
    GraftSession.settings("4").foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, k)
    }
  }

  test("graft_calc and vec_dot resolve in plain SQL with no registration call") {
    val r = spark.sql(
      "SELECT graft_calc('A * 2 + B', CAST(3 AS DOUBLE), CAST(1 AS DOUBLE)) AS c, " +
        "vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d").head()
    assert(r.getDouble(0) == 7.0 && r.getDouble(1) == 11.0)
  }

  test("a pure range join plans without a nested loop") {
    val plan = spark.sql(
      "SELECT a.id, b.id FROM " +
        "(SELECT id, timestamp_micros(id * 1000000) AS s, " +
        "timestamp_micros(id * 1000000 + 5000000) AS e FROM range(20)) a " +
        "JOIN (SELECT id, timestamp_micros(id * 500000) AS t FROM range(50)) b " +
        "ON b.t BETWEEN a.s AND a.e").queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoopJoin"), plan)
  }

  test("default cores: SPARK_GRAFT_CPUS, else every core of the host") {
    assert(GraftSession.defaultCores(Map("SPARK_GRAFT_CPUS" -> "6")) == "6")
    assert(GraftSession.defaultCores(Map.empty) ==
      Runtime.getRuntime.availableProcessors.toString)
  }
}
