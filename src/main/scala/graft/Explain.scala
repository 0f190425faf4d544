package graft

import graft.core.GraftSession

/** Plan-inspection tool: dump `.explain("formatted")` for selected queries
  * (all of Bench.headline by default) to stdout. Used to keep the plans
  * honest: pushed filters reaching the parquet scan, broadcasts on catalog
  * joins, wide WholeStageCodegen spans, no accidental shuffles. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val names = if (args.nonEmpty) args.toSeq else Bench.headline
    val spark = GraftSession.local("explain")
    // GRAFT_EXPLAIN_EXEC=1: execute the query THROUGH ITS OWN
    // QueryExecution first (toRdd + foreach — no driver collect), so the
    // printed plan is AQE's FINAL plan (isFinalPlan=true) with the runtime
    // decisions visible: AQEShuffleRead coalescing, SMJ→shuffled-hash
    // rewrites, skew splits. The default (no exec) prints the initial
    // plan, which cannot show those.
    val exec = sys.env.get("GRAFT_EXPLAIN_EXEC").contains("1")
    names.foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        println(s"\n========== $name ==========")
        val df = fn(spark, sfDir)
        if (exec) {
          spark.sparkContext.setJobDescription(s"explain-exec $name")
          df.queryExecution.toRdd.foreach(_ => ())
        }
        df.explain("formatted")
        graft.core.Caching.release(spark)
      }
    }
    spark.stop()
  }
}
