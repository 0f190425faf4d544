package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional trailing query names: dump only those (local iteration);
    // the driver always invokes with exactly (sfDir, outDir) = everything
    val only = args.drop(2).toSet
    SparkEntry.exitOnUnknown("verify", only)
    val spark = graft.core.GraftSession.local("verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // coalesce(1) is the VERIFICATION sink only — the driver's DuckDB
      // compare wants one parquet file per query. Production writes go
      // through the partitioned writers / BucketedStore.
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a thrown query must NOT vanish from the ledger (round 8 lost x7
        // to exactly that): write a marker row so the oracle compare runs
        // and fails LOUDLY with a visible error column
        try {
          import spark.implicits._
          Seq(s"QUERY THREW: ${e.getMessage}".take(500)).toDF("__error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case _: Throwable => () }
      } finally
        // per-query cache scope: operators pin multi-consumer intermediates
        // via Caching.shared; the write above is the consuming action, so
        // release here keeps the block manager flat across the 98 queries.
        graft.core.Caching.release(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
