package graft

import graft.ledger._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract: every operator of SURVEY.md §2, expressed as a
  * DataFrame query over the driver's test tables, with a DuckDB oracle.
  *
  * Query keys carry the SURVEY §2 operator ids (s1…, f1…, p1…, j1…, a1…,
  * w1…, o1…, st…, plus the beyond-reference t/d/e/m families). Column names
  * and row order match the oracle exactly (the driver sorts columns by name
  * then hashes values). All floating aggregates are rounded identically on
  * both sides. Each query is declared once, as a [[graft.ledger.QueryDef]]
  * in its family's file under `graft/ledger/`.
  */
object SparkEntry {

  /** Every ledger query, families concatenated in declaration order. */
  val ledger: Seq[QueryDef] = Seq(
    SourceQueries.all, PixelQueries.all, RasterQueries.all, TpchQueries.all,
    TextQueries.all, DedupQueries.all, EmbeddingQueries.all, GraphQueries.all,
    MediaQueries.all, StreamQueries.all, AnalyticsQueries.all).flatten
  require(ledger.map(_.id).distinct.size == ledger.size,
    s"duplicate ledger ids: ${ledger.map(_.id).diff(ledger.map(_.id).distinct)}")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("j5_join3_revenue")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    ledger.map(q => q.id -> q.body).toMap

  def oracleSql: Map[String, String] = ledger.map(q => q.id -> q.oracle).toMap

  /** Ends a ledger tool (`[tool]` in its message) with exit status 2 when
    * `names` holds an id the ledger does not declare: a typo'd name must
    * fail, not run or write nothing and pass. */
  def exitOnUnknown(tool: String, names: Iterable[String]): Unit = {
    val unknown = names.toSet -- ledger.map(_.id)
    if (unknown.nonEmpty) {
      System.err.println(s"[$tool] unknown query names: ${unknown.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
  }
}
