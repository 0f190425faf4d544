package graft.ledger

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One ledger query, declared once: its id, the Spark body over a test-data
  * directory, and the DuckDB SQL that must return the same rows.
  *
  * `headline` puts the query in Bench's timed headline set; `sf1MinOf2`
  * gives it a second sf1 run whose min Bench records, for queries whose
  * single sf1 draws swing too widely to compare. */
final case class QueryDef(id: String, headline: Boolean = false, sf1MinOf2: Boolean = false)(
    val body: (SparkSession, String) => DataFrame)(
    val oracle: String)
