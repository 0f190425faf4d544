package graft
package ledger

import graft.core.Tables
import graft.functions.PortableHash
import graft.operators.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Helpers shared by more than one query family: the driver-table
  * shorthands on the Spark side and the DuckDB token / hash pieces
  * on the oracle side. */
private[ledger] object Common {
  private[ledger] def li(s: SparkSession, d: String) = Tables.lineitem(s, d)

  /** Synthetic file-catalog footprints: rectangles derived from part —
    * stands in for the raster source manifest (layers.py:114-128). */
  private[ledger] def footprints(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d).select(
      concat(lit("file_"), col("p_partkey"), lit(".tif")).as("uri"),
      ((col("p_partkey") % 36) * 10 - 180).cast("double").as("f_left"),
      ((col("p_partkey") % 18) * 10 - 90).cast("double").as("f_bottom"),
      ((col("p_partkey") % 36) * 10 - 165).cast("double").as("f_right"),
      ((col("p_partkey") % 18) * 10 - 75).cast("double").as("f_top"))

  private[ledger] def pixels(s: SparkSession, d: String): DataFrame =
    li(s, d).select(
      (col("l_partkey") % 40).as("px"),
      (col("l_suppkey") % 10).as("py"),
      col("l_quantity").as("value"))

  /** LSH candidate cap shared by d3/d5 and their oracles: buckets larger
    * than this are degenerate (no discriminating signal) and would make
    * the within-bucket self-join O(n²) on boilerplate-heavy corpora. */
  private[ledger] val lshCap = 64

  private[ledger] val P = PortableHash.prime // 2147483647

  /** DuckDB token pipeline shared by text/dedup oracles. */
  private[ledger] val tokExpr =
    "list_filter(string_split_regex(lower(text), '\\s+'), t -> len(t) > 0)"

  private[ledger] def h(e: String) = s"CAST(('0x' || substr(md5($e), 1, 8)) AS BIGINT)"

  private[ledger] def minhashTerms(k: Int): String =
    (0 until k).map { i =>
      val (a, b) = PortableHash.perm(i)
      s"min((h * $a + $b) % $P) AS mh$i"
    }.mkString(", ")

  /** Shared BM25 CTE chain — the DuckDB twin of `TextOps.bm25` for the
    * fixed query ('spark','vector','merge'): identical float evaluation
    * order, per-term micro quantization before the per-doc sum. Feeds
    * t20 and the lexical leg of e8. */
  private[ledger] val bm25Ctes: String =
    s"""tok AS (SELECT doc_id, unnest($tokExpr) AS tok FROM documents),
       |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
       |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
       |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
       |dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
       |bm AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_terms,
       |    sum(CAST(floor(ln(1.0 + (s.n_docs - d2.df + 0.5) / (d2.df + 0.5))
       |        * t.tf * (1.2 + 1.0)
       |        / (t.tf + 1.2 * ((1.0 - 0.75) + (0.75 * l.dl) / s.avgdl))
       |        * 1e6 + 0.5) AS BIGINT)) AS score_micro
       |  FROM tf t JOIN dfq d2 USING (tok) JOIN dl l USING (doc_id) CROSS JOIN stats s
       |  WHERE t.tok IN ('spark', 'vector', 'merge')
       |  GROUP BY 1)""".stripMargin

  // stopword-argmax language id shared by t2 itself and x30's kappa
  private[ledger] val t2LangSql: String = {
      // argmax over (score, lang) with ties to the lexicographically LAST
      // lang — matching Spark's greatest() over (score, lang) structs.
      val langs = TextOps.stopwords.toSeq.sortBy(_._1)
      val scoreCols = langs.map { case (lang, words) =>
        val pat = words.mkString("\\b(", "|", ")\\b")
        s"len(regexp_extract_all(lower(text), '$pat')) AS s_$lang"
      }.mkString(", ")
      val mx = langs.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
      val pick = langs.reverse.dropRight(1)
        .map { case (l, _) => s"WHEN s_$l = mx THEN '$l'" }
        .mkString(" ")
      s"""WITH m AS (SELECT doc_id, $scoreCols FROM documents),
         |g AS (SELECT *, $mx AS mx FROM m)
         |SELECT doc_id,
         | CASE WHEN mx > 0 THEN (CASE $pick ELSE '${langs.head._1}' END) ELSE 'und' END AS lang_pred
         |FROM g ORDER BY doc_id""".stripMargin
    }
}
