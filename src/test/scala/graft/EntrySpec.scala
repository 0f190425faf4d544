package graft

import java.nio.file.{Files, Paths}

/** Driver-contract smoke: entry() yields rows; the ledger declares 263
  * distinct queries, each with an oracle; all queries run at sf0.001; the
  * ledger tools reject an unknown query name. */
class EntrySpec extends SparkSpec {

  test("entry returns rows on sf0.001 (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("the ledger declares 263 distinct queries, each with an oracle") {
    val ids = SparkEntry.ledger.map(_.id)
    assert(ids.size == 263 && ids.distinct.size == 263, s"${ids.size} ids")
    val noOracle = SparkEntry.ledger.filter(_.oracle.trim.isEmpty).map(_.id)
    assert(noOracle.isEmpty, s"queries without oracle: $noOracle")
    assert(SparkEntry.queries.keySet == ids.toSet && SparkEntry.oracleSql.keySet == ids.toSet)
    val undeclared = (Bench.headline.toSet ++ Bench.sf1MinOf2) -- ids
    assert(undeclared.isEmpty, s"bench names no declared query: $undeclared")
    assert(Bench.headline.nonEmpty && Bench.sf1MinOf2.subsetOf(Bench.headline.toSet))
  }

  test("every ledger tool exits 2 on an unknown query name and writes nothing") {
    val out = Files.createTempDirectory("graft_unknown_name")
    def exit(cmd: String*): Int = new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true).redirectOutput(ProcessBuilder.Redirect.DISCARD)
      .start().waitFor()
    val jvm = Seq(Paths.get(sys.props("java.home"), "bin", "java").toString,
      "-Xmx512m", "-cp", sys.props("java.class.path"))
    val verifyOut = out.resolve("verify")
    assert(exit(jvm ++ Seq("graft.Verify", sf(), verifyOut.toString, "no_such_query"): _*) == 2)
    assert(!Files.exists(verifyOut), "Verify wrote output for an unknown name")
    assert(exit(jvm ++ Seq("graft.Explain", "no_such_query"): _*) == 2)
    assert(exit(jvm ++ Seq("graft.Bench", "no_such_query"): _*) == 2)
    Files.writeString(out.resolve("oracle_sql.json"), """{"s1_grid_seed": "SELECT 1"}""")
    assert(exit("python3", "tools/check.py", out.toString, sf(), "no_such_query") == 2)
  }

  test("all queries execute at sf0.001") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try { fn(spark, sf()).count(); None }
      catch { case e: Throwable => Some(s"$name: ${e.getMessage.linesIterator.next()}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
