package graft.operators

import graft.SparkSpec
import graft.core.Tables
import org.apache.spark.sql.functions._

/** Bucketed co-located joins — the pre-partitioning strategy for repeated
  * big⋈big joins at 100 TB (SURVEY §4 "shuffle/exchange" row): bucketing
  * both fact tables on the join key removes the exchange from every
  * subsequent join. Asserted on the physical plan, not just results. */
class BucketingSpec extends SparkSpec {

  test("join of co-bucketed tables plans without a shuffle exchange") {
    val li = Tables.lineitem(spark, sf())
    val o = Tables.orders(spark, sf())
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS o_bucketed")
    // the in-memory catalog is fresh per JVM; clear any stale table dirs
    // left by previous runs or the DROP can't see them
    Seq("li_bucketed", "o_bucketed").foreach { t =>
      val dir = new java.io.File(new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t).toUri.getPath)
      if (dir.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(dir)
      }
    }
    li.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("li_bucketed")
    o.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("o_bucketed")

    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val joined = spark.table("li_bucketed")
        .join(spark.table("o_bucketed"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").agg(sum("l_quantity").as("q"))
      val plan = joined.queryExecution.executedPlan.toString
      // the join itself must not reshuffle either bucketed side
      val joinSection = plan.split("HashAggregate").last
      assert(joinSection.contains("SortMergeJoin"), plan)
      assert(!joinSection.contains("Exchange hashpartitioning(l_orderkey"),
        s"lineitem side reshuffled:\n$plan")
      assert(!joinSection.contains("Exchange hashpartitioning(o_orderkey"),
        s"orders side reshuffled:\n$plan")
      // and results match the unbucketed join
      val expected = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").agg(sum("l_quantity").as("q"))
      assert(joined.exceptAll(expected).isEmpty && expected.exceptAll(joined).isEmpty)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("MERGE upsert over co-bucketed corpus + batch is shuffle-free") {
    // the Merge scaladoc's 100 TB claim, asserted on the plan: when the
    // corpus and the update batch share the bucket layout on the key, the
    // nightly upsert's full-outer join reshuffles NEITHER side
    val docs = Tables.documents(spark, sf()).select("doc_id", "source", "n_chars")
    val batch = docs.filter(col("doc_id") % 7 === 0)
      .withColumn("n_chars", col("n_chars") + 1)
    graft.sources.BucketedStore.writeBucketed(docs, "corpus_bucketed",
      Seq("doc_id"), buckets = 8, sortCols = Seq("doc_id"))
    graft.sources.BucketedStore.writeBucketed(batch, "batch_bucketed",
      Seq("doc_id"), buckets = 8, sortCols = Seq("doc_id"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val merged = Merge.upsert(spark.table("corpus_bucketed"),
        spark.table("batch_bucketed"), "doc_id", Seq("source", "n_chars"))
      val plan = merged.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") && plan.contains("FullOuter"), plan)
      assert(!plan.contains("Exchange hashpartitioning(doc_id"),
        s"bucketed upsert reshuffled a side:\n$plan")
      val expected = Merge.upsert(docs, batch, "doc_id", Seq("source", "n_chars"))
      assert(merged.exceptAll(expected).isEmpty && expected.exceptAll(merged).isEmpty)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
