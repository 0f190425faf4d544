package graft.tools

import graft.core.{GraftSession, Tables}
import graft.streaming.StreamJob
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Micro-batch latency probe for the dedup-at-ingest ladder (st-family
  * coverage, VERDICT r19 #5): runs each streaming job over the sfDir
  * corpus split into `SPARK_GRAFT_STREAM_BATCHES` (default 10) arrival-
  * ordered micro-batches (one parquet file per trigger), under the SAME
  * session conf as production (`GraftSession.local` — so the AQE SMJ→SHJ
  * rewrite etc. apply), and prints one JSON line per job with the
  * per-batch `triggerExecution` durations from StreamingQueryProgress.
  *
  * Measurement only — no driver contract; the batch twins stay the
  * oracle-checked surface. The sink is the noop writer (§1.4 discipline:
  * full rows computed, nothing retained). */
object StreamLatency {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val nBatches = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "10").toInt
    val spark = GraftSession.local("stream-latency")
    // recentProgress keeps only the last N updates (default 100): room for
    // every data batch plus a no-data (watermark) batch after each, so the
    // medians below cover the whole run
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates",
      math.max(2 * nBatches + 1, 100).toString)
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"),
        timestamp_millis(lit(1700000000000L) + col("doc_id") * 1000).as("ts"))
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    val dir = new java.io.File("target/tmp/stream_latency").getAbsolutePath
    // one file per micro-batch, doc_id-contiguous ranges in arrival order
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    val per = (maxId + nBatches) / nBatches
    (0 until nBatches).foreach { i =>
      val stage = new java.io.File(dir, s".stage$i")
      docs.filter(col("doc_id") >= i * per && col("doc_id") < (i + 1) * per)
        .coalesce(1).write.mode("overwrite").parquet(stage.getAbsolutePath)
      val part = stage.listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        new java.io.File(dir, f"batch$i%03d.parquet").toPath)
      org.apache.commons.io.FileUtils.deleteQuietly(stage)
    }
    def stream() = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    // the probe leg's static corpus bucket store (the d10 shape)
    val corpusBuckets = graft.operators.Dedup.lshBuckets(
      graft.operators.Dedup.minhashSignatures(docs, 4), 4, 2)

    def measure(name: String, df: DataFrame): Unit = {
      val ckpt = new java.io.File(s"target/tmp/stream_latency_ckpt/$name")
      org.apache.commons.io.FileUtils.deleteQuietly(ckpt)
      val q = df.writeStream.outputMode("append").format("noop")
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
      val batches = q.recentProgress.toSeq
        .filter(_.numInputRows > 0)
        .map(p => (p.batchId,
          Option(p.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(-1L),
          p.numInputRows))
      val ds = batches.map(_._2.toDouble).sorted
      val med = if (ds.isEmpty) -1.0 else ds((ds.size - 1) / 2)
      println(s"""{"job":"$name","sf":"$sfDir","n_batches":${batches.size},""" +
        s""""batch_ms":[${batches.map(_._2).mkString(",")}],""" +
        s""""rows":[${batches.map(_._3).mkString(",")}],""" +
        f""""median_ms":$med%.0f,"max_ms":${if (ds.isEmpty) -1L else ds.last.toLong}%d}""")
      graft.core.Caching.release(spark)
    }

    measure("st_dedup_exact", StreamJob.streamingDedup(stream()))
    measure("st_curation", StreamJob.streamingCuration(stream()))
    measure("st_dedup_probe",
      StreamJob.streamingDedupProbe(stream(), corpusBuckets))
    measure("st7_neardup", StreamJob.streamingNearDup(stream()).toDF())
    spark.stop()
  }
}
