package graft.streaming

import graft.{Incremental, Pipeline}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Continuous dedup ingest — the Structured-Streaming composition of the
 * incremental machinery (beyond the reference, which only micro-batches
 * UI updates, scanner.rs:2349-2421/T2-T4): a stream of input-hint image
 * rows merges into the corpus state micro-batch by micro-batch.
 *
 * Exactly-once state evolution comes from layering two idempotence
 * mechanisms that already exist:
 *  - the sink checkpoint replays a failed batch with the SAME batch id;
 *  - `Incremental.run` keyed by `batch_<id>` deltaWork resumes committed
 *    stages and re-commits its state version idempotently (owner-stamped
 *    markers).
 * So a crash anywhere leaves the corpus state at version k, and the
 * replayed batch either completes version k+1 or re-observes it — never
 * double-merges.
 *
 * Each batch is delta-proportional (MOR state, affected-component CC) —
 * this is the 10¹²-corpus "daily ingest" loop as a standing query.
 */
object StreamingIngest {

  /** Start the ingest query. `stream` must be a streaming DataFrame with
    * the input_hint schema (default micro-batch trigger; drive batches in
    * tests with MemoryStream.addData + processAllAvailable). */
  def start(spark: SparkSession, stream: DataFrame, corpusWork: String,
            ingestWork: String,
            threshold: Int = -1,
            registryPath: Option[String] = None,
            algorithm: String = "pdq",
            contentStar: Boolean = false): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$ingestWork/_stream_ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        // empty batches must not mint empty state versions
        if (batch.limit(1).count() > 0) {
          Incremental.run(spark, batch.toDF(), corpusWork,
            s"$ingestWork/batch_$id", threshold, registryPath = registryPath,
            fullOutput = false, algorithm = algorithm,
            contentStar = contentStar)
          ()
        }
      }
      .start()
}
