package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.core.GraftConfig
import graft.spark.{Fingerprints, Resume}
import graft.store.IcebergShaped

/** Structured Streaming extension (SURVEY §2.10): the reference is batch-only
  * (its only incremental notion is the disk cache); here the same fingerprint
  * expression and the same Iceberg-shaped store serve a streaming ingest
  * path:
  *
  *  - `fingerprintStream`: pages stream -> signature stream. The fingerprint
  *    is a stateless narrow expression, so it is trivially
  *    streaming-compatible (no state store).
  *  - `ingestToStore`: foreachBatch micro-batch sink — each batch goes
  *    through the SAME anti-join resume as the batch path, so replays and
  *    restarts are idempotent (exactly-once effect on the store without
  *    relying on sink transactions).
  *  - `hourlyArrivals`: watermarked event-time windowed aggregation over
  *    warc_ts (the streaming metrics surface).
  */
object StreamingIngest {

  /** Stateless streaming fingerprint: works on any streaming pages DataFrame
    * (rate/file/kafka source shaped to the pages schema). Case-dedup is a
    * per-batch concern and lives in the sink (needs global state). */
  def fingerprintStream(pagesStream: DataFrame, cfg: GraftConfig): DataFrame =
    pagesStream
      .select(col("url"), col("warc_ts"), col("lang"),
        graft.functions.PageFingerprint(col("html"), col("text"), cfg).as("fp"))
      .select(col("url"), col("warc_ts"), col("lang"),
        col("fp.simhash_head"), col("fp.simhash_tail"),
        col("fp.text_len"), col("fp.size"), col("fp.reject_reason"))

  /** Micro-batch ingest into the signatures store via the batch resume path
    * (its write half, [[Resume.commit]]; the live view is built by whoever
    * reads the store): new content is fingerprinted and committed as one
    * snapshot per batch that measured a new row; already-seen content_ids
    * are skipped (idempotent under replay). Each batch goes through the SAME
    * scan filter (S2) as the batch entry — without it, out-of-filter pages
    * would be fingerprinted and committed to the store forever. The default
    * trigger drains available data and stops (backfill shape); continuous
    * ingest passes e.g. `Trigger.ProcessingTime("1 minute")`. */
  def ingestToStore(pagesStream: DataFrame, store: IcebergShaped.Table,
                    cfg: GraftConfig,
                    checkpointDir: String,
                    trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    pagesStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // one persist per batch: the write half reads the batch twice (its
        // key pass and the fingerprint leaf), which would re-evaluate the source
        val scanned = graft.spark.Pipeline.scan(batch, cfg).persist()
        try { Resume.commit(scanned, store, cfg); () }
        finally { scanned.unpersist(false); () }
      }
      .start()

  /** Watermarked hourly arrival counts by lang — the streaming analog of the
    * run-summary metrics (S14/A2). */
  def hourlyArrivals(pagesStream: DataFrame, watermark: String = "2 hours"): DataFrame =
    pagesStream
      .withWatermark("warc_ts", watermark)
      .groupBy(window(col("warc_ts"), "1 hour"), col("lang"))
      .agg(count(lit(1)).as("n_pages"), sum(length(col("text"))).as("n_chars"))
}
