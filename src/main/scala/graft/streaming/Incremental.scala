package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.{Pipeline, Schemas}
import graft.operators.ParquetTableStore

/** Structured Streaming re-expression of the reference's incremental
  * micro-batch loop (SURVEY §2.8 T1-T6):
  *
  *  - T1 incremental micro-batch: file stream over order pages (the
  *    reference's hourly pull becomes a trigger; `Trigger.AvailableNow`
  *    reproduces force_full_load replay, T5).
  *  - T3 late-data allowance: `withWatermark("updated_at", "1 hour")` —
  *    the 1-hour overlap re-read (ref shopify_etl.py:191-198) expressed as
  *    watermarked state instead of a re-scan.
  *  - A1 stream dedup: `dropDuplicates("id")` with watermark-bounded state.
  *  - T4 effective exactly-once: at-least-once file arrival made idempotent
  *    by the keyed MERGE in foreachBatch — each micro-batch runs the batch
  *    pipeline's own sync round, [[graft.Pipeline.mergeRound]] — plus
  *    checkpointLocation offsets (T2).
  *
  * Scale: state is bounded by the watermark; the round inside foreachBatch
  * is the batch pipeline's row-level MERGE (only files holding matched
  * keys are rewritten), so a 1000-executor cluster runs it as ordinary
  * distributed micro-batches.
  */
object Incremental {

  /** Streaming source over NDJSON order pages. */
  def ordersStream(spark: SparkSession, pagesDir: String): DataFrame =
    spark.readStream
      .schema(Schemas.rawOrder)
      .option("maxFilesPerTrigger", 1) // one page per micro-batch, like one HTTP page per loop
      .json(pagesDir)

  /** Full incremental pipeline as a streaming query: watermarked stream
    * dedup, flatten, per-table keyed upsert in foreachBatch. */
  def run(spark: SparkSession, pagesDir: String, warehouse: String,
          checkpoint: String, availableNow: Boolean = true): StreamingQuery = {
    val store = new ParquetTableStore(spark, warehouse, Pipeline.AutoCompactFiles)
    // A1 dedup: WithinWatermark variant — duplicates of an id arriving
    // within the 1 h late-data window are dropped (the reference's
    // within-run first-wins), while a genuinely newer version arriving
    // after the watermark passes through to the MERGE (which is what makes
    // re-delivery idempotent). Plain dropDuplicates("id") would both keep
    // unbounded state and permanently discard later updates to an order.
    val stream = ordersStream(spark, pagesDir)
      .withColumn("updated_ts", to_timestamp(col("updated_at")))
      .withWatermark("updated_ts", "1 hour")        // T3 late-data buffer
      .dropDuplicatesWithinWatermark("id")

    val writer = stream.writeStream
      .option("checkpointLocation", checkpoint)     // T2 offsets
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // within-batch arrival order for first-wins (files can batch
        // together); an empty batch is skipped by the round's own
        // aggregate. T4 idempotent MERGE; nothing is counted afterwards
        // (the stream writes no control rows, so it reports no counts)
        Pipeline.mergeRound(store, batch.drop("updated_ts")
          .withColumn("_arrival_order", monotonically_increasing_id()))
        ()
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  /** The BATCH TWIN of [[run]] — the same lifecycle with each sync round
    * as an explicit batch: read the round's pages in arrival order,
    * first-wins dedup within the round (A1), flatten (P1-P4), keyed
    * upsert per table (T4's idempotent MERGE) — one
    * [[graft.Pipeline.mergeRound]] per round. This is exactly the
    * reference's hourly execution shape (SURVEY §3.1: fetch → dedup →
    * stage → merge, one run per trigger), so it is the oracle-gateable
    * form of the stream: q69 hashes its final warehouse against a DuckDB
    * replay, and IncrementalSpec proves the streaming query produces the
    * identical warehouse on a fixture whose batches align with rounds
    * (the q55 batch-twin trick). */
  def runBatchTwin(spark: SparkSession, rounds: Seq[String], warehouse: String): Unit = {
    val store = new ParquetTableStore(spark, warehouse, Pipeline.AutoCompactFiles)
    rounds.foreach { dir =>
      Pipeline.mergeRound(store,
        graft.sources.PagedNdjsonSource.read(spark, dir, Schemas.rawOrder))
    }
  }

  /** Streaming daily tumbling-window rollup over the events stream (A9 as a
    * *stream*: per-day counts/sums with watermark-closed windows). Batch
    * callers get the same result from SparkEntry.q09_daily_rollup. */
  def dailyRollup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("w.start").as("day"), col("event_type"),
        col("n_events"), col("total_value"))
}
