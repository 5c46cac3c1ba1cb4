package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Schemas._
import graft.operators.{Decode, Detector}

/**
 * Optional Structured Streaming ingestion mode (SURVEY.md §2.10): the
 * reference's serving path is stateless request-at-a-time Flask
 * (src/prod.py:220-243); the streaming analog reads appended transcript
 * batches and runs the SAME narrow extraction core — detect -> decode ->
 * dedup -> triples are all per-row, so they lift to streaming unchanged
 * (no stateful operators required; the north rule handles resumability
 * via batch checkpoints instead).
 *
 * Late/duplicate data: watermark on `ts` + dropDuplicatesWithinWatermark
 * on (conv_id, turn_idx) — the per-turn idempotency key. The
 * within-watermark form matters at scale: plain streaming dropDuplicates
 * only evicts state when the event-time column is PART of the key, so
 * keying on (conv_id, turn_idx) alone would grow one state entry per
 * turn ever seen — unbounded on a 10^12-turn stream. Within-watermark
 * dedup evicts each key once the watermark passes it, bounding state by
 * the watermark horizon (duplicates are expected from source retries,
 * which arrive well inside it).
 */
object StreamingIngest {

  /** streaming turns -> streaming triples (append mode). The extraction
    * runs the SAME fused hot path as batch ([[graft.Pipeline.extractTurn]])
    * so stream==batch equivalence holds by construction. */
  def tripleStream(spark: SparkSession, turns: Dataset[Turn],
      watermark: String = "10 minutes"): Dataset[Triple] = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(Detector.buildModel())
    turns
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("conv_id", "turn_idx")
      .select(col("conv_id"), col("turn_idx"), col("role"), col("text"))
      .as[(String, Int, String, String)]
      .mapPartitions { it =>
        val model = bc.value
        it.flatMap { case (c, i, r, x) =>
          graft.Pipeline.extractTurn(model, c, i, r, x)
        }
      }
  }

  /** File-source convenience: watch a directory of turn parquet files. */
  def fromParquetDir(spark: SparkSession, path: String): Dataset[Turn] = {
    import spark.implicits._
    spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[Turn].schema)
      .parquet(path)
      .as[Turn]
  }

  /**
   * Watermarked windowed aggregation: mention counts per tag per event-time
   * window — the classic streaming-agg shape (late rows beyond the
   * watermark are dropped; state is bounded by watermark eviction).
   *
   * The watermark is attached to `turns.ts` BEFORE extraction and the `ts`
   * column flows through the (columnar) extraction untouched, so EVERY
   * arriving turn advances it — a mention-free batch still closes elapsed
   * windows. (The earlier form watermarked the post-extraction mention
   * rows; a strictly mention-free stream then held windows open. Keeping
   * the watermarked column alive requires extraction as a generator
   * expression over `text` rather than a typed mapPartitions — a typed map
   * re-creates every attribute via the encoder and drops the event-time
   * tag.)
   */
  def windowedMentionCounts(spark: SparkSession, turns: Dataset[Turn],
      windowDur: String = "10 minutes",
      watermark: String = "10 minutes"): org.apache.spark.sql.DataFrame = {
    val bc = spark.sparkContext.broadcast(Detector.buildModel())
    val tagsOf = udf { (text: String) =>
      // the per-turn kernel Pipeline.extractTurn runs; me-substitution
      // rewrites entity text only, so the tags need no speaker
      Decode.turnEntities(bc.value, text, null).map(_.tag)
    }
    turns
      .withWatermark("ts", watermark)
      .select(col("conv_id"), col("ts"),
        explode(tagsOf(col("text"))).as("tag"))
      .groupBy(window(col("ts"), windowDur), col("tag"))
      .agg(count(lit(1)).as("n_mentions"))
      .select(col("window.start").as("w_start"), col("tag"),
        col("n_mentions"))
  }

  /** Sink triples as parquet with a streaming checkpoint.
    *
    * Duplicate contract (ADVICE r5): upstream dedup is
    * `dropDuplicatesWithinWatermark` — it bounds state, at the cost that
    * a (conv_id, turn_idx) retry arriving AFTER the watermark evicted its
    * key is no longer dropped and lands in this sink as a duplicate turn's
    * triples. Downstream consumers must tolerate rare post-watermark
    * duplicates (or dedup at read on (conv_id, turn_idx, subj, pred,
    * obj)); retries from healthy sources arrive well inside the
    * watermark, so this is a tail-risk documented, not a steady-state
    * behavior. */
  def startParquetSink(triples: Dataset[Triple], outPath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    triples.writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .start()

  /** Maintain the FULL KG (per-batch triple snapshots + current
    * nodes/edges) under `kgRoot` from a stream of turns: `foreachBatch`
    * hands each micro-batch to [[graft.Pipeline.runIncremental]] with
    * Spark's own batch id. The two checkpoint layers COMPOSE into
    * end-to-end idempotency: Structured Streaming replays a failed batch
    * with the SAME id, and runIncremental's per-batch Icebergish
    * snapshots make the replay skip every stage the first attempt
    * committed (same resume semantics KgStagesSpec pins for the batch
    * path).
    *
    * Every batch is processed — including empty ones (they commit empty
    * per-batch snapshots and re-commit unchanged aggregates), keeping
    * the batch-id chain contiguous for runIncremental's in-order
    * requirement. The per-batch edge re-derivation scans the unioned
    * triple snapshots (see runIncremental's Scaladoc for why edges are
    * not append-stable), so size micro-batches in minutes, not
    * milliseconds — this is an incremental-MAINTENANCE sink, not a
    * low-latency one; use [[startParquetSink]] for latency-sensitive
    * triple feeds and run maintenance on a trigger interval.
    *
    * CONTRACT (inherited from runIncremental): a micro-batch carries
    * WHOLE conversations — the upstream emits a conversation's turns
    * only once it is closed (the reference's serving analog: transcripts
    * are POSTed complete, src/prod.py:220-227). Dedup/watermarking of
    * raw turns belongs upstream of this sink for the same reason. */
  def startIncrementalKgSink(turns: Dataset[Turn], kgRoot: String,
      checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      : org.apache.spark.sql.streaming.StreamingQuery =
    turns.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Turn], batchId: Long) =>
        // fail loudly instead of wrapping: a truncated id would collide
        // with an old batch dir and read-back-skip NEW data as complete
        require(batchId <= Int.MaxValue,
          s"streaming batch id $batchId exceeds Int range — " +
            "runIncremental's batch-id space is Int")
        // the batch Dataset is re-evaluated by each action inside
        // runIncremental — persist once so the source is read once
        batch.persist()
        try {
          graft.Pipeline.runIncremental(batch.sparkSession, batch, kgRoot,
            batchId.toInt)
          ()
        } finally batch.unpersist()
      }
      .start()
}
