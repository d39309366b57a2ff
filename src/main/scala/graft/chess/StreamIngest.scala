package graft.chess

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous ingestion — the streaming twin of [[IngestMain]]: tail a
  * staging directory (the one [[Acquire]] publishes monthly dumps
  * into, atomically, under hidden temps) with the streaming PGN
  * source, and run every micro-batch through the SAME batch pipeline —
  * parse → running stats with the prior-state carry → role doubling →
  * the dynamic-overwrite monthly sink — via `foreachBatch`, with the
  * crash-safe [[StateSwap]] commit per batch.
  *
  * Exactly-once across crashes: `foreachBatch` replays a batch whose
  * streaming offset was not yet committed, so the state commit
  * records the applied batch ids INSIDE the committed state copy
  * ([[StateSwap.Applied]], an underscore file parquet readers
  * ignore, swapped atomically WITH the counters). Replays are then
  * no-ops ([[applyBatch]] checks the set first), and a crash BEFORE
  * the state commit re-runs both writes — safe, because the sink
  * partitions by (year_month, ingest_batch): dynamic overwrite
  * replaces exactly this batch's own partitions on a re-run, and a
  * month whose games arrive across SEVERAL batches accumulates one
  * subdirectory per batch instead of the last batch clobbering the
  * earlier ones. Either way each dump's games land in the sink and
  * the counters exactly once.
  *
  * This is the architecture a 100 TB continuous pipeline wants: the
  * incremental core stays one battle-tested BATCH path (identical
  * numbers to a monolithic run — the two-batch==full-batch property),
  * and streaming contributes only arrival detection + offset
  * tracking. No second implementation of the stats semantics exists
  * to drift.
  */
object StreamIngest {

  /** Start the continuous ingest; the returned query runs until
    * stopped. `checkpointDir` is the streaming offset log (restart
    * resumes there); `stateDir` carries the per-player counters.
    *
    * `checkpointDir` and `stateDir` must live and die TOGETHER: the
    * replay protection compares this stream's batch ids against the
    * marker in the state copy, so pointing a FRESH checkpoint (ids
    * restart at 0) at an old state dir would silently skip batches.
    * Starting over means clearing both (and the sink).
    */
  def start(spark: SparkSession, stagingDir: String, outDir: String,
      stateDir: String, checkpointDir: String,
      movesMode: ChessPipeline.MovesMode = ChessPipeline.MovesMode.Omitted): StreamingQuery =
    spark.readStream.format("pgn").load(stagingDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        applyBatch(spark, batch.toDF(), batchId, outDir, stateDir, movesMode)
      }
      .start()

  /** One micro-batch through the batch pipeline, exactly once: skip
    * if this batch id is already recorded in the committed state
    * (offset-uncommitted replay after a crash), else sink write →
    * state write (with marker) → atomic state commit.
    */
  private[chess] def applyBatch(spark: SparkSession, rawBatch: DataFrame,
      batchId: Long, outDir: String, stateDir: String,
      movesMode: ChessPipeline.MovesMode): Unit =
    // the shared core handles the replay guard (applied-id set), the
    // parse-once cache window, the sink write and the crash-safe state
    // commit — ONE protocol with the batch driver, nothing to drift
    IngestCore.applyGames(spark,
      ChessPipeline.parseGames(rawBatch, movesMode), outDir, Some(stateDir),
      appliedIds = Seq(batchId),
      extraPartition = Seq(
        "ingest_batch" -> org.apache.spark.sql.functions.lit(batchId)))
}
