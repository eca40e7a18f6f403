package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.{Dedup, IndexLog, StoreFs}

/** Continuous NEAR-duplicate deduplication against a persisted LSH
  * index — the streaming twin of `Dedup.nearDedupIncrementalStaged`,
  * closing the crawl loop the way `StreamDedup` closes it for exact
  * duplicates: a continuously-ingesting pipeline (the reference's
  * daemon posture applied to an LLM data feed) near-dedups each
  * micro-batch against everything already accepted, without ever
  * re-reading the accepted corpus.
  *
  * Each micro-batch runs the batch probe (band postings join +
  * signature-space verify) inside `foreachBatch`, writes its
  * survivors to `outputPath/batch=<id>` and commits their
  * bands+signatures to the index. Exactly-once across checkpoint
  * recovery comes from a TWO-MARKER discipline (`IndexLog`
  * `StreamBatches` markers) — strictly stronger than the batch CLI's
  * staged commit, because a foreachBatch replay is automatic and
  * must never re-probe a batch whose signatures are already
  * (partially) indexed: every doc would drop against its own
  * signature and an overwrite would wipe the batch's survivors.
  *
  *  - no `intent` marker → full run: probe, overwrite survivors,
  *    write `intent`, commit, write `done`. (A crash before `intent`
  *    replays the probe against an unchanged index — same survivors,
  *    idempotent overwrite.)
  *  - `intent` but no `done` → the survivors are already on disk and
  *    the index MAY hold part of the batch: skip the probe, re-append
  *    bands+sigs for the persisted survivors (`Dedup.nearIndexAppend`
  *    — duplicate postings from the torn commit are harmless, probes
  *    `distinct()` candidates), write `done`.
  *  - `done` → no-op.
  *
  * State is O(markers) filesystem metadata; the index grows by
  * accepted docs only, the same 100 TB posture as the batch loop.
  */
object NearStreamDedup {

  /** Start the loop over a streaming DataFrame of `(idCol, textCol)`
    * documents. Survivors land under `outputPath/batch=<batchId>`. */
  def toStore(docs: DataFrame, idCol: String, textCol: String,
              indexPath: String, outputPath: String, checkpointDir: String,
              k: Int = 3, numPerm: Int = 64, bands: Int = 32,
              threshold: Double = 0.7): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        processBatch(batch.toDF(), batchId, idCol, textCol, indexPath,
          outputPath, k, numPerm, bands, threshold)
      }
      .start()

  /** One micro-batch, replay-safe (see the object doc). Public so a
    * spec — or a crash-recovery drill — can drive the exact same code
    * path the stream runs. */
  def processBatch(batch: DataFrame, batchId: Long, idCol: String,
                   textCol: String, indexPath: String, outputPath: String,
                   k: Int = 3, numPerm: Int = 64, bands: Int = 32,
                   threshold: Double = 0.7): Unit = {
    val spark = batch.sparkSession
    val intent = s"intent-$batchId"
    IndexLog.once(spark, indexPath, IndexLog.StreamBatches, Some(s"done-$batchId")) {
      val out = s"$outputPath/batch=$batchId"
      if (!IndexLog.committed(spark, indexPath, IndexLog.StreamBatches, intent)) {
        val staged = Dedup.nearDedupIncrementalStaged(spark, batch, idCol,
          textCol, indexPath, k, numPerm, bands, threshold)
        staged.survivors.write.mode("overwrite").parquet(out)
        IndexLog.commit(spark, indexPath, IndexLog.StreamBatches, intent)
        staged.commit()
      } else {
        // survivors already persisted; never re-probe (self-drop risk)
        Dedup.nearIndexAppend(spark, StoreFs.read(spark, out), idCol, textCol,
          indexPath, k, numPerm, bands)
      }
    }
  }
}
