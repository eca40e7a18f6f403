package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.TextIndex

/** Continuous retrieval-index ingestion — the streaming twin of
  * `TextIndex.addBatch`, closing the crawl loop for the text index
  * the way `AnnAddStream` closes it for vectors: a continuously-
  * arriving document feed (new crawl docs after dedup) appends
  * postings + doclen rows per micro-batch with the FROZEN
  * tokenization, and both retrieval paths (bm25 / boolean) see the
  * union immediately — stats are re-derived each batch so idf and
  * avgdl track the growing corpus.
  *
  * Exactly-once across checkpoint recovery rides `addBatch`'s own
  * post-append marker (`IndexLog`, id `stream-<batchId>`): a
  * foreachBatch replay of a committed batch is a no-op, and the only
  * crash window re-appends the same rows, which every reader
  * tolerates (per-key aggregation — see TextIndex) and
  * `TextIndex.compact` later removes physically.
  *
  * State is O(markers) filesystem metadata; each micro-batch costs
  * one batch-sized tokenize/aggregate pass, two appends, and the
  * O(docs) stats refresh — nothing postings-sized is read.
  */
object TextIndexAddStream {

  /** Start the loop over a streaming DataFrame of `(idCol, textCol)`
    * documents, appending to the text index at `indexPath` (which
    * must already exist — built by `TextIndex.build`). */
  def toIndex(docs: DataFrame, idCol: String, textCol: String,
              indexPath: String, checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        processBatch(batch.toDF(), batchId, idCol, textCol, indexPath)
        ()
      }
      .start()

  /** One micro-batch, replay-safe via the batch marker. Public so a
    * spec — or a crash-recovery drill — can drive the exact same
    * code path the stream runs. */
  def processBatch(batch: DataFrame, batchId: Long, idCol: String,
                   textCol: String, indexPath: String): Unit =
    TextIndex.addBatch(batch, idCol, textCol, indexPath,
      s"stream-$batchId")
}
