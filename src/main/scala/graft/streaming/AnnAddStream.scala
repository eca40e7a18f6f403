package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.similarity.Similarity

/** Continuous vector-index ingestion — the streaming twin of
  * `Similarity.ivfpqAdd`, closing the crawl loop for the ANN index
  * the way `NearStreamDedup` closes it for near-duplicates: a
  * continuously-arriving embedding feed (new crawl documents after
  * dedup + embedding) joins the persisted IVF-PQ index per
  * micro-batch, with frozen quantizers, and searches see the union
  * immediately. Quantizer drift is handled by periodic rebuilds +
  * [[Similarity.compactIndex]], not per-batch retrains — the
  * standard production posture.
  *
  * Exactly-once across checkpoint recovery comes from `ivfpqAdd`'s
  * own batch marker (`IndexLog`, id `stream-<batchId>`, written
  * AFTER both appends): a foreachBatch replay of a committed batch
  * is a no-op, and the only crash window re-appends the same rows,
  * which search tolerates (pqRerank dedupes (q_id, n_id)). No
  * additional marker discipline is needed — appends are the whole
  * effect, unlike the dedup loops' probe-then-commit two-phase.
  *
  * State is O(markers) filesystem metadata; each micro-batch costs
  * one batch-sized scan (assign + encode against broadcast
  * quantizers) and two appends — nothing index-sized is read.
  */
object AnnAddStream {

  /** Start the loop over a streaming DataFrame of `(idCol, vecCol)`
    * embeddings, appending to the IVF-PQ index at `indexPath`
    * (which must already exist — built by `ivfpqBuild`). */
  def toIndex(vectors: DataFrame, idCol: String, vecCol: String,
              indexPath: String, checkpointDir: String): StreamingQuery =
    vectors.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        processBatch(batch.toDF(), batchId, idCol, vecCol, indexPath)
        ()
      }
      .start()

  /** One micro-batch, replay-safe via the add marker. Public so a
    * spec — or a crash-recovery drill — can drive the exact same
    * code path the stream runs. Returns true when the batch
    * appended, false when the marker made it a no-op. */
  def processBatch(batch: DataFrame, batchId: Long, idCol: String,
                   vecCol: String, indexPath: String): Boolean =
    Similarity.ivfpqAdd(batch, idCol, vecCol, indexPath,
      Some(s"stream-$batchId"))
}
