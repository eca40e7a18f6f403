package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.{StoreFs, TrendStoreWriter}

/** Continuous notification-set maintenance: the streaming twin of
  * `NotificationStore.sets` (n03/n05), closing the reference's
  * daemon loop — its notification linking runs continuously, folding
  * each new notification into its per-(entity, day) set, the way
  * triggers (TriggerStream) and rates (RateStream) already have
  * continuous counterparts here.
  *
  * Input is an APPEND-mode notification/firing stream (e.g.
  * `TriggerStream.fire` output: one row per closed (entity, bucket,
  * rule)). Each micro-batch MERGES into the set store by set union:
  * the stored row per (entity, day) holds the sorted array of
  * `(bucket, id)` ELEMENTS rather than bare counts or id lists, so
  * re-delivering a micro-batch after checkpoint recovery is a no-op
  * (set union is idempotent) — an append-style accumulator would
  * double-count on replay. Presentation (counts, sorted id list — the
  * n03/n05 shape) derives from the elements via [[present]].
  *
  * Scale shape: a micro-batch groupBy on (entity, day) — partial agg,
  * one small shuffle — then the same partition-pruned upsert walk
  * TrendStoreWriter uses: only day-partitions present in the batch
  * are read back, merged by a full-outer join on the set key, and
  * dynamically overwritten. Steady-state cost is O(batch + touched
  * days), never O(store).
  */
object SetStream {

  /** Sink an append-mode notification stream into a set store at
    * `storePath`, day granularity. `idCol` names the column whose
    * values the sets collect (the rule name for n05-style trigger
    * sets, the notification id for n03-style ones). */
  def toStore(notifications: DataFrame, idCol: String,
              storePath: String, checkpointDir: String): StreamingQuery =
    notifications.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        mergeBatch(batch, idCol, storePath)
      }
      .start()

  /** Merge one (static) batch of notifications into the set store.
    * Also the batch-backfill entry point: replaying any slicing of
    * the same rows converges to the same store. */
  def mergeBatch(batch: DataFrame, idCol: String, storePath: String): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val delta = batch
      .select(col("entity_id"), date_trunc("day", col("bucket")).as("bucket"),
        struct(col("bucket").as("b"), col(idCol).cast("string").as("id")).as("__e"))
      .groupBy(col("entity_id"), col("bucket"))
      .agg(collect_set(col("__e")).as("elements"))
    val merged =
      if (StoreFs.list(spark, storePath).isEmpty) delta
      else {
        val dirtyDays = delta.select(to_date(col("bucket")).as("p_date"))
          .distinct().collect().map(_.getDate(0))
        val existing = StoreFs.read(spark, storePath)
          .filter(col("p_date").isin(dirtyDays.toSeq: _*))
          .drop("p_date")
          .withColumnRenamed("elements", "__old")
        // full outer: unmatched existing rows of a touched day survive,
        // unmatched delta rows insert, conflicts union their elements.
        existing.join(delta.withColumnRenamed("elements", "__new"),
            Seq("entity_id", "bucket"), "full_outer")
          .select(col("entity_id"), col("bucket"),
            when(col("__old").isNull, col("__new"))
              .when(col("__new").isNull, col("__old"))
              .otherwise(array_union(col("__old"), col("__new"))).as("elements"))
          .localCheckpoint() // cut lineage before overwriting what was read
      }
    TrendStoreWriter.write(merged.withColumn("elements", sort_array(col("elements"))),
      storePath)
  }

  /** Present a set store in the n03/n05 shape: per-(entity, day)
    * count and the sorted id list (one id instance per element, as
    * `sort_array(collect_list(id))` yields in the batch path). */
  def present(store: DataFrame): DataFrame =
    store.select(col("entity_id"), col("bucket"),
      size(col("elements")).cast("long").as("n_notifications"),
      sort_array(expr("transform(elements, e -> e.id)")).as("notification_ids"))
}
