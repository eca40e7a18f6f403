package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Attribute-store persistence: the reference stores attribute history
  * in per-store tables and materializes a current-value view from it
  * (minerva/storage/attribute). graft keeps the history as
  * time-partitioned parquet (append-only — attribute writes are
  * events) and materializes the current view as its own table.
  *
  * Scale shape: appends touch only the partitions of the days being
  * written; the current-view materialization is one entity-keyed
  * window over the history (the same plan as `AttributeStore.current`)
  * and a full rewrite of the (entity-sized, not history-sized)
  * current table. History is never rewritten.
  */
object AttributeStoreWriter {

  /** Append attribute rows (entity, ts, attributes…) into the
    * history store, day-partitioned on ts. Duplicate redelivery is
    * upserted by (entity, ts, tie) key — Minerva's history table has
    * exactly one row per (entity, timestamp) write. */
  def append(spark: SparkSession, path: String, incoming: DataFrame,
             entityCol: String = "entity_id", tsCol: String = "ts",
             tieCol: String = "event_id"): Unit =
    TrendStoreWriter.upsert(spark, path,
      incoming.withColumn("bucket", col(tsCol)),
      keyCols = Seq(entityCol, "bucket", tieCol))

  /** Read the attribute history back, optionally pruned to a date
    * range. */
  def readHistory(spark: SparkSession, path: String,
                  from: Option[String] = None, to: Option[String] = None): DataFrame =
    TrendStoreWriter.read(spark, path, from, to).drop("bucket")

  /** History compaction as a maintenance job: rewrite the history
    * store dropping rows whose value repeats the entity's previous
    * row — the write-side twin of `AttributeStore.compact` (the
    * reference compacts attribute history tables the same way:
    * repeated snapshots of an unchanged attribute carry no
    * information).
    *
    * Scale shape: ONE entity-keyed window pass computes keep/drop for
    * every row (the decision crosses partition boundaries — the
    * previous row may live in an earlier day, so a per-partition
    * rewrite would be wrong); only the day-partitions that actually
    * lost rows are rewritten (dynamic overwrite over the dirty-day
    * set, O(days) driver-side), untouched days are never written.
    * Returns (rows dropped, days rewritten). */
  def compactHistory(spark: SparkSession, historyPath: String, valueCol: String,
                     entityCol: String = "entity_id", tsCol: String = "ts",
                     tieCol: String = "event_id"): (Long, Seq[java.sql.Date]) = {
    // mergeSchema: on an evolved history (an attribute column added
    // mid-history) parquet may otherwise resolve the schema from a
    // pre-evolution footer and the rewrite would silently DROP the
    // new column from every day it touches.
    val hist = StoreFs.read(spark, historyPath, mergeSchema = true)
    val compacted = AttributeStore.compact(hist,
      col(entityCol), col(tsCol), col(tieCol), col(valueCol))
    rewriteCompacted(spark, historyPath, hist, compacted)
  }

  /** Evolution-aware compaction over the FULL tracked attribute set:
    * drop a row only when EVERY listed attribute repeats the entity's
    * previous row. On an evolved history this is the correct
    * maintenance job — compacting on one column would drop a row that
    * changed only a newer column (losing, e.g., the first `tier`
    * value of an entity whose `status` happened not to change). The
    * repeat test is NULL-SAFE (`<=>`): a pre-evolution NULL turning
    * into a value is a change and the row is kept; [[compactHistory]]
    * keeps the reference's three-valued single-column semantics (the
    * a03 oracle twin) for un-evolved stores. */
  def compactHistoryAll(spark: SparkSession, historyPath: String,
                        valueCols: Seq[String],
                        entityCol: String = "entity_id", tsCol: String = "ts",
                        tieCol: String = "event_id"): (Long, Seq[java.sql.Date]) = {
    require(valueCols.nonEmpty, "compactHistoryAll: at least one value column required")
    val hist = StoreFs.read(spark, historyPath, mergeSchema = true)
    val v = struct(valueCols.map(col): _*)
    import org.apache.spark.sql.expressions.Window
    val compacted = hist.withColumn("__prev",
        lag(v, 1).over(Window.partitionBy(col(entityCol))
          .orderBy(col(tsCol).asc, col(tieCol).asc)))
      .filter(col("__prev").isNull || !(col("__prev") <=> v))
      .drop("__prev")
    rewriteCompacted(spark, historyPath, hist, compacted)
  }

  /** Shared rewrite: diff per-day row counts, dynamic-overwrite only
    * the shrunken days, drop emptied partitions. */
  private def rewriteCompacted(spark: SparkSession, historyPath: String,
                               hist: DataFrame,
                               compacted: DataFrame): (Long, Seq[java.sql.Date]) = {
    // Dirty days = p_dates whose row count shrank. Both sides are
    // partial-agg groupBys; the collect is O(days).
    val before = hist.groupBy(col("p_date")).agg(count(lit(1)).as("__n_before"))
    val after = compacted.groupBy(col("p_date")).agg(count(lit(1)).as("__n_after"))
    val dirtyRows = before.join(after, Seq("p_date"), "left")
      .filter(col("__n_after").isNull || col("__n_after") < col("__n_before"))
      .select(col("p_date"),
        (col("__n_before") - coalesce(col("__n_after"), lit(0L))).as("__dropped"),
        col("__n_after").isNull.as("__emptied"))
      .collect()
    val dirtyDays = dirtyRows.map(_.getDate(0)).toSeq
    val dropped = dirtyRows.map(_.getLong(1)).sum
    if (dirtyDays.nonEmpty) {
      // localCheckpoint: the overwrite must not read the files it
      // replaces (same discipline as TrendStoreWriter.upsert).
      val survivors = compacted.filter(col("p_date").isin(dirtyDays: _*))
        .drop("p_date").localCheckpoint()
      survivors.withColumn("p_date", to_date(col("bucket")))
        .write.partitionBy("p_date")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").parquet(historyPath)
      // A day compacted down to ZERO rows is absent from the written
      // data, so dynamic overwrite leaves its stale files — drop those
      // partitions explicitly (checked deletes, as in retain).
      val emptied = dirtyRows.filter(_.getBoolean(2)).map(_.getDate(0).toString)
      emptied.foreach(d => StoreFs.delete(spark, s"$historyPath/p_date=$d"))
    }
    (dropped, dirtyDays)
  }

  /** History retention: drop history partitions older than `keepFrom`.
    * The current-value table is separate state and is NOT touched — a
    * retired history day does not invalidate the latest value per
    * entity (compaction of the reference keeps the same invariant). */
  def retainHistory(spark: SparkSession, historyPath: String,
                    keepFrom: String): Seq[String] =
    TrendStoreWriter.retain(spark, historyPath, keepFrom)

  /** Materialize the current-value view (latest row per entity) from
    * the history store into its own table. Returns the written view. */
  def materializeCurrent(spark: SparkSession, historyPath: String,
                         currentPath: String,
                         entityCol: String = "entity_id", tsCol: String = "ts",
                         tieCol: String = "event_id"): DataFrame = {
    val hist = readHistory(spark, historyPath).drop("p_date")
    val cur = AttributeStore.current(hist, col(entityCol), col(tsCol), col(tieCol))
    StoreFs.rewrite(spark, currentPath)(cur.write.mode("overwrite").parquet(_))
    StoreFs.read(spark, currentPath)
  }
}
