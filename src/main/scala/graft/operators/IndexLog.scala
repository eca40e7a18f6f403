package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The mutation protocol every persisted index family shares
  * (`TextIndex`, the ANN layouts in `Similarity`, the dedup indexes
  * and the streaming loops over them):
  *
  *  - batch markers `<index>/<namespace>/<batchId>`, written AFTER a
  *    batch's effect, so a committed replay is a no-op and the only
  *    crash window replays the effect, which every reader tolerates;
  *  - an id-keyed `<index>/tombstones` table: reads anti-join it
  *    before any top-k cut, a re-add clears the id (latest operation
  *    wins), compaction drops the rows and then the table (a crash in
  *    between leaves purged ids harmlessly tombstoned);
  *  - the layout of an index, from its directory shape;
  *  - compaction of one index table through [[StoreFs.rewrite]].
  *
  * Every function heals a torn swap of the tables it reads first.
  */
object IndexLog {

  // Marker namespaces, at their historical paths.
  val TextAdds = "batches"     // TextIndex.addBatch
  val TextDeletes = "deletes"  // TextIndex.deleteDocs
  val AnnAdds = "_adds"        // Similarity.ivfpqAdd
  val AnnDeletes = "_deletes"  // Similarity.annDelete
  val StreamBatches = "_batches" // NearStreamDedup: intent-<n>, done-<n>

  /** The marker path, under the one batch-id rule: non-empty, no `/`,
    * not `.` or `..` — Hadoop `Path` normalises `batches/..` to the
    * index root, which exists, so such an id would silently skip its
    * batch. */
  private def marker(index: String, namespace: String, batchId: String): String = {
    require(batchId.nonEmpty && !batchId.contains("/") &&
      batchId != "." && batchId != "..", s"bad batchId: '$batchId'")
    s"$index/$namespace/$batchId"
  }

  /** Whether `batchId` is committed in `namespace`. A marker is a file,
    * or a directory as older ANN and stream markers were written. */
  def committed(spark: SparkSession, index: String, namespace: String,
                batchId: String): Boolean =
    StoreFs.exists(spark, marker(index, namespace, batchId))

  /** Record `batchId` as committed in `namespace`. */
  def commit(spark: SparkSession, index: String, namespace: String,
             batchId: String): Unit =
    StoreFs.writeText(spark, marker(index, namespace, batchId), "done")

  /** Run `body` at most once per committed `batchId` (checked before
    * any write), then record it; `None` runs `body` unconditionally.
    * Returns false iff the marker shows the batch already committed. */
  def once(spark: SparkSession, index: String, namespace: String,
           batchId: Option[String])(body: => Unit): Boolean = {
    if (batchId.exists(committed(spark, index, namespace, _))) return false
    body
    batchId.foreach(commit(spark, index, namespace, _))
    true
  }

  /** Path of the index's tombstone table. */
  def tombstonePath(index: String): String = s"$index/tombstones"

  /** Whether the index has live tombstones. */
  def hasTombstones(spark: SparkSession, index: String): Boolean = {
    val t = tombstonePath(index)
    StoreFs.recover(spark, t)
    StoreFs.exists(spark, t)
  }

  /** The tombstoned ids as stored (duplicates possible), or None. */
  def tombstones(spark: SparkSession, index: String,
                 idCol: String): Option[DataFrame] =
    if (!hasTombstones(spark, index)) None
    else Some(StoreFs.read(spark, tombstonePath(index)).select(col(idCol)))

  /** Tombstone the ids in `ids`' first column. Crash-window duplicate
    * rows are harmless: readers use the id set. */
  def tombstone(spark: SparkSession, index: String, ids: DataFrame,
                idCol: String): Unit = {
    StoreFs.recover(spark, tombstonePath(index))
    ids.select(col(ids.columns.head).cast("long").as(idCol)).distinct()
      .write.mode("append").parquet(tombstonePath(index))
  }

  /** Clear the tombstones of re-added ids (`added`: one column,
    * `idCol`). Rewrites the O(deletes)-sized table; a crash before the
    * caller's marker replays the whole batch, so the clear completes. */
  def revive(spark: SparkSession, index: String, added: DataFrame,
             idCol: String): Unit =
    tombstones(spark, index, idCol).foreach { t =>
      val remaining = t.join(added.distinct(), Seq(idCol), "left_anti")
        .localCheckpoint()
      StoreFs.rewrite(spark, tombstonePath(index))(
        remaining.coalesce(1).write.mode("overwrite").parquet(_))
    }

  /** Hide tombstoned ids from an `idCol`-keyed table: one left_anti
    * join against the distinct tombstoned ids (none = no-op). */
  def dropTombstoned(spark: SparkSession, index: String, df: DataFrame,
                     idCol: String): DataFrame =
    tombstones(spark, index, idCol).fold(df)(t => df.join(
      t.select(col(idCol).cast(df.schema(idCol).dataType).as(idCol)).distinct(),
      Seq(idCol), "left_anti"))

  /** Number of distinct tombstoned ids. */
  def tombstoneCount(spark: SparkSession, index: String, idCol: String): Long =
    tombstones(spark, index, idCol).fold(0L)(_.distinct().count())

  /** Clear the tombstone table once compaction has dropped its rows. */
  def purgeTombstones(spark: SparkSession, index: String): Unit =
    StoreFs.delete(spark, tombstonePath(index))

  val AnnLayouts: Set[String] = Set("ivf", "pq", "ivfpq")

  /** Layout of the index at `path`, from its directory shape:
    * `codes/` with `centroids/` = ivfpq, `codes/` alone = pq,
    * `cells/` = ivf, `bands/` or `sigs/` = near (a torn commit may
    * leave one without the other), `postings/` with `stats.json` =
    * text, anything else = exact (a flat hash table, or nothing yet). */
  def layout(spark: SparkSession, path: String): String = {
    StoreFs.recover(spark, path)
    def has(d: String): Boolean = {
      StoreFs.recover(spark, s"$path/$d")
      StoreFs.exists(spark, s"$path/$d")
    }
    if (has("codes")) { if (has("centroids")) "ivfpq" else "pq" }
    else if (has("cells")) "ivf"
    else if (has("bands") || has("sigs")) "near"
    else if (has("postings") && has("stats.json")) "text"
    else "exact"
  }

  /** Rewrite one index table into about `nFiles` files (cell-partitioned
    * tables hash-partitioned on the cell, so each cell directory holds
    * about one file), after `keep` filters it (tombstoned rows).
    * Returns the rewritten row count, or 0 when the table is absent. */
  def compactTable(spark: SparkSession, table: String, nFiles: Int,
                   keep: DataFrame => DataFrame = identity): Long = {
    StoreFs.recover(spark, table)
    if (!StoreFs.exists(spark, table)) return 0L
    val df = keep(StoreFs.read(spark, table))
    StoreFs.rewrite(spark, table) { tmp =>
      if (df.columns.contains("cell"))
        df.repartition(nFiles, col("cell"))
          .write.partitionBy("cell").mode("overwrite").parquet(tmp)
      else df.repartition(nFiles).write.mode("overwrite").parquet(tmp)
    }
    StoreFs.read(spark, table).count()
  }
}
