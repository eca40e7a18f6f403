package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Trend-store persistence: time-partitioned parquet with
  * partition-level upsert — the Spark analogue of Minerva's
  * timestamp-partitioned trend tables and its "store" upsert.
  *
  * Layout: one directory partition per day of the bucket column.
  * Re-loading a day (late data, re-harvest) rewrites only that
  * partition (`partitionOverwriteMode=dynamic`), which is what makes
  * incremental materialization cheap at 100 TB: the modified-log
  * names dirty days, and only those partitions are rewritten and
  * re-aggregated. Readers prune on `p_date`, so a time-range query
  * touches only its days.
  */
object TrendStoreWriter {

  /** Write (or partition-upsert) a rollup keyed by `bucket`.
    *
    * `clusterBy` optionally sorts each day partition's data on the
    * given columns (typically the entity key) before writing: parquet
    * row-group min/max statistics then carve the day into narrow
    * entity ranges, so an entity-filtered read of a 100 TB store
    * skips most row groups of every day it touches (see Layout for
    * the multi-column Z-order variant; LayoutSpec/ModelSpec assert
    * the stats effect). Day-partition pruning is unaffected — this
    * adds the SECOND pruning dimension inside each day. */
  def write(rolled: DataFrame, path: String, clusterBy: Seq[String] = Nil): Unit = {
    val dated = rolled.withColumn("p_date", to_date(col("bucket")))
    // repartition on the day so each day's rows land in one writer
    // task, then a day-major sort clusters `clusterBy` within it
    val laid =
      if (clusterBy.isEmpty) dated
      else dated.repartition(col("p_date"))
        .sortWithinPartitions((col("p_date") +: clusterBy.map(col)): _*)
    laid.write
      .partitionBy("p_date")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(path)
  }

  /** Row-level upsert: merge `incoming` rows into the store by
    * `keyCols` — Minerva's store/upsert semantics, where a
    * re-delivered `(entity, timestamp)` row REPLACES the previous
    * values instead of clobbering the whole partition.
    *
    * Shape: only the day-partitions present in `incoming` are read
    * back (partition prune), survivors = existing rows whose key has
    * no replacement (left_anti), merged ∪ incoming is rewritten via
    * dynamic partition overwrite — untouched days are never read or
    * written. The anti-join is one registry-×-day-sized shuffle, not
    * a store-wide one.
    *
    * Schema evolution (Minerva's trend-store alter surface: a new
    * metric appears mid-history): `allowMissingColumns` pads either
    * side with typed NULLs, so an upsert may ADD a metric column
    * (survivors get NULL) or omit one the store already has (incoming
    * gets NULL). Untouched day-partitions keep their on-disk schema;
    * [[read]] merges footers so old days surface the new metric as
    * NULL. */
  def upsert(spark: org.apache.spark.sql.SparkSession, path: String,
             incoming: DataFrame, keyCols: Seq[String] = Seq("entity_id", "bucket")): Unit = {
    if (StoreFs.list(spark, path).isEmpty) { write(incoming, path); return }
    val dirtyDays = incoming.select(to_date(col("bucket")).as("p_date"))
      .distinct().collect().map(_.getDate(0))
    val existing = StoreFs.read(spark, path, mergeSchema = true)
      .filter(col("p_date").isin(dirtyDays.toSeq: _*))
      .drop("p_date")
    // localCheckpoint materializes the survivors (bounded by the dirty
    // days' volume, not the store) and cuts the lineage back to `path`,
    // so the overwrite below doesn't read the files it replaces.
    val survivors = existing.join(incoming, keyCols, "left_anti").localCheckpoint()
    write(survivors.unionByName(incoming, allowMissingColumns = true), path)
  }

  /** Partition retention: drop `p_date` partitions strictly older
    * than `keepFrom` (ISO date, inclusive horizon — lexicographic
    * compare IS date order for the zero-padded partition names).
    * Minerva manages trend partitions over time (create ahead, drop
    * expired); this is the drop side, as O(partitions) driver-side
    * metadata with checked Hadoop-FS deletes — a 100 TB store retires
    * whole day directories without reading a row. Returns the dropped
    * partition dates. */
  def retain(spark: org.apache.spark.sql.SparkSession, path: String,
             keepFrom: String): Seq[String] = {
    require(keepFrom.matches("\\d{4}-\\d{2}-\\d{2}"),
      s"keepFrom must be an ISO date, got: $keepFrom")
    val expired = StoreFs.list(spark, path)
      .filter(p => p.getName.startsWith("p_date=") &&
        p.getName.stripPrefix("p_date=") < keepFrom)
      .sortBy(_.getName)
    expired.foreach(p => StoreFs.delete(spark, p.toString))
    expired.map(_.getName.stripPrefix("p_date="))
  }

  /** Delete one bucket's rows across the store — the reference's
    * delete-timestamp surface (a vendor re-delivers a corrupt period;
    * the operator removes that timestamp everywhere before
    * re-harvesting). Only the bucket's OWN day partition is read and
    * rewritten (p_date prune + dynamic partition overwrite); if the
    * deletion empties the partition, the directory is dropped like
    * [[retain]] does. Returns the number of rows removed. Idempotent:
    * deleting an absent bucket removes nothing and rewrites nothing. */
  def deleteBucket(spark: org.apache.spark.sql.SparkSession, path: String,
                   bucket: String): Long = {
    require(bucket.matches("\\d{4}-\\d{2}-\\d{2}[ T]\\d{2}:\\d{2}:\\d{2}"),
      s"bucket must be an ISO timestamp, got: $bucket")
    val day = bucket.substring(0, 10)
    if (!StoreFs.exists(spark, s"$path/p_date=$day")) return 0L
    val dayRows = read(spark, path, from = Some(day), to = Some(day)).drop("p_date")
    val target = lit(bucket).cast("timestamp")
    val removed = dayRows.filter(col("bucket") === target).count()
    if (removed == 0L) return 0L
    val survivors = dayRows.filter(col("bucket") =!= target).localCheckpoint()
    if (survivors.isEmpty) StoreFs.delete(spark, s"$path/p_date=$day")
    else write(survivors, path)
    removed
  }

  /** Read back, pruning to an optional inclusive date range.
    *
    * `mergeSchema` defaults ON so an evolved store (a metric added
    * mid-history via [[upsert]]) reads as the union schema, with NULL
    * for the new metric on pre-evolution days. The cost is footer
    * reads, never data: one per data file merged, one footer off.
    * [[StoreFs.read]] reads up to 32 of them on the driver with no
    * Spark job; a store with more data files pays Spark's distributed
    * footer-reading job, as `spark.read.parquet` does. */
  def read(spark: org.apache.spark.sql.SparkSession, path: String,
           from: Option[String] = None, to: Option[String] = None,
           mergeSchema: Boolean = true): DataFrame = {
    val df = StoreFs.read(spark, path, mergeSchema)
    val lo = from.map(d => col("p_date") >= lit(d)).getOrElse(lit(true))
    val hi = to.map(d => col("p_date") <= lit(d)).getOrElse(lit(true))
    df.filter(lo && hi)
  }

  /** Conservative width, in days, of one `granularity` bucket — how
    * far a coarse bucket's start can precede the fine days it absorbs.
    * Used only to PRUNE the coarse-store read in [[tieredRetain]], so
    * over-estimating is safe. Also the validation choke point: an
    * unknown granularity throws HERE, before anything is dropped
    * (a typo'd unit would otherwise date_trunc to NULL buckets while
    * the fine partitions still expired). */
  private def granularityWidthDays(granularity: String): Long =
    graft.operators.TrendStore.stepSeconds(granularity) match {
      case Some(s) => (s + 86399) / 86400
      case None => granularity.trim.toLowerCase match {
        case "month"   => 31L
        case "quarter" => 92L
        case "year"    => 366L
        case g => throw new IllegalArgumentException(
          s"tieredRetain: unknown downsample granularity: $g")
      }
    }

  /** Tiered retention: downsample-then-drop — the time-series store
    * lifecycle policy ("keep raw 7 days, hourly 90 days, daily
    * forever"), where [[retain]] alone would throw the history away.
    * Fine-store day partitions strictly older than `keepFrom` are
    * re-aggregated to `granularity` (standard partials, so the coarse
    * store is itself re-aggregable down the tier chain) and UPSERTED
    * into `coarsePath` BEFORE the fine partitions drop.
    *
    * Coarse buckets WIDER than a day (week/month/…) fill across
    * SUCCESSIVE retention runs — Monday-Wednesday may expire today and
    * the rest of the week next run — so the upsert must MERGE each
    * run's partials into the existing coarse row, not key-replace it.
    * Merging alone would double-count a crash replay (upsert landed,
    * drop didn't), so every coarse row carries an `absorbed_dates`
    * provenance column: the fine p_dates already folded into it. A
    * run contributes only fine days NOT yet in the row's absorbed set,
    * which makes the replay a bit-identical rewrite — crash anywhere,
    * re-run, converge. Rows whose absorbed set is NULL (a coarse store
    * written before this column existed) fall back to the old replace
    * semantics, which were only ever correct for bucket-within-day
    * granularities.
    *
    * KNOWN LIMITATION — late data for an already-absorbed day: the
    * absorbed-set guard cannot distinguish a crash replay (the same
    * fine partials delivered twice — must be a no-op) from genuinely
    * NEW fine rows for a day whose p_date was already absorbed (a
    * re-harvest landing after that day expired). Both look like "day
    * already in the set", so a late re-harvested delta expires into
    * nothing on its second drop. Operationally: re-harvests must land
    * BEFORE the day crosses the retention horizon, or the coarse tier
    * must be rebuilt for that window (delete the coarse buckets, then
    * re-run a one-shot downsample from a raw backfill). Detecting the
    * case inline would require keeping the absorbed days' partials —
    * exactly the storage the tier exists to drop.
    *
    * Only expired-day partitions of the fine store are ever read
    * (p_date pruning), and the coarse read prunes to the affected
    * bucket window; the drop side is [[retain]]'s O(partitions)
    * metadata path. The granularity is validated BEFORE any
    * destructive step. Returns the dropped partition dates. */
  def tieredRetain(spark: org.apache.spark.sql.SparkSession, finePath: String,
                   coarsePath: String, keepFrom: String,
                   granularity: String): Seq[String] = {
    require(keepFrom.matches("\\d{4}-\\d{2}-\\d{2}"),
      s"keepFrom must be an ISO date, got: $keepFrom")
    require(finePath != coarsePath,
      "tieredRetain: fine and coarse stores must differ (same path would " +
        "re-aggregate a store into itself and then drop its partitions)")
    require(!Set("", "raw")(granularity.trim.toLowerCase),
      "tieredRetain: downsampling to raw is a no-op drop — use retain")
    val widthDays = granularityWidthDays(granularity) // validates too
    val expired = StoreFs.list(spark, finePath)
      .map(_.getName)
      .filter(n => n.startsWith("p_date=") && n.stripPrefix("p_date=") < keepFrom)
      .map(_.stripPrefix("p_date="))
      .sorted
    if (expired.isEmpty) return Seq.empty
    val horizon = java.time.LocalDate.parse(keepFrom).minusDays(1).toString
    val old = read(spark, finePath, to = Some(horizon)).drop("p_date")
    val partialCols = Seq("entity_id", "bucket", "cnt", "sum_dec", "max_value")
    require(partialCols.forall(old.columns.contains),
      s"tieredRetain needs the standard partial schema ${partialCols.mkString("(", ", ", ")")}, " +
        s"got ${old.columns.mkString("(", ", ", ")")}")
    // fine partials keyed by their coarse bucket + contributing day
    val fine = old.select(
      col("entity_id"),
      graft.operators.TrendStore.bucket(col("bucket"), granularity).as("bucket"),
      to_date(col("bucket")).as("__d"),
      col("cnt"), col("sum_dec"), col("max_value"))
    // existing coarse rows for the affected window (a coarse bucket
    // starts at most one bucket-width before its earliest fine day)
    val loBound = java.time.LocalDate.parse(expired.head).minusDays(widthDays).toString
    val existing0 =
      if (StoreFs.list(spark, coarsePath).isEmpty) None
      else Some(read(spark, coarsePath, from = Some(loBound), to = Some(horizon)).drop("p_date"))
    val existing = existing0.map { ex =>
      val withAbsorbed =
        if (ex.columns.contains("absorbed_dates")) ex
        else ex.withColumn("absorbed_dates", lit(null).cast("array<date>"))
      withAbsorbed.select(col("entity_id"), col("bucket"),
        col("cnt").as("__ex_cnt"), col("sum_dec").as("__ex_sum"),
        col("max_value").as("__ex_max"), col("absorbed_dates").as("__ex_dates"))
    }
    val joined = existing match {
      case Some(ex) => fine.join(ex, Seq("entity_id", "bucket"), "left")
      case None => fine
        .withColumn("__ex_cnt", lit(null).cast("long"))
        .withColumn("__ex_sum", lit(null).cast(fine.schema("sum_dec").dataType))
        .withColumn("__ex_max", lit(null).cast(fine.schema("max_value").dataType))
        .withColumn("__ex_dates", lit(null).cast("array<date>"))
    }
    // replay protection: a fine day already in the row's absorbed set
    // contributes nothing (NULL set = pre-provenance store → replace)
    val freshRows = joined.filter(
      col("__ex_dates").isNull || !array_contains(col("__ex_dates"), col("__d")))
    val slice = freshRows.groupBy("entity_id", "bucket").agg(
      sum(col("cnt")).as("__n_cnt"),
      sum(col("sum_dec")).as("__n_sum"),
      max(col("max_value")).as("__n_max"),
      collect_set(col("__d")).as("__n_dates"),
      first(col("__ex_cnt")).as("__ex_cnt"),
      first(col("__ex_sum")).as("__ex_sum"),
      first(col("__ex_max")).as("__ex_max"),
      first(col("__ex_dates")).as("__ex_dates"))
    // merge: existing partials count only when their provenance is
    // known (absorbed non-NULL); the merged sum re-casts to the type
    // sum(fine partials) yields — exactly what a one-shot downsample
    // writes — so the store schema is stable across runs
    val sumType = slice.schema("__n_sum").dataType
    val counted = col("__ex_dates").isNotNull
    val merged = slice.select(
      col("entity_id"), col("bucket"),
      (coalesce(when(counted, col("__ex_cnt")), lit(0L)) + col("__n_cnt")).as("cnt"),
      (coalesce(when(counted, col("__ex_sum")).cast(sumType), lit(0).cast(sumType))
        + col("__n_sum")).cast(sumType).as("sum_dec"),
      greatest(when(counted, col("__ex_max")), col("__n_max")).as("max_value"),
      sort_array(array_union(
        coalesce(when(counted, col("__ex_dates")), array().cast("array<date>")),
        col("__n_dates"))).as("absorbed_dates"))
    // a full replay (every expired day already absorbed) contributes
    // nothing — skip the write and just complete the drop
    if (!merged.isEmpty) upsert(spark, coarsePath, merged)
    retain(spark, finePath, keepFrom)
    expired
  }
}
