package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental materialization: the reference's modified-log →
  * dirty-set → recompute-only-dirty loop
  * (minerva/storage/trend/materialization, the `minerva materialize`
  * CLI), Spark-first.
  *
  * State is a tiny parquet table `(day, watermark, n_rows)` — one row
  * per materialized day-partition, carrying the max source timestamp
  * that run saw. A run:
  *
  *   1. aggregates the source's modified log per day (one scan of the
  *      source — at 100 TB this is the only full pass, and it is a
  *      partial-agg groupBy, so the shuffle carries day partials);
  *   2. anti-joins it against state to find dirty days (new data or
  *      days never processed);
  *   3. re-aggregates ONLY the dirty days — the source scan is
  *      filtered to those days, so a partitioned source prunes to the
  *      dirty partitions — and partition-upserts them into the target
  *      store (`TrendStoreWriter.write` dynamic overwrite touches only
  *      those day directories);
  *   4. merges the new watermarks into state.
  *
  * The dirty-day list does come to the driver — it is O(days), the
  * same size Minerva keeps in its materialization_state table, and it
  * is what makes the target-store write prune instead of rewriting
  * history.
  *
  * Concurrency contract: ONE writer per target store. Minerva
  * serializes competing materialization runs through its job tables;
  * graft assumes the single-scheduler deployment Spark jobs normally
  * run under (Airflow/cron with one slot per target). The
  * temp-then-swap in the state write protects against crashes, not
  * against two concurrent runs of the same target — those are REFUSED
  * loudly by a best-effort lease file next to the state
  * (`<statePath>.lease`, [[StoreFs.acquireLease]]): a second run of
  * the same target throws [[ConcurrentRunException]] instead of
  * racing the swap. A lease left by a CRASHED (kill -9) run is taken
  * over once older than `leaseTtlMs` (default 6 h — longer than any
  * sane incremental run; a run that legitimately exceeds the TTL must
  * raise it, or takeover can fire mid-run). The lease is advisory and
  * near-atomic on S3A — a belt for the scheduler's suspenders, not
  * distributed consensus.
  */
object Materialize {

  /** Another run holds the target's lease — refuse, don't race. */
  final class ConcurrentRunException(msg: String) extends IllegalStateException(msg)

  /** Default lease age after which a holder is presumed crashed. */
  val DefaultLeaseTtlMs: Long = 6L * 3600 * 1000

  private def holderId: String =
    s"${java.net.InetAddress.getLocalHost.getHostName}:" +
      s"${java.lang.management.ManagementFactory.getRuntimeMXBean.getName}"

  /** Run `body` holding the single-writer lease at `leasePath`.
    * Throws [[ConcurrentRunException]] when another live run holds
    * it; an exception inside `body` still releases (the crash the
    * lease protects against is a dead JVM, which the TTL handles). */
  def withLease[T](spark: SparkSession, leasePath: String,
                   ttlMs: Long = DefaultLeaseTtlMs)(body: => T): T = {
    if (!StoreFs.acquireLease(spark, leasePath, holderId, ttlMs))
      throw new ConcurrentRunException(
        s"another materialization run holds $leasePath " +
          s"(held by: ${try StoreFs.readText(spark, leasePath).trim catch { case _: Exception => "?" }}); " +
          "concurrent runs of one target race the state swap — serialize them, " +
          "or delete the lease if its holder is known dead")
    try body finally StoreFs.releaseLease(spark, leasePath)
  }

  /** Per-day modified log of a trend source: `(day, last_modified,
    * n_rows)`. This is the store-level twin of
    * `TrendStore.modifiedLog` (which is per-entity). */
  def modifiedLogByDay(source: DataFrame, ts: Column): DataFrame =
    source.groupBy(to_date(ts).as("day"))
      .agg(max(ts).as("last_modified"), count(lit(1)).as("n_rows"))

  /** Days needing (re)materialization: no state row yet, source data
    * newer than the recorded watermark, or a row-count change. The
    * count check matters because the watermark is the max EVENT
    * timestamp: a late row landing EARLIER in an already-seen day
    * leaves the max unchanged, and on watermark alone that day would
    * silently never be recomputed. */
  def dirtySet(modLog: DataFrame, state: DataFrame): DataFrame =
    modLog.join(
        state.select(col("day"), col("watermark"), col("n_rows").as("__state_rows")),
        Seq("day"), "left")
      .filter(col("watermark").isNull || col("last_modified") > col("watermark") ||
        col("n_rows") =!= col("__state_rows"))
      .select(col("day"), col("last_modified"), col("n_rows"))

  private def emptyState(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("day", DateType), StructField("watermark", TimestampType),
        StructField("n_rows", LongType))))
  }

  /** Read materialization state, or an empty state if none exists.
    * Hadoop FS existence check: state lives next to the store on
    * whatever filesystem the cluster uses (file://, HDFS, S3A). */
  def readState(spark: SparkSession, statePath: String): DataFrame = {
    StoreFs.recover(spark, statePath) // heal a swap that died mid-replace
    if (StoreFs.exists(spark, statePath)) StoreFs.read(spark, statePath)
    else emptyState(spark)
  }

  /** One incremental materialization run. Returns the dirty days that
    * were recomputed (empty when the target is already current).
    * Holds the target's single-writer lease for the whole run (see
    * the object scaladoc). */
  def run(source: DataFrame, entity: Column, ts: Column, value: Column,
          granularity: String, statePath: String, storePath: String,
          leaseTtlMs: Long = DefaultLeaseTtlMs): Array[java.sql.Date] =
    withLease(source.sparkSession, statePath + ".lease", leaseTtlMs) {
      runLocked(source, entity, ts, value, granularity, statePath, storePath)
    }

  private def runLocked(source: DataFrame, entity: Column, ts: Column, value: Column,
                        granularity: String, statePath: String,
                        storePath: String): Array[java.sql.Date] = {
    val spark = source.sparkSession
    val state = readState(spark, statePath)
    val dirty = dirtySet(modifiedLogByDay(source, ts), state)
    // O(materialized days): the same cardinality Minerva keeps in its
    // materialization_state table — not a data-sized collect.
    val dirtyRows = dirty.collect()
    val dirtyDays = dirtyRows.map(_.getDate(0))
    if (dirtyDays.nonEmpty) {
      // A granularity coarser than a day writes buckets whose p_date
      // partition holds MANY source days, and the dynamic overwrite
      // below rewrites that partition WHOLE — so the recompute must
      // re-read every source day of each affected bucket, not just
      // the dirty ones (a late Jan-17 alone would otherwise rewrite
      // the January bucket with one day's data). Same date_trunc
      // predicate shape as runDerived's parent re-read.
      val spansDays = Set("week", "month", "quarter", "year")(granularity.trim.toLowerCase)
      val scanFilter =
        if (spansDays) {
          val buckets = dirtyDays.map(d => truncDay(granularity, d)).distinct.toSeq
          to_date(date_trunc(granularity, ts)).isin(buckets: _*)
        } else to_date(ts).isin(dirtyDays.toSeq: _*)
      val rolled = TrendStore.rollup(source.filter(scanFilter), entity, ts, value, granularity)
      TrendStoreWriter.write(rolled, storePath)
      // The state delta is rebuilt from the ALREADY-COLLECTED dirty
      // rows, not the lazy `dirty` plan: re-evaluating that plan would
      // scan the full source a second time, and — worse — rows arriving
      // between the two scans would advance the recorded watermark past
      // what was actually materialized, permanently skipping them.
      val delta = spark.createDataFrame(
        java.util.Arrays.asList(dirtyRows: _*), dirty.schema)
        .select(col("day"), col("last_modified").as("watermark"), col("n_rows"))
      val newState = state.filter(!col("day").isin(dirtyDays.toSeq: _*))
        .unionByName(delta)
      // State is tiny; rewrite via temp-then-swap on the Hadoop FS,
      // with the rename result checked (a silently failed rename would
      // leave stale state after the store already advanced).
      StoreFs.rewrite(spark, statePath)(newState.coalesce(1).write.mode("overwrite").parquet(_))
    }
    dirtyDays
  }

  /** One materialization in a chain. A ROOT definition (`valueCol`
    * set) aggregates a raw source exactly like [[run]]; a DERIVED
    * definition (`valueCol` None) re-aggregates another definition's
    * output store with [[TrendStore.reRollup]] — exact partials, so
    * chaining loses nothing. A derived definition with
    * `relationPath` set is an ENTITY-AGGREGATION step (the
    * reference's entity aggregation materializes derived stores —
    * region-level from cell-level): after the time re-aggregation it
    * rolls the partials up the relation table at `relationPath` via
    * [[TrendStore.entityReRollup]], so the derived store is keyed by
    * PARENT entities and stays a standard trend store for further
    * chain steps. */
  final case class MatDef(name: String, sourcePath: String,
                          storePath: String, statePath: String,
                          granularity: String,
                          entityCol: String = "entity_id", tsCol: String = "ts",
                          valueCol: Option[String] = None,
                          relationPath: Option[String] = None,
                          relationChild: String = "child_dn",
                          relationParent: String = "parent_dn")

  /** Driver-side twin of `date_trunc(granularity, day)` → the p_date
    * of the coarser bucket containing `day`. */
  private def truncDay(granularity: String, day: java.sql.Date): java.sql.Date = {
    val d = day.toLocalDate
    val t = granularity.toLowerCase match {
      case "second" | "minute" | "hour" | "day" => d
      case "week"    => d.minusDays(d.getDayOfWeek.getValue - 1L) // Monday, as date_trunc
      case "month"   => d.withDayOfMonth(1)
      case "quarter" => d.withDayOfMonth(1).withMonth((d.getMonthValue - 1) / 3 * 3 + 1)
      case "year"    => d.withDayOfYear(1)
      case g => throw new IllegalArgumentException(s"unsupported chain granularity: $g")
    }
    java.sql.Date.valueOf(t)
  }

  /** Materialize a whole DEPENDENCY CHAIN of definitions — the
    * reference's materialization daemon processes a set of
    * materializations where derived stores feed further derived
    * stores (raw → hourly → daily → monthly). Definitions are run in
    * topological order of their store-path dependencies, and each
    * derived step consumes the UPSTREAM step's dirty-day set instead
    * of re-deriving dirtiness from data: a late arrival recomputed at
    * the raw step names exactly the day-partitions every downstream
    * step must refresh, mapped through the step's granularity (a
    * dirty Jan-17 names the Jan-01 monthly bucket). An untouched
    * upstream means a no-op downstream — no scans, no writes.
    *
    * Scale shape per derived step: the parent read prunes to the
    * p_date partitions of the affected coarse buckets (the filter is
    * a deterministic function of the partition column), reRollup is
    * one partial-agg shuffle over those partitions only, and the
    * dynamic-overwrite write touches only the affected target
    * partitions. Driver traffic stays O(dirty days) per step.
    *
    * Returns each definition's recomputed target days, in run order. */
  def runAll(spark: SparkSession, defs: Seq[MatDef]): Seq[(String, Array[java.sql.Date])] = {
    require(defs.map(_.storePath).distinct.size == defs.size,
      "duplicate storePath across materialization defs")
    require(defs.map(_.name).distinct.size == defs.size,
      "duplicate name across materialization defs")
    val produced = defs.map(_.storePath).toSet
    val dirtyByStore = scala.collection.mutable.Map.empty[String, Array[java.sql.Date]]
    val results = scala.collection.mutable.ArrayBuffer.empty[(String, Array[java.sql.Date])]
    var remaining = defs
    while (remaining.nonEmpty) {
      val (ready, blocked) = remaining.partition(d =>
        !produced(d.sourcePath) || dirtyByStore.contains(d.sourcePath))
      if (ready.isEmpty)
        throw new IllegalArgumentException(
          s"materialization defs form a cycle: ${blocked.map(_.name).mkString(", ")}")
      ready.foreach { d =>
        val recomputed =
          if (!produced(d.sourcePath)) {
            require(d.relationPath.isEmpty,
              s"root def ${d.name}: entity aggregation (relationPath) is a DERIVED " +
                "step — roll the raw source up time first, then up the relation")
            val v = d.valueCol.getOrElse(throw new IllegalArgumentException(
              s"root def ${d.name}: sourcePath is not another def's store, valueCol required"))
            run(StoreFs.read(spark, d.sourcePath, mergeSchema = true),
              col(d.entityCol), col(d.tsCol),
              col(v), d.granularity, d.statePath, d.storePath)
              .map(day => truncDay(d.granularity, day)).distinct
          } else runDerived(spark, d, dirtyByStore(d.sourcePath))
        dirtyByStore(d.storePath) = recomputed
        results += d.name -> recomputed
      }
      remaining = blocked
    }
    results.toSeq
  }

  /** Refresh the target buckets of `d` affected by the upstream dirty
    * days. No own state: correctness is inductive — upstream
    * recomputed exactly those days, so exactly their coarse buckets
    * are stale here. The step's statePath hosts the single-writer
    * lease (derived steps keep no state table, but the lease location
    * stays uniform with root steps). */
  private def runDerived(spark: SparkSession, d: MatDef,
                         upstreamDirty: Array[java.sql.Date]): Array[java.sql.Date] = {
    val targetDays = upstreamDirty.map(truncDay(d.granularity, _)).distinct.toSeq
    if (targetDays.isEmpty) return Array.empty
    withLease(spark, d.statePath + ".lease") {
      // All parent days of the affected coarse buckets (a dirty Jan-17
      // forces re-reading ALL of January for the monthly bucket); the
      // predicate is a function of p_date, so the scan partition-prunes.
      // mergeSchema: the upstream store may have evolved (metric column
      // added mid-history) — schema must not depend on which footer
      // parquet samples.
      val parent = StoreFs.read(spark, d.sourcePath, mergeSchema = true)
        .filter(to_date(date_trunc(d.granularity, col("p_date"))).isin(targetDays: _*))
        .drop("p_date")
      val rolled = TrendStore.reRollup(parent, d.granularity)
      val out = d.relationPath.fold(rolled) { rp =>
        TrendStore.entityReRollup(rolled, StoreFs.read(spark, rp),
          d.relationChild, d.relationParent)
      }
      TrendStoreWriter.write(out, d.storePath)
      targetDays.toArray
    }
  }
}
