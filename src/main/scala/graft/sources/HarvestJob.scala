package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{AttributeStoreWriter, EntityRegistry, StoreFs, TrendStoreWriter}

/** Harvest job orchestration: the reference's `minerva harvest` loop.
  * A job description maps a source directory + format plugin to a
  * target store; processed files are tracked in a state table so
  * re-running the job only reads files that arrived since the last
  * run — the directory-watching ingest loop, as a deterministic
  * batch job.
  *
  * The reference's harvest loads three package kinds — trend,
  * attribute, and notification data packages (minerva/harvest with
  * storage/trend, storage/attribute, storage/notification targets);
  * `Job.target` selects the kind. Trend packages bucket onto the
  * granularity grid and row-level-upsert by (entity, bucket);
  * attribute packages append into the day-partitioned attribute
  * HISTORY (keyed upsert) and optionally refresh the materialized
  * current-value view; notification packages are irregular events,
  * upserted by (entity, bucket, event id) so file redelivery is
  * idempotent. Attribute/notification values keep their parsed types
  * (a status string is data, not a metric) — only trend metrics are
  * cast to double.
  *
  * Scale shape: the file listing and state are O(files) driver-side
  * metadata (exactly what the reference keeps in its job/processed
  * tables); the data path is one `spark.read` over ONLY the fresh
  * files followed by one row-level upsert into the store — no
  * re-read, no re-write of already-loaded days beyond the upsert's
  * own dirty-partition pruning.
  */
object HarvestJob {

  /** Job description — source directory, parser plugin, mapping, and
    * target store/state locations.
    *
    * `target` = trend | attribute | notification. `tieCol` names the
    * source column that distinguishes same-timestamp rows (attribute
    * and notification targets); when absent a deterministic content
    * hash stands in, so redelivered files upsert instead of
    * duplicating. `currentPath` (attribute target) refreshes the
    * materialized current-value view after each load. */
  final case class Job(sourceDir: String, format: String,
                       dnCol: String, entityComponent: String,
                       tsCol: String, tsFormat: String,
                       granularity: String,
                       storePath: String, statePath: String,
                       pattern: String = ".*", rowTag: String = "row",
                       registryPath: Option[String] = None,
                       target: String = "trend",
                       tieCol: Option[String] = None,
                       currentPath: Option[String] = None,
                       rejectPath: Option[String] = None) {
    require(Set("trend", "attribute", "notification")(target),
      s"target must be trend|attribute|notification, got: $target")
  }

  /** One run's outcome: files loaded this run vs. skipped as already
    * processed. */
  final case class RunResult(processed: Seq[String], skipped: Seq[String])

  /** Parse a set of source files through the job's format plugin.
    * Trend packages cast value columns to double (metrics);
    * attribute/notification packages keep the parsed types. */
  private def readPackage(spark: SparkSession, job: Job, paths: Seq[String]): Harvest.DataPackage = {
    val raw = job.format.toLowerCase match {
      case "csv"                 => spark.read.option("header", "true").csv(paths: _*)
      case "json" | "jsonlines"  => spark.read.json(paths: _*)
      case "xml"                 => spark.read.option("rowTag", job.rowTag).xml(paths: _*)
      case "parquet"             => spark.read.parquet(paths: _*)
      case f => throw new IllegalArgumentException(s"unknown harvest format: $f")
    }
    Harvest.DataPackage(job.granularity,
      Harvest.canonicalize(raw, job.dnCol, job.entityComponent, job.tsCol, job.tsFormat,
        castMetrics = job.target == "trend"))
  }

  private def processedFiles(spark: SparkSession, statePath: String): Set[String] = {
    StoreFs.recover(spark, statePath) // heal a swap that died mid-replace
    if (StoreFs.exists(spark, statePath))
      StoreFs.read(spark, statePath).select("file").collect().map(_.getString(0)).toSet
    else Set.empty
  }

  /** Align timestamps to the job's granularity grid — the reference
    * stores trend rows ON the grid, while vendor files carry off-grid
    * native timestamps. Delegates to [[TrendStore.bucket]] (calendar
    * truncation, duration grids, or "raw" native timestamps). */
  private[sources] def alignBucket(ts: Column, granularity: String): Column =
    graft.operators.TrendStore.bucket(ts, granularity)

  /** Continuous harvest: the streaming twin of [[run]]. The
    * reference's harvest daemon watches source directories
    * continuously; graft expresses that as the Structured Streaming
    * file source — its checkpointed file log replaces the batch state
    * table (each file is read exactly once across restarts), and each
    * micro-batch flows through the SAME canonicalize → align →
    * row-level-upsert path as the batch job, so a directory harvested
    * continuously converges to the identical store a one-shot
    * [[run]] over the same files produces.
    *
    * All three targets stream: each micro-batch lands through the
    * SAME [[load]] path as the batch job (trend row-level upsert /
    * attribute history append + current refresh / notification
    * exactly-once upsert), so a failure-replayed micro-batch upserts
    * onto its own rows instead of duplicating them.
    *
    * The file source needs a declared schema (no blocking inference
    * mid-stream): pass one, or the job samples the files already in
    * the directory with the batch reader. CSV/JSON only — streaming
    * XML isn't supported by the built-in source; vendor XML stays on
    * the batch loop.
    *
    * `glob` filters file NAMES (the streaming twin of the batch
    * job's regex `pattern` — the file source takes globs, not
    * regexes), so one mixed directory can feed a trend stream and a
    * notification stream side by side, each seeing only its files. */
  def stream(spark: SparkSession, job: Job, checkpointDir: String,
             schema: Option[org.apache.spark.sql.types.StructType] = None,
             glob: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val fmt = job.format.toLowerCase
    require(fmt == "csv" || fmt == "json" || fmt == "jsonlines" || fmt == "parquet",
      s"streaming harvest supports csv/json/parquet, got: ${job.format}")
    val sch = schema.getOrElse {
      val rd = spark.read.option("header", "true")
      glob.foreach(g => rd.option("pathGlobFilter", g))
      (fmt match {
        case "csv"     => rd.csv(job.sourceDir)
        case "parquet" => rd.parquet(job.sourceDir)
        case _         => rd.json(job.sourceDir)
      }).schema
    }
    val rs = spark.readStream.schema(sch).option("header", "true")
    glob.foreach(g => rs.option("pathGlobFilter", g))
    val raw = fmt match {
      case "csv"     => rs.csv(job.sourceDir)
      case "parquet" => rs.parquet(job.sourceDir)
      case _         => rs.json(job.sourceDir)
    }
    // The malformed-row split happens INSIDE foreachBatch. foreachBatch
    // is at-least-once (a crash between this batch's writes and the
    // checkpoint commit replays it), so the reject store lands through
    // [[writeRejects]] — per-source-file partition OVERWRITE — and a
    // replayed batch rewrites its own reject partitions instead of
    // appending duplicates (the data path is idempotent via upsert).
    val canonical = Harvest.canonicalize(raw, job.dnCol, job.entityComponent, job.tsCol,
      job.tsFormat, castMetrics = job.target == "trend")
    canonical.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (full: org.apache.spark.sql.DataFrame, _: Long) =>
        job.rejectPath.foreach { rp =>
          writeRejects(full.filter(col("ts").isNull), rp)
        }
        val batch = full.filter(col("ts").isNotNull)
          .withColumn("bucket", alignBucket(col("ts"), job.granularity))
        if (!batch.isEmpty) {
          job.registryPath.foreach { rp =>
            EntityRegistry.sync(batch.sparkSession, rp, batch, col("entity_dn"),
              lit(job.entityComponent.toLowerCase), col("entity_name"))
          }
          load(batch.sparkSession, job, batch)
        }
      }
      .start()
  }

  /** Idempotent reject-quarantine write. Rejects are tagged with their
    * source file and land partitioned on a hash of that file via
    * DYNAMIC partition overwrite — so any replay of the same input
    * (an at-least-once foreachBatch micro-batch, or a batch re-run
    * whose crash fell between the reject write and the processed-files
    * state commit) rewrites exactly its own files' reject partitions
    * with identical content instead of appending duplicates. Already-
    * committed files are never re-read, so their partitions are never
    * touched; distinct files hash to distinct partitions, so normal
    * runs compose like appends. */
  private def writeRejects(bad: DataFrame, rejectPath: String): Unit = {
    val keyed = bad
      .withColumn("_source_file", input_file_name())
      .withColumn("_reject_reason", lit("unparseable_ts"))
      .withColumn("p_file", hex(xxhash64(col("_source_file"))))
    if (!keyed.isEmpty)
      keyed.write.partitionBy("p_file")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").parquet(rejectPath)
  }

  /** The tie-breaker column for same-timestamp rows: the declared
    * source column, or a deterministic content hash over every value
    * column — the same content always hashes to the same id, so a
    * redelivered file upserts onto its own rows instead of
    * duplicating them. */
  private def withTie(rows: DataFrame, job: Job): DataFrame = job.tieCol match {
    case Some(c) => if (c == "event_id") rows else rows.withColumn("event_id", col(c))
    case None =>
      val valueCols = rows.columns
        .filterNot(Set("entity_id", "entity_dn", "entity_name", "ts", "bucket"))
      rows.withColumn("event_id", xxhash64(
        (col("entity_dn") +: col("ts").cast("string") +:
          valueCols.map(c => col(c).cast("string"))): _*))
  }

  /** Land a canonicalized package into the job's target store kind. */
  private def load(spark: SparkSession, job: Job, rows: DataFrame): Unit =
    job.target match {
      case "trend" =>
        TrendStoreWriter.upsert(spark, job.storePath, rows,
          keyCols = Seq("entity_id", "bucket"))
      case "attribute" =>
        // history rows live at the NATIVE timestamp (append re-derives
        // bucket = ts); the current view is a separate table refreshed
        // after the load — the reference's attribute store shape.
        AttributeStoreWriter.append(spark, job.storePath,
          withTie(rows, job).drop("bucket"))
        job.currentPath.foreach { cp =>
          AttributeStoreWriter.materializeCurrent(spark, job.storePath, cp)
        }
      case "notification" =>
        // irregular events: keyed by (entity, bucket, event id) so the
        // same notification delivered twice lands once.
        TrendStoreWriter.upsert(spark, job.storePath, withTie(rows, job),
          keyCols = Seq("entity_id", "bucket", "event_id"))
    }

  /** Run the job once: list the source directory, skip files already
    * in state, parse + row-level-upsert the fresh ones, extend state.
    * Malformed rows (unparseable timestamp) are quarantined out
    * rather than failing the load.
    *
    * Single-writer: the whole run holds the same best-effort lease as
    * materialization (`<statePath>.lease` — see Materialize's
    * concurrency contract). Two cron harvesters racing one target
    * would each read the pre-run processed-file state and upsert the
    * same files; the second run now refuses loudly instead. */
  def run(spark: SparkSession, job: Job): RunResult =
    graft.operators.Materialize.withLease(spark, job.statePath + ".lease") {
      runLocked(spark, job)
    }

  private def runLocked(spark: SparkSession, job: Job): RunResult = {
    import spark.implicits._
    val all = StoreFs.list(spark, job.sourceDir).map(_.toString)
      .filter(f => f.substring(f.lastIndexOf('/') + 1).matches(job.pattern))
      .sorted
    val seen = processedFiles(spark, job.statePath)
    val (old, fresh) = all.partition(seen)
    if (fresh.isEmpty) return RunResult(Seq.empty, old)

    val pkg = readPackage(spark, job, fresh)
    // Auditable quarantine (opt-in): malformed rows land in a reject
    // store with the offending file instead of vanishing — the dn and
    // metric columns survive for inspection. Idempotent per source
    // file ([[writeRejects]]): a crash between this write and the
    // state commit re-runs the same files, and the re-run OVERWRITES
    // its own reject partitions instead of appending duplicates.
    job.rejectPath.foreach { rp =>
      writeRejects(pkg.df.filter(col("ts").isNull), rp)
    }
    val rows = pkg.df.filter(col("ts").isNotNull)
      .withColumn("bucket", alignBucket(col("ts"), job.granularity))
    // The reference's directory behavior: a harvest registers unseen
    // entities on the fly (opt-in via registryPath).
    job.registryPath.foreach { rp =>
      EntityRegistry.sync(spark, rp, rows, col("entity_dn"),
        lit(job.entityComponent.toLowerCase), col("entity_name"))
    }
    load(spark, job, rows)

    // State = previously processed ∪ this run; temp-then-swap with a
    // checked rename, same discipline as materialization state.
    val newState = (seen ++ fresh).toSeq.sorted.toDF("file")
    StoreFs.rewrite(spark, job.statePath)(newState.coalesce(1).write.mode("overwrite").parquet(_))
    RunResult(fresh, old)
  }
}
