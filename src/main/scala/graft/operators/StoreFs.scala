package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.graft.DriverFooterParquet

/** Filesystem access for store/state management, through the Hadoop
  * `FileSystem` API so the same code runs on `file://` (tests),
  * HDFS, and S3A — a 100 TB deployment never stores state on a
  * driver-local disk, and `java.io.File` silently reports "absent"
  * there, which would re-materialize everything on every run.
  */
object StoreFs {

  def fs(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  def exists(spark: SparkSession, path: String): Boolean = {
    val (f, p) = fs(spark, path)
    f.exists(p)
  }

  /** `listStatus` names, or empty when the directory doesn't exist. */
  def list(spark: SparkSession, path: String): Seq[Path] = {
    val (f, p) = fs(spark, path)
    if (f.exists(p)) f.listStatus(p).toSeq.map(_.getPath) else Seq.empty
  }

  /** Identity of a directory tree's current contents: (file count,
    * Σ bytes, Σ mtime) over every file under `path`, or "absent".
    * Driver FS metadata only, no Spark job. Driver-side caches of
    * index data (ANN quantizers, the s18 export guard) key on it, so
    * any rewrite of the tree forces a re-read. Walks with `listStatus`:
    * `listFiles` builds a `LocatedFileStatus` per file, which on
    * file:// forks an `ls -ld` to load permissions this never reads. */
  def fingerprint(spark: SparkSession, path: String): String = {
    val (f, p) = fs(spark, path)
    if (!f.exists(p)) return "absent"
    var n = 0L; var bytes = 0L; var mt = 0L
    def walk(d: Path): Unit = f.listStatus(d).foreach { s =>
      if (s.isDirectory) walk(s.getPath)
      else { n += 1; bytes += s.getLen; mt += s.getModificationTime }
    }
    walk(p)
    s"$n-$bytes-$mt"
  }

  /** Open a parquet table graft wrote: `spark.read.parquet` with
    * Spark's `mergeSchema` option, one listing, and the schema read
    * from up to 32 footers on the driver ([[DriverFooterParquet]]),
    * not in a Spark job. Schemas, rows and errors are Spark's. */
  def read(spark: SparkSession, path: String, mergeSchema: Boolean = false): DataFrame =
    reader(spark, mergeSchema).load(path)

  /** The reader behind [[read]], for multi-path or `basePath` opens. */
  private[graft] def reader(spark: SparkSession, mergeSchema: Boolean): DataFrameReader =
    spark.read.format(classOf[DriverFooterParquet].getName).option("mergeSchema", mergeSchema)

  /** Checked recursive delete: a no-op when `path` is absent, an
    * `IOException` when it exists and cannot be removed. */
  def delete(spark: SparkSession, path: String): Unit = {
    val (f, p) = fs(spark, path)
    if (f.exists(p) && !f.delete(p, true))
      throw new java.io.IOException(s"failed to delete $path")
  }

  /** Write a small text file (overwrite) — sidecar metadata like the
    * near-dedup index params. Driver-side, O(bytes). */
  def writeText(spark: SparkSession, path: String, content: String): Unit = {
    val (f, p) = fs(spark, path)
    val out = f.create(p, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Read a small text file written by [[writeText]]. */
  def readText(spark: SparkSession, path: String): String = {
    val (f, p) = fs(spark, path)
    val in = f.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** Rewrite the table or file at `path` crash-safely: heal a torn
    * earlier swap, clear a stale `<path>.tmp` left by a dead run (a
    * partitioned overwrite under dynamic partition-overwrite mode
    * would otherwise keep its junk partitions), let `write` produce
    * the new state at the tmp path, then [[replace]] it in. */
  def rewrite(spark: SparkSession, path: String)(write: String => Unit): Unit = {
    recover(spark, path)
    val tmp = path + ".tmp"
    delete(spark, tmp)
    write(tmp)
    replace(spark, tmp, path)
  }

  /** Replace `dest` with `src` via a backup swap: the old `dest` is
    * renamed aside to `dest.bak` BEFORE `src` moves into place, and the
    * backup is deleted last. A crash at any point leaves either the new
    * state at `dest` or the old state recoverable at `dest.bak` — never
    * a window with NO state, which for materialization state would
    * silently trigger a full re-materialization and for harvest state a
    * re-upsert of already-loaded files. `recover` restores the backup
    * if a previous swap died between the two renames. */
  private[graft] def replace(spark: SparkSession, src: String, dest: String): Unit = {
    val (f, d) = fs(spark, dest)
    val bak = new Path(dest + ".bak")
    if (f.exists(bak) && !f.delete(bak, true))
      throw new java.io.IOException(s"failed to clear stale backup $bak")
    if (f.exists(d) && !f.rename(d, bak))
      throw new java.io.IOException(s"failed to move $dest aside to $bak")
    if (!f.rename(new Path(src), d)) {
      // Try to roll the old state back before failing.
      if (f.exists(bak)) f.rename(bak, d)
      throw new java.io.IOException(s"failed to rename $src to $dest")
    }
    f.delete(bak, true) // best-effort; a leftover bak is cleared next swap
  }

  /** Restore `dest` from a leftover `dest.bak` if a previous [[rewrite]]
    * crashed after moving the old state aside but before the new state
    * landed. No-op when `dest` exists or no backup is present. */
  def recover(spark: SparkSession, dest: String): Boolean = {
    val (f, d) = fs(spark, dest)
    val bak = new Path(dest + ".bak")
    if (!f.exists(d) && f.exists(bak)) f.rename(bak, d) else false
  }

  /** Best-effort exclusive lease: atomically create the lease file
    * (`create` with overwrite=false — atomic on HDFS and file://;
    * near-atomic on S3A, hence "best-effort") carrying the holder id
    * and acquisition time. An existing lease older than `ttlMs` (by
    * filesystem modification time) is treated as abandoned by a
    * crashed holder and taken over. Returns whether the lease was
    * acquired. This is an ADVISORY lock for single-writer protocols
    * (materialization state swaps): it turns two concurrent runs of
    * the same target into one run + one loud refusal, not a
    * distributed-consensus guarantee. */
  def acquireLease(spark: SparkSession, path: String, holder: String,
                   ttlMs: Long): Boolean = {
    val (f, p) = fs(spark, path)
    def tryCreate(): Boolean =
      try {
        val out = f.create(p, false)
        try out.write(s"$holder ${System.currentTimeMillis()}"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    tryCreate() || {
      val age =
        try System.currentTimeMillis() - f.getFileStatus(p).getModificationTime
        catch { case _: java.io.FileNotFoundException => Long.MinValue }
      // takeover of an abandoned lease: delete + re-race the create —
      // if two takeovers race, exactly one atomic create wins
      age > ttlMs && { f.delete(p, false); tryCreate() }
    }
  }

  /** Release a lease taken by [[acquireLease]] (idempotent). */
  def releaseLease(spark: SparkSession, path: String): Unit = {
    val (f, p) = fs(spark, path)
    f.delete(p, false)
  }
}
