package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** SparkSession factory with the settings every graft job wants.
  *
  * Mirrors the session posture the reference assumes from its
  * PostgreSQL backend (UTC timestamps, deterministic results) while
  * enabling the Spark-side scale features: AQE (runtime re-plan,
  * skew-join splitting, partition coalescing) and a shuffle
  * parallelism matched to the machine instead of the 200 default.
  */
object Engine {
  /** Resolved shuffle parallelism: the validated manual override, or
    * None for "derive it". A bad knob value must fail at session
    * build with a message naming the knob — not deep inside Spark at
    * the first shuffle. */
  private[graft] def shufflePartitionsOverride: Option[Int] =
    sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS").map { v =>
      val n =
        try v.trim.toInt
        catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"SPARK_GRAFT_SHUFFLE_PARTITIONS must be a positive integer, got '$v'")
        }
      require(n > 0, s"SPARK_GRAFT_SHUFFLE_PARTITIONS must be > 0, got '$v'")
      n
    }

  /** Heap-aware AQE initial shuffle parallelism.
    *
    * Shuffle parallelism is a DEPLOYMENT number: 32 matches this
    * machine's comfortable heap-per-task; a memory-tight executor
    * needs MORE partitions so each task's shuffle share fits its
    * heap slice. The memory-bounded sf10 rehearsal (4 GB heap / 32
    * task threads = 128 MB per task) showed exactly that: the d45
    * pair+keeper aggregations flap 1-in-5 at 32 partitions and pass
    * deterministically at 256. Rather than a manual env escape, the
    * engine derives the AQE starting point from heap/task at session
    * build: below a 512 MB-per-task comfort line, the initial
    * partition count scales as ~1 GB / (heap per task), rounded to a
    * power of two (4 GB/32 threads -> 256; untouched at 24 GB/32).
    * Only `initialPartitionNum` moves — AQE coalescing folds small
    * boards back to target-size partitions, so the fixed-256
    * objection (+0.4-4.5 s/key on sf0.1 from 8x map-side buckets on
    * EVERY shuffle, coalesced or not) applies far more weakly here,
    * and the sf0.1 board was re-measured inside the ambient band. */
  private[graft] def initialShufflePartitions(taskThreads: Int, base: Int): Int =
    initialShufflePartitions(taskThreads, base, Runtime.getRuntime.maxMemory())

  private[graft] def initialShufflePartitions(taskThreads: Int, base: Int,
      heapBytes: Long): Int = {
    val perTask = heapBytes.toDouble / math.max(1, taskThreads)
    val comfort = (512L << 20).toDouble
    if (perTask >= comfort) base
    else {
      val exp = math.max(1L, math.round(math.log((1024L << 20) / perTask) / math.log(2))).toInt
      math.min(1024, base << math.min(exp, 5))
    }
  }

  /** Heap-aware parquet reader batch size (the same deployment
    * derivation as [[initialShufflePartitions]], applied to the SCAN
    * side). The vectorized reader grows one contiguous on-heap byte
    * buffer per string column to hold a whole 4096-row batch; on a
    * corpus with power-law document lengths, a batch around a 10 MB
    * giant document reserves 20 MB+ PER READER TASK, and 32
    * concurrent readers under a 128 MB-per-task heap die exactly
    * there (the zipf stress board's d20/d40 failure signature:
    * "Cannot reserve additional contiguous bytes in the vectorized
    * reader"). Below the 512 MB-per-task comfort line the batch drops
    * to 512 rows: a giant row still costs its own size — that is the
    * row's honest payload — but the 4096-row tail of ordinary
    * documents no longer rides in the same buffer on top of it.
    * Unchanged (4096, Spark's default) on comfortable heaps. */
  private[graft] def readerBatchRows(taskThreads: Int,
      heapBytes: Long = Runtime.getRuntime.maxMemory()): Int = {
    val perTask = heapBytes.toDouble / math.max(1, taskThreads)
    if (perTask >= (512L << 20).toDouble) 4096 else 512
  }

  /** Heap-aware SCAN concurrency floor. Spark sizes file splits as
    * min(maxPartitionBytes, max(openCost, totalBytes /
    * minPartitionNum)) with minPartitionNum defaulting to the core
    * count — so a 600 MB table fans out to 32 concurrent reader
    * tasks, each holding its own column-vector batch. Fine on
    * comfortable heaps; under 128 MB/task with multi-MB rows, 32
    * concurrent readers' untracked vector memory (each batch carries
    * any giant row it contains IN FULL — that part is irreducible) is
    * what exhausts the heap even after [[readerBatchRows]] trims the
    * per-batch tail (measured: d40/d41/d43 on the zipf stress cell
    * still died with batch=512). Below the comfort line the floor
    * drops to threads/4: splits grow, concurrent readers drop 4×,
    * scan-stage wall time stretches correspondingly — the honest
    * starved-executor trade — and every post-scan stage keeps its
    * full parallelism (shuffle partitions are derived SEPARATELY, and
    * wider, by [[initialShufflePartitions]]). */
  private[graft] def scanMinPartitions(taskThreads: Int,
      heapBytes: Long = Runtime.getRuntime.maxMemory()): Int = {
    val perTask = heapBytes.toDouble / math.max(1, taskThreads)
    if (perTask >= (512L << 20).toDouble) taskThreads
    else math.max(1, taskThreads / 4)
  }

  /** Companion to [[scanMinPartitions]]: the split-size CEILING must
    * rise with the concurrency floor or the floor is a no-op past
    * small tables. minPartitionNum only floors the partition count —
    * Spark sizes splits as min(maxPartitionBytes, max(openCost,
    * totalBytes / minPartitionNum)) — so with the default 128 MB
    * maxPartitionBytes, any table larger than (threads/4)·128 MB
    * splits at 128 MB regardless and scan concurrency is right back
    * at full width (ADVICE r17: the '4× fewer concurrent readers'
    * protection silently vanished at exactly the larger scales it
    * targets). Under the starvation branch the ceiling rises 4× to
    * 512 MB, matching the 4× concurrency trim, so splits can actually
    * grow at ANY table size; unchanged (128 MB, Spark's default) on
    * comfortable heaps. A 512 MB split is streamed batch-by-batch by
    * the parquet reader — split size bounds scheduling granularity,
    * not resident memory ([[readerBatchRows]] bounds that). */
  private[graft] def scanMaxPartitionBytes(taskThreads: Int,
      heapBytes: Long = Runtime.getRuntime.maxMemory()): Long = {
    val perTask = heapBytes.toDouble / math.max(1, taskThreads)
    if (perTask >= (512L << 20).toDouble) 128L << 20 else 512L << 20
  }

  /** AQE partition-coalescing byte FLOOR (default 1 MB in Spark).
    * With parallelismFirst (default on) AQE targets
    * max(totalShuffleBytes / parallelism, minPartitionSize) per
    * coalesced partition — so any shuffle stage whose TOTAL bytes sit
    * under parallelism × 1 MB collapses below full core width even
    * though Spark explicitly tries to respect parallelism first. That
    * byte-blind floor starves exactly the compute-DENSE stages whose
    * work is not proportional to their input bytes: the dedup pair
    * fan-out reads ~1 MB of posting lists and then does df²-bounded
    * pair generation + aggregation behind it (measured r18, sf0.1:
    * the d02/d22/d45/d49/d51 pair stage ran as 4 AQE-coalesced tasks
    * of ~1.2 s wall where 32 tasks finish in ~0.3 s — stage-level
    * event-log evidence in OPTIMIZATION_r18.md). 64 KB keeps tiny
    * boards on full cores; at any real deployment scale
    * totalBytes/parallelism is far above BOTH floors, so the setting
    * is inert there — it is a small-shuffle fix, not a local[32]
    * tuning (and the per-partition scheduling cost it can add is
    * bounded by parallelism × ~ms). */
  private[graft] val coalesceMinPartitionSize: String = "64k"

  /** Per-round checkpoint for the iterative loops (connected
    * components, transitive closure, fringe trim). Default:
    * `localCheckpoint` — the cheapest lineage cut, but its blocks
    * live only on their executor and a LAZY local checkpoint is NOT
    * recomputable, so an executor loss mid-loop fails the job. On
    * local[N] that executor is the driver and the trade is free; a
    * CLUSTER deployment opts into RELIABLE checkpoints by setting
    * `spark.graft.reliableLoopCheckpoints=true` on the session AND a
    * `sparkContext.setCheckpointDir` (HDFS/S3): each round then
    * persists to the checkpoint dir and survives executor loss, at
    * the documented cost of one extra computation + write per round
    * (reliable checkpointing recomputes the plan to write it; set
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` to reap
    * superseded rounds' files). The loops' release discipline
    * (ColumnBridge.unpersistCheckpointed) is unaffected: the reliable
    * root is also a LogicalRDD and the block-level unpersist is a
    * harmless no-op for file-backed rounds. Wiring pinned by
    * EngineSpec. */
  private[graft] def loopCheckpoint(df: DataFrame,
      storage: Option[StorageLevel] = None): DataFrame = {
    val spark = df.sparkSession
    val reliable = spark.conf
      .get("spark.graft.reliableLoopCheckpoints", "false").toBoolean
    if (reliable) {
      require(spark.sparkContext.getCheckpointDir.isDefined,
        "spark.graft.reliableLoopCheckpoints=true requires " +
          "sparkContext.setCheckpointDir(...)")
      df.checkpoint(false)
    } else storage.fold(df.localCheckpoint(false))(s =>
      df.localCheckpoint(false, s))
  }

  /** Core count for a standalone main: `SPARK_GRAFT_CPUS` (a count or
    * "*") when set, else that main's own default. The one place the
    * knob is read; [[session]] resolves "*". */
  def cores(default: String): String = sys.env.getOrElse("SPARK_GRAFT_CPUS", default)

  /** The one SparkSession builder in graft: every main, spec and
    * benchmark runs on this configuration. */
  def session(appName: String = "graft", cores: String = "*"): SparkSession = {
    val threads =
      if (cores == "*") Runtime.getRuntime.availableProcessors() else cores.toInt
    val base = shufflePartitionsOverride.getOrElse(32)
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", base.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        coalesceMinPartitionSize)
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.columnarReaderBatchSize",
        readerBatchRows(threads).toString)
      .config("spark.sql.files.minPartitionNum",
        scanMinPartitions(threads).toString)
      .config("spark.sql.files.maxPartitionBytes",
        scanMaxPartitionBytes(threads).toString)
      .config("spark.ui.enabled", "false")
      // in-JVM chmod for file:// writes (see LocalFs)
      .config("spark.hadoop.fs.file.impl", classOf[graft.operators.LocalFs].getName)
    // Manual override wins outright (the documented sizing escape);
    // otherwise a heap-starved JVM starts its shuffles wider and lets
    // AQE coalesce back down.
    if (shufflePartitionsOverride.isEmpty) {
      builder.config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        initialShufflePartitions(threads, base).toString)
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
