package graftbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One benchmark workload: a closed loop with a single client. */
abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark
  def trace: Trace = ctx.trace
  def seed: Long = ctx.seed

  /** Generate the seeded inputs under `dir`, preload stores and build
    * indexes. Returns the generator's record of the files it wrote. */
  def setup(dir: String): Gen.Files
  /** Number of ops in one full rotation of the op mix. */
  def mixLength: Int
  /** Untimed rotations before the timed window, so the JIT, Spark
    * codegen and driver caches settle. A count, not a time, so every
    * run's window starts at the same point of the op sequence. */
  def warmupRotations: Int
  def opKind(i: Int): String
  /** Untimed: deliver what op `i` consumes (its source files arrive). */
  def prepare(i: Int): Unit = ()
  /** Run op `i` once; returns the work items it completed. */
  def op(i: Int): Long
  /** Correctness checks on what the timed ops returned (name → passed). */
  def check(): Seq[(String, Boolean)]
  /** Bytes on disk of everything the workload's stores and indexes hold. */
  def diskBytes(): Long
  /** Items those bytes hold (source rows, documents, vectors). */
  def itemsStored(): Long
  /** Workload-specific figures printed next to the end-to-end metrics,
    * given the timed-window op times by op kind. */
  def extra(byKind: Map[String, Iterable[Double]]): Seq[(String, Double, String)] = Nil
  /** Per-layer figures only the workload knows (traced run). */
  def layerFigures(): Map[String, Double] = Map.empty
  /** The end-to-end names the workload's op latency and throughput go by. */
  def latencyName: String
  def throughputName: String
  def throughputUnit: String
  def diskName: String
}

final class Ctx(val spark: SparkSession, val trace: Trace, val seed: Long,
                val corruptExpected: Boolean) {
  /** True inside the timed window: only those ops' results are checked. */
  var recording = false
  /** A corrupted run adds this to one expected value per check. */
  def skew: Long = if (corruptExpected) 1L else 0L
}

/** Runs one workload for one seed and prints the result.
  *
  * Usage: graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *        --work DIR [--corrupt-expected]
  *
  * Untraced (`--trace 0`): set-up runs [[SetupReps]] times (the last
  * copy serves the ops), [[Workload.warmupRotations]] rotations of the
  * op mix run untimed, then ops run back to back for S seconds, finishing the
  * rotation in progress. Traced
  * (`--trace 1`): the same, but the timed window alternates whole
  * untraced and traced rotations of the op mix, ending after an even
  * number of rotations; per-layer figures come from the traced rotations and
  * the tracing overhead is traced ÷ untraced mean op time − 1.
  */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = opts("work")
    val cores = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    def phase(name: String): Unit = System.err.println(f"graftbench: $name at ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val spark = graft.Engine.session("graftbench", cores.toString)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, new Trace(spark.sparkContext), seed, opts.contains("corrupt-expected"))
    val wl: Workload = workload match {
      case "etl_cycle"    => new EtlCycle(ctx)
      case "trend_query"  => new TrendQuery(ctx)
      case "search_serve" => new SearchServe(ctx)
      case "dedup_ingest" => new DedupIngest(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload: $w")
    }

    ctx.trace.enabled = traced
    val setupTimes = (0 until SetupReps).map { r =>
      val s = System.nanoTime()
      val files = ctx.trace.op(-1 - r, "setup")(wl.setup(s"$work/rep$r"))
      ((System.nanoTime() - s) / 1e9, (files.digest, files.files, files.bytes))
    }
    val (_, inputFiles, inputBytes) = setupTimes.last._2
    val digests = setupTimes.map(_._2._1).distinct
    val setupS = sessionS + median(setupTimes.map(_._1))
    // Drop the copies no op reads while their files are still only in the
    // page cache: once written back, deleting many small files is slow and
    // the write-back itself would land in the timed window.
    (0 until SetupReps - 1).foreach(r => Disk.delete(s"$work/rep$r"))

    ctx.trace.enabled = false
    phase("set-up done")

    val times = mutable.ArrayBuffer.empty[(Int, Double, Long, Boolean)] // (op, s, items, traced)
    var failed = 0
    val errors = mutable.ArrayBuffer.empty[String]
    val warmupTimes = mutable.ArrayBuffer.empty[Double]
    var i = 0
    def runOp(tracedOp: Boolean): Unit = {
      ctx.trace.enabled = tracedOp
      wl.prepare(i)
      val s = System.nanoTime()
      try {
        val items = ctx.trace.op(i, "op")(wl.op(i))
        val t = (System.nanoTime() - s) / 1e9
        if (ctx.recording) times += ((i, t, items, tracedOp)) else warmupTimes += t
      } catch {
        case e: Exception =>
          failed += 1
          if (errors.size < 3) errors += s"${wl.opKind(i)}: $e"
      }
      ctx.trace.enabled = false
      i += 1
    }
    while (i < wl.warmupRotations * wl.mixLength) runOp(false)
    val warmupOps = i
    val warmupFailed = failed
    phase(s"warm-up done ($warmupOps ops)")

    import scala.jdk.CollectionConverters._
    def gcMs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    def jitMs = java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    val (gc0, jit0) = (gcMs, jitMs)
    ctx.recording = true
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    def rotation = (i - warmupOps) / wl.mixLength
    // The window ends on a rotation boundary, so every op kind is equally
    // represented; traced runs end on an even number of rotations so that
    // untraced and traced rotations pair up.
    val rotations = if (traced) 2 else 1
    while (elapsed < seconds || (i - warmupOps) % (rotations * wl.mixLength) != 0 || i == warmupOps)
      runOp(traced && rotation % 2 == 1)
    ctx.recording = false
    val (gcWindowS, jitWindowS) = ((gcMs - gc0) / 1e3, (jitMs - jit0) / 1e3)
    val attempted = i - warmupOps + warmupFailed
    phase("timed window done")

    val checks = wl.check() :+ ("inputs_reproducible" -> (digests.size == 1))
    val failedChecks = checks.filterNot(_._2).map(_._1)
    val failedOps = math.min(attempted, failed + failedChecks.size)
    phase("checks done")

    val untraced = times.filterNot(_._4)
    val opP50 = median(untraced.map(_._2))
    val opP90 = percentile(untraced.map(_._2), 0.9)
    val itemsPerS = untraced.map(_._3).sum / untraced.map(_._2).sum
    val disk = wl.diskBytes()
    val bytesPerItem = disk.toDouble / wl.itemsStored()

    val layers: Map[String, Double] =
      if (!traced) Map.empty
      else {
        ctx.trace.drain()
        val tracedTimes = times.filter(_._4)
        val overhead = tracedTimes.map(_._2).sum / tracedTimes.size /
          (untraced.map(_._2).sum / untraced.size) - 1
        Layers.figures(ctx.trace, sessionS) ++ wl.layerFigures() ++ Map(
          "trace.overhead_share" -> overhead,
          "trace.op_p50_s" -> median(tracedTimes.map(_._2)))
      }

    // Soft references are cleared by these GCs (-XX:SoftRefLRUPolicyMSPerMB=0
    // in run.py), so the figure is what the driver really retains.
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(100) }
    val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)

    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("op_p50_s", opP50, "s"),
      ("items_per_s", itemsPerS, "1/s"),
      ("disk_bytes_per_item", bytesPerItem, "bytes"),
      ("heap_retained_mb", heapMb, "MB"))

    // Human-readable report under the workload's own metric names.
    println(s"workload $workload seed $seed: ${untraced.size} timed ops in ${"%.2f".format(untraced.map(_._2).sum)} s, " +
      s"$attempted attempted, $failedOps failed")
    println(s"  set-up inputs: $inputFiles files, $inputBytes bytes, sha256 ${digests.head.take(16)}")
    val byKind = untraced.groupBy(t => wl.opKind(t._1)).map { case (k, ts) => k -> ts.map(_._2).toSeq }
    val named = Seq(
      ("setup_s", setupS, "s"),
      (wl.latencyName + "_p50_s", opP50, "s"),
      (wl.latencyName + "_p90_s", opP90, "s"),
      (wl.throughputName, itemsPerS, wl.throughputUnit),
      (wl.diskName, bytesPerItem, "bytes"),
      ("heap_retained_mb", heapMb, "MB"),
      ("failed_op_share", failedOps.toDouble / attempted, "share")) ++ wl.extra(byKind)
    named.foreach { case (n, v, u) => println(f"  $n%-24s $v%14.6f $u") }
    println(f"  timed window: GC $gcWindowS%.3f s, JIT compilation $jitWindowS%.3f s")
    println(s"  set-up s: ${setupTimes.map(t => "%.3f".format(t._1)).mkString(" ")}; session s: ${"%.3f".format(sessionS)}")
    println(s"  op s: ${times.map(t => "%.3f".format(t._2)).mkString(" ")} (warm-up: ${warmupTimes.map("%.3f".format(_)).mkString(" ")})")
    if (byKind.size > 1) byKind.toSeq.sortBy(_._1).foreach { case (k, ts) =>
      println(f"  p50 $k%-22s ${median(ts)}%10.6f s over ${ts.size} ops") }
    failedChecks.foreach(c => println(s"  FAILED CHECK: $c"))
    errors.foreach(e => println(s"  FAILED OP: $e"))
    if (traced) {
      layers.toSeq.sortBy(_._1).foreach { case (n, v) => println(f"  $n%-44s $v%16.6f") }
      Layers.writeTable(ctx.trace, workload, s"$work/../trace", layers)
    }

    val metrics =
      if (traced) layers.toSeq.sortBy(_._1).map { case (n, v) => n -> (v, Layers.unitOf(n)) }
      else endToEnd.map { case (n, v, u) => n -> (v, u) }
    val json = metrics.map { case (n, (v, u)) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    Console.flush()
    println(s"""{"correct": ${failedOps == 0}, "attempted": $attempted, "failed": $failedOps, "metrics": {$json}}""")
    // No spark.stop(): its orderly shutdown costs seconds per run and
    // run.py deletes the scratch directories; halting also keeps library
    // thread pools from holding the JVM alive.
    Console.flush()
    phase("done")
    Runtime.getRuntime.halt(0)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def median(xs: Iterable[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolated percentile; 0 for an empty sample. */
  def percentile(xs: Iterable[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.toIndexedSeq.sorted
      val pos = p * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(s.size - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  private def parse(args: Array[String]): Map[String, String] = {
    val out = mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val k = args(i).stripPrefix("--")
      if (k == "corrupt-expected") { out(k) = "1"; i += 1 }
      else { out(k) = args(i + 1); i += 2 }
    }
    Seq("workload", "seed", "seconds", "trace", "work").foreach(k =>
      require(out.contains(k), s"missing --$k"))
    out.toMap
  }
}
