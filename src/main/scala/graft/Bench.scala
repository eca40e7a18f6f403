package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: measures every declared query on
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query seconds.
  *
  * Each query runs in its OWN forked JVM (same binary, same JVM flags,
  * same classpath as this one). Rounds 1–4 showed that 40+ queries
  * sharing one JVM contaminate each other 5–20× — code-cache
  * pollution and accumulated session state, not plan cost — so
  * in-process numbers are noise, and both tuning and grading were
  * blind. A child JVM pays its own Spark/session startup, but that
  * cost is OUTSIDE the measured window: the child warms up, then
  * times only the query action, and reports that number on a marker
  * line the parent parses. `--one <name>` is the child entrypoint.
  */
object Bench {

  private val Marker = "GRAFT_BENCH_ONE "

  /** Warmup: session init, parquet footer reads, codegen paths. */
  private def warmup(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    SparkEntry.queries.get("q01_pricing_summary")
      .foreach(fn => try fn(spark, sfDir).count() catch { case _: Throwable => () })
  }

  /** Benchmark action. The default `count` matches every board since
    * round 1 (comparability), but Catalyst rightly column-prunes under
    * count(1): for PROJECTION-shaped keys (d10/d11/d17/d35-style
    * per-row transforms with no aggregate) the expensive expressions
    * are never evaluated, so count-mode under-measures exactly the
    * per-row compute those keys exist to exercise.
    * `SPARK_GRAFT_BENCH_ACTION=noop` instead writes to Spark's noop
    * sink — every column is materialized, nothing is persisted — for
    * boards that must force the compute (the zipf single-row stress). */
  private val action = sys.env.getOrElse("SPARK_GRAFT_BENCH_ACTION", "count")

  private def timeOne(spark: SparkSession, sfDir: String, name: String): (Double, Boolean) = {
    val fn = SparkEntry.queries(name)
    val t0 = System.nanoTime()
    val ok = try {
      action match {
        case "noop" => fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        case _      => fn(spark, sfDir).count()
      }
      true
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
        false
    }
    ((System.nanoTime() - t0) / 1e9, ok)
  }

  /** Per-key measurement repetitions inside a child (min-of-N). The
    * first run absorbs residual JIT/page-cache warmup the generic
    * warmup() can't reach (query-specific codegen, parquet footers of
    * the tables the query actually touches); N−1 further runs bound
    * ambient machine noise — same-binaries headline boards 70 minutes
    * apart measured ×2.8 per-key swings on this hardware (VERDICT
    * r16 wart #3), so the committed headline board runs min-of-3
    * (`SPARK_GRAFT_BENCH_RUNS=3`); 2 stays the default for cheap
    * iteration and every historical board's comparability. */
  private[graft] val runsPerKey: Int =
    sys.env.get("SPARK_GRAFT_BENCH_RUNS").map(_.toInt).getOrElse(2)

  /** Child mode: measure one query min-of-[[runsPerKey]], emit a
    * marker line for the parent. */
  private def runChild(name: String): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session("graft-bench", Engine.cores("32"))
    warmup(spark, sfDir)
    // any-success semantics (the assemble_mem_board discipline, ADVICE
    // r17): an error in one rerun must not discard a valid measurement
    // from another — best = min over SUCCESSFUL runs; only when every
    // attempt failed is the failure reported (with its duration). A
    // failing attempt still ends the loop: reruns exist to bound
    // ambient noise, not to retry a broken query.
    var best = Double.NaN
    var anyOk = false
    var lastFail = Double.NaN
    var failed = false
    var fails = 0
    var i = 0
    while (i < math.max(1, runsPerKey) && !failed) {
      val (s, o) = timeOne(spark, sfDir, name)
      if (o) { anyOk = true; if (best.isNaN || s < best) best = s }
      else { failed = true; fails += 1; lastFail = s }
      i += 1
    }
    val (sec, ok) = if (anyOk) (best, true) else (lastFail, false)
    // `fails` makes a succeed-then-fail key VISIBLE (VERDICT r18 issue
    // 2: any-success semantics must not silently mask flakiness).
    println(s"""$Marker{"query":"$name","sec":$sec,"ok":$ok,"fails":$fails}""")
    spark.stop()
  }

  /** Fork a child JVM for `name` with this JVM's flags + classpath and
    * parse its marker line. Returns (seconds, ok, failed attempts; 0
    * when the marker predates the `fails` field). The ONE home of the
    * marker protocol — [[BenchScale]] calls this too.
    *
    * @param env        extra child environment (e.g. SPARK_GRAFT_SF_DIR
    *                   to point the child at a synthesized scale dir)
    * @param timeoutMin child kill-and-fail ceiling; larger data needs
    *                   more headroom than the sf0.1 headline board
    * @param tag        stderr prefix so diagnostics name their board
    *
    * `SPARK_GRAFT_CHILD_XMX` (e.g. "4g"), when set on the PARENT,
    * replaces the inherited -Xmx in the child's flags — the
    * memory-bounded rehearsal caps children at a realistic per-task
    * executor share without re-plumbing the run scripts. */
  private[graft] def forkOne(name: String, env: Map[String, String] = Map.empty,
                             timeoutMin: Long = 15,
                             tag: String = "bench"): (Double, Boolean, Int) = {
    import scala.jdk.CollectionConverters._
    val javaBin = java.nio.file.Paths.get(
      System.getProperty("java.home"), "bin", "java").toString
    val inherited = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    val jvmArgs = sys.env.get("SPARK_GRAFT_CHILD_XMX") match {
      case Some(x) => inherited.filterNot(_.startsWith("-Xmx")) :+ s"-Xmx$x"
      case None    => inherited
    }
    val cmd = Seq(javaBin) ++ jvmArgs ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.Bench", "--one", name)
    val pb = new ProcessBuilder(cmd.asJava)
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    val proc = pb.start()
    // Drain stdout on a thread so a hung child can still be killed by
    // the timeout below (readAllBytes on this thread would block past it).
    val buf = new java.io.ByteArrayOutputStream()
    val reader = new Thread(() => proc.getInputStream.transferTo(buf))
    reader.setDaemon(true)
    reader.start()
    val exited = proc.waitFor(timeoutMin, java.util.concurrent.TimeUnit.MINUTES)
    if (!exited) { proc.destroyForcibly(); proc.waitFor() }
    reader.join(10000)
    val out = buf.toString(java.nio.charset.StandardCharsets.UTF_8)
    val marker = out.linesIterator.find(_.startsWith(Marker))
    marker match {
      case Some(line) =>
        val body = line.stripPrefix(Marker)
        val sec = "\"sec\":([0-9.eE+-]+)".r.findFirstMatchIn(body).map(_.group(1).toDouble)
        val ok = body.contains("\"ok\":true")
        val fails = "\"fails\":(\\d+)".r.findFirstMatchIn(body)
          .map(_.group(1).toInt).getOrElse(0)
        (sec.getOrElse(Double.NaN), ok && sec.isDefined, fails)
      case None =>
        System.err.println(s"[$tag] $name child produced no marker (exit=${proc.exitValue()})")
        (Double.NaN, false, 0)
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.length == 2 && args(0) == "--one") { runChild(args(1)); return }

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only = args.toSet
    val selected =
      if (only.isEmpty) SparkEntry.queries.keys.toSeq.sorted
      else SparkEntry.queries.keys.toSeq.filter(only).sorted

    // Per-key marker lines stream out as keys complete (full-board
    // mode) so a tail capture always holds complete, parseable per-key
    // records — the committed BENCH_r17/r18 files truncated the head
    // of the one-line per-key map and BOTH rounds' driver comparisons
    // came back empty (VERDICT r18 issue 1).
    val KeyMarker = "GRAFT_BENCH_KEY "
    val results = selected.map { name =>
      val (sec, ok, fails) = forkOne(name)
      if (only.isEmpty)
        println(s"""$KeyMarker{"query":"$name","sec":$sec,"ok":$ok,"fails":$fails}""")
      (name, sec, ok, fails)
    }

    // A query with no valid timing (crash / 15-min fork timeout) counts
    // as the timeout ceiling, never 0 — a hung query must make the
    // headline total WORSE, not better.
    val TimeoutSec = 15 * 60.0
    val cleaned = results.map { case (k, v, ok, fails) =>
      (k, if (v.isNaN) TimeoutSec else v, ok, fails)
    }
    val qs = cleaned.map { case (k, v, _, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errs = cleaned.collect { case (k, _, false, _) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    // flaky = succeeded on some attempt but failed on another; a key
    // that never succeeded is an error, not a flake
    val flaky = cleaned.collect { case (k, _, true, f) if f > 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = cleaned.map(_._2).sum
    val validTotal = cleaned.collect { case (_, v, true, _) => v }.sum
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","valid_total":$validTotal,"queries":$qs,"errors":$errs,"sf":"$sfDir"}"""
    println(line)
    // Compact summary LAST (no per-key map, ~150 chars): the one line
    // guaranteed to survive any tail capture intact. It only repeats
    // the scalars of the full line above, under its own metric name so
    // the full line stays the only "total" record.
    println(s"""{"metric":"total_summary","value":$total,"unit":"sec","valid_total":$validTotal,""" +
      s""""n_queries":${cleaned.size},"errors":$errs,"flaky":$flaky,"sf":"$sfDir"}""")
    // Persist the FULL artifact ourselves: the driver's committed
    // BENCH_r*.json files truncate to a 2000-char tail, cutting the
    // head of the per-key map — so headline numbers were only
    // reproducible from in-round logs. The complete per-key JSON
    // (plus run metadata) lands next to the repo so every board
    // number is auditable from committed files alone. Skipped for
    // partial runs (query-name args) — only a full sweep is a board.
    if (only.isEmpty) {
      val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
      val stamp = java.time.Instant.now().toString
      val full = s"""{"written_at":"$stamp","mode":"forked","runs_per_key":$runsPerKey,""" +
        s""""n_queries":${cleaned.size},""" +
        s""""metric":"total","value":$total,"unit":"sec","valid_total":$validTotal,""" +
        s""""queries":$qs,"errors":$errs,"flaky":$flaky,"sf":"$sfDir"}"""
      try java.nio.file.Files.write(java.nio.file.Paths.get(out),
        full.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case e: Exception =>
        System.err.println(s"[bench] could not write $out: ${e.getMessage}")
      }
    }
  }
}
