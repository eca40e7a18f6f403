package graftbench

import scala.collection.mutable
import Trace.{Span, Work}

/** Per-layer figures of a traced run, derived from the spans and the
  * job counters. Every name in [[Names]] is reported on every workload;
  * a layer the workload leaves idle reads 0. */
object Layers {

  /** Per-layer metric → unit, in the order BENCHMARK.json lists them. */
  val Names: Seq[(String, String)] = Seq(
    "engine.session_s" -> "s",
    "sources.harvest_trend_s" -> "s",
    "sources.harvest_attribute_s" -> "s",
    "sources.harvest_notification_s" -> "s",
    "sources.rows_loaded" -> "count",
    "materialize.run_s" -> "s",
    "materialize.dirty_days" -> "count",
    "trendstore.bytes_written_per_row_ingested" -> "bytes",
    "query.range_rollup_s" -> "s",
    "query.cascade_s" -> "s",
    "query.entity_rollup_s" -> "s",
    "query.gapfill_s" -> "s",
    "query.attribute_s" -> "s",
    "query.trigger_s" -> "s",
    "query.notification_s" -> "s",
    "similarity.build_s" -> "s",
    "similarity.search_s" -> "s",
    "similarity.add_s" -> "s",
    "similarity.recall_at_10" -> "share",
    "textindex.build_s" -> "s",
    "textindex.bm25_s" -> "s",
    "textindex.add_s" -> "s",
    "textindex.files" -> "count",
    "search.hybrid_s" -> "s",
    "search.index_add_s" -> "s",
    "dedup.exact_s" -> "s",
    "dedup.near_s" -> "s",
    "dedup.commit_s" -> "s",
    "dedup.dropped" -> "count",
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.task_useful_share" -> "share",
    "spark.executor_run_s" -> "s",
    "spark.executor_cpu_s" -> "s",
    "spark.scan_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "spark.output_bytes" -> "bytes",
    "spark.driver_gap_s" -> "s",
    "self_s.op" -> "s",
    "self_s.sources" -> "s",
    "self_s.materialize" -> "s",
    "self_s.query" -> "s",
    "self_s.similarity" -> "s",
    "self_s.textindex" -> "s",
    "self_s.search" -> "s",
    "self_s.dedup" -> "s",
    "trace.overhead_share" -> "share",
    "trace.op_p50_s" -> "s")

  private val unitMap = Names.toMap
  def unitOf(name: String): String = unitMap.getOrElse(name, "count")

  /** Spans whose median duration is a per-layer metric: op spans for
    * the serving calls, set-up spans for the index builds. */
  private val opSpans = Seq("sources.harvest_trend", "sources.harvest_attribute",
    "sources.harvest_notification", "materialize.run", "query.range_rollup",
    "query.cascade", "query.entity_rollup", "query.gapfill", "query.attribute",
    "query.trigger", "query.notification", "similarity.search", "similarity.add",
    "textindex.bm25", "textindex.add", "search.hybrid", "search.index_add",
    "dedup.exact", "dedup.near", "dedup.commit")
  private val setupSpans = Seq("similarity.build", "textindex.build")
  private val selfLayers = Seq("op", "sources", "materialize", "query", "similarity",
    "textindex", "search", "dedup")

  def opSpansOf(trace: Trace): Seq[Span] = trace.spans.filter(_.op >= 0).toSeq

  /** Spark work of `spans` and all their descendants. */
  def subtreeWork(trace: Trace, roots: Seq[Span]): Work = {
    val children = trace.spans.groupBy(_.parent)
    val w = new Work
    def walk(s: Span): Unit = {
      trace.counters.bySpan.get(s.id).foreach(w.add)
      children.getOrElse(s.id, Nil).foreach(walk)
    }
    roots.foreach(walk)
    w
  }

  def figures(trace: Trace, sessionS: Double): Map[String, Double] = {
    val ops = opSpansOf(trace)
    val roots = ops.filter(_.parent == 0)
    val n = math.max(1, roots.size).toDouble
    val byName = ops.groupBy(_.name)
    val setupByName = trace.spans.filter(_.op < 0).groupBy(_.name)
    def p50(spans: Seq[Span]) = Main.median(spans.map(_.seconds))

    val out = mutable.Map.empty[String, Double]
    Names.foreach { case (k, _) => out(k) = 0.0 }
    out("engine.session_s") = sessionS
    opSpans.foreach(s => out(s + "_s") = p50(byName.getOrElse(s, Nil).toSeq))
    setupSpans.foreach(s => out(s + "_s") = p50(setupByName.getOrElse(s, Nil).toSeq))

    val w = subtreeWork(trace, roots)
    out("spark.jobs") = w.jobs / n
    out("spark.stages") = w.stages / n
    out("spark.tasks") = w.tasks / n
    out("spark.task_useful_share") = if (w.tasks == 0) 0.0 else w.usefulTasks.toDouble / w.tasks
    out("spark.executor_run_s") = w.runMs / 1e3 / n
    out("spark.executor_cpu_s") = w.cpuNs / 1e9 / n
    out("spark.scan_bytes") = w.scanBytes / n
    out("spark.shuffle_write_bytes") = w.shuffleWriteBytes / n
    out("spark.spill_bytes") = w.spillBytes / n
    out("spark.output_bytes") = w.outputBytes / n
    out("spark.driver_gap_s") = roots.map(driverGap(trace, _)).sum / n

    val self = selfTimes(ops)
    selfLayers.foreach(l => out(s"self_s.$l") = self.getOrElse(l, 0.0) / n)
    out.toMap
  }

  /** Span wall time minus the union of the intervals of the jobs it
    * (or any descendant) submitted. */
  def driverGap(trace: Trace, root: Span): Double = {
    val ids = trace.spans.filter(_.op == root.op).map(_.id).toSet
    val intervals = trace.counters.jobs.values.filter(j => ids(j.span))
      .map(j => (math.max(j.startMillis, root.startMillis), math.min(j.endMillis, root.endMillis)))
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    intervals.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, root.seconds - covered / 1e3)
  }

  /** Self time per layer, summed over `spans`: each span's duration
    * minus its children's (children of one span run one after another). */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val childTime = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum
    }
  }

  /** Writes the per-layer table, per-span-name and per-call-site-file
    * Spark counters, and every span, as one JSON file. */
  def writeTable(trace: Trace, workload: String, dir: String,
                 figures: Map[String, Double]): Unit = {
    def work(w: Work) =
      s"""{"jobs": ${w.jobs}, "stages": ${w.stages}, "tasks": ${w.tasks}, "useful_tasks": ${w.usefulTasks}, """ +
        s""""executor_run_ms": ${w.runMs}, "executor_cpu_ns": ${w.cpuNs}, "scan_bytes": ${w.scanBytes}, """ +
        s""""shuffle_write_bytes": ${w.shuffleWriteBytes}, "spill_bytes": ${w.spillBytes}, "output_bytes": ${w.outputBytes}}"""
    val ops = opSpansOf(trace)
    val self = ops.groupBy(_.name).map { case (name, ss) =>
      val childTime = trace.spans.groupBy(_.parent)
      val selfS = ss.map(s => s.seconds - childTime.getOrElse(s.id, Nil).map(_.seconds).sum).sum
      s""""$name": {"count": ${ss.size}, "p50_s": ${Main.median(ss.map(_.seconds))}, "self_s": $selfS, "spark": ${work(subtreeWork(trace, ss))}}"""
    }
    val files = trace.counters.byFile.toSeq.sortBy(-_._2.runMs).map { case (f, w) => s""""$f": ${work(w)}""" }
    val spans = trace.spans.map(s =>
      s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "op": ${s.op}, "start_ms": ${s.startMillis}, "end_ms": ${s.endMillis}, "s": ${s.seconds}}""")
    val json =
      s"""{"workload": "$workload",
         |"per_layer": {${figures.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": $v""" }.mkString(", ")}},
         |"by_span": {${self.mkString(",\n  ")}},
         |"by_call_site_file": {${files.mkString(",\n  ")}},
         |"spans": [${spans.mkString(",\n  ")}]}
         |""".stripMargin
    new java.io.File(dir).mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, s"$workload.json"),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"  per-layer table: ${dir}/$workload.json")
    trace.counters.byFile.toSeq.sortBy(-_._2.runMs).take(8).foreach { case (f, w) =>
      println(f"  call-site $f%-28s jobs ${w.jobs}%5d tasks ${w.tasks}%6d run ${w.runMs / 1e3}%8.2f s")
    }
  }
}
