package graftbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory span recorder for the traced run.
  *
  * A span wraps one timed call into a graft layer, from the
  * benchmark's side of the call. Its id is published as a Spark local
  * property, so every job the call submits (including jobs from
  * broadcast threads, which inherit local properties) is attributed
  * to the innermost open span by [[JobCounters]]. Nothing is written
  * until the run ends. When tracing is off, [[span]] is a plain call.
  */
final class Trace(sc: SparkContext) {
  import Trace._

  var enabled = false
  private var nextId = 1
  private var stack: List[Span] = Nil
  private var currentOp = 0
  val spans = mutable.ArrayBuffer.empty[Span]
  val counters = new JobCounters
  sc.addSparkListener(counters)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val s = Span(nextId, name, parent.fold(0)(_.id), currentOp,
        System.nanoTime(), System.currentTimeMillis())
      nextId += 1
      spans += s
      stack = s :: stack
      sc.setLocalProperty(SpanProperty, s.id.toString)
      try body
      finally {
        s.endNanos = System.nanoTime()
        s.endMillis = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(SpanProperty, parent.map(_.id.toString).orNull)
      }
    }

  /** Root span of one benchmark operation; its children share `op`. */
  def op[T](opId: Int, name: String)(body: => T): T = {
    currentOp = opId
    span(name)(body)
  }

  def drain(): Unit = org.apache.spark.graftbench.ListenerDrain(sc)
}

object Trace {
  val SpanProperty = "graftbench.span"

  final case class Span(id: Int, name: String, parent: Int, op: Int,
                        startNanos: Long, startMillis: Long) {
    var endNanos = 0L
    var endMillis = 0L
    def seconds: Double = (endNanos - startNanos) / 1e9
    /** Layer = the module part of the span name ("sources.harvest_trend" → "sources"). */
    def layer: String = name.takeWhile(_ != '.')
  }

  /** Spark work summed over a set of tasks. */
  final class Work {
    var jobs = 0L; var stages = 0L; var tasks = 0L; var usefulTasks = 0L
    var runMs = 0L; var cpuNs = 0L; var scanBytes = 0L; var shuffleWriteBytes = 0L
    var spillBytes = 0L; var outputBytes = 0L

    def add(o: Work): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks; usefulTasks += o.usefulTasks
      runMs += o.runMs; cpuNs += o.cpuNs; scanBytes += o.scanBytes
      shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
      outputBytes += o.outputBytes
    }
  }

  final case class JobInfo(jobId: Int, span: Int, file: String, startMillis: Long) {
    var endMillis: Long = startMillis
  }

  private val CallSiteFile = """ at ([^ :]+):\d+""".r

  /** "collect at Similarity.scala:1200" → "Similarity.scala". */
  def callSiteFile(stageName: String): String =
    CallSiteFile.findFirstMatchIn(stageName).map(_.group(1)).getOrElse("unknown")
}

/** Listener registered only by the benchmark: attributes jobs, stages,
  * tasks and bytes to the span that submitted them and to the source
  * file named in the job's call site. Jobs outside any span (untraced
  * work) are ignored. */
final class JobCounters extends SparkListener {
  import Trace._

  val jobs = mutable.Map.empty[Int, JobInfo]
  /** SQL execution id → file of the call that started it. Jobs that
    * adaptive execution submits from its own threads carry only the
    * execution id; their stage names would name a thread-pool frame. */
  private val executionFile = mutable.Map.empty[String, String]
  private val stageJob = mutable.Map.empty[Int, Int]
  val bySpan = mutable.Map.empty[Int, Work]
  val byFile = mutable.Map.empty[String, Work]

  private def work(job: JobInfo): Seq[Work] =
    Seq(bySpan.getOrElseUpdate(job.span, new Work), byFile.getOrElseUpdate(job.file, new Work))

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { executionFile(s.executionId.toString) = callSiteFile(s.description) }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(SpanProperty))).foreach { s =>
      val file = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(executionFile.get)
        .getOrElse(e.stageInfos.sortBy(_.stageId).lastOption.fold("unknown")(st => callSiteFile(st.name)))
      val info = JobInfo(e.jobId, s.toInt, file, e.time)
      jobs(e.jobId) = info
      e.stageIds.foreach(stageJob(_) = e.jobId)
      work(info).foreach(_.jobs += 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMillis = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(j => work(j).foreach(_.stages += 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      val records = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead +
        m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten
      work(j).foreach { w =>
        w.tasks += 1
        if (records > 0) w.usefulTasks += 1
        w.runMs += m.executorRunTime
        w.cpuNs += m.executorCpuTime
        w.scanBytes += m.inputMetrics.bytesRead
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.diskBytesSpilled
        w.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }
}
