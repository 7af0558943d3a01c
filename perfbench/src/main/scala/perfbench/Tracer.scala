package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Spans and Spark-job counts for the traced run.
  *
  * The harness opens a span around each call it makes into graft (query →
  * construct / plan / exec, stream op, …); the listener records every
  * Spark job with its task totals, and `jobSpans` hangs each job under the
  * innermost span that was open on the client thread when the job
  * started. Everything stays in memory until the run ends. */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private var nextId = 0

  def begin(kind: String, name: String,
      attrs: Map[String, Any] = Map.empty): Span = {
    nextId += 1
    val s = Span(nextId, open.headOption.map(_.id), kind, name,
      System.currentTimeMillis(), System.nanoTime())
    s.attrs ++= attrs
    spans += s; open.push(s)
    sc.setLocalProperty(SpanProperty, s.id.toString)
    s
  }

  def end(s: Span): Unit = {
    s.endMs = System.currentTimeMillis()
    s.durNs = System.nanoTime() - s.startNs
    while (open.nonEmpty && (open.pop() ne s)) ()
    sc.setLocalProperty(SpanProperty, open.headOption.map(_.id.toString).orNull)
  }

  /** A span reported after the fact (a streaming micro-batch, timed by
    * the stream's own progress record). */
  def add(kind: String, name: String, startMs: Long, endMs: Long,
      parent: Span): Unit = {
    nextId += 1
    val s = Span(nextId, Some(parent.id), kind, name, startMs, 0L)
    s.endMs = endMs
    s.durNs = (endMs - startMs) * 1000000L
    spans += s
  }

  def span[T](kind: String, name: String)(body: Span => T): T = {
    val s = begin(kind, name)
    try body(s) finally end(s)
  }

  // ---- listener side (bus thread)
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Job]
  private val execSites = mutable.Map.empty[Long, (String, String)]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execSites(s.executionId) = (s.description, s.details)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    // a job outside any SQL execution (an RDD action such as parquet
    // schema inference) has no call-site property; its result stage is
    // named after the same call site
    val last = e.stageInfos.sortBy(_.stageId).lastOption
    val j = Job(e.jobId, e.time, prop(SpanProperty).map(_.toInt),
      prop("callSite.short").filter(_.nonEmpty)
        .orElse(last.map(_.name)).getOrElse(""),
      prop("callSite.long").filter(_.nonEmpty)
        .orElse(last.map(_.details)).getOrElse(""),
      prop("spark.sql.execution.id").map(_.toLong))
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      j.failed = !e.jobResult.isInstanceOf[JobSucceeded.type]
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      j.peakMem = math.max(j.peakMem, m.peakExecutionMemory)
      j.input += m.inputMetrics.bytesRead
      j.output += m.outputMetrics.bytesWritten
    }
  }

  /** Jobs started on other threads (AQE stage materialization,
    * broadcasts) carry a pool thread's call site; resolve those through
    * their SQL execution to the call site of the action that ran it. */
  private def resolve(j: Job): (String, String) = {
    val pooled = j.short.isEmpty || j.short.contains("CompletableFuture") ||
      j.short.contains("ThreadPoolExecutor")
    if (!pooled) (j.short, j.long)
    else j.execId.flatMap(execSites.get).getOrElse((j.short, j.long))
  }

  /** Drains the bus, then writes every span and every job (as a child
    * span) as JSON lines. */
  def write(path: String): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    val byTime = spans.sortBy(s => (s.startMs, s.id))
    val parent = spans.map(s => s.id -> s.parent).toMap
    def within(id: Int, root: Int): Boolean =
      id == root || parent.get(id).flatten.exists(within(_, root))
    // the innermost span open at the job's start, inside the span the
    // submitting thread named (if it named one)
    def owner(j: Job): Option[Int] = byTime
      .filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
      .filter(s => j.spanHint.forall(within(s.id, _)))
      .lastOption.map(_.id).orElse(j.spanHint)
    val out = new java.io.PrintWriter(path, "UTF-8")
    try {
      spans.foreach(s => out.println(Main.json(s.toMap)))
      synchronized {
        jobs.values.foreach { j =>
          val (short, long) = resolve(j)
          out.println(Main.json(Map(
            "id" -> s"job${j.id}", "parent" -> owner(j), "kind" -> "job",
            "name" -> short, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
            "failed" -> j.failed, "tasks" -> j.tasks, "run_ms" -> j.runMs,
            "cpu_ns" -> j.cpuNs, "shuffle_read_b" -> j.shuffleRead,
            "shuffle_write_b" -> j.shuffleWrite, "spill_b" -> j.spill,
            "peak_mem_b" -> j.peakMem, "input_b" -> j.input,
            "output_b" -> j.output,
            "graph" -> long.contains("graft.functions.GraphOps"),
            "schema" -> SchemaSite.findFirstIn(short).isDefined,
            "checkpoint" -> short.toLowerCase.startsWith("localcheckpoint at")
              .||(short.startsWith("checkpoint at")))))
        }
      }
    } finally out.close()
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
  private val SchemaSite =
    "^(parquet|json|csv|load|orc|text) at (Tables|Sources)\\.scala".r

  final case class Span(id: Int, parent: Option[Int], kind: String,
      name: String, startMs: Long, startNs: Long) {
    var endMs: Long = startMs
    var durNs: Long = 0L
    val attrs: mutable.Map[String, Any] = mutable.LinkedHashMap.empty
    def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent,
      "kind" -> kind, "name" -> name, "start_ms" -> startMs,
      "end_ms" -> endMs, "dur_s" -> durNs / 1e9) ++ attrs
  }

  final case class Job(id: Int, startMs: Long, spanHint: Option[Int],
      short: String, long: String, execId: Option[Long]) {
    var endMs: Long = startMs
    var failed = false
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var peakMem = 0L
    var input = 0L
    var output = 0L
  }
}
