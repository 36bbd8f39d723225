package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.collection.mutable

/** Spark counters summed over the jobs of one span. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var resultBytes = 0L
  var outputBytes = 0L
  /** Wall milliseconds of the jobs, by the source file of each job's
    * call site: `collect at GraphOps.scala:2674` counts for
    * `GraphOps.scala` (see [[SpanListener]] for SQL queries). */
  val jobMsBySite = mutable.HashMap.empty[String, Long]

  def jobMs(site: String): Long = jobMsBySite.getOrElse(site, 0L)

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs; gcMs += o.gcMs
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; resultBytes += o.resultBytes; outputBytes += o.outputBytes
    o.jobMsBySite.foreach { case (k, v) => jobMsBySite(k) = jobMs(k) + v }
  }
}

/** Sums task metrics per span. A job belongs to the span named by its
  * job group, which [[Tracer.span]] sets around each call; jobs that
  * carry another group (a streaming query sets its own on its thread)
  * belong to the span open when they start. Listener callbacks run on
  * Spark's single listener-bus thread.
  *
  * Job wall time is kept by call site. A job of a SQL query counts for
  * the call site of the query's execution: adaptive execution submits
  * each query stage, the result stage too, as a job of its own from a
  * pool thread, whose call site names no code of the program. */
final class SpanListener extends SparkListener {
  private val byKey = mutable.HashMap.empty[String, Counters]
  private val stageKey = mutable.HashMap.empty[Int, String]
  /** Running jobs: span key, call-site file, start time (ms). */
  private val running = mutable.HashMap.empty[Int, (String, String, Long)]
  private val execSite = mutable.HashMap.empty[String, String]
  private var drained = 0L
  @volatile private[perfbench] var open: String = "none"

  private def counters(k: String) = byKey.getOrElseUpdate(k, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val k = group.filter(_.startsWith(Tracer.GroupPrefix)).getOrElse(open)
    e.stageIds.foreach(stageKey(_) = k)
    counters(k).jobs += 1
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    // Outside SQL, the result stage (the job's last) is named after
    // the job's call site.
    val site = exec.flatMap(execSite.get).getOrElse(SpanListener.siteFile(
      e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")))
    running(e.jobId) = (k, site, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    running.remove(e.jobId).foreach { case (k, site, t0) =>
      val c = counters(k)
      c.jobMsBySite(site) = c.jobMs(site) + (e.time - t0)
      if (k == SpanListener.DrainGroup) drained += 1
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execSite(s.executionId.toString) = SpanListener.longSiteFile(s.details)
    }
    case _ =>
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    counters(stageKey.getOrElse(e.stageInfo.stageId, open)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageKey.getOrElse(e.stageId, open))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskRunMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.resultBytes += m.resultSize
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Blocks until the listener bus has delivered every event posted
    * so far. It runs a one-task marker job and waits for its end: the
    * bus delivers in order, and every earlier job posted its end
    * before the call that ran it returned. */
  def drain(sc: SparkContext, timeoutMs: Long = 60000): Unit = {
    val before = synchronized(drained)
    sc.setJobGroup(SpanListener.DrainGroup, SpanListener.DrainGroup, interruptOnCancel = false)
    try sc.parallelize(Seq(0), 1).count() finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + timeoutMs
    while (synchronized(drained == before) && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
  }

  def snapshot(k: String): Counters = synchronized {
    val c = new Counters
    byKey.get(k).foreach(c += _)
    c
  }
}

object SpanListener {
  val DrainGroup = s"${Tracer.GroupPrefix}drain"

  val Unknown = "(unknown)"

  /** `collect at GraphOps.scala:2674` → `GraphOps.scala`. */
  def siteFile(callSite: String): String =
    """ at ([^ :]+):\d+""".r.findFirstMatchIn(callSite).map(_.group(1)).getOrElse(Unknown)

  /** The file of the first frame below Spark in a long call site, a
    * stack trace whose first line is the last frame inside Spark:
    * `graft.graph.GraphOps$.louvainFor(GraphOps.scala:2674)` →
    * `GraphOps.scala`. */
  def longSiteFile(callSite: String): String =
    callSite.split("\n").lift(1)
      .flatMap("""\(([^():]+):\d+\)""".r.findFirstMatchIn(_)).map(_.group(1)).getOrElse(Unknown)
}

/** One timed call: `name` inside pass `pass`, nanoseconds since the
  * tracer started; `parent` is the id of the span it ran inside, or -1. */
final case class Span(id: Int, parent: Int, name: String, pass: Int, startNs: Long,
    endNs: Long)

/** Times calls, and inside [[traced]], also records spans and tags
  * the Spark jobs they run with the innermost open span. Spans stay in
  * memory until [[writeJsonl]]. */
final class Tracer(sc: SparkContext, val listener: Option[SpanListener]) {
  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, String)]
  private var nextId = 0
  @volatile private var enabled = false

  def key(pass: Int, name: String): String = s"${Tracer.GroupPrefix}$pass/$name"

  private def tag(k: Option[String]): Unit = {
    k match {
      case Some(g) => sc.setJobGroup(g, g, interruptOnCancel = false)
      case None => sc.clearJobGroup()
    }
    listener.foreach(_.open = k.getOrElse("none"))
  }

  /** Runs `f`; returns its value and wall seconds. */
  def span[T](pass: Int, name: String)(f: => T): (T, Double) = {
    val on = enabled
    val id = nextId
    val parent = open.headOption.map(_._1).getOrElse(-1)
    if (on) {
      nextId += 1
      open = (id, key(pass, name)) :: open
      tag(Some(key(pass, name)))
    }
    val start = System.nanoTime()
    try {
      val v = f
      val end = System.nanoTime()
      if (on) spans += Span(id, parent, name, pass, start - t0, end - t0)
      (v, (end - start) / 1e9)
    } finally if (on) {
      open = open.tail
      tag(open.headOption.map(_._2))
    }
  }

  /** Runs `f` with tracing on. The listener is registered only for
    * the length of `f` and every event of `f` is delivered to it
    * before this returns, so untraced calls pay none of its cost. */
  def traced[T](f: => T): T = listener match {
    case None => f
    case Some(l) =>
      sc.addSparkListener(l)
      enabled = true
      try f
      finally {
        enabled = false
        l.drain(sc)
        sc.removeSparkListener(l)
      }
  }

  def writeJsonl(path: java.nio.file.Path, workload: String, seed: Long): Unit = {
    val lines = spans.map { s =>
      val c = listener.map(_.snapshot(key(s.pass, s.name))).getOrElse(new Counters)
      s"""{"workload":"$workload","seed":$seed,"id":${s.id},"parent":${s.parent},""" +
        s""""name":"${s.name}","pass":${s.pass},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},"task_run_ms":${c.taskRunMs},""" +
        s""""task_cpu_ns":${c.taskCpuNs},"gc_ms":${c.gcMs},"shuffle_read_bytes":${c.shuffleReadBytes},""" +
        s""""shuffle_write_bytes":${c.shuffleWriteBytes},"spill_bytes":${c.spillBytes},""" +
        s""""result_bytes":${c.resultBytes},"output_bytes":${c.outputBytes},""" +
        s""""job_ms_by_site":{${c.jobMsBySite.toSeq.sorted.map { case (k, v) => s""""$k":$v""" }.mkString(",")}}}"""
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val GroupPrefix = "perfbench:"
}
