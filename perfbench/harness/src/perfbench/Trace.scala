package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Epoch milliseconds with sub-millisecond resolution, on the same time base
  * as the scheduler's listener events (which carry `System.currentTimeMillis`). */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
  /** CPU seconds used by all threads of this JVM so far. */
  def cpuS: Double = os.getProcessCpuTime / 1e9
}

/** One timed region. `parent` is -1 for a root; `trace` groups one operation's
  * spans (every root span opens a new trace). */
final class Span(val id: Int, val name: String, val parent: Int, val trace: Int,
    val t0: Double) {
  var t1: Double = Double.NaN
  val cpu0: Double = Clock.cpuS
  var cpu1: Double = Double.NaN
  def seconds: Double = (t1 - t0) / 1e3
  def cpuSeconds: Double = cpu1 - cpu0
}

/** In-memory span recorder for the single driver thread that runs a
  * workload. Spans are only written out when the run ends. */
final class Spans {
  val all = ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  private var traces = 0

  def span[A](name: String)(body: => A): A = {
    val parent = stack.headOption
    val trace = parent.map(_.trace).getOrElse { traces += 1; traces }
    val s = new Span(all.size, name, parent.map(_.id).getOrElse(-1), trace, Clock.nowMs)
    all += s
    stack = s :: stack
    try body
    finally { s.t1 = Clock.nowMs; s.cpu1 = Clock.cpuS; stack = stack.tail }
  }

  /** Like [[span]], and also returns the span for its duration. */
  def timed[A](name: String)(body: => A): (A, Span) = {
    var sp: Span = null
    val a = span(name) { sp = stack.head; body }
    (a, sp)
  }

  def json: String = all.map { s =>
    s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
    s""""trace":${s.trace},"t0":${Json.num(s.t0)},"t1":${Json.num(s.t1)}}"""
  }.mkString("[", ",", "]")
}

/** Passive job log: one record per Spark job with its call site and the
  * summed metrics of its completed stages. It only observes listener events
  * and launches no jobs. */
final class JobLog extends SparkListener {
  final class Job(val id: Int, val t0: Double, val site: String) {
    @volatile var t1: Double = Double.NaN
    var stages = 0
    var tasks = 0L
    var runMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  /** SQL execution id -> call site of the action that started it. */
  private val executions = new ConcurrentHashMap[Long, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      executions.put(s.executionId, JobLog.userSite(s.details).getOrElse(s.description))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    // A SQL job's own call site is often a thread-pool frame (adaptive
    // query stages and broadcasts run on pool threads), so it takes the
    // site of the action that started its execution. Other jobs name
    // their call site in the properties or in their result stage, the
    // newest of their stages.
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).filter(_.nonEmpty)
    val site = prop("spark.sql.execution.id").flatMap(id => Option(executions.get(id.toLong)))
      .orElse(prop("callSite.short"))
      .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
      .getOrElse("")
    val j = new Job(e.jobId, e.time.toDouble, site)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.t1 = e.time.toDouble)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stageJob.get(info.stageId)).foreach { j =>
      j.synchronized {
        j.stages += 1
        j.tasks += info.numTasks
        Option(info.taskMetrics).foreach { m =>
          j.runMs += m.executorRunTime
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  def ended: Seq[Job] = jobs.values.asScala.toSeq.filterNot(_.t1.isNaN).sortBy(_.id)

  def json: String = ended.map { j =>
    s"""{"id":${j.id},"t0":${Json.num(j.t0)},"t1":${Json.num(j.t1)},""" +
    s""""site":${Json.str(j.site)},"stages":${j.stages},"tasks":${j.tasks},""" +
    s""""run_ms":${j.runMs},"shuffle_read":${j.shuffleRead},""" +
    s""""shuffle_write":${j.shuffleWrite},"spill":${j.spill}}"""
  }.mkString("[", ",", "]")
}

/** Samples the workload's driver threads (main, and the stream execution
  * threads a streaming query starts) every `periodMs`: for each, the source
  * file of its innermost program or harness frame, kept as run-length
  * segments. A job runs while the thread that submitted it waits in that
  * frame, which names the layer that asked for the job even where Spark
  * pins a call site for a whole micro-batch. Only reads stacks. */
final class StackSampler(periodMs: Long = 5L) extends Thread("perfbench-sampler") {
  final class Seg(val thread: String, val file: String, val t0: Double, var t1: Double)
  setDaemon(true)
  private val segs = ArrayBuffer[Seg]()
  private val open = scala.collection.mutable.Map[Long, Seg]()
  @volatile private var running = true

  private def ours(cls: String) = cls.startsWith("graft.") || cls.startsWith("perfbench.")
  private def sampled(t: Thread) =
    t.getName == "main" || t.getName.startsWith("stream execution thread")

  override def run(): Unit = {
    var targets = Seq.empty[Thread]
    var refreshed = 0.0
    while (running) {
      val now = Clock.nowMs
      if (now - refreshed > 200) {
        targets = Thread.getAllStackTraces.keySet.asScala.filter(sampled).toSeq
        refreshed = now
      }
      targets.foreach { t =>
        val file = t.getStackTrace.find(f => ours(f.getClassName)).map(_.getFileName).orNull
        open.get(t.getId) match {
          case Some(seg) if seg.file == file => seg.t1 = now
          case _ =>
            open.remove(t.getId)
            if (file != null) {
              val seg = new Seg(t.getName, file, now, now)
              segs += seg
              open(t.getId) = seg
            }
        }
      }
      Thread.sleep(periodMs)
    }
  }

  def finish(): Unit = { running = false; join() }

  def json: String = segs.map { g =>
    s"""{"thread":${Json.str(g.thread)},"file":${Json.str(g.file)},""" +
    s""""t0":${Json.num(g.t0)},"t1":${Json.num(g.t1)}}"""
  }.mkString("[", ",", "]")
}

object JobLog {
  private val Frame = """([\w$.]+)\.([\w$]+)\(([\w$]+\.scala):(\d+)\)""".r.unanchored
  private val Library = Seq("org.apache.spark.", "scala.", "java.", "jdk.", "sun.")

  /** The innermost frame of a call site's long form (a stack trace) that
    * lies outside Spark and the standard libraries, as "method at
    * File.scala:line" like a short call site. */
  def userSite(longForm: String): Option[String] =
    longForm.split("\n").iterator.collectFirst {
      case Frame(cls, method, file, line)
          if !Library.exists(cls.startsWith) || cls.contains(".graftbridge.") =>
        s"$method at $file:$line"
    }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
