package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval around a call into the engine. Spans of one request
  * (one benchmark operation) share `request`; `parent` is 0 for the
  * request's root span. Times are wall-clock milliseconds plus a nanosecond
  * clock for durations.
  */
final class Span(
    val id: Long,
    val name: String,
    val parent: Long,
    val request: Long,
    val startMs: Long,
    val startNs: Long) {
  @volatile var endMs: Long = 0L
  @volatile var endNs: Long = 0L
  def nanos: Long = endNs - startNs
  def layer: String = name.takeWhile(_ != '.')
}

/** Task counters summed over the Spark jobs attributed to one span. */
final class Counters {
  var jobs, jobWallMs, tasks, runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill, recordsRead = 0L
  def +=(o: Counters): Unit = {
    jobs += o.jobs; jobWallMs += o.jobWallMs; tasks += o.tasks; runMs += o.runMs
    cpuNs += o.cpuNs; gcMs += o.gcMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spill += o.spill; recordsRead += o.recordsRead
  }
}

/** In-memory spans plus one SparkListener. Each span sets the calling
  * thread's Spark job group to its own id, so a job carries the span that
  * submitted it. Jobs submitted from a thread with no live span group (the
  * engine writes some outputs from a Future pool, whose threads keep a stale
  * inherited group) go to the innermost span open when the job started.
  * Attribution is resolved once, in [[finish]], after the listener bus has
  * drained.
  */
final class Tracer(sc: SparkContext) {
  private val spans = new ConcurrentLinkedQueue[Span]
  private val byId = new ConcurrentHashMap[Long, Span]
  private val nextId = new AtomicLong(1)
  private val current = new ThreadLocal[Span]

  private final case class JobRec(group: Long, startMs: Long, var endMs: Long, stages: Seq[Int])
  private val jobs = new ConcurrentHashMap[Int, JobRec]
  private val stageJob = new ConcurrentHashMap[Int, Int]
  private val stageCounters = new ConcurrentHashMap[Int, Counters]

  private val GroupPrefix = "perfbench-span-"

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith(GroupPrefix)).map(_.stripPrefix(GroupPrefix).toLong).getOrElse(0L)
      jobs.put(e.jobId, JobRec(g, e.time, e.time, e.stageIds))
      e.stageIds.foreach(stageJob.putIfAbsent(_, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val c = stageCounters.computeIfAbsent(e.stageId, _ => new Counters)
        c.synchronized {
          c.tasks += 1
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.recordsRead += m.inputMetrics.recordsRead
        }
      }
    }
  }
  sc.addSparkListener(listener)

  /** Run `body` as the root span of request `request` when `on`; untraced
    * (no span, no job group) otherwise.
    */
  def request[A](name: String, request: Long, on: Boolean)(body: => A): A =
    if (on) open(name, 0L, request)(body) else body

  /** A child of the calling thread's open span; a plain call outside a
    * traced request.
    */
  def span[A](name: String)(body: => A): A = {
    val p = current.get
    if (p == null) body else open(name, p.id, p.request)(body)
  }

  private def open[A](name: String, parent: Long, request: Long)(body: => A): A = {
    val prev = current.get
    val s = new Span(nextId.getAndIncrement(), name, parent, request,
      System.currentTimeMillis(), System.nanoTime())
    byId.put(s.id, s)
    current.set(s)
    sc.setJobGroup(GroupPrefix + s.id, name, interruptOnCancel = false)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      spans.add(s)
      current.set(prev)
      if (prev == null) sc.clearJobGroup()
      else sc.setJobGroup(GroupPrefix + prev.id, prev.name, interruptOnCancel = false)
    }
  }

  /** Stop listening and resolve per-span counters. */
  def finish(): Traced = {
    org.apache.spark.perfbenchbridge.ListenerBusDrain(sc)
    sc.removeSparkListener(listener)
    val all = spans.asScala.toVector.sortBy(_.startNs)
    def openAt(s: Span, t: Long) = s.startMs <= t && t <= s.endMs
    val perSpan = new java.util.HashMap[Long, Counters]
    jobs.asScala.foreach { case (jobId, j) =>
      val owner = Option(byId.get(j.group)).filter(openAt(_, j.startMs))
        .orElse(all.filter(openAt(_, j.startMs)).lastOption)
      owner.foreach { s =>
        val c = perSpan.computeIfAbsent(s.id, _ => new Counters)
        c.jobs += 1
        c.jobWallMs += j.endMs - j.startMs
        j.stages.filter(st => stageJob.get(st) == jobId)
          .flatMap(st => Option(stageCounters.get(st))).foreach(c += _)
      }
    }
    new Traced(all, perSpan.asScala.toMap)
  }
}

/** Finished spans with their attributed counters. */
final class Traced(val spans: Vector[Span], counters: Map[Long, Counters]) {
  private val children: Map[Long, Vector[Span]] = spans.groupBy(_.parent)

  def counters(s: Span): Counters = counters.getOrElse(s.id, new Counters)

  def named(name: String): Vector[Span] = spans.filter(_.name == name)

  /** Span duration minus the part of it covered by its child spans. */
  def selfNanos(s: Span): Long = {
    val kids = children.getOrElse(s.id, Vector.empty).map(c =>
      (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))).filter(i => i._1 < i._2).sortBy(_._1)
    var covered = 0L
    var reach = Long.MinValue
    kids.foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) covered += b - from
      reach = math.max(reach, b)
    }
    s.nanos - covered
  }

  def sum(name: String): Counters = {
    val c = new Counters
    named(name).foreach(s => c += counters(s))
    c
  }

  /** One JSON object per span, for offline inspection. */
  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      val c = counters(s)
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"request":${s.request},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"nanos":${s.nanos},"self_nanos":${selfNanos(s)},""" +
        s""""jobs":${c.jobs},"tasks":${c.tasks},"cpu_ns":${c.cpuNs},"shuffle_write":${c.shuffleWrite},""" +
        s""""spill":${c.spill},"records_read":${c.recordsRead}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}
