package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** One timed call into a layer. `req` groups the spans of one operation. */
final case class Span(id: Long, parent: Long, req: Long, name: String,
                      startNs: Long, endNs: Long)

/** In-memory span recorder. Disabled (untraced runs) it only runs the
  * body. Spans nest per thread; they are written out once, at run end. */
object Tracer {
  @volatile var enabled = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val requestId = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  def setRequest(r: Long): Unit = requestId.set(r)
  /** The request id this thread last set. */
  def request: Long = requestId.get()

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, requestId.get(), name, t0, System.nanoTime()))
        stack.set(stack.get().tail)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** name -> (calls, total s, self s) over the kept spans; self time is
    * the span minus the union of its direct children's intervals. */
  def selfTimes(keep: Span => Boolean = _ => true): Map[String, (Int, Double, Double)] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.filter(keep).groupBy(_.name).map { case (n, xs) =>
      val tot = xs.map(s => s.endNs - s.startNs).sum
      val self = xs.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)))
        (s.endNs - s.startNs) - covered
      }.sum
      n -> (xs.size, tot / 1e9, self / 1e9)
    }
  }

  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Per-job record collected by [[JobListener]]. */
final class JobRec(val id: Int, val group: String, val desc: String, val startMs: Long) {
  @volatile var endMs: Long = -1L
  @volatile var firstLaunchMs: Long = Long.MaxValue
  var tasks = 0
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  def wallS: Double = (endMs - startMs) / 1000.0
}

/** Benchmark-side listener: per job, its task count, task CPU, shuffle
  * write, spill and GC, keyed by the job group the calling thread set (or
  * the job description, for the build jobs that label themselves). */
final class JobListener extends SparkListener {
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    val r = new JobRec(e.jobId, prop("spark.jobGroup.id"),
      prop("spark.job.description"), e.time)
    jobs.put(e.jobId, r)
    e.stageIds.foreach(s => stageJob.put(s, r))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    Option(stageJob.get(e.stageId)).foreach { r =>
      r.synchronized { r.firstLaunchMs = math.min(r.firstLaunchMs, e.taskInfo.launchTime) }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { r =>
      val m = e.taskMetrics
      r.synchronized {
        r.tasks += 1
        if (m != null) {
          r.cpuNs += m.executorCpuTime
          r.gcMs += m.jvmGCTime
          r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  /** Waits until every started job has ended and its events have arrived
    * (the listener bus is asynchronous). */
  def settle(timeoutMs: Long = 10000L): Unit = {
    val end = System.currentTimeMillis() + timeoutMs
    var stableSince = System.currentTimeMillis()
    var last = -1
    while (System.currentTimeMillis() < end &&
           (jobs.values.asScala.exists(_.endMs < 0) ||
            System.currentTimeMillis() - stableSince < 300)) {
      val n = jobs.size
      if (n != last) { last = n; stableSince = System.currentTimeMillis() }
      Thread.sleep(20)
    }
  }

  def all: Seq[JobRec] = jobs.values.asScala.toSeq
}
