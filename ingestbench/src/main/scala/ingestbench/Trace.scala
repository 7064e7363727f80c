package ingestbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd, SparkListenerTaskStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A timed interval. Times are epoch nanoseconds; `parent` is the id of
  * the enclosing span (0 for a root), `pass` the pass it belongs to
  * (0 outside passes). */
case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, pass: Int) {
  def dur: Long = end - start
}

/** In-memory span recorder, written out once when the run ends. Bench
  * spans nest on the driver thread; Spark job and streaming-trigger
  * spans arrive from listeners and are parented afterwards, to the
  * innermost bench span that contains their start. */
final class Spans {
  private val epochOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = System.nanoTime() + epochOffset

  private val bench = new ConcurrentLinkedQueue[Span]()
  private val foreign = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private var stack: List[Int] = Nil
  @volatile var pass: Int = 0

  def apply[T](name: String)(f: => T): T = {
    val id = ids.incrementAndGet().toInt
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val t0 = now()
    try f
    finally {
      bench.add(Span(id, name, t0, now(), parent, pass))
      stack = stack.tail
    }
  }

  /** A span observed by a listener (epoch nanoseconds). */
  def external(name: String, start: Long, end: Long): Unit =
    foreign.add(Span(ids.incrementAndGet().toInt, name, start, end, -1, 0))

  /** All spans, listener spans parented and assigned a pass. */
  def all: Seq[Span] = {
    val b = bench.asScala.toSeq
    val f = foreign.asScala.toSeq.map { s =>
      val inside = b.filter(p => p.start <= s.start && s.start < p.end)
      inside.minByOption(_.dur) match {
        case Some(p) => s.copy(parent = p.id, pass = p.pass)
        case None => s.copy(parent = 0)
      }
    }
    (b ++ f).sortBy(s => (s.start, s.id))
  }

  def writeJsonl(file: java.io.File): Unit = {
    val lines = all.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},""" +
        s""""parent":${s.parent},"pass":${s.pass}}"""
    }
    java.nio.file.Files.write(file.toPath, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Spans {
  /** Self time of each span: its duration minus the union of its
    * children's intervals. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cover = union(kids.getOrElse(s.id, Nil).map(k =>
        (math.max(k.start, s.start), math.min(k.end, s.end))))
      s.id -> math.max(0L, s.dur - cover)
    }.toMap
  }

  /** Length of the union of intervals (end < start counts as empty). */
  def union(ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var cs = Long.MinValue
    var ce = Long.MinValue
    ivs.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > ce) { if (ce > cs) total += ce - cs; cs = s; ce = e }
      else if (e > ce) ce = e
    }
    if (ce > cs) total += ce - cs
    total
  }
}

/** Engine counters from Spark's listener bus, read as deltas around a
  * pass. Job intervals also become spans. */
final class EngineListener(spans: Spans) extends SparkListener {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val taskMs = new AtomicLong
  val gcMs = new AtomicLong
  val firstLaunch = new AtomicLong(Long.MaxValue)
  val lastFinish = new AtomicLong(0L)
  private val starts = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  /** (start ms, end ms) of every finished job. */
  val jobIntervals = new ConcurrentLinkedQueue[(Long, Long)]()

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    starts.put(j.jobId, j.time)
  }
  override def onJobEnd(j: SparkListenerJobEnd): Unit = {
    val s = starts.remove(j.jobId)
    if (s != null) {
      jobIntervals.add((s.longValue, j.time))
      spans.external("spark.job", s.longValue * 1000000L, j.time * 1000000L)
    }
  }
  override def onTaskStart(t: SparkListenerTaskStart): Unit =
    if (t.taskInfo != null) firstLaunch.accumulateAndGet(t.taskInfo.launchTime, Math.min): Unit
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (t.taskInfo != null) {
      taskMs.addAndGet(t.taskInfo.duration)
      lastFinish.accumulateAndGet(t.taskInfo.finishTime, Math.max)
    }
    if (t.taskMetrics != null) gcMs.addAndGet(t.taskMetrics.jvmGCTime): Unit
  }

  case class Snap(jobs: Long, tasks: Long, taskMs: Long, gcMs: Long)
  def snap(): Snap = Snap(jobs.get, tasks.get, taskMs.get, gcMs.get)
  def resetSpan(): Unit = { firstLaunch.set(Long.MaxValue); lastFinish.set(0L); jobIntervals.clear() }
}

/** Streaming progress: trigger count and durations, commit time. */
final class StreamListener(spans: Spans) extends StreamingQueryListener {
  val triggers = new AtomicLong
  val commitMs = new AtomicLong
  val triggerMs = new ConcurrentLinkedQueue[java.lang.Long]()
  val terminated = new AtomicLong

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    if (p.numInputRows > 0 || ms("addBatch") > 0) {
      triggers.incrementAndGet()
      commitMs.addAndGet(ms("walCommit") + ms("commitOffsets"))
      triggerMs.add(ms("triggerExecution"))
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L
      spans.external("stream.trigger", start, start + ms("triggerExecution") * 1000000L)
    }
  }
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    terminated.incrementAndGet(): Unit
}
