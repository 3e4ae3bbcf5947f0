package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A span on the epoch clock, in nanoseconds. Spark's job events carry
  * epoch milliseconds, so op spans and job spans share one time base. */
final case class Span(
    id: Int,
    name: String,
    parent: Int, // -1 for a root span
    start: Long,
    end: Long,
    jobs: Int = 0,
    cpuNs: Long = 0L,
    gcMs: Long = 0L,
    shuffleBytes: Long = 0L)

object Clock {
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def epochNanos(): Long = base + System.nanoTime()
}

/** Per-job accounting for one traced call: job intervals from the events'
  * own timestamps, task CPU, GC and shuffle-write bytes attributed to the
  * job through its stages. */
final class JobListener extends SparkListener {
  /** Time spent in this listener's callbacks, on the listener bus thread. */
  @volatile var callbackNs = 0L
  private final class Job(val id: Int, val start: Long) {
    var end = -1L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleBytes = 0L
  }
  private val jobs = ArrayBuffer[Job]()
  private val byStage = scala.collection.mutable.Map[Int, Job]()

  private def timed(body: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    body
    callbackNs += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val j = new Job(e.jobId, e.time)
    jobs += j
    e.stageIds.foreach(s => byStage(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    if (m != null) byStage.get(e.stageId).foreach { j =>
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  /** One child span per job, in epoch nanoseconds. */
  def spans(nextId: () => Int, parent: Int): Seq[Span] = synchronized {
    jobs.toSeq.map { j =>
      val end = if (j.end < 0) j.start else j.end
      Span(nextId(), s"job-${j.id}", parent, j.start * 1000000L, end * 1000000L,
        jobs = 1, cpuNs = j.cpuNs, gcMs = j.gcMs, shuffleBytes = j.shuffleBytes)
    }
  }
}

/** The benchmark's trace: spans stay in memory until the run ends. */
final class Tracer(sc: SparkContext) {
  val spans = ArrayBuffer[Span]()
  private var next = 0
  private def nextId(): Int = { next += 1; next }
  private var spannedNs = 0L
  private var tracingNs = 0L

  /** Run `body` under a root span named `name`, with a listener registered
    * for exactly its duration; its jobs become child spans. */
  def span[T](name: String)(body: => T): (T, Span) = {
    val t0 = System.nanoTime()
    val l = new JobListener
    sc.addSparkListener(l)
    var wallNs = 0L
    try {
      val start = Clock.epochNanos()
      val out = body
      val end = Clock.epochNanos()
      wallNs = end - start
      org.apache.spark.PerfbenchBus.drain(sc)
      val s = Span(nextId(), name, -1, start, end)
      spans += s
      spans ++= l.spans(() => nextId(), s.id)
      (out, s)
    } finally {
      sc.removeSparkListener(l)
      spannedNs += wallNs
      tracingNs += System.nanoTime() - t0 - wallNs + l.callbackNs
    }
  }

  /** What tracing added, relative to the traced calls' own wall time:
    * listener registration, the bus drain and removal on the driver thread,
    * plus the listener's callback time on the bus thread. */
  def overheadFrac: Double = if (spannedNs == 0) 0.0 else tracingNs.toDouble / spannedNs

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq
}

/** Per-op layer numbers derived from an op span and its job spans. */
final case class OpTrace(wallS: Double, jobs: Int, jobS: Double, cpuS: Double,
    gcS: Double, shuffleMb: Double) {
  def outOfJobS: Double = wallS - jobS
}

object OpTrace {
  /** Union length of [start, end) intervals, in nanoseconds. */
  def unionNanos(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  def of(op: Span, jobs: Seq[Span]): OpTrace = OpTrace(
    wallS = (op.end - op.start) / 1e9,
    jobs = jobs.size,
    jobS = unionNanos(jobs.map(j => (j.start, j.end))) / 1e9,
    cpuS = jobs.map(_.cpuNs).sum / 1e9,
    gcS = jobs.map(_.gcMs).sum / 1e3,
    shuffleMb = jobs.map(_.shuffleBytes).sum / 1e6)
}
