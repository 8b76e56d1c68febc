package qcbench

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Counters of one Spark job, tagged with the benchmark leg and span
  * that submitted it. `callSite` is the job's short call site
  * ("collect at QueryCache.scala:123"), which names the module. */
final case class JobStat(jobId: Int, leg: String, span: Long,
    callSite: String, startMs: Long, var endMs: Long = -1L,
    var tasks: Int = 0, var rowsRead: Long = 0L, var shuffleBytes: Long = 0L,
    var cpuNs: Long = 0L, var schedDelayMs: Long = 0L)

/** Spark listener that attributes jobs and task metrics to the leg and
  * span named in the submitting thread's local properties. */
final class Meter(sc: SparkContext) extends SparkListener {
  private val jobs = mutable.LinkedHashMap[Int, JobStat]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private var drainTag = ""
  private var drained: CountDownLatch = null

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String): Option[String] =
      Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val site =
      if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobs(e.jobId) = JobStat(e.jobId, prop(Meter.LegKey).getOrElse(""),
      prop(Meter.SpanKey).map(_.toLong).getOrElse(0L), site, e.time)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val latch = synchronized {
      jobs.get(e.jobId).flatMap { j =>
        j.endMs = e.time
        if (j.leg == drainTag) Option(drained) else None
      }
    }
    latch.foreach(_.countDown())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.rowsRead += m.inputMetrics.recordsRead
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.cpuNs += m.executorCpuTime
        // the scheduler-delay formula of Spark's own UI
        val i = e.taskInfo
        j.schedDelayMs += math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          i.gettingResultTime)
      }
    }
  }

  /** Returns once every event posted before the call has been handled:
    * the bus is FIFO, so seeing a marker job's end suffices. */
  def drain(): Unit = {
    val tag = s"drain-${System.nanoTime}"
    val latch = new CountDownLatch(1)
    synchronized { drainTag = tag; drained = latch }
    val prev = sc.getLocalProperty(Meter.LegKey)
    sc.setLocalProperty(Meter.LegKey, tag)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Meter.LegKey, prev)
    if (!latch.await(60, TimeUnit.SECONDS))
      sys.error("Spark listener bus did not drain within 60 s")
  }

  def snapshot(): Seq[JobStat] = synchronized(jobs.values.map(_.copy()).toSeq)
}

object Meter {
  val LegKey = "qcbench.leg"
  val SpanKey = "qcbench.span"
}

/** One traced interval: `op` is the benchmark op it belongs to, `parent`
  * the enclosing span (0 at the root). Times are epoch nanoseconds so
  * they line up with the listener's epoch-millisecond job times. */
final case class Span(id: Long, parent: Long, name: String, op: Int,
    startNs: Long, var endNs: Long = -1L) {
  def durS: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans nest on the calling thread; the open
  * span's id travels to Spark jobs as a local property. Disabled, it
  * only runs the body. */
final class Tracer(sc: SparkContext) {
  var enabled = false
  private val spans = ArrayBuffer.empty[Span]
  private var current = 0L
  private var nextId = 1L
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()

  def nowNs: Long = anchorMs * 1000000L + (System.nanoTime() - anchorNs)

  def span[A](name: String, op: Int)(f: => A): A =
    if (!enabled) f
    else {
      val s = Span(nextId, current, name, op, nowNs)
      nextId += 1
      spans += s
      val parent = current
      current = s.id
      sc.setLocalProperty(Meter.SpanKey, s.id.toString)
      try f
      finally {
        s.endNs = nowNs
        current = parent
        sc.setLocalProperty(Meter.SpanKey,
          if (parent == 0L) null else parent.toString)
      }
    }

  def all: Seq[Span] = spans.toSeq
}
