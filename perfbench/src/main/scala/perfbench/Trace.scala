package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around calls into the program's public functions, plus a
  * SparkListener that attributes Spark work to the span that submitted it.
  *
  * A span tags the client thread with a local property; every job that
  * thread submits carries the tag in its properties, so the listener
  * (which runs on Spark's asynchronous listener bus) can charge jobs,
  * stages and task metrics to the right span no matter how late the
  * events arrive. Spans live in memory and are read once the bus drains.
  */
final class Span(val id: Long, val name: String, val parent: Option[Span]) {
  var startMs = 0L
  var endMs = 0L
  var startNs = 0L
  var endNs = 0L
  val jobIntervals = mutable.Map.empty[Int, (Long, Long)]
  var stages = 0L
  var tasks = 0L
  var execRunMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var resultBytes = 0L
  var writeBytes = 0L

  def wallS: Double = (endNs - startNs) / 1e9
  def jobs: Int = jobIntervals.size

  /** Wall time not covered by any of this span's Spark jobs: planning,
    * driver-side loops, the commit protocol and scheduling gaps. */
  def driverS: Double = {
    val iv = jobIntervals.values.map { case (s, e) =>
      (math.max(s, startMs), math.min(if (e == 0L) endMs else e, endMs))
    }.filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    covered += curE - curS
    math.max(0.0, wallS - covered / 1e3)
  }
}

final class Tracer(sc: SparkContext) extends SparkListener {
  private val Key = "perfbench.span"
  private var nextId = 0L
  private var open: Option[Span] = None
  private val byId = mutable.Map.empty[Long, Span]
  private val stageSpan = mutable.Map.empty[Int, Span]
  private val jobSpan = mutable.Map.empty[Int, Span]
  val finished = mutable.ArrayBuffer.empty[Span]

  def install(): Unit = sc.addSparkListener(this)
  def uninstall(): Unit = sc.removeSparkListener(this)

  def span[T](name: String)(body: => T): (T, Span) = {
    val s = synchronized {
      nextId += 1
      val sp = new Span(nextId, name, open)
      byId(sp.id) = sp
      sp
    }
    open = Some(s)
    sc.setLocalProperty(Key, s.id.toString)
    s.startMs = System.currentTimeMillis()
    s.startNs = System.nanoTime()
    try (body, s)
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open = s.parent
      sc.setLocalProperty(Key, s.parent.map(_.id.toString).orNull)
      synchronized(finished += s)
    }
  }

  /** Blocks until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.PerfbenchAccess.drainListenerBus(sc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
    tag.flatMap(t => byId.get(t.toLong)).foreach { s =>
      jobSpan(e.jobId) = s
      s.jobIntervals(e.jobId) = (e.time, 0L)
      e.stageIds.foreach(stageSpan(_) = s)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { s =>
      s.jobIntervals(e.jobId) = (s.jobIntervals(e.jobId)._1, e.time)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      s.tasks += 1
      s.execRunMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
      s.resultBytes += m.resultSize
      s.writeBytes += m.outputMetrics.bytesWritten
    }
  }
}
