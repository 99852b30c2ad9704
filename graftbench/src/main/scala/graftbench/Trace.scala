package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** One closed-loop operation of a workload: the driver issues the next
  * one only after this one returns.
  */
final case class OpRec(id: Int, round: Int, name: String, kind: String, startNs: Long, endNs: Long,
                       ok: Boolean) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** One call into a graft layer, made inside op `op`. `group` is the Spark
  * job group set around the call; `fs` the FS operations it made.
  */
final case class SpanRec(op: Int, opName: String, name: String, group: String,
                         startNs: Long, endNs: Long, fs: FsCounts.Snap, rows: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Engine work attributed to one job group. */
final class JobAgg {
  var jobs = 0
  var tasks = 0
  val intervals = ArrayBuffer.empty[(Long, Long)]
  var shuffleBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var cpuNs = 0L
  var rowsWritten = 0L

  /** Wall time covered by at least one job (AQE runs jobs that overlap,
    * so a sum would count the shared time twice).
    */
  def unionMs: Long = Trace.unionMs(intervals.toSeq)
}

/** Collects jobs, tasks and task metrics per job group. Events arrive on
  * the listener-bus thread; readers call [[SparkContextAccess.drain]]
  * before reading.
  */
final class JobCollector extends SparkListener {
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (String, Long)]
  val byGroup: mutable.HashMap[String, JobAgg] = mutable.HashMap.empty

  private def agg(g: String) = byGroup.getOrElseUpdate(g, new JobAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { g =>
      jobStart(e.jobId) = (g, e.time)
      e.stageIds.foreach(stageGroup(_) = g)
      agg(g).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t0) => agg(g).intervals += ((t0, e.time)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = agg(g)
      a.tasks += 1
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.diskBytesSpilled
      a.gcMs += m.jvmGCTime
      a.cpuNs += m.executorCpuTime
      a.rowsWritten += m.outputMetrics.recordsWritten
    }
  }

  def get(g: String): JobAgg = synchronized(byGroup.getOrElse(g, new JobAgg))
}

/** Records ops always, and in a traced run spans, job groups and FS
  * counts around each call into a layer. Spans stay in memory until the
  * run writes them out.
  */
final class Trace(sc: SparkContext, val traced: Boolean) {
  val ops: ArrayBuffer[OpRec] = ArrayBuffer.empty
  val spans: ArrayBuffer[SpanRec] = ArrayBuffer.empty
  val errors: ArrayBuffer[String] = ArrayBuffer.empty
  val jobs: Option[JobCollector] =
    if (traced) { val c = new JobCollector; sc.addSparkListener(c); Some(c) } else None
  /** The workload round the next ops belong to. */
  var round = 0
  private var nextOp = 0
  private var nextGroup = 0
  private var current = -1
  private var currentName = ""

  /** Forget the ops and spans so far (the warm-up round's). */
  def reset(): Unit = { ops.clear(); spans.clear(); errors.clear() }

  /** Run one op; a thrown exception marks it failed and the loop goes on. */
  def op[T](name: String, kind: String)(body: => T): Option[T] = {
    current = nextOp
    nextOp += 1
    currentName = name
    val t0 = System.nanoTime()
    val r = try Some(body) catch {
      case NonFatal(e) =>
        errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
    }
    ops += OpRec(current, round, name, kind, t0, System.nanoTime(), r.isDefined)
    r
  }

  /** A call into layer `name` (`<layer>.<call>`), inside the current op,
    * handing graft `rows` input rows.
    */
  def span[T](name: String, rows: Long = 0L)(body: => T): T =
    if (!traced) body
    else {
      val group = s"gb-$nextGroup"
      nextGroup += 1
      sc.setJobGroup(group, s"$currentName $name", interruptOnCancel = false)
      val fs0 = FsCounts.snap()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        sc.clearJobGroup()
        spans += SpanRec(current, currentName, name, group, t0, t1, FsCounts.snap() - fs0, rows)
      }
    }
}

object Trace {
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > end) { total += e - s; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    total
  }
}
