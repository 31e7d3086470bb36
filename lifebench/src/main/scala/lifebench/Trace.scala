package lifebench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Task totals of one job group (one span). */
final class GroupAgg {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleReadB = 0L
  var shuffleWriteB = 0L
  var spillB = 0L
  /** task durations (ms) per stage attempt, for the skew figure */
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Double]]

  def skew: Double =
    if (stageTaskMs.isEmpty) 1.0 else stageTaskMs.values.map(d => Stats.skew(d.toSeq)).max

  def add(o: GroupAgg): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    cpuNs += o.cpuNs; shuffleReadB += o.shuffleReadB
    shuffleWriteB += o.shuffleWriteB; spillB += o.spillB
    o.stageTaskMs.foreach { case (k, v) =>
      stageTaskMs.getOrElseUpdate(k, mutable.ArrayBuffer.empty) ++= v }
  }
}

/** Attributes Spark jobs, stages and tasks to the job group that was
  * set on the submitting thread when the job started. Jobs without a
  * group (everything outside a traced span) are ignored. */
final class GroupListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val aggs = mutable.Map.empty[String, GroupAgg]

  private def agg(g: String): GroupAgg = aggs.getOrElseUpdate(g, new GroupAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        e.stageIds.foreach(stageGroup(_) = g)
        agg(g).jobs += 1
      }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(agg(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val a = agg(g)
      a.tasks += 1
      a.stageTaskMs.getOrElseUpdate(e.stageId * 1000 + e.stageAttemptId,
        mutable.ArrayBuffer.empty) += e.taskInfo.duration.toDouble
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.shuffleReadB += m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead
        a.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        a.spillB += m.diskBytesSpilled
      }
    }
  }

  def group(g: String): GroupAgg = synchronized(aggs.getOrElse(g, new GroupAgg))

  def groups: Set[String] = synchronized(aggs.keySet.toSet)
}

/** One closed span. `counts` are the figures recorded at the span's
  * boundary; gc/jit are JVM-wide deltas over the span (under local[N]
  * every executor thread runs in this JVM). */
final case class SpanRec(id: Int, parent: Int, name: String, startNs: Long,
    endNs: Long, counts: Map[String, Double], gcMs: Long, jitMs: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
  def layer: String = name.substring(0, name.lastIndexOf('.'))
}

/** In-memory span recorder. Every span sets a job group of its own on
  * the calling thread, so the listener can attribute each Spark job to
  * the innermost span that submitted it; closing a span restores the
  * parent's group. Spans are written out only when the run ends. */
final class Tracer(spark: SparkSession) {
  val listener = new GroupListener
  spark.sparkContext.addSparkListener(listener)

  private final class Open(val id: Int, val parent: Int, var name: String,
      val startNs: Long, val gc0: Long, val jit0: Long) {
    val counts = mutable.LinkedHashMap.empty[String, Double]
  }
  private val closed = mutable.ArrayBuffer.empty[SpanRec]
  private var stack: List[Open] = Nil
  private var nextId = 1

  def groupOf(id: Int): String = s"lifebench-$id"

  def open(name: String): Unit = {
    val o = new Open(nextId, stack.headOption.map(_.id).getOrElse(0), name,
      System.nanoTime(), Tracer.gcMs(), Tracer.jitMs())
    nextId += 1
    stack = o :: stack
    spark.sparkContext.setJobGroup(groupOf(o.id), name)
  }

  /** Close the innermost span, optionally naming it now (for spans
    * whose identity is only known at their end, such as pipeline
    * stages reported through a callback). */
  def close(rename: Option[String] = None): Unit = {
    val o = stack.head
    stack = stack.tail
    rename.foreach(o.name = _)
    closed += SpanRec(o.id, o.parent, o.name, o.startNs, System.nanoTime(),
      o.counts.toMap, Tracer.gcMs() - o.gc0, Tracer.jitMs() - o.jit0)
    stack.headOption match {
      case Some(p) => spark.sparkContext.setJobGroup(groupOf(p.id), p.name)
      case None => spark.sparkContext.clearJobGroup()
    }
  }

  def span[T](name: String)(body: => T): T = {
    open(name)
    try body finally close()
  }

  /** Add to a count on the innermost open span. */
  def count(key: String, v: Double): Unit =
    stack.headOption.foreach(o => o.counts(key) = o.counts.getOrElse(key, 0.0) + v)

  def spans: Seq[SpanRec] = closed.toSeq.sortBy(_.id)
}

object Tracer {
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum
  def jitMs(): Long = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime
    else 0L
  }

  /** Time in [start, end) covered by the union of the given intervals,
    * each clipped to [start, end). */
  def covered(start: Long, end: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals.map { case (a, b) => (a.max(start), b.min(end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Span duration minus the part of it its direct children cover. */
  def selfNs(s: SpanRec, all: Seq[SpanRec]): Long =
    (s.endNs - s.startNs) -
      covered(s.startNs, s.endNs,
        all.filter(_.parent == s.id).map(c => (c.startNs, c.endNs)))
}
