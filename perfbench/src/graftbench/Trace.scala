package graftbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Task metrics summed per Spark job group. */
final class GroupTotals {
  var tasks = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
}

/** Sums finished-task metrics by the job group that was set when the
  * job started (`SparkContext.setJobGroup`). Jobs started without a
  * group are summed under "other". */
final class GroupListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val totals = new ConcurrentHashMap[String, GroupTotals]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("other")
    e.stageIds.foreach(s => stageGroup.put(s, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val g = Option(stageGroup.get(e.stageId)).getOrElse("other")
    val t = totals.computeIfAbsent(g, _ => new GroupTotals)
    t.synchronized {
      t.tasks += 1
      t.cpuNs += m.executorCpuTime
      t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      t.gcMs += m.jvmGCTime
    }
  }

  def reset(): Unit = totals.clear()
  def snapshot(): Map[String, GroupTotals] = totals.asScala.toMap
}

/** One traced interval: `parent` is the id of the enclosing span (-1 at
  * the root). Times are wall-clock nanoseconds from the trace origin. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long)

/** Spans are kept in memory and written once, at the end of a run. */
final class Spans {
  private val origin = System.nanoTime()
  private val done = ArrayBuffer[Span]()
  private var nextId = 0
  private var stack = List.empty[Int]

  def apply[T](name: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val t0 = System.nanoTime() - origin
    stack = id :: stack
    try body
    finally {
      stack = stack.tail
      done += Span(id, name, parent, t0, System.nanoTime() - origin)
    }
  }

  def toJson: String = done.sortBy(_.id).map { s =>
    s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
      f""""start_s":${s.startNs / 1e9}%.6f,"end_s":${s.endNs / 1e9}%.6f}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
