package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import perfbench.Stats.Span

/** Spark work attributed to one span (its own jobs plus its descendants'). */
final case class SparkWork(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
                           shuffleBytes: Long = 0, spillBytes: Long = 0,
                           taskBusyMs: Long = 0) {
  def +(o: SparkWork): SparkWork = SparkWork(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes,
    taskBusyMs + o.taskBusyMs)
}

/** Collects jobs, stages and task metrics per harness job group. Groups
  * not set by the harness are ignored. */
final class JobListener extends SparkListener {
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val work = new java.util.concurrent.ConcurrentHashMap[String, SparkWork]()

  private def add(group: String, w: SparkWork): Unit =
    work.merge(group, w, (a: SparkWork, b: SparkWork) => a + b)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.GroupKey)))
      .filter(_.startsWith(Tracer.GroupPrefix)).foreach { g =>
        add(g, SparkWork(jobs = 1))
        e.stageIds.foreach(s => stageGroup.putIfAbsent(s, g))
      }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach(g => add(g, SparkWork(stages = 1)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val m = e.taskMetrics
      if (m == null) add(g, SparkWork(tasks = 1))
      else add(g, SparkWork(tasks = 1,
        shuffleBytes = m.shuffleWriteMetrics.bytesWritten,
        spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled,
        taskBusyMs = m.executorRunTime))
    }

  def byGroup: Map[String, SparkWork] = work.asScala.toMap
}

/** Spans around the harness's calls into each layer. Off: `span` runs its
  * body and records nothing. On: every span gets its own Spark job group,
  * so the listener can attribute jobs, stages and tasks to it. Spans stay
  * in memory until [[write]]. */
final class Tracer(spark: SparkSession, val on: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Long]
  private var nextId = 1L
  private var op = 0L
  private val listener =
    if (on) { val l = new JobListener; spark.sparkContext.addSparkListener(l); Some(l) }
    else None

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val sc = spark.sparkContext
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      if (parent == 0L) op += 1
      stack = id :: stack
      sc.setJobGroup(Tracer.GroupPrefix + id, name)
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, t0, System.nanoTime(), parent, op)
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(Tracer.GroupPrefix + p, "")
          case None => sc.clearJobGroup()
        }
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Spark work per span id, inclusive of descendant spans. */
  def sparkBySpan(): Map[Long, SparkWork] = listener match {
    case None => Map.empty
    case Some(l) =>
      org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
      val byId = spans.iterator.map(s => s.id -> s).toMap
      val acc = mutable.Map.empty[Long, SparkWork].withDefaultValue(SparkWork())
      l.byGroup.foreach { case (g, w) =>
        var id = g.stripPrefix(Tracer.GroupPrefix).toLong
        while (id != 0L && byId.contains(id)) {
          acc(id) = acc(id) + w
          id = byId(id).parent
        }
      }
      acc.toMap
  }

  /** One JSON object per span, one per line. */
  def write(path: java.nio.file.Path): Unit = {
    val self = Stats.selfTimes(spans.toSeq)
    val lines = spans.map(s =>
      s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},""" +
        s""""parent":${s.parent},"op":${s.op},"self_ns":${self(s.id)}}""")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  /** Records nothing: for calls outside any timed window. */
  val Off: Tracer = new Tracer(null, on = false)

  val GroupKey = "spark.jobGroup.id"
  val GroupPrefix = "perfbench-"
}

/** Collector time and heap peak of this JVM from a start mark. */
final class JvmMark {
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private val gc0 = gcMs
  heapPools.foreach(_.resetPeakUsage())

  def gcMsSince: Double = (gcMs - gc0).toDouble
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}
