package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into the program, recorded from the benchmark side. */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
                      parent: Long, request: Long) {
  def durNs: Long = endNs - startNs
}

object Span {
  /** Duration of `s` minus the part of its interval that its children
    * cover (children may overlap each other; each instant counts once). */
  def selfNs(s: Span, children: Seq[Span]): Long = {
    val iv = children
      .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) covered += curB - curA
    s.durNs - covered
  }

  /** Self time of every span, keyed by span id. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map(s => s.id -> selfNs(s, kids.getOrElse(s.id, Nil))).toMap
  }
}

/** Spans around the benchmark's calls into the program. When enabled and
  * given a SparkContext, each span also tags the Spark jobs its thread
  * submits with a job group named after the span, so [[JobStats]] can
  * attribute jobs, tasks and bytes to the call. Disabled, `span` only
  * runs its body. */
final class Tracer(val enabled: Boolean, sc: Option[SparkContext]) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }
  private val GroupKey = "spark.jobGroup.id"

  def newRequest(): Long = ids.incrementAndGet()

  /** Job group that a span with this name and id tags its jobs with. */
  def group(name: String, id: Long): String = s"$name#$id"

  def span[T](name: String, request: Long = 0L)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      val (parent, req) = outer match {
        case (pid, preq) :: _ => (pid, if (request != 0L) request else preq)
        case Nil => (0L, if (request != 0L) request else id)
      }
      val prevGroup = sc.map(_.getLocalProperty(GroupKey))
      sc.foreach(_.setLocalProperty(GroupKey, group(name, id)))
      stack.set((id, req) :: outer)
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, name, t0, System.nanoTime(), parent, req))
        stack.set(outer)
        sc.foreach(_.setLocalProperty(GroupKey, prevGroup.orNull))
      }
    }

  def all: Seq[Span] = spans.asScala.toVector.sortBy(_.startNs)

  def writeJsonl(path: java.nio.file.Path): Unit =
    java.nio.file.Files.write(path, jsonLines.asJava)

  /** Spans as JSON lines, with self time. */
  def jsonLines: Seq[String] = {
    val ss = all
    val self = Span.selfTimes(ss)
    val t0 = ss.headOption.fold(0L)(_.startNs)
    ss.map { s =>
      Json(Map("id" -> s.id, "name" -> s.name, "start_ms" -> (s.startNs - t0) / 1e6,
        "end_ms" -> (s.endNs - t0) / 1e6, "parent" -> s.parent,
        "request" -> s.request, "self_ms" -> self(s.id) / 1e6))
    }
  }
}

/** Per-job-group totals of what Spark ran. */
final class GroupAgg {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val taskWaitMs = mutable.ArrayBuffer.empty[Double]
}

/** SparkListener that groups jobs, tasks, task CPU, GC, input, shuffle
  * write and spill by the job group of the call that submitted them (its
  * stages are attributed through their job). Task wait is first task
  * launch minus stage submission, per stage. */
final class JobStats extends SparkListener {
  private val byGroup = mutable.HashMap.empty[String, GroupAgg]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stageSubmitMs = mutable.HashMap.empty[(Int, Int), Long]
  private val stageLaunched = mutable.HashSet.empty[(Int, Int)]

  private def agg(g: String): GroupAgg = byGroup.getOrElseUpdate(g, new GroupAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    agg(g).jobs += 1
    e.stageIds.foreach(s => stageGroup(s) = g)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stageSubmitMs((i.stageId, i.attemptNumber())) =
      i.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    val key = (e.stageId, e.stageAttemptId)
    if (stageLaunched.add(key))
      stageSubmitMs.get(key).foreach { sub =>
        agg(stageGroup.getOrElse(e.stageId, "")).taskWaitMs +=
          math.max(0L, e.taskInfo.launchTime - sub).toDouble
      }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(stageGroup.getOrElse(e.stageId, ""))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.inputBytes += m.inputMetrics.bytesRead
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Snapshot of the totals, keyed by job group. */
  def groups: Map[String, GroupAgg] = synchronized(byGroup.toMap)

  /** Totals over every group whose span name (the part before '#')
    * satisfies `p`. */
  def sum(p: String => Boolean): GroupAgg = synchronized {
    val out = new GroupAgg
    byGroup.foreach { case (g, a) =>
      if (p(g.takeWhile(_ != '#'))) {
        out.jobs += a.jobs; out.tasks += a.tasks
        out.cpuNs += a.cpuNs; out.gcMs += a.gcMs
        out.inputBytes += a.inputBytes
        out.shuffleWriteBytes += a.shuffleWriteBytes
        out.spillBytes += a.spillBytes
        out.taskWaitMs ++= a.taskWaitMs
      }
    }
    out
  }
}
