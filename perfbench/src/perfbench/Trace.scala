package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfBenchBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{EnsureRequirements, Exchange, ReusedExchangeExec}

/** Spark work done under one job group, summed over its jobs and tasks. */
final class GroupCounters {
  val jobs = new AtomicLong; val tasks = new AtomicLong
  val inputBytes = new AtomicLong
  val shuffleWrite = new AtomicLong; val spillBytes = new AtomicLong
  val cpuNanos = new AtomicLong; val gcMillis = new AtomicLong
  val schedDelayMillis = new AtomicLong; val queueWaitMillis = new AtomicLong
}

/** Attributes Spark jobs to the benchmark operation that caused them, by the
  * job group the calling thread set — never by time window, so concurrent
  * clients are charged only for their own jobs. The index builder runs some
  * stages on pooled threads whose inherited job group can be a stale one
  * from an earlier operation; such a job is charged to the single open
  * operation when exactly one is open (the single-writer case), and to
  * nobody otherwise (counted in [[unattributedJobs]]). Jobs started while
  * no operation is open belong to the benchmark itself and are ignored. */
final class GroupListener extends SparkListener {
  private val open = ConcurrentHashMap.newKeySet[String]()
  private val groups = new ConcurrentHashMap[String, GroupCounters]()
  private val stageGroup = new ConcurrentHashMap[Integer, String]()
  private val stageJob = new ConcurrentHashMap[Integer, Integer]()
  private val jobSubmit = new ConcurrentHashMap[Integer, java.lang.Long]()
  val unattributedJobs = new AtomicLong

  def begin(group: String): Unit = {
    groups.put(group, new GroupCounters); open.add(group)
  }
  def end(group: String): GroupCounters = {
    open.remove(group); groups.remove(group)
  }

  private def resolve(group: String): String =
    if (group != null && open.contains(group)) group
    else {
      val snap = open.toArray(Array.empty[String])
      if (snap.length == 1) snap(0) else null
    }

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val raw = Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    val g = if (open.isEmpty) null else resolve(raw)
    val c = if (g == null) null else groups.get(g)
    if (c == null) { if (!open.isEmpty) unattributedJobs.incrementAndGet() }
    else {
      c.jobs.incrementAndGet()
      js.stageIds.foreach { s => stageGroup.put(s, g); stageJob.put(s, js.jobId) }
      jobSubmit.put(js.jobId, js.time)
    }
  }

  override def onTaskStart(ts: SparkListenerTaskStart): Unit = {
    val g = stageGroup.get(ts.stageId)
    val j = stageJob.get(ts.stageId)
    if (g != null && j != null) {
      val submitted = jobSubmit.remove(j)
      val c = groups.get(g)
      if (submitted != null && c != null)
        c.queueWaitMillis.addAndGet(math.max(0L, ts.taskInfo.launchTime - submitted))
    }
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(te.stageId)
    val c = if (g == null) null else groups.get(g)
    if (c != null) {
      c.tasks.incrementAndGet()
      val m = te.taskMetrics
      if (m != null) {
        c.inputBytes.addAndGet(m.inputMetrics.bytesRead)
        c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.spillBytes.addAndGet(m.diskBytesSpilled)
        c.cpuNanos.addAndGet(m.executorCpuTime)
        c.gcMillis.addAndGet(m.jvmGCTime)
        val delay = te.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime
        c.schedDelayMillis.addAndGet(math.max(0L, delay))
      }
    }
  }
}

final case class Span(id: Long, parent: Long, op: Long, name: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory spans around the benchmark's calls into the engine's layers,
  * plus per-operation Spark counters. Inactive, every method runs its body
  * and records nothing, so the untraced run pays no tracing cost. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)
  private val origin = System.nanoTime()
  val listener = new GroupListener
  if (enabled) sc.addSparkListener(listener)

  /** Switched off for the untraced half of a traced run. */
  @volatile var active: Boolean = enabled

  def span[T](name: String)(f: => T): T =
    if (!active) f
    else {
      val (parent, op) = stack.get.headOption.getOrElse((0L, 0L))
      push(name, parent, op)(f)
    }

  private def push[T](name: String, parent: Long, op: Long)(f: => T): T = {
    val id = ids.incrementAndGet()
    val opId = if (op == 0L) id else op
    val saved = stack.get
    stack.set((id, opId) :: saved)
    val t0 = System.nanoTime()
    try f
    finally {
      spans.add(Span(id, parent, opId, name, t0, System.nanoTime()))
      stack.set(saved)
    }
  }

  /** Run `f` as one operation: a root span under a job group of its own.
    * Returns the counters of the Spark work it caused (None untraced). */
  def op[T](name: String)(f: => T): (T, Option[GroupCounters]) =
    if (!active) (f, None)
    else {
      val id = ids.incrementAndGet()
      val group = s"perfbench-op-$id"
      listener.begin(group)
      sc.setJobGroup(group, name, interruptOnCancel = false)
      val saved = stack.get
      stack.set(Nil)
      try {
        val r = push(name, 0L, 0L)(f)
        PerfBenchBus.drain(sc)
        (r, Some(listener.end(group)))
      } finally {
        listener.end(group) // no-op after a normal end; closes the group on a throw
        stack.set(saved)
        sc.clearJobGroup()
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Per operation, the summed duration of the spans named `name`. */
  def perOp(name: String): Seq[Double] =
    all.filter(_.name == name).groupBy(_.op).values
      .map(_.map(_.seconds).sum).toSeq

  /** Self time per span name: duration minus the union of its children. */
  def selfTimes: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      name -> group.map { s =>
        val cs = kids.getOrElse(s.id, Nil).sortBy(_.startNs)
        var covered = 0L; var upTo = s.startNs
        cs.foreach { c =>
          val a = math.max(c.startNs, upTo); val b = math.min(c.endNs, s.endNs)
          if (b > a) { covered += b - a; upTo = b }
        }
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = all.map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""name":"${s.name}",""" +
        f""""start_ms":${(s.startNs - origin) / 1e6}%.3f,""" +
        f""""end_ms":${(s.endNs - origin) / 1e6}%.3f}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

/** Facts read from physical plans, including the plans of cached frames
  * an action reads (a frame one operation caches and reads twice counts
  * once). */
object Plans {
  private def walk(p: SparkPlan, initial: Boolean): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec =>
      // the initial plan is the input plan with its exchanges inserted
      walk(if (initial) EnsureRequirements().apply(a.inputPlan) else a.executedPlan, initial)
    case q: QueryStageExec => q +: walk(q.plan, initial)
    case r: ReusedExchangeExec => r +: walk(r.child, initial)
    case m: InMemoryTableScanExec => m +: walk(m.relation.cachedPlan, initial)
    case o => o +: (o.children.flatMap(walk(_, initial)) ++
      o.subqueries.flatMap(walk(_, initial)))
  }

  private def distinct(dfs: Seq[DataFrame], initial: Boolean): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    dfs.flatMap(df => walk(df.queryExecution.executedPlan, initial)).filter(seen.add)
  }

  /** Exchanges in the plans as built, before adaptive re-planning — a
    * deterministic count. */
  def exchanges(dfs: Seq[DataFrame]): Int =
    distinct(dfs, initial = true).count(_.isInstanceOf[Exchange])

  /** Rows the file scans over paths containing `pathPart` produced, after
    * partition pruning and row-group skipping (read it after the actions). */
  def scannedRows(dfs: Seq[DataFrame], pathPart: String): Long =
    distinct(dfs, initial = false).collect {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(pathPart)) =>
        s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
}

/** Per-layer samples, reduced to medians. */
final class LayerSamples {
  private val m = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def add(name: String, v: Double): Unit = synchronized {
    m.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  }
  def get(name: String): Option[Double] = synchronized {
    m.get(name).filter(_.nonEmpty).map(b => Stats.median(b.toSeq))
  }
}
