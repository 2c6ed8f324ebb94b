package perfbench

import java.io.{File, PrintWriter}
import java.util.IdentityHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch microseconds; `parent` is 0 for a
  * root span. Spans of one benchmark run share `run`.
  */
final case class Span(id: Long, parent: Long, name: String, startUs: Long, endUs: Long, run: String)

/** Spans kept in memory and written out once, when the run ends. The
  * benchmark opens a span around each call into a program module; Spark jobs
  * become child spans of the span whose thread submitted them, through the
  * [[Tracer.SpanProperty]] local property.
  */
final class Tracer(val run: String) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new AtomicLong(1L)
  private val current = ThreadLocal.withInitial[java.lang.Long](() => 0L)
  private val epochBaseUs = System.currentTimeMillis() * 1000L
  private val nanoBase = System.nanoTime()

  def toEpochUs(nanoTime: Long): Long = epochBaseUs + (nanoTime - nanoBase) / 1000L

  /** Times `body` as a span named `name`, child of this thread's open span. */
  def span[T](sc: SparkContext, name: String)(body: => T): T = {
    val id = nextId.getAndIncrement()
    val parent = current.get().longValue
    val outerProp = sc.getLocalProperty(Tracer.SpanProperty)
    current.set(id)
    sc.setLocalProperty(Tracer.SpanProperty, id.toString)
    val start = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, parent, name, toEpochUs(start), toEpochUs(System.nanoTime()), run))
      current.set(parent)
      sc.setLocalProperty(Tracer.SpanProperty, outerProp)
    }
  }

  /** Records an interval the caller already timed with `System.nanoTime`. */
  def record(name: String, startNano: Long, endNano: Long): Unit =
    spans.add(
      Span(nextId.getAndIncrement(), current.get().longValue, name, toEpochUs(startNano), toEpochUs(endNano), run))

  /** Records an interval reported by Spark in epoch milliseconds. */
  def recordEpochMs(name: String, parent: Long, startMs: Long, endMs: Long): Unit =
    spans.add(Span(nextId.getAndIncrement(), parent, name, startMs * 1000L, endMs * 1000L, run))

  def write(file: File): Unit = {
    file.getParentFile.mkdirs()
    val out = new PrintWriter(file, "UTF-8")
    try spans.asScala.toSeq.sortBy(_.startUs).foreach { s =>
      out.println(
        s"""{"run":"${Json.escape(s.run)}","id":${s.id},"parent":${s.parent},""" +
          s""""name":"${Json.escape(s.name)}","start_us":${s.startUs},"end_us":${s.endUs}}""")
    }
    finally out.close()
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

/** What the three listeners saw during one traced phase. */
final class PhaseStats {
  var jobs = 0L
  var stages = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var planMs = 0L
  /** Job count and summed job wall time, keyed by the call-site file. */
  val jobsByFile = mutable.Map.empty[String, (Long, Long)]
  val executions = mutable.ArrayBuffer.empty[QueryExecution]
  val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]

  /** Adds what `other` saw to this phase. */
  def +=(other: PhaseStats): Unit = {
    jobs += other.jobs
    stages += other.stages
    taskMs ++= other.taskMs
    gcMs += other.gcMs
    shuffleWriteBytes += other.shuffleWriteBytes
    shuffleReadBytes += other.shuffleReadBytes
    spillBytes += other.spillBytes
    planMs += other.planMs
    other.jobsByFile.foreach { case (f, (n, ms)) =>
      val (n0, ms0) = jobsByFile.getOrElse(f, (0L, 0L))
      jobsByFile(f) = (n0 + n, ms0 + ms)
    }
    executions ++= other.executions
    progress ++= other.progress
  }

  def jobsOf(file: String): Long = jobsByFile.get(file).map(_._1).getOrElse(0L)
  def jobMsOf(file: String): Long = jobsByFile.get(file).map(_._2).getOrElse(0L)

  /** Executed-plan SQL metrics, each plan node counted once even when
    * several actions read the same cached plan.
    */
  def execMetrics: Map[String, Double] = {
    val seen = new IdentityHashMap[SparkPlan, java.lang.Boolean]()
    executions.foreach(qe => PlanNodes.visit(qe.executedPlan, seen))
    val nodes = seen.keySet.asScala.toSeq
    def metric(p: SparkPlan, name: String): Long = p.metrics.get(name).map(_.value).getOrElse(0L)
    val sorts = nodes.filter(_.nodeName == "Sort")
    val aggs = nodes.filter(_.nodeName.endsWith("HashAggregate"))
    val broadcasts = nodes.filter(_.nodeName == "BroadcastExchange")
    Map(
      "exec.sort_ms" -> sorts.map(metric(_, "sortTime")).sum.toDouble,
      "exec.peak_sort_mem_bytes" -> (0L +: sorts.map(metric(_, "peakMemory"))).max.toDouble,
      "exec.agg_build_ms" -> aggs.map(metric(_, "aggTime")).sum.toDouble,
      "exec.broadcast_build_ms" -> broadcasts.map(metric(_, "buildTime")).sum.toDouble)
  }
}

/** Walks a physical plan through adaptive stages, subqueries and cached
  * relations.
  */
object PlanNodes extends AdaptiveSparkPlanHelper {
  def visit(plan: SparkPlan, seen: IdentityHashMap[SparkPlan, java.lang.Boolean]): Unit =
    collectWithSubqueries(plan) { case p => p }.foreach { p =>
      if (seen.put(p, true) == null) p match {
        case scan: InMemoryTableScanExec => visit(scan.relation.cachedPlan, seen)
        case _ =>
      }
    }
}

/** The Spark, SQL and streaming listeners of one SparkContext. Events are
  * billed to the phase open when they are delivered; callers drain the
  * listener bus before switching phases.
  */
final class Probes(tracer: Tracer) extends SparkListener with QueryExecutionListener {
  @volatile var phase: PhaseStats = _
  private val jobStarts = mutable.Map.empty[Int, (Long, String, Long)]

  private def inPhase(f: PhaseStats => Unit): Unit = {
    val p = phase
    if (p != null) p.synchronized(f(p))
  }

  /** SQL execution id -> call site of the action that started it. */
  private val executionSites = mutable.Map.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized(executionSites(s.executionId) = s.description)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    // Adaptive execution submits stage jobs from its own threads, so the
    // job's own call site is often Spark's; the SQL execution it belongs to
    // carries the action's, e.g. "csv at Csv.scala:41".
    val site = props
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => executionSites.get(id.toLong))
      .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name))
      .getOrElse("")
      .trim
      .replaceAll("\\s+", " ")
    val parent = props.flatMap(p => Option(p.getProperty(Tracer.SpanProperty))).map(_.toLong).getOrElse(0L)
    jobStarts(e.jobId) = (e.time, site, parent)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val started = synchronized(jobStarts.remove(e.jobId))
    started.foreach { case (start, site, parent) =>
      tracer.recordEpochMs(s"spark.job $site", parent, start, e.time)
      val file = Probes.callSiteFile(site)
      inPhase { p =>
        p.jobs += 1
        val (n, ms) = p.jobsByFile.getOrElse(file, (0L, 0L))
        p.jobsByFile(file) = (n + 1, ms + (e.time - start))
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = inPhase(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = inPhase { p =>
    p.taskMs += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      p.gcMs += m.jvmGCTime
      p.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      p.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      p.spillBytes += m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    inPhase { p =>
      p.planMs += qe.tracker.phases.values.map(_.durationMs).sum
      p.executions += qe
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      inPhase(_.progress += e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}

object Probes {
  private val installed = new java.util.WeakHashMap[SparkContext, Probes]()

  /** Installs the three listeners on `spark` once; later calls return the
    * probes already installed on the same SparkContext.
    */
  def setup(spark: SparkSession, tracer: Tracer): Probes = installed.synchronized {
    val sc = spark.sparkContext
    Option(installed.get(sc)).getOrElse {
      val probes = new Probes(tracer)
      sc.addSparkListener(probes)
      spark.listenerManager.register(probes)
      spark.streams.addListener(probes.streams)
      installed.put(sc, probes)
      probes
    }
  }

  /** `"collect at OnlineFeatureStore.scala:105"` -> `"OnlineFeatureStore.scala"`. */
  def callSiteFile(site: String): String = {
    val at = site.lastIndexOf(" at ")
    val loc = if (at >= 0) site.substring(at + 4) else site
    val colon = loc.lastIndexOf(':')
    if (colon >= 0) loc.substring(0, colon) else loc
  }
}
