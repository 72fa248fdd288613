package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Whether a span covers building a DataFrame, running its action, or
  * neither (the step's root). */
sealed trait Kind
case object Root extends Kind
case object Build extends Kind
case object Action extends Kind

final case class Span(id: Int, name: String, layer: String, kind: Kind, parent: Int,
    startMs: Long, startNs: Long) {
  var endMs: Long = 0L
  var endNs: Long = 0L
  def seconds: Double = (endNs - startNs) / 1e9
}

/**
 * Spans around the benchmark's calls into each layer, plus the host
 * engine's own accounting of the same interval: a `SparkListener` (jobs,
 * stages, task metrics), a `QueryExecutionListener` (planning phases,
 * exchanges) and a `StreamingQueryListener` (micro-batch durations).
 *
 * Listeners are attached only for the duration of a traced step, so an
 * untraced step runs exactly as it would without the benchmark. Jobs are
 * tied to spans through a thread-local job property; jobs started by a
 * stream's own thread carry none and are tied to the step they ran in by
 * time.
 */
final class Tracer(spark: SparkSession, cores: Int) {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = ArrayBuffer[Span]()
  private var current = -1
  private var stepRoot = -1

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageRecs = new java.util.concurrent.ConcurrentLinkedQueue[StageRec]()
  private val queries = new java.util.concurrent.ConcurrentLinkedQueue[QueryRec]()
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      jobs.put(e.jobId, JobRec(prop(SpanKey).map(_.toInt).getOrElse(-1),
        prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L), e.time))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      if (m != null) stageRecs.add(StageRec(stageJob.getOrDefault(si.stageId, -1),
        si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L), si.numTasks,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten))
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      val planMs = Seq("analysis", "optimization", "planning").flatMap(ph.get).map(_.durationMs).sum
      val start = if (ph.isEmpty) 0L else ph.values.map(_.startTimeMs).min
      queries.add(QueryRec(qe.id, start, planMs, exchanges(qe.executedPlan)))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        progress.add((d("addBatch"), d("triggerExecution")))
      }
    }
  }

  /** Is a step being traced right now? */
  def on: Boolean = stepRoot >= 0

  /** Run `body` inside a span; a no-op wrapper while no traced step is open. */
  def span[T](name: String, layer: String, kind: Kind)(body: => T): T =
    if (!on) body
    else {
      val s = open(name, layer, kind)
      val prevProp = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        close(s)
        sc.setLocalProperty(SpanKey, prevProp)
      }
    }

  private def open(name: String, layer: String, kind: Kind): Span = {
    val s = Span(spans.size, name, layer, kind, current, System.currentTimeMillis, System.nanoTime)
    spans += s
    current = s.id
    s
  }

  private def close(s: Span): Unit = {
    s.endNs = System.nanoTime
    s.endMs = System.currentTimeMillis
    current = s.parent
  }

  /** Attach the listeners and open a step's root span. */
  def beginStep(name: String): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    stepRoot = open(name, "bench", Root).id
  }

  /** Close the step, detach the listeners and attribute what they saw to
    * the step's spans. Returns the step's per-layer figures. */
  def endStep(): StepTrace = {
    val root = spans(stepRoot)
    close(root)
    org.apache.spark.graftbench.ListenerBusAccess.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    stepRoot = -1
    val t = attribute(root)
    jobs.clear(); stageJob.clear(); stageRecs.clear(); queries.clear(); progress.clear()
    t
  }

  private def attribute(root: Span): StepTrace = {
    val mine = spans.view.drop(root.id).toIndexedSeq
    // span -1: a stream's own thread; tie it to this step by its start time
    val stepJobs = jobs.asScala.filter { case (_, j) =>
      if (j.span >= 0) j.span >= root.id
      else j.startMs >= root.startMs && j.startMs <= root.endMs
    }.toMap
    val stages = stageRecs.asScala.filter(s => stepJobs.contains(s.job)).toSeq
    val execIds = stepJobs.values.map(_.execId).toSet
    val qs = queries.asScala.filter(q => execIds(q.execId) ||
      (q.startMs >= root.startMs && q.startMs <= root.endMs)).toSeq
    val buildJobs = stepJobs.values.count(j => j.span >= 0 && spans(j.span).kind == Build)

    // action wall time no running stage covers: the scheduling floor
    val actions = mine.filter(_.kind == Action)
    val gapS = actions.map { a =>
      val ivs = stages.map(s => (math.max(s.submitMs, a.startMs), math.min(s.endMs, a.endMs)))
        .filter(iv => iv._2 > iv._1).sortBy(_._1)
      var covered = 0L
      var end = a.startMs
      ivs.foreach { case (s, e) =>
        if (e > end) { covered += e - math.max(s, end); end = e }
      }
      math.max(0L, (a.endMs - a.startMs) - covered) / 1e3
    }.sum

    // self time: a span's duration minus what its children cover
    val selfByLayer = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
    mine.foreach { s =>
      val child = mine.filter(_.parent == s.id).map(_.seconds).sum
      selfByLayer(s.layer) += math.max(0.0, s.seconds - child)
    }
    val taskS = stages.map(_.runMs).sum / 1e3
    StepTrace(
      buildS = mine.filter(s => s.kind == Build && spans(s.parent).kind != Build).map(_.seconds).sum,
      buildJobs = buildJobs,
      exchanges = qs.map(_.exchanges).sum,
      sqlPlanMs = qs.map(_.planMs).sum,
      jobs = stepJobs.size,
      stages = stages.size,
      tasks = stages.map(_.tasks).sum,
      taskS = taskS,
      cpuS = stages.map(_.cpuNs).sum / 1e9,
      gcS = stages.map(_.gcMs).sum / 1e3,
      coreBusy = if (root.seconds > 0) taskS / (root.seconds * cores) else 0.0,
      driverGapS = gapS,
      shuffleWrite = stages.map(_.shWrite).sum,
      shuffleRead = stages.map(_.shRead).sum,
      fetchWaitS = stages.map(_.fetchWaitMs).sum / 1e3,
      spill = stages.map(_.spill).sum,
      aggTaskS = stages.filter(s => s.shWrite > 0 || s.shRead > 0).map(_.runMs).sum / 1e3,
      inputBytes = stages.map(_.inBytes).sum,
      inputRecords = stages.map(_.inRecs).sum,
      outputBytes = stages.map(_.outBytes).sum,
      addBatchMs = progress.asScala.map(_._1).sum,
      triggerMs = progress.asScala.map(_._2).sum,
      spanS = mine.groupBy(_.name).view.mapValues(_.map(_.seconds).sum).toMap,
      selfS = selfByLayer.toMap)
  }

  /** Every span recorded in this run, one JSON object per line. */
  def dump(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      val kind = s.kind.toString.toLowerCase
      s"""{"id":${s.id},"name":"${s.name}","layer":"${s.layer}","kind":"$kind",""" +
        s""""parent":${s.parent},"start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""dur_s":${s.seconds}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** One traced step as the listeners saw it. */
final case class StepTrace(
    buildS: Double, buildJobs: Int, exchanges: Int, sqlPlanMs: Long,
    jobs: Int, stages: Int, tasks: Int, taskS: Double, cpuS: Double, gcS: Double,
    coreBusy: Double, driverGapS: Double, shuffleWrite: Long, shuffleRead: Long,
    fetchWaitS: Double, spill: Long, aggTaskS: Double, inputBytes: Long, inputRecords: Long,
    outputBytes: Long, addBatchMs: Long, triggerMs: Long,
    spanS: Map[String, Double], selfS: Map[String, Double])

object Tracer {
  val SpanKey = "graftbench.span"

  private final case class JobRec(span: Int, execId: Long, startMs: Long)
  private final case class StageRec(job: Int, submitMs: Long, endMs: Long, tasks: Int,
      runMs: Long, cpuNs: Long, gcMs: Long, shWrite: Long, shRead: Long, fetchWaitMs: Long,
      spill: Long, inBytes: Long, inRecs: Long, outBytes: Long)
  private final case class QueryRec(execId: Long, startMs: Long, planMs: Long, exchanges: Int)

  /** Shuffle exchanges in a physical plan, looking through adaptive
    * execution's wrappers at the plan that actually ran. */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case e: ShuffleExchangeLike => 1 + e.children.map(exchanges).sum
    case other => other.children.map(exchanges).sum +
      other.subqueries.map(exchanges).sum
  }
}
