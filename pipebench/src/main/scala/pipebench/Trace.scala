package pipebench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds at sub-millisecond resolution, on the same base
  * as Spark's event times, so spans and listener events share one axis.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One call into a layer, made from the benchmark's own code. */
final case class Span(id: Int, parent: Int, unit: Int, layer: String,
    name: String, start: Double, end: Double) {
  def seconds: Double = (end - start) / 1000
}

/** Spans kept in memory while `on`; the benchmark calls layers from one
  * thread, so a plain stack gives each span its parent.
  */
final class Spans {
  var on = false
  var unit = -1
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var next = 0

  def apply[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = next
      next += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val start = Clock.ms
      try body
      finally {
        open = open.tail
        done += Span(id, parent, unit, layer, name, start, Clock.ms)
      }
    }

  def all: Seq[Span] = done.toSeq
}

/** One Spark SQL action as the QueryExecutionListener saw it. */
final case class Action(func: String, seconds: Double,
    phases: Map[String, (Double, Double)], kind: String, filesWritten: Long,
    bytesWritten: Long, scanFiles: Long, verifyIn: Long, verifyOut: Long) {
  /** When planning ended, which is when execution started. */
  def planned: Double = phases.values.map(_._2).maxOption.getOrElse(-1.0)
}

/** What the listeners saw during one unit. */
final case class Seen(jobs: Seq[(Double, Double, Double)],
    executions: Seq[(Double, Double)], actions: Seq[Action],
    stages: Long, tasks: Long, taskRunMs: Long, taskCpuNs: Long, gcMs: Long,
    shuffleWrite: Long, shuffleRead: Long, spill: Long, inputRows: Long,
    inputBytes: Long)

/** The benchmark's SparkListener and QueryExecutionListener. Records
  * while `on`; [[take]] returns and clears what was recorded. Callers
  * drain the listener bus before switching `on` or taking, so every
  * event lands in the unit that posted it.
  *
  * `testTag` marks the frames of the benchmark's own data tests (an
  * alias around each test frame) and `testStore` is where tests store
  * their failures: actions touching either count as test actions.
  */
final class Probe(testTag: String, testStore: String)
    extends SparkListener with QueryExecutionListener {
  @volatile var on = false

  private final class Job(val submit: Long) {
    @volatile var end = -1L
    @volatile var firstTask = -1L
  }
  private val jobs = new ConcurrentHashMap[Int, Job]
  private val stageJob = new ConcurrentHashMap[Int, Int]
  private val execStart = new ConcurrentHashMap[Long, Long]
  private val executions = new ConcurrentLinkedQueue[(Double, Double)]
  private val actions = new ConcurrentLinkedQueue[Action]
  private val stages, tasks, runMs, cpuNs, gcMs, shufW, shufR, spill,
    inRows, inBytes = new AtomicLong

  def take(): Seen = {
    val seen = Seen(
      jobs.values.asScala.toSeq.map(j => (j.submit.toDouble, j.end.toDouble,
        j.firstTask.toDouble)),
      executions.asScala.toSeq, actions.asScala.toSeq,
      stages.get, tasks.get, runMs.get, cpuNs.get, gcMs.get, shufW.get,
      shufR.get, spill.get, inRows.get, inBytes.get)
    jobs.clear(); stageJob.clear(); execStart.clear(); executions.clear()
    actions.clear()
    Seq(stages, tasks, runMs, cpuNs, gcMs, shufW, shufR, spill, inRows,
      inBytes).foreach(_.set(0))
    seen
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
    jobs.put(e.jobId, new Job(e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (on)
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (on) stages.incrementAndGet()

  override def onTaskStart(e: SparkListenerTaskStart): Unit = if (on) {
    Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
      .foreach(j => if (j.firstTask < 0) j.firstTask = e.taskInfo.launchTime)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (on && e.taskMetrics != null) {
      val m = e.taskMetrics
      tasks.incrementAndGet()
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.diskBytesSpilled)
      inRows.addAndGet(m.inputMetrics.recordsRead)
      inBytes.addAndGet(m.inputMetrics.bytesRead)
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = if (on) e match {
    case s: SparkListenerSQLExecutionStart => execStart.put(s.executionId, s.time)
    case s: SparkListenerSQLExecutionEnd =>
      Option(execStart.remove(s.executionId)).foreach(t =>
        executions.add((t.toDouble, s.time.toDouble)))
    case _ =>
  }

  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
    if (on) actions.add(Probe.action(func, qe, durationNs, isTest(qe.analyzed)))

  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()

  private def isTest(plan: LogicalPlan): Boolean = plan.exists {
    case a: SubqueryAlias => a.alias.startsWith(testTag)
    case l: LogicalRelation => l.relation match {
      case r: HadoopFsRelation =>
        r.location.rootPaths.exists(_.toString.contains(testStore))
      case _ => false
    }
    case _ => false
  }
}

object Probe {

  /** Every node of an executed plan, looking inside adaptive plans and
    * query stages; a reused exchange is not run again, so not entered.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case c: CommandResultExec => nodes(c.commandPhysicalPlan)
    case _: ReusedExchangeExec => Nil
    case _ => (p.children ++ p.subqueries).flatMap(nodes)
  })

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  /** Output rows of a subtree: the nearest node that counts them
    * (projections, sorts and exchanges pass rows through unchanged).
    */
  private def rows(p: SparkPlan): Long = p match {
    case _ if p.metrics.contains("numOutputRows") => metric(p, "numOutputRows")
    case q: QueryStageExec => rows(q.plan)
    case _ => p.children.headOption.fold(0L)(rows)
  }

  private def isPairs(p: SparkPlan): Boolean =
    p.output.count(_.name.startsWith("__graft_")) >= 2

  /** (candidate pairs in, verified pairs out) of the LSH operators'
    * exact-Jaccard verification, which compares the two sides' shingle
    * sets (`shs_*` columns): a filter, or a join condition when the
    * optimizer pushed the filter into the join.
    */
  private def verify(p: SparkPlan): Option[(Long, Long)] = {
    val shs = (e: org.apache.spark.sql.catalyst.expressions.Expression) =>
      e.references.count(_.name.startsWith("shs_")) >= 2
    p match {
      case f: FilterExec if shs(f.condition) =>
        Some((rows(f.child), metric(f, "numOutputRows")))
      case j: BaseJoinExec if j.condition.exists(shs) =>
        j.children.find(c => isPairs(c)).map(c => (rows(c), metric(j, "numOutputRows")))
      case _ => None
    }
  }

  def action(func: String, qe: QueryExecution, durationNs: Long,
      test: Boolean): Action = {
    val all = nodes(qe.executedPlan)
    val writes = all.collect { case w: DataWritingCommandExec => w }
    val verified = all.flatMap(verify)
    Action(func, durationNs / 1e9,
      qe.tracker.phases.map { case (k, v) =>
        k -> (v.startTimeMs.toDouble, v.endTimeMs.toDouble) },
      if (test) "test" else if (writes.nonEmpty) "write" else "other",
      writes.map(metric(_, "numFiles")).sum,
      writes.map(metric(_, "numOutputBytes")).sum,
      all.collect { case s: FileSourceScanExec => metric(s, "numFiles") }.sum,
      verified.map(_._1).sum, verified.map(_._2).sum)
  }
}

/** Per-layer metrics of one traced unit, from its spans and what the
  * listeners saw.
  */
object Layers {

  /** Span name → the per-layer metric that reports its seconds. */
  val SpanMetric: Map[String, String] = Map(
    "SqlDag.build" -> "models.build_s",
    "CorpusClean.stages" -> "operators.clean_s",
    "TextDedup.minhashLshPairs" -> "operators.lsh_pairs_s",
    "TextDedup.dedupClusters" -> "operators.clusters_s",
    "Sampling.mixToTarget" -> "operators.mix_s",
    "ScaleOps.writePartitioned" -> "operators.write_s")

  /** The layers a unit's wall time is split over; `bench` is the
    * harness itself.
    */
  val SelfLayers: Seq[String] =
    Seq("bench", "sources", "models", "operators", "spark", "plans")

  /** Length of the union of `xs`, clipped to `[lo, hi]`, in seconds. */
  def covered(xs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var reach = lo
    xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) {
          total += b - math.max(a, reach)
          reach = b
        }
      }
    total / 1000
  }

  /** Self time per layer over the unit: each instant of the unit span
    * goes to the highest-ranked layer active then — plans (planning
    * phases) over spark (SQL executions and jobs) over the innermost
    * benchmark span (sources, models or operators) over bench (the
    * harness itself). The parts sum to the unit's wall time.
    */
  def selfTimes(unit: Span, spans: Seq[Span], spark: Seq[(Double, Double)],
      plans: Seq[(Double, Double)]): Map[String, Double] = {
    val ivs: Seq[(Double, Double, Int, Double, String)] =
      plans.map { case (a, b) => (a, b, 3, 0.0, "plans") } ++
        spark.map { case (a, b) => (a, b, 2, 0.0, "spark") } ++
        spans.filter(_.id != unit.id)
          .map(s => (s.start, s.end, 1, s.start, s.layer))
    val cuts = (ivs.flatMap(i => Seq(i._1, i._2)) ++ Seq(unit.start, unit.end))
      .filter(t => t >= unit.start && t <= unit.end).distinct.sorted
    val self = mutable.Map(SelfLayers.map(_ -> 0.0): _*)
    cuts.sliding(2).foreach {
      case Seq(a, b) =>
        val m = (a + b) / 2
        val layer = ivs.filter(i => i._1 <= m && m < i._2)
          .maxByOption(i => (i._3, i._4)).fold("bench")(_._5)
        self(layer) += (b - a) / 1000
      case _ =>
    }
    self.toMap
  }

  def metrics(unit: Span, spans: Seq[Span], seen: Seen, cores: Int,
      storageAfter: Long, fanoutFindings: Int)
      : Map[String, Double] = {
    val wall = unit.seconds
    val models = spans.filter(_.layer == "models").map(s => (s.start, s.end))
    val inModels = (t: Double) => models.exists { case (a, b) => a <= t && t <= b }
    val modelWrites = seen.actions.filter(a => a.kind == "write" && inModels(a.planned))
    val spark = seen.executions ++ seen.jobs.filter(_._2 >= 0).map(j => (j._1, j._2))
    val phases = seen.actions.flatMap(_.phases.values)
    val actionCover = covered(seen.executions.filter(e => inModels(e._1)),
      unit.start, unit.end)
    val modelSpan = spans.filter(s => s.layer == "models" && s.parent == unit.id)
      .map(_.seconds).sum
    def phase(p: String) = seen.actions.flatMap(_.phases.get(p))
      .map { case (a, b) => (b - a) / 1000 }.sum
    val verifyIn = seen.actions.map(_.verifyIn).sum
    val bySpan = SpanMetric.values.map(_ -> 0.0).toMap ++
      spans.flatMap(s => SpanMetric.get(s.name).map(_ -> s.seconds))
        .groupMapReduce(_._1)(_._2)(_ + _)
    bySpan ++ selfTimes(unit, spans, spark, phases).map { case (k, v) => s"self.${k}_s" -> v } ++
      Map(
        "spark.jobs" -> seen.jobs.size.toDouble,
        "spark.stages" -> seen.stages.toDouble,
        "spark.tasks" -> seen.tasks.toDouble,
        "spark.tasks_per_stage" ->
          (if (seen.stages == 0) 0.0 else seen.tasks.toDouble / seen.stages),
        "spark.job_wait_s" -> seen.jobs.filter(_._3 >= 0)
          .map(j => (j._3 - j._1) / 1000).sum,
        "spark.core_util" -> seen.taskRunMs / 1000.0 / (wall * cores),
        "spark.task_run_s" -> seen.taskRunMs / 1000.0,
        "spark.task_cpu_s" -> seen.taskCpuNs / 1e9,
        "spark.gc_s" -> seen.gcMs / 1000.0,
        "spark.shuffle_write_bytes" -> seen.shuffleWrite.toDouble,
        "spark.shuffle_read_bytes" -> seen.shuffleRead.toDouble,
        "spark.spill_bytes" -> seen.spill.toDouble,
        "spark.storage_bytes_after" -> storageAfter.toDouble,
        "plans.analysis_s" -> phase("analysis"),
        "plans.optimization_s" -> phase("optimization"),
        "plans.planning_s" -> phase("planning"),
        "plans.fanout_findings" -> fanoutFindings.toDouble,
        "models.action_s" -> actionCover,
        "models.driver_s" -> math.max(0.0, modelSpan - actionCover),
        "models.materialize_s" -> modelWrites.map(_.seconds).sum,
        "models.test_s" -> seen.actions.filter(_.kind == "test").map(_.seconds).sum,
        "models.files_written" -> modelWrites.map(_.filesWritten).sum.toDouble,
        "models.bytes_written" -> modelWrites.map(_.bytesWritten).sum.toDouble,
        "operators.verify_ratio" ->
          (if (verifyIn == 0) 0.0 else seen.actions.map(_.verifyOut).sum.toDouble / verifyIn),
        "sources.input_rows" -> seen.inputRows.toDouble,
        "sources.input_bytes" -> seen.inputBytes.toDouble,
        "sources.scan_files" -> seen.actions.map(_.scanFiles).sum.toDouble,
        "trace.unit_s" -> wall)
  }
}
