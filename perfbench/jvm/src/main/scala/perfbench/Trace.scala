package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Sums of one (call tag, module) cell. Times are in ms, bytes in bytes. */
final class Cell {
  var jobs = 0L; var jobMs = 0L; var tasks = 0L; var runMs = 0L
  var cpuNs = 0L; var gcMs = 0L; var shuffleWrite = 0L; var spill = 0L
  var recRead = 0L; var bytesRead = 0L; var recWritten = 0L
}

/** The traced run's instrument. Spans come from the benchmark's own files:
  * [[call]] times each public call, and sets a job description that every
  * job started inside the call inherits. A SparkListener reads each job's
  * stack (the result stage's `details`) to find the module that started it;
  * jobs with no program frame, such as the stages adaptive execution submits
  * from its own threads, take the module of the SQL execution they belong
  * to, and failing that the call's description. A
  * QueryExecutionListener supplies the Catalyst phases and the row counts of
  * the ingest plan's scan, anti-join and 24 h filter. */
final class Trace(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val cells = new ConcurrentHashMap[(String, String), Cell]()
  private val stageKey = new ConcurrentHashMap[Int, (String, String)]()
  private val execModule = new ConcurrentHashMap[Long, String]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, (String, String))]()
  private val listenerNs = new java.util.concurrent.atomic.AtomicLong
  // (tag, start ms, end ms) of every traced call, in order
  private val windows = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val callCount = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val callNs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  // Catalyst phase events (phase start ms, planning ms) and plan-node row
  // counts keyed by node identity, so a cached plan seen by two queries
  // counts once
  private val phases = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
  private val nodeRows = new java.util.IdentityHashMap[AnyRef, (Long, String, Long)]()

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  /** Runs `body` as one traced call of kind `tag` and returns its result
    * and wall seconds. */
  def call[T](tag: String)(body: => T): (T, Double) = {
    val sc = spark.sparkContext
    sc.setJobDescription(tag)
    val t0 = System.nanoTime(); val w0 = System.currentTimeMillis()
    try {
      val out = body
      val ns = System.nanoTime() - t0
      windows.synchronized { windows += ((tag, w0, System.currentTimeMillis())) }
      callCount(tag) += 1; callNs(tag) += ns
      (out, ns / 1e9)
    } finally sc.setJobDescription(null)
  }

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally listenerNs.addAndGet(System.nanoTime() - t0)
  }

  private def cell(k: (String, String)): Cell = cells.computeIfAbsent(k, _ => new Cell)

  /** The module that started a job: method names anywhere in the stack pick
    * the gas pipeline's steps; otherwise the innermost program frame's
    * package names the module. */
  private def module(details: String): Option[String] = {
    val frames = details.split("\n").map(_.trim)
    def has(s: String) = frames.exists(_.contains(s))
    if (has("GasIngest$.appendToLedger") || has("GasIngest$.readLedger")) Some("ingest.ledger")
    else if (has("LongStore$.appendManifest")) Some("store.manifest")
    else if (has("LongStore$.readWindow")) Some("store.read")
    else if (has("LongStore$.write")) Some("store.write")
    else frames.find(_.startsWith("graft.")).map { f =>
      if (f.startsWith("graft.GasPipeline$")) "ingest.discover"
      else if (f.startsWith("graft.sources.")) "sources"
      else if (f.startsWith("graft.util.Barriers")) "util"
      else if (f.startsWith("graft.operators.")) "operators"
      else f.split('.')(1).takeWhile(c => c != '$' && c != '(')
    }
  }

  /** A SQL execution carries the stack of the thread that started it, so
    * the jobs adaptive execution submits from its own threads can still be
    * traced to the module whose action started them. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => timed {
      module(s.details).foreach(execModule.put(s.executionId, _))
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val desc = prop("spark.job.description").getOrElse("untagged")
    val details = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    val fromExec = Seq("spark.sql.execution.id", "spark.sql.execution.root.id")
      .flatMap(prop).flatMap(id => Option(execModule.get(id.toLong))).headOption
    val key = (desc, module(details).orElse(fromExec).getOrElse("call"))
    e.stageIds.foreach(stageKey.put(_, key))
    jobStart.put(e.jobId, (e.time, key))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    Option(jobStart.remove(e.jobId)).foreach { case (t0, key) =>
      val c = cell(key)
      c.synchronized { c.jobs += 1; c.jobMs += e.time - t0 }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    if (m != null) {
      val c = cell(Option(stageKey.get(e.stageId)).getOrElse(("untagged", "call")))
      c.synchronized {
        c.tasks += 1; c.runMs += m.executorRunTime; c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime; c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.diskBytesSpilled
        c.recRead += m.inputMetrics.recordsRead; c.bytesRead += m.inputMetrics.bytesRead
        c.recWritten += m.outputMetrics.recordsWritten
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = timed {
    val ph = qe.tracker.phases
    // the planning phases ran inside the traced call that issued the query
    val seenAt = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.startTimeMs).min
    if (ph.nonEmpty) phases.add((seenAt, ph.values.map(_.durationMs).sum.toDouble))
    def walk(p: SparkPlan): Unit = {
      def rows = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      val kind = p match {
        case s: FileSourceScanExec if s.relation.fileFormat.toString == "CSV" => "csv_rows"
        case j: BroadcastHashJoinExec if j.joinType.toString == "LeftAnti" => "unseen_rows"
        case f: FilterExec if f.condition.references.exists(_.name == "Time (s)") => "kept_rows"
        case _ => null
      }
      if (kind != null) nodeRows.synchronized {
        if (!nodeRows.containsKey(p)) nodeRows.put(p, (seenAt, kind, rows))
        else nodeRows.put(p, nodeRows.get(p).copy(_3 = rows))
      }
      p match {
        // the input plan still holds a cache scan that adaptive execution
        // replaced by an empty relation once the cache came out empty
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan); walk(a.inputPlan)
        case q: QueryStageExec => walk(q.plan)
        case i: InMemoryTableScanExec => walk(i.relation.cachedPlan)
        case _ =>
      }
      p.children.foreach(walk)
    }
    walk(qe.executedPlan)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def tagAt(ms: Long): Option[String] = windows.synchronized {
    windows.find { case (_, a, b) => ms >= a && ms <= b }.map(_._1)
  }

  /** Every traced figure, summed per call tag and module once the bus has
    * delivered all events. */
  def report(): Report = {
    org.apache.spark.BusAccess.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    val planMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    phases.asScala.foreach { case (t, ms) => tagAt(t).foreach(tag => planMs(tag) += ms) }
    val rows = mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
    nodeRows.synchronized {
      nodeRows.values.asScala.foreach { case (t, kind, n) =>
        tagAt(t).foreach(tag => rows((tag, kind)) += n)
      }
    }
    Report(cells.asScala.toMap, callCount.toMap, callNs.toMap.map { case (k, v) => k -> v / 1e9 },
      planMs.toMap, rows.toMap, listenerNs.get() / 1e6)
  }
}

final case class Report(
    cells: Map[(String, String), Cell],
    callCounts: Map[String, Long],
    callS: Map[String, Double],
    planMs: Map[String, Double],
    rows: Map[(String, String), Long],
    listenerMs: Double) {

  /** Sum of `f` over the cells whose tag starts with `tag` and whose module
    * satisfies `mod`. */
  def sum(tag: String, mod: String => Boolean = _ => true)(f: Cell => Long): Long =
    cells.collect { case ((t, m), c) if t.startsWith(tag) && mod(m) => f(c) }.sum

  def calls(tag: String): Long = callCounts.collect { case (t, n) if t.startsWith(tag) => n }.sum
  def callSeconds(tag: String): Double = callS.collect { case (t, s) if t.startsWith(tag) => s }.sum
  def plan(tag: String): Double = planMs.collect { case (t, s) if t.startsWith(tag) => s }.sum
  def rowCount(tag: String, kind: String): Long =
    rows.collect { case ((t, k), n) if t.startsWith(tag) && k == kind => n }.sum
}
