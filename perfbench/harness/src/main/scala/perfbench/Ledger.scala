package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** A traced interval opened by the harness around one public call.
  * `op` groups the spans of one operation; `parent` is -1 at the root.
  */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startNs: Long, var endNs: Long = -1L)

/** Spans kept in memory for the whole run, written out at the end. With
  * `enabled = false` every call runs its body and records nothing.
  */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var currentOp = -1

  def op[T](opId: Int)(body: => T): T = {
    val prev = currentOp
    currentOp = opId
    try body finally currentOp = prev
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id),
        currentOp, System.nanoTime())
      spans += s
      stack = s :: stack
      try body finally { s.endNs = System.nanoTime(); stack = stack.tail }
    }

  /** Self time per span name: each span's duration minus the part of its
    * interval that its direct children cover.
    */
  def selfMs: Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = Ledger.unionLength(children.getOrElse(s.id, Nil)
          .map(c => (c.startNs, c.endNs)).toSeq)
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }

  def toJsonLines: Iterator[String] = spans.iterator.map { s =>
    s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
      s""""op":${s.op},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }
}

/** One Spark job as the listener saw it, with its task totals. */
final class JobRec(val id: Int, val startMs: Long, ownSite: String,
                   val execution: Option[Long], val label: String,
                   val stages: Seq[Int]) {
  var endMs: Long = -1L
  var submittedStages = 0
  var tasks = 0L
  var runMs = 0L
  var cpuMs = 0.0
  var schedMs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  def durMs: Long = math.max(0L, endMs - startMs)
  /** The job's call site; a job that adaptive execution submits from its
    * own thread pool has no program frame and takes the call site of the
    * SQL execution it belongs to.
    */
  lazy val site: String =
    if (Ledger.firstGraftClass(ownSite).nonEmpty) ownSite
    else execution.flatMap(Ledger.executionSite).getOrElse(ownSite)
  /** Module of the first `graft.*` frame of the job's call site. */
  lazy val module: String = Ledger.moduleOf(site)
}

/** Planning record of one executed query (QueryExecutionListener). */
final case class PlanRec(analysisMs: Double,
                         optimizationMs: Double, planningMs: Double,
                         exchanges: Int, paths: Seq[String])

/** The benchmark's own listeners: one SparkListener and one
  * QueryExecutionListener per session, installed at most once because
  * `getOrCreate` hands every caller the same session.
  */
object Ledger {
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val plans = new ConcurrentLinkedQueue[PlanRec]()
  private val executions =
    new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private val roots = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  @volatile private var installedOn: SparkSession = null

  private object JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val site = e.stageInfos.map(_.details).find(_.nonEmpty).getOrElse("")
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val rec = new JobRec(e.jobId, e.time, site,
        prop("spark.sql.execution.id").map(_.toLong),
        prop("spark.job.description").getOrElse(""), e.stageIds)
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(s => stageToJob.put(s, rec))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        executions.put(s.executionId, s.details)
        s.rootExecutionId.foreach(r => roots.put(s.executionId, r))
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(stageToJob.get(e.stageInfo.stageId))
        .foreach(j => j.synchronized(j.submittedStages += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageToJob.get(e.stageId)).foreach { j =>
        val m = e.taskMetrics
        val info = e.taskInfo
        j.synchronized {
          j.tasks += 1
          if (m != null) {
            j.runMs += m.executorRunTime
            j.cpuMs += m.executorCpuTime / 1e6
            j.gcMs += m.jvmGCTime
            j.schedMs += math.max(0L, info.duration - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime)
            j.inputBytes += m.inputMetrics.bytesRead
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
  }

  private object PlanListener extends QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).fold(0.0)(s => (s.endTimeMs - s.startTimeMs).toDouble)
      val ex = try countExchanges(qe.executedPlan) catch { case _: Throwable => 0 }
      val paths = qe.analyzed.collect {
        case LogicalRelation(h: HadoopFsRelation, _, _, _, _) =>
          h.location.rootPaths.map(_.toUri.toString)
      }.flatten
      plans.add(PlanRec(ms("analysis"),
        ms("optimization"), ms("planning"), ex, paths))
    }
  }

  /** Exchange nodes of a final executed plan, looking through adaptive
    * wrappers and query stages; a reused exchange is not counted again.
    */
  def countExchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => countExchanges(a.executedPlan)
    case s: QueryStageExec => countExchanges(s.plan)
    case _: ReusedExchangeExec => 0
    case e: Exchange => 1 + e.children.map(countExchanges).sum
    case other => other.children.map(countExchanges).sum +
      other.subqueries.map(countExchanges).sum
  }

  def install(spark: SparkSession): Unit = synchronized {
    if (installedOn ne spark) {
      spark.sparkContext.addSparkListener(JobListener)
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .listenerManager.register(PlanListener)
      installedOn = spark
    }
  }

  /** Waits until the listener bus has delivered every event so far. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.perfbench.Bus.waitUntilEmpty(spark.sparkContext)

  /** After the bus drains: the last job id and the number of plans seen. */
  def mark(spark: SparkSession): (Int, Int) = {
    drain(spark)
    (if (jobs.isEmpty) -1 else jobs.keySet.asScala.max, plans.size)
  }

  def allJobs: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)
  /** Call site of a SQL execution, or of its root when it has none. */
  def executionSite(id: Long): Option[String] =
    Option(executions.get(id)).filter(firstGraftClass(_).nonEmpty)
      .orElse(Option(roots.get(id)).filter(_ != id)
        .flatMap(r => Option(executions.get(r))))
  def allPlans: Seq[PlanRec] = plans.asScala.toSeq

  def moduleOf(site: String): String =
    site.linesIterator.map(_.trim).find(_.startsWith("graft.")) match {
      case None => "harness"
      case Some(f) =>
        val cls = f.takeWhile(_ != '(')
        if (cls.startsWith("graft.Tables") || cls.startsWith("graft.Graft") ||
            cls.startsWith("graft.sources.")) "sources"
        else cls.split('.') match {
          case Array("graft", pkg, _, _*) if pkg.forall(_.isLower) => pkg
          case _ => "graft"
        }
    }

  /** Class of the first `graft.*` frame, e.g. `graft.gtfs.GtfsWriter$`. */
  def firstGraftClass(site: String): String =
    site.linesIterator.map(_.trim).find(_.startsWith("graft."))
      .map(_.takeWhile(_ != '(')).getOrElse("")

  /** Total length of the union of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

/** Minimal JSON writing for the harness's result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
