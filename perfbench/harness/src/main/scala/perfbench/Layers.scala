package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Per-layer metrics of a traced run, over the first timed pass: every
  * count then covers the same work in every run of one seed.
  */
object Layers {
  private val RoundLabel = "(.+) round \\d+".r

  def measure(spark: SparkSession, c: Harness.Client,
              dataDir: Option[String]): Seq[(String, Double)] = {
    Ledger.drain(spark)
    val ops = c.ops.filter(_.pass == 1).toSeq
    val ((job0, plan0), (job1, plan1)) = (c.marksBefore1, c.marksAfter1)
    val jobs = Ledger.allJobs.filter(j => j.id > job0 && j.id <= job1)
    val plans = Ledger.allPlans.slice(plan0, plan1)
    val spans = c.tracer.spans.filter(s => ops.exists(_.id == s.op))

    def sumD(js: Seq[JobRec])(f: JobRec => Double): Double = js.map(f).sum
    def busy(js: Seq[JobRec]): Double =
      Ledger.unionLength(js.map(j => (j.startMs, j.endMs))).toDouble
    def within(name: String): Seq[JobRec] = {
      val iv = spans.filter(_.name == name).map(s => (s.startNs, s.endNs))
      // spans are in nanoTime; map job wall-clock starts into that clock
      val offset = System.nanoTime() - System.currentTimeMillis() * 1000000L
      jobs.filter { j =>
        val t = j.startMs * 1000000L + offset
        iv.exists { case (s, e) => t >= s - 1000000L && t <= e }
      }
    }
    val spanMs = (n: String) =>
      spans.filter(_.name == n).map(s => (s.endNs - s.startNs) / 1e6).sum

    // the star-schema tables the pass's executed plans read
    val tables = dataDir.toSeq.flatMap { dir =>
      val base = new java.io.File(dir).getCanonicalPath
      plans.flatMap(_.paths).map(p => new java.io.File(new java.net.URI(p)))
        .filter(f => f.getParent == base && f.getName.endsWith(".parquet"))
        .map(_.getName.stripSuffix(".parquet"))
    }.distinct.sorted
    val module = (n: String) => jobs.filter(_.module == n)
    val sourcesJobs = module("sources").size.toDouble
    val resolveMs = dataDir.toSeq.flatMap { dir =>
      tables.flatMap { t =>
        (1 to 5).map { _ =>
          c.tracer.span("tables_probe") {
            val t0 = System.nanoTime()
            graft.Tables(spark, dir).table(t)
            (System.nanoTime() - t0) / 1e6
          }
        }
      }
    }
    val rounds = jobs.flatMap(j => j.label match {
      case RoundLabel(_) => Some(j)
      case _ => None
    })
    // a round's label repeats in every loop; key rounds by operation too
    val opOf = (j: JobRec) => ops.find(o =>
      j.startMs >= o.startMs && j.startMs <= o.endMs).fold(-1)(_.id)
    val roundMs = rounds.groupBy(j => (opOf(j), j.label)).values
      .map(js => busy(js)).toSeq
    val gapMs = ops.map { o =>
      val js = jobs.filter(j => j.startMs >= o.startMs && j.startMs <= o.endMs)
      math.max(0.0, o.latS * 1000 - busy(js))
    }.sum
    val writer = jobs.filter(j =>
      Ledger.firstGraftClass(j.site).startsWith("graft.gtfs.GtfsWriter"))
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)

    Seq(
      "sources.resolve_ms" -> Ledger.median(resolveMs),
      "sources.jobs" -> sourcesJobs,
      "sources.resolutions_per_table" ->
        (if (tables.isEmpty) 0.0 else sourcesJobs / tables.size),
      "queries.build_ms" -> spanMs("build"),
      "queries.build_jobs" -> within("build").size.toDouble,
      "catalyst.analysis_ms" -> plans.map(_.analysisMs).sum,
      "catalyst.optimization_ms" -> plans.map(_.optimizationMs).sum,
      "catalyst.planning_ms" -> plans.map(_.planningMs).sum,
      "catalyst.plans" -> plans.size.toDouble,
      "catalyst.exchanges" -> plans.map(_.exchanges).sum.toDouble,
      "codegen.compiles" -> (c.codegenAfter1._1 - c.codegenBefore1._1).toDouble,
      "codegen.compile_ms" -> (c.codegenAfter1._2 - c.codegenBefore1._2),
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> jobs.map(_.submittedStages).sum.toDouble,
      "spark.stages_skipped" ->
        jobs.map(j => j.stages.size - j.submittedStages).sum.toDouble,
      "spark.tasks" -> sumD(jobs)(_.tasks.toDouble),
      "spark.job_busy_ms" -> busy(jobs),
      "spark.driver_gap_ms" -> gapMs,
      "spark.task_run_ms" -> sumD(jobs)(_.runMs.toDouble),
      "spark.task_cpu_ms" -> sumD(jobs)(_.cpuMs),
      "spark.sched_delay_ms" -> sumD(jobs)(_.schedMs.toDouble),
      "spark.gc_ms" -> sumD(jobs)(_.gcMs.toDouble),
      "spark.input_bytes" -> sumD(jobs)(_.inputBytes.toDouble),
      "spark.shuffle_write_bytes" -> sumD(jobs)(_.shuffleWrite.toDouble),
      "spark.shuffle_read_bytes" -> sumD(jobs)(_.shuffleRead.toDouble),
      "spark.spill_bytes" -> sumD(jobs)(_.spill.toDouble),
      "operators.jobs" -> module("operators").size.toDouble,
      "operators.job_ms" -> sumD(module("operators"))(_.durMs.toDouble),
      "operators.loop_rounds" -> roundMs.size.toDouble,
      "operators.round_ms" -> Ledger.median(roundMs),
      "graph.jobs" -> module("graph").size.toDouble,
      "graph.job_ms" -> sumD(module("graph"))(_.durMs.toDouble),
      "gtfs.jobs" -> module("gtfs").size.toDouble,
      "gtfs.job_ms" -> sumD(module("gtfs"))(_.durMs.toDouble),
      "gtfs.write_ms" -> sumD(writer)(_.durMs.toDouble),
      "streaming.job_ms" -> sumD(module("streaming"))(_.durMs.toDouble),
      "harness.jobs" -> module("harness").size.toDouble,
      "jvm.jit_ms" -> c.jitMsAfter1,
      "jvm.heap_peak_mb" -> heapPeak)
  }

  /** Compilations so far and their estimated total milliseconds (count ×
    * the histogram's mean, which is sampled).
    */
  def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getCount * h.getSnapshot.getMean)
  }

  def jitMs(): Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble
}
