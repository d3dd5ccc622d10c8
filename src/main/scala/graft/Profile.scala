package graft

import org.apache.spark.scheduler._

/** Optimization-round profiling tool: per-JOB wall-clock breakdown of a
  * query's timed (noop-sink) run — the job-level complement of
  * [[Explain]]'s plan dump. Each named query runs once untimed (JIT +
  * footer warmup, the Bench methodology), then once against the noop
  * sink with a listener recording every job's duration, stage count and
  * task count; the `jobs=` line carries the query's totals, so two
  * builds compare by one `diff` of those lines. Loop queries show their
  * per-round cost directly: one line per checkpoint/probe job.
  *
  * Usage: runMain graft.Profile [sfDir] <queryName ...>
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val (sfDir, names) = Explain.dirAndQueriesOrExit(args.toSeq)
    require(names.nonEmpty, "usage: Profile [sfDir] <query ...>")
    // the same codegen cache as Bench, whose timed pass this profiles
    val spark = Graft.session(codegenCacheEntries = Some(Bench.CodegenCacheEntries))

    case class Job(id: Int, start: Long, var end: Long = -1L,
                   var stages: Int = 0, var tasks: Int = 0,
                   desc: String)
    case class Stg(id: Int, job: Int, name: String, tasks: Int,
                   var ms: Long = -1L, var shufW: Long = 0L,
                   var shufR: Long = 0L, var rows: Long = 0L)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, Stg]()
    @volatile var recording = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (recording) {
          val d = Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("")
          jobs.put(js.jobId, Job(js.jobId, js.time,
            stages = js.stageInfos.size,
            tasks = js.stageInfos.map(_.numTasks).sum, desc = d))
          js.stageInfos.foreach(si => stages.putIfAbsent(si.stageId,
            Stg(si.stageId, js.jobId, si.name.takeWhile(_ != '\n'),
              si.numTasks)))
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted)
          : Unit = {
        val st = stages.get(sc.stageInfo.stageId)
        if (st != null) {
          st.ms = (for {a <- sc.stageInfo.completionTime
                        b <- sc.stageInfo.submissionTime} yield a - b)
            .getOrElse(-1L)
          val m = sc.stageInfo.taskMetrics
          st.shufW = m.shuffleWriteMetrics.bytesWritten
          st.shufR = m.shuffleReadMetrics.totalBytesRead
          st.rows = m.outputMetrics.recordsWritten
        }
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val j = jobs.get(je.jobId)
        if (j != null) j.end = je.time
      }
    })

    def run(name: String): Unit = {
      val fn = SparkEntry.queries(name)
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
    }

    for (name <- names) {
      run(name) // warmup
      jobs.clear()
      stages.clear()
      recording = true
      val t0 = System.nanoTime()
      run(name)
      val wall = (System.nanoTime() - t0) / 1e9
      // best-effort listener drain (ADVICE r16): the listener bus is
      // async, so late job-end/stage events could be dropped or print
      // dur=-1 rows; waitUntilEmpty is package-private — a short sleep
      // is the honest diagnostic-tool fix (rows can still be labeled
      // incomplete via dur=-1 below)
      Thread.sleep(300)
      recording = false
      println(f"\n===== $name%s  wall=$wall%.3f s =====")
      import scala.jdk.CollectionConverters._
      val js = jobs.values.asScala.toSeq.sortBy(_.id)
      val acc = js.filter(_.end > 0).map(j => j.end - j.start).sum / 1e3
      println(f"jobs=${js.size}%d  stages=${js.map(_.stages).sum}%d  " +
        f"tasks=${js.map(_.tasks).sum}%d  sum(job wall)=$acc%.3f s  " +
        "(gaps = driver planning/analysis time)")
      var prevEnd = -1L
      val stById = stages.values.asScala.toSeq.groupBy(_.job)
      for (j <- js) {
        val dur = if (j.end > 0) (j.end - j.start) / 1e3 else -1.0
        val gap = if (prevEnd > 0) (j.start - prevEnd) / 1e3 else 0.0
        prevEnd = if (j.end > 0) j.end else prevEnd
        println(f"  job ${j.id}%4d  ${dur}%7.3f s  gap=${gap}%6.3f  " +
          f"stages=${j.stages}%2d tasks=${j.tasks}%4d  " +
          j.desc.take(70))
        for (s <- stById.getOrElse(j.id, Nil).sortBy(_.id)
               if s.ms >= 0)
          println(f"      stage ${s.id}%4d ${s.ms / 1e3}%7.3f s  " +
            f"tasks=${s.tasks}%4d shufW=${s.shufW / 1024}%8dK " +
            f"shufR=${s.shufR / 1024}%8dK  ${s.name.take(60)}%s")
      }
    }
    spark.stop()
  }
}
