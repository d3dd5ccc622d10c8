package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites (SparkSession.getOrCreate caches
  * across suites in the forked test JVM).
  */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  val sfSmoke = "/root/testdata/sf0.001"

  /** Spark jobs started while `body` runs, with its result. Listener events
    * arrive asynchronously, so a sentinel job before and after the body
    * bounds the window on the listener side.
    */
  protected def jobsDuring[T](body: => T): (T, Int) = {
    import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val descs = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        descs.put(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    def sentinel(tag: String): Unit = {
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
    }
    def drainUntil(tag: String): Int = {
      var n = 0
      var d = descs.poll(60, TimeUnit.SECONDS)
      while (d != tag) {
        assert(d != null, s"sentinel job '$tag' never reached the listener")
        n += 1
        d = descs.poll(60, TimeUnit.SECONDS)
      }
      n
    }
    sc.addSparkListener(listener)
    try {
      sentinel("jobs-during-start")
      drainUntil("jobs-during-start")
      val out = body
      sentinel("jobs-during-end")
      (out, drainUntil("jobs-during-end"))
    } finally sc.removeSparkListener(listener)
  }
}

object SparkTestBase {
  /** Each test fork passes its own warehouse dir as a system property
    * (build.sbt testGrouping), which SparkConf reads. */
  lazy val session: SparkSession = Graft.session("local[8]")
}
