package graft

import java.time.Instant

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Session-factory contracts: the benign-WARN filter is surgical (drops
  * exactly the FileStreamSink glob-probe event, nothing else from that
  * logger), and Tables.events normalizes every ts encoding the driver's
  * generator has shipped. The shared test session follows the policy.
  */
class GraftSpec extends SparkTestBase {

  private val sinkLogger =
    "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink"

  /** Captures events that SURVIVE the logger's filters. */
  private final class CaptureAppender
    extends AbstractAppender("graft-test-capture", null, null, true,
      Property.EMPTY_ARRAY) {
    val messages = scala.collection.mutable.ListBuffer.empty[String]
    override def append(e: LogEvent): Unit =
      synchronized { messages += e.getMessage.getFormattedMessage }
  }

  test("silenceKnownBenignWarns drops only the glob-probe WARN") {
    assert(spark.version.nonEmpty) // Graft.session installs the filter
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val lc = cfg.getLoggerConfig(sinkLogger)
    assert(lc.getName == sinkLogger, "filter must attach to an explicit config")
    val cap = new CaptureAppender
    cap.start()
    lc.addAppender(cap, Level.WARN, null)
    try {
      ctx.updateLoggers()
      val log = LogManager.getLogger(sinkLogger)
      log.warn("Assume no metadata directory. Error while looking for " +
        "metadata directory in the path: /tmp/*/x.geojson.")
      log.warn("real sink diagnostic that must still flow")
      assert(!cap.messages.exists(_.contains("Assume no metadata")),
        s"benign glob-probe WARN not filtered: ${cap.messages}")
      assert(cap.messages.exists(_.contains("real sink diagnostic")),
        s"unrelated WARN on the same logger was swallowed — filter too " +
          s"broad; captured=${cap.messages.toList} " +
          s"filter=${LogManager.getContext(false).asInstanceOf[LoggerContext]
            .getConfiguration.getLoggerConfig(sinkLogger).getFilter} " +
          s"level=${LogManager.getContext(false).asInstanceOf[LoggerContext]
            .getConfiguration.getLoggerConfig(sinkLogger).getLevel}")
    } finally {
      lc.removeAppender(cap.getName)
      ctx.updateLoggers()
    }
  }

  test("Tables.events normalizes naive-micros (NTZ) and long-nanos ts") {
    val wall = "2024-01-02 03:04:05.123456"
    val us = {
      val i = Instant.parse("2024-01-02T03:04:05.123456Z")
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }

    // naive TIMESTAMP(MICROS): Spark writes TIMESTAMP_NTZ with
    // isAdjustedToUTC=false and infers TIMESTAMP_NTZ back — the round-9
    // generator encoding
    val ntzDir = java.nio.file.Files
      .createTempDirectory("graft-events-ntz").toString
    spark.sql(s"SELECT 1L AS event_id, TIMESTAMP_NTZ '$wall' AS ts")
      .write.mode("overwrite").parquet(s"$ntzDir/events.parquet")
    val ntz = Tables(spark, ntzDir).events
    assert(ntz.schema("ts").dataType == TimestampType)
    assert(ntz.select(unix_micros(col("ts"))).collect()(0).getLong(0) == us,
      "NTZ wall-clock must map to the same UTC instant")

    // long nanos: what spark.sql.legacy.parquet.nanosAsLong=true yields
    // for the TIMESTAMP(NANOS) encoding earlier generators used
    val nanosDir = java.nio.file.Files
      .createTempDirectory("graft-events-nanos").toString
    spark.sql(s"SELECT 1L AS event_id, ${us}000L AS ts")
      .write.mode("overwrite").parquet(s"$nanosDir/events.parquet")
    val fromLong = Tables(spark, nanosDir).events
    assert(fromLong.schema("ts").dataType == TimestampType)
    assert(
      fromLong.select(unix_micros(col("ts"))).collect()(0).getLong(0) == us)

    // an already-LTZ column passes through untouched
    val ltzDir = java.nio.file.Files
      .createTempDirectory("graft-events-ltz").toString
    spark.sql(s"SELECT 1L AS event_id, TIMESTAMP '$wall' AS ts")
      .write.mode("overwrite").parquet(s"$ltzDir/events.parquet")
    val ltz = Tables(spark, ltzDir).events
    assert(ltz.schema("ts").dataType == TimestampType)
    assert(ltz.select(unix_micros(col("ts"))).collect()(0).getLong(0) == us)
  }

  test("the real events table arrives as a µs timestamp at every SF") {
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val e = Tables(spark, s"/root/testdata/$sf").events
      assert(e.schema("ts").dataType == TimestampType, sf)
      assert(e.schema("ts").dataType != LongType, sf)
      assert(e.select(col("ts")).limit(1).count() == 1, sf)
    }
  }

  test("the shared test session follows the Graft.session policy") {
    val expected = Map("spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false", "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.shuffle.partitions" -> "8")
    assert(expected.map { case (k, _) => k -> spark.conf.get(k) } == expected)
    assert(spark.sparkContext.master == "local[8]")
    // the fork's -Dspark.sql.warehouse.dir, qualified by Spark
    assert(spark.conf.get("spark.sql.warehouse.dir") ==
      "file:" + sys.props("spark.sql.warehouse.dir"))
  }
}
