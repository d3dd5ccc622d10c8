package graft

import java.nio.file.Files
import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructType, TimestampNTZType, TimestampType}

/** Tables resolves a table's parquet schema once per session: a repeat read
  * launches no Spark job and plans exactly like a plain inferred read, while
  * a rewritten file, a flipped parquet conf or another session infers again.
  * Hermetic: every table is written to a temp directory here.
  */
class TablesSpec extends SparkTestBase {

  private def tempDir(tag: String): String =
    Files.createTempDirectory(s"graft-tables-$tag").toString

  private def writeTable(dir: String, name: String, df: DataFrame): Unit =
    df.write.mode("overwrite").parquet(s"$dir/$name.parquet")

  private def sample(): DataFrame =
    spark.range(0, 200, 1, 4).select(col("id").as("k"),
      (col("id") * 3).cast("string").as("v"), (col("id") % 7).as("g"))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** The scan's pushed filters and read schema, i.e. pushdown and pruning. */
  private def scanShape(df: DataFrame): Seq[(String, String)] =
    df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec =>
      (s.metadata.getOrElse("PushedFilters", ""),
        s.metadata.getOrElse("ReadSchema", ""))
    }

  test("a repeat read of an unchanged table launches no job and plans like inference") {
    val dir = tempDir("repeat")
    writeTable(dir, "t", sample())
    val tables = Tables(spark, dir)
    val (_, firstJobs) = jobsDuring(tables.table("t"))
    assert(firstJobs > 0, "the first read should infer the schema")
    val (cached, jobs) = jobsDuring(tables.table("t"))
    assert(jobs == 0, s"a cached read launched $jobs Spark jobs")

    val plain = spark.read.parquet(s"$dir/t.parquet")
    assert(cached.schema == plain.schema)
    assert(rows(cached) == rows(plain))
    def output(df: DataFrame) = df.queryExecution.optimizedPlan.output
      .map(a => (a.name, a.dataType, a.nullable))
    assert(output(cached) == output(plain))
    def query(df: DataFrame) =
      df.filter(col("k") > 150 && col("g") === 3).select(col("v"))
    assert(scanShape(query(cached)).nonEmpty)
    assert(scanShape(query(cached)) == scanShape(query(plain)))
    assert(rows(query(cached)) == rows(query(plain)))
  }

  test("a table rewritten with a different schema is read with the new one") {
    val dir = tempDir("rewrite")
    val tables = Tables(spark, dir)
    writeTable(dir, "t", sample())
    assert(tables.table("t").columns.toSeq == Seq("k", "v", "g"))
    tables.table("t") // cached now
    writeTable(dir, "t",
      spark.range(5).select(col("id").cast("string").as("name"),
        lit(1.5).as("score")))
    val after = tables.table("t")
    assert(after.schema == spark.read.parquet(s"$dir/t.parquet").schema)
    assert(after.columns.toSeq == Seq("name", "score"))
    assert(rows(after) == (0 until 5).map(i => s"[$i,1.5]").sorted)
  }

  test("a partition added under a table directory is seen with its new type") {
    val dir = tempDir("partitioned")
    val tables = Tables(spark, dir)
    sample().write.partitionBy("g").parquet(s"$dir/t.parquet")
    assert(tables.table("t").schema("g").dataType != StringType)
    tables.table("t") // cached now
    spark.range(3).select(col("id").as("k"), col("id").cast("string").as("v"),
      lit("x").as("g")).write.mode("append").partitionBy("g")
      .parquet(s"$dir/t.parquet")
    val after = tables.table("t")
    assert(after.schema == spark.read.parquet(s"$dir/t.parquet").schema)
    assert(after.schema("g").dataType == StringType)
    assert(after.count() == 203)
  }

  /** Runs `body` with `key` set to `value`, then restores the old value. */
  private def withConf[T](key: String, value: String)(body: => T): T = {
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** The column's type as `read` resolves it, or the class of its error. */
  private def typeOf(read: => DataFrame, column: String): Either[String, DataType] =
    try Right(read.schema(column).dataType)
    catch { case e: Exception => Left(e.getClass.getName) }

  /** One int64 column `ts` of the given logical type, one row, written with
    * parquet-mr itself: no Spark schema in the footer, so the parquet
    * confs decide the inferred type as they do for the generator's files.
    */
  private def writeTs(dir: String, name: String, logical: String, v: Long): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      s"message m { required int64 ts ($logical); }")
    val file = new Path(s"$dir/$name.parquet/part-0.parquet")
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      file, spark.sparkContext.hadoopConfiguration)).withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup().append("ts", v))
    finally writer.close()
  }

  test("flipping a parquet conf between reads of one path changes the inferred type") {
    val dir = tempDir("confs")
    val tables = Tables(spark, dir)
    writeTs(dir, "events", "TIMESTAMP(NANOS,true)", 1704164645123456000L)
    val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
    def ts = typeOf(tables.table("events"), "ts")
    withConf(nanosAsLong, "true") {
      assert(ts == Right(LongType))
      assert(ts == Right(LongType)) // now cached under this setting
    }
    withConf(nanosAsLong, "false") {
      // Spark has no nanosecond timestamp type and refuses the column:
      // the cached LongType schema must not leak into this setting
      val native = ts
      assert(native != Right(LongType))
      assert(native == typeOf(spark.read.parquet(s"$dir/events.parquet"), "ts"))
    }
    withConf(nanosAsLong, "true")(assert(ts == Right(LongType)))

    // naive TIMESTAMP(MICROS), the other events encoding
    writeTs(dir, "naive", "TIMESTAMP(MICROS,false)", 1704164645123456L)
    val ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    def naive = typeOf(tables.table("naive"), "ts")
    withConf(ntz, "true")(assert(naive == Right(TimestampNTZType)))
    withConf(ntz, "false")(assert(naive == Right(TimestampType)))
    withConf(ntz, "true")(assert(naive == Right(TimestampNTZType)))
  }

  test("two sessions never share cached schemas") {
    val dir = tempDir("sessions")
    writeTable(dir, "t", sample())
    val other = spark.newSession()
    // same parquet confs, so only the session tells the two reads apart
    def parquetConfs(s: SparkSession) =
      s.conf.getAll.filter { case (k, _) => k.contains(".parquet.") }
    parquetConfs(spark).foreach { case (k, v) => other.conf.set(k, v) }
    assert(parquetConfs(other) == parquetConfs(spark))
    val (_, warmJobs) = jobsDuring(Tables(spark, dir).table("t"))
    assert(warmJobs > 0)
    assert(jobsDuring(Tables(spark, dir).table("t"))._2 == 0)
    val (fromOther, otherJobs) = jobsDuring(Tables(other, dir).table("t"))
    assert(otherJobs > 0, "another session must infer for itself")
    assert(fromOther.sparkSession eq other)
    assert(fromOther.schema == spark.read.parquet(s"$dir/t.parquet").schema)
  }

  test("concurrent reads of one table all get the correct schema") {
    val dir = tempDir("concurrent")
    writeTable(dir, "t", sample())
    val expected = spark.read.parquet(s"$dir/t.parquet").schema
    val threads = 12
    val pool = Executors.newFixedThreadPool(threads)
    try {
      // twice: every thread misses together on a cold cache, then hits
      for (_ <- 1 to 2) {
        val barrier = new CyclicBarrier(threads)
        val calls = (1 to threads).map { _ =>
          new Callable[StructType] {
            def call(): StructType = {
              barrier.await()
              Tables(spark, dir).table("t").schema
            }
          }
        }
        val got = pool.invokeAll(calls.asJava, 120, TimeUnit.SECONDS)
          .asScala.map(_.get())
        assert(got.size == threads)
        assert(got.forall(_ == expected))
      }
    } finally pool.shutdownNow()
    assert(rows(Tables(spark, dir).table("t")) == rows(sample()))
  }

  test("a missing table fails with Spark's own error") {
    val dir = tempDir("missing")
    val e = intercept[org.apache.spark.sql.AnalysisException](
      Tables(spark, dir).table("absent"))
    assert(e.getCondition == "PATH_NOT_FOUND")
  }
}
