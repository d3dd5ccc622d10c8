package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Session factory + table catalog for the graft engine.
  *
  * All testdata tables (TESTDATA.md) are parquet files under one scale-factor
  * directory; every query entry point receives that directory so the same
  * plan runs at sf0.001 (smoke), sf0.01 (oracle) and sf0.1 (bench) — and, by
  * design, on a real cluster path at 100 TB: nothing below ever collects a
  * table to the driver or depends on partition count.
  */
object Graft {

  /** Every glob-path batch read (e.g. `geojson/<id-glob>/ways.geojson`) makes
    * FileStreamSink.hasMetadata probe the LITERAL path for a streaming
    * sink's `_spark_metadata`; `getFileStatus` on the unexpanded glob
    * throws FileNotFoundException, which Spark logs at WARN **with the
    * full stack trace** before returning "not a streaming sink" and
    * proceeding. Harmless and deterministic, but under sbt the stack
    * lands on stderr as `[error] \tat ...` lines — indistinguishable
    * from a fatal crash in a char-budgeted log tail (it cost a round of
    * misdiagnosis as a "transient GTFS failure", BENCH_NOTES round 8).
    * A RegexFilter DENYs exactly the "Assume no metadata directory"
    * event (stack included — the filter drops the whole event) on that
    * one logger; every other message from it, including real
    * file-stream-sink write diagnostics, still flows. (The first cut
    * raised the whole logger to ERROR, which also swallowed legitimate
    * sink WARNs in streaming sessions.)
    *
    * [[session]] calls it AFTER the session exists: the created LoggerConfig
    * snapshots its parent's CURRENT level, and before any session log4j's
    * pre-init root level is ERROR — calling first would freeze that in.
    */
  def silenceKnownBenignWarns(): Unit = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.Filter.Result
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.config.LoggerConfig
    import org.apache.logging.log4j.core.filter.RegexFilter
    val name = "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink"
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val filter = RegexFilter.createFilter(
      ".*Assume no metadata directory.*", null, java.lang.Boolean.FALSE,
      Result.DENY, Result.NEUTRAL)
    val lc = cfg.getLoggerConfig(name) match {
      case c if c.getName == name => c
      case parent => // no explicit config yet: add one that inherits level
        val c = new LoggerConfig(name, parent.getLevel, true)
        cfg.addLogger(name, c)
        c
    }
    // idempotent: session() may run more than once per JVM, filters stack
    if (lc.getFilter == null) {
      lc.addFilter(filter)
      ctx.updateLoggers()
    }
  }

  /** One stderr line naming why a call failed: the call's name, then the
    * root cause's class and message (Spark wraps a task failure in several
    * layers, and the outer message alone often hides the cause).
    */
  def reportFailure(tag: String, name: String, e: Throwable): Unit = {
    val root = Option(
      org.apache.commons.lang3.exception.ExceptionUtils.getRootCause(e)).getOrElse(e)
    System.err.println(
      s"[$tag] $name failed: ${root.getClass.getName}: ${root.getMessage}")
  }

  /** Widen a pathologically narrow scan so a per-row-heavy kernel
    * parallelizes — the g10 row-group lesson, factored for every
    * kernel-dominated call site (map-match, BPE encode, span scrub,
    * pHash, minhash/winnowing via Tables.documentsKernelParallel).
    *
    * Parquet splits at ROW-GROUP granularity: a single-row-group file
    * (the local testdata writer's output) gives the scan ONE task no
    * matter how many cores exist, so per-row kernel cost runs serially
    * (g10 measured 8.2 s single-task at sf0.1 vs 5.8 s for 10× the rows
    * over sf1's 49 row groups). The guard widens ONLY when the scan
    * plans at less than half the session's parallelism — on real
    * multi-file cluster data the gate is false and NO shuffle is added;
    * the unconditional form would shuffle the whole corpus for nothing.
    */
  def kernelParallel(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 < cores) df.repartition(cores) else df
  }

  /** The one session factory, for every entry point, the tests and the
    * benchmark harness. The master defaults to `local[SPARK_GRAFT_CPUS or
    * all cores]`; `local[N]` gets N shuffle partitions. `codegenCacheEntries`
    * sizes the codegen cache, a static conf, for runs that interleave many
    * queries between two passes of one (Bench, Profile).
    */
  def session(
      master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS",
        String.valueOf(Runtime.getRuntime.availableProcessors))}]",
      codegenCacheEntries: Option[Int] = None): SparkSession = {
    val builder = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet stores TIMESTAMP(NANOS) which Spark has no native
      // type for; read as long and normalize in Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    master match {
      case LocalThreads(n) => builder.config("spark.sql.shuffle.partitions", n.toLong)
      case _ =>
    }
    codegenCacheEntries
      .foreach(n => builder.config("spark.sql.codegen.cache.maxEntries", n.toLong))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    silenceKnownBenignWarns()
    spark
  }

  private val LocalThreads = """local\[(\d+)\]""".r
}

/** Lazy readers for the driver-generated star schema at one scale factor.
  *
  * A table's parquet schema is resolved once per session ([[Tables.read]]):
  * inference is a Spark job (about 65–100 ms a call at sf0.1), supplying the
  * schema is not (5–10 ms), and every query reads several tables. Only the
  * `StructType` is cached. Data and DataFrames are not: each call still
  * builds a fresh DataFrame over a fresh file index, so an added, removed or
  * rewritten file is seen at once, and the plan is the one inference gives —
  * same attributes, same pushdown, same pruning.
  */
final case class Tables(spark: SparkSession, dir: String) {
  def table(name: String): DataFrame = Tables.read(spark, s"$dir/$name.parquet")

  def region: DataFrame     = table("region")
  def nation: DataFrame     = table("nation")
  def customer: DataFrame   = table("customer")
  def supplier: DataFrame   = table("supplier")
  def part: DataFrame       = table("part")
  def orders: DataFrame     = table("orders")
  def lineitem: DataFrame   = table("lineitem")

  /** events.ts normalization: the generator has shipped the column as
    * parquet TIMESTAMP(NANOS) (arrives as LongType nanos under
    * spark.sql.legacy.parquet.nanosAsLong=true) and as naive
    * TIMESTAMP(MICROS) (isAdjustedToUTC=false, which Spark 4 infers as
    * TIMESTAMP_NTZ — a type unix_micros/window/watermark reject).
    * Normalize both to a microsecond TimestampType column; the NTZ→LTZ
    * cast reinterprets the wall-clock under the session timeZone, which
    * every entrypoint pins to UTC, so the instants are identical to the
    * nanos-era values (and to DuckDB's naive-as-UTC epoch reading).
    */
  def events: DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val raw = table("events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _        => raw
    }
  }
  /** The text-kernel queries (minhash/simhash/winnowing/BPE…) burn their
    * CPU in per-row codegen kernels directly over this scan. The local
    * testdata is a single parquet row group, so Spark gives the scan ONE
    * task no matter how many cores exist (a row group is the minimum
    * split unit); kernel-dominated queries read through
    * [[documentsKernelParallel]], which widens only that case.
    */
  def documents: DataFrame = table("documents")

  /** [[documents]] for KERNEL-DOMINATED scans (minhash, winnowing,
    * decontamination): repartitioned to defaultParallelism ONLY when the
    * scan plans fewer partitions — locally the testdata is a single
    * parquet row group (the minimum split unit), so the scan gets ONE
    * task and per-row kernels run serially (d02 measured 1.02→0.72 s at
    * sf0.1). At cluster scale file splits already exceed the core count,
    * the gate is false, and no shuffle happens — the unconditional form
    * would shuffle the whole corpus for nothing. Light queries should
    * stay on [[documents]]: the rebalance shuffle costs more than it
    * buys there (measured +0.1–0.2 s each, net loss on the 16-query doc
    * subset).
    */
  def documentsKernelParallel: DataFrame = Graft.kernelParallel(documents)
  def embeddings: DataFrame = table("embeddings")

  /** [[embeddings]] behind [[Graft.kernelParallel]] — for the
    * kernel-dominated corpus passes (Lloyd/PQ rounds, JL projection,
    * SQ8 encode): the local single-row-group file otherwise pins a
    * per-row-heavy scan to ONE task (the g10 pathology; v15 measured
    * 7.2 s single-task at sf1 for work 32 cores finish in well under a
    * second). Query-vector/codebook lookups should keep the plain
    * [[embeddings]] — a 1-row filter never amortizes a repartition.
    */
  def embeddingsKernelParallel: DataFrame = Graft.kernelParallel(embeddings)
}

object Tables {
  /** Every file under a table path: (path, length, modification time). */
  private type Listing = Seq[(String, Long, Long)]

  /** Per session: (path, schema confs) -> the listing the schema was
    * inferred from, and that schema. Weak keys, so nothing outlives its
    * session; one entry per path and conf set, so a rewrite replaces it.
    */
  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      ConcurrentHashMap[(String, Map[String, String]), (Listing, StructType)]]())

  /** The parquet table at `path`, with its schema inferred at most once per
    * session for each listing of the path and each set of explicitly set
    * `spark.sql.parquet.*` / `spark.sql.legacy.parquet.*` confs (they change
    * the inferred types: nanosAsLong, binaryAsString, mergeSchema …). The
    * path is listed on every call (about 0.02 ms locally), so a changed file
    * set misses and is inferred again. A missing path reads as before and
    * fails with Spark's own error.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    listing(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(files) =>
        val cache = schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap())
        val key = (path, spark.conf.getAll.filter { case (k, _) =>
          k.startsWith("spark.sql.parquet.") ||
            k.startsWith("spark.sql.legacy.parquet.")
        })
        Option(cache.get(key)) match {
          case Some((`files`, schema)) => spark.read.schema(schema).parquet(path)
          case _ =>
            val df = spark.read.parquet(path)
            cache.put(key, (files, df.schema))
            df
        }
    }

  private def listing(spark: SparkSession, path: String): Option[Listing] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // listStatus, not listFiles: listFiles also looks up block locations,
    // which costs about 3 ms a call locally against 0.02 ms
    def files(p: Path): Listing = fs.listStatus(p).toSeq.flatMap { f =>
      if (f.isDirectory) files(f.getPath)
      else Seq((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    try Some(files(root).sorted)
    catch { case _: java.io.FileNotFoundException => None }
  }
}
