package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed/partitioned table layout for co-located joins and pruned scans
  * (SURVEY §4 scale posture: "pre-partition what you join repeatedly").
  *
  * Writing both sides of a recurring equi-join bucketed by the join key
  * with the same bucket count makes the join exchange-free: each task
  * reads matching bucket files from both tables and sort-merges locally —
  * at 100 TB this removes the dominant shuffle of every downstream run.
  * `sortBy` on the same key additionally removes the per-task sort.
  *
  * Partitioning (`partitionByCols`) is the orthogonal axis: low-cardinality
  * columns become directory levels so predicate pushdown prunes whole
  * directories at planning time.
  */
object Warehouse {

  /** Write `df` as a bucketed (and optionally partitioned) managed parquet
    * table. Re-running overwrites — including across JVMs: the in-memory
    * catalog forgets tables between sessions while the managed location
    * survives on disk, and `saveAsTable` refuses an unregistered-but-
    * existing location, so any stale directory is dropped first.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    buckets: Int, partitionByCols: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(wh)) fs.delete(wh, true)
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, bucketCol).sortBy(bucketCol)
    (if (partitionByCols.nonEmpty) w.partitionBy(partitionByCols: _*) else w)
      .saveAsTable(table)
  }

  /** Write `df` as a partitioned (unbucketed) managed parquet table:
    * each distinct value of `partCols` becomes a directory level, so a
    * probe filtering on them reads only the matching directories
    * (static partition pruning — planning-time, before any task runs).
    * The layout for "write once, probe a sliver many times" access —
    * e.g. an IVF index partitioned by cell
    * ([[graft.operators.Similarity.writeIvfIndex]]). Same
    * stale-location cleanup as [[writeBucketed]].
    */
  def writePartitioned(df: DataFrame, table: String,
                       partCols: Seq[String]): Unit = {
    require(partCols.nonEmpty, "writePartitioned needs partition columns")
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(wh)) fs.delete(wh, true)
    df.write.mode("overwrite").format("parquet")
      .partitionBy(partCols: _*).saveAsTable(table)
  }

  /** Write `df` as a plain (unbucketed, unpartitioned) managed parquet
    * table — for derived compact representations whose value IS the
    * narrow schema (e.g. a PQ codes table: the ADC scan reads m ints
    * per row because the vectors are not in the table at all). Same
    * stale-location cleanup as [[writeBucketed]].
    */
  def writeTable(df: DataFrame, table: String): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(wh)) fs.delete(wh, true)
    df.write.mode("overwrite").format("parquet").saveAsTable(table)
  }

  /** APPEND `df` into an existing partitioned managed table (created by
    * [[writePartitioned]]): new files land inside the matching partition
    * directories, untouched partitions stay byte-identical, and
    * planning-time pruning keeps working over old + new files alike —
    * the maintenance write of every "write once, probe a sliver" index
    * (an IVF delta-add, a new day of a date-partitioned log). Nothing
    * existing is rewritten: append cost is O(increment).
    */
  def appendPartitioned(df: DataFrame, table: String): Unit = {
    // insertInto matches by POSITION, and saveAsTable moves partition
    // columns to the END of the stored schema — a caller whose column
    // order differs (payload added after the partition column, reordered
    // select) would silently write values into the wrong columns.
    // Reorder defensively against the stored schema so order can never
    // matter; a genuinely missing column fails loudly here instead.
    // (Also the canonical append for PLAIN writeTable tables — the
    // reorder+insertInto idiom lives here once, not per caller.)
    val stored = df.sparkSession.table(table).columns
    df.select(stored.map(org.apache.spark.sql.functions.col): _*)
      .write.mode("append").format("parquet").insertInto(table)
    // appends do NOT drop the catalog entry, so any session holding a
    // cached file listing for the table silently misses the new files
    // (rows on disk, reads stale — found via the wapStream foreachBatch
    // clone-session case). Refresh so this session re-lists; OTHER
    // sessions' caches are theirs to refresh (per-session by design).
    df.sparkSession.catalog.refreshTable(table)
  }

  def read(spark: SparkSession, table: String): DataFrame = spark.table(table)

  /** Whether `df` is a projection or filter of ONE catalog table bucketed
    * on `key` alone, with `key` passed through unchanged — the layout
    * [[writeBucketed]] leaves, whose scan already hash-partitions its rows
    * on `key`. A join, a repartition, a renamed or derived key, a path
    * read, or a session with bucketing off does not qualify. Reads the
    * analyzed plan only, so it launches no job.
    */
  def bucketedOn(df: DataFrame, key: String): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      LogicalRelation}
    @annotation.tailrec
    def scan(p: LogicalPlan): Option[LogicalRelation] = p match {
      case Project(_, c) => scan(c)
      case Filter(_, c) => scan(c)
      case SubqueryAlias(_, c) => scan(c)
      case r: LogicalRelation if r.catalogTable.isDefined => Some(r)
      case _ => None
    }
    val plan = df.queryExecution.analyzed
    df.sparkSession.sessionState.conf.bucketingEnabled && scan(plan).exists {
      r => r.relation match {
        case fs: HadoopFsRelation =>
          fs.bucketSpec.exists(_.bucketColumnNames == Seq(key)) &&
            plan.output.exists(a => a.name == key &&
              r.output.exists(o => o.name == key && o.exprId == a.exprId))
        case _ => false
      }
    }
  }
}
