package graft

/** Plan-inspection tool: for each named query (or all), print the
  * formatted physical plan and three timed runs against a noop sink.
  *
  * Usage: runMain graft.Explain [sfDir] [queryName ...]
  */
object Explain {
  /** `[sfDir] [queryName ...]`, for Explain and [[Profile]]: an argument
    * naming a SparkEntry query is a query, and a first argument that does
    * not must be an existing directory (default SPARK_GRAFT_SF_DIR, else
    * sf0.1). Left is the one-line reason the arguments are refused.
    */
  def dirAndQueries(args: Seq[String]): Either[String, (String, Seq[String])] = {
    val known = SparkEntry.queries.keySet
    val (dir, names) = args match {
      case first +: rest if !known(first) => (Some(first), rest)
      case _ => (None, args)
    }
    val unknown = names.filterNot(known)
    if (dir.exists(!new java.io.File(_).isDirectory))
      Left(s"'${dir.get}' is neither a query nor an existing directory")
    else if (unknown.nonEmpty) Left(s"unknown queries: ${unknown.mkString(", ")}")
    else Right((dir.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")), names))
  }

  /** [[dirAndQueries]], or exit with its reason on one stderr line. */
  def dirAndQueriesOrExit(args: Seq[String]): (String, Seq[String]) =
    dirAndQueries(args) match {
      case Right(parsed) => parsed
      case Left(why) => System.err.println(why); sys.exit(2)
    }

  def main(args: Array[String]): Unit = {
    val (sfDir, given) = dirAndQueriesOrExit(args.toSeq)
    val names = if (given.nonEmpty) given
                else SparkEntry.queries.keys.toSeq.sorted
    val spark = Graft.session()
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      println(s"\n===== $name =====")
      fn(spark, sfDir).explain("formatted")
      // SPARK_GRAFT_EXPLAIN_NOTIME=1 skips the timed passes (plan-file
      // capture for plans/r16 — timing there belongs to Bench)
      if (!sys.env.contains("SPARK_GRAFT_EXPLAIN_NOTIME")) {
        val times = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        println(f"[times] ${times.map(t => f"$t%.3f").mkString(" ")} sec")
      }
    }
    spark.stop()
  }
}
