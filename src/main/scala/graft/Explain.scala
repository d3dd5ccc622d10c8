package graft

/** Plan-inspection tool: for each named query (or all), print the
  * formatted physical plan. It runs no timed pass: [[Profile]] times a
  * query, with Bench's warm-up and a per-job breakdown.
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
      println(s"\n===== $name =====")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
