package graft

import org.scalatest.funsuite.AnyFunSuite

/** Explain's and Profile's argument rule, checked without Spark. */
class ExplainArgsSpec extends AnyFunSuite {
  private val (q1, q3) = ("q01_pricing_summary", "q03_region_nation_revenue")
  private def parse(args: String*) = Explain.dirAndQueries(args)
  private val sf = parse().toOption.get._1 // the default data directory

  test("a query name is a query; any other first argument is a directory") {
    val dir = java.nio.file.Files.createTempDirectory("graft-args").toString
    assert(parse() == Right((sf, Nil)))
    assert(parse(q1, q3) == Right((sf, Seq(q1, q3))))
    assert(parse(dir) == Right((dir, Nil)))
    assert(parse(dir, q1) == Right((dir, Seq(q1))))
    assert(parse(dir, q1, "nope", dir) == Left(s"unknown queries: nope, $dir"))
  }

  test("a first argument that is neither a query nor a directory is refused") {
    assert(parse("q01_pricing_summry", q1) ==
      Left("'q01_pricing_summry' is neither a query nor an existing directory"))
    assert(parse("/nonexistent/sf0.1") ==
      Left("'/nonexistent/sf0.1' is neither a query nor an existing directory"))
  }
}
