package graft.tools

import org.apache.spark.sql.functions._

/** r36 scaling-curve point generator + engine timing (BENCH_NOTES
  * "r36 scaling curve"): reproduces the EXACT r36 query path — hash the
  * order keys, wire the 8-node blocks (two 3-cycles, value-driven A→B
  * bridge, 2-node tail), run [[graft.graph.Scc.scc]] + the
  * component-size rollup — at an arbitrary synthetic order count (the
  * structure is data-derived, so scaling the generator IS scaling the
  * graph; the TPC tables stop at sf1). A synthetic one-column
  * orders.parquet is written first and the timed pass STARTS from
  * reading it, so both engines pay the same construction work the
  * committed r36 rows pay (hash + wiring + dedup-via-set-semantics);
  * tools/scc_curve_oracle.py runs the committed r36 oracle SQL over
  * the same parquet. One warmup, then minimum of `passes` noop-sink
  * runs — the Bench methodology.
  *
  * Usage: runMain graft.tools.SccCurve <nOrders> <outDir> [passes]
  * (sf1 ≈ 1.5e6 orders → 30k nodes; 7.5e6 → 150k nodes = the 5× point)
  */
object SccCurve {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: SccCurve <nOrders> <outDir> [passes]")
    val nOrders = args(0).toLong
    val outDir = args(1)
    val passes = if (args.length > 2) args(2).toInt else 3
    val spark = graft.Graft.session()

    val ordersPath = s"$outDir/orders.parquet"
    spark.range(nOrders).select(col("id").as("o_orderkey"))
      .write.mode("overwrite").parquet(ordersPath)

    // the r36 wiring (queries/GraphQ.scala "r36_scc_scaled"), verbatim,
    // over the synthetic keys — hash + block structure + SCC + rollup
    def build(): org.apache.spark.sql.DataFrame = {
      val o = graft.Tables(spark, outDir).table("orders")
      val nn = 8L * math.max(o.count() / 400, 8L)
      val h0 = o.select(col("o_orderkey"),
        (graft.functions.text.saltedHash32(
          col("o_orderkey").cast("string"), 1) % nn).cast("long").as("n"))
      val r = col("n") % 8
      val blockBase = col("n") - r
      val ring = h0.select(col("n").as("src"),
        when(r === 2 || r === 5, col("n") - 2)
          .when(r === 7, blockBase + 3)
          .otherwise(col("n") + 1).as("dst"))
      val bridge = h0.filter(col("o_orderkey") % 3 === 0 && r === 1)
        .select(col("n").as("src"), (blockBase + 3).as("dst"))
      graft.graph.Scc.scc(ring.unionByName(bridge))
        .groupBy(col("scc"))
        .agg(count(lit(1)).as("n_members"))
    }
    def onePass(): Double = {
      val t0 = System.nanoTime()
      build().write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    onePass() // warmup
    val secs = (1 to passes).map(_ => onePass())
    val nScc = build().count()
    println(s"""{"tool":"scc_curve","n_orders":$nOrders,""" +
      s""""n_scc":$nScc,"passes":${secs.mkString("[", ",", "]")},""" +
      s""""spark_sec":${secs.min}}""")
    spark.stop()
  }
}
