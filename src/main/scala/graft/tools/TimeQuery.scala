package graft.tools

/** Dev tool: time one catalog query N times.
  * Usage: graft.tools.TimeQuery <queryName> [sfDir] [reps] */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = graft.GraftSession.create()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    val fn = graft.SparkEntry.queries(name)
    (1 to reps).foreach { i =>
      System.gc()
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      println(f"$name run$i: ${(System.nanoTime() - t0) / 1e9}%.2fs rows=$n")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
