package graft.tools

/** Dev tool: print the formatted physical plan of catalog queries —
  * the `.explain("formatted")` audit loop the build guide prescribes.
  * Usage: runMain graft.tools.PlanAudit <query>[,query...] [sfDir] */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession.create()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { name =>
      println(s"==== $name ====")
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      df.explain("formatted")
    }
    spark.stop()
  }
}
