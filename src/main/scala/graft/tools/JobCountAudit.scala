package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import java.util.concurrent.atomic.AtomicLong

/** Dev audit (r16, verdict item 7): Spark JOBS per gate invocation —
  * the scheduler-floor census for the sub-second tail. Each gate's
  * count = driver actions it runs (counted plan choices, convergence
  * counts, checkpoint materializations, broadcast builds under AQE,
  * the final count). Emits one JSON line per gate plus a histogram.
  * Usage: runMain graft.tools.JobCountAudit [sfDir] [q1,q2,...] */
object JobCountAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.001")
    val only: Option[Set[String]] = args.lift(1).map(_.split(",").toSet)
    val spark = graft.GraftSession.create()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    spark.range(1000).selectExpr("sum(id)").collect()
    graft.Tables.all.foreach(t => graft.Tables.load(spark, sfDir, t).schema)
    val counts = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .flatMap { case (name, fn) =>
        jobs.set(0)
        val ok = try { fn(spark, sfDir).count(); true }
          catch { case e: Throwable =>
            System.err.println(s"[audit] FAILED $name: ${e.getMessage}"); false }
        // listener events are async; give the bus a beat to drain
        // BEFORE reading the counter, so a gate's tail events don't
        // bleed into the next gate's count
        Thread.sleep(50)
        val r = if (ok) Some(jobs.get) else None
        spark.catalog.clearCache()
        graft.SparkEntry.cleanupQueryTmp()
        r.map(name -> _)
      }
    val byJobs = counts.sortBy(-_._2)
    println("=== jobs per gate (desc) ===")
    byJobs.foreach { case (n, j) => println(f"$j%4d $n") }
    val hist = counts.groupBy(_._2).toSeq.sortBy(_._1)
    println("=== histogram jobs -> gates ===")
    hist.foreach { case (j, g) => println(f"$j%4d jobs: ${g.length} gates") }
    println(s"total gates=${counts.length} total jobs=${counts.map(_._2).sum}")
    spark.stop()
  }
}
