package graft.tools
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import java.util.concurrent.atomic.AtomicLong
object Q36Reuse {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = graft.GraftSession.create()
    spark.sparkContext.setLogLevel("WARN")
    val stages = new AtomicLong; val tasks = new AtomicLong
    val recs = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet(); tasks.addAndGet(s.stageInfo.numTasks)
        recs.addAndGet(s.stageInfo.taskMetrics.inputMetrics.recordsRead)
      }
    })
    (1 to 2).foreach { rep =>
      stages.set(0); tasks.set(0); recs.set(0)
      val t0 = System.nanoTime()
      val n = graft.SparkEntry.queries("q36_counter_all")(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500)
      println(f"[q36] rep$rep rows=$n wall=$dt%.2f stages=${stages.get} tasks=${tasks.get} recordsRead=${recs.get}")
      spark.catalog.clearCache()
      graft.SparkEntry.cleanupQueryTmp()
    }
    spark.stop()
  }
}
