package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.schema.DeliveryLogLite

/** CombineDeliveryLog (reference J5,
  * P:common/functions/CombineDeliveryLog.java:28-210): API- and SDK-produced
  * DeliveryLogs sharing a clientRequestId within a short event-time window
  * merge into one, preferring the higher-priority producer (API > SDK).
  * The reference delays its output watermark by the window; in Spark the
  * same safety margin is folded into the downstream `withWatermark` delay
  * (SURVEY §2.10 watermark-delay note).
  *
  * State per key: one best-so-far log + window-open ts per clientRequestId,
  * pruned as windows close — O(active client requests), not O(stream).
  */
object CombineDeliveryLog {

  private val priority = Map("API" -> 2, "SDK" -> 1)

  case class Pending(best: DeliveryLogLite, windowOpenTs: Long)
  case class State(byClientRequest: Map[String, Pending])

  /** Priority first, then earliest ts, then requestId for a total order. */
  private def better(a: DeliveryLogLite, b: DeliveryLogLite): DeliveryLogLite = {
    val pa = priority.getOrElse(a.executionServer, 0)
    val pb = priority.getOrElse(b.executionServer, 0)
    if (pa > pb) a else if (pb > pa) b
    else if (a.tsMs != b.tsMs) { if (a.tsMs < b.tsMs) a else b }
    else if (a.requestId <= b.requestId) a else b
  }

  /** Pure per-key transition: merge new logs, emit windows closed at wm. */
  def advance(st: State, events: Seq[DeliveryLogLite], watermarkMs: Long,
      windowMs: Long): (Seq[DeliveryLogLite], State) = {
    var m = st.byClientRequest
    events.foreach { e =>
      m.get(e.clientRequestId) match {
        case Some(p) => m += (e.clientRequestId ->
          p.copy(best = better(p.best, e), windowOpenTs = math.min(p.windowOpenTs, e.tsMs)))
        case None => m += (e.clientRequestId -> Pending(e, e.tsMs))
      }
    }
    val (closed, open) = m.partition { case (_, p) => p.windowOpenTs + windowMs <= watermarkMs }
    (closed.values.map(_.best).toSeq.sortBy(_.tsMs), State(open))
  }

  def combineStream(logs: Dataset[DeliveryLogLite], watermarkDelay: String,
      windowMs: Long)(implicit spark: SparkSession): Dataset[DeliveryLogLite] = {
    import spark.implicits._
    val keyed = logs
      .withColumn("eventTime", timestamp_millis(col("tsMs")))
      .withWatermark("eventTime", watermarkDelay)
      .as[DeliveryLogLite]
      .groupByKey(e => (e.platformId, e.logUserId))
    KeyedTransition.flatMapGroups(keyed, State(Map.empty))(
      _.byClientRequest.isEmpty, (_, st) => st.byClientRequest.values
        .map(_.windowOpenTs + windowMs).minOption) {
      (_, rows, st, wm) => advance(st, rows, wm, windowMs)
    }
  }

  /** Batch form: merge per (key, clientRequestId) in one pass. */
  def combineBatch(logs: Dataset[DeliveryLogLite])(
      implicit spark: SparkSession): Dataset[DeliveryLogLite] = {
    import spark.implicits._
    logs.groupByKey(e => (e.platformId, e.logUserId, e.clientRequestId))
      .mapGroups { (_, it) => it.reduce(better) }
  }
}
