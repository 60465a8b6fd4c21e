package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming as-of (versioned temporal) join — reference
  * TemporalJoinFunction (P:common/functions/TemporalJoinFunction
  * .java:32-207): enrich a fact stream with the latest dimension version
  * whose timestamp <= the fact's, per key; facts that arrive before their
  * dimension wait until the watermark passes (left-outer emits null).
  *
  * The reference leans on RocksDB's ordered MapState; Spark's state store
  * isn't key-ordered, so each key holds a sorted version list, pruned to
  * the latest version older than the watermark (earlier versions can never
  * win again) — the same retention rule the reference implements.
  * Batch form: operators.AsOfJoin (single window pass).
  */
object TemporalJoin {

  case class Fact(key: String, factId: String, tsMs: Long)
  case class DimVersion(key: String, value: String, tsMs: Long)
  case class In(key: String, isDim: Boolean, id: String, value: String, tsMs: Long)
  case class Out(key: String, factId: String, factTs: Long,
      value: String, dimTs: Long) // value = null when no version <= factTs

  case class State(versions: List[(Long, String)], // sorted asc by ts
      pendingFacts: List[(String, Long)])

  /** Ordered insert with duplicate suppression — the retained list stays
    * sorted across batches, so ingesting k versions costs O(k·n) walks
    * instead of re-sorting the whole watermark-pruned list every
    * micro-batch. Among equal-ts versions the later arrival sorts last
    * (and therefore wins the as-of pick). */
  private def insertVersion(lst: List[(Long, String)],
      v: (Long, String)): List[(Long, String)] = {
    val (before, after) = lst.span(_._1 <= v._1)
    // a duplicate necessarily has ts == v.ts, so it can only live in
    // `before`'s equal-ts suffix — but other-valued versions at the same
    // ts may sit between it and the insert point (at-least-once sources
    // re-deliver in any order), so check the whole run, not just the
    // adjacent element: a missed duplicate re-inserted after the run
    // would flip the as-of winner
    if (before.reverseIterator.takeWhile(_._1 == v._1).contains(v)) lst
    else before ::: v :: after
  }

  def advance(key: String, events: Seq[In], st: State, watermarkMs: Long):
      (Seq[Out], State) = {
    var versions = st.versions
    events.foreach { e =>
      if (e.isDim) versions = insertVersion(versions, (e.tsMs, e.value))
    }
    var pending = st.pendingFacts ++
      events.filterNot(_.isDim).map(e => (e.id, e.tsMs))
    val out = Seq.newBuilder[Out]
    // resolve facts the watermark has passed: all dim versions <= factTs
    // have arrived (bounded out-of-orderness)
    pending = pending.filter { case (fid, fts) =>
      if (fts <= watermarkMs || watermarkMs == Long.MaxValue) {
        versions.takeWhile(_._1 <= fts).lastOption match {
          case Some((vts, v)) => out += Out(key, fid, fts, v, vts)
          case None => out += Out(key, fid, fts, null, -1L)
        }
        false
      } else true
    }
    // prune: keep the latest version at-or-before the watermark plus all
    // newer ones — older versions can never be the as-of answer again
    if (watermarkMs != Long.MaxValue && versions.nonEmpty) {
      val cut = versions.takeWhile(_._1 <= watermarkMs)
      versions = (if (cut.nonEmpty) List(cut.last) else Nil) :::
        versions.drop(cut.length)
    }
    (out.result(), State(versions, pending))
  }

  def joinStream(facts: Dataset[Fact], dims: Dataset[DimVersion],
      watermarkDelay: String)(implicit spark: SparkSession): Dataset[Out] = {
    import spark.implicits._
    val tagged = facts.select(col("key"), lit(false).as("isDim"),
        col("factId").as("id"), lit(null).cast("string").as("value"), col("tsMs"))
      .unionByName(dims.select(col("key"), lit(true).as("isDim"),
        lit("").as("id"), col("value"), col("tsMs")))
      .withColumn("eventTime", timestamp_millis(col("tsMs")))
      .withWatermark("eventTime", watermarkDelay)
      .as[In]
    // a fact resolves once the watermark passes it; versions alone wait
    // for the key's next input
    KeyedTransition.flatMapGroups(tagged.groupByKey(_.key), State(Nil, Nil))(
      st => st.versions.isEmpty && st.pendingFacts.isEmpty,
      (_, st) => st.pendingFacts.map(_._2).minOption) {
      (key, rows, st, wm) => advance(key, rows, st, wm)
    }
  }
}
