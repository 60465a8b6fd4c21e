package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{MapState, OutputMode, TTLConfig,
  ValueState}

/** Streaming record-linkage cluster maintenance — the continuous form of
  * q347's entity consolidation: match links (scored record pairs above
  * threshold) arrive as a stream, and after every watermark-released
  * batch the monitor re-emits the CLUSTER-SIZE CENSUS (size →
  * n_clusters), so a golden-record dashboard tracks consolidation as
  * evidence accrues instead of waiting for the nightly batch CC.
  *
  * State: ONE union-find over record ids (parent + size maps, min-id
  * roots — the same canonical id [[graft.operators.Graph.alternatingComponents]]
  * converges to) keyed to a constant census key. That is a deliberate
  * bounded-state contract, not an oversight: linkage state is ENTITY
  * grain (records under management), never event grain — the same
  * budget the batch golden-record table carries — and `maxEntities`
  * enforces it loudly. Links buffer until the watermark passes and fold
  * in (tsMs, a, b) order (the [[WatermarkOrderedFold]] rule), so the emitted
  * trajectory is deterministic under any arrival order; the FINAL
  * census is order-free (union is commutative), which is what
  * LinkageClustersTwsSpec pins against the batch operator.
  *
  * Emission: after each drain, one [[Snap]] row per distinct cluster
  * size plus the singletons row is NOT emitted (unlinked records are
  * unknown to an edge stream — same as the batch gate, whose census
  * covers linked records only); rows share a `seq`, latest-seq wins
  * downstream (the [[ErasureTws]] serving convention). */
object LinkageClustersTws {

  case class Link(tsMs: Long, a: Long, b: Long)
  case class Snap(size: Long, nClusters: Long, nRecords: Long,
      nLinks: Long, seq: Long, emittedAt: java.sql.Timestamp)

  class Processor(maxEntities: Long)
      extends WatermarkOrderedFold[Link, Snap] {
    @transient private var parent: MapState[Long, Long] = _
    @transient private var nRec: ValueState[Long] = _
    @transient private var nLink: ValueState[Long] = _
    @transient private var seq: ValueState[Long] = _

    override protected def initState(): Unit = {
      parent = getHandle.getMapState[Long, Long]("parent",
        Encoders.scalaLong, Encoders.scalaLong, TTLConfig.NONE)
      nRec = getHandle.getValueState[Long]("nRec", Encoders.scalaLong,
        TTLConfig.NONE)
      nLink = getHandle.getValueState[Long]("nLink", Encoders.scalaLong,
        TTLConfig.NONE)
      seq = getHandle.getValueState[Long]("seq", Encoders.scalaLong,
        TTLConfig.NONE)
    }

    override protected def rowEncoder = Encoders.product[Link]
    override protected def eventTimeMs(l: Link): Long = l.tsMs

    private def root(x: Long): Long = {
      var r = x
      var p = Option(parent.getValue(r)).getOrElse(r)
      while (p != r) { r = p; p = Option(parent.getValue(r)).getOrElse(r) }
      // path compression: point the walked chain at the root
      var c = x
      while (c != r) {
        val nxt = Option(parent.getValue(c)).getOrElse(c)
        parent.updateValue(c, r)
        c = nxt
      }
      r
    }

    override protected def fold(key: String, due: Seq[Link],
        emittedAt: java.sql.Timestamp): Seq[Snap] = {
      var rec = if (nRec.exists()) nRec.get() else 0L
      var lk = if (nLink.exists()) nLink.get() else 0L
      due.sortBy(l => (l.tsMs, l.a, l.b)).foreach { l =>
        lk += 1
        Seq(l.a, l.b).foreach { x =>
          if (!parent.containsKey(x)) {
            require(rec < maxEntities,
              s"LinkageClustersTws: entity census exceeds $maxEntities " +
                "— the bounded-state contract is violated")
            parent.updateValue(x, x)
            rec += 1
          }
        }
        val (ra, rb) = (root(l.a), root(l.b))
        if (ra != rb) {
          // min-id root: the batch canonical-component convention
          if (ra < rb) parent.updateValue(rb, ra)
          else parent.updateValue(ra, rb)
        }
      }
      nRec.update(rec); nLink.update(lk)
      val n = (if (seq.exists()) seq.get() else 0L) + 1L
      seq.update(n)
      // cluster-size census: materialize the key set FIRST — root()
      // path-compresses (updates the map) and mutating state under a
      // live state-store iterator is undefined
      val keys = parent.keys().toArray
      val sizes = scala.collection.mutable.Map.empty[Long, Long]
      keys.foreach { k =>
        val r = root(k)
        sizes(r) = sizes.getOrElse(r, 0L) + 1L
      }
      val census = sizes.values.groupBy(identity).view
        .mapValues(_.size.toLong).toSeq.sortBy(_._1)
      census.map { case (sz, nc) => Snap(sz, nc, rec, lk, n, emittedAt) }
    }
  }

  def monitor(links: Dataset[Link], watermarkDelay: String,
      maxEntities: Long = 2000000L)(
      implicit spark: SparkSession): Dataset[Snap] = {
    import spark.implicits._
    links
      .withColumn("eventTime", timestamp_millis(col("tsMs")))
      .withWatermark("eventTime", watermarkDelay)
      .as[Link]
      .groupByKey(_ => "census")
      .transformWithState(new Processor(maxEntities),
        "emittedAt", OutputMode.Append())
  }
}
