package graft.streaming

/** Watermark-delay arithmetic (SURVEY §2.10 / §7.4 risk #1).
  *
  * Flink lets each buffering operator hold its output watermark back by its
  * own max delay (reference KeyedProcessOperatorWithWatermarkDelay,
  * P:common/flink/operator/KeyedProcessOperatorWithWatermarkDelay.java;
  * rationale
  * P:README.md:33-38). Spark has one watermark per input, so each stateful
  * stage's `withWatermark` delay must absorb the source out-of-orderness
  * PLUS every upstream stage's buffering — the same cleanup-delay cascade
  * the reference hand-computes (P:job/join/FlatOutputJob.java:808-882).
  *
  * Usage: thread a Builder through the job wiring; each stage adds its
  * buffering window and reads the accumulated delay for its watermark.
  */
object WatermarkDelays {

  case class Builder(sourceOutOfOrderMs: Long, upstreamBufferMs: Long = 0L) {
    /** Delay the CURRENT stage must declare: everything buffered above it. */
    def currentDelayMs: Long = sourceOutOfOrderMs + upstreamBufferMs

    /** Register this stage's own buffering for downstream stages. */
    def thenBuffered(stageWindowMs: Long): Builder =
      copy(upstreamBufferMs = upstreamBufferMs + stageWindowMs)
  }

  /** The reference join chain's cascade with its default windows
    * (BASELINE.md): combine 2s → view→ins 10m → ins→imp 30m → imp→act 1d.
    * Returns the per-stage watermark delays the Spark wiring must declare. */
  def referenceChain(sourceOutOfOrderMs: Long = 1000L): Map[String, Long] = {
    val b0 = Builder(sourceOutOfOrderMs)
    val b1 = b0.thenBuffered(2 * 1000L) // CombineDeliveryLog window
    val b2 = b1.thenBuffered(10 * 60 * 1000L) // view→insertion
    val b3 = b2.thenBuffered(30 * 60 * 1000L) // insertion→impression
    Map(
      "combineDeliveryLog" -> b0.currentDelayMs,
      "viewInsertionJoin" -> b1.currentDelayMs,
      "insertionImpressionJoin" -> b2.currentDelayMs,
      "impressionActionJoin" -> b3.currentDelayMs)
  }
}
