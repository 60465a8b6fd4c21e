package graft.agg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Counter key families, feature-id packing, and Redis command encoding —
  * the CounterJob output surface (SURVEY A6, K3).
  *
  * Reference shape: counts along key dimensions (global/content/logUser/
  * user/query × event type × window) become HSET commands on a key-value
  * feature store, with the hash field a packed feature id
  * (P:job/counter/CounterKeys.java:41-545, P:common/counter/FeatureId
  * .java:14-100, P:common/functions/sink/RedisSink.java:27,44-106 — tuple
  * keys joined with ASCII 0x1f). The packing layout here is this engine's
  * own (semantic, not byte, parity with the reference).
  */
object CounterFeatures {

  /** Aggregate metric being counted. */
  object AggMetric {
    val CountImpression = 1L
    val CountNavigate = 2L
    val CountPurchase = 3L
    val CountAddToCart = 4L
    val CountCheckout = 8L
  }

  /** Window the count covers. */
  object CountWindow {
    val Hour = 1L
    val Day = 2L
    val Day7 = 3L
    val Day30 = 4L
    val Day90 = 5L
    val None = 7L
  }

  /** Which key family the count is keyed by. Mirrors the reference's
    * CountType vocabulary (P:common/counter/FeatureId.java:14-60): one
    * type per family, with the user/logUser split and the last-seen
    * timestamp ("hours ago") vs 90-day-count split carried in the type,
    * not the key. ItemDevice is shared by the global- and content-device
    * families (the key disambiguates), as in the reference. */
  object CountType {
    val Global = 1L
    val Content = 2L
    val LogUser = 3L
    val User = 4L
    val Query = 5L
    val ContentQuery = 6L
    val ItemDevice = 7L
    val UserItemCount = 9L
    val UserItemHoursAgo = 10L
    val LogUserItemCount = 11L
    val LogUserItemHoursAgo = 12L
    val UserQueryCount = 13L
    val UserQueryHoursAgo = 14L
    val LogUserQueryCount = 15L
    val LogUserQueryHoursAgo = 16L
  }

  /** featureId = countType<<24 | aggMetric<<8 | window. */
  def featureId(countType: Long, aggMetric: Long, window: Long): Long =
    (countType << 24) | (aggMetric << 8) | window

  def featureIdCol(countType: Column, aggMetric: Column, window: Column): Column =
    shiftleft(countType, 24).bitwiseOR(shiftleft(aggMetric, 8)).bitwiseOR(window)

  /** Redis tuple separator (reference RedisSink.java:27). */
  val Sep = "\u001f"

  /** Key-segment type separator + markers (reference
    * P:common/counter/Constants.java:4-7 -- ASCII 0x1d group separator;
    * "<GS>u" tags a user segment, "<GS>q" a query segment). */
  val TypeSep = "\u001d"
  val UserType: String = TypeSep + "u"
  val QueryType: String = TypeSep + "q"

  /** Unsigned lower-case hex of a long, Java Long.toHexString parity
    * (reference keys carry query hashes hex-encoded,
    * P:common/counter/LastUserQuery.java:76-80). */
  def hexLong(c: Column): Column = lower(hex(c))

  def redisKey(parts: Column*): Column = concat_ws(Sep, parts: _*)

  /** Encode a count row into an HSET command frame:
    * (cmd, key, field, value, ttlSec). */
  def hsetCommand(key: Column, field: Column, value: Column, ttlSec: Long): DataFrame => DataFrame =
    hsetCommandC(key, field, value, lit(ttlSec))

  /** As [[hsetCommand]] with a per-row TTL column (multi-window rows). */
  def hsetCommandC(key: Column, field: Column, value: Column, ttlSec: Column): DataFrame => DataFrame =
    df => df.select(
      lit("HSET").as("cmd"), key.as("key"), field.cast("string").as("field"),
      value.cast("string").as("value"), ttlSec.cast("long").as("ttlSec"))
}
