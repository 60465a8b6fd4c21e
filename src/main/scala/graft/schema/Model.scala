package graft.schema

// Reference-shaped event model (SURVEY §1, FIXTURES.md), narrowed to the
// fields the join/aggregation chain exercises. Timestamps are epoch millis
// (the reference's data-plane convention). The join sides below carry the
// reference's TinyEvent skeleton (P:job/join/FlatOutputJob.java:756-767):
// only ids + event time cross the stateful operators; full payloads are
// re-attached afterwards (J6) — the pattern that keeps 100 TB of state out
// of the join.

/** One side of an inferred-reference join: `id` is this event's pk within
  * the join, `parentId` the (possibly absent = "") foreign key to the LHS. */
case class JoinSideEvent(
    platformId: Long,
    logUserId: String,
    side: Int, // 0 = LHS (parent), 1 = RHS (child)
    id: String,
    parentId: String,
    tsMs: Long)

/** One side of a *scoped* inferred-reference join (the reference's full
  * BaseInferred/ContentId model, P:common/functions/inferred/
  * BaseInferred.java:335-559, ContentId.java:64-95).
  *
  *  - LHS (side 0): `id` is the primary key (FIFO-deduped); `scopes` are the
  *    ancestor scope keys this event registers under (requestId, viewId,
  *    contentId, logUserId, ... — blanks skipped).
  *  - RHS (side 1): `parentId` is the exact FK ("" = absent); `scopes` are
  *    the ORDERED fallback scope keys tried at inference time — the first
  *    scope holding a valid candidate wins (BaseInferred.java:524-547).
  *  - `contentIds`: when the RHS carries content ids, scope candidates must
  *    share at least one (the ContentId filter). LHS content ids ride along
  *    for that check. */
case class ScopedEvent(
    platformId: Long,
    logUserId: String,
    side: Int,
    id: String,
    parentId: String,
    tsMs: Long,
    scopes: Seq[String] = Nil,
    contentIds: Seq[String] = Nil)

/** Output of an inferred-reference join. matchType: exact | inferred |
  * outer (right-outer emission with empty left) | dropped (side-output
  * channel — reference emits these to etl_side/, SURVEY K6). `leftScopes`
  * = the matched LHS's scopes in order (empty when none matched): the
  * TinyEvent merge, from which a later stage's LHS reads its ids. */
case class JoinedPair(
    platformId: Long,
    logUserId: String,
    leftId: String,
    rightId: String,
    leftTs: Long,
    rightTs: Long,
    matchType: String,
    leftScopes: Seq[String] = Nil)

/** DeliveryLog essentials for CombineDeliveryLog (J5): API- and SDK-produced
  * logs sharing clientRequestId merge within a short window, preferring the
  * higher-priority execution server. */
case class DeliveryLogLite(
    platformId: Long,
    logUserId: String,
    clientRequestId: String,
    requestId: String,
    executionServer: String, // "API" | "SDK"
    tsMs: Long)

/** Sliding-counter emission (reference WindowAggResult,
  * P:common/counter/WindowAggResult.java:9-50). */
case class WindowAggResult(
    key: String,
    windowStartMs: Long,
    windowSizeMs: Long,
    count: Long)
