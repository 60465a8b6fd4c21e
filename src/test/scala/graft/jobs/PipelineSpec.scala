package graft.jobs

import graft.SparkSpec
import graft.sources.{FakeLogGenerator, LogRequestSplit, Validation}
import org.apache.spark.sql.functions._

/** End-to-end job tests over the deterministic generator — the reference's
  * MiniCluster-tests-in-batch-mode approach (SURVEY §5). */
class PipelineSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val s = spark

  private lazy val opts = FakeLogGenerator.Options()
  private lazy val envelopes = FakeLogGenerator.generate(opts).toDS().toDF()

  test("generator is deterministic") {
    val a = FakeLogGenerator.generate(opts)
    val b = FakeLogGenerator.generate(opts)
    assert(a == b)
    assert(a.size == opts.users * opts.viewsPerUser)
  }

  test("splitter explodes children with push-down and lowercases logUserId") {
    val views = LogRequestSplit.views(envelopes).collect()
    assert(views.length == opts.users * opts.viewsPerUser)
    assert(views.forall(_.platformId == opts.platformId))
    assert(views.forall(v => v.userInfo.logUserId.startsWith("lu-")))
    val imps = LogRequestSplit.impressions(envelopes).collect()
    assert(imps.length == opts.users * opts.viewsPerUser *
      opts.requestsPerView * opts.insertionsPerRequest)
  }

  test("validation routes bad records to the error side channel") {
    import graft.schema._
    val acts = Seq(
      Action(1L, UserInfo("u", "lu"), Timing(1, 2, 3), "a1", "imp1"),
      Action(1L, UserInfo("u", ""), Timing(1, 2, 3), "a2", "imp1"), // no logUserId
      Action(1L, UserInfo("u", "lu"), Timing(1, 2, 3), "a3") // no join ref
    ).toDS().toDF()
    val ok = Validation.valid(acts, Validation.actionRules).collect()
    val bad = Validation.errors(acts, Validation.actionRules)
      .select("actionId", "error").as[(String, String)].collect().toSet
    assert(ok.map(_.getAs[String]("actionId")).toSeq == Seq("a1"))
    assert(bad.contains(("a2", "missing_log_user_id")))
    assert(bad.contains(("a3", "missing_join_ref")))
  }

  test("clearUserId strips PII but keeps logUserId") {
    val cleaned = Validation.clearUserId(LogRequestSplit.views(envelopes).toDF())
      .select("userInfo.userId", "userInfo.logUserId").distinct().collect()
    assert(cleaned.forall(_.getString(0) == ""))
    assert(cleaned.forall(_.getString(1).nonEmpty))
  }

  test("RawOutputJob dedupes per pk and emits LogUserUser") {
    val doubled = envelopes.unionByName(envelopes) // duplicate every record
    val out = RawOutputJob.run(doubled)
    assert(out.views.count() == opts.users * opts.viewsPerUser)
    assert(out.impressions.count() ==
      opts.users * opts.viewsPerUser * opts.requestsPerView * opts.insertionsPerRequest)
    val luu = out.logUserUser.collect()
    assert(luu.length == opts.users)
    assert(luu.forall(r => r.getAs[String]("userId").nonEmpty))
  }

  test("FlatOutputJob joins every impression (exact or inferred)") {
    val out = FlatOutputJob.run(envelopes)
    val totalImps = opts.users * opts.viewsPerUser *
      opts.requestsPerView * opts.insertionsPerRequest
    val joined = out.joinedImpressions
    val byType = joined.groupBy("matchType").count()
      .as[(String, Long)].collect().toMap
    // impressions with an FK match exactly; FK-less ones infer via time
    assert(byType.getOrElse("exact", 0L) > 0)
    assert(byType.getOrElse("inferred", 0L) > 0)
    assert(byType.values.sum + out.droppedImpressions.count() == totalImps)
    // every joined action keeps full action details (J6 merge)
    val acts = out.joinedActions
    assert(acts.where(col("actionType").isNull).count() == 0)
    assert(acts.count() + out.droppedActions.count() ==
      totalImps * opts.actionsPerImpression)
  }

  test("pre-join filters drop bots and non-joinable traffic to side channels") {
    val filteredOpts = FakeLogGenerator.Options(replayTrafficEvery = 3,
      botViewEvery = 2, matrixEvery = 4)
    val env = FakeLogGenerator.generate(filteredOpts).toDS().toDF()
    val out = FlatOutputJob.run(env)
    val dlogReasons = out.droppedDeliveryLogs.select("reason")
      .as[String].collect().groupBy(identity).view.mapValues(_.length).toMap
    assert(dlogReasons.getOrElse("should_not_join", 0) > 0)
    assert(out.droppedViews.count() > 0)
    // dropped delivery logs' impressions can no longer exact-join
    assert(out.droppedImpressions.count() > 0)
  }

  test("cart actions split per item; the view arm rides the chain") {
    import graft.schema._
    val base = FakeLogGenerator.generate(FakeLogGenerator.Options(users = 1))
    // add a 2-item cart purchase referencing an existing impression
    val firstImp = base.head.impressions.head
    val cartAct = Action(1L, firstImp.userInfo, Timing(eventApiTimestamp =
      firstImp.timing.eventApiTimestamp + 10L),
      "a-cart", firstImp.impressionId, firstImp.insertionId, firstImp.contentId,
      firstImp.viewId, firstImp.requestId, ActionType.Purchase,
      Seq(CartContent("c-x", 1L, 100L), CartContent("c-y", 2L, 200L)))
    val env = (base.head.copy(actions = base.head.actions :+ cartAct) +: base.tail)
      .toDS().toDF()
    val out = FlatOutputJob.run(env)
    val items = out.joinedActions.where(col("actionId") === "a-cart")
      .select("itemContentId").as[String].collect().sorted
    assert(items.toSeq == Seq("c-x", "c-y"))
    // chainViewId present on joined impressions (view × insertion arm)
    val withView = out.joinedImpressions.where(col("chainViewId") =!= "")
    assert(withView.count() > 0)
  }

  test("other-content dims attribute child-content actions to parent impressions") {
    import graft.schema._
    val t0 = 1700000000000L
    val ui = UserInfo("u-1", "lu-1")
    val view = View(1L, ui, Timing(eventApiTimestamp = t0), "v-1", "view", "",
      Device(Browser("Mozilla/5.0")))
    val ins = ResponseInsertion("i-1", "store-1", 0L)
    val dlog = DeliveryLog(1L, ui, Timing(eventApiTimestamp = t0 + 1000L),
      DeliveryRequest("r-1", "cr-1", "v-1", "q",
        Device(Browser("Mozilla/5.0")), ClientInfo("PRODUCTION"), Nil, Nil),
      Seq(ins))
    val imp = Impression(1L, ui, Timing(eventApiTimestamp = t0 + 2000L),
      "imp-1", "i-1", "store-1", "v-1", "r-1")
    // action on the CHILD item, with NO foreign keys at all
    val act = Action(1L, ui, Timing(eventApiTimestamp = t0 + 3000L),
      "a-item", "", "", "item-1", "", "")
    val env = Seq(LogRequest(1L, ui, Timing(eventApiTimestamp = t0),
      Nil, Seq(view), Seq(dlog), Seq(imp), Seq(act))).toDS().toDF()

    // without content dims: no shared scope or content → dropped
    val bare = FlatOutputJob.run(env)
    assert(bare.droppedActions.where(col("rightId").startsWith("a-item")).count() == 1)

    // with the item → store rollup: joins via the parent-content scope
    val dims = Seq(("item-1", Seq("store-1"))).toDF("contentId", "otherIds")
    val out = FlatOutputJob.run(env, contentOtherIds = Some(dims))
    val joined = out.joinedActions.where(col("actionId") === "a-item")
      .select("impressionId", "matchType").as[(String, String)].collect()
    assert(joined.toSeq == Seq(("imp-1", "inferred")))
  }

  test("golden chain invariant: 700 raw impressions -> deterministic flat count") {
    // The reference's fake-data pipeline emits ~681 flat impressions from
    // 700 raw ones (P:pipeline/README.md:92-94) — losses come from
    // non-joinable traffic and inference misses. Same invariant here with
    // this generator's knobs; the exact count is pinned for regression.
    val goldenOpts = FakeLogGenerator.Options(users = 7, viewsPerUser = 2,
      requestsPerView = 2, insertionsPerRequest = 25,
      missingFkEvery = 5, replayTrafficEvery = 7, botViewEvery = 5)
    val env = FakeLogGenerator.generate(goldenOpts).toDS().toDF()
    assert(LogRequestSplit.impressions(env).count() == 700L)
    val out = FlatOutputJob.run(env)
    val joined = out.joinedImpressions.count()
    val dropped = out.droppedImpressions.count()
    assert(joined + dropped == 700L)
    assert(joined < 700L && joined > 500L)
    val expected = 700L - dropped
    assert(joined == expected)
    // pin the deterministic value (recompute if generator knobs change)
    assert(joined == GoldenFlatImpressions, s"joined=$joined")
  }

  private val GoldenFlatImpressions = 620L

  test("CounterJob emits HSET command frames with packed feature ids") {
    import graft.agg.CounterFeatures.{QueryType, Sep}
    import graft.functions.{GraftFunctions, UserAgents}
    GraftFunctions.register(spark)
    val chrome = "Mozilla/5.0 (Windows NT 10.0) Chrome/120.0 Safari/537.36"
    val iphone = "Mozilla/5.0 (iPhone; CPU iPhone OS 17_0) Mobile Safari/604.1"
    val hour = 3600000L
    // "shoes" reaches minQueryCount = 3 (the query is lower-cased before
    // hashing); "socks" stays below it
    val events = Seq(
      ("lu1", "u1", "c1", 0, 1000L, Some("Shoes"), Some(chrome), None),
      ("lu1", "u1", "c2", 2, 2000L, Some("shoes"), Some(chrome), None),
      ("lu2", "u2", "c1", 3, hour + 5L, Some("SHOES"), Some(iphone), Some(2L)),
      ("lu2", "u2", "c1", 0, 4000L, Some("socks"), Some(iphone), None),
      ("lu3", "u3", "c3", 4, 5000L, None, None, None))
      .toDF("logUserId", "userId", "contentId", "actionType", "tsMs",
        "query", "userAgent", "quantity")
      .select(lit(1L).as("platformId"), col("logUserId"), col("userId"),
        col("contentId"), col("actionType"), col("tsMs"),
        CounterJob.queryHashCol(col("query")).as("queryHash"),
        UserAgents.osFamily(col("userAgent")).as("osFamily"),
        UserAgents.agentFamily(col("userAgent")).as("agentFamily"),
        col("quantity"))
    val rows = CounterJob.run(events, minQueryCount = 3L, nowMs = hour + 5L)
      .collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[String]("cmd") == "HSET"))
    // field = countType<<24 | metric<<8 | window; the device families
    // prefix it with the os and agent families
    val cells = rows.map(r => (r.getAs[String]("key").split(Sep),
      r.getAs[String]("field").split(Sep).last.toLong))
    val types = cells.map(_._2 >> 24).toSet
    assert(types == Set(3L, 4L, 5L, 6L, 7L) ++ (9L to 16L))
    // each windowed family carries the four standard windows (the global
    // and content device families share type 7; the key tells them apart)
    val windowed: Map[String, (Array[String], Long) => Boolean] = Map(
      "global-device" -> ((k, t) => t == 7 && k.length == 2),
      "content-device" -> ((k, t) => t == 7 && k.length == 3),
      "logUser" -> ((_, t) => t == 3), "user" -> ((_, t) => t == 4),
      "query" -> ((_, t) => t == 5), "content-query" -> ((_, t) => t == 6))
    val tags = CounterJob.StandardWindows.map(_.tag).toSet
    windowed.foreach { case (family, in) =>
      assert(cells.collect { case (k, f) if in(k, f >> 24) => f & 0xff }.toSet == tags,
        family)
    }
    // only the top query reaches the query and last-query families
    val Seq(hot, cold) = Seq("shoes", "socks").toDF("q")
      .select(lower(hex(CounterJob.queryHashCol(col("q"))))).as[String].collect().toSeq
    def queriesOf(k: Array[String]) =
      k.sliding(2).collect { case Array(QueryType, h) => h }.toSet
    val queryCells = cells.filter(c => Set(5L, 6L, 13L, 14L, 15L, 16L)(c._2 >> 24))
    assert(queryCells.nonEmpty)
    assert(queryCells.forall(c => queriesOf(c._1) == Set(hot)))
    assert(!cells.exists(c => queriesOf(c._1).contains(cold)))
  }

  test("ContentMetricsJob rolls up metric columns per content and hour") {
    import graft.schema.{ActionType, CartContent}
    // the generator's navigates and purchases, plus a two-item add-to-cart
    // and a checkout with no cart
    val gen = FakeLogGenerator.generate(opts)
    val a0 = gen.head.actions.head
    val env = (gen.head.copy(actions = gen.head.actions ++ Seq(
        a0.copy(actionId = "a-add2", actionType = ActionType.AddToCart,
          cart = Seq(CartContent("c-1", 1L, 5L), CartContent("c-2", 1L, 5L))),
        a0.copy(actionId = "a-checkout", actionType = ActionType.Checkout))) +:
      gen.tail).toDS().toDF()
    val hourly = ContentMetricsJob.hourly(env)
    val total = hourly.agg(
      sum("view_count"), sum("impression_count"),
      sum("purchase_count"), sum("gmv_usd_micros"))
      .as[(Long, Long, Long, Long)].head()
    assert(total._1 == opts.users * opts.viewsPerUser)
    assert(total._2 == opts.users * opts.viewsPerUser *
      opts.requestsPerView * opts.insertionsPerRequest)
    assert(total._3 > 0) // cart purchases exist
    assert(total._4 == total._3 * 2L * 1990000L) // qty 2 × unit price
    // one per cart item, or one for an action with no cart
    val acts = LogRequestSplit.actions(env).collect()
    def expected(t: Int): Long =
      acts.filter(_.actionType == t).map(_.cart.size max 1).sum.toLong
    val counts = hourly.agg(sum("navigate_count"), sum("add_to_cart_count"),
      sum("checkout_count")).as[(Long, Long, Long)].head()
    assert(counts == ((expected(ActionType.Navigate),
      expected(ActionType.AddToCart), expected(ActionType.Checkout))))
    assert(counts._1 > 0 && counts._2 == 2 && counts._3 == 1)
    assert(hourly.columns.contains("dt") && hourly.columns.contains("hour"))
  }
}
