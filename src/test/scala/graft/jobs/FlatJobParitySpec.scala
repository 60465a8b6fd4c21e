package graft.jobs

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.jobs.StreamingJobsSpec.publish
import graft.schema._
import graft.sources.FakeLogGenerator
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The Flat Output Job's two forms join alike. One fixture — generator
  * traffic with REPLAY requests and bot views, plus a two-item cart, an
  * impression without a content id, one without an FK and two actions
  * later than the stage-3 window — runs through the batch job
  * (`FlatOutputJob.run`, every window = the stream's `maxTimeMs`) and
  * through the streaming flagship (`StreamingJobs.flagshipOutput` into
  * dt/hour parquet files, and its join chain `flagshipChain`). Both give
  * the same impression pairs, action pairs and FlatResponseInsertion
  * sessions.
  *
  * One exception, pinned by the second case: an FK-carrying action in a
  * file published after the watermark passed its impression's window
  * joins in batch (the exact-FK join has no window) but is dropped by the
  * stream, whose join state no longer holds the impression. */
class FlatJobParitySpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val s = spark

  private val W = 5L * 60 * 1000
  private val Ooo = 1000L
  // the watermark-pushing files ride their own platform, so they share no
  // join or session key with the fixture
  private val Sentinel = 9L

  // (logUserId, insertionId, start, nImps, nActs, impIds, actIds)
  private type Sess = (String, String, Long, Long, Long, String, String)

  private def fixture: Seq[LogRequest] = {
    val gen = FakeLogGenerator.generate(FakeLogGenerator.Options(users = 8,
      viewsPerUser = 3, replayTrafficEvery = 4, botViewEvery = 5))
    val env = gen.head
    val Seq(imp0, imp1, imp2) = env.impressions.take(3)
    def at(imp: Impression, dt: Long) =
      Timing(eventApiTimestamp = imp.timing.eventApiTimestamp + dt)
    def act(imp: Impression, dt: Long, id: String, fk: String) =
      Action(1L, imp.userInfo, at(imp, dt), id, fk, "", imp.contentId,
        imp.viewId, imp.requestId, ActionType.Navigate)
    env.copy(
      impressions = env.impressions ++ Seq(
        // no FK and no content id: inferred through its request, with no
        // content filter; no FK: inferred, filtered on its content
        Impression(1L, imp1.userInfo, at(imp1, 5L), "imp-no-content", "", "",
          imp1.viewId, imp1.requestId),
        Impression(1L, imp2.userInfo, at(imp2, 7L), "imp-no-fk", "",
          env.deliveryLogs.head.insertions(3).contentId, imp2.viewId,
          imp2.requestId)),
      actions = env.actions ++ Seq(
        // two cart items on one action, both exact on imp0
        act(imp0, 10L, "a-cart2", imp0.impressionId).copy(
          actionType = ActionType.Purchase,
          cart = Seq(CartContent(imp0.contentId, 1L, 100L),
            CartContent("c-other", 2L, 200L))),
        // twice the stage-3 window after imp2: the FK action still joins
        // exactly (the window bounds inference), the FK-less one finds no
        // candidate in its window
        act(imp2, 2 * W, "a-late-fk", imp2.impressionId),
        act(imp2, 2 * W, "a-late", ""))) +: gen.tail
  }

  private def sessions(df: DataFrame): Set[Sess] = df.where(col("platformId") =!= Sentinel)
    .select("logUserId", "insertionId", "sessionStartMs", "nImps", "nActs",
      "impIds", "actIds").as[Sess].collect().toSet

  /** Start both streaming forms over a new file-source dir: the flagship
    * into dt/hour files under `out`, its join chain into the memory table
    * `chainTable`. `env` is every fixture envelope (the detail frames are
    * batch dimensions). */
  private def startForms(env: DataFrame, chainTable: String) = {
    val tmp = Files.createTempDirectory("graft_parity").toString
    Files.createDirectories(Paths.get(s"$tmp/in"))
    val stream = StreamingJobs.envelopeStream(spark, s"$tmp/in", env.schema)
    val Seq(insertionMeta, impDetails, actDetails) = FlatOutputJob.detailFrames(env)
    (tmp, Seq(
      StreamingJobs.flagshipOutput(stream, insertionMeta, impDetails,
        actDetails, s"$tmp/out", s"$tmp/ckpt", maxTimeMs = W, oooMs = Ooo),
      StreamingJobs.flagshipChain(stream, W, Ooo, "1 minute")
        .writeStream.format("memory").queryName(chainTable)
        .option("checkpointLocation", s"$tmp/ckpt_chain").start()))
  }

  /** Publish one sentinel file per day in `days`: each moves every
    * source's watermark a day on; five chained stateful stages need
    * several moves to drain. */
  private def sentinels(tmp: String, queries: Seq[StreamingQuery],
      days: Range): Unit =
    for (r <- days) {
      publish(FakeLogGenerator.generate(FakeLogGenerator.Options(
          platformId = Sentinel, users = 1, startMs = 1700000000000L + r * 86400000L))
        .toDS().toDF(), s"$tmp/in")
      queries.foreach(_.processAllAvailable())
    }

  test("batch and streaming forms give the same pairs and sessions") {
    val env = fixture.toDS().toDF()
    val batch = FlatOutputJob.run(env, viewInsWindowMs = W, insImpWindowMs = W,
      impActWindowMs = W, outOfOrderMs = Ooo)

    val (tmp, queries) = startForms(env, "parity_chain")
    publish(env, s"$tmp/in")
    queries.foreach(_.processAllAvailable())
    sentinels(tmp, queries, 1 to 8)
    queries.foreach(_.stop())

    val chain = spark.table("parity_chain").where(col("platformId") =!= Sentinel)
    val impPairs = chain.where(col("kind").isin("impression", "redundant"))
      .select("logUserId", "impressionId", "insertionId")
      .as[(String, String, String)].collect().toSet
    assert(impPairs == batch.joinedImpressions
      .select("userInfo.logUserId", "impressionId", "insertionId")
      .as[(String, String, String)].collect().toSet)
    val actPairs = chain.where(col("kind").isin("action", "dangling"))
      .select("logUserId", "actionId", "contentId", "insertionId")
      .as[(String, String, String, String)].collect().toSet
    assert(actPairs == batch.joinedActions
      .select("userInfo.logUserId", "actionId", "itemContentId", "insertionId")
      .as[(String, String, String, String)].collect().toSet)
    val files = spark.read.parquet(s"$tmp/out/flat_response_insertion")
    val streamed = sessions(files)
    assert(streamed == sessions(batch.flatResponseInsertions))

    // the fixture's cases are all in there, and the sessions landed in
    // dt/hour-partitioned files with both cogroup sides
    assert(batch.droppedDeliveryLogs.where(col("reason") === "should_not_join")
      .count() > 0)
    assert(batch.droppedViews.count() > 0)
    assert(actPairs.collect { case (_, "a-cart2", c, _) => c } ==
      Set("c-other", fixture.head.impressions.head.contentId))
    assert(Seq("imp-no-content", "imp-no-fk").forall(m => impPairs.exists(_._2 == m)))
    assert(actPairs.exists(_._2 == "a-late-fk") && !actPairs.exists(_._2 == "a-late"))
    assert(streamed.exists(_._7.split(",").contains("a-cart2")))
    assert(streamed.exists(_._4 > 0) && streamed.exists(_._5 > 0))
    assert(files.columns.contains("dt") && files.columns.contains("hour"))
  }

  test("an FK action published after the watermark passed its impression's window") {
    val gen = FakeLogGenerator.generate(FakeLogGenerator.Options(users = 2))
    val imp = gen.head.impressions.head
    val at = Timing(eventApiTimestamp = imp.timing.eventApiTimestamp + 10L)
    val early = gen.toDS().toDF()
    val late = Seq(LogRequest(1L, imp.userInfo, at, actions = Seq(
      Action(1L, imp.userInfo, at, "a-late-file", imp.impressionId, "",
        imp.contentId, imp.viewId, imp.requestId, ActionType.Navigate))))
      .toDS().toDF()
    val env = early.unionByName(late)
    val batch = FlatOutputJob.run(env, viewInsWindowMs = W, insImpWindowMs = W,
      impActWindowMs = W, outOfOrderMs = Ooo)

    val (tmp, queries) = startForms(env, "parity_late_chain")
    publish(early, s"$tmp/in")
    queries.foreach(_.processAllAvailable())
    sentinels(tmp, queries, 1 to 2)
    publish(late, s"$tmp/in")
    queries.foreach(_.processAllAvailable())
    sentinels(tmp, queries, 3 to 8)
    queries.foreach(_.stop())

    // batch: the exact-FK join has no window, so the action joins and
    // lands in its impression's session
    val lateId = "a-late-file"
    assert(batch.joinedActions.where(col("actionId") === lateId).count() == 1)
    // stream: the impression left the join state when the watermark
    // passed its window, so the action pairs with nothing, is not emitted
    // as dangling, and its session is written without it
    val chain = spark.table("parity_late_chain").where(col("platformId") =!= Sentinel)
    assert(chain.where(col("actionId") === lateId).isEmpty)
    assert(chain.where(col("kind").isin("impression", "redundant"))
      .select("impressionId").as[String].collect().toSet ==
      batch.joinedImpressions.select("impressionId").as[String].collect().toSet)
    val withoutLate = sessions(batch.flatResponseInsertions).map { s =>
      val acts = s._7.split(",").filter(_.nonEmpty)
      if (acts.contains(lateId))
        s.copy(_5 = s._5 - 1, _7 = acts.filterNot(_ == lateId).mkString(","))
      else s
    }
    assert(withoutLate != sessions(batch.flatResponseInsertions))
    assert(sessions(spark.read.parquet(s"$tmp/out/flat_response_insertion")) ==
      withoutLate)
  }
}
