package graft.jobs

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.jobs.StreamingJobsSpec.publish
import graft.schema._
import graft.sinks.Sinks
import graft.sources.FakeLogGenerator
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

/** The Content Metrics Job's two forms roll up alike: the hourly rows
  * `StreamingJobs.contentMetrics` writes equal `ContentMetricsJob.hourly`
  * on all seven metric columns, and a checkpoint of the earlier four-sum
  * stream is refused on restart. */
class ContentMetricsParitySpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val s = spark

  // the watermark-pushing file rides its own platform, so it shares no
  // rollup key with the fixture
  private val Sentinel = 9L

  /** Generator traffic (navigates and one-item purchases) plus an
    * add-to-cart, a checkout with no cart and a two-item purchase. */
  private def fixture: DataFrame = {
    val gen = FakeLogGenerator.generate(FakeLogGenerator.Options(users = 3))
    val env = gen.head
    val imp = env.impressions.head
    def act(id: String, dt: Long, t: Int, cart: Seq[CartContent]) =
      Action(1L, imp.userInfo,
        Timing(eventApiTimestamp = imp.timing.eventApiTimestamp + dt), id,
        imp.impressionId, imp.insertionId, imp.contentId, imp.viewId,
        imp.requestId, t, cart)
    (env.copy(actions = env.actions ++ Seq(
      act("a-add", 10L, ActionType.AddToCart, Seq(CartContent(imp.contentId, 1L, 100L))),
      act("a-checkout", 20L, ActionType.Checkout, Nil),
      act("a-cart2", 30L, ActionType.Purchase,
        Seq(CartContent(imp.contentId, 1L, 100L), CartContent("c-other", 3L, 250L))))
    ) +: gen.tail).toDS().toDF()
  }

  private def sentinel: DataFrame = FakeLogGenerator.generate(FakeLogGenerator.Options(
      platformId = Sentinel, users = 1, startMs = 1700000000000L + 86400000L))
    .toDS().toDF()

  private val cols = "window_start_ms" +: (ContentMetricsJob.Keys ++ ContentMetricsJob.MetricCols)

  test("the stream writes the batch job's hourly rows on all seven metrics") {
    val env = fixture
    val tmp = Files.createTempDirectory("graft_cm_parity").toString
    Files.createDirectories(Paths.get(s"$tmp/in"))
    val q = StreamingJobs.contentMetrics(
      StreamingJobs.envelopeStream(spark, s"$tmp/in", env.schema),
      s"$tmp/out", s"$tmp/ckpt")
    publish(env, s"$tmp/in")
    q.processAllAvailable()
    // a day later: the watermark passes every fixture window, which the
    // append-mode aggregate then emits
    publish(sentinel, s"$tmp/in")
    q.processAllAvailable(); q.stop()

    val streamed = spark.read.parquet(s"$tmp/out/hourly")
      .where(col("platformId") =!= Sentinel)
      .withColumnRenamed("eventApiTs", "window_start_ms")
      .select(cols.map(col): _*).collect().toSeq
    val hourly = ContentMetricsJob.hourly(env)
    val batch = hourly.select(cols.map(col): _*).collect().toSeq
    assert(streamed.sortBy(_.toString) == batch.sortBy(_.toString))
    // every metric is exercised
    val totals = hourly
      .agg(sum("navigate_count"), sum("add_to_cart_count"),
        sum("checkout_count"), sum("purchase_count"))
      .as[(Long, Long, Long, Long)].head()
    assert(totals._1 > 0 && totals._2 == 1 && totals._3 == 1 && totals._4 > 2)
  }

  test("a checkpoint of the earlier four-sum stream is refused on restart") {
    val env = fixture
    val tmp = Files.createTempDirectory("graft_cm_ckpt").toString
    Files.createDirectories(Paths.get(s"$tmp/in"))
    def stream = StreamingJobs.envelopeStream(spark, s"$tmp/in", env.schema)
    // the earlier stream's query: four of the seven sums
    val fourSums = ContentMetricsJob.unifiedEvents(stream)
      .withColumn("eventTime", timestamp_millis(col("tsMs")))
      .withWatermark("eventTime", "1 minute")
      .groupBy(window(col("eventTime"), "1 hour"),
        col("platformId"), col("contentId"))
      .agg(sum("view_count").as("view_count"),
        sum("impression_count").as("impression_count"),
        sum("purchase_count").as("purchase_count"),
        sum("gmv_usd_micros").as("gmv_usd_micros"))
      .select(unix_millis(col("window.start")).as("eventApiTs"),
        col("platformId"), col("contentId"), col("view_count"),
        col("impression_count"), col("purchase_count"), col("gmv_usd_micros"))
    val old = Sinks.streamPartitioned(fourSums, "eventApiTs",
        s"$tmp/out/hourly", s"$tmp/ckpt/hourly")
      .outputMode("append").queryName("content_metrics_four_sums").start()
    publish(env, s"$tmp/in")
    old.processAllAvailable(); old.stop()

    publish(sentinel, s"$tmp/in")
    val q = StreamingJobs.contentMetrics(stream, s"$tmp/out", s"$tmp/ckpt")
    val e = intercept[StreamingQueryException] {
      try q.processAllAvailable() finally q.stop()
    }
    assert(e.getMessage.contains("STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE"),
      e.getMessage)
  }
}
