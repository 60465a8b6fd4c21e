package graft.agg

import graft.SparkSpec
import org.apache.spark.sql.functions._
import graft.functions.RollingHash

/** The HLL aggregate must produce exactly the registers a sequential
  * reference computes from the same hash, regardless of partitioning (the
  * merge path), and its estimate must land within HLL's theoretical error
  * envelope. */
class HllSketchSpec extends SparkSpec {
  import spark.implicits._

  private val p = 12
  private val m = 1 << p

  private def refRegisters(values: Seq[String]): Array[Int] = {
    val regs = new Array[Int](m)
    values.foreach { s =>
      val h = RollingHash.polyHash64(s.getBytes("UTF-8"))
      val bucket = (h >>> (64 - p)).toInt
      val w = h & ((1L << (64 - p)) - 1)
      val rank = if (w == 0L) 64 - p + 1
        else java.lang.Long.numberOfLeadingZeros(w) - p + 1
      if (rank > regs(bucket)) regs(bucket) = rank
    }
    regs
  }

  test("registers match the sequential reference and survive repartitioning") {
    HllSketch.register(spark)
    val values = (0 until 5000).map(i => s"user-${i % 1200}")
    val df = values.toDF("v")
    def run(parts: Int) = df.repartition(parts)
      .agg(HllSketch.hllRegisters(col("v"), p).as("h"))
      .collect().head.getString(0)
    val one = run(1)
    assert(run(13) == one, "merge path diverges from single-partition")
    assert(HllSketch.parseRegisters(one).toSeq == refRegisters(values).toSeq)
  }

  test("estimate lands within the HLL error envelope") {
    for (n <- Seq(100, 1000, 20000)) {
      val regs = refRegisters((0 until n).map(i => s"item-$i"))
      val est = HllSketch.estimate(regs)
      // standard error 1.04/sqrt(m) ≈ 1.6% at p=12; allow 5 sigma
      assert(math.abs(est - n) < math.max(0.09 * n, 8.0), s"n=$n est=$est")
    }
  }

  test("union of sketches equals the sketch of the union") {
    val a = (0 until 800).map(i => s"a-$i")
    val b = (0 until 800).map(i => s"b-$i")
    val u = HllSketch.union(refRegisters(a), refRegisters(b))
    assert(u.toSeq == refRegisters(a ++ b).toSeq)
  }

  test("aggregation is partial: object hash aggregate appears below the exchange") {
    HllSketch.register(spark)
    val df = spark.range(10000).select((col("id") % 7).as("g"),
      concat(lit("v"), col("id") % 500).as("v"))
      .repartition(8)
      .groupBy("g").agg(HllSketch.hllRegisters(col("v"), p).as("h"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan.take(1500))
    val firstAgg = plan.indexOf("ObjectHashAggregate")
    val exchange = plan.indexOf("Exchange")
    assert(firstAgg >= 0 && exchange >= 0 &&
      plan.lastIndexOf("ObjectHashAggregate") > exchange,
      "no partial (map-side) sketch aggregation\n" + plan.take(1500))
  }

  test("sketch aggregates run in streaming group-bys with batch parity") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    HllSketch.register(spark)
    CountMinSketch.register(spark)
    val data = (0 until 3000).map(i => ((i % 3).toLong, s"u${i % 400}"))
    val mem = MemoryStream[(Long, String)]
    val sdf = mem.toDS().toDF("g", "v").groupBy("g")
      .agg(HllSketch.hllRegisters(col("v"), p).as("h"),
        CountMinSketch.countMin(col("v"), 4, 1024).as("cm"))
    val q = sdf.writeStream.format("memory").queryName("hll_stream")
      .outputMode("complete").start()
    try {
      // two batches: the state-store buffer must merge across them
      mem.addData(data.take(1000): _*); q.processAllAvailable()
      mem.addData(data.drop(1000): _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("hll_stream")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    val batch = data.toDF("g", "v").groupBy("g")
      .agg(HllSketch.hllRegisters(col("v"), p).as("h"),
        CountMinSketch.countMin(col("v"), 4, 1024).as("cm"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(streamed == batch)
  }

  test("slice-merged sketches equal direct aggregation over the union") {
    HllSketch.register(spark)
    // 9 hourly slices, users overlapping across hours
    val rows = (0 until 900).map(i =>
      (i % 9L, s"user${(i * 7) % 140}")).toDF("hour", "v")
    val slices = rows.groupBy(col("hour"))
      .agg(HllSketch.hllRegisters(col("v"), p).as("hll"))
    // window = hours {0,1,2} vs direct aggregation of those hours' rows
    val merged = slices.where(col("hour") < 3)
      .agg(HllSketch.hllMerge(col("hll"), p)).collect().head.getString(0)
    val direct = rows.where(col("hour") < 3)
      .agg(HllSketch.hllRegisters(col("v"), p)).collect().head.getString(0)
    assert(merged == direct,
      "slice->range merge must be byte-identical to direct aggregation")
    // and the merge is partition-order independent
    val merged13 = slices.where(col("hour") < 3).repartition(13)
      .agg(HllSketch.hllMerge(col("hll"), p)).collect().head.getString(0)
    assert(merged13 == merged)
  }

  test("a stored render with a non-hex char or an impossible rank is rejected") {
    HllSketch.register(spark)
    // 'zz' is no hex byte; 0x40 = 64 exceeds the largest rank 64 - p + 1
    for (bad <- Seq("zz" + "00" * (m - 1), "0040" + "00" * (m - 2))) {
      val e = intercept[Exception] {
        Seq("00" * m, bad).toDF("hll").agg(HllSketch.hllMerge(col("hll"), p))
          .collect()
      }
      assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage)
          .contains(s"malformed HLL render '${bad.take(48)}")), e)
    }
  }

  test("null inputs are ignored; empty group renders all-zero registers") {
    HllSketch.register(spark)
    val df = Seq(Some("x"), None, Some("y"), None).toDF("v")
    val withNulls = df.agg(HllSketch.hllRegisters(col("v"), p)).collect().head.getString(0)
    assert(withNulls == df.where(col("v").isNotNull)
      .agg(HllSketch.hllRegisters(col("v"), p)).collect().head.getString(0))
    val empty = df.where(lit(false))
      .agg(HllSketch.hllRegisters(col("v"), p)).collect().head.getString(0)
    assert(empty == "00" * m)
  }
}
