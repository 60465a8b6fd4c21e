package graft.agg

import graft.SparkSpec
import org.apache.spark.sql.functions._
import graft.functions.RollingHash

/** Count-Min counters must equal a sequential reference whatever the
  * partitioning, point queries must never underestimate, and slice
  * sketches must add into range sketches. */
class CountMinSketchSpec extends SparkSpec {
  import spark.implicits._

  private val d = 4
  private val w = 1024

  private def refSketch(values: Seq[String]): Array[Long] = {
    val buf = new Array[Long](d * w)
    values.foreach { s =>
      (0 until d).foreach { r =>
        val h = RollingHash.polyHash64((r + ":" + s).getBytes("UTF-8"))
        buf(r * w + (h & (w - 1)).toInt) += 1L
      }
    }
    buf
  }

  test("counters match the sequential reference and survive repartitioning") {
    CountMinSketch.register(spark)
    val values = (0 until 8000).map(i => s"item-${i % 300}")
    val df = values.toDF("v")
    def run(parts: Int) = df.repartition(parts)
      .agg(CountMinSketch.countMin(col("v"), d, w).as("cm"))
      .collect().head.getString(0)
    val one = run(1)
    assert(run(17) == one, "merge path diverges")
    assert(CountMinSketch.parse(one, d, w).toSeq == refSketch(values).toSeq)
  }

  test("point queries never underestimate and are exact without collisions") {
    val values = (0 until 6000).flatMap(i => Seq.fill(i % 7 + 1)(s"k-${i % 97}"))
    val sk = refSketch(values)
    val truth = values.groupBy(identity).view.mapValues(_.size.toLong)
    truth.foreach { case (k, n) =>
      val est = CountMinSketch.query(sk, d, w, k)
      assert(est >= n, s"$k underestimated: $est < $n")
      // 97 keys in 1024-wide rows: collisions possible but bounded
      assert(est <= n + values.size / w * d, s"$k wildly over: $est vs $n")
    }
    // a never-seen key reads only collision mass
    assert(CountMinSketch.query(sk, d, w, "absent-key") <= values.size / 16)
  }

  test("slice sketches add into the range sketch") {
    val a = (0 until 500).map(i => s"x-${i % 50}")
    val b = (0 until 700).map(i => s"y-${i % 70}")
    assert(CountMinSketch.add(refSketch(a), refSketch(b)).toSeq
      == refSketch(a ++ b).toSeq)
  }

  test("stored-sketch re-aggregation equals direct aggregation (engine-side)") {
    CountMinSketch.register(spark)
    val rows = (0 until 600).map(i => (i % 6L, s"u${(i * 11) % 80}"))
      .toDF("hour", "v")
    val slices = rows.groupBy(col("hour"))
      .agg(CountMinSketch.countMin(col("v"), 4, 1024).as("cm"))
    val merged = slices.where(col("hour") < 3)
      .agg(CountMinSketch.countMinMerge(col("cm"), 4, 1024))
      .collect().head.getString(0)
    val direct = rows.where(col("hour") < 3)
      .agg(CountMinSketch.countMin(col("v"), 4, 1024))
      .collect().head.getString(0)
    assert(merged == direct)
    val merged7 = slices.where(col("hour") < 3).repartition(7)
      .agg(CountMinSketch.countMinMerge(col("cm"), 4, 1024))
      .collect().head.getString(0)
    assert(merged7 == direct, "merge must be partition-order independent")
  }

  test("a depth-12 x width-8 countMin renders merge to the direct aggregate") {
    CountMinSketch.register(spark)
    val rows = (0 until 400).map(i => (i % 5L, s"u${(i * 7) % 40}"))
      .toDF("hour", "v")
    val merged = rows.groupBy(col("hour"))
      .agg(CountMinSketch.countMin(col("v"), 12, 8).as("cm"))
      .agg(CountMinSketch.countMinMerge(col("cm"), 12, 8))
      .collect().head.getString(0)
    val direct = rows.agg(CountMinSketch.countMin(col("v"), 12, 8))
      .collect().head.getString(0)
    assert(merged == direct)
  }

  test("countMinMerge rejects a width that is not a power of two") {
    CountMinSketch.register(spark)
    val e = intercept[Exception] {
      Seq("0:1").toDF("cm").agg(CountMinSketch.countMinMerge(col("cm"), 4, 24))
        .collect()
    }
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("width=24")), e)
  }

  test("map-side partial aggregation appears in the plan") {
    CountMinSketch.register(spark)
    val df = spark.range(5000).select((col("id") % 5).as("g"),
      concat(lit("v"), col("id") % 100).as("v"))
      .repartition(8)
      .groupBy("g").agg(CountMinSketch.countMin(col("v"), d, w).as("cm"))
    val plan = df.queryExecution.executedPlan.toString
    val exchange = plan.indexOf("Exchange")
    assert(plan.contains("ObjectHashAggregate") && exchange >= 0 &&
      plan.lastIndexOf("ObjectHashAggregate") > exchange, plan.take(1500))
  }
}
