package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.catalog.{CoreGates, TableGates}

/** `catalog_batch`: one cold pass, in a pinned order, over a pinned list
  * of catalog gates — core gates first (read-only batch analogues of the
  * four jobs), then table gates (upsert, bucketed, z-order and derived
  * table writes). Each gate's wall is its DataFrame build plus an action
  * that returns every output column to the driver; the rows are checked
  * against the gate's DuckDB oracle afterwards, outside the timing.
  *
  * The input tables are staged by the runner (`perfbench/run.py`) from
  * the base tables under `perfbench/data`, with a seeded row order and
  * file split. */
object CatalogBatch extends Workload {

  /** Every `Stride`-th gate of each family, in registration order: the
    * full families take ~90 s cold on a 4-core box, too long for one
    * run. */
  val Stride = 7

  def gates: Seq[(String, String, (SparkSession, String) => DataFrame)] =
    CoreGates.queries.zipWithIndex.collect { case ((n, f), i) if i % Stride == 0 => ("core", n, f) } ++
      TableGates.queries.zipWithIndex.collect { case ((n, f), i) if i % Stride == 0 => ("table", n, f) }

  def tablesDir(run: Run): String = run.work.resolve("tables").toString

  def stage(spark: SparkSession, run: Run): Unit = ()

  type Prepared = Unit

  /** Warm-up as in `graft.Bench`: session, codegen, shuffle and the
    * parquet footers of every table. */
  def prepare(spark: SparkSession, run: Run): Unit = {
    val dir = tablesDir(run)
    spark.range(1000).selectExpr("sum(id)").collect()
    graft.Tables.all.filter(t => java.nio.file.Files.exists(run.work.resolve(s"tables/$t.parquet")))
      .foreach(t => graft.Tables.load(spark, dir, t).schema)
    spark.range(100000).selectExpr("cast(id % 97 as string) AS q")
      .groupBy("q").count().collect()
    graft.Tables.load(spark, dir, "lineitem")
      .selectExpr("l_returnflag AS q").groupBy("q").count().collect()
  }

  def measure(spark: SparkSession, run: Run, prepared: Unit,
      tracer: Option[Tracer]): Unit = {
    val dir = tablesDir(run)
    val out = run.dir("gate_out")
    val rows = scala.collection.mutable.ArrayBuffer.empty[(String, String, Double, Double, Long)]
    val results = scala.collection.mutable.ArrayBuffer.empty[(String, DataFrame, Array[Row])]
    for ((family, name, fn) <- gates) {
      System.gc()
      spark.sparkContext.setJobGroup(s"gate:$name", name)
      val t0Ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try {
        val df = fn(spark, dir)
        val t1 = System.nanoTime()
        val collected = df.collect()
        val t2 = System.nanoTime()
        tracer.foreach(_.gate(name, family, t0Ms, (t1 - t0) / 1e9, (t2 - t1) / 1e9))
        rows += ((family, name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, collected.length.toLong))
        results += ((name, df, collected))
      } catch { case e: Throwable =>
        run.op(ok = false, s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      }
      spark.sparkContext.clearJobGroup()
      spark.catalog.clearCache()
      graft.SparkEntry.cleanupQueryTmp()
    }
    tracer.foreach(_.end())
    // the rows go to parquet for the oracle compare, outside the timing
    results.foreach { case (name, df, collected) =>
      spark.createDataFrame(collected.toSeq.asJava, df.schema)
        .coalesce(1).write.parquet(out.resolve(name).toString)
    }
    def wall(f: String) = rows.collect { case (`f`, _, b, a, _) => b + a }.sum
    run.metric("core_gates_wall_s", wall("core"), "s")
    run.metric("table_gates_wall_s", wall("table"), "s")
    val walls = rows.map { case (_, _, b, a, _) => (b + a) * 1e3 }.toSeq
    run.metric("feature_lag_p50_ms", Stats.quantile(walls, 0.5), "ms")
    run.metric("feature_lag_p95_ms", Stats.quantile(walls, 0.95), "ms")
    run.metric("replay_records_per_s",
      rows.map(_._5).sum / math.max(1e-9, walls.sum / 1e3), "records/s")
    run.layer("catalog.build_s", rows.map(_._3).sum, "s")
    run.layer("catalog.action_s", rows.map(_._4).sum, "s")
    // gates that ran go to the oracle compare in the runner, which counts
    // them as operations there
    run.detail("gates") = Json.arr(rows.toSeq.map { case (f, n, b, a, r) =>
      Json.obj(Seq("gate" -> Json.str(n), "family" -> Json.str(f),
        "build_s" -> Json.num(b), "action_s" -> Json.num(a), "rows" -> Json.num(r.toDouble)))
    })
    run.detail("gate_out") = Json.str(out.toString)
    val oracle = (CoreGates.oracleSql ++ TableGates.oracleSql).toMap
    run.detail("oracle_sql") = Json.obj(results.toSeq.map { case (n, _, _) =>
      n -> Json.str(oracle(n)) })
  }
}
