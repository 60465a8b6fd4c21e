package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Queries run in small CONCURRENT batches (local Spark schedules the
  * independent jobs across its cores; wall time drops ~3×, which matters
  * because the driver's per-round check is time-boxed — a faster dump
  * means more queries get a recorded correctness row). Batches are
  * awaited before `clearCache`/`cleanupQueryTmp` so one query's persisted
  * frames and temp roots are never yanked from under a concurrent one.
  * Each batch runs on [[Overlap.inParallel]]; a query's failure is caught
  * and reported inside its own task, so one failing query never cancels
  * its batch.
  */
object Verify {

  /** DuckDB inlines non-recursive CTEs by default; an unrolled-rounds
    * oracle (q241/q244/q258/q333: each round references the previous
    * CTE twice) then expands ~2^rounds and a 0.2 s query takes minutes
    * (measured: q333 plain 282 s vs MATERIALIZED 0.2 s, identical
    * rows) — enough to blow the driver's time-boxed sweep, the likely
    * cause of two rounds of empty CORRECTNESS artifacts. Hint every
    * CTE MATERIALIZED at the dump boundary (results are unchanged by
    * definition; at sf0.01 materializing small frames costs nothing).
    * RECURSIVE blocks are left alone (materialization is invalid
    * there); window specs are safe because a CTE body starts with
    * SELECT and a window spec cannot. */
  def materializeCtes(sql: String): String =
    if (sql.contains("RECURSIVE")) sql
    else sql.replaceAll("(?i)\\bAS\\s*\\(\\s*(?=SELECT\\b)",
      "AS MATERIALIZED (")

  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    // optional 3rd arg: comma-separated query-name filter (dev iteration)
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    // Batch size: the helper overlaps at most 4 actions, so a batch of 4
    // keeps every slot busy until the batch's slowest query.
    val par = sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR", "4").toInt.max(1)
    val spark = GraftSession.create()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .grouped(par).foreach { batch =>
        Overlap.inParallel(spark)(batch.map { case (name, fn) =>
          () => {
            // One compact JSON progress line per dump, flushed as it
            // lands: a time-boxed/killed driver sweep still leaves
            // parseable per-query evidence in its log (rounds 10–11
            // produced empty CORRECTNESS artifacts with zero partial
            // signal). println is stream-synchronized, so concurrent
            // batch lines never interleave mid-line.
            try {
              fn(spark, sfDir).coalesce(1).write.mode("overwrite")
                .parquet(s"$outDir/$name")
              val rows = spark.read.parquet(s"$outDir/$name").count()
              println(s"""{"q":"$name","rows":$rows,"ok":true}""")
            } catch { case e: Throwable =>
              val m = Option(e.getMessage).getOrElse("").take(120)
                .replaceAll("[\"\\\\\\n\\r\\t]", " ")
              System.err.println(s"[verify] $name failed: ${e.getMessage}")
              println(s"""{"q":"$name","ok":false,"error":"$m"}""")
            }
          }
        }: _*)
        spark.catalog.clearCache()   // drop per-query persisted frames
        SparkEntry.cleanupQueryTmp() // reclaim per-query upsert/bucket roots
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(materializeCtes(v))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
