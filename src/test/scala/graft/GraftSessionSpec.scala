package graft

/** The session factory's policy, as the suites (and every main) see it. */
class GraftSessionSpec extends SparkSpec {

  test("GraftSession.create pins cores, shuffle width, UTC, dynamic overwrite and the v2 committer") {
    val s = GraftSession.create(cpus = 4)
    assert(s.sparkContext.master == "local[4]")
    Seq(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
      "spark.sql.sources.partitionOverwriteMode" -> "dynamic",
      "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version" -> "2",
      "spark.ui.enabled" -> "false",
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ).foreach { case (k, v) => assert(s.conf.get(k) == v, k) }
  }
}
