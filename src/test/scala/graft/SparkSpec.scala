package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for operator specs (one per suite, lazy), on the
  * production session policy. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.create(cpus = 4)

  // MemoryStream (streaming specs) resolves its SQLContext implicitly
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  /** Run `body` with the RocksDB state store provider (which every
    * `transformWithState` operator requires), restoring the previous
    * provider afterwards. */
  protected def withRocksDb[T](body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }
}
