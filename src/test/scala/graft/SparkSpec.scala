package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for operator specs (one per suite, lazy), on the
  * production session policy. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.create(cpus = 4)

  // MemoryStream (streaming specs) resolves its SQLContext implicitly
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
}
