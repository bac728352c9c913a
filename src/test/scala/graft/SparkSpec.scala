package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs (one JVM, one session). */
object SparkTestSession {
  lazy val spark: SparkSession = graft.util.Sessions.local(4)
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestSession.spark
  override def beforeAll(): Unit = { spark.sparkContext.setLogLevel("ERROR"); super.beforeAll() }
}
