package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for the test suites (one per JVM — sbt forks
  * a single test JVM, so getOrCreate dedupes across suites). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  override def afterAll(): Unit = () // session shared; JVM exit cleans up
}

object SparkTestBase {
  lazy val session: SparkSession = GraftSession.local("8", shufflePartitions = 8,
    // The library's SQL surface, via the public session-build hook —
    // SqlSurfaceSpec asserts the functions resolve WITHOUT any
    // register() call, which proves this injection path end-to-end.
    conf = Seq("spark.sql.extensions" -> "graft.GraftExtensions"))
}
