package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (sf0.001 inputs: fast). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // shared session; leave it up
}

object SparkSpec {
  /** The `SparkConfigs.local` profile on local[4], plus a throwaway
    * warehouse dir. */
  lazy val session: SparkSession = {
    val s = SparkConfigs.local(SparkSession.builder(), 4)
      .appName("graft-tests")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A session of [[session]]'s context with AQE off, for the suites
    * that start streams. Streaming runs without AQE anyway, and every
    * stream started from a session with AQE on logs a warning saying
    * so. */
  lazy val streamingSession: SparkSession = {
    val s = session.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }
}
