package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

/** Shared local session for specs — the one graft config, [[GraftSession.local]]. */
trait SparkTestKit extends BeforeAndAfterAll { self: Suite =>

  lazy val spark: SparkSession = SparkTestKit.session

  val sfDir = "/root/testdata/sf0.001"

  override def afterAll(): Unit = super.afterAll()
}

object SparkTestKit {
  // one session per JVM: ScalaTest suites share it, saving ~5s per suite
  lazy val session: SparkSession = GraftSession.local(4)
}
