package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.state.StateStore
import org.scalatest.{BeforeAndAfterAll, Suite}

/** The specs' session: the same [[GraftSession]] every main runs, so a
  * spec tests the program the mains execute. Stopped after the suite
  * together with the JVM-global state-store maintenance task: left
  * running, it keeps asking the stopped context's state-store
  * coordinator about that context's stores while later suites run,
  * and logs a stack trace for every store it cannot reach. */
trait SparkSpec extends BeforeAndAfterAll { this: Suite =>

  lazy val spark: SparkSession = GraftSession.create()

  override def afterAll(): Unit =
    try super.afterAll()
    finally {
      StateStore.stop()
      spark.stop()
    }
}
