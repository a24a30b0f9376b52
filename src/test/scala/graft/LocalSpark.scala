package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** A spec's Spark session: [[GraftSession.local]] on `cpus` cores with
  * `conf` on top, built on first use and stopped after the suite. */
trait LocalSpark extends BeforeAndAfterAll { this: Suite =>
  protected def cpus: Int = 4
  protected def conf: Seq[(String, String)] = Nil

  lazy val spark: SparkSession = GraftSession.local(cpus, conf: _*)

  override def afterAll(): Unit =
    try spark.stop() finally super.afterAll()
}
