package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins the settings every session gets from [[GraftSession.local]]. */
class GraftSessionSpec extends AnyFunSuite {

  test("local(n) is local[n] with n shuffle partitions, AQE, UTC, no UI, plus conf") {
    // getOrCreate would hand back a session an earlier suite left running
    SparkSession.getDefaultSession.foreach(_.stop())
    val spark = GraftSession.local(3, "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    try {
      assert(spark.sparkContext.master == "local[3]")
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "3")
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
      assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
      assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == "-1")
    } finally spark.stop()
  }
}
