package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the [[Sessions]] factory's settings through the shared test
  * session it builds: Bench and Verify run on the same settings. */
class SessionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("the factory sets one shuffle partition per core, UTC and AQE") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.ui.enabled") == "false")
  }

  test("the factory keeps nanosAsLong and the 2 min cleaner GC interval") {
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.sparkContext.getConf.get("spark.cleaner.periodicGC.interval")
      == "2min")
  }

  test("the factory honours the warehouse dir") {
    assert(spark.conf.get("spark.sql.warehouse.dir").contains("graft-wh"))
  }
}
