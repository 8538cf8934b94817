package graft

import org.scalatest.funsuite.AnyFunSuite

/** The test session is built by the same recipe as every main
  * ([[graft.engine.SessionTuning.local]]), so tier-1 exercises the confs
  * the library ships with. */
class SessionTuningSpec extends AnyFunSuite {
  test("tier-1 runs under the library session recipe") {
    val conf = TestSpark.spark.conf
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get(
      "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version") == "2")
    assert(TestSpark.spark.sparkContext.hadoopConfiguration
      .get("mapreduce.fileoutputcommitter.algorithm.version") == "2")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "5000")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.ui.enabled") == "false")
    assert(TestSpark.spark.sparkContext.uiWebUrl.isEmpty)
  }
}
