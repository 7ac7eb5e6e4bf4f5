package graft

import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

/** `GraftSession.builder` leaves adaptive execution and the runtime bloom
  * filter at Spark's defaults. This spec pins those defaults, so a Spark
  * upgrade that turns one of them off fails here instead of silently
  * changing every session's plans. */
class GraftSessionSpec extends AnyFunSuite {

  test("Spark's defaults keep AQE, its coalescing and skew joins on") {
    assert(SQLConf.ADAPTIVE_EXECUTION_ENABLED.defaultValue.contains(true))
    assert(SQLConf.COALESCE_PARTITIONS_ENABLED.defaultValue.contains(true))
    assert(SQLConf.SKEW_JOIN_ENABLED.defaultValue.contains(true))
  }

  // Runtime bloom-filter pushdown: a selective fact-fact join builds a
  // bloom filter from the filtered side and prunes the probe side's scan
  // at the row-group level — the AQE-era replacement for manual
  // pre-filter staging on 100 TB joins. (Creation thresholds are the
  // defaults — 10 MB build side / 10 GB probe side — so it only kicks in
  // where it pays; BloomFilterJoinSpec lowers them to assert the injected
  // filter end-to-end.)
  test("Spark's default keeps the runtime bloom filter on") {
    assert(SQLConf.RUNTIME_BLOOM_FILTER_ENABLED.defaultValue.contains(true))
  }
}
