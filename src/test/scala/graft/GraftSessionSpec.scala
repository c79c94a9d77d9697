package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one scoped conf override, [[GraftSession.withConf]]: every
  * query-local setting (streaming state partitions, state-store
  * provider) must leave the shared session exactly as it found it.
  */
class GraftSessionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("withConf puts back set and unset keys even when the body throws") {
    val shuffle = "spark.sql.shuffle.partitions"
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val unsetKey = "spark.graft.test.scopedProbe"
    val shuffleBefore = spark.conf.get(shuffle)
    val providerBefore = spark.conf.getOption(provider)
    assert(spark.conf.getOption(unsetKey).isEmpty)
    val e = intercept[IllegalStateException] {
      GraftSession.withConf(spark, shuffle, "8") {
        GraftSession.withConf(spark, provider,
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
          GraftSession.withConf(spark, unsetKey, "on") {
            assert(spark.conf.get(shuffle) == "8")
            assert(spark.conf.get(provider).endsWith("RocksDBStateStoreProvider"))
            assert(spark.conf.get(unsetKey) == "on")
            throw new IllegalStateException("body failed")
          }
        }
      }
    }
    assert(e.getMessage == "body failed")
    assert(spark.conf.get(shuffle) == shuffleBefore)
    assert(spark.conf.getOption(provider) == providerBefore)
    assert(spark.conf.getOption(unsetKey).isEmpty,
      "a key with no value before must be unset, not set to a default")
    // the normal path returns the body's value and restores too
    assert(GraftSession.withConf(spark, shuffle, "3")(spark.conf.get(shuffle))
      == "3")
    assert(spark.conf.get(shuffle) == shuffleBefore)
  }
}
