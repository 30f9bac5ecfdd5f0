package graft

import org.apache.spark.sql.functions._

class CacheScopeSpec extends SparkSuite {
  test("eagerAll awaits every count and rethrows a failing frame's own exception") {
    val bad = spark.range(3).toDF().filter(raise_error(lit("boom")).isNull)
    val own = intercept[Exception](bad.count())
    val got = intercept[Exception](CacheScope.eagerAll(spark.range(3).toDF(), bad))
    assert(got.getClass == own.getClass && got.getMessage.contains("boom"), got)
    CacheScope.drain()
  }
}
