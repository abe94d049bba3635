package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("withConf unsets a key that was unset before") {
    // an unregistered key, and a registered one that reads as its default
    Seq("graft.test.withConf.unset", "spark.sql.legacy.parquet.nanosAsLong")
      .foreach { key =>
        assert(!spark.conf.getAll.contains(key))
        val inside = GraftSession.withConf(spark, key, "true") {
          spark.conf.get(key)
        }
        assert(inside === "true")
        assert(!spark.conf.getAll.contains(key),
          s"$key, unset before withConf, must be unset after it")
      }
  }

  test("withConf restores the previous value of a set key") {
    val key = "graft.test.withConf.set"
    spark.conf.set(key, "before")
    try {
      val inside = GraftSession.withConf(spark, key, "during") {
        spark.conf.get(key)
      }
      assert(inside === "during")
      assert(spark.conf.get(key) === "before")
    } finally spark.conf.unset(key)
  }

  test("withConf restores the previous value when the body throws") {
    val key = "graft.test.withConf.throws"
    spark.conf.set(key, "before")
    try {
      val e = intercept[IllegalStateException] {
        GraftSession.withConf(spark, key, "during") {
          throw new IllegalStateException("boom")
        }
      }
      assert(e.getMessage === "boom")
      assert(spark.conf.get(key) === "before")
    } finally spark.conf.unset(key)
  }
}
