package graft

import org.scalatest.funsuite.AnyFunSuite

/** The production session factory must deliver the documented posture.
  * [[SparkTestSession]] builds the suite-wide session THROUGH
  * [[GraftSession.local]], so every spec in the suite runs on the
  * factory's product; this spec asserts the posture landed. (No
  * session is created or stopped here — `getOrCreate` on a live shared
  * session would alias it and `stop()` would kill it for every
  * following spec.)
  */
class GraftSessionSpec extends AnyFunSuite {
  import SparkTestSession._

  test("factory session carries the full documented posture") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.files.maxPartitionBytes") == (256L * 1024 * 1024).toString)
  }

  test("native expression family resolves through plain SQL — no register call") {
    val d = spark.sql("SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head().getDouble(0)
    assert(d == 11.0)
    assert(
      spark.sql("SELECT simhash64(array(1L, 2L, 3L)) AS h").head().getLong(0) ==
        spark.sql("SELECT simhash64(array(3L, 2L, 1L)) AS h").head().getLong(0),
      "simhash must be order-invariant")
  }

  test("the fork-free local filesystem is set by the local posture only") {
    // the builder's pending options, read without creating a session
    def options(b: org.apache.spark.sql.SparkSession.Builder): Map[String, String] =
      b.getClass.getMethod("options").invoke(b)
        .asInstanceOf[scala.collection.mutable.HashMap[String, String]].toMap
    val local = options(GraftSession.local(4))
    val cluster = options(GraftSession.builder("cluster", shufflePartitions = 4))
    val impls = Map(
      "fs.file.impl" -> classOf[graft.io.NioLocalFileSystem].getName,
      "fs.AbstractFileSystem.file.impl" -> classOf[graft.io.NioLocalFs].getName)
    for ((key, impl) <- impls) {
      assert(local.get(s"spark.hadoop.$key").contains(impl))
      assert(!cluster.contains(s"spark.hadoop.$key"))
      assert(spark.sparkContext.hadoopConfiguration.get(key) == impl)
    }
    // the JVM-wide FileSystem cache hands parquet writers the same class
    assert(org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      .isInstanceOf[graft.io.NioLocalFileSystem])
  }

  test("nonsensical shuffle width fails at construction, not at runtime") {
    intercept[IllegalArgumentException] {
      GraftSession.builder("bad", shufflePartitions = 0)
    }
  }

  test("ANSI mode is on: bad arithmetic throws, try_* is the soft path") {
    import SparkTestSession.spark
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true",
      "the q_try_funcs battery is meaningless without ANSI strictness")
    val ex = intercept[Exception] {
      spark.sql("SELECT 1 / 0").collect()
    }
    assert(ex.getMessage.contains("DIVIDE_BY_ZERO"), s"wrong failure: $ex")
    assert(spark.sql("SELECT try_divide(1, 0) AS v").head().isNullAt(0))
  }
}
