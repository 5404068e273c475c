package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkSpec {
  /** The engine's own session configuration (extensions, AQE, discovery
    * threshold, codegen cache), so specs test what callers run; only the
    * warehouse dir, app name and log level are the suite's own. */
  lazy val spark: SparkSession = {
    val s = SparkSessionFactory.builder("local[4]", 4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        SparkSessionFactory.scratchDir("graft-test-warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Base suite with a shared local SparkSession, built when the suite is
  * constructed, before any of its tests runs. Hadoop caches one `file:`
  * filesystem per JVM, keyed by scheme and not by conf, so the first one
  * made must come from the session's conf (its `fs.file.impl`): a test that
  * reads a local file through a default `Configuration` before the session
  * exists would pin the stock class for every suite after it. */
abstract class SparkSpec extends AnyFunSuite {
  val spark: SparkSession = SparkSpec.spark

  /** `body` with the session conf `key` set to `value`, restored after. */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val before = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
