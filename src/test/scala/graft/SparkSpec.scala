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

/** Base suite with a shared local SparkSession. */
abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
}
