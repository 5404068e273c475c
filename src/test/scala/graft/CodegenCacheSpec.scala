package graft

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.metrics.source.CodegenMetrics

import graft.link.Compaction
import graft.streaming.StreamLink
import graft.synth.LinkCorpus

/** The session's codegen cache holds the engine's working set: once a pass
  * has run, repeating it compiles no generated class. One incremental round
  * (2 × `processBatch` + `compact`) uses more distinct generated classes
  * than Spark's default cache of 100 holds, and an LRU cycled through a set
  * larger than itself never hits — under that default every round re-runs
  * Janino for the same classes. */
class CodegenCacheSpec extends SparkSpec {

  test("a repeated processBatch x2 + compact round compiles no generated class") {
    val families = 200L
    def round(dir: String): Unit = {
      val state = s"$dir/state"
      StreamLink.processBatch(LinkCorpus.triples(spark, 0, families, 1)
        .unionByName(LinkCorpus.triples(spark, 0, families, 2)), state, batchId = 0)
      StreamLink.processBatch(LinkCorpus.triples(spark, 0, families, 0), state, batchId = 1)
      Compaction.compact(spark, state, s"$dir/compacted").count()
    }
    def compilations = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // Static planning, so both rounds need the same classes. Under AQE a
    // join's build side follows which of its two shuffle stages finishes
    // first, so a repeat can meet a plan variant the JVM has never seen —
    // a first compile of a new class, not a cache miss on an old one.
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val root = Files.createTempDirectory("graft-codegen").toFile
    try {
      val before = compilations
      round(s"$root/warm")
      val warm = compilations
      round(s"$root/repeat")
      val repeated = compilations - warm
      assert(repeated === 0L, s"the repeated round compiled $repeated classes " +
        s"(the first round ${warm - before})")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      FileUtils.deleteQuietly(root)
    }
  }
}
