package graft.tools

import java.nio.file.{Files, Paths}

import graft.pipeline.{Extract, ExtractorConfig}
import graft.synth.Corpus

/** Dumps `explain("formatted")` for the load-bearing plans to PLANS.md —
  * the evidence artifact for pushdown/pruning/broadcast/codegen claims.
  * `runMain graft.tools.PlanDump <outFile> [sfDir]`. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outFile = if (args.nonEmpty) args(0) else "PLANS.md"
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = graft.SparkSessionFactory.local(8, "graft-plandump")
    val tmpRoot = Files.createTempDirectory("plandump")
    try {
      run(spark, tmpRoot.toString, outFile, sfDir)
    } finally {
      spark.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(tmpRoot.toFile)
    }
  }

  private def run(spark: org.apache.spark.sql.SparkSession, tmpRoot: String,
      outFile: String, sfDir: String): Unit = {
    val tmp = tmpRoot + "/pages"
    Corpus.pages(spark, 300, seed = 42, noisyFrac = 0.0).toDF()
      .write.partitionBy("lang").parquet(tmp)
    val pages = spark.read.parquet(tmp)

    def fmt(df: org.apache.spark.sql.DataFrame): String = {
      val qe = df.queryExecution
      qe.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    }

    val sections = Seq(
      "extract prepare (column pruning: html binary never read; lang partition-pruned; filters at scan)" ->
        fmt(Extract.prepare(pages, ExtractorConfig())),
      "full extract (single mapPartitions barrier, zero shuffles)" ->
        fmt(Extract.triples(pages).toDF()),
      "j2_relation_fanout (broadcast hash join on the 16-row dim)" ->
        fmt(graft.SparkEntry.queries("j2_relation_fanout")(spark, sfDir)),
      "q1_pricing_summary (partial+final hash aggregate)" ->
        fmt(graft.SparkEntry.queries("q1_pricing_summary")(spark, sfDir)),
      "a1_metric_counters (two-phase agg incl. distinct)" ->
        fmt(graft.SparkEntry.queries("a1_metric_counters")(spark, sfDir)),
      "lsh_minhash_dedup (band fan-out + grouped bucket pairing + CC)" ->
        fmt(graft.SparkEntry.queries("lsh_minhash_dedup")(spark, sfDir)),
      "ann_cosine_topk (broadcast queries; per-partition bounded top-k heaps — the exchange carries only k×partitions survivor rows, never the scored corpus)" ->
        fmt(graft.SparkEntry.queries("ann_cosine_topk")(spark, sfDir)),
      "qa_samples (single-pass O3: per-doc counters as window aggregates + one explode — ONE copy of the subject/positive/negative subtree, one anti-join, one md5 downsample window)" ->
        fmt(graft.pipeline.QaGen.qaSamples(pages,
          Corpus.gold(spark, 300, seed = 42, noisyFrac = 0.0))),
      "a5_early_stop (a whole hyperparameter sweep early-stops in one pass: every window partitions by the run key, so after the history agg there is a single run-keyed exchange — no per-run driver loop)" ->
        fmt(graft.SparkEntry.queries("a5_early_stop")(spark, sfDir)),
      "curation_pipeline (quality gate → script gate → stratified sample → exact dedup → TF-IDF tagging as ONE declarative plan: all three gates fuse into a single scan-side filter before any shuffle)" ->
        fmt(graft.SparkEntry.queries("curation_pipeline")(spark, sfDir)),
      "StreamLink band-state read (per-micro-batch candidate scan: batch AND pbucket appear in PartitionFilters, so a batch touching k of N hash buckets reads, of each earlier batch, only the dirs those buckets map to at that batch's bucket level)" -> {
        import org.apache.spark.sql.functions.xxhash64
        import spark.implicits._
        val state = tmpRoot + "/linkstate"
        graft.streaming.StreamLink.processBatch(
          graft.pipeline.Extract.triples(pages).toDF()
            .filter(xxhash64(org.apache.spark.sql.functions.col("url")) % 2 === 0),
          state, batchId = 0, nStateBuckets = 8)
        fmt(graft.streaming.StreamLink.bandState(spark, state, batchId = 1, Seq(2L, 5L)))
      }
    )

    val body = sections.map { case (title, plan) =>
      val t = plan.trim
      val shown = if (t.length > 20000) t.take(20000) + "\n… (truncated)" else t
      s"## $title\n\n```\n$shown\n```\n"
    }.mkString(
      "# Physical plans (generated by graft.tools.PlanDump)\n\n" +
        "Regenerate: `sbt \"runMain graft.tools.PlanDump PLANS.md\"`.\n" +
        "Assertions over these properties live in PlanSpec.\n\n", "\n", "")
    Files.writeString(Paths.get(outFile), body)
    println(s"[plandump] wrote $outFile (${sections.size} plans)")
  }
}
