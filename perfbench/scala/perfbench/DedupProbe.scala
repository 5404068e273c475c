package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.ops.Dedup
import graft.synth.WebDocs

/** The `ops` layer: the three near-duplicate operators of `ops.Dedup` with
  * the operator battery's parameters, over seeded `WebDocs` documents and
  * embeddings written to parquet. It runs in `kg_incremental`'s traced run
  * only (a per-layer figure, no end-to-end metric): it shares the banded
  * pairing that linking uses, and a whole workload of its own does not fit
  * the benchmark's time budget on a 4-core host. */
final class DedupProbe(spark: SparkSession, seed: Long, work: String) {
  val docs = 4000L
  val vectors = 2000L
  val warmRows = 400L
  private val docDir = s"$work/dedup-docs"
  private val embDir = s"$work/dedup-emb"

  private def ops(docIn: DataFrame, embIn: DataFrame, tr: Tracer)
      : (DataFrame, DataFrame, DataFrame) = {
    val stats = tr.enabled
    val mh = tr.span("ops.minhash") {
      val r = Dedup.minhashLsh(docIn, "doc_id", "text", shingleN = 8, k = 16,
        bands = 4, threshold = 0.2, onStats = Option.when(stats) { s =>
          tr.attr("candidates", s.candidates); tr.attr("verified", s.verified)
          tr.attr("hot_buckets", s.hotBuckets)
        })
      r.count(); r
    }
    val sh = tr.span("ops.simhash") {
      val r = Dedup.simhashPairs(docIn, "doc_id", "text", maxHamming = 3,
        onStats = Option.when(stats) { s =>
          tr.attr("candidates", s.candidates); tr.attr("verified", s.pairs)
          tr.attr("hot_buckets", s.hotBuckets)
        })
      r.count(); r
    }
    val emb = tr.span("ops.emb") {
      val r = Dedup.embeddingNearDup(embIn, "vec_id", "embedding", threshold = 0.45,
        localThreshold = 0L, onStats = Option.when(stats) { s =>
          tr.attr("candidates", s.candidates); tr.attr("verified", s.verified)
        })
      r.count(); r
    }
    (mh, sh, emb)
  }

  /** Output counts: docs with another keeper, simhash pairs, vectors with
    * another keeper. */
  private def counts(r: (DataFrame, DataFrame, DataFrame)): Seq[Long] = {
    def moved(k: DataFrame) = k.filter(col("doc_id") =!= col("keeper")).count()
    Seq(moved(r._1), r._2.count(), moved(r._3))
  }

  /** Generate, warm up on a small input of another seed, run the three ops
    * once untraced and once under `tr`, and check their output. */
  def run(rec: Recorder, tr: Tracer): Unit = {
    WebDocs.documents(spark, docs, seed).write.mode("overwrite").parquet(docDir)
    WebDocs.embeddings(spark, vectors, seed + 1).write.mode("overwrite").parquet(embDir)
    ops(WebDocs.documents(spark, warmRows, seed + 2).localCheckpoint(),
      WebDocs.embeddings(spark, warmRows / 2, seed + 3).localCheckpoint(), Tracer.off)
    val plain = counts(ops(spark.read.parquet(docDir), spark.read.parquet(embDir), Tracer.off))
    val traced = tr.span("web_dedup.probe") {
      ops(spark.read.parquet(docDir), spark.read.parquet(embDir), tr)
    }
    val mh = traced._1
    val again = counts(traced)
    rec.check("dedup_counts_repeat", again == plain, s"pair counts $again traced vs $plain untraced")
    // every planted exact copy (i % 20 == 7) shares its keeper with doc i-1
    val copies = mh.as("a").join(mh.as("b"), col("a.doc_id") === col("b.doc_id") + 1)
      .filter(col("a.doc_id") % 20 === 7)
    val planted = copies.count()
    val split = copies.filter(col("a.keeper") =!= col("b.keeper")).count()
    rec.check("dedup_exact_copies_share_keeper", planted > 0 && split == 0,
      s"$split of $planted planted copies have another keeper than their original")
  }
}
