package perfbench

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}

import graft.link.{Compaction, Linker}
import graft.schema.Triple
import graft.streaming.StreamLink
import graft.synth.{Corpus, LinkCorpus}
import graft.tools.ClusterProbe

/** Incremental linking: pre-written micro-batches are linked one by one
  * into a growing state dir with `StreamLink.processBatch`, then the state
  * is compacted with `Compaction.compact`. No kernel runs, in the loop or
  * in set-up.
  *
  * Batch 0 holds `LinkCorpus` families at variants v1 and v2, which do not
  * verify against each other and publish two components per family; batch
  * 1 holds the same families at v0, which verifies against both and so
  * bridges them. Each batch also carries half of the gold triples of a set
  * of `Corpus` docs (what extraction yields at P/R ≥ 0.95), whose Zipf-hot
  * subjects attach to surfaces already in the state. One pass is one round over both batches into a fresh state
  * dir. */
final class KgIncremental(spark: SparkSession, seed: Long, work: String) extends Workload {
  import spark.implicits._

  val batches = 2
  val families = 1000
  val corpusDocs = 120
  private val inDir = s"$work/batches"
  private val canonCols = Seq("subjectId", "subject", "subjectType", "relation",
    "objectId", "obj", "objectType", "urls")
  private val firstFamily = (seed & 0xffffffL) * 1000000L
  private var rows = Array.empty[Long]
  private var reference: Option[(Long, Long)] = None

  private def batchPath(j: Int) = s"$inDir/b=$j"

  /** Writes both batches in one job and counts their rows. */
  val minPasses = 2

  def generate(): Unit = {
    FileUtils.deleteQuietly(new java.io.File(inDir))
    def link(v: Int, b: Int) =
      LinkCorpus.triples(spark, firstFamily, firstFamily + families, v).withColumn("b", lit(b))
    val corpus = Corpus.gold(spark, corpusDocs, seed)
      .select("url", "subjectType", "subject", "relation", "objectType", "obj")
      .withColumn("b", pmod(xxhash64(col("url")), lit(batches)))
    Seq(link(1, 0), link(2, 0), link(0, 1), corpus).reduce(_ unionByName _)
      .repartition(col("b")).write.partitionBy("b").parquet(inDir)
    val counts = spark.read.parquet(inDir).groupBy("b").count().as[(Int, Long)].collect().toMap
    rows = Array.tabulate(batches)(j => counts.getOrElse(j, 0L))
  }

  private def round(rec: Recorder, tr: Tracer, dir: String): Unit = {
    val state = s"$dir/state"
    val out = s"$dir/compacted"
    for (j <- 0 until batches) rec.call("batch") {
      tr.span("streaming.batch") {
        StreamLink.processBatch(spark.read.parquet(batchPath(j)), state, batchId = j)
      }
      ((), rows(j))
    }
    // traced passes also time reading the state back
    if (tr.enabled) tr.span("streaming.read")(StreamLink.readCanonicalTriples(spark, state).count())
    rec.call("compact") {
      tr.span("link.compact") {
        tr.attr("migration_rows", Compaction.compact(spark, state, out).count())
      }
      ((), 0L)
    }
    if (tr.enabled) tr.span("io.snapshot_read")(StreamLink.readCanonicalTriples(spark, out).count())
  }

  def warmup(): Unit = {
    round(new Recorder, Tracer.off, s"$work/warm")
    FileUtils.deleteQuietly(new java.io.File(s"$work/warm"))
  }

  def pass(rec: Recorder, tr: Tracer): Unit = {
    val dir = s"$work/round-${rec.pass}"
    FileUtils.deleteQuietly(new java.io.File(dir))
    tr.span("kg_incremental.pass")(round(rec, tr, dir))
    // output check, untimed: the compacted state equals a from-scratch
    // batch linker over every batch of the round
    if (reference.isEmpty) {
      val union = (0 until batches).map(j => spark.read.parquet(batchPath(j)))
        .reduce(_ unionByName _).as[Triple]
      reference = Some(ClusterProbe.checksumOf(Linker.canonicalTriples(union).toDF(), canonCols))
    }
    val got = scala.util.Try(
      ClusterProbe.checksumOf(StreamLink.readCanonicalTriples(spark, s"$dir/compacted"), canonCols))
    rec.check("compacted_equals_batch_linker", got.toOption == reference,
      s"compacted $got vs from-scratch ${reference.get}")
    if (rec.traced) {
      val state = s"$dir/state"
      val (files, bytes) = Disk.usage(state, ".parquet")
      rec.layer("streaming.state_files") = files.toDouble
      rec.layer("streaming.state_bytes") = bytes.toDouble
      rec.layer("streaming.surfaces") = StreamLink.readResolution(spark, state).count().toDouble
      rec.layer("streaming.bridges") = StreamLink.readBridges(spark, state).count().toDouble
    }
    FileUtils.deleteQuietly(new java.io.File(dir))
  }

  override def layerProbes(rec: Recorder, tr: Tracer): Unit =
    new DedupProbe(spark, seed, work).run(rec, tr)
}
