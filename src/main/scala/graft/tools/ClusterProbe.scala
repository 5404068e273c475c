package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkSessionFactory
import graft.pipeline.Extract
import graft.synth.Corpus

/** The multi-JVM identity check: the flagship extraction and the
  * incremental-linking drive, each run once under single-process
  * `local[2]` and once under `local-cluster[2,1,1024]` — two forked
  * executor JVMs, so closure/broadcast serialization, task-result transport
  * and the per-executor `ExtractorModel` singleton actually cross a process
  * boundary — must give bit-identical outputs (count + an
  * order-independent, multiset-sensitive checksum over every column).
  * Prints one JSON line and exits non-zero on a mismatch.
  *
  * `runMain graft.tools.ClusterProbe [docs]` (default 200). Tier-1 runs it
  * in a child JVM (`MultiJvmIdentitySpec`): the suites' shared session
  * leaves no room for a second SparkContext in the test JVM.
  */
object ClusterProbe {

  /** (row count, order-independent checksum) of `df` over `cols`. The fold
    * combines TWO commutative lanes over xxhash64 row hashes — bit_xor and
    * the low 64 bits of the exact integer SUM — because bit_xor alone is
    * multiset-BLIND in pairs (swapping one duplicated row for another
    * duplicated row cancels); the sum lane breaks that (a swap changes the
    * sum unless the two hashes are equal). The sum runs as decimal(38,0)
    * so it is overflow-free under ANSI mode to ~10^19 rows; the low-64
    * reduction happens on the driver. Order/partitioning-independent —
    * exactly what a cross-master bit-identity claim needs. */
  def checksumOf(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val h: Column = xxhash64(cols.map(col): _*)
    val row = df.agg(
      count(lit(1)),
      coalesce(bit_xor(h), lit(0L)),
      coalesce(sum(h.cast(DecimalType(38, 0))), lit(java.math.BigDecimal.ZERO))).head()
    val sumLow = row.getDecimal(2).toBigInteger.longValue() // sum mod 2^64
    (row.getLong(0), row.getLong(1) ^ java.lang.Long.rotateLeft(sumLow, 17))
  }

  /** (row count, checksum) of the extraction output. */
  def extractChecksum(spark: SparkSession, docs: Long): (Long, Long) = {
    val t = Extract.triples(
      Corpus.pages(spark, docs, seed = 11, noisyFrac = 0.02).toDF()).toDF()
    checksumOf(t, Seq("url", "subjectType", "subject", "relation",
      "objectType", "obj"))
  }

  /** (row count, checksum) of the INCREMENTAL LINKING output: a two-batch
    * StreamLink drive (extract → split by url hash → processBatch ×2 against
    * a fresh state dir) whose aggregated canonical triples are checksummed.
    * Unlike [[extractChecksum]] this exercises executor-fed STATE WRITES
    * (parquet state partitions produced by plans running on the executors)
    * plus the candidate join against state read back — the serialization
    * surface of the streaming path, checked across a process boundary by
    * [[main]]. */
  def linkChecksum(spark: SparkSession, docs: Long): (Long, Long) = {
    val work = java.nio.file.Files.createTempDirectory("graft-probe-link").toString
    try {
      val triples = Extract.triples(
        Corpus.pages(spark, docs, seed = 13, noisyFrac = 0.0).toDF()).toDF()
        .localCheckpoint() // both batch filters read the materialized triples
      graft.streaming.StreamLink.processBatch(
        triples.filter(xxhash64(col("url")) % 2 === 0), work, batchId = 0)
      graft.streaming.StreamLink.processBatch(
        triples.filter(xxhash64(col("url")) % 2 =!= 0), work, batchId = 1)
      checksumOf(graft.streaming.StreamLink.readCanonicalTriples(spark, work),
        Seq("subjectId", "subject", "subjectType", "relation",
          "objectId", "obj", "objectType", "urls"))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(work))
  }

  def main(args: Array[String]): Unit = {
    val docs = if (args.nonEmpty) args(0).toLong else 200L
    val local = SparkSessionFactory.local(2, "probe-local")
    val (c1, h1) = extractChecksum(local, docs)
    val (l1, lh1) = linkChecksum(local, docs)
    local.stop()
    val cl = SparkSessionFactory.cluster("local-cluster[2,1,1024]", "probe-cluster")
    val (c2, h2) = extractChecksum(cl, docs)
    val (l2, lh2) = linkChecksum(cl, docs)
    cl.stop()
    println(s"""{"docs":$docs,"local":{"triples":$c1,"checksum":$h1,"link_rows":$l1,"link_checksum":$lh1},""" +
      s""""cluster":{"triples":$c2,"checksum":$h2,"link_rows":$l2,"link_checksum":$lh2},""" +
      s""""match":${c1 == c2 && h1 == h2},"link_match":${l1 == l2 && lh1 == lh2}}""")
    require(c1 == c2 && h1 == h2, "multi-JVM extraction diverged from local mode")
    require(l1 == l2 && lh1 == lh2, "multi-JVM incremental linking diverged from local mode")
  }
}
