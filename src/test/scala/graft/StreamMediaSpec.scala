package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.multimodal.Media
import graft.pipeline.Extract
import graft.streaming.StreamExtract
import graft.synth.Corpus

/** Structured Streaming incremental extraction + multimodal plumbing. */
class StreamExtractSpec extends SparkSpec {

  test("AvailableNow stream equals batch output, and resumes incrementally") {
    val root = Files.createTempDirectory("graft-stream").toString
    val pagesDir = s"$root/pages"
    val outDir = s"$root/triples"
    val ckptDir = s"$root/ckpt"

    val batch1 = Corpus.pages(spark, 120, seed = 42, noisyFrac = 0.0).toDF()
    batch1.write.parquet(pagesDir)

    val q1 = StreamExtract.runAvailableNow(spark, pagesDir, outDir, ckptDir)
    q1.awaitTermination()
    val got1 = spark.read.parquet(outDir)
    val want1 = Extract.triples(batch1).toDF()
    assert(got1.count() === want1.count())
    assert(got1.collect().map(_.toSeq).toSet === want1.collect().map(_.toSeq).toSet)

    // new files land: restart with same checkpoint → only new pages processed
    val batch2 = Corpus.pages(spark, 80, seed = 99, noisyFrac = 0.0).toDF()
    batch2.write.mode("append").parquet(pagesDir)
    val q2 = StreamExtract.runAvailableNow(spark, pagesDir, outDir, ckptDir)
    q2.awaitTermination()
    val got2 = spark.read.parquet(outDir)
    val want2 = Extract.triples(batch2).toDF()
    assert(got2.count() === want1.count() + want2.count())
  }

  test("watermarked triple-rate aggregation produces windowed counts") {
    val root = Files.createTempDirectory("graft-stream2").toString
    val pagesDir = s"$root/pages"
    Corpus.pages(spark, 150, seed = 7, noisyFrac = 0.0).toDF().write.parquet(pagesDir)

    val agg = StreamExtract.tripleRate(StreamExtract.readPages(spark, pagesDir))
    val q = agg.writeStream.format("memory").queryName("triple_rate")
      .outputMode("update").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.sql("SELECT * FROM triple_rate")
    assert(rows.count() > 0)
    val total = rows.agg(sum("triples")).head().getLong(0)
    val batchTotal = Extract.triples(
      Corpus.pages(spark, 150, seed = 7, noisyFrac = 0.0).toDF()).count()
    assert(total === batchTotal)
  }
}

class StreamDedupSpec extends SparkSpec {

  test("streaming exact dedup keeps one doc per fingerprint across restarts") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-sdedup").toString
    val inDir = s"$root/in"
    val outDir = s"$root/out"
    val ckpt = s"$root/ckpt"

    def docs(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
      .withColumn("warc_ts", (lit(1767225600L) + col("doc_id")).cast("timestamp"))

    docs(Seq((1L, "alpha beta"), (2L, "alpha  BETA"), (3L, "gamma"))).write.parquet(inDir)
    val schema = spark.read.parquet(inDir).schema
    def runOnce(): Unit = {
      val q = graft.streaming.StreamDedup.exactDedup(
          spark.readStream.schema(schema).parquet(inDir))
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    val got1 = spark.read.parquet(outDir)
    // (1,2) share a fingerprint (whitespace/case-normalized) → one survivor
    assert(got1.count() === 2)
    assert(got1.select("fp").distinct().count() === 2)

    // restart with new files: a re-arriving duplicate of doc 3 is dropped by
    // the checkpointed state; a genuinely new doc passes
    docs(Seq((4L, "GAMMA"), (5L, "delta"))).write.mode("append").parquet(inDir)
    runOnce()
    val got2 = spark.read.parquet(outDir)
    assert(got2.count() === 3)
    assert(!got2.select("doc_id").as[Long].collect().contains(4L))
    assert(got2.select("doc_id").as[Long].collect().contains(5L))
  }
}

class StreamSimhashDedupSpec extends SparkSpec {

  test("streaming simhash suppression collapses signature-identical variants") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-simdedup").toString
    val inDir = s"$root/in"
    val outDir = s"$root/out"
    val base = "spark catalyst tungsten codegen shuffle partition broadcast join " * 3
    Seq(
      (1L, base),
      (2L, base.replace(" ", "  ") + " "), // whitespace drift: same simhash
      (3L, "entirely different words about unrelated topics and matters " * 3),
      // degenerate + formerly-degenerate keys (ADVICE r2): blank docs have no
      // signature and fall back to the exact fingerprint; punctuation-only
      // and CJK docs get REAL char-trigram signatures (an ASCII \W+
      // tokenizer gave all of these sim 0 and kept only the first)
      (4L, ""), (5L, "   "), // blank variants — mutual exact dups, collapse
      (6L, "!!! ??? ;;;"), (7L, "... --- ***"), // distinct punct-only: both survive
      (8L, "肺部未见明显异常密度影" * 3), (9L, "胸膜增厚伴少量积液完全不同" * 3))
      .toDF("doc_id", "text")
      .withColumn("warc_ts", (lit(1767225600L) + col("doc_id")).cast("timestamp"))
      .write.parquet(inDir)
    val schema = spark.read.parquet(inDir).schema
    val q = graft.streaming.StreamDedup.simhashDedup(
        spark.readStream.schema(schema).parquet(inDir))
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", s"$root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    import spark.implicits._
    val got = spark.read.parquet(outDir)
    val ids = got.select("doc_id").as[Long].collect().toSet
    // 1/2 collapse (whitespace drift), 4/5 collapse (blank ⇒ exact-dup), and
    // every doc with DISTINCT content survives
    assert(ids.intersect(Set(1L, 2L)).size === 1, s"got $ids")
    assert(ids.intersect(Set(4L, 5L)).size === 1, s"got $ids")
    assert(Set(3L, 6L, 7L, 8L, 9L).subsetOf(ids), s"got $ids")
    assert(got.count() === 7)
  }
}

class StreamNearDupSpec extends SparkSpec {

  test("banded state suppresses a hamming>=1 near-dup in-stream, across restarts") {
    import java.nio.file.Files
    import spark.implicits._
    import graft.ops.Hashing
    import graft.streaming.StreamDedup

    val root = Files.createTempDirectory("graft-neardup").toString
    val inDir = s"$root/in"
    val keptDir = s"$root/kept"
    val ckpt = s"$root/ckpt"
    val maxHamming = 3

    val base = ("the quick brown fox jumps over the lazy dog while spark " +
      "catalyst plans tungsten codegen shuffles partitions broadcasts ") * 3 +
      "unique closing sentence with several distinct tokens here"
    // pick an edit whose simhash lands at 1 <= hamming <= maxHamming — a
    // SMALL but non-zero signature perturbation (one-char tail swaps change
    // ≤ 3 trigrams; the probe makes it a precondition, not luck)
    val simBase = Hashing.simhashText(base)
    val nearDup = ('a' to 'z').map(c => base.dropRight(1) + c)
      .find { t =>
        val h = java.lang.Long.bitCount(simBase ^ Hashing.simhashText(t))
        h >= 1 && h <= maxHamming
      }
    assert(nearDup.isDefined, "no candidate edit landed within the radius")
    val far = "completely unrelated content about monoids functors and lenses " * 4

    def docs(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
      .withColumn("warc_ts", (lit(1767225600L) + col("doc_id")).cast("timestamp"))
    val schema = docs(Seq((0L, ""))).schema

    def runOnce(): Unit = {
      val q = StreamDedup.nearDupVerdicts(
          spark.readStream.schema(schema).parquet(inDir), maxHamming = maxHamming)
        .writeStream
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[StreamDedup.BandVerdict], _: Long) =>
            // all band rows of a doc are co-batched: the per-doc vote is a
            // plain per-batch aggregation
            StreamDedup.keptDocs(batch.toDF(), maxHamming)
              .write.mode("append").parquet(keptDir)
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    docs(Seq((1L, base), (2L, far))).write.parquet(inDir)
    runOnce()
    val kept1 = spark.read.parquet(keptDir).as[Long].collect().toSet
    assert(kept1 === Set(1L, 2L))

    // restart with new files: the 1-bit-flipped near-dup is suppressed by
    // the CHECKPOINTED band state; a genuinely new doc passes
    docs(Seq((3L, nearDup.get), (4L, "fresh novel text about entirely new things " * 4)))
      .write.mode("append").parquet(inDir)
    runOnce()
    val kept2 = spark.read.parquet(keptDir).as[Long].collect().toSet
    assert(kept2 === Set(1L, 2L, 4L), s"got $kept2")
  }

  test("solved m>r+1 geometry (blocks=5): near-dup suppressed across restarts, " +
      "fresh docs kept — the batch solveSimhashBlocks layout in keyed state") {
    import java.nio.file.Files
    import spark.implicits._
    import graft.ops.Hashing
    import graft.streaming.StreamDedup

    val root = Files.createTempDirectory("graft-neardup-m5").toString
    val inDir = s"$root/in"
    val keptDir = s"$root/kept"
    val ckpt = s"$root/ckpt"
    val maxHamming = 3
    val blocks = 5 // C(5,2)=10 tables of ~25-bit keys — the ~10^9-doc solve

    val base = ("the quick brown fox jumps over the lazy dog while spark " +
      "catalyst plans tungsten codegen shuffles partitions broadcasts ") * 3 +
      "unique closing sentence with several distinct tokens here"
    val simBase = Hashing.simhashText(base)
    val nearDup = ('a' to 'z').map(c => base.dropRight(1) + c)
      .find { t =>
        val h = java.lang.Long.bitCount(simBase ^ Hashing.simhashText(t))
        h >= 1 && h <= maxHamming
      }
    assert(nearDup.isDefined, "no candidate edit landed within the radius")

    // geometry sanity: a radius-3 pair must share >= 1 of the 10 subset keys
    // (pigeonhole over 5 blocks), and the fan-out is exactly C(5,2)
    val tables = Hashing.simhashTables(blocks, maxHamming)
    val k1 = Hashing.simhashTableKeys(simBase, tables)
    val k2 = Hashing.simhashTableKeys(Hashing.simhashText(nearDup.get), tables)
    assert(k1.length === 10 && k2.length === 10)
    assert(k1.zip(k2).exists { case (a, b) => a == b },
      "an in-radius pair must collide in at least one solved-geometry table")

    def docs(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
      .withColumn("warc_ts", (lit(1767225600L) + col("doc_id")).cast("timestamp"))
    val schema = docs(Seq((0L, ""))).schema

    def runOnce(): Unit = {
      val q = StreamDedup.nearDupVerdicts(
          spark.readStream.schema(schema).parquet(inDir),
          maxHamming = maxHamming, blocks = blocks)
        .writeStream
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[StreamDedup.BandVerdict], _: Long) =>
            StreamDedup.keptDocs(batch.toDF(), maxHamming)
              .write.mode("append").parquet(keptDir)
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    docs(Seq((1L, base), (2L, "completely unrelated content about monoids " +
      "functors and lenses " * 4))).write.parquet(inDir)
    runOnce()
    assert(spark.read.parquet(keptDir).as[Long].collect().toSet === Set(1L, 2L))

    // restart: the near-dup is suppressed by CHECKPOINTED solved-geometry
    // state; a fresh doc passes — restart parity at m > r+1
    docs(Seq((3L, nearDup.get), (4L, "fresh novel text about entirely new things " * 4)))
      .write.mode("append").parquet(inDir)
    runOnce()
    val kept2 = spark.read.parquet(keptDir).as[Long].collect().toSet
    assert(kept2 === Set(1L, 2L, 4L), s"got $kept2")
  }

  test("band state is EVICTED once the watermark passes the horizon " +
      "(documented cross-horizon trade: the late copy is kept)") {
    import java.nio.file.Files
    import spark.implicits._
    import graft.streaming.StreamDedup

    val root = Files.createTempDirectory("graft-neardup-evict").toString
    val inDir = s"$root/in"
    val keptDir = s"$root/kept"
    val ckpt = s"$root/ckpt"
    val horizonMs = 60000L // 1 minute
    val base = "state eviction corpus text with enough distinct trigrams to sign " * 4

    def docs(rows: Seq[(Long, Long)], text: Long => String) =
      rows.toDF("doc_id", "sec").select(col("doc_id"),
        udf(text).apply(col("doc_id")).as("text"),
        (lit(1767225600L) + col("sec")).cast("timestamp").as("warc_ts"))
    val schema = docs(Seq((0L, 0L)), _ => "x").schema
    def runOnce(): Unit = {
      val q = StreamDedup.nearDupVerdicts(
          spark.readStream.schema(schema).parquet(inDir),
          horizonMs = horizonMs, maxHamming = 3)
        .writeStream
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[StreamDedup.BandVerdict], _: Long) =>
            StreamDedup.keptDocs(batch.toDF(), 3).write.mode("append").parquet(keptDir)
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    docs(Seq((1L, 0L)), _ => base).write.parquet(inDir)
    runOnce()
    // a far-future unrelated doc advances the watermark well past
    // lastSeen(1) + horizon: doc 1's band state times out on this restart
    docs(Seq((2L, 500000L)), _ => "totally different watermark advancing content " * 4)
      .write.mode("append").parquet(inDir)
    runOnce()
    // an EXACT copy of doc 1 arriving after the horizon is admitted again —
    // the documented state-bounding trade (batch simhashPairs owns
    // cross-horizon dedup); within-horizon it would have been suppressed
    docs(Seq((3L, 500001L)), _ => base).write.mode("append").parquet(inDir)
    runOnce()
    val kept = spark.read.parquet(keptDir).as[Long].collect().toSet
    assert(kept === Set(1L, 2L, 3L), s"got $kept")
  }
}

class MediaSpec extends SparkSpec {

  test("header parse round-trips the synthetic container") {
    import spark.implicits._
    val media = Media.corpus(spark, 60, seed = 3)
    val metas = Media.extractMeta(media).collect()
    assert(metas.length === 60)
    assert(metas.forall(_.valid))
    assert(metas.map(_.kind).toSet === Set(0, 1, 2))
    // widths match the generator formula
    metas.foreach { m =>
      val i = m.url.takeRight(10).toLong
      assert(m.width === 16 + (i % 48).toInt)
    }
  }

  test("corrupt blobs are flagged, not fatal") {
    import spark.implicits._
    val bad = Seq(
      Media.MediaRow("media://bad/1", 0, "NOPE".getBytes ++ Array[Byte](1, 2, 3, 4, 5)),
      Media.MediaRow("media://bad/2", 0, Array[Byte](1)),
      Media.MediaRow("media://bad/3", 0, null)
    ).toDS()
    val metas = Media.extractMeta(bad).collect()
    assert(metas.forall(!_.valid))
  }

  test("video frame sampling: every 2nd FRAME_BYTES slice, co-partitioned") {
    import spark.implicits._
    val media = Media.corpus(spark, 90, seed = 3)
    val frames = Media.sampleFrames(media, stride = 2).collect()
    val videos = Media.extractMeta(media).filter(col("kind") === Media.KIND_VIDEO)
      .as[Media.MediaMeta].collect()
    val expected = videos.map(v =>
      (0 until (v.payloadBytes / Media.FRAME_BYTES).toInt by 2).size).sum
    assert(frames.length === expected)
    assert(frames.forall(_.frame.length === Media.FRAME_BYTES))
  }

  test("batched feature extraction is deterministic and unit-norm") {
    val media = Media.corpus(spark, 50, seed = 3)
    val f1 = Media.features(media).collect().map(f => f.url -> f.feature.toSeq).toMap
    val f2 = Media.features(media, batchSize = 7).collect()
      .map(f => f.url -> f.feature.toSeq).toMap
    assert(f1 === f2) // batch shape must not affect values
    f1.values.foreach { v =>
      val n = math.sqrt(v.map(x => x * x).sum)
      assert(math.abs(n - 1.0) < 1e-4)
    }
  }
}
