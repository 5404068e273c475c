package perfbench

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.encode.Encoder
import graft.eval.Metrics
import graft.functions.Spans
import graft.io.TableIO
import graft.model.KernelConfig
import graft.pipeline.{Extract, ExtractorConfig, ExtractorModel, Pipeline}
import graft.schema.{GoldTriple, Ontology, Triple}
import graft.sources.WarcIngest
import graft.synth.Corpus
import graft.tools.ClusterProbe

/** The north-star batch build: one WET archive → `Pipeline.run` (extract,
  * canonicalize, TableIO materialize with lineage) → the P/R gate over the
  * committed stage. The archive is deliberately ONE file: it reads as one
  * partition, so the kernel runs on one core — the starting baseline. */
final class KgBatch(spark: SparkSession, seed: Long, work: String, cores: Int) extends Workload {
  import spark.implicits._

  val docs = 240
  val noisyFrac = 0.02
  private val wetDir = s"$work/wet"
  private val goldDir = s"$work/gold"
  private val tripleCols = Seq("url", "subjectType", "subject", "relation", "objectType", "obj")
  private var reference: Option[(Long, Long)] = None
  private var runs = 0

  val minPasses = 2

  def generate(): Unit = {
    val specs = (0L until docs).map(i => Corpus.buildDoc(i, seed, noisyFrac))
    FileUtils.deleteQuietly(new java.io.File(wetDir))
    WarcIngest.writeWetRecords(wetDir, "crawl.wet", specs.map { d =>
      (d.page.url, if (d.page.lang == "zh") "zho" else "eng", d.page.text)
    })
    specs.flatMap(_.gold).toDS().write.mode("overwrite").parquet(goldDir)
  }

  private def cfg(dir: String) = Pipeline.Config(dir, nBuckets = 16,
    inputSnapshot = s"wet-$seed", completeInput = true)

  private def freshDir(): String = {
    runs += 1
    val d = s"$work/run-$runs"
    FileUtils.deleteQuietly(new java.io.File(d))
    d
  }

  private def gold = spark.read.parquet(goldDir).as[GoldTriple]

  private def committed(c: Pipeline.Config) =
    TableIO.readStage(spark, Pipeline.triplesDir(c)).select(tripleCols.map(col): _*).as[Triple]

  /** The P/R gate; returns (precision, recall, doc-exact precision). */
  private def gate(c: Pipeline.Config, pages: DataFrame): (Double, Double, Double) = {
    val (p, r, _) = Metrics.tripleSetPR(committed(c), gold)
    (p, r, Metrics.docExactPrecision(committed(c), gold, pages.select("url")))
  }

  /** The timed operation, untraced. */
  private def build(c: Pipeline.Config): (Long, (Double, Double, Double)) = {
    val pages = WarcIngest.readWet(spark, wetDir)
    val m = Pipeline.run(pages, c)
    (m("extract_triples_out"), gate(c, pages))
  }

  /** The same work as [[build]], split at each module boundary so every
    * layer is its own span: the read, prepare and extract frames are
    * materialized once each and reused by the next step. */
  private def tracedBuild(c: Pipeline.Config, tr: Tracer): (Long, (Double, Double, Double)) =
    tr.span("kg_batch.pass") {
      val pages = tr.span("sources.read") {
        val p = WarcIngest.readWet(spark, wetDir).persist()
        tr.attr("partitions", p.rdd.getNumPartitions)
        tr.attr("rows", p.count())
        p
      }
      val prepared = tr.span("pipeline.prepare") {
        val p = Extract.prepare(pages, c.extractor).persist()
        tr.attr("rows", p.count())
        p
      }
      val (triples, n) = tr.span("pipeline.extract") {
        val t = Extract.triplesFromPrepared(prepared, c.extractor).toDF().persist()
        val n = t.count()
        tr.attr("rows", n)
        tr.attr("partitions", t.rdd.getNumPartitions)
        (t, n)
      }
      tr.span("io.write") {
        TableIO.writeStage(triples, Pipeline.triplesDir(c), "extract", "url",
          c.nBuckets, c.inputSnapshot, completeInput = true)
      }
      tr.span("link.canonicalize")(Pipeline.runCanonicalize(spark, c))
      val g = tr.span("eval.pr")(gate(c, pages))
      triples.unpersist(); prepared.unpersist(); pages.unpersist()
      (n, g)
    }

  /** One untimed build, then the kernel over every document on the
    * calling thread: the build runs the kernel on one core, and its JIT
    * would otherwise still be settling during the first timed builds. */
  def warmup(): Unit = {
    val c = cfg(freshDir())
    build(c)
    FileUtils.deleteQuietly(new java.io.File(c.workDir))
    Log("warm-up build done")
    val ec = ExtractorConfig()
    val (gaz, kernel) = ExtractorModel.get(ec.kernel)
    val texts = Extract.prepare(WarcIngest.readWet(spark, wetDir), ec)
      .select("url", "text").as[(String, String)].collect()
    for (_ <- 1 to 2; (url, text) <- texts) Extract.extractDoc(url, text, gaz, kernel, ec)
  }

  def pass(rec: Recorder, tr: Tracer): Unit = {
    val c = cfg(freshDir())
    rec.call("build") {
      val r = if (rec.traced) tracedBuild(c, tr) else build(c)
      (r, r._1)
    }.foreach { case (n, (p, r, de)) =>
      // output checks, untimed
      rec.check("pr_gate", p >= 0.95 && r >= 0.95 && de >= 0.95, f"P=$p%.4f R=$r%.4f docExact=$de%.4f")
      val sum = ClusterProbe.checksumOf(TableIO.readStage(spark, Pipeline.triplesDir(c)), tripleCols)
      rec.check("triples_observed", sum._1 == n, s"observed $n, committed ${sum._1}")
      if (reference.isEmpty) reference = Some(sum)
      rec.check("triples_checksum", reference.contains(sum), s"$sum vs first pass ${reference.get}")
      val bad = TableIO.auditStage(spark, Pipeline.triplesDir(c), "url") ++
        TableIO.auditStage(spark, Pipeline.canonicalDir(c), "subject")
      rec.check("audit", bad.isEmpty, s"bad buckets ${bad.mkString(",")}")
      if (rec.traced) layerCounts(rec, c)
    }
    FileUtils.deleteQuietly(new java.io.File(c.workDir))
  }

  /** Link and write volumes of a traced build, counted after it. */
  private def layerCounts(rec: Recorder, c: Pipeline.Config): Unit = {
    val t = committed(c)
    val surf = graft.link.Linker.surfaces(t)
    rec.layer("link.surfaces") = surf.count().toDouble
    rec.layer("link.candidate_edges") = graft.link.Linker.candidateEdges(surf).count().toDouble
    rec.layer("link.canonical_triples") =
      TableIO.readStage(spark, Pipeline.canonicalDir(c)).count().toDouble
    val (files, bytes) = Disk.usage(Pipeline.triplesDir(c), ".parquet")
    rec.layer("io.files_written") = files.toDouble
    rec.layer("io.bytes_written") = bytes.toDouble
  }

  /** Single-thread kernel-side lanes on the workload's own documents, with
    * no Spark in the loop (also the raw-JVM host control). */
  override def layerProbes(rec: Recorder, tr: Tracer): Unit = {
    val ec = ExtractorConfig()
    val (gaz, kernel) = ExtractorModel.get(KernelConfig())
    val texts = Extract.prepare(WarcIngest.readWet(spark, wetDir), ec)
      .select("url", "text").as[(String, String)].limit(64).collect()
    val subjQs = Ontology.subject2question.toList
    val reqs = texts.flatMap { case (_, text) =>
      subjQs.map { case (st, q) =>
        val row = Encoder.encode(text, q, ec.maxSeq)
        (row, gaz.subjectSpans(text, st).filter(_.end <= row.lenContext), Ontology.questionDic(st))
      }
    }
    val batches = reqs.grouped(Extract.kernelBatchSize).toArray
    val tags = batches.flatMap(b => kernel.tagBatch(b))
    val turn1 = texts.map { case (_, text) => Extract.turn1(text, gaz, kernel, ec) }
    val turn2 = turn1.map(_.map { case (st, ms, _) => ms.size * Ontology.questionTurn(st).size }.sum).sum
    rec.layer("model.rows_per_doc") = (reqs.length + turn2).toDouble / texts.length

    rec.layer("encode.rows_per_s") = Lanes.rate(1) { _ =>
      texts.foreach { case (_, text) => subjQs.foreach { case (_, q) => Encoder.encode(text, q, ec.maxSeq) } }
      texts.length * subjQs.size
    }
    rec.layer("model.tag_rows_per_s_1t") = Lanes.rate(1) { _ =>
      batches.foreach(kernel.tagBatch(_)); reqs.length
    }
    rec.layer("model.tag_rows_per_s_4t") = Lanes.rate(cores) { _ =>
      batches.foreach(kernel.tagBatch(_)); reqs.length
    }
    rec.layer("functions.decode_rows_per_s") = Lanes.rate(1) { _ =>
      tags.zip(reqs).foreach { case (t, r) => Spans.indicesFromLabel(t, r._3) }
      tags.length
    }
    rec.layer("pipeline.extract_doc_p50_ms") = 1e3 * Lanes.median(texts.toSeq) {
      case (url, text) => Extract.extractDoc(url, text, gaz, kernel, ec)
    }
  }
}

/** Fixed-duration lanes for the per-layer probes, outside Spark. */
object Lanes {
  val seconds = 1.0

  /** Units per second of `body` run by `threads` threads for [[seconds]]. */
  def rate(threads: Int)(body: Int => Int): Double = {
    body(0) // warm
    val done = new java.util.concurrent.atomic.AtomicLong()
    val t0 = System.nanoTime()
    val until = t0 + (seconds * 1e9).toLong
    val ts = (0 until threads).map { i =>
      new Thread(() => while (System.nanoTime() < until) done.addAndGet(body(i).toLong))
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    done.get() / ((System.nanoTime() - t0) / 1e9)
  }

  /** Median seconds of `f` over the items, cycled for [[seconds]]. */
  def median[T](items: Seq[T])(f: T => Any): Double = {
    val until = System.nanoTime() + (seconds * 1e9).toLong
    val per = scala.collection.mutable.ArrayBuffer.empty[Double]
    do items.foreach { x =>
      val t0 = System.nanoTime()
      f(x)
      per += (System.nanoTime() - t0) / 1e9
    } while (System.nanoTime() < until)
    per.sorted.apply(per.size / 2)
  }
}

object Disk {
  /** (files, bytes) under `dir` whose names end with `suffix`. */
  def usage(dir: String, suffix: String = ""): (Long, Long) = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) (0L, 0L)
    else {
      val s = java.nio.file.Files.walk(p)
      try {
        var n = 0L; var b = 0L
        s.iterator().forEachRemaining { f =>
          if (java.nio.file.Files.isRegularFile(f) && f.getFileName.toString.endsWith(suffix)) {
            n += 1; b += java.nio.file.Files.size(f)
          }
        }
        (n, b)
      } finally s.close()
    }
  }
}
