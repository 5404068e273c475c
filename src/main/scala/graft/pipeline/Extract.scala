package graft.pipeline

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.sql.{Dataset, DataFrame}
import org.apache.spark.sql.functions._

import graft.encode.Encoder
import graft.functions.{Spans, TextNorm}
import graft.model.{Gazetteer, Kernel, KernelConfig}
import graft.schema._

/** The multi-turn extraction pipeline — the Spark re-realization of
  * `run_qa.py --do_predict` (run_qa.py:412-508).
  *
  * Plan shape (scale rationale):
  *  - relational prep (newline strip F3, length/organ filter F2, lang/column
  *    pruning) runs as native Catalyst expressions BEFORE the inference
  *    barrier, so filter/pruning push down to the scan — `html binary` is
  *    never read on this path;
  *  - both question turns are FUSED into ONE `mapPartitions` barrier: turn 2
  *    depends only on the same document's turn-1 output (run_qa.py:475-477),
  *    and the question/relation dims are closure constants (<1KB) — so the
  *    whole extractor is shuffle-free and scales linearly with input splits;
  *  - per-doc mention dedup (J3, run_qa.py:467-471) and triple dedup (J4,
  *    run_qa.py:486-487) happen in-operator (insertion-ordered sets), again
  *    avoiding a corpus-wide shuffle that the reference semantics don't need.
  *
  * The model (gazetteer + kernel weights) is materialized once per executor
  * JVM via a lazy singleton — the analogue of the reference's mmap model load
  * (utils/file_utils.py:251-255).
  */
final case class ExtractorConfig(
    maxSeq: Int = 168,
    kernel: KernelConfig = KernelConfig(),
    langFilter: Option[String] = Some("zh")
)

object ExtractorModel {
  private val cache = TrieMap.empty[KernelConfig, (Gazetteer, Kernel)]
  def get(cfg: KernelConfig): (Gazetteer, Kernel) =
    cache.getOrElseUpdate(cfg, (Gazetteer.fromLexicon(), new Kernel(cfg, graft.encode.CharVocab.size)))
}

object Extract {

  /** F2/F3 + lang prep as native columns (predicate pushdown, column
    * pruning: only url/text — plus any `keep` passthrough columns, e.g. the
    * event-time column the streaming monitor needs — survive). Single
    * definition of the filter chain: batch extract and streaming both call
    * this, so they can never silently diverge. */
  def prepare(pages: DataFrame, cfg: ExtractorConfig, keep: Seq[String] = Nil): DataFrame = {
    val base = cfg.langFilter.fold(pages)(l => pages.filter(col("lang") === lit(l)))
    base
      .select(col("url") +: TextNorm.stripNewlines(col("text")).as("text") +:
        keep.map(col): _*)
      .filter(length(col("text")) > 0 &&
        !col("text").contains("肝") && !col("text").contains("胃") &&
        !col("text").contains("甲状腺"))
  }

  /** Kernel forward batch size — the reference's DataLoader(batch_size=32)
    * (run_qa.py:167-171); batched results are bit-identical to row-at-a-time
    * ([[graft.model.Kernel.tagBatch]]), so this is purely a matmul-shape knob. */
  val kernelBatchSize = 32

  /** Turn 1 for one document: the 4 subject questions → encode → ONE batched
    * kernel forward → Viterbi tags → span decode → deduped mention tokens
    * per type (run_qa.py:440-471). Also carries the FIRST raw decoded span's
    * token (pre-dedup, pre-emptiness-filter) — `head_entity['indices'][0]`,
    * which is all the O6 subject-only branch consumes (run_qa.py:489). */
  def turn1(text: String, gaz: Gazetteer, kernel: Kernel, cfg: ExtractorConfig): List[(String, List[String], Option[String])] = {
    val subjQs = Ontology.subject2question.toList
    val reqs = subjQs.map { case (st, question) =>
      val row = Encoder.encode(text, question, cfg.maxSeq)
      val bias = gaz.subjectSpans(text, st).filter(_.end <= row.lenContext)
      (row, bias, Ontology.questionDic(st))
    }.toArray
    val tags = kernel.tagBatch(reqs)
    subjQs.zipWithIndex.map { case ((st, _), i) =>
      val spans = Spans.indicesFromLabel(tags(i), Ontology.questionDic(st))
      val mentions = mutable.LinkedHashSet.empty[String]
      spans.foreach { sp =>
        val tok = text.substring(sp.start, math.min(sp.end, text.length))
        if (tok.nonEmpty) mentions += tok // J3 dedup, run_qa.py:467-471
      }
      val firstRaw = spans.headOption.map(sp => text.substring(sp.start, math.min(sp.end, text.length)))
      (st, mentions.toList, firstRaw)
    }
  }

  /** Full per-document extraction (the body of the predict loop,
    * run_qa.py:436-496). Turn 2 asks every allowed relation per turn-1
    * mention (`mention + relation2question[rel]`, get_tail_entities,
    * run_qa.py:384-410) with the question rows batched through the kernel in
    * [[kernelBatchSize]] chunks; request order matches the reference's
    * nested type → mention → relation loop, so the insertion-ordered J4
    * dedup sees triples in the same order as the row-at-a-time form. */
  def extractDoc(url: String, text: String, gaz: Gazetteer, kernel: Kernel,
      cfg: ExtractorConfig,
      questionTurn: Map[String, List[String]] = Ontology.questionTurn): List[Triple] = {
    // O6 (run_qa.py:488-496): a subject type with NO turn-2 relations emits
    // one subject-only record from the FIRST raw turn-1 span (pre-dedup,
    // run_qa.py:489 `head_entity['indices'][0]`) with empty
    // relation/object_type/object. Dead under the reference's shipped
    // ontology — every subject type there has relations
    // (data/data_utils.py:108-126), pinned in ExtractSpec — but carried so a
    // trimmed ontology behaves identically. `questionTurn` is the injection
    // point; production callers use the shipped ontology default.
    val out = mutable.LinkedHashSet.empty[Triple] // J4 dedup
    val t1 = turn1(text, gaz, kernel, cfg)
    val t2Meta = (for {
      (st, mentions, _) <- t1
      m <- mentions
      rel <- questionTurn(st)
    } yield (st, m, rel)).toArray
    // Decode all turn-2 requests batched, buffering triples per request so
    // the final emission can interleave O6 subject-only records at their
    // type's position (the reference appends them inline in the per-type
    // loop, run_qa.py:461-496).
    val decoded = new Array[List[Triple]](t2Meta.length)
    t2Meta.zipWithIndex.toSeq.grouped(kernelBatchSize).foreach { chunk =>
      val reqs = chunk.map { case ((_, m, rel), _) =>
        val row = Encoder.encode(text, m + Ontology.relation2question(rel), cfg.maxSeq)
        val bias = gaz.objectSpans(text, m, rel).filter(_.end <= row.lenContext)
        (row, bias, Ontology.questionDic(rel))
      }.toArray
      val tags = kernel.tagBatch(reqs)
      chunk.zipWithIndex.foreach { case (((st, m, rel), metaIx), i) =>
        decoded(metaIx) = Spans.indicesFromLabel(tags(i), Ontology.questionDic(rel)).flatMap { sp =>
          val obj = text.substring(sp.start, math.min(sp.end, text.length))
          if (obj.nonEmpty) Some(Triple(url, st, m, rel, rel, obj)) else None
        }.toList
      }
    }
    var metaIx = 0
    t1.foreach { case (st, mentions, firstRaw) =>
      if (questionTurn(st).isEmpty)
        firstRaw.foreach(tok => out += Triple(url, st, tok, "", "", ""))
      else {
        val n = mentions.length * questionTurn(st).length
        var j = 0
        while (j < n) { decoded(metaIx + j).foreach(out += _); j += 1 }
        metaIx += n
      }
    }
    out.toList
  }

  /** The inference barrier alone, over an already-[[prepare]]d (url, text)
    * frame — split out so callers can observe/instrument the prepared stage. */
  def triplesFromPrepared(prepared: DataFrame, cfg: ExtractorConfig = ExtractorConfig()): Dataset[Triple] = {
    val spark = prepared.sparkSession
    import spark.implicits._
    prepared.as[(String, String)].mapPartitions { docs =>
      val (gaz, kernel) = ExtractorModel.get(cfg.kernel)
      docs.flatMap { case (url, text) => extractDoc(url, text, gaz, kernel, cfg) }
    }
  }

  /** The whole extractor: one shuffle-free mapPartitions over prepared docs. */
  def triples(pages: DataFrame, cfg: ExtractorConfig = ExtractorConfig()): Dataset[Triple] =
    triplesFromPrepared(prepare(pages, cfg), cfg)
}
