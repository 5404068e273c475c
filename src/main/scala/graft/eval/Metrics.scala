package graft.eval

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Spans
import graft.schema._

/** Evaluation — faithful to utils/evaluate_funcs.py, expressed as joins and
  * hash aggregations (partial+final for free; no UDAF, no collect).
  */
/** The dictionary pair the per-type accounting is keyed by.
  * `compute_performance` is otherwise IDENTICAL between the reference's main
  * eval and its NER twin (diff-verified: utils/evaluate_funcs_NER.py swaps
  * `question_dic`/`id2relation` for `entity2id`/`id2entity` and changes
  * nothing else), so the schema is a parameter here, not a second code path.
  *
  * @param id2name   B-tag id → metric-row name (id2relation / id2entity)
  * @param macroKeys the performance_dic key set the macro average divides by
  */
final case class EvalSchema(id2name: Map[Int, String], macroKeys: Seq[String])

object EvalSchema {
  /** Main eval: keyed by the relation dictionary (evaluate_funcs.py:15,127). */
  val relation: EvalSchema = EvalSchema(Ontology.id2relation, Ontology.spanTypes)
  /** NER twin: keyed by the entity dictionaries
    * (evaluate_funcs_NER.py:15,127; dicts data/data_utils.py:157-200),
    * macro key set including its zero-row quirks ([[Ontology.nerTypes]]). */
  val ner: EvalSchema = EvalSchema(Ontology.id2entity, Ontology.nerTypes)
}

object Metrics {

  def round4(d: Double): Double =
    BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  private val tripleKey = Seq("url", "subjectType", "subject", "relation", "objectType", "obj")

  /** Triple-set precision/recall/F1, keyed by stable url (never positional —
    * J5, SURVEY.md §2.4).
    *
    * All three counts ride ONE action over ONE read of each side: both sides
    * are distinct on the FULL key, so a full-outer join on it yields each
    * key once, marked `_p` if predicted and `_g` if gold — count(_p) is |p|,
    * count(_g) is |g| and count(_p AND _g) the hit count. Null-keyed rows
    * match nothing and count only on their own side. Three separate counts
    * would re-evaluate the (kernel-bearing) pred plan per action unless the
    * caller caches it. */
  def tripleSetPR(pred: Dataset[Triple], gold: Dataset[GoldTriple]): (Double, Double, Double) = {
    def marked(ds: Dataset[_], marker: String) =
      ds.toDF().select(tripleKey.map(col): _*).distinct().withColumn(marker, lit(true))
    val r = marked(pred, "_p").join(marked(gold, "_g"), tripleKey, "full_outer")
      .agg(count(col("_p")).as("n_pred"),
        count(when(col("_p") && col("_g"), lit(1))).as("hit"),
        count(col("_g")).as("n_gold"))
      .head()
    val (nPred, hit, nGold) = (r.getLong(0).toDouble, r.getLong(1).toDouble, r.getLong(2).toDouble)
    val prec = if (nPred > 0) hit / nPred else 0.0
    val rec = if (nGold > 0) hit / nGold else 0.0
    val f1 = if (prec + rec > 0) 2 * prec * rec / (prec + rec) else 0.0
    (prec, rec, f1)
  }

  /** A4/J6 — cal_triple_res (utils/evaluate_funcs.py:51-76): fraction of
    * documents whose every predicted triple is in the gold set. Docs with no
    * prediction count as matches, exactly like the reference (match_count is
    * incremented per doc and decremented on the first miss). */
  def docExactPrecision(pred: Dataset[Triple], gold: Dataset[GoldTriple],
      docUrls: DataFrame): Double = {
    val p = pred.toDF().select(tripleKey.map(col): _*)
    val g = gold.toDF().select(col("url"), col("subjectType"), col("subject"),
      col("relation"), col("objectType"), col("obj"))
    val misses = p.join(g, tripleKey, "left_anti").select("url").distinct()
    // both counts in ONE action (1-row aggregates cross-joined); distinct()
    // before count — not countDistinct — keeps the null-url row accounting
    // byte-identical to the original two-action form
    val r = misses.agg(count(lit(1)).as("missed"))
      .crossJoin(docUrls.select("url").distinct().agg(count(lit(1)).as("total")))
      .head()
    val (missed, total) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
    if (total > 0) (total - missed) / total else 0.0
  }

  // ------------------------------------------------------------------
  // Span-level compute_performance (utils/evaluate_funcs.py:122-317),
  // CRF branch — the per-question-type precise/blurred P/R/F1 contract.
  // ------------------------------------------------------------------

  /** One QA eval sample: decoded-context gold and pred tag rows (tag index
    * 0 = context char 0, question_first=False layout). */
  final case class EvalSample(questionType: Int, goldLabel: Array[Int], predLabel: Array[Int])

  /** The reference's negative-row test, in ONE place for both the counters
    * and the per-sample dump: `len(set(pred_label)) == 1` — an EMPTY pred
    * row is False (len(set([])) == 0), so it scores tp=0 and decodes to no
    * spans (evaluate_funcs.py:245-268). */
  private def negAllEqual(pred: Array[Int]): Boolean =
    pred.nonEmpty && pred.distinct.length == 1

  private final case class PerRow(questionType: Int, tpPrecise: Long, tpBlurred: Long,
      numPre: Long, numGold: Long, matchCount: Long)

  /** Port of the per-sample accounting, quirks included:
    *  - positive sample (first nonzero gold tag = B-id): tp_precise counts
    *    pred spans exactly present in gold spans; tp_blurred via the
    *    effectively-always-true overlap test (D5);
    *  - negative sample: an all-equal pred row (len(set(pred))==1 — NOT
    *    necessarily all-O!) scores tp=1 with num_pre += 1, num_gold += 1.
    */
  private def evalRow(s: EvalSample): PerRow = {
    val idx = Spans.indexNumber(s.goldLabel)
    if (idx != 0) {
      val pred = Spans.indicesFromLabel(s.predLabel, idx)
      val goldS = Spans.indicesFromLabel(s.goldLabel, idx)
      var tp = 0L
      var blurred = 0L
      if (pred.nonEmpty && goldS.nonEmpty) {
        val gset = goldS.toSet
        tp = pred.count(gset.contains).toLong
        blurred = Spans.blurredMatchCount(goldS, pred).toLong
      }
      PerRow(idx, tp, blurred,
        if (pred.nonEmpty) pred.size.toLong else 1L,
        if (goldS.nonEmpty) goldS.size.toLong else 1L,
        tp)
    } else {
      val allEqual = negAllEqual(s.predLabel)
      val tp = if (allEqual) 1L else 0L
      // reference: pred_indices = [] when all-equal, else a 1-element list
      // [get_indices_from_lable(pred, first_nonzero(pred))] — so num_pre is
      // incremented by exactly 1 either way (evaluate_funcs.py:245-268)
      PerRow(idx, tp, tp, 1L, 1L, 0L)
    }
  }

  /** Aggregate per-question-type metrics. The question type of a row is its
    * gold tag id (get_index_number); negative rows (id 0) contribute to the
    * type they were asked as — pass `askedType` when known. */
  def computePerformance(samples: Dataset[(Int, EvalSample)],
      schema: EvalSchema = EvalSchema.relation): DataFrame = {
    val spark = samples.sparkSession
    import spark.implicits._
    val id2name = schema.id2name
    val rows = samples.map { case (askedType, s) =>
      val r = evalRow(s)
      val t = if (r.questionType != 0) r.questionType else askedType
      (id2name.getOrElse(t, "<unk>"), r.tpPrecise, r.tpBlurred, r.numPre, r.numGold, r.matchCount)
    }.toDF("question_type", "tp_precise", "tp_blurred", "num_pre", "num_gold", "match_count")

    val agg = rows.groupBy("question_type").agg(
      sum("tp_precise").as("tp_precise"),
      sum("tp_blurred").as("tp_blurred"),
      sum("num_pre").as("num_pre"),
      sum("num_gold").as("num_gold"),
      sum("match_count").as("match_count"))

    def ratio(num: String, den: String) =
      when(col(den) =!= 0, col(num).cast("double") / col(den)).otherwise(lit(0.0))
    def f1(p: String, r: String) =
      when(col(p) =!= 0 && col(r) =!= 0,
        lit(2) * col(p) * col(r) / (col(p) + col(r))).otherwise(lit(0.0))

    agg
      .withColumn("precision_precise", ratio("tp_precise", "num_pre"))
      .withColumn("recall_precise", ratio("tp_precise", "num_gold"))
      .withColumn("precision_blurred", ratio("tp_blurred", "num_pre"))
      .withColumn("recall_blurred", ratio("tp_blurred", "num_gold"))
      .withColumn("f1_precise", f1("precision_precise", "recall_precise"))
      .withColumn("f1_blurred", f1("precision_blurred", "recall_blurred"))
  }

  /** Per-sample eval dump — the relational twin of the reference's `res_lst`
    * rows (utils/evaluate_funcs.py:238-262): decoded gold and pred spans per
    * sample plus its tp/num counters — the table one actually debugs a P/R
    * regression with. Span lists serialize as "start:end;start:end" so the
    * output is flat and sortable. Negative rows decode the pred with its own
    * first tag id, as the reference does. */
  def perSampleEval(samples: Dataset[(Int, EvalSample)],
      schema: EvalSchema = EvalSchema.relation): DataFrame = {
    val spark = samples.sparkSession
    import spark.implicits._
    val id2name = schema.id2name
    samples.map { case (askedType, s) =>
      val idx = Spans.indexNumber(s.goldLabel)
      val goldSpans = if (idx != 0) Spans.indicesFromLabel(s.goldLabel, idx) else Nil
      // negative rows: the reference records pred_indices = [] for an
      // all-equal pred row (the same branch evalRow scores tp=1 for) and
      // only decodes a mixed row — the shared predicate keeps the dump
      // provably consistent with the counters
      val predId =
        if (idx != 0) idx
        else if (negAllEqual(s.predLabel)) 0
        else Spans.indexNumber(s.predLabel)
      val predSpans = if (predId != 0) Spans.indicesFromLabel(s.predLabel, predId) else Nil
      val r = evalRow(s)
      val t = if (r.questionType != 0) r.questionType else askedType
      def fmt(sp: Seq[Span]) = sp.map(x => s"${x.start}:${x.end}").mkString(";")
      (id2name.getOrElse(t, "<unk>"), fmt(goldSpans), fmt(predSpans),
        r.tpPrecise, r.tpBlurred, r.numPre, r.numGold, r.matchCount)
    }.toDF("question_type", "answer_gold", "answer_pred",
      "tp_precise", "tp_blurred", "num_pre", "num_gold", "match_count")
  }

  /** Persist the per-type metrics table (S6 — the parquet substitute for the
    * reference's `{sign}_res.json`/xlsx sink, utils/evaluate_funcs.py:297-309)
    * with TableIO lineage; idempotent per (path, snapshot). */
  def writePerformance(perType: DataFrame, path: String, snapshot: String = ""): Int =
    graft.io.TableIO.writeStage(perType, path, "metrics", "question_type", 1, snapshot,
      completeInput = true)

  /** The reference's actual human-facing S6 artifact: `{sign}_res.xlsx`
    * (`df.to_excel(..., index=None)`, utils/evaluate_funcs.py:297-306) —
    * same column order, INCLUDING the `queation_type` header typo, values as
    * strings (pandas stringifies the mixed-dtype `np.array(...).T` frame).
    * One deviation, documented: rows sort by question_type (the reference
    * emits dict-insertion order, which is an artifact of its eval loop, not
    * a contract) so the file is deterministic under any partitioning. The
    * collect is bounded by the ontology key set, same as the metrics map. */
  def writePerformanceXlsx(perType: DataFrame, path: String): Unit = {
    val rows = perType
      .select(col("question_type"), col("precision_blurred"), col("recall_blurred"),
        col("f1_blurred"), col("precision_precise"), col("recall_precise"),
        col("f1_precise"))
      .orderBy("question_type")
      .collect()
      .map(r => r.getString(0) +: (1 to 6).map(i => r.getDouble(i).toString))
    graft.io.Xlsx.write(path,
      Seq("queation_type", "precision_blurred", "recall_blurred", "f1_blurred",
        "precision_precise", "recall_precise", "f1_precise"),
      rows.toSeq)
  }

  /** Macro scores over the schema's FULL key set (zero rows included, as the
    * reference iterates every performance_dic key) + acc = matched spans /
    * samples. */
  def macroScores(perType: DataFrame, numSamples: Long,
      schema: EvalSchema = EvalSchema.relation)(implicit spark: SparkSession): Map[String, Double] = {
    import spark.implicits._
    val present = perType
      .select("question_type", "precision_precise", "recall_precise", "f1_precise", "match_count")
      .as[(String, Double, Double, Double, Long)].collect().map(r => r._1 -> r).toMap
    val types = schema.macroKeys
    def avgOf(f: ((String, Double, Double, Double, Long)) => Double) =
      types.map(t => present.get(t).map(f).getOrElse(0.0)).sum / types.size
    val matched = present.values.map(_._5).sum.toDouble
    Map(
      "precision" -> round4(avgOf(_._2)),
      "recall" -> round4(avgOf(_._3)),
      "f1" -> round4(avgOf(_._4)),
      "acc" -> (if (numSamples > 0) matched / numSamples else 0.0)
    )
  }
}
