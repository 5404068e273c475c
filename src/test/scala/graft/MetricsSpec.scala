package graft

import graft.eval.Metrics
import graft.eval.Metrics.EvalSample

/** compute_performance port semantics (utils/evaluate_funcs.py:122-317),
  * including negative-sample accounting quirks. */
class MetricsSpec extends SparkSpec {

  private def perf(samples: Seq[(Int, EvalSample)]) = {
    import spark.implicits._
    Metrics.computePerformance(spark.createDataset(samples))
      .collect()
      .map(r => r.getAs[String]("question_type") -> r)
      .toMap
  }

  test("positive sample: exact span match counts tp, per-span denominators") {
    // gold: one span [2,4) of type Size (B=8); pred identical
    val gold = Array(0, 0, 8, 9, 0, 0)
    val m = perf(Seq((8, EvalSample(8, gold, gold))))("Size")
    assert(m.getAs[Long]("tp_precise") === 1)
    assert(m.getAs[Long]("num_pre") === 1)
    assert(m.getAs[Long]("num_gold") === 1)
    assert(m.getAs[Double]("precision_precise") === 1.0)
    assert(m.getAs[Double]("f1_precise") === 1.0)
  }

  test("positive sample: wrong span still 'blurred'-matches (D5 quirk)") {
    val gold = Array(0, 0, 8, 9, 0, 0)
    val pred = Array(0, 0, 0, 0, 8, 0) // disjoint span
    val m = perf(Seq((8, EvalSample(8, gold, pred))))("Size")
    assert(m.getAs[Long]("tp_precise") === 0)
    assert(m.getAs[Long]("tp_blurred") === 1) // always-true overlap quirk
  }

  test("negative sample: all-equal pred row scores tp=1 even if non-O") {
    // reference: len(set(pred))==1 → tp=1, regardless of the tag value
    val gold = Array(0, 0, 0, 0)
    val allO = Array(1, 1, 1, 1)
    val allB = Array(8, 8, 8, 8) // quirk: still "clean" per the reference
    val mO = perf(Seq((8, EvalSample(8, gold, allO))))("Size")
    assert(mO.getAs[Long]("tp_precise") === 1)
    assert(mO.getAs[Long]("num_pre") === 1 && mO.getAs[Long]("num_gold") === 1)
    val mB = perf(Seq((8, EvalSample(8, gold, allB))))("Size")
    assert(mB.getAs[Long]("tp_precise") === 1)
  }

  test("negative sample with mixed pred: tp=0, num_pre incremented by 1") {
    // reference wraps the decoded spans in a one-element list, so num_pre
    // grows by exactly 1 regardless of how many spans leaked
    val gold = Array(0, 0, 0, 0)
    val pred = Array(1, 8, 9, 12)
    val m = perf(Seq((8, EvalSample(8, gold, pred))))("Size")
    assert(m.getAs[Long]("tp_precise") === 0)
    assert(m.getAs[Long]("num_pre") === 1)
    assert(m.getAs[Long]("num_gold") === 1)
  }

  test("per-sample eval dump decodes gold/pred spans per row (res_lst twin)") {
    import spark.implicits._
    val gold = Array(0, 0, 8, 9, 0, 0)
    val rows = Metrics.perSampleEval(spark.createDataset(Seq(
      (8, EvalSample(8, gold, gold)),
      (8, EvalSample(8, Array(0, 0, 0, 0), Array(1, 1, 1, 1)))))).collect()
    val pos = rows.find(_.getAs[String]("answer_gold").nonEmpty).get
    assert(pos.getAs[String]("question_type") === "Size")
    assert(pos.getAs[String]("answer_gold") === "2:4")
    assert(pos.getAs[String]("answer_pred") === "2:4")
    assert(pos.getAs[Long]("tp_precise") === 1)
    val neg = rows.find(_.getAs[String]("answer_gold").isEmpty).get
    assert(neg.getAs[Long]("tp_precise") === 1) // all-equal pred row quirk
    assert(neg.getAs[Long]("num_pre") === 1 && neg.getAs[Long]("num_gold") === 1)
  }

  test("empty pred row on a negative sample scores tp=0 (len(set([])) != 1)") {
    val m = perf(Seq((8, EvalSample(8, Array(0, 0), Array.empty[Int]))))("Size")
    assert(m.getAs[Long]("tp_precise") === 0)
    assert(m.getAs[Long]("num_pre") === 1 && m.getAs[Long]("num_gold") === 1)
  }

  test("per-type metrics persist via TableIO and read back (S6 sink)") {
    import spark.implicits._
    val gold = Array(0, 8, 9, 0)
    val perType = Metrics.computePerformance(
      spark.createDataset(Seq((8, EvalSample(8, gold, gold)))))
    val dir = java.nio.file.Files.createTempDirectory("graft-metrics").toString + "/m1"
    assert(Metrics.writePerformance(perType, dir) === 1)
    val back = graft.io.TableIO.readStage(spark, dir)
    assert(back.count() === 1)
    assert(back.select("question_type").as[String].collect() === Array("Size"))
    assert(back.columns.contains("f1_precise"))
    assert(graft.io.TableIO.auditStage(spark, dir, "question_type") === Seq.empty)
  }

  test("end-to-end eval: encode -> kernel -> per-type metrics on clean corpus") {
    val pages = graft.synth.Corpus.pages(spark, 200, seed = 42, noisyFrac = 0.0).toDF()
    val gold = graft.synth.Corpus.gold(spark, 200, seed = 42, noisyFrac = 0.0)
    val perType = graft.eval.EvalRun.perTypeMetrics(pages, gold).collect()
      .map(r => r.getAs[String]("question_type") ->
        (r.getAs[Double]("precision_precise"), r.getAs[Double]("recall_precise")))
      .toMap
    assert(perType.size >= 12, s"types covered: ${perType.keySet}")
    // every type exact: subject vs relation samples are discriminated by
    // subject_token (Pleura shares its tag id across both roles, so an
    // id-based branch would mis-bias its relation samples — regression
    // caught by this very assertion)
    perType.foreach { case (t, (p, r)) =>
      assert(p === 1.0 && r === 1.0, s"$t: $p/$r")
    }
  }

  test("macro scores average over all 17 types including absent ones") {
    val gold = Array(0, 8, 9, 0)
    val perType = {
      import spark.implicits._
      Metrics.computePerformance(spark.createDataset(Seq((8, EvalSample(8, gold, gold)))))
    }
    implicit val s = spark
    val macros = Metrics.macroScores(perType, numSamples = 1)
    // one perfect type out of 17 → macro P/R/F1 = 1/17 = 0.0588
    assert(macros("precision") === 0.0588)
    assert(macros("recall") === 0.0588)
    assert(macros("f1") === 0.0588)
    assert(macros("acc") === 1.0)
  }

  test("triple-set P/R with null-keyed and duplicate rows equals a driver-side set computation") {
    import spark.implicits._
    import graft.schema.{GoldTriple, Span, Triple}
    val t1 = Triple("u1", "Size", "mass", "rel", "Val", "3 cm")
    val t2 = Triple("u1", "Size", "mass", "rel2", "Val", "4 cm") // pred only
    val t3 = Triple(null, "Size", "x", "rel", "Val", "y")        // null url, both sides
    val t4 = Triple("u2", "Size", "z", "rel", "Val", null)       // null obj, both sides
    val t5 = Triple("u2", "Loc", "a", "rel", "Val", "b")
    val t6 = Triple("u3", "Loc", "c", "rel", "Val", "d")         // gold only
    val t7 = Triple("u3", "Loc", "e", "rel", "Val", "f")         // gold only
    def gold(t: Triple) = GoldTriple(t.url, t.subjectType, t.subject, t.relation,
      t.objectType, t.obj, Span(0, 1), Span(2, 3))
    val predRows = Seq(t1, t1, t2, t3, t3, t4, t5)
    val goldRows = Seq(t1, t1, t1, t3, t4, t4, t5, t6, t7)

    // driver side: set semantics on the full key; a key holding a null
    // matches nothing (SQL equality), but still counts on its own side
    val pSet = predRows.toSet
    val gSet = goldRows.toSet
    def keyed(t: Triple) = t.productIterator.forall(_ != null)
    val hit = pSet.count(t => keyed(t) && gSet.contains(t)).toDouble
    val (wantP, wantR) = (hit / pSet.size, hit / gSet.size)
    assert((pSet.size, gSet.size, hit) === ((5, 6, 2.0)), "fixture shape")

    val (p, r, f1) = Metrics.tripleSetPR(spark.createDataset(predRows),
      spark.createDataset(goldRows.map(gold)))
    assert(p === wantP)
    assert(r === wantR)
    assert(f1 === 2 * wantP * wantR / (wantP + wantR))
  }
}
