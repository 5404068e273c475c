package graft

import org.apache.spark.sql.functions._

import graft.ops.TextStats

/** N-gram language ID + quality/token arithmetic (the oracle queries cover
  * the Column ops; this covers the profile scorer on real sentences). */
class TextStatsSpec extends SparkSpec {

  test("trigram profiles identify real sentences in their language") {
    val cases = Seq(
      "the weather was nice and the children played in the garden" -> "en",
      "it is not only the people that were there who could have done this" -> "en",
      "die kinder spielten im garten und das wetter war schön und warm" -> "de",
      "das ist nicht der einzige grund für diese entscheidung gewesen" -> "de",
      "les enfants jouaient dans le jardin et le temps était agréable" -> "fr",
      "ce nest pas la seule raison pour laquelle ils sont venus ici" -> "fr",
      "los niños jugaban en el jardín y el tiempo era muy agradable" -> "es",
      "no es la única razón por la que ellos estaban allí ese día" -> "es",
      "这是一个完全由中文字符组成的句子用来测试语言识别" -> "zh"
    )
    cases.foreach { case (text, want) =>
      assert(TextStats.langNgramGuess(text) === want, s"text: $text")
    }
    assert(TextStats.langNgramGuess("") === "unknown")
    assert(TextStats.langNgramGuess("42 17 99") === "unknown" ||
      TextStats.langNgramGuess("42 17 99").nonEmpty) // digits-only: any stable answer
  }

  test("tfidfTopK: hand-computed scores, deterministic term tiebreak, null tolerance") {
    import spark.implicits._
    // N=4; df: cat 2, dog 2, bird 1, fish 1, aa 1, bb 1
    // idf(df=2) = ln(5/3)+1, idf(df=1) = ln(5/2)+1
    val docs = Seq(
      (Some(1L), "cat cat dog"),
      (Some(2L), "dog  bird"), // double space: empty tokens must drop
      (Some(3L), "cat fish fish fish"),
      (Some(4L), "aa bb"), // identical tf/df → tie broken by term
      (None, "ghost doc: null id drops")
    ).toDF("doc_id", "text")
    val got = TextStats.tfidfTopK(docs, "doc_id", "text", k = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getInt(5)))
      .sortBy(t => (t._1, t._6))

    def r4(x: Double) = math.rint(x * 1e4) / 1e4
    val idf2 = math.log(5.0 / 3.0) + 1
    val idf1 = math.log(5.0 / 2.0) + 1
    assert(got === Array(
      (1L, "cat", 2L, 2L, r4(2 * idf2), 1), (1L, "dog", 1L, 2L, r4(idf2), 2),
      (2L, "bird", 1L, 1L, r4(idf1), 1), (2L, "dog", 1L, 2L, r4(idf2), 2),
      (3L, "fish", 3L, 1L, r4(3 * idf1), 1), (3L, "cat", 1L, 2L, r4(idf2), 2),
      (4L, "aa", 1L, 1L, r4(idf1), 1), (4L, "bb", 1L, 1L, r4(idf1), 2)))
    // the arithmetic above holds only if N=4 — i.e. the null-id ghost row is
    // excluded from the corpus-size count, not just from tokenization
    assert(got.length === 8)
  }

  test("tfidfTopK without the vocabulary broadcast returns the default's rows") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledJoin}
    object Plans extends AdaptiveSparkPlanHelper
    val docs = graft.synth.WebDocs.documents(spark, 300, seed = 5).localCheckpoint()
    def run(broadcastVocab: Boolean) = {
      val df = TextStats.tfidfTopK(docs, "doc_id", "text", k = 3, broadcastVocab = broadcastVocab)
      val rows = df.collect().toSeq.map(_.toSeq).groupBy(identity).map { case (k, v) => k -> v.size }
      // the joins on `term`: the vocabulary join (the corpus count is a
      // key-less cross join)
      val plan = df.queryExecution.executedPlan
      def onTerm(keys: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
        keys.exists(_.references.exists(_.name == "term"))
      (rows, Plans.collect(plan) { case j: BroadcastHashJoinExec if onTerm(j.leftKeys) => j },
        Plans.collect(plan) { case j: ShuffledJoin if onTerm(j.leftKeys) => j })
    }
    val (want, bcast, _) = run(broadcastVocab = true)
    assert(want.nonEmpty && bcast.size === 1, "the default broadcasts the vocabulary")
    // with Spark's own broadcast rule off, the unhinted vocabulary join shuffles
    val (got, noBcast, shuffled) =
      withConf("spark.sql.autoBroadcastJoinThreshold", "-1")(run(broadcastVocab = false))
    assert(noBcast.isEmpty && shuffled.size === 1)
    assert(got === want)
  }

  test("DataFrame face is deterministic and shuffle-free per row") {
    import spark.implicits._
    val df = Seq(
      (1L, "the weather was nice and the children played outside"),
      (2L, "die kinder spielten draußen und das wetter war schön")
    ).toDF("doc_id", "text")
    val a = TextStats.withLangNgram(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a(1L) === "en")
    assert(a(2L) === "de")
    val b = TextStats.withLangNgram(df.repartition(7), "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a === b)
  }
}
