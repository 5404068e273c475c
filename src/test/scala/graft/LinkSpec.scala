package graft

import org.apache.spark.sql.functions._

import graft.link.{ConnectedComponents, Linker}
import graft.schema.{CanonicalTriple, Triple}
import graft.synth.Lexicon

/** Connected components vs union-find ground truth + entity linking. */
class CCSpec extends SparkSpec {

  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    nodes.map(v => v -> find(v)).toMap
  }

  private def check(edges: Seq[(Long, Long)]): Unit = {
    import spark.implicits._
    val df = edges.toDF("src", "dst")
    val want = unionFind(0, edges)
    // local fast path AND the distributed star algorithm must both agree
    val local = ConnectedComponents.run(df).as[(Long, Long)].collect().toMap
    val dist = ConnectedComponents.run(df, localThreshold = 0)
      .as[(Long, Long)].collect().toMap
    assert(local === want)
    assert(dist === want)
  }

  test("CC matches union-find on random graphs") {
    val rng = new scala.util.Random(13)
    (1 to 5).foreach { trial =>
      val n = 200
      val edges = (1 to 300).map(_ => (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      check(edges)
    }
  }

  test("CC handles long chains (log-round convergence)") {
    val edges = (0L until 300L).map(i => (i, i + 1))
    check(edges)
  }

  test("CC handles zipf-skewed hub components (hot keys)") {
    val rng = new scala.util.Random(7)
    // one giant star + many small comps
    val hub = (1L to 500L).map(i => (0L, i))
    val rest = (1000L until 1300L by 3).flatMap(i => Seq((i, i + 1), (i + 1, i + 2)))
    check(rng.shuffle(hub ++ rest))
  }

  test("CC of empty edge set is empty") {
    import spark.implicits._
    val out = ConnectedComponents.run(Seq.empty[(Long, Long)].toDF("src", "dst"))
    assert(out.count() === 0)
  }
}

class LinkerSpec extends SparkSpec {

  test("width/punct variants resolve to one canonical id") {
    import spark.implicits._
    val half = Lexicon.sizePhrase(12, 8) // 约12×8mm
    val full = Lexicon.toFullWidthDigits(half) // 约１２×８ｍｍ
    val triples = Seq(
      Triple("u1", "Mass", "孤立性结节", "Size", "Size", half),
      Triple("u2", "Mass", "孤立性结节", "Size", "Size", full),
      Triple("u3", "Mass", "孤立性结节", "Size", "Size", half)
    ).toDS()
    val canon = Linker.canonicalTriples(triples).collect()
    assert(canon.length === 1, canon.mkString(";"))
    assert(canon.head.urls === 3)
    // representative surface is the shortest
    assert(canon.head.obj === half)
  }

  test("near-identical surfaces link via LSH edges; distinct ones do not") {
    import spark.implicits._
    val triples = Seq(
      Triple("u1", "Mass", "孤立性结节", "Location", "Location", "左肺上叶"),
      Triple("u2", "Mass", "孤立性结节灶", "Location", "Location", "左肺上叶"), // near-dup subject
      Triple("u3", "Lymph", "第4组淋巴结", "Location", "Location", "右肺下叶") // distinct
    ).toDS()
    val res = Linker.resolution(Linker.surfaces(triples))
    val byId = res.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byId("孤立性结节") === byId("孤立性结节灶"))
    assert(byId("孤立性结节") !== byId("第4组淋巴结"))
    assert(byId("左肺上叶") !== byId("右肺下叶"))
  }

  test("hot LSH buckets switch to sorted-neighborhood pairing (bounded, not dropped)") {
    import spark.implicits._
    // 1500 near-identical surfaces share most shingles → one giant bucket
    val surfaces = (0 until 1500).map(i => f"这是一个很长的实体名称编号$i%04d")
    val sk = surfaces.toDS().map { s =>
      val norm = graft.functions.TextNorm.processSentStr(s)
      Linker.SurfaceKey(s, norm, graft.ops.Hashing.hash64(norm))
    }
    val edges = Linker.candidateEdges(sk, bucketCap = 100, neighborWindow = 4,
      threshold = 0.5)
    val n = edges.count()
    // bounded: at most ~W pairs per member per band, nowhere near the
    // all-pairs 1500*1499/2 ≈ 1.1M
    assert(n > 0, "hot bucket must still produce candidate edges")
    assert(n < 1500L * 4 * 8, s"pair count $n not bounded")
    // numerically adjacent names (lexicographic neighbors) got linked
    val comp = graft.link.ConnectedComponents.run(edges)
    assert(comp.select("component").distinct().count() < 1500)
  }

  test("canonicalization is partition-count invariant") {
    import spark.implicits._
    val pages = graft.synth.Corpus.pages(spark, 150, seed = 42, noisyFrac = 0.0).toDF()
    val triples = graft.pipeline.Extract.triples(pages)
    val a = Linker.canonicalTriples(triples.repartition(13)).collect().toSet
    val b = Linker.canonicalTriples(triples.coalesce(1)).collect().toSet
    assert(a === b)
    assert(a.nonEmpty)
  }

  test("canonical triples aggregate distinct-url support") {
    import spark.implicits._
    val triples = Seq(
      Triple("u1", "Mass", "孤立性结节", "Shape", "Shape", "类圆形"),
      Triple("u1", "Mass", "孤立性结节", "Shape", "Shape", "类圆形"), // same doc dup
      Triple("u2", "Mass", "孤立性结节", "Shape", "Shape", "类圆形")
    ).toDS()
    val canon = Linker.canonicalTriples(triples).collect()
    assert(canon.length === 1)
    assert(canon.head.urls === 2)
  }

  test("canonical triples resolve through broadcast joins sized by the counted resolution") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledJoin}
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    import spark.implicits._
    val triples = graft.synth.LinkCorpus.triples(spark, 0, 200, 0)
      .unionByName(graft.synth.LinkCorpus.triples(spark, 0, 200, 1)).as[Triple]
    object Plans extends AdaptiveSparkPlanHelper
    // the final adaptive plan of the collected frame, stages included, and
    // its rows
    def run(): (SparkPlan, Map[CanonicalTriple, Int]) = {
      val df = Linker.canonicalTriples(triples)
      val rows = df.collect().toSeq.groupBy(identity).map { case (k, v) => k -> v.size }
      (df.queryExecution.executedPlan, rows)
    }
    val resolvedSide = Set("subjectId", "objectId")
    val (sized, sizedRows) = run()
    val bhj = Plans.collect(sized) { case j: BroadcastHashJoinExec => j }
    assert(bhj.size === 2 && bhj.forall(_.buildSide == BuildRight), sized.toString)
    assert(bhj.map(_.right.output.map(_.name).toSet.intersect(resolvedSide)).toSet ===
      resolvedSide.map(Set(_)), "each join builds the resolution side")
    val (off, offRows) = withConf("spark.sql.autoBroadcastJoinThreshold", "-1")(run())
    assert(Plans.collect(off) { case j: BroadcastHashJoinExec => j }.isEmpty, off.toString)
    assert(Plans.collect(off) { case j: ShuffledJoin => j }.size === 2, off.toString)
    assert(offRows === sizedRows && sizedRows.nonEmpty)
  }
}
