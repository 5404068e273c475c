package graft

import org.apache.spark.sql.functions._

import graft.ops.Similarity

/** ANN operators: exact baseline vs LSH and IVF scale paths. */
class SimilaritySpec extends SparkSpec {

  private lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  private lazy val queries = emb.filter(col("vec_id") < 10)

  private def topkMap(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] = {
    import spark.implicits._
    df.select("query_id", "corpus_id", "rank")
      .as[(Long, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
  }

  test("brute-force top-k is deterministic and self-excluding") {
    val a = topkMap(Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5))
    val b = topkMap(Similarity.bruteForceTopK(emb.repartition(7), queries, "vec_id", "embedding", 5))
    assert(a === b)
    assert(a.size === queries.count())
    a.foreach { case (q, cands) =>
      assert(cands.size === 5)
      assert(!cands.contains(q))
    }
  }

  test("IVF recall@5 >= 0.6 against the exact baseline, deterministic") {
    val exact = topkMap(Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5))
    val ivf1 = topkMap(Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 5))
    val ivf2 = topkMap(Similarity.ivfTopK(emb.repartition(5), queries, "vec_id", "embedding", 5))
    assert(ivf1 === ivf2, "IVF must be partition-count invariant")
    val recalls = exact.map { case (q, want) =>
      ivf1.get(q).map(got => got.toSet.intersect(want.toSet).size / 5.0).getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.6, s"mean recall@5 = $mean")
  }

  test("IVF with nProbe = nCells degenerates to the exact result") {
    val exact = topkMap(Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5))
    val full = topkMap(Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 5,
      nCells = 8, nProbe = 8))
    assert(full === exact)
  }

  test("distributed Lloyd trainer: full-corpus centroids recover the clusters; " +
      "IVF search path unchanged") {
    import spark.implicits._
    // 3 well-separated clusters around orthogonal axes + small deterministic
    // noise; the full-corpus trainer must place one centroid per cluster
    val rows = (0 until 300).map { i =>
      val axis = i % 3
      val v = Array.tabulate(8)(d =>
        (if (d == axis) 1.0f else 0.0f) + ((i * 31 + d * 7) % 13 - 6) * 0.01f)
      (i.toLong, v.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding").repartition(5)
    val vecs = df.select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])]
    val cs = Similarity.trainIvfCentroids(vecs, nCells = 3, lloydIters = 6)
    assert(cs.length === 3)
    // each axis cluster is represented: some centroid has its dominant
    // coordinate on that axis
    (0 until 3).foreach { axis =>
      assert(cs.exists(c => c.indexOf(c.max) == axis),
        s"no centroid represents axis $axis: ${cs.map(_.mkString(",")).mkString(" | ")}")
    }
    // stable under repartitioning: per-cell sums merge a DIFFERENT number of
    // per-partition partials, so float addition order may differ in the last
    // ulps — compare with a tolerance, not exact doubles
    val cs2 = Similarity.trainIvfCentroids(vecs.repartition(9), 3, 6)
    cs.foreach { c =>
      assert(cs2.exists(c2 => c.zip(c2).forall { case (a, b) => math.abs(a - b) < 1e-9 }),
        s"no repartitioned centroid matches ${c.mkString(",")}")
    }
    // the distributed-trained IVF agrees with brute force on top-1 when
    // probing the query's own cluster cell
    val q = df.filter(col("vec_id") < 3)
    val ivf = topkMap(Similarity.ivfTopK(df, q, "vec_id", "embedding", k = 3,
      nCells = 3, nProbe = 1, distributedTrain = true))
    val exact = topkMap(Similarity.bruteForceTopK(df, q, "vec_id", "embedding", k = 3))
    ivf.foreach { case (qid, cands) =>
      assert(cands.head === exact(qid).head, s"top-1 mismatch for query $qid")
    }
  }

  test("LSH top-k candidates carry valid ranks and scores") {
    val lsh = Similarity.lshTopK(emb, queries, "vec_id", "embedding", 5)
    val rows = lsh.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Int]("rank") <= 5))
  }

  test("IVF/LSH top-k: no exchange ever carries a vector column") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    // candidates are scored map-side on the corpus partitions (the query
    // side is broadcast), so the dedup + ranking shuffles move only
    // (query_id, corpus_id, score) — at 10^9 corpus vectors a distinct over
    // rows still carrying qv/cv would shuffle the vectors themselves, the
    // same payload disease the near-dup verify join had
    for (df <- Seq(
        Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 5),
        Similarity.lshTopK(emb, queries, "vec_id", "embedding", 5))) {
      df.collect() // finalize AQE so the inspected plan is the executed one
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      // AQE wraps executed subtrees in QueryStageExec LEAVES (ResultQueryStage
      // / ShuffleQueryStage), whose real plan hangs off `.plan`, invisible to
      // a plain collect — recurse through them to reach every Exchange
      def shuffles(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[ShuffleExchangeExec] = p.collect {
        case e: ShuffleExchangeExec => Seq(e)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          shuffles(s.plan)
      }.flatten
      val exchanges = shuffles(plan)
      assert(exchanges.nonEmpty, s"expected at least the ranking shuffle:\n$plan")
      exchanges.foreach { e =>
        val wide = e.output.filter(_.dataType.isInstanceOf[ArrayType])
        assert(wide.isEmpty,
          s"${e.nodeName} carries vector columns ${wide.map(_.name).mkString(",")}")
      }
    }
  }

  test("float and double copies of the same vectors give identical top-k rows on every ANN op") {
    // the one cosine kernel and the one sign-bit key both run on doubles
    // and take float vectors through an exact upcast, so the stored width
    // cannot move a score, a bucket or a rank
    val dbl = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val qd = dbl.filter(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
      .sortBy(r => (r(0).asInstanceOf[Long], r(3).asInstanceOf[Int]))
    for ((name, op) <- Seq[(String, (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame)](
        "bruteForceTopK" -> (Similarity.bruteForceTopK(_, _, "vec_id", "embedding", 5)),
        "ivfTopK" -> (Similarity.ivfTopK(_, _, "vec_id", "embedding", 5)),
        "lshTopK" -> (Similarity.lshTopK(_, _, "vec_id", "embedding", 5)))) {
      val f = rows(op(emb, queries))
      assert(f.nonEmpty, name)
      assert(f === rows(op(dbl, qd)), s"$name: float and double rows differ")
    }
  }
}
