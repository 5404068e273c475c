package graft.ops

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}

/** Similarity search over an embedding column (array<float|double>), and
  * the embedding signatures every embedding operator shares.
  *
  * Scale path: brute-force cosine top-k is the exact baseline (broadcast the
  * small query side — O(corpus) scan, no corpus shuffle). The LSH-bucketed
  * variant (random-hyperplane signs) prunes the corpus side to matching
  * buckets, turning the crossJoin into an equi-join keyed by signature
  * prefix — the IVF-style route at 10^9+ vectors.
  *
  * Signatures, each defined once here: [[cosine]] scores every pair of
  * [[bruteForceTopK]], [[ivfTopK]], [[lshTopK]] and the embedding near-dup
  * operators of [[Dedup]]; [[signKeys]] over [[sharedHyperplanes]] is the
  * sign-bit LSH key of [[lshTopK]] and [[Dedup.embeddingCosinePairsLsh]].
  * Both run on doubles; float vectors reach them through an exact upcast.
  */
object Similarity {

  /** Cosine of two equal-length vectors: dot product and norms summed in
    * double precision in ascending index order, 0 when either norm is 0,
    * rounded to 6 decimals HALF_UP (NaN and infinities pass unrounded, as
    * SQL `round` leaves them). */
  def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    val c = if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    if (c.isNaN || c.isInfinite) c
    else BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** Fails on a vector whose length differs from the operator's dimension:
    * a cosine or a hyperplane dot over unequal lengths would mis-score. */
  private[graft] def requireDim(id: Any, len: Int, dim: Int): Unit =
    if (len != dim) throw new IllegalArgumentException(
      s"mixed embedding dimensions: id=$id has $len, expected $dim")

  /** `pairs` (`query_id`, `corpus_id` of any type, vectors `qv`, `cv`) as
    * (`query_id`, `corpus_id`, `score`), scored by [[cosine]]. */
  private def scored(pairs: DataFrame): DataFrame = {
    val in = pairs.select(col("query_id"), col("corpus_id"),
      col("qv").cast("array<double>"), col("cv").cast("array<double>"))
    val out = StructType(in.schema.fields.take(2) :+ StructField("score", DoubleType))
    in.map { r =>
      val (qv, cv) = (r.getSeq[Double](2).toArray, r.getSeq[Double](3).toArray)
      requireDim(r.get(1), cv.length, qv.length)
      Row(r.get(0), r.get(1), cosine(qv, cv))
    }(Encoders.row(out))
  }

  /** Exact brute-force top-k: for every query vector, the k nearest corpus
    * vectors by cosine. Query side is broadcast — corpus never shuffles.
    * Tie-breaking is deterministic: (rounded score desc, corpus id asc).
    *
    * Scale shape: scoring stays where the corpus rows are; each partition
    * keeps only its LOCAL top-k per query (bounded heap), so the only
    * exchange is over ≤ k × partitions × queries survivor rows — never the
    * full corpus×queries scored set. The final ranking window runs over
    * that small survivor set only. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // ids ride through the bounded heap as longs; fail fast on non-integral
    // id columns instead of silently null-casting them (hash or project a
    // numeric id first — see mm_feature_ann's xxhash64(url))
    Seq(corpus, queries).foreach { d =>
      import org.apache.spark.sql.types._
      val ok = d.schema(idCol).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
      require(ok, s"bruteForceTopK needs an integral id column; " +
        s"'$idCol' is ${d.schema(idCol).dataType}")
    }
    val c = corpus.filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).as("corpus_id"), col(vecCol).as("cv"))
    val q = queries.filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val pairs = scored(c.crossJoin(broadcast(q)).filter(col("query_id") =!= col("corpus_id")))
      .select(col("query_id").cast("long"), col("corpus_id").cast("long"), col("score"))
      .as[(Long, Long, Double)]
    // per-partition bounded top-k: worst element first, so `head` is the
    // eviction candidate; ordering mirrors the final (score desc, id asc)
    val partial = pairs.mapPartitions { it =>
      val heaps = scala.collection.mutable.HashMap
        .empty[Long, scala.collection.mutable.PriorityQueue[(Double, Long)]]
      // PriorityQueue.head is the MAX per ordering; make "worse" the max:
      // lowest score first, then highest id among equal scores
      val worstFirst = Ordering.by[(Double, Long), (Double, Long)] {
        case (s, id) => (-s, id)
      }
      it.foreach { case (qid, cid, s) =>
        val h = heaps.getOrElseUpdate(qid,
          scala.collection.mutable.PriorityQueue.empty[(Double, Long)](worstFirst))
        if (h.size < k) h.enqueue((s, cid))
        else {
          val (ws, wid) = h.head
          if (s > ws || (s == ws && cid < wid)) { h.dequeue(); h.enqueue((s, cid)) }
        }
      }
      heaps.iterator.flatMap { case (qid, h) => h.iterator.map(e => (qid, e._2, e._1)) }
    }.toDF("query_id", "corpus_id", "score")
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("corpus_id").asc)
    partial.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("score"), col("rank"))
  }

  /** The deterministic hyperplane matrix of [[signKeys]]:
    * h(b)(i) = sin((i+1)·(b+1)·12.9898 + 78.233), so plane (b, i) depends
    * only on (b, i). The matrix is a constant per (dim, bits) — hoist it out
    * of per-row loops (the sin() calls dominate otherwise: bits × dim
    * transcendentals/row). */
  def hyperplanes(dim: Int, bits: Int): Array[Array[Double]] =
    Array.tabulate(bits)(b =>
      Array.tabulate(dim)(i => math.sin((i + 1.0) * ((b + 1) * 12.9898) + 78.233)))

  /** Executor-JVM-shared [[hyperplanes]] cache for hot hashing loops. The
    * matrix is a deterministic constant per (dim, bits) but was built once
    * PER TASK — ~3 MB of tabulated sin() at the embedding-LSH cap geometry.
    * Sharing one read-only copy per JVM removes that per-task build; on the
    * 500k-vector probe (long tasks, build amortized) wall-time was measured
    * NEUTRAL, so this is allocation/latency hygiene that pays in
    * short-task regimes (many small partitions), not a throughput claim.
    * Deterministic + read-only, so a computeIfAbsent race is harmless; the
    * cache is capped at 16 geometries (a job uses a handful) — past that,
    * new geometries build per call rather than evicting under concurrency. */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()
  def sharedHyperplanes(dim: Int, bits: Int): Array[Array[Double]] = {
    val k = (dim, bits)
    val cached = planeCache.get(k)
    if (cached != null) cached
    else {
      val built = hyperplanes(dim, bits)
      // cap enforced UNDER the lock (a bare size-check-then-insert raced:
      // concurrent first builds of distinct geometries could grow the
      // never-evicted cache past 16 entries); entries are deterministic, so
      // callers that lose the race just use their own freshly built copy
      planeCache.synchronized {
        if (planeCache.size < 16) planeCache.putIfAbsent(k, built)
      }
      val now = planeCache.get(k)
      if (now != null) now else built
    }
  }

  /** Random-hyperplane sign-bit keys of `v` (LSH for cosine): one key per
    * `bandBits` consecutive rows of `planes` ([[sharedHyperplanes]]), bit j
    * of key b — most significant first — set when
    * v · planes(b·bandBits + j) ≥ 0, the dot summed in ascending index
    * order. Fixed-length keys filled MSB first compare element-wise like
    * the signature's bit string in band order. */
  def signKeys(v: Array[Double], planes: Array[Array[Double]], bandBits: Int): Array[Long] = {
    val keys = new Array[Long](planes.length / bandBits)
    var b = 0
    while (b < planes.length) {
      val hb = planes(b)
      var dot = 0.0
      var i = 0
      while (i < v.length) { dot += v(i) * hb(i); i += 1 }
      keys(b / bandBits) = (keys(b / bandBits) << 1) | (if (dot >= 0) 1L else 0L)
      b += 1
    }
    keys
  }

  /** One centroid-update step shared by both trainers: divide accumulated
    * sums by counts in place; an EMPTY cell keeps its previous centroid. */
  private def updateCentroids(prev: Array[Array[Double]],
      sums: Array[Array[Double]], counts: Array[Long]): Array[Array[Double]] =
    prev.indices.map { c =>
      if (counts(c) == 0) prev(c)
      else {
        val out = sums(c)
        var i = 0
        while (i < out.length) { out(i) /= counts(c); i += 1 }
        out
      }
    }.toArray

  /** Distributed Lloyd trainer over the FULL corpus — the 10^9-vector
    * quantizer path. One narrow pass per iteration: each partition folds its
    * rows into LOCAL per-cell (sum, count) accumulators (user-space map-side
    * combine — never a per-row shuffle), and the driver merges the tiny
    * partitions × cells partials (≤ parts · nCells · dim doubles). Seeds are
    * the vectors with the `nCells` smallest `xxhash64(id)` values — a
    * bounded TakeOrdered, stable under any partitioning, and hash-spread so
    * consecutive near-duplicate ids (one crawl source) cannot all seed the
    * same cluster and permanently starve the other cells. The input is
    * persisted for the duration of the iterations (lloydIters + 1 passes
    * over one cached scan instead of re-reading the lineage each time). */
  def trainIvfCentroids(vecs: org.apache.spark.sql.Dataset[(Long, Array[Double])],
      nCells: Int, lloydIters: Int = 5): Array[Array[Double]] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val cached = vecs.persist()
    try {
      var centroids = cached.orderBy(xxhash64(col("_1")), col("_1"))
        .limit(nCells).collect().map(_._2.clone())
      require(centroids.nonEmpty, "cannot train a quantizer on an empty corpus")
      val dim = centroids.head.length
      (0 until lloydIters).foreach { _ =>
        val bc = spark.sparkContext.broadcast(centroids)
        val partials = cached.mapPartitions { it =>
          val cs = bc.value
          val sums = Array.fill(cs.length)(new Array[Double](dim))
          val counts = new Array[Long](cs.length)
          it.foreach { case (id, v) =>
            requireDim(id, v.length, dim)
            val c = nearestCentroid(v, cs)
            counts(c) += 1
            var i = 0
            while (i < dim) { sums(c)(i) += v(i); i += 1 }
          }
          Iterator.tabulate(cs.length)(c => (c, sums(c), counts(c))).filter(_._3 > 0)
        }.collect()
        val sums = Array.fill(centroids.length)(new Array[Double](dim))
        val counts = new Array[Long](centroids.length)
        partials.foreach { case (c, s, n) =>
          counts(c) += n
          var i = 0
          while (i < dim) { sums(c)(i) += s(i); i += 1 }
        }
        centroids = updateCentroids(centroids, sums, counts)
        bc.unpersist()
      }
      centroids
    } finally cached.unpersist()
  }

  /** IVF (inverted-file) approximate top-k — the 10^9-vector scale path:
    * k-means coarse quantizer, corpus assigned to nearest centroid (one
    * narrow shuffle-free map), queries probe the `nProbe` nearest cells,
    * exact cosine re-rank inside the probed cells only.
    *
    * Quantizer training: `distributedTrain = true` runs
    * [[trainIvfCentroids]] over the FULL corpus (one pass per Lloyd
    * iteration — the 10^9-vector route where a fixed sample
    * under-represents the distribution); the default trains a seeded Lloyd
    * on a bounded `trainSample` driver-side sample (cheapest when the
    * corpus fits a representative sample). Search path identical either way.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nCells: Int = 16, nProbe: Int = 4, lloydIters: Int = 5,
      trainSample: Int = 2048, distributedTrain: Boolean = false): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._

    val vecs = corpus.filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
    val centroids =
      if (distributedTrain) trainIvfCentroids(vecs, nCells, lloydIters)
      else {
        // deterministic training sample: smallest ids (stable under partitioning)
        val ided = vecs.orderBy(col(idCol)).limit(trainSample).collect()
        require(ided.nonEmpty, "cannot train a quantizer on an empty corpus")
        val dim = ided.head._2.length
        ided.foreach { case (id, v) => requireDim(id, v.length, dim) }
        val sample = ided.map(_._2)
        var cs = Array.tabulate(math.min(nCells, sample.length))(i =>
          sample(((i.toLong * 2654435761L) % sample.length).toInt.abs).clone())
        (0 until lloydIters).foreach { _ =>
          val sums = Array.fill(cs.length)(new Array[Double](dim))
          val counts = new Array[Long](cs.length)
          sample.foreach { v =>
            val c = nearestCentroid(v, cs)
            counts(c) += 1
            var i = 0
            while (i < dim) { sums(c)(i) += v(i); i += 1 }
          }
          cs = updateCentroids(cs, sums, counts)
        }
        cs
      }
    val bcCentroids = spark.sparkContext.broadcast(centroids)
    val dim = centroids.head.length

    val assigned = vecs.map { case (id, v) =>
      requireDim(id, v.length, dim)
      (nearestCentroid(v, bcCentroids.value), id, v)
    }.toDF("cell", "corpus_id", "cv")

    val probed = queries.filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .flatMap { case (id, v) =>
        requireDim(id, v.length, dim)
        nearestCentroids(v, bcCentroids.value, nProbe).map(c => (c, id, v))
      }.toDF("cell", "query_id", "qv")

    // score map-side, BEFORE any exchange: the broadcast join leaves
    // candidates on the corpus partitions, cosine is computed there, and
    // only (query_id, corpus_id, score) — 24 bytes — rides the dedup and
    // ranking shuffles. Scoring after a distinct over (ids, qv, cv) rows
    // would haul two full vectors per candidate through the exchange, the
    // same payload disease the near-dup verify join had. Each corpus
    // vector lives in exactly ONE cell, so a pair meets at most once and
    // the distinct is a cheap safety net over narrow rows, not a dedup.
    val cand = scored(assigned.join(broadcast(probed), "cell")
      .filter(col("query_id") =!= col("corpus_id"))).distinct()
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("corpus_id").asc)
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("score"), col("rank"))
  }

  private def nearestCentroid(v: Array[Double], cs: Array[Array[Double]]): Int =
    nearestCentroids(v, cs, 1).head

  private def nearestCentroids(v: Array[Double], cs: Array[Array[Double]], n: Int): Seq[Int] =
    cs.indices.map { c =>
      var d = 0.0
      var i = 0
      while (i < v.length) { val t = v(i) - cs(c)(i); d += t * t; i += 1 }
      (c, d)
    }.sortBy(x => (x._2, x._1)).take(n).map(_._1)

  /** LSH-bucketed approximate top-k: candidates must share one of `bands`
    * [[signKeys]] bands with the query, then exact cosine re-rank. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, bits: Int = 16, bands: Int = 4): DataFrame = {
    require(bits % bands == 0)
    val bandBits = bits / bands
    def withBands(df: DataFrame, id: String, vec: String, out: String) = {
      val in = df.filter(col(idCol).isNotNull && col(vecCol).isNotNull)
        .select(col(idCol).as(id), col(vecCol).cast("array<double>").as(vec))
      val enc = Encoders.row(in.schema.add("keys", ArrayType(LongType, containsNull = false)))
      in.map { r =>
        val v = r.getSeq[Double](1).toArray
        Row(r.get(0), r.get(1), signKeys(v, sharedHyperplanes(v.length, bits), bandBits))
      }(enc).select(col(id), col(vec), posexplode(col("keys"))).toDF(id, vec, "band", out)
    }
    val c = withBands(corpus, "corpus_id", "cv", "ckey")
    val q = withBands(queries, "query_id", "qv", "qkey")
    // score map-side before the dedup: a pair colliding in several bands
    // scores once per collision (cosine is deterministic, so the duplicate
    // rows are identical and collapse in the distinct), but the exchange
    // carries only (query_id, corpus_id, score) — re-scoring ≤ bands-1
    // extra times costs ~dim multiplies each, far cheaper than shuffling
    // two full vectors per candidate row
    val cand = scored(c.join(broadcast(q),
        col("ckey") === col("qkey") && c("band") === q("band") &&
          col("query_id") =!= col("corpus_id"))).distinct()
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("corpus_id").asc)
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("score"), col("rank"))
  }
}
