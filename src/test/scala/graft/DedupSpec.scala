package graft

import org.apache.spark.sql.functions._

import graft.ops.{BucketPairs, Dedup, Hashing}

/** Dedup operator suite over crafted corpora with known duplicates. */
class DedupSpec extends SparkSpec {

  private def docs(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("exact dedup groups whitespace/case variants") {
    val df = docs(Seq(
      (1L, "Hello  World"), (2L, "hello world"), (3L, "HELLO\tWORLD"),
      (4L, "something else")))
    val got = Dedup.exact(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) === 1L && got(2L) === 1L && got(3L) === 1L)
    assert(got(4L) === 4L)
  }

  test("exactKeepers returns exactly the keeper rows of exact, all columns intact") {
    val df = docs(Seq(
      (1L, "Hello  World"), (2L, "hello world"), (3L, "HELLO\tWORLD"),
      (4L, "something else"), (5L, "something  ELSE")))
    val kept = Dedup.exactKeepers(df, "doc_id", "text")
    assert(kept.columns.toSeq === df.columns.toSeq, "must preserve the input schema")
    val keptIds = kept.collect().map(_.getLong(0)).sorted.toSeq
    val viaExact = Dedup.exact(df, "doc_id", "text")
      .filter(col("doc_id") === col("keeper"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(keptIds === viaExact)
    assert(keptIds === Seq(1L, 4L))
    // single-pass shape: no join anywhere in the plan
    val plan = kept.queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("join"), s"keeper selection must not self-join:\n$plan")
  }

  test("minhash LSH clusters near-duplicate texts transitively") {
    val base = "the quick brown fox jumps over the lazy dog again and again " * 4
    val df = docs(Seq(
      (10L, base),
      (11L, base + "tail one"),   // near-dup of 10
      (12L, base + "tail one !"), // near-dup of 11 (and 10 transitively)
      (30L, "completely different content about spark catalyst plans " * 6)))
    val got = Dedup.minhashLsh(df, "doc_id", "text", threshold = 0.6).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(10L) === 10L && got(11L) === 10L && got(12L) === 10L)
    assert(got(30L) === 30L)
  }

  test("simhash pairs flag small edits, not distinct docs") {
    val base = "spark catalyst tungsten codegen shuffle partition broadcast join " * 3
    val df = docs(Seq(
      (1L, base), (2L, base.replace("broadcast", "brodcast")),
      (3L, "unrelated words entirely different topic matter here now " * 3)))
    val pairs = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("embedding near-dup clusters via CC keeper") {
    import spark.implicits._
    val v = Array(1f, 0f, 0f, 0f)
    val v2 = Array(0.99f, 0.1f, 0f, 0f) // cosine ~0.995 with v
    val w = Array(0f, 1f, 0f, 0f)
    val df = Seq((1L, v.toSeq), (2L, v2.toSeq), (3L, w.toSeq))
      .toDF("vec_id", "embedding")
    val got = Dedup.embeddingNearDup(df, "vec_id", "embedding", 0.9).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) === 1L && got(2L) === 1L)
    assert(got(3L) === 3L)
  }

  test("minhash LSH hot bucket (identical docs) is capped, clustering unchanged") {
    import spark.implicits._
    // 2000 identical docs land in ONE bucket per band — far above bucketCap,
    // so the sorted-neighborhood path must engage; adjacency edges still
    // chain the whole group into one component (keeper = min id)
    val boiler = "identical boilerplate navigation footer text repeated " * 3
    val df = ((0 until 2000).map(i => (i.toLong, boiler)) :+
      (5000L, "совершенно unrelated unique content about catalyst plans " * 3))
      .toDF("doc_id", "text")
    val got = Dedup.minhashLsh(df, "doc_id", "text", threshold = 0.6, bucketCap = 50)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0 until 2000).forall(i => got(i.toLong) === 0L),
      "hot-bucket members must still cluster transitively")
    assert(got(5000L) === 5000L)
  }

  test("simhash banding finds EVERY pair within maxHamming (exact vs blocked)") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron")
    // clusters of small perturbations → plenty of pairs at Hamming 1..12
    val texts = (0 until 20).flatMap { g =>
      val base = (0 until 10).map(_ => vocab(rng.nextInt(vocab.size)))
      (0 until 3).map { v =>
        val t = base.updated(rng.nextInt(base.size), vocab(rng.nextInt(vocab.size)))
        ((g * 3 + v).toLong, t.mkString(" "))
      }
    }
    val maxHamming = 12
    // exact ground truth with the operator's own tokenization
    val sims = texts.map { case (id, t) => id -> Hashing.simhashText(t) }
    val want = (for {
      (ia, sa) <- sims; (ib, sb) <- sims if ia < ib
      h = java.lang.Long.bitCount(sa ^ sb) if h <= maxHamming
    } yield (ia, ib)).toSet
    assert(want.nonEmpty, "test corpus must contain close pairs")
    val got = Dedup.simhashPairs(texts.toDF("doc_id", "text"), "doc_id", "text",
        maxHamming).select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got === want, s"missing=${(want -- got).size} extra=${(got -- want).size}")
    // the OUTPUT pair set is geometry-independent: a wider combinatorial
    // blocking (here 14 blocks → C(14,12)=91 tables of 2-block keys) must
    // produce the identical set — recall complete by pigeonhole at every
    // geometry, precision pinned by the exact Hamming gate
    val gotWide = Dedup.simhashPairs(texts.toDF("doc_id", "text"), "doc_id",
        "text", maxHamming, blocks = 14, bucketCap = 1000000)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(gotWide === want,
      s"missing=${(want -- gotWide).size} extra=${(gotWide -- want).size}")
  }

  test("hot-bucket split plans as broadcast anti/semi joins, never a shuffle join on sizes") {
    import spark.implicits._
    // a planted hot bucket (value 7 × 300 rows) plus a cold tail
    val banded = ((0L until 300L).map(i => (i, 0, 7L)) ++
        (300L until 320L).map(i => (i, 0, i)))
      .toDF("doc_id", "band", "key")
    val split = BucketPairs.split(banded, Seq("band", "key"),
      bucketCap = 50, persistSizes = false)
    assert(!split.hotEmpty)
    // the fan-out side must be filtered by BROADCAST joins against the
    // collected hot-bucket list — a SortMergeJoin here means the split
    // regressed to re-shuffling the whole fan-out against its bucket sizes
    val smallPlan = split.small.queryExecution.executedPlan.toString
    val hotPlan = split.hotSubset.queryExecution.executedPlan.toString
    assert(smallPlan.contains("BroadcastHashJoin") &&
      smallPlan.contains("LeftAnti"), s"small plan:\n$smallPlan")
    assert(hotPlan.contains("BroadcastHashJoin") &&
      hotPlan.contains("LeftSemi"), s"hot plan:\n$hotPlan")
    assert(!smallPlan.contains("SortMergeJoin") &&
      !hotPlan.contains("SortMergeJoin"))
    // and the split is exact: hot rows = the planted bucket, small = rest
    assert(split.hotSubset.count() === 300L)
    assert(split.small.count() === 20L)
  }

  test("solveSimhashBlocks: minimal blocks while the budget holds, grows with n, capped fan-out") {
    // radius 3: m=4 (today's single-block bands) holds to ~10^5 docs,
    // m=5 (10 tables, ~24-bit keys) covers 10^6, m=6 (20 tables) 10^9
    assert(Dedup.solveSimhashBlocks(10000L, 3) === 4)
    assert(Dedup.solveSimhashBlocks(100000L, 3) === 4)
    assert(Dedup.solveSimhashBlocks(1000000L, 3) === 5)
    assert(Dedup.solveSimhashBlocks(1000000000L, 3) === 6)
    // radius 10 at small n: the C(m, 10) fan-out cap stops growth at m=11
    assert(Dedup.solveSimhashBlocks(300L, 10) === 11)
    // radius 0: one table keyed on the whole signature
    assert(Dedup.solveSimhashBlocks(1000000000L, 0) === 1)
  }

  test("simhash signature is content-meaningful on CJK and punct-only text; " +
      "empty docs are exempt from banding") {
    import spark.implicits._
    // ASCII \W+ tokenization would give ALL of these signature 0 and report
    // every pair as a hamming-0 near-dup; char-trigram features keep distinct
    // content distinct
    val cjkA = "肺部未见 明显异常 密度影 纵隔居中 气管通畅 " * 3
    val cjkB = "完全不同的放射学表现 胸膜增厚 伴少量积液 " * 3
    val punct = "!!! ??? ;;; ***"
    // doc 2: whitespace drift only — the normalized trigram features are
    // IDENTICAL (hamming 0), so the pair is found at any radius
    val df = docs(Seq((1L, cjkA), (2L, cjkA.replace(" ", "  ") + " "),
      (3L, cjkB), (4L, punct), (5L, ""), (6L, "  "), (7L, "")))
    val pairs = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // the ONLY near-dup is (1,2); distinct CJK/punct content must not pair,
    // and empty docs (5,6,7) have no signature → no degenerate all-pairs band
    assert(pairs === Set((1L, 2L)), s"got $pairs")
  }

  test("mixed embedding dimensions fail fast on both cosine paths") {
    import spark.implicits._
    val df = Seq((1L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(0.9f, 0.1f, 0f, 0f)),
      (3L, Seq(1f, 0f))).toDF("vec_id", "embedding")
    val e1 = intercept[Exception] {
      Dedup.embeddingCosinePairs(df, "vec_id", "embedding", 0.5).collect()
    }
    assert(e1.getMessage.contains("mixed embedding dimensions") ||
      Option(e1.getCause).exists(_.getMessage.contains("mixed embedding dimensions")))
    val e2 = intercept[Exception] {
      Dedup.embeddingCosinePairsLsh(df, "vec_id", "embedding", 0.5).collect()
    }
    val msgs = Iterator.iterate[Throwable](e2)(_.getCause).takeWhile(_ != null)
      .take(8).map(t => Option(t.getMessage).getOrElse("")).mkString("|")
    assert(msgs.contains("mixed embedding dimensions"), msgs)
  }

  test("embedding near-dup LSH path (no driver collect) clusters like exact") {
    import spark.implicits._
    val v = Array(1f, 0f, 0f, 0f)
    val v2 = Array(0.99f, 0.1f, 0f, 0f)
    val w = Array(0f, 1f, 0f, 0f)
    val df = Seq((1L, v.toSeq), (2L, v2.toSeq), (3L, w.toSeq))
      .toDF("vec_id", "embedding")
    // localThreshold = 0 forces the LSH-bucketed path
    val got = Dedup.embeddingNearDup(df, "vec_id", "embedding", 0.9, localThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) === 1L && got(2L) === 1L)
    assert(got(3L) === 3L)
  }

  test("winnowing: guaranteed fingerprint share for long-enough common substrings") {
    val k = 16; val w = 8
    val passage = "this exact passage is long enough to guarantee a shared winnow fingerprint"
    val a = "unrelated prefix text before it. " + passage + " and an unrelated suffix."
    val b = "different document entirely here. " + passage + " with other trailing words."
    val fa = graft.ops.TextStats.winnowFingerprints(a, k, w).toSet
    val fb = graft.ops.TextStats.winnowFingerprints(b, k, w).toSet
    // common substring length >= k + w - 1 => at least one shared fingerprint
    assert(passage.length >= k + w - 1)
    assert((fa intersect fb).nonEmpty)
    // deterministic
    assert(fa === graft.ops.TextStats.winnowFingerprints(a, k, w).toSet)
  }

  test("winnowed overlap pairs flag partial copies, not disjoint docs") {
    val passage = "the shared boilerplate paragraph that was copied between two documents verbatim"
    val df = docs(Seq(
      (1L, "first document own content here. " + passage),
      (2L, passage + " second document with different remaining body text"),
      (3L, "a completely different text with no copied passage whatsoever in it at all")))
    val pairs = Dedup.winnowedOverlapPairs(df, "doc_id", "text", minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("winnowing drops boilerplate fingerprints above maxDocFreq (hot-key guard)") {
    val boiler = "identical boilerplate navigation footer appears everywhere in the corpus"
    // unique flank on BOTH sides so every k-gram is either boiler-internal
    // (df=50, dropped) or contains doc-unique chars (df=1, no pair)
    def u(i: Int) = f"uniq$i%04dtag" * 3
    val rows = (0 until 50).map(i => (i.toLong, s"${u(i)} . $boiler . ${u(i)}"))
    val df = docs(rows)
    // without the guard every doc pairs with every other via the boilerplate
    val unguarded = Dedup.winnowedOverlapPairs(df, "doc_id", "text",
      minShared = 1, maxDocFreq = 1000).count()
    assert(unguarded === 50L * 49 / 2)
    // the df cap drops the universal fingerprints; only boundary-selection
    // stragglers (df <= 10) remain — the join is bounded, not quadratic
    val guarded = Dedup.winnowedOverlapPairs(df, "doc_id", "text",
      minShared = 1, maxDocFreq = 10).count()
    assert(guarded < unguarded / 5, s"guarded=$guarded unguarded=$unguarded")
  }

  test("winnow budget-solved df cap bounds the join and keeps rare evidence") {
    // 60 docs share a mid-frequency template passage (its fingerprints have
    // df=60 — under the DEFAULT cap of 1000, so a fixed cap would emit all
    // 60·59/2 template pairs); two docs share a rare passage (df=2). A small
    // pair budget must solve the cap BELOW 60 — killing the template pairs —
    // while the df-2 floor keeps the rare planted pair.
    val boiler = "mid frequency template paragraph shared across the whole cohort of documents"
    val rare = "a rare copied passage that appears in exactly two documents only"
    def u(i: Int) = f"uniq$i%04dtag" * 3
    val rows = (0 until 60).map(i => (i.toLong, s"${u(i)} . $boiler . ${u(i)}")) ++
      Seq((100L, s"${u(100)} . $rare . ${u(100)}"),
        (101L, s"${u(101)} . $rare . ${u(101)}"))
    val df = docs(rows)
    var st: Option[Dedup.WinnowStats] = None
    val pairs = Dedup.winnowedOverlapPairs(df, "doc_id", "text",
      minShared = 1, maxDocFreq = 1000, pairBudgetPerDoc = 4,
      onStats = Some(s => st = Some(s)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((100L, 101L)), s"rare pair lost")
    // the cap bounds join VOLUME (≤ budget·docs pairs by construction); the
    // unbudgeted run must show what was at stake — all C(60,2) template pairs
    assert(pairs.size <= 4 * 62, s"budget exceeded: ${pairs.size} pairs")
    val unbudgeted = Dedup.winnowedOverlapPairs(df, "doc_id", "text",
      minShared = 1, maxDocFreq = 1000).count()
    assert(unbudgeted >= 60L * 59 / 2, s"unbudgeted=$unbudgeted")
    val s = st.get
    assert(s.cap >= 2 && s.cap < 60, s"cap=${s.cap}")
    assert(s.droppedFps > 0 && s.droppedRows >= s.droppedFps * s.cap,
      s"dropped_fps=${s.droppedFps} dropped_rows=${s.droppedRows}")
  }

  test("solveDocFreqCap: budget-monotone, floored at 2, ceilinged at maxDocFreq") {
    // cumulative analytic pairs: df=2 → 10, df=5 → 50, df=50 → 2500
    val hist = Array((2L, 10L), (5L, 4L), (50L, 2L))
    assert(Dedup.solveDocFreqCap(hist, 9.0, 1000) === 2L) // df-2 tier over budget → floor
    assert(Dedup.solveDocFreqCap(hist, 10.0, 1000) === 2L)
    assert(Dedup.solveDocFreqCap(hist, 50.0, 1000) === 5L)
    assert(Dedup.solveDocFreqCap(hist, 1e9, 1000) === 50L)
    assert(Dedup.solveDocFreqCap(hist, 1e9, 30) === 5L) // maxDocFreq still the ceiling
  }

  test("ngram jaccard drops boilerplate shingles above maxDocFreq (misuse guard)") {
    // every doc shares one long boilerplate run; without the stop-shingle
    // guard each of its ~60 8-gram shingles joins 40×39/2 pairs
    val boiler = "shared footer boilerplate text that appears on every single page here"
    def u(i: Int) = f"uniq$i%04dtag" * 4
    val near = (0 until 40).map(i => (i.toLong, s"${u(i)} $boiler"))
    val df = docs(near ++ Seq((100L, "alpha beta gamma delta epsilon zeta eta theta"),
      (101L, "alpha beta gamma delta epsilon zeta eta theta!")))
    // guard active: the boilerplate (df=40 > 10) carries no pairs; the two
    // genuinely near-identical docs still match on their rare shingles
    val guarded = Dedup.ngramJaccardPairs(df, "doc_id", "text",
      n = 8, threshold = 0.5, maxDocFreq = 10).collect()
    assert(guarded.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((100L, 101L)),
      s"got ${guarded.mkString(",")}")
    // default (Int.MaxValue) is exact — the guard is opt-in, so
    // verification-scale callers see every pair including boilerplate ones
    val unguarded = Dedup.ngramJaccardPairs(df, "doc_id", "text",
      n = 8, threshold = 0.5).count()
    assert(unguarded >= 40L * 39 / 2, s"unguarded=$unguarded")
  }

  test("embedding LSH hot buckets fall back to sorted-neighborhood (bounded pairs, evidence kept)") {
    import spark.implicits._
    // 300 tiny perturbations of one vector: every band bucket holds all of
    // them, far above bucketCap=50, so the SMALL path sees nothing and the
    // sorted-neighborhood fallback (which sorts hot rows by the persisted
    // band-keys array — element-wise long order ≡ the signature's bit
    // order) must carry all the pair evidence
    val base = Array.tabulate(8)(i => math.sin(i + 1.0).toFloat)
    val rows = (0L until 300L).map { i =>
      (i, base.zipWithIndex.map { case (x, j) => x + 1e-4f * ((i + j) % 7) }.toSeq)
    }
    val pairs = Dedup.embeddingCosinePairsLsh(rows.toDF("vec_id", "embedding"),
      "vec_id", "embedding", threshold = 0.999, bits = 48, bands = 4,
      bucketCap = 50, neighborWindow = 8).collect()
    assert(pairs.nonEmpty, "hot-bucket fallback must still emit near-dup pairs")
    assert(pairs.forall(_.getDouble(2) >= 0.999))
    // bounded: O(members × window) per bucket-family, never the ~45k all-pairs
    assert(pairs.length < 300 * 8 * 2, s"pair count ${pairs.length} not bounded")
  }

  test("adaptive LSH recall: near-dup pairs found by the banded path match the exact path") {
    import spark.implicits._
    // 2000 uniform 32-dim vectors with every 8th a near-copy of its
    // predecessor (cosine ≳ 0.999 — far above the 0.85 design point, where
    // the geometry's collision probability is ≈ 1): the LSH path must
    // recover essentially every pair the exhaustive path emits
    def vec(i: Long): Array[Float] = {
      var s = graft.ops.Hashing.splitmix64(911L + i * 6364136223846793005L)
      Array.fill(32) {
        s = graft.ops.Hashing.splitmix64(s)
        (((s >>> 11).toDouble / (1L << 53).toDouble) * 2 - 1).toFloat
      }
    }
    val rows = (0L until 2000L).map { i =>
      val v =
        if (i % 8 == 5) vec(i - 1).zipWithIndex.map { case (x, j) =>
          x + 1e-3f * ((i + j) % 5) }
        else vec(i)
      (i, v.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    def pairSet(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet(Dedup.embeddingCosinePairs(df, "vec_id", "embedding", 0.99))
    val lsh = pairSet(Dedup.embeddingCosinePairsLsh(df, "vec_id", "embedding", 0.99))
    assert(exact.size >= 200, s"fixture must plant a real pair population, got ${exact.size}")
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.95, f"LSH recall $recall%.3f < 0.95 (${lsh.size} of ${exact.size} pairs)")
    assert(lsh.subsetOf(exact), "every LSH pair is exact-verified, so none can be spurious")
  }

  test("float embeddings keep their 4-byte width yet emit bit-identical cosines") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // deterministic float corpus with planted near-dups (same shape as the
    // recall spec, smaller): the float input drives the slim verify-join
    // payload branch; casting the SAME data to array<double> drives the
    // wide branch — IEEE float→double upcasts are exact, so the two runs
    // must agree on every (pair, cosine) BIT-FOR-BIT, not approximately
    def vec(i: Long): Array[Float] = {
      var s = graft.ops.Hashing.splitmix64(0xF10A7L + i * 0x9E3779B97F4A7C15L)
      Array.fill(16) {
        s = graft.ops.Hashing.splitmix64(s)
        (((s >>> 11).toDouble / (1L << 53).toDouble) * 2 - 1).toFloat
      }
    }
    val rows = (0L until 400L).map { i =>
      val v =
        if (i % 7 == 3) vec(i - 1).zipWithIndex.map { case (x, j) =>
          x + 1e-3f * ((i + j) % 4) }
        else vec(i)
      (i, v.toSeq)
    }
    val fdf = rows.toDF("vec_id", "embedding")
    assert(fdf.schema("embedding").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType ===
      org.apache.spark.sql.types.FloatType)
    val ddf = fdf.select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    def rowsOf(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val f = rowsOf(Dedup.embeddingCosinePairsLsh(fdf, "vec_id", "embedding", 0.98))
    val dd = rowsOf(Dedup.embeddingCosinePairsLsh(ddf, "vec_id", "embedding", 0.98))
    assert(f.nonEmpty, "fixture must plant pairs")
    assert(f === dd, "float-width payload changed the emitted pairs/cosines")
  }

  test("adaptive LSH geometry: total candidate volume stays linear, recall design point holds") {
    for (n <- Seq(100L, 1000L, 5000L, 20000L, 50000L, 65000L, 200000L,
        500000L, 1000000L, 2000000L)) {
      val (bb, nb) = Dedup.lshGeometry(n)
      assert(bb >= 8 && bb <= 24 && nb >= 8 && nb <= 256,
        s"n=$n caps violated: ($bb,$nb)")
      // the fixpoint invariant: expected TOTAL candidate pairs
      // nb*n^2/2^(bb+1) <= 16n, i.e. n*nb <= 32*2^bb — this is exactly what
      // failed before (band count grew n^0.28 on top of linear per-band
      // volume), so pin it over the whole pre-saturation range: with the
      // widened [8,24]×[8,256] caps that range now extends to ~2.2M vectors
      // (the old 17-bit/64-band caps saturated at 65k)
      assert(n * nb <= 32L * (1L << bb),
        s"n=$n: candidate budget broken — nb=$nb bb=$bb (n*nb=${n * nb} > ${32L * (1L << bb)})")
      // >= 90% recall at the 0.85-cosine design point
      val recall = Dedup.designRecall(bb, nb)
      assert(recall >= 0.9, s"n=$n: design-point recall $recall < 0.9 at ($bb,$nb)")
    }
    // pinned values at the bench's scale points (change = geometry change,
    // which must be a deliberate, re-measured decision); the 5k/50k points
    // are unchanged from the 17-bit caps — the widened caps bind nowhere
    // below the old saturation point
    assert(Dedup.lshGeometry(5000L) === ((12, 23)))
    assert(Dedup.lshGeometry(50000L) === ((17, 62)))
    // formerly-saturated region, now solved un-clamped
    assert(Dedup.lshGeometry(200000L) === ((20, 112)))
    assert(Dedup.lshGeometry(500000L) === ((22, 165)))
    assert(Dedup.lshGeometry(1000000L) === ((23, 200)))
    // saturation with the default caps: bits pin at 24, whose recall-driven
    // band count (244) sits UNDER the 256-band cap — so past ~2.2M vectors
    // the candidate BUDGET degrades (occupancy grows with n/n_sat) while the
    // design-point recall stays >= 0.9; only raising maxBits re-tightens
    // the budget
    assert(Dedup.lshGeometry(100000000L) === ((24, 243)))
    assert(Dedup.designRecall(24, 243) >= 0.9)
    // explicit caps remain the escape hatch and reproduce the r4 geometry
    assert(Dedup.lshGeometry(1000000L, maxBits = 17, maxBands = 64) === ((17, 62)))
  }

  test("dispersion-corrected LSH geometry: budget holds at the MEASURED collision rate") {
    // the dispersion model itself, validated by the scale bench at dim 64:
    // predicted inflation ≈ measured candidate excess at all three points
    // (1.58/1.62 @ 5k on (12,23); 2.50/2.35 @ 50k on (17,62);
    //  4.63/5.66 @ 500k on (22,165))
    assert(math.abs(Dedup.dispersionInflation(12, 64) - 1.58) < 0.02)
    assert(math.abs(Dedup.dispersionInflation(17, 64) - 2.50) < 0.02)
    assert(math.abs(Dedup.dispersionInflation(22, 64) - 4.63) < 0.02)
    // dim = 0 keeps the uncorrected solutions bit-for-bit (pinned above)
    assert(Dedup.lshGeometry(500000L, dim = 0) === ((22, 165)))
    // corrected solutions at the bench's dim-64 scale points
    assert(Dedup.lshGeometry(5000L, dim = 64) === ((13, 28)))
    assert(Dedup.lshGeometry(50000L, dim = 64) === ((19, 92)))
    assert(Dedup.lshGeometry(200000L, dim = 64) === ((23, 200)))
    assert(Dedup.lshGeometry(500000L, dim = 64) === ((24, 243))) // at the caps
    // pre-saturation, the ≤16·n budget holds INCLUDING the inflation factor
    for (n <- Seq(1000L, 5000L, 20000L, 50000L, 100000L, 200000L)) {
      val (bb, nb) = Dedup.lshGeometry(n, dim = 64)
      assert(n * nb * Dedup.dispersionInflation(bb, 64) <= 32.0 * (1L << bb),
        s"n=$n: corrected budget broken at ($bb,$nb)")
      assert(Dedup.designRecall(bb, nb) >= 0.9, s"n=$n recall < 0.9")
    }
    // the honest saturation onset at dim 64 is ~350k (earlier than the
    // uncorrected 2.2M): at 500k the caps bind and the budget is exceeded —
    // degradation is gradual (expected ~22 cand/row vs the 55.7 the
    // UNCORRECTED geometry measured at the same n)
    val (bb5, nb5) = Dedup.lshGeometry(500000L, dim = 64)
    assert(500000L * nb5 * Dedup.dispersionInflation(bb5, 64) > 32.0 * (1L << bb5))
    // the exponent clamp keeps the model inside its validated domain: a
    // low-dimension input must get a BOUNDED correction (the unclamped
    // quadratic model implies per-band collision probabilities > 1 at
    // dim <= 4 and would drive any small-dim corpus straight to the caps)
    assert(Dedup.dispersionInflation(18, 8) === math.exp(2.0))
    assert(Dedup.dispersionInflation(62, 64) === math.exp(2.0))
    assert(Dedup.lshGeometry(1000L, dim = 0) === ((9, 13)))
    assert(Dedup.lshGeometry(1000L, dim = 8) === ((13, 28)))
  }

  test("simhash hot bucket (planted boilerplate band) is capped, pairs bounded, recall traded visibly") {
    import spark.implicits._
    // 300 IDENTICAL docs: one simhash value, so every band bucket holds all
    // 300 — far above bucketCap=50; unguarded this is 300·299/2 join rows
    // per band. Plus one small-edit pair and a distinct doc, whose pairs
    // must be identical with and without the cap engaged.
    val boiler = "identical boilerplate navigation footer text repeated " * 3
    val base = "spark catalyst tungsten codegen shuffle partition broadcast join " * 3
    val rows = (0 until 300).map(i => (i.toLong, boiler)) ++ Seq(
      (1000L, base), (1001L, base.replace("broadcast", "brodcast")),
      (2000L, "unrelated words entirely different topic matter here now " * 3))
    val df = rows.toDF("doc_id", "text")
    var stats: Option[Dedup.SimhashStats] = None
    val capped = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 10,
      bucketCap = 50, neighborWindow = 8, onStats = Some(s => stats = Some(s)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val st = stats.get
    // all 11 band buckets of the boilerplate signature are hot (maxHamming
    // 10 → 11 bands), each with 300 rows
    assert(st.hotBuckets === 11L, st.toString)
    // >= : a non-boiler doc can collide into a hot 5-bit band by chance
    // (~1 expected over 3 docs × 11 bands); the boiler rows are all there
    assert(st.hotRows >= 300L * 11 && st.hotRows <= 300L * 11 + 33, st.toString)
    // bounded candidates: O(rows·window) per band, never the ~45k·11
    // all-pairs volume
    assert(st.candidates < 300L * 8 * 11 * 2,
      s"candidates ${st.candidates} not bounded by the cap")
    // the sorted-neighborhood chain still covers the whole hot group: with
    // identical sort keys the order is by id, so every adjacent pair is
    // emitted — all 300 docs appear, transitively connected, hamming 0
    val hotIds = capped.collect { case (a, b, 0) if a < 300 && b < 300 => Seq(a, b) }.flatten
    assert(hotIds.toSet.size === 300, "every hot-group doc must appear in a pair")
    assert((0L until 299L).forall(i => capped.contains((i, i + 1, 0))),
      "adjacent chain must be complete (transitive closure intact)")
    // non-hot pairs are untouched by the cap: the small-edit pair survives
    // with the same hamming as an uncapped run
    val uncapped = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val smallEdit = uncapped.filter(p => p._1 == 1000L && p._2 == 1001L)
    assert(smallEdit.size === 1)
    assert(capped.filter(p => p._1 == 1000L && p._2 == 1001L) === smallEdit)
    assert(!capped.exists(p => p._1 == 2000L || p._2 == 2000L))
    // the cap must genuinely reduce volume vs the unguarded join
    assert(capped.size < uncapped.size / 5,
      s"capped=${capped.size} uncapped=${uncapped.size}")
  }

  test("hashing primitives are deterministic across calls") {
    assert(Hashing.hash64("abc") === Hashing.hash64("abc"))
    assert(Hashing.hash64("abc") !== Hashing.hash64("abd"))
    assert(Hashing.minhash(Set("ab", "bc"), 4).toSeq ===
      Hashing.minhash(Set("bc", "ab"), 4).toSeq)
    assert(Hashing.jaccard(Set("a", "b"), Set("b", "c")) === (1.0 / 3.0))
    assert(Hashing.simhash(Seq("x", "y")) === Hashing.simhash(Seq("y", "x")))
  }
}
