package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.TextNorm
import graft.link.Linker
import graft.ops.Hashing
import graft.schema.Triple
import graft.synth.LinkCorpus
import graft.tools.ClusterProbe

/** Incremental entity linking: stable canonical ids across a checkpointed
  * restart, the documented bridge conflict rule, and replay idempotency. */
class StreamLinkSpec extends SparkSpec {

  private def jac(a: String, b: String) =
    Hashing.jaccard(Hashing.charShingles(a, 2), Hashing.charShingles(b, 2))
  private def shareBand(a: String, b: String) =
    Linker.bandKeysOf(a).toSet.intersect(Linker.bandKeysOf(b).toSet).nonEmpty

  private def parquetFiles(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val s = Files.walk(dir)
    try {
      val b = Seq.newBuilder[java.nio.file.Path]
      s.iterator().forEachRemaining(p =>
        if (p.getFileName.toString.endsWith(".parquet")) b += p)
      b.result()
    } finally s.close()
  }

  /** The rows of `df` as a multiset. */
  private def rows(df: org.apache.spark.sql.DataFrame): Map[Seq[Any], Int] =
    df.collect().map(_.toSeq).groupBy(identity).map { case (k, v) => k -> v.size }

  /** The bucket dir numbers under `dir` (`sbucket=`/`pbucket=` values). */
  private def bucketDirsUnder(dir: java.nio.file.Path): Seq[Long] = {
    val s = Files.list(dir)
    try {
      val b = Seq.newBuilder[Long]
      s.iterator().forEachRemaining { p =>
        val n = p.getFileName.toString
        if (n.startsWith("sbucket=") || n.startsWith("pbucket=")) b += n.drop(8).toLong
      }
      b.result().sorted
    } finally s.close()
  }

  test("restart keeps published ids; a bridging batch adopts the min and records the bridge") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-streamlink").toString
    val in = s"$root/in"; val state = s"$root/state"; val ckpt = s"$root/ckpt"

    // deterministic fixture search: X near BOTH A and B (jaccard ≥ 0.6 and
    // a shared LSH band — banding is hash-deterministic, so this is a
    // precondition probe, not luck), while A and B are NOT near each other
    val x = "mmmmnnnnoooopppp"
    val cands = for {
      c1 <- 'a' to 'z'; c2 <- 'a' to 'z'
    } yield s"$c1${c2}mmnnnnoooopppp"
    val a = cands.find(s => jac(s, x) >= 0.6 && shareBand(s, x)).get
    // b may share a BAND with a (high-overlap sets collide far above the J²
    // estimate — the shared global-min shingle dominates every lane); that
    // candidate pair is killed by jaccard VERIFICATION, so jac(a,b) < 0.6
    // alone guarantees distinct components
    val b = ('a' to 'z').flatMap(c1 => ('a' to 'z').map(c2 => s"mmmmnnnnoooop$c1$c2$c1"))
      .find(s => jac(s, x) >= 0.6 && shareBand(s, x) && jac(s, a) < 0.6).get

    def triple(subj: String, obj: String, url: String) =
      Triple(url, "Mass", subj, "Location", "Location", obj)
    def drop(ts: Seq[Triple]): Unit =
      ts.toDF().write.mode("append").parquet(in)
    def runOnce(): Unit = {
      val q = StreamLink.run(
        spark.readStream.schema(Seq(triple("s", "o", "u")).toDF().schema)
          .parquet(in).as[Triple], state, ckpt)
      try q.awaitTermination() finally q.stop()
    }

    // batch 0: A and B are published as two distinct components
    drop(Seq(triple(a, "objone", "u1"), triple(b, "objtwo", "u2")))
    runOnce()
    val res1 = StreamLink.readResolution(spark, state).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(res1.contains(a) && res1.contains(b))
    assert(res1(a)._1 !== res1(b)._1, "A and B must start as separate components")
    assert(StreamLink.readBridges(spark, state).count() === 0)

    // batch 1 (after restart, recovered from the checkpoint): X bridges them
    drop(Seq(triple(x, a, "u3")))
    runOnce()
    val res2 = StreamLink.readResolution(spark, state).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    // published assignments are immutable
    assert(res2(a) === res1(a) && res2(b) === res1(b),
      "a bridge must never rewrite published canonical ids")
    // the bridging surface adopts the minimum existing id AND its representative
    val keptId = math.min(res1(a)._1, res1(b)._1)
    val bridgedId = math.max(res1(a)._1, res1(b)._1)
    val keptRep = if (res1(a)._1 == keptId) res1(a)._2 else res1(b)._2
    assert(res2(x) === ((keptId, keptRep)), s"got ${res2(x)}")
    val bridges = StreamLink.readBridges(spark, state).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bridges === Set((keptId, bridgedId)),
      "the unadopted component must be ledgered for offline compaction")

    // canonical triples aggregate across both batches; batch 1's object `a`
    // resolves through the EXISTING state (the incremental candidate join)
    val canon = StreamLink.readCanonicalTriples(spark, state).collect()
    assert(canon.length === 3)
    assert(canon.exists(r => r.getAs[Long]("subjectId") == res2(x)._1 &&
      r.getAs[String]("subject") == keptRep &&
      r.getAs[String]("obj") == res1(a)._2),
      s"x's triple must resolve through the existing state; got ${canon.mkString("; ")}")

    // replay idempotency: re-running batch 1 with the same data must leave
    // the state byte-identical (the overwrite-own-partition contract)
    StreamLink.processBatch(Seq(triple(x, a, "u3")).toDF(), state, batchId = 1)
    val res3 = StreamLink.readResolution(spark, state).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(res3 === res2, "a replayed micro-batch must be a no-op on the state")
    assert(StreamLink.readCanonicalTriples(spark, state).collect().length === 3)
  }

  test("a state dir with tables but no _meta.json is refused, never adopted as fresh") {
    import spark.implicits._
    val state = Files.createTempDirectory("graft-streamlink-legacy").toString
    // simulate a foreign / pre-bucketed layout: a surfaces table with no meta
    Seq(("s", "s", 1L, 1L, "s"))
      .toDF("surface", "norm", "id", "canonical_id", "canonical_surface")
      .write.parquet(s"$state/surfaces/batch=0")
    val e = intercept[IllegalArgumentException] {
      StreamLink.processBatch(
        Seq(Triple("u", "Mass", "subj", "Location", "Location", "obj")).toDF(),
        state, batchId = 1)
    }
    assert(e.getMessage.contains("no _meta.json"), e.getMessage)
  }

  test("per-batch state reads scan only the hash-bucket partitions the batch touches") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import spark.implicits._
    val state = Files.createTempDirectory("graft-streamlink-prune").toString

    // one committed batch spreading a few hundred surfaces over 8 buckets:
    // an open cost of 1 byte writes its tables at level L = N = 8, where
    // bucket t lives in dir 8 + t
    val t0 = (0 until 200).map(i =>
      Triple(s"u$i", "Mass", f"surface number $i%03d lorem ipsum", "Location",
        "Location", f"object value $i%03d dolor sit"))
    withConf("spark.sql.files.openCostInBytes", "1") {
      StreamLink.processBatch(t0.toDF(), state, batchId = 0, nStateBuckets = 8)
    }
    assert(StreamLink.readMeta(spark, state).get.nStateBuckets === 8,
      "the bucket count must be pinned in _meta.json")

    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect() // execute THIS df so its scan metrics are populated
      val resolved = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val scans = resolved.collectLeaves().collect { case f: FileSourceScanExec => f }
      assert(scans.nonEmpty, resolved.toString.take(1500))
      scans.map(_.metrics("numFiles").value).sum
    }

    val bandsRoot = java.nio.file.Paths.get(state, "bands")
    val allBandFiles = parquetFiles(bandsRoot).size
    for (touched <- Seq(Seq(3L), Seq(1L, 6L))) {
      val expected = touched.map(b =>
        parquetFiles(bandsRoot.resolve("batch=0").resolve(s"pbucket=${8 + b}")).size).sum
      assert(expected > 0, s"fixture too small: bucket(s) $touched are empty")
      val read = scannedFiles(StreamLink.bandState(spark, state, batchId = 1, touched))
      assert(read === expected.toLong,
        s"band scan for buckets $touched read $read files, expected $expected")
      assert(read < allBandFiles,
        "pruned read must not touch the full band state")
    }
    val surfRoot = java.nio.file.Paths.get(state, "surfaces")
    val surfExpected = parquetFiles(
      surfRoot.resolve("batch=0").resolve("sbucket=10")).size
    val surfRead = scannedFiles(StreamLink.surfaceState(spark, state, 1, Seq(2L)))
    assert(surfRead === surfExpected.toLong && surfRead < parquetFiles(surfRoot).size)

    // behavior is unchanged by the pruning: a second batch re-mentioning an
    // existing surface plus a brand-new one resolves the old surface through
    // the (pruned) state without re-publishing it
    val oldSurface = t0.head.subject
    StreamLink.processBatch(
      Seq(Triple("ux", "Mass", oldSurface, "Location", "Location",
        "completely fresh object zzz")).toDF(), state, batchId = 1)
    val res = StreamLink.readResolution(spark, state).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val dup = StreamLink.readResolution(spark, state)
      .groupBy("surface").count().filter(col("count") > 1).count()
    assert(dup === 0, "an already-published surface must not be re-added")
    assert(res.contains("completely fresh object zzz"))
  }

  test("bucket level: the largest power of two whose files hold openCost bytes, in [1, N]") {
    val schema = new org.apache.spark.sql.types.StructType()
      .add("a", "long").add("b", "long") // defaultSize 16 bytes a row
    val openCost = 4L << 20
    def level(rows: Long) = StreamLink.bucketLevel(rows, schema, openCost, 64)
    val rowsPerFile = openCost / 16
    assert(level(0) === 1 && level(rowsPerFile - 1) === 1 && level(rowsPerFile) === 1)
    assert(level(2 * rowsPerFile - 1) === 1 && level(2 * rowsPerFile) === 2)
    assert(level(5 * rowsPerFile) === 4 && level(8 * rowsPerFile) === 8)
    assert(level(64 * rowsPerFile) === 64 && level(1000 * rowsPerFile) === 64)
    // every level's dirs of a full-resolution bucket: L + (t mod L)
    assert(StreamLink.bucketDirs(Seq(5L), 8) === Seq(1L, 3L, 5L, 13L))
    assert(StreamLink.bucketDirs(Seq(1L, 5L), 8).sorted === Seq(1L, 3L, 5L, 9L, 13L))
  }

  test("a small batch writes one file per bucketed table, in the level layout") {
    val state = Files.createTempDirectory("graft-streamlink-small").toString
    StreamLink.processBatch(LinkCorpus.triples(spark, 0, 200, 1), state, batchId = 0)
    assert(StreamLink.readMeta(spark, state).get ===
      StreamLink.StateMeta(64, 2, StreamLink.LevelLayout))
    for (table <- Seq("surfaces", "bands")) {
      val batch = java.nio.file.Paths.get(state, table, "batch=0")
      assert(bucketDirsUnder(batch) === Seq(1L), s"$table: one dir at level 1")
      assert(parquetFiles(batch).size === 1, s"$table: one file")
    }
    // the four tables of the batch: 4 files where the flat layout wrote 130
    assert(parquetFiles(java.nio.file.Paths.get(state)).size === 4)
  }

  test("state mixing bucket levels: pruned reads are the touched buckets' rows; links like the batch linker") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-streamlink-levels").toString
    val state = s"$root/state"; val out = s"$root/compacted"
    val n = 8
    val openCost = "spark.sql.files.openCostInBytes"
    val gold = graft.synth.Corpus.gold(spark, 60, seed = 7).toDF()
      .select("url", "subjectType", "subject", "relation", "objectType", "obj")
    val batches = Seq(
      // the default open cost: every table of this batch at level 1
      (None, LinkCorpus.triples(spark, 0, 300, 1).unionByName(LinkCorpus.triples(spark, 0, 300, 2))
        .unionByName(gold.filter(pmod(xxhash64(col("url")), lit(2)) === 0))),
      // 1 byte: level N
      (Some("1"), LinkCorpus.triples(spark, 0, 150, 0)
        .unionByName(gold.filter(pmod(xxhash64(col("url")), lit(2)) === 1))),
      // in between: 150 new surfaces (11,400 B) at level 2, their 600 band
      // rows (38,400 B) at level 8
      (Some("3000"), LinkCorpus.triples(spark, 150, 300, 0)))
      .map { case (cost, df) => (cost, df.localCheckpoint()) }
    for (((cost, df), bid) <- batches.zipWithIndex) {
      def link(): Unit = StreamLink.processBatch(df, state, bid.toLong, nStateBuckets = n)
      cost.fold(link())(withConf(openCost, _)(link()))
    }
    val levels = for {
      table <- Seq("surfaces", "bands"); bid <- batches.indices
      d <- bucketDirsUnder(java.nio.file.Paths.get(state, table, s"batch=$bid"))
    } yield java.lang.Long.highestOneBit(d)
    assert(levels.distinct.sorted === Seq(1L, 2L, 8L), "the fixture must mix levels")

    // pruned reads against the mixed state = the whole tables' rows of the
    // touched full-resolution buckets, from the earlier batches
    def whole(table: String, key: String, touched: Seq[Long], batchId: Long) =
      spark.read.parquet(s"$state/$table")
        .filter(col("batch") < batchId && pmod(xxhash64(col(key)), lit(n.toLong)).isin(touched: _*))
    for (touched <- Seq(Seq(0L), Seq(1L, 6L), (0L until n.toLong)); batchId <- Seq(2L, 3L)) {
      val bands = StreamLink.bandState(spark, state, batchId, touched)
      val surfaces = StreamLink.surfaceState(spark, state, batchId, touched)
      assert(rows(bands) === rows(whole("bands", "bucket", touched, batchId)
        .select(bands.columns.map(col).toSeq: _*)), s"bands of $touched before $batchId")
      assert(rows(surfaces) === rows(whole("surfaces", "surface", touched, batchId)
        .select(surfaces.columns.map(col).toSeq: _*)), s"surfaces of $touched before $batchId")
      assert(surfaces.count() > 0)
    }

    // no published surface is re-published, and the compacted state is the
    // batch linker's on the union of the batches
    assert(StreamLink.readResolution(spark, state).groupBy("surface").count()
      .filter(col("count") > 1).count() === 0)
    graft.link.Compaction.compact(spark, state, out).count()
    val cols = Seq("subjectId", "subject", "subjectType", "relation",
      "objectId", "obj", "objectType", "urls")
    val union = batches.map(_._2).reduce(_ unionByName _).as[Triple]
    assert(ClusterProbe.checksumOf(StreamLink.readCanonicalTriples(spark, out), cols) ===
      ClusterProbe.checksumOf(Linker.canonicalTriples(union).toDF(), cols))
  }

  test("an empty batch writes nothing and creates no _meta.json") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-streamlink-empty").toString
    val state = s"$root/state"
    StreamLink.processBatch(Seq.empty[Triple].toDF(), state, batchId = 0)
    StreamLink.processBatch(LinkCorpus.triples(spark, 0, 20, 1).filter(lit(false)), state,
      batchId = 1)
    assert(!Files.exists(java.nio.file.Paths.get(state)), "an empty batch wrote state")
  }

  test("whole-table state reads run no job while their frames are built") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val root = Files.createTempDirectory("graft-streamlink-reads").toString
    val state = s"$root/state"
    StreamLink.processBatch(LinkCorpus.triples(spark, 0, 100, 1)
      .unionByName(LinkCorpus.triples(spark, 0, 100, 2)), state, batchId = 0)
    StreamLink.processBatch(LinkCorpus.triples(spark, 0, 100, 0), state, batchId = 1)

    val building = new java.util.concurrent.atomic.AtomicInteger()
    val closed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case "build" => building.incrementAndGet()
          case "end" => closed.countDown()
          case _ =>
        }
    }
    val reads = Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame)](
      "readResolution" -> StreamLink.readResolution,
      "readSurfaces" -> StreamLink.readSurfaces,
      "readTripleProvenance" -> StreamLink.readTripleProvenance,
      "readBridges" -> StreamLink.readBridges)
    sc.addSparkListener(listener)
    val frames = try {
      sc.setJobGroup("build", null)
      val fs = reads.map { case (name, read) => name -> read(spark, state) }
      sc.setJobGroup("end", null)
      sc.parallelize(Seq(1), 1).count()
      assert(closed.await(60, java.util.concurrent.TimeUnit.SECONDS), "marker job never reported")
      fs
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(building.get === 0, s"${building.get} jobs ran while the frames were built")

    // the same rows as a read that infers the schema from the files
    val inferred = Map(
      "readResolution" -> spark.read.parquet(s"$state/surfaces")
        .select("surface", "canonical_id", "canonical_surface"),
      "readSurfaces" -> spark.read.parquet(s"$state/surfaces")
        .select("surface", "norm", "id", "canonical_id", "canonical_surface"),
      "readTripleProvenance" -> spark.read.parquet(s"$state/triples")
        .select("subjectId", "subject", "subjectType", "relation",
          "objectId", "obj", "objectType", "url"),
      "readBridges" -> spark.read.parquet(s"$state/bridges")
        .select("kept_id", "bridged_id").distinct())
    for ((name, df) <- frames) {
      val want = rows(inferred(name))
      assert(want.nonEmpty && rows(df) === want, name)
    }
  }

  test("hot band buckets (over bucketCap=1000 members) link through the sorted-neighborhood path") {
    import spark.implicits._
    val state = Files.createTempDirectory("graft-streamlink-hot").toString
    // a templated surface family: one long shared header + a 4-digit tail,
    // so most members share the header's minhash lanes and land in ONE band
    // bucket; objects are LinkCorpus reversed bases (singleton components),
    // and LinkCorpus v1/v2 → v0 families add bridges on the small path
    def template(i: Int) = f"hot band templated surface family with a long shared header $i%04d"
    def rows(idx: Range, tag: String) = idx.map(i =>
      Triple(s"$tag/$i", "Mass", template(i), "Location", "Location",
        LinkCorpus.objSurface(i.toLong)))
    def family(f: Long, v: Int) = Triple(s"lc/v$v/$f", "Mass",
      LinkCorpus.surface(f, v), "Location", "Location", LinkCorpus.objSurface(f))
    val fams = 9000L until 9030L
    val batch0 = rows(0 until 1200, "b0") ++ fams.flatMap(f => Seq(family(f, 1), family(f, 2)))
    // batch 1: a fresh slice of the template family, re-mentions of published
    // template surfaces, and the bridging v0 surfaces
    val batch1 = rows(1200 until 2400, "b1") ++ rows(0 until 50, "b1-again") ++
      fams.map(family(_, 0))

    // precondition: the hot path really engages — in each batch more than
    // bucketCap template surfaces share one band key
    def maxBucket(idx: Range) = idx
      .flatMap(i => Linker.bandKeysOf(TextNorm.processSentStr(template(i))))
      .groupBy(identity).values.map(_.size).max
    assert(maxBucket(0 until 1200) > 1000 && maxBucket(1200 until 2400) > 1000)

    StreamLink.processBatch(batch0.toDF(), state, batchId = 0)
    StreamLink.processBatch(batch1.toDF(), state, batchId = 1)

    val surf = spark.read.parquet(s"$state/surfaces")
    val templ = surf.filter(col("surface").startsWith("hot band templated"))
    // every template surface chains into ONE component, and batch 1's new
    // members adopt the id published in batch 0 (new→existing hot pairs)
    assert(templ.count() === 2400L)
    assert(templ.select("canonical_id", "canonical_surface").distinct().count() === 1L)
    // (row count, order-independent checksum) pins of the whole state
    val cols = Seq("surface", "id", "canonical_id", "canonical_surface")
    assert(ClusterProbe.checksumOf(surf, cols) === ((4920L, 3692943640303364102L)))
    val bridges = StreamLink.readBridges(spark, state)
    assert(ClusterProbe.checksumOf(bridges, Seq("kept_id", "bridged_id")) ===
      ((29L, 3551733364098015811L)))
    val canon = StreamLink.readCanonicalTriples(spark, state)
    assert(ClusterProbe.checksumOf(canon, canon.columns.toSeq) ===
      ((2460L, -7942468156471257490L)))
  }

  test("concurrently settles every sibling before rethrowing the first failure") {
    val siblingDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      StreamLink.concurrently(
        () => throw new IllegalStateException("write failed"),
        () => { Thread.sleep(500); siblingDone.set(true) })
    }
    assert(e.getMessage === "write failed")
    assert(siblingDone.get, "a sibling write was still running when the failure surfaced")
  }

  test("one batch into a fresh state publishes what the batch linker publishes") {
    import spark.implicits._
    val state = Files.createTempDirectory("graft-streamlink-fresh").toString
    val triples = LinkCorpus.triples(spark, 0, 300, 0)
      .unionByName(graft.synth.Corpus.gold(spark, 60, seed = 7).toDF()
        .select("url", "subjectType", "subject", "relation", "objectType", "obj"))
      .localCheckpoint()
    StreamLink.processBatch(triples, state, batchId = 0)
    val cols = Seq("subjectId", "subject", "subjectType", "relation",
      "objectId", "obj", "objectType", "urls")
    val want = ClusterProbe.checksumOf(Linker.canonicalTriples(triples.as[Triple]).toDF(), cols)
    assert(want._1 > 300L)
    assert(ClusterProbe.checksumOf(StreamLink.readCanonicalTriples(spark, state), cols) === want)
  }

  test("processBatch and compact label every job by phase, under the caller's job group") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val root = Files.createTempDirectory("graft-streamlink-labels").toString
    val state = s"$root/state"
    // (job group, description) of every job, in submission order; marker
    // jobs in group "between" split the calls, one in "end" closes them
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val closed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).map(_.getProperty(k)).orNull
        if (prop("spark.jobGroup.id") == "end") closed.countDown()
        else jobs.add((prop("spark.jobGroup.id"), prop("spark.job.description")))
      }
    }
    def marker(group: String): Unit = {
      sc.setJobGroup(group, null)
      sc.parallelize(Seq(1), 1).count()
    }
    sc.addSparkListener(listener)
    try {
      // no description of the caller's own: every label comes from processBatch
      sc.setJobGroup("g1", null)
      StreamLink.processBatch(LinkCorpus.triples(spark, 0, 200, 1)
        .unionByName(LinkCorpus.triples(spark, 0, 200, 2)), state, batchId = 0)
      marker("between")
      sc.setJobGroup("g2", null)
      StreamLink.processBatch(LinkCorpus.triples(spark, 0, 200, 0), state, batchId = 1)
      marker("between")
      sc.setJobGroup("g3", null)
      graft.link.Compaction.compact(spark, state, s"$root/compacted")
      marker("end")
      assert(closed.await(60, java.util.concurrent.TimeUnit.SECONDS), "marker job never reported")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    val all = jobs.toArray(Array.empty[(String, String)]).toSeq
    val (first, rest) = all.span(_._1 != "between")
    val (second, rest2) = rest.drop(1).span(_._1 != "between")
    val compaction = rest2.drop(1)
    assert(first.map(_._1).distinct === Seq("g1"))
    assert(second.map(_._1).distinct === Seq("g2"),
      s"${second.count(_._1 != "g2")} of ${second.size} jobs of the second call ran outside its group")
    assert(compaction.map(_._1).distinct === Seq("g3"))
    // each call restores the caller's (empty) description after it
    assert(all.filter(_._1 == "between").map(_._2).distinct === Seq(null))
    val phases = Seq("probe", "candidates", "components", "assign") ++
      Seq("surfaces", "bands", "bridges", "triples").map("write " + _)
    for ((call, id) <- Seq((first, 0L), (second, 1L))) {
      val labels = call.map(_._2)
      assert(labels.toSet.subsetOf(phases.map(StreamLink.jobLabel(id, _)).toSet),
        s"unlabelled or foreign jobs in batch $id: ${labels.distinct}")
      assert(phases.forall(p => labels.contains(StreamLink.jobLabel(id, p))))
    }
    val compactLabels = ("compact" +: phases.filter(_.startsWith("write")))
      .map(p => s"Compaction $state: $p")
    assert(compaction.map(_._2).toSet === compactLabels.toSet)
    // exact job counts (labels add none): a count that moves means the plan
    // moved. The emptiness test reads the input checkpoint's observed count
    // rather than running a job of its own
    def perPhase(call: Seq[(String, String)]) =
      call.groupBy(_._2).map { case (l, js) => s"${l.split(": ").last}=${js.size}" }.toSeq.sorted
    assert((first.size, second.size) === ((18, 20)),
      s"batch 0: ${perPhase(first).mkString(", ")}; batch 1: ${perPhase(second).mkString(", ")}")
  }

  test("both sides of the broadcast rule link alike: two batches and a compaction") {
    import spark.implicits._
    val gold = graft.synth.Corpus.gold(spark, 60, seed = 7).toDF()
      .select("url", "subjectType", "subject", "relation", "objectType", "obj")
    val batches = Seq(
      LinkCorpus.triples(spark, 0, 150, 1).unionByName(LinkCorpus.triples(spark, 0, 150, 2))
        .unionByName(gold.filter(pmod(xxhash64(col("url")), lit(2)) === 0)),
      LinkCorpus.triples(spark, 0, 150, 0)
        .unionByName(gold.filter(pmod(xxhash64(col("url")), lit(2)) === 1)))
      .map(_.localCheckpoint())
    def link(root: String): Unit = {
      batches.zipWithIndex.foreach { case (df, bid) =>
        StreamLink.processBatch(df, s"$root/state", bid.toLong)
      }
      graft.link.Compaction.compact(spark, s"$root/state", s"$root/compacted").count()
    }
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val (sized, off) = (Files.createTempDirectory("graft-streamlink-bcast").toString,
      Files.createTempDirectory("graft-streamlink-nobcast").toString)
    link(sized)
    withConf(threshold, "-1")(link(off))

    // the rule itself: the batch's resolution is hinted at the default
    // threshold and left to the planner at -1
    val res = Seq(("s", 1L, "s")).toDF("surface", "canonical_id", "canonical_surface")
    def hinted(df: org.apache.spark.sql.DataFrame) = df.queryExecution.analyzed.exists {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h.hints.strategy.nonEmpty
      case _ => false
    }
    assert(hinted(Linker.broadcastBySize(res, 1)))
    assert(!withConf(threshold, "-1")(hinted(Linker.broadcastBySize(res, 1))))

    // every state table, row for row (batch and bucket dirs included), and
    // the compacted canonical triples
    val tables = Seq("surfaces", "bands", "bridges", "triples")
    for (dir <- Seq("state", "compacted"); table <- tables) {
      val want = rows(spark.read.parquet(s"$sized/$dir/$table"))
      assert(rows(spark.read.parquet(s"$off/$dir/$table")) === want, s"$dir/$table")
      assert(table == "bridges" && dir == "compacted" || want.nonEmpty, s"$dir/$table is empty")
    }
    assert(StreamLink.readBridges(spark, s"$sized/state").count() > 0, "the fixture must bridge")
    assert(rows(StreamLink.readCanonicalTriples(spark, s"$off/compacted")) ===
      rows(StreamLink.readCanonicalTriples(spark, s"$sized/compacted")))
  }
}
