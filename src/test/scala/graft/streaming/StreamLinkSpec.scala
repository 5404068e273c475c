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

    // one committed batch spreading a few hundred surfaces over 8 buckets
    val t0 = (0 until 200).map(i =>
      Triple(s"u$i", "Mass", f"surface number $i%03d lorem ipsum", "Location",
        "Location", f"object value $i%03d dolor sit"))
    StreamLink.processBatch(t0.toDF(), state, batchId = 0, nStateBuckets = 8)
    assert(StreamLink.readMeta(spark, state).get.nStateBuckets === 8,
      "the bucket count must be pinned in _meta.json")

    def parquetFiles(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
      val s = Files.walk(dir)
      try {
        val b = Seq.newBuilder[java.nio.file.Path]
        s.iterator().forEachRemaining(p =>
          if (p.getFileName.toString.endsWith(".parquet")) b += p)
        b.result()
      } finally s.close()
    }
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
        parquetFiles(bandsRoot.resolve("batch=0").resolve(s"pbucket=$b")).size).sum
      assert(expected > 0, s"fixture too small: bucket(s) $touched are empty")
      val read = scannedFiles(StreamLink.bandState(spark, state, batchId = 1, touched))
      assert(read === expected.toLong,
        s"band scan for buckets $touched read $read files, expected $expected")
      assert(read < allBandFiles,
        "pruned read must not touch the full band state")
    }
    val surfRoot = java.nio.file.Paths.get(state, "surfaces")
    val surfExpected = parquetFiles(
      surfRoot.resolve("batch=0").resolve("sbucket=2")).size
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
}
