package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.link.{Compaction, Linker}
import graft.ops.Hashing
import graft.pipeline.Extract
import graft.schema.Triple
import graft.streaming.StreamLink
import graft.synth.Corpus

/** Offline bridge compaction: the compacted state must equal what the BATCH
  * linker would publish on the union corpus, the migration map must cover
  * the ledgered ids, and the stream must continue against the compacted
  * state. */
class LinkCompactionSpec extends SparkSpec {

  private def jac(a: String, b: String) =
    Hashing.jaccard(Hashing.charShingles(a, 2), Hashing.charShingles(b, 2))
  private def shareBand(a: String, b: String) =
    Linker.bandKeysOf(a).toSet.intersect(Linker.bandKeysOf(b).toSet).nonEmpty

  test("compaction = batch linker on the union corpus; ledgered ids migrate; the stream continues") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-compact").toString
    val state = s"$root/state"; val out = s"$root/compacted"

    // real corpus bulk (exercises grown components and arbitrary id orders)
    // + the deterministic bridge fixture from StreamLinkSpec, so ≥1 bridge
    // is guaranteed rather than corpus luck
    val x = "mmmmnnnnoooopppp"
    val a = (for { c1 <- 'a' to 'z'; c2 <- 'a' to 'z' } yield s"$c1${c2}mmnnnnoooopppp")
      .find(s => jac(s, x) >= 0.6 && shareBand(s, x)).get
    val b = ('a' to 'z').flatMap(c1 => ('a' to 'z').map(c2 => s"mmmmnnnnoooop$c1$c2$c1"))
      .find(s => jac(s, x) >= 0.6 && shareBand(s, x) && jac(s, a) < 0.6).get
    def t(subj: String, obj: String, url: String) =
      Triple(url, "Mass", subj, "Location", "Location", obj)

    val corpus = Extract.triples(
      Corpus.pages(spark, 140, seed = 42, noisyFrac = 0.0).toDF()).toDF()
      .localCheckpoint()
    // pmod, not %: signed remainders would silently drop ~1/3 of the corpus
    // from every batch (and from the union the equality check runs against)
    val batch0 = corpus.filter(pmod(xxhash64(col("url")), lit(3)) === 0)
      .unionByName(Seq(t(a, "objone", "bx1"), t(b, "objtwo", "bx2")).toDF())
    val batch1 = corpus.filter(pmod(xxhash64(col("url")), lit(3)) === 1)
    val batch2 = corpus.filter(pmod(xxhash64(col("url")), lit(3)) === 2)
      .unionByName(Seq(t(x, a, "bx3")).toDF())
    StreamLink.processBatch(batch0, state, batchId = 0)
    StreamLink.processBatch(batch1, state, batchId = 1)
    StreamLink.processBatch(batch2, state, batchId = 2)
    val ledger = StreamLink.readBridges(spark, state).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(ledger.nonEmpty, "fixture must ledger at least one bridge")

    val mig = Compaction.compact(spark, state, out).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2), r.getBoolean(3)))
      .toMap

    // (1) post-compaction resolution == the batch linker on the union corpus
    val union = batch0.unionByName(batch1).unionByName(batch2).as[Triple]
    val want = Linker.resolution(Linker.surfaces(union)).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    val got = StreamLink.readResolution(spark, out).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(got === want,
      "compacted resolution must equal a from-scratch batch run")

    // (2) canonical triples too (ids, representatives, url support counts)
    def tripleSet(df: org.apache.spark.sql.DataFrame) = df
      .select("subjectId", "subject", "subjectType", "relation",
        "objectId", "obj", "objectType", "urls")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4), r.getString(5), r.getString(6), r.getLong(7)))
      .toSet
    assert(tripleSet(StreamLink.readCanonicalTriples(spark, out)) ===
      tripleSet(Linker.canonicalTriples(union).toDF()))

    // (3) the migration map covers the ledgered ids: every bridged id has a
    // changed row pointing at its merged component's new canonical id
    for ((kept, bridged) <- ledger) {
      assert(mig.contains(kept) && mig.contains(bridged),
        s"ledgered ids ($kept, $bridged) must be in the migration map")
      val (newB, _, changedB) = mig(bridged)
      assert(changedB && newB < bridged,
        "a bridged id must migrate to the merged component's minimum")
      assert(mig(kept)._1 === newB,
        "kept and bridged ids of one bridge must land on the SAME new id")
    }
    // the map is total over published ids and self-consistent with (1)
    for ((old, (nw, surf, changed)) <- mig) {
      assert(changed === (old != nw))
      assert(want.values.exists { case (cid, rep) => cid == nw && rep == surf },
        s"migrated id $nw/$surf must be a canonical id the batch run publishes")
    }

    // (4) compaction consumed the ledger and the stream continues — with a
    // FRESH checkpoint, whose first delivery is batchId 0: the snapshot
    // lives under the reserved batch=-1, so even batch 0 reads it, and
    // batch 0's own batch=0 overwrite cannot clobber it (writing the
    // snapshot as batch=0 would make this exact run read zero state and
    // destroy the snapshot partition — silent re-publication + state loss)
    assert(StreamLink.readBridges(spark, out).count() === 0)
    StreamLink.processBatch(Seq(t(x, "brand new object qqq", "bx4")).toDF(),
      out, batchId = 0)
    val res2 = StreamLink.readResolution(spark, out).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(res2(x) === want(x)._1, "an existing surface keeps its compacted id")
    val dup = StreamLink.readResolution(spark, out)
      .groupBy("surface").count().filter(col("count") > 1).count()
    assert(dup === 0, "continuing the stream must not re-publish surfaces")
    // and a later batch on the SAME checkpoint lineage still composes
    StreamLink.processBatch(Seq(t(x, "yet another object zzz", "bx5")).toDF(),
      out, batchId = 1)
    val res3 = StreamLink.readResolution(spark, out).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(res3(x) === want(x)._1)
  }

  test("scale-shaped pin: snapshot keeps one file per bucket and continuation reads stay bucket-pruned") {
    import graft.synth.LinkCorpus

    // the generator's exact-shingle contract (class doc): v0 verifies
    // against v1 AND v2, v1/v2 do not verify against each other, objects
    // share zero shingles with their base
    val f = 7L
    assert(jac(LinkCorpus.surface(f, 0), LinkCorpus.surface(f, 1)) >= 0.6)
    assert(jac(LinkCorpus.surface(f, 0), LinkCorpus.surface(f, 2)) >= 0.6)
    assert(jac(LinkCorpus.surface(f, 1), LinkCorpus.surface(f, 2)) < 0.6)
    assert(jac(LinkCorpus.surface(f, 0), LinkCorpus.objSurface(f)) === 0.0)

    // the same drop order the bench uses at 30k+ families, here at a
    // CI-sized 4k (16k surfaces): v1, v2 publish two components per family,
    // the late v0 bridges them
    val F = 4000L
    val root = Files.createTempDirectory("graft-compact-scale").toString
    val state = s"$root/state"; val out = s"$root/compacted"
    // an open cost of 1 byte writes every table, the snapshot's too, at
    // level L = N = 64, where bucket t lives in dir 64 + t
    val openCost = "spark.sql.files.openCostInBytes"
    withConf(openCost, "1") {
      for ((v, bid) <- Seq((1, 0L), (2, 1L), (0, 2L)))
        StreamLink.processBatch(
          LinkCorpus.triples(spark, 0, F, v), state, batchId = bid)
    }
    assert(StreamLink.readSurfaces(spark, state).count() === 4 * F,
      "3 subject variants + 1 object per family, all distinct")
    val bridges = StreamLink.readBridges(spark, state).count()
    assert(bridges >= (0.8 * F).toLong,
      s"bridge density collapsed: $bridges bridges for $F families")

    withConf(openCost, "1")(Compaction.compact(spark, state, out).count())

    // snapshot write discipline: ONE parquet file per (batch=-1, pbucket) —
    // the property that makes post-compaction pruned reads open exactly as
    // many files as buckets touched, at ANY state size
    def parquetFiles(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
      val s = Files.walk(dir)
      try {
        val b = Seq.newBuilder[java.nio.file.Path]
        s.iterator().forEachRemaining(p =>
          if (p.getFileName.toString.endsWith(".parquet")) b += p)
        b.result()
      } finally s.close()
    }
    val bandsRoot = java.nio.file.Paths.get(out, "bands")
    val totalBandFiles = parquetFiles(bandsRoot).size
    val bucketDirs = {
      val s = Files.list(bandsRoot.resolve("batch=-1"))
      try s.filter(p => p.getFileName.toString.startsWith("pbucket=")).count().toInt
      finally s.close()
    }
    assert(totalBandFiles === bucketDirs,
      s"snapshot must keep one band file per bucket: $totalBandFiles files, $bucketDirs buckets")

    // a pruned read against the snapshot opens exactly the touched buckets'
    // files (asserted through the executed scan's own numFiles metric)
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      val resolved = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val scans = resolved.collectLeaves().collect { case s: FileSourceScanExec => s }
      assert(scans.nonEmpty, resolved.toString.take(1500))
      scans.map(_.metrics("numFiles").value).sum
    }
    val touched = Seq(3L, 17L)
    val expected = touched.map(b =>
      parquetFiles(bandsRoot.resolve("batch=-1").resolve(s"pbucket=${64 + b}")).size).sum
    assert(expected === touched.size, "fixture must fill the touched buckets")
    val read = scannedFiles(StreamLink.bandState(spark, out, batchId = 0, touched))
    assert(read === expected.toLong && read < totalBandFiles,
      s"pruned band read opened $read files (expected $expected of $totalBandFiles)")

    // continuation with a FRESH checkpoint (batchId 0) against the
    // snapshot: new families publish, no surface is re-published
    StreamLink.processBatch(
      LinkCorpus.triples(spark, F, F + 50, 0), out, batchId = 0)
    val res = StreamLink.readResolution(spark, out)
    assert(res.groupBy("surface").count()
      .filter(col("count") > 1).count() === 0,
      "continuing the stream must not re-publish surfaces")
    assert(res.count() === 4 * F + 2 * 50,
      "50 fresh families add one v0 subject + one object surface each")
  }

  test("the band table is the band fan-out of the surface table, one file per bucket dir") {
    import graft.synth.LinkCorpus
    val root = Files.createTempDirectory("graft-compact-bands").toString
    val state = s"$root/state"; val out = s"$root/compacted"
    val F = 200L
    // an open cost of 1 byte writes every table at level L = N = 64
    withConf("spark.sql.files.openCostInBytes", "1") {
      StreamLink.processBatch(LinkCorpus.triples(spark, 0, F, 1)
        .unionByName(LinkCorpus.triples(spark, 0, F, 2)), state, batchId = 0)
      StreamLink.processBatch(LinkCorpus.triples(spark, 0, F, 0), state, batchId = 1)
      Compaction.compact(spark, state, out).count()
    }

    def multiset[T](xs: Seq[T]): Map[T, Int] = xs.groupBy(identity).map { case (k, v) => k -> v.size }
    for (dir <- Seq(state, out)) {
      val surf = spark.read.parquet(s"$dir/surfaces")
        .select("id", "norm", "canonical_id", "canonical_surface").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3))).toSeq
      val want = surf.flatMap { case (id, norm, cid, rep) =>
        Linker.bandKeysOf(norm).map(b => (b, id, norm, cid, rep))
      }
      val got = spark.read.parquet(s"$dir/bands")
        .select("bucket", "id", "norm", "canonical_id", "canonical_surface").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getString(4)))
        .toSeq
      assert(surf.nonEmpty && got.size === want.size, s"$dir band rows")
      assert(multiset(got) === multiset(want),
        s"$dir: bands must be the band fan-out of surfaces")

      // one parquet file in every sbucket=/pbucket= directory
      val s = Files.walk(java.nio.file.Paths.get(dir))
      val bucketDirs = try {
        val b = Seq.newBuilder[java.nio.file.Path]
        s.iterator().forEachRemaining { p =>
          val n = p.getFileName.toString
          if (n.startsWith("sbucket=") || n.startsWith("pbucket=")) b += p
        }
        b.result()
      } finally s.close()
      assert(bucketDirs.nonEmpty)
      for (d <- bucketDirs) {
        val l = Files.list(d)
        val n = try l.filter(_.getFileName.toString.endsWith(".parquet")).count() finally l.close()
        assert(n === 1L, s"$d holds $n parquet files")
      }
    }
  }

  test("a flat-layout state dir is refused by processBatch and migrated by compaction") {
    import graft.synth.LinkCorpus
    val root = Files.createTempDirectory("graft-compact-flat").toString
    val state = s"$root/state"; val flat = s"$root/flat"
    val n = 8L
    StreamLink.processBatch(LinkCorpus.triples(spark, 0, 200, 1)
      .unionByName(LinkCorpus.triples(spark, 0, 200, 2)), state, batchId = 0, nStateBuckets = 8)
    StreamLink.processBatch(LinkCorpus.triples(spark, 0, 200, 0), state, batchId = 1)

    // the same state in the flat layout: full-resolution bucket t in dir t,
    // and a _meta.json without the layout field
    for ((table, bucket, key) <- Seq(("surfaces", "sbucket", "surface"), ("bands", "pbucket", "bucket")))
      spark.read.parquet(s"$state/$table").drop(bucket)
        .withColumn(bucket, pmod(xxhash64(col(key)), lit(n)))
        .repartition(col("batch"), col(bucket)).write.partitionBy("batch", bucket)
        .parquet(s"$flat/$table")
    for (table <- Seq("bridges", "triples"))
      spark.read.parquet(s"$state/$table").write.partitionBy("batch").parquet(s"$flat/$table")
    Files.writeString(java.nio.file.Paths.get(flat, "_meta.json"),
      """{"nStateBuckets": 8, "shingleN": 2}""")
    assert(StreamLink.readMeta(spark, flat).get.layout === StreamLink.FlatLayout)

    val next = LinkCorpus.triples(spark, 200, 220, 0)
    val e = intercept[IllegalArgumentException](
      StreamLink.processBatch(next, flat, batchId = 2))
    assert(e.getMessage.contains("flat bucket layout") && e.getMessage.contains("Compaction"),
      e.getMessage)
    assert(!Files.exists(java.nio.file.Paths.get(flat, "surfaces", "batch=2")),
      "a refused batch must write nothing")

    // compacting the flat dir = compacting the level-layout original, and
    // the snapshot is in the level layout the stream continues against
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).groupBy(identity).map { case (k, v) => k -> v.size }
    val migrated = s"$root/migrated"; val direct = s"$root/direct"
    assert(rows(Compaction.compact(spark, flat, migrated)) ===
      rows(Compaction.compact(spark, state, direct)))
    assert(StreamLink.readMeta(spark, migrated).get ===
      StreamLink.StateMeta(8, 2, StreamLink.LevelLayout))
    for (read <- Seq[(org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame](StreamLink.readSurfaces, StreamLink.readCanonicalTriples,
        (sp, d) => sp.read.parquet(s"$d/bands").drop("pbucket")))
      assert(rows(read(spark, migrated)) === rows(read(spark, direct)))
    StreamLink.processBatch(next, migrated, batchId = 0)
    val res = StreamLink.readResolution(spark, migrated)
    assert(res.groupBy("surface").count().filter(col("count") > 1).count() === 0)
    assert(res.count() === 4 * 200 + 2 * 20)
  }

  test("compaction refuses an outDir that already holds state") {
    import graft.synth.LinkCorpus
    val root = Files.createTempDirectory("graft-compact-guard").toString
    val state = s"$root/state"; val other = s"$root/other"
    StreamLink.processBatch(LinkCorpus.triples(spark, 0, 20, 1), state, batchId = 0)
    StreamLink.processBatch(LinkCorpus.triples(spark, 20, 40, 1), other, batchId = 0)

    // into itself: the snapshot would land beside the state's own batches
    val self = intercept[IllegalArgumentException](Compaction.compact(spark, state, state))
    assert(self.getMessage.contains(state) && self.getMessage.contains("_meta.json"),
      self.getMessage)
    assert(!Files.exists(java.nio.file.Paths.get(state, "surfaces", "batch=-1")),
      "a refused compaction must write nothing")
    // into another state dir, and into a dir holding only a state table
    val intoOther = intercept[IllegalArgumentException](Compaction.compact(spark, state, other))
    assert(intoOther.getMessage.contains(other), intoOther.getMessage)
    val tableOnly = s"$root/table-only"
    Files.createDirectories(java.nio.file.Paths.get(tableOnly, "bridges"))
    val intoTable = intercept[IllegalArgumentException](Compaction.compact(spark, state, tableOnly))
    assert(intoTable.getMessage.contains(tableOnly) && intoTable.getMessage.contains("bridges"),
      intoTable.getMessage)

    // a fresh dir is accepted
    assert(Compaction.compact(spark, state, s"$root/fresh").count() > 0)
  }

  test("compaction refuses a state dir pinned to another shingle width") {
    import graft.synth.LinkCorpus
    val root = Files.createTempDirectory("graft-compact-shingle").toString
    val state = s"$root/state"; val out = s"$root/out"
    StreamLink.processBatch(LinkCorpus.triples(spark, 0, 20, 1), state, batchId = 0)
    // the checksum file of the _meta.json rewritten below
    Files.delete(java.nio.file.Paths.get(state, "._meta.json.crc"))
    Files.writeString(java.nio.file.Paths.get(state, "_meta.json"),
      """{"nStateBuckets": 64, "shingleN": 3, "layout": 2}""")

    // the message processBatch gives for the same dir
    val byBatch = intercept[IllegalArgumentException](
      StreamLink.processBatch(LinkCorpus.triples(spark, 20, 40, 1), state, batchId = 1))
    val e = intercept[IllegalArgumentException](Compaction.compact(spark, state, out))
    assert(e.getMessage.contains("shingleN=3") && e.getMessage === byBatch.getMessage,
      e.getMessage)
    assert(!Files.exists(java.nio.file.Paths.get(out)), "a refused compaction must write nothing")
  }
}
