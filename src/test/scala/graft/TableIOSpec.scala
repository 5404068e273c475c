package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.io.TableIO
import graft.pipeline.{Extract, Pipeline}
import graft.synth.Corpus

/** TableIO manifests, resume anti-join, lineage audit; Pipeline resume. */
class TableIOSpec extends SparkSpec {

  private def tmpDir(): String =
    Files.createTempDirectory("graft-tableio").toString

  test("manifest JSON round-trips") {
    val snap = TableIO.Snapshot("extract", "in-\"quoted\"", 8,
      Seq(TableIO.BucketManifest(0, 10, -123456789L), TableIO.BucketManifest(3, 7, 42L)))
    val parsed = TableIO.parseSnapshot(TableIO.renderSnapshot(snap))
    assert(parsed === snap)
  }

  test("writeStage + readStage round-trips data with lineage") {
    import spark.implicits._
    val dir = tmpDir() + "/t1"
    val df = (0 until 500).map(i => (s"url-$i", i.toLong)).toDF("url", "v")
    val n = TableIO.writeStage(df, dir, "s1", "url", 16)
    assert(n === 16)
    val back = TableIO.readStage(spark, dir)
    assert(back.count() === 500)
    assert(back.select("url", "v").as[(String, Long)].collect().toSet ===
      df.as[(String, Long)].collect().toSet)
    assert(TableIO.auditStage(spark, dir, "url") === Seq.empty)
  }

  test("completeInput commits genuinely-empty buckets → fully-committed fast path") {
    import spark.implicits._
    val dir = tmpDir() + "/t-empty"
    // 5 urls over 64 buckets: most buckets are EMPTY. Without the (0,0)
    // commits the stage could never reach the no-op fast path and every
    // resume would re-evaluate the whole input plan.
    val acc = spark.sparkContext.longAccumulator("evals")
    val df = (0 until 5).map(i => (s"url-$i", i.toLong)).toDF("url", "v")
      .as[(String, Long)].map { r => acc.add(1); r }.toDF("url", "v")
    val n = TableIO.writeStage(df, dir, "s1", "url", 64, completeInput = true)
    assert(n === 64)
    assert(TableIO.readSnapshot(spark, dir).get.committed === (0 until 64).toSet)
    assert(TableIO.auditStage(spark, dir, "url") === Seq.empty)
    assert(TableIO.readStage(spark, dir).count() === 5)
    val evals = acc.value
    assert(TableIO.writeStage(df, dir, "s1", "url", 64, completeInput = true) === 0)
    assert(acc.value === evals, "fully-committed re-run must not evaluate the input")
  }

  test("pendingInput skips committed buckets; resume completes the table") {
    import spark.implicits._
    val dir = tmpDir() + "/t2"
    val full = (0 until 400).map(i => (s"url-$i", i.toLong)).toDF("url", "v")
    // interrupted first run: only half the buckets' input arrived
    val firstHalf = full.filter(TableIO.bucketCol("url", 8) < 4)
    TableIO.writeStage(firstHalf, dir, "s1", "url", 8)
    val snap1 = TableIO.readSnapshot(spark, dir).get
    assert(snap1.committed === Set(0, 1, 2, 3))

    // resume: pending excludes the committed buckets
    val pending = TableIO.pendingInput(full, "url", dir, "s1", 8)
    val pendingBuckets = pending.select(TableIO.bucketCol("url", 8)).distinct()
      .as[Int].collect().toSet
    assert(pendingBuckets === Set(4, 5, 6, 7))

    TableIO.writeStage(pending, dir, "s1", "url", 8)
    assert(TableIO.readSnapshot(spark, dir).get.committed === (0 until 8).toSet)
    assert(TableIO.readStage(spark, dir).count() === 400)
    assert(TableIO.auditStage(spark, dir, "url") === Seq.empty)

    // idempotent: re-running with everything committed writes nothing
    val again = TableIO.pendingInput(full, "url", dir, "s1", 8)
    assert(again.count() === 0)
  }

  test("pendingInput past 1,000 committed buckets: the broadcast anti-join equals the IN-list") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val dir = tmpDir() + "/t-wide"
    val nB = 2048
    val done = (0 to 1000).toSet // one bucket past the IN-list branch
    // a committed manifest alone: no data is needed to decide what is pending
    TableIO.writeSnapshot(spark, dir, TableIO.Snapshot("s1", "", nB,
      done.toSeq.sorted.map(TableIO.BucketManifest(_, 0L, 0L))))
    val input = ((0 until 5000).map(i => (Option(s"url-$i"), i.toLong)) :+ ((None, -1L)))
      .toDF("url", "v")
    val pending = TableIO.pendingInput(input, "url", dir, "s1", nB)
    val joins = pending.queryExecution.optimizedPlan.collect { case j: Join => j.joinType }
    assert(joins === Seq(LeftAnti), pending.queryExecution.optimizedPlan.toString)
    val inList = input.filter(col("url").isNotNull)
      .filter(!TableIO.bucketCol("url", nB).isin(done.toSeq: _*))
    val got = pending.as[(String, Long)].collect().sorted.toSeq
    assert(got === inList.as[(String, Long)].collect().sorted.toSeq)
    assert(got.nonEmpty && got.size < 5000, s"${got.size} of 5000 pending")
  }

  test("audit detects tampered data") {
    val dir = tmpDir() + "/t3"
    import spark.implicits._
    val df = (0 until 100).map(i => (s"url-$i", i.toLong)).toDF("url", "v")
    TableIO.writeStage(df, dir, "s1", "url", 4)
    // tamper: delete one bucket's files
    val f = new java.io.File(s"$dir/bucket=2")
    f.listFiles().foreach(_.delete())
    f.delete()
    val bad = TableIO.auditStage(spark, dir, "url")
    assert(bad === Seq(2))
  }

  test("co-located join over bucketed tables plans with ZERO exchange") {
    import spark.implicits._
    val a = (0 until 400).map(i => (i.toLong % 50, s"a$i")).toDF("k", "va")
    val b = (0 until 300).map(i => (i.toLong % 50, s"b$i")).toDF("k", "vb")
    TableIO.writeBucketedTable(a, "t_buck_a", "k", 8)
    TableIO.writeBucketedTable(b, "t_buck_b", "k", 8)
    // disable broadcast so the shuffle-free-ness comes from bucketing alone
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("t_buck_a")
        .join(spark.table("t_buck_b"), "k")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"co-located join must not shuffle:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"))
      // and it is correct: every k matches 8×6 pairings
      assert(j.count() === 50L * 8 * 6)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("Pipeline resume: partial extract run is completed, not recomputed") {
    val dir = tmpDir() + "/p1"
    val cfg = Pipeline.Config(dir, nBuckets = 8)
    val pages = Corpus.pages(spark, 250, seed = 42, noisyFrac = 0.0).toDF()

    // simulate an interrupted run: only pages of buckets 0-3 got processed
    val partial = pages.filter(TableIO.bucketCol("url", 8) < 4)
    Pipeline.runExtract(partial, cfg)
    val afterPartial = TableIO.readStage(spark, Pipeline.triplesDir(cfg)).count()

    // resume with the full input: only pending buckets are recomputed
    val pendingCount = TableIO.pendingInput(pages, "url", Pipeline.triplesDir(cfg),
      "extract", 8, cfg.inputSnapshot).count()
    assert(pendingCount < pages.count())
    Pipeline.runExtract(pages, cfg)
    val afterResume = TableIO.readStage(spark, Pipeline.triplesDir(cfg)).count()
    assert(afterResume > afterPartial)

    // the resumed table equals a from-scratch run
    val fresh = Extract.triples(pages).toDF()
      .select("url", "subjectType", "subject", "relation", "objectType", "obj")
      .collect().toSet
    val resumed = TableIO.readStage(spark, Pipeline.triplesDir(cfg))
      .select("url", "subjectType", "subject", "relation", "objectType", "obj")
      .collect().toSet
    assert(resumed === fresh)

    // canonicalize runs once, then is skipped
    assert(Pipeline.runCanonicalize(spark, cfg).newBuckets > 0)
    assert(Pipeline.runCanonicalize(spark, cfg).newBuckets === 0)
    assert(TableIO.readStage(spark, Pipeline.canonicalDir(cfg)).count() > 0)
  }

  test("canonicalize rebuilds when a resumed extract extends the triples table") {
    val dir = tmpDir() + "/p3"
    val cfg = Pipeline.Config(dir, nBuckets = 8)
    val pages = Corpus.pages(spark, 200, seed = 42, noisyFrac = 0.0).toDF()
    // canonicalize against a PARTIAL extract...
    Pipeline.runExtract(pages.filter(TableIO.bucketCol("url", 8) < 4), cfg)
    assert(Pipeline.runCanonicalize(spark, cfg).newBuckets > 0)
    val partialCanon = TableIO.readStage(spark, Pipeline.canonicalDir(cfg)).count()
    // ...then the extract resumes with the full input: the canonical table
    // derived from the old extract signature is stale and must be rebuilt
    Pipeline.runExtract(pages, cfg)
    assert(Pipeline.runCanonicalize(spark, cfg).newBuckets > 0,
      "stale canonical table must be rebuilt, not skipped")
    val fullCanon = TableIO.readStage(spark, Pipeline.canonicalDir(cfg)).count()
    assert(fullCanon > partialCanon)
    // and once rebuilt against the final signature, it is skipped again
    assert(Pipeline.runCanonicalize(spark, cfg).newBuckets === 0)
  }

  test("writeStage evaluates the input plan exactly ONCE (inference runs 1x)") {
    import spark.implicits._
    val dir = tmpDir() + "/t5"
    // stand-in for the inference kernel: count every row the plan produces
    val acc = spark.sparkContext.longAccumulator("kernel-evals")
    val df = (0 until 300).map(i => (s"url-$i", i.toLong)).toDF("url", "v")
      .as[(String, Long)].map { r => acc.add(1); r }.toDF("url", "v")
    TableIO.writeStage(df, dir, "s1", "url", 8)
    assert(acc.value === 300L,
      s"input plan ran ${acc.value / 300.0}x — the write must be the only evaluation")
    // and the manifest (derived from the persisted files) still audits clean
    assert(TableIO.auditStage(spark, dir, "url") === Seq.empty)
    assert(TableIO.readStage(spark, dir).count() === 300)
    assert(TableIO.readSnapshot(spark, dir).get.committed === (0 until 8).toSet)
    // fully committed: a re-run is a true no-op — input not evaluated at all
    assert(TableIO.writeStage(df, dir, "s1", "url", 8) === 0)
    assert(acc.value === 300L, "fully-committed re-run must not evaluate the input")
  }

  test("first-run crash between data write and manifest commit resumes cleanly") {
    import spark.implicits._
    val dir = tmpDir() + "/t8"
    val df = (0 until 200).map(i => (s"url-$i", i.toLong)).toDF("url", "v")
    TableIO.writeStage(df, dir, "s1", "url", 8)
    // simulate the crash: data dirs are on disk, but the manifest is still
    // the pre-write claim (zero committed buckets)
    TableIO.writeSnapshot(spark, dir, TableIO.Snapshot("s1", "", 8, Seq.empty))
    // the retry must adopt the written dirs (not throw, not duplicate)
    val n = TableIO.writeStage(df, dir, "s1", "url", 8)
    assert(n === 8)
    assert(TableIO.readStage(spark, dir).count() === 200)
    assert(TableIO.readSnapshot(spark, dir).get.committed === (0 until 8).toSet)
    assert(TableIO.auditStage(spark, dir, "url") === Seq.empty)
  }

  test("writeStage refuses a mismatched configuration or unmanaged data") {
    import spark.implicits._
    val df = (0 until 60).map(i => (s"url-$i", i.toLong)).toDF("url", "v")
    val dir = tmpDir() + "/t6"
    TableIO.writeStage(df, dir, "s1", "url", 16)
    // changing nBuckets / snapshot / stage must fail fast, not silently
    // adopt the 16-bucket directories into an 8-bucket manifest
    intercept[IllegalStateException](TableIO.writeStage(df, dir, "s1", "url", 8))
    intercept[IllegalStateException](TableIO.writeStage(df, dir, "s2", "url", 16))
    intercept[IllegalStateException](
      TableIO.writeStage(df, dir, "s1", "url", 16, inputSnapshot = "v2"))
    // bucket dirs with no manifest are unmanaged: refuse to adopt
    val dir2 = tmpDir() + "/t7"
    df.withColumn("bucket", TableIO.bucketCol("url", 4))
      .write.partitionBy("bucket").parquet(dir2)
    intercept[IllegalStateException](TableIO.writeStage(df, dir2, "s1", "url", 4))
  }

  test("pipeline stage metrics are observed during the single evaluation") {
    val dir = tmpDir() + "/p2"
    val cfg = Pipeline.Config(dir, nBuckets = 4)
    val pages = Corpus.pages(spark, 60, seed = 42, noisyFrac = 0.0).toDF()
    val run = Pipeline.runExtract(pages, cfg)
    assert(run.metrics("extract_rows_prepared") <= 60L)
    assert(run.metrics("extract_rows_prepared") > 0L)
    assert(run.metrics("extract_triples_out") ===
      TableIO.readStage(spark, Pipeline.triplesDir(cfg)).count())
    val canon = Pipeline.runCanonicalize(spark, cfg)
    assert(canon.metrics("link_triples_in") === run.metrics("extract_triples_out"))
    assert(canon.metrics("link_canonical_out") ===
      TableIO.readStage(spark, Pipeline.canonicalDir(cfg)).count())
  }
}
