package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.io.TableIO
import graft.link.Linker
import graft.ops.Observed
import graft.ops.Observed.observedCount
import graft.schema.Triple

/** End-to-end KG materialization with per-partition lineage + resume
  * (north_star: extract → link/canonicalize → graph-materialize, resumable
  * from checkpoint).
  *
  * Stage "extract" is embarrassingly parallel and resumes at bucket grain:
  * input pages whose url-bucket is already committed are filtered out BEFORE
  * the inference barrier, so a resumed run re-reads only pending work.
  * Stage "canonicalize" is a corpus-global op (connected components) and
  * resumes at stage grain (skip if committed for the same input snapshot).
  */
object Pipeline {

  /** @param completeInput attests every run's `pages` frame is the WHOLE
    *        snapshot (the normal production contract): buckets whose pending
    *        input yields zero rows then commit as (0,0) lineage, so sparse
    *        stages reach the fully-committed no-op fast path instead of
    *        re-running the kernel over zero-output buckets on every resume.
    *        Leave false when feeding the stage incrementally (input arriving
    *        in batches under one snapshot id) — only the caller can tell a
    *        sparse corpus from not-yet-arrived input. */
  final case class Config(
      workDir: String,
      nBuckets: Int = 64,
      extractor: ExtractorConfig = ExtractorConfig(),
      inputSnapshot: String = "pages-v1",
      completeInput: Boolean = false)

  def triplesDir(cfg: Config): String = s"${cfg.workDir}/triples"
  def canonicalDir(cfg: Config): String = s"${cfg.workDir}/canonical_triples"
  def encodedDir(cfg: Config): String = s"${cfg.workDir}/encoded_samples"

  /** In-flight per-stage named metrics (S9): rows observed at each plan
    * point during the single evaluation of the stage — the thing an operator
    * watches, complementing the persisted TableIO lineage manifests. */
  final case class StageRun(newBuckets: Int, metrics: Map[String, Long])

  /** Runs (or resumes) the extract stage. Returns buckets newly committed
    * plus the observed rows entering the inference barrier and triples out —
    * collected via `df.observe()` during the ONE evaluation the stage
    * performs (no extra jobs). Both observation points sit ABOVE the prepare
    * filters, so partition/row-group pruning is intact ([[Observed]]). */
  def runExtract(pages: DataFrame, cfg: Config): StageRun = {
    // fully-committed resume: return BEFORE wiring observations —
    // writeStage would no-op without ever executing the observed plan, and
    // Observation.get blocks forever on a plan that never runs
    val committed = TableIO.committedBuckets(pages.sparkSession, triplesDir(cfg),
      "extract", cfg.nBuckets, cfg.inputSnapshot)
    if (committed.size == cfg.nBuckets) return StageRun(0, Map.empty)
    val pending = TableIO.pendingInput(pages, "url", triplesDir(cfg), "extract",
      cfg.nBuckets, cfg.inputSnapshot)
    val (prepared, obsPrep) = Observed.counted(Extract.prepare(pending, cfg.extractor))
    val (triples, obsOut) = Observed.counted(
      Extract.triplesFromPrepared(prepared, cfg.extractor).toDF())
    // cfg.completeInput: a pending url-bucket yielding ZERO triples (all
    // pages filtered, or no mentions) is then committed as genuinely done —
    // without the (0,0) commit it would re-run the kernel over those pages
    // on EVERY resume, forever
    val n = TableIO.writeStage(triples, triplesDir(cfg), "extract", "url",
      cfg.nBuckets, cfg.inputSnapshot, completeInput = cfg.completeInput)
    StageRun(n, Map(
      "extract_rows_prepared" -> observedCount(obsPrep),
      "extract_triples_out" -> observedCount(obsOut)))
  }

  /** Runs (or resumes) the QA-encode stage — the production S4 analogue of
    * the reference's .npy feature store (data/data_utils.py:561-566): QA
    * samples are generated, encoded ONCE, and persisted as a resumable
    * bucket-grain parquet stage that eval reads back
    * ([[graft.eval.EvalRun.evalSamplesFromStage]]) instead of recomputing
    * feature prep per query.
    *
    * Bucket-grain resume is sound here because every encoded row of a url
    * derives from that url's pages+gold rows alone (the O3 oversampling
    * counters are per-doc), so skipping committed url-buckets skips exactly
    * their rows and nothing else. */
  def runEncode(pages: DataFrame, gold: Dataset[graft.schema.GoldTriple], cfg: Config): StageRun = {
    val spark = pages.sparkSession
    val committed = TableIO.committedBuckets(spark, encodedDir(cfg), "encode",
      cfg.nBuckets, cfg.inputSnapshot)
    if (committed.size == cfg.nBuckets) return StageRun(0, Map.empty)
    val pending = TableIO.pendingInput(pages, "url", encodedDir(cfg), "encode",
      cfg.nBuckets, cfg.inputSnapshot)
    val qa = QaGen.qaSamples(pending, gold, maxSeq = cfg.extractor.maxSeq)
    val (enc, obs) = Observed.counted(QaGen.encode(qa, cfg.extractor.maxSeq).toDF())
    val n = TableIO.writeStage(enc, encodedDir(cfg), "encode", "url",
      cfg.nBuckets, cfg.inputSnapshot, completeInput = cfg.completeInput)
    StageRun(n, Map("encode_samples_out" -> observedCount(obs)))
  }

  /** Runs (or skips) the canonicalize stage over the full triples table.
    *
    * Staleness guard: canonicalize is a corpus-GLOBAL derivation, so its
    * snapshot is keyed to the extract stage's committed lineage (bucket set
    * + checksums). A later run that extends extract (bucket-grain resume)
    * changes that signature, which invalidates the previous canonical table
    * and rebuilds it — without this, a canonicalize committed against a
    * partial extract would be silently skipped forever. */
  def runCanonicalize(spark: SparkSession, cfg: Config): StageRun = {
    val extractSig = TableIO.readSnapshot(spark, triplesDir(cfg))
      .filter(s => s.stage == "extract" && s.inputSnapshot == cfg.inputSnapshot)
      .map(s => java.lang.Long.toHexString(graft.ops.Hashing.hash64(
        s.buckets.sortBy(_.bucket)
          .map(b => s"${b.bucket}:${b.rowCount}:${b.checksum}").mkString("|"))))
      .getOrElse("none")
    val canonSnapshot = s"${cfg.inputSnapshot}@extract=$extractSig"
    val existing = TableIO.readSnapshot(spark, canonicalDir(cfg))
    val done = existing.exists(s => s.stage == "canonicalize" &&
      s.inputSnapshot == canonSnapshot && s.buckets.nonEmpty)
    if (done) StageRun(0, Map.empty)
    else {
      import spark.implicits._
      // a canonical table derived from an OLDER extract signature is stale
      // derived data — clear it and rebuild from the current triples table
      if (existing.isDefined) {
        val p = new org.apache.hadoop.fs.Path(canonicalDir(cfg))
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      }
      val (triples, obsIn) = Observed.counted(TableIO.readStage(spark, triplesDir(cfg))
        .select("url", "subjectType", "subject", "relation", "objectType", "obj"))
      val (canonical, obsOut) = Observed.counted(
        Linker.canonicalTriples(triples.as[Triple]).toDF())
      val n = TableIO.writeStage(canonical, canonicalDir(cfg), "canonicalize",
        "subject", math.max(cfg.nBuckets / 8, 1), canonSnapshot,
        completeInput = cfg.completeInput)
      StageRun(n, Map(
        "link_triples_in" -> observedCount(obsIn),
        "link_canonical_out" -> observedCount(obsOut)))
    }
  }

  /** Full run (idempotent / resumable). Returns the per-stage metrics. */
  def run(pages: DataFrame, cfg: Config): Map[String, Long] = {
    val e = runExtract(pages, cfg)
    val c = runCanonicalize(pages.sparkSession, cfg)
    e.metrics ++ c.metrics
  }
}
