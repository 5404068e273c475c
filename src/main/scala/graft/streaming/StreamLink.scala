package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.link.{ConnectedComponents, Linker}
import graft.ops.{BucketPairs, Hashing}
import graft.schema.Triple

/** Incremental entity linking — the streaming twin of
  * [[Linker.canonicalTriples]]: each micro-batch's NEW mention surfaces are
  * LSH-banded and candidate-joined against the persisted canonical table,
  * verified (true Jaccard), clustered among themselves, and appended to the
  * state. Per-batch cost: the candidate JOIN is O(batch × candidates), and
  * the state SCANS feeding it are pruned to the hash buckets the batch
  * touches (`sbucket`/`pbucket` partition columns, below) — a batch that
  * touches k of the N buckets reads ~k/N of the state, so month-of-drops
  * state growth is paid only by the buckets a batch actually lands in (a
  * batch large enough to touch every bucket reads the full state once —
  * that is the floor any correct candidate join has).
  *
  * **Stability contract (the documented conflict rule):** a published
  * canonical id is NEVER rewritten. A surface keeps the canonical id and
  * representative it was first assigned, forever. When a batch BRIDGES two
  * existing components (one new-surface cluster verifies against canonical
  * ids A and B, A < B), the new surfaces adopt the minimum id A, existing
  * B-surfaces keep B, and the bridge `(kept=A, bridged=B)` is recorded in
  * the `bridges` state table — the input for the OFFLINE compaction
  * ([[graft.link.Compaction]]), which owns merging published components and
  * emits the old→new migration map. In-stream rewriting would mean a
  * consumer that joined against yesterday's ids silently disagrees with
  * today's table — at 10^12-doc scale that is a correctness bug, not a
  * convenience.
  *
  * State tables under `stateDir`, all partitioned by `batch=<id>` and
  * written with overwrite — a replayed micro-batch (foreachBatch gives
  * at-least-once) overwrites its OWN partition and reads only state from
  * batches strictly before it, so replays are idempotent:
  *  - `surfaces/`: surface → (norm, id, canonical_id, canonical_surface),
  *    sub-partitioned by `sbucket = pmod(xxhash64(surface), N)`
  *  - `bands/`:    LSH band key → (id, norm, canonical_id, canonical_surface),
  *    sub-partitioned by `pbucket = pmod(xxhash64(bucket), N)`
  *  - `bridges/`:  (kept_id, bridged_id)
  *  - `triples/`:  url-grain canonical-triple provenance rows (readers
  *    aggregate countDistinct(url), exact under any delivery guarantee)
  *
  * The bucket count N and the shingle width are pinned in `_meta.json` on
  * the first batch and ADOPTED by every later one (the nStateBuckets param
  * is ignored once pinned; a shingleN mismatch fails loudly) — a silently
  * changed N would prune reads against partitions written under the old N
  * and silently lose candidates.
  */
object StreamLink {

  private val surfSchema = StructType(Seq(
    StructField("surface", StringType), StructField("norm", StringType),
    StructField("id", LongType), StructField("canonical_id", LongType),
    StructField("canonical_surface", StringType)))
  private val bandSchema = StructType(Seq(
    StructField("bucket", LongType), StructField("id", LongType),
    StructField("norm", StringType), StructField("canonical_id", LongType),
    StructField("canonical_surface", StringType)))

  /** Pinned per-state-dir parameters (see class doc). */
  final case class StateMeta(nStateBuckets: Int, shingleN: Int)

  private def fs(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** The pinned layout params of an existing state dir, if any. */
  private[graft] def readMeta(spark: SparkSession, stateDir: String): Option[StateMeta] = {
    val (hfs, root) = fs(spark, stateDir)
    val metaPath = new org.apache.hadoop.fs.Path(root, "_meta.json")
    if (!hfs.exists(metaPath)) None
    else {
      val in = hfs.open(metaPath)
      val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      def field(k: String) = s""""$k"\\s*:\\s*(\\d+)""".r.findFirstMatchIn(txt)
        .map(_.group(1).toInt)
        .getOrElse(throw new IllegalStateException(s"corrupt $metaPath: $txt"))
      Some(StateMeta(field("nStateBuckets"), field("shingleN")))
    }
  }

  private def writeMeta(spark: SparkSession, stateDir: String, meta: StateMeta): Unit = {
    val (hfs, root) = fs(spark, stateDir)
    hfs.mkdirs(root)
    val out = hfs.create(new org.apache.hadoop.fs.Path(root, "_meta.json"), true)
    try out.write(
      s"""{"nStateBuckets": ${meta.nStateBuckets}, "shingleN": ${meta.shingleN}}"""
        .getBytes("UTF-8"))
    finally out.close()
  }

  /** Read `_meta.json`, or write it from the params on first contact. The
    * write is create-overwrite with constant content, so a replayed batch 0
    * re-writing it is a no-op in effect. */
  private[streaming] def readOrInitMeta(spark: SparkSession, stateDir: String,
      nStateBuckets: Int, shingleN: Int): StateMeta =
    readMeta(spark, stateDir) match {
      case Some(meta) =>
        require(meta.shingleN == shingleN,
          s"state dir $stateDir was built with shingleN=${meta.shingleN}; " +
            s"linking it with shingleN=$shingleN would band the same surface " +
            "under different keys and silently miss candidates")
        meta
      case None =>
        // a dir that already holds state tables but no _meta.json was
        // written by something else (or a pre-bucketed layout): adopting it
        // as fresh would prune every read against partitions that don't
        // carry the bucket columns — state silently reads as EMPTY and
        // every published surface gets re-published. Refuse loudly.
        val (hfs, root) = fs(spark, stateDir)
        for (t <- Seq("surfaces", "bands", "triples", "bridges"))
          require(!hfs.exists(new org.apache.hadoop.fs.Path(root, t)),
            s"$stateDir contains a $t/ state table but no _meta.json — " +
              "not a state dir this layout wrote; refusing to adopt it " +
              "(relink from scratch, or compact the old state with the " +
              "version that wrote it)")
        val meta = StateMeta(nStateBuckets, shingleN)
        writeMeta(spark, stateDir, meta)
        meta
    }

  /** State read for batch `batchId`: only partitions from EARLIER batches —
    * a replayed batch must not see its own failed attempt's output — and,
    * when `prune` is given, only the hash-bucket partitions the batch
    * touches (partition-directory pruning; the candidate join downstream is
    * still exact on the full key). The schema (data + partition columns) is
    * passed explicitly: no footer-based inference job per read, and a state
    * dir whose only write died before any footer landed (just `_temporary`
    * debris) lists no data files and reads as EMPTY — the crash window the
    * replay contract covers. Any other failure (corrupt partition dir
    * names, unreadable files) throws: state corruption must be loud, not
    * an empty read that re-publishes every surface. */
  private def readState(spark: SparkSession, path: String, schema: StructType,
      batchId: Long, prune: Option[(String, Column)] = None): DataFrame = {
    def empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val (hfs, p) = fs(spark, path)
    if (!hfs.exists(p)) empty
    else {
      val full = StructType(schema.fields :+ StructField("batch", LongType) :+
        StructField(prune.fold("__unused")(_._1), LongType))
      val base = spark.read.schema(
          if (prune.isDefined) full else StructType(full.dropRight(1)))
        .parquet(path).filter(col("batch") < batchId)
      prune.fold(base) { case (_, c) => base.filter(c) }
        .select(schema.fieldNames.map(col).toSeq: _*)
    }
  }

  private def bucketOf(c: Column, n: Int): Column = pmod(xxhash64(c), lit(n.toLong))

  /** The pruned band-state read for one batch — package-visible so the spec
    * can assert the scan's file count is bounded by the touched buckets and
    * PlanDump can publish the partition-filter evidence. */
  private[graft] def bandState(spark: SparkSession, stateDir: String,
      batchId: Long, touched: Seq[Long]): DataFrame =
    readState(spark, s"$stateDir/bands", bandSchema, batchId,
      Some(("pbucket", col("pbucket").isin(touched: _*))))

  private[graft] def surfaceState(spark: SparkSession, stateDir: String,
      batchId: Long, touched: Seq[Long]): DataFrame =
    readState(spark, s"$stateDir/surfaces", surfSchema, batchId,
      Some(("sbucket", col("sbucket").isin(touched: _*))))

  private def jaccardOk(na: String, nb: String, shingleN: Int, threshold: Double): Boolean =
    Hashing.jaccard(Hashing.charShingles(na, shingleN),
      Hashing.charShingles(nb, shingleN)) >= threshold

  /** Link one micro-batch of triples against (and into) the state. Public
    * for direct testing; [[run]] wires it into foreachBatch. */
  def processBatch(batchDf: DataFrame, stateDir: String, batchId: Long,
      shingleN: Int = 2, threshold: Double = 0.6,
      nStateBuckets: Int = 64): Unit = {
    val spark = batchDf.sparkSession
    import spark.implicits._
    // ONE evaluation of the caller's batch plan, no matter how expensive:
    // isEmpty, the surface derivation and the provenance join below all read
    // this checkpoint (a foreachBatch frame is cheap to rescan, but a caller
    // driving the batch face directly may hand over a kernel-bearing plan)
    val triples = batchDf.select("url", "subjectType", "subject", "relation",
      "objectType", "obj").localCheckpoint().as[Triple]
    if (triples.isEmpty) return
    val meta = readOrInitMeta(spark, stateDir, nStateBuckets, shingleN)
    val nB = meta.nStateBuckets
    val batchSurf = Linker.surfaces(triples).toDF()
      .localCheckpoint() // bucket probe + anti-join + provenance reuse it
    // ONE bounded probe job computes both touched-bucket sets (driver-side
    // collect of at most 2·nB longs, independent of batch or state size).
    // The band probe runs over ALL batch surfaces — a superset of the new
    // surfaces' bands, so the pruned band read can only see MORE state than
    // the candidate join needs, never less
    val probes = batchSurf.select(bucketOf(col("surface"), nB).as("b"), lit("s").as("k"))
      .unionByName(batchSurf.select(col("norm")).as[String]
        .flatMap(n => Linker.bandKeysOf(n, shingleN = shingleN)).toDF("bucket")
        .select(bucketOf(col("bucket"), nB).as("b"), lit("p").as("k")))
      .distinct().as[(Long, String)].collect()
    val sBuckets = probes.collect { case (b, "s") => b }.toSeq
    val pBuckets = probes.collect { case (b, "p") => b }.toSeq
    val exSurf = surfaceState(spark, stateDir, batchId, sBuckets)

    val newSurf = batchSurf
      .join(exSurf.select("surface"), Seq("surface"), "left_anti")
      .localCheckpoint() // two band fan-outs + the assignment reuse it
    // persisted (lazily — no dedicated job): the band fan-out is read by
    // the candidate semi-join and the tagged union, which would otherwise
    // re-minhash every new surface once per consumer
    val newBands = newSurf
      .select(col("id"), col("norm"))
      .as[(Long, String)]
      .flatMap { case (id, norm) =>
        Linker.bandKeysOf(norm, shingleN = shingleN).map(b => (b, id, norm))
      }.toDF("bucket", "id", "norm").persist()
    val exBands = bandState(spark, stateDir, batchId, pBuckets)

    // ---- candidate pairs under the hot-band guard ([[BucketPairs]]): the
    // (bucket-pruned) state side is semi-joined to the batch's exact band
    // values — candidates only — then band values whose combined new ∪
    // candidate-existing membership exceeds `bucketCap` pair by bounded
    // sorted neighborhood over the norm — one templated surface family in
    // the state must not make every later micro-batch quadratic
    val bucketCap = 1000
    val exCand = exBands.join(newBands.select("bucket").distinct(), Seq("bucket"), "left_semi")
    // persisted: the hot-bucket size probe and the pairing both read it; the
    // probe's driver collect materializes it so pairing reuses the cache
    val tagged = newBands
      .select(col("bucket"), col("id"), col("norm"), lit(true).as("is_new"),
        lit(null).cast("long").as("cid"), lit(null).cast("string").as("rep"))
      .unionByName(exCand.select(col("bucket"), col("id"), col("norm"),
        lit(false).as("is_new"), col("canonical_id").as("cid"),
        col("canonical_surface").as("rep")))
      .persist()
    // the pair rule (BucketPairs' incremental mode): every pair anchors on
    // a NEW surface — existing–existing pairs are never emitted — and is
    // oriented new side first here. ONE distinct over the result (a pair
    // can meet in several bands): for other_new rows the extra columns are
    // constant nulls; the ne side may keep same-norm same-canonical
    // duplicates (different oid) — verified identically and collapsed by
    // ne's post-verify distinct
    val aNew = col("is_new_a")
    def pick(n: String, e: String) = when(aNew, col(n)).otherwise(col(e))
    val cand = BucketPairs(tagged, Seq("bucket"), bucketCap, window = 8,
        _.withColumn("sort", col("norm")), newCol = Some("is_new"))
      .select(pick("id_a", "id_b").as("nid"), pick("norm_a", "norm_b").as("na"),
        pick("id_b", "id_a").as("oid"), pick("norm_b", "norm_a").as("nb"),
        (aNew && col("is_new_b")).as("other_new"),
        pick("cid_b", "cid_a").as("ex_cid"), pick("rep_b", "rep_a").as("ex_rep"))
      .distinct()

    // Jaccard-verified edges among the batch's new surfaces (direction is
    // irrelevant — ConnectedComponents canonicalizes edges)
    val nn = cand.filter(col("other_new"))
      .select(col("nid").as("src"), col("oid").as("dst"), col("na"), col("nb"))
      .as[(Long, Long, String, String)]
      .flatMap { case (s, d, na, nb) =>
        if (jaccardOk(na, nb, shingleN, threshold)) Some((s, d)) else None
      }.toDF("src", "dst")

    // verified attachments: new surface → existing canonical component (the
    // incremental join this operator exists for)
    // persisted: the assignment checkpoint AND the bridges write both read
    // the adopt aggregation — without the cache the cand distinct + verify
    // would re-run once per consumer
    val ne = cand.filter(!col("other_new"))
      .select(col("nid"), col("na"), col("nb"), col("ex_cid"), col("ex_rep"))
      .as[(Long, String, String, Long, String)]
      .flatMap { case (nid, na, nb, cid, rep) =>
        if (jaccardOk(na, nb, shingleN, threshold)) Some((nid, cid, rep)) else None
      }.toDF("nid", "ex_cid", "ex_rep").distinct().persist()

    val comp = ConnectedComponents.run(nn)
    val withComp = newSurf
      .join(comp.withColumnRenamed("id", "cc_id"), col("id") === col("cc_id"), "left")
      .select(col("surface"), col("norm"), col("id"),
        coalesce(col("component"), col("id")).as("component"))

    // conflict rule: a component adopting ≥2 existing canonical ids takes
    // the MINIMUM; the others are recorded as bridges, never rewritten
    val neComp = ne.join(withComp.select(col("id").as("nid"), col("component")), "nid")
    // one aggregation carries BOTH the adopted minimum and the full distinct
    // cid set per component (collect_set is bounded by the number of
    // existing components one batch-component bridges), so the bridge
    // ledger no longer needs its own distinct + join back onto adopt
    val adoptAll = neComp.groupBy("component")
      .agg(min(struct(col("ex_cid").as("c"), col("ex_rep").as("r"))).as("m"),
        collect_set(col("ex_cid")).as("cids"))
    val adopt = adoptAll
      .select(col("component"), col("m.c").as("adopt_cid"), col("m.r").as("adopt_rep"))
    val bridges = adoptAll
      .select(col("m.c").as("kept_id"), explode(col("cids")).as("bridged_id"))
      .filter(col("bridged_id") =!= col("kept_id"))
      .distinct()

    // fresh components: representative = min (length, lexicographic), the
    // batch path's rule
    val newReps = withComp.groupBy("component")
      .agg(min(struct(length(col("surface")).as("l"), col("surface").as("s"))).as("r"))
      .select(col("component"), col("r.s").as("new_rep"))
    val assigned = withComp
      .join(adopt, Seq("component"), "left")
      .join(newReps, Seq("component"))
      .select(col("surface"), col("norm"), col("id"),
        coalesce(col("adopt_cid"), col("component")).as("canonical_id"),
        coalesce(col("adopt_rep"), col("new_rep")).as("canonical_surface"))
      .localCheckpoint() // consumed by three writes + the batch resolution

    // bucketed tables repartition BY the bucket column first: every bucket's
    // rows land in one task, so each pbucket/sbucket dir gets ONE file
    // instead of (shuffle partitions × buckets) fragments — at month-of-
    // drops scale the state stays one file per (batch, bucket), and the
    // pruned reads open exactly as many files as buckets touched
    def overwrite(df: DataFrame, table: String, bucket: Option[(String, Column)] = None): Unit =
      bucket match {
        case Some((name, c)) => df.withColumn(name, c)
          .repartition(col(name)).write.mode("overwrite")
          .partitionBy(name).parquet(s"$stateDir/$table/batch=$batchId")
        case None =>
          df.write.mode("overwrite").parquet(s"$stateDir/$table/batch=$batchId")
      }
    // this batch's canonical (triple, url) provenance rows under the batch's
    // OWN resolution — the existing-state side is the bucket-pruned exSurf
    // semi-joined to the batch's surfaces (every subject/obj of this batch
    // IS a batchSurf surface, so nothing is lost and the join never scans
    // full history). Url-grain, NOT pre-aggregated: summing per-batch counts
    // would double-count a url re-delivered in a later batch (re-crawl
    // appended to the drop dir, a non-file source), so the reader aggregates
    // countDistinct over the provenance instead
    val res = exSurf
      .join(batchSurf.select("surface"), Seq("surface"), "left_semi")
      .select("surface", "canonical_id", "canonical_surface")
      .unionByName(assigned.select("surface", "canonical_id", "canonical_surface"))
    val subjRes = res.select(col("surface").as("subject"),
      col("canonical_id").as("subjectId"), col("canonical_surface").as("subjectCanon"))
    val objRes = res.select(col("surface").as("obj"),
      col("canonical_id").as("objectId"), col("canonical_surface").as("objectCanon"))
    val provenance = triples.toDF()
      .join(subjRes, "subject").join(objRes, "obj")
      .select(col("subjectId"), col("subjectCanon").as("subject"), col("subjectType"),
        col("relation"), col("objectId"), col("objectCanon").as("obj"),
        col("objectType"), col("url"))
      .distinct()
    // the four state writes are mutually independent (each reads only the
    // `assigned` checkpoint / cached ne / pruned state), so they run
    // CONCURRENTLY: one write's straggler tail back-fills with the next
    // write's tasks instead of leaving the scheduler idle (guide-§2.6 shape;
    // job-description thread-locality keeps each labelled correctly)
    concurrently(
      () => overwrite(assigned, "surfaces",
        Some(("sbucket", bucketOf(col("surface"), nB)))),
      () => overwrite(assigned.select("id", "norm", "canonical_id", "canonical_surface")
        .as[(Long, String, Long, String)]
        .flatMap { case (id, norm, cid, rep) =>
          Linker.bandKeysOf(norm, shingleN = shingleN).map(b => (b, id, norm, cid, rep))
        }.toDF("bucket", "id", "norm", "canonical_id", "canonical_surface"),
        "bands", Some(("pbucket", bucketOf(col("bucket"), nB)))),
      () => overwrite(bridges, "bridges"),
      () => overwrite(provenance, "triples"))
    tagged.unpersist(); newBands.unpersist(); ne.unpersist()
  }

  /** Run independent Spark actions concurrently, wait until EVERY one has
    * completed or failed, then rethrow the first failure in argument order —
    * so no sibling write is still running when this throws. Used for the
    * per-batch state writes, whose jobs otherwise serialize their scheduler
    * tails. */
  private[streaming] def concurrently(fs: (() => Unit)*): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = writePool
    Await.result(Future.sequence(fs.map(f => Future(scala.util.Try(f())))),
      Duration.Inf).foreach(_.get)
  }

  /** Small daemon pool for [[concurrently]] — 4 writes in flight is the most
    * one batch submits. */
  private lazy val writePool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newFixedThreadPool(4,
        (r: Runnable) => {
          val t = new Thread(r, "streamlink-state-write")
          t.setDaemon(true)
          t
        }))

  /** Streaming face: triples stream → per-micro-batch incremental linking. */
  def run(triples: Dataset[Triple], stateDir: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    triples.toDF().writeStream
      .foreachBatch((df: DataFrame, bid: Long) => processBatch(df, stateDir, bid))
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** surface → (canonical_id, canonical_surface), over all committed batches. */
  def readResolution(spark: SparkSession, stateDir: String): DataFrame =
    spark.read.parquet(s"$stateDir/surfaces")
      .select("surface", "canonical_id", "canonical_surface")

  /** Full surface state rows (id, norm included) — the compaction input. */
  private[graft] def readSurfaces(spark: SparkSession, stateDir: String): DataFrame =
    spark.read.parquet(s"$stateDir/surfaces")
      .select("surface", "norm", "id", "canonical_id", "canonical_surface")

  /** Url-grain canonical-triple provenance rows — the compaction input. */
  private[graft] def readTripleProvenance(spark: SparkSession, stateDir: String): DataFrame =
    spark.read.parquet(s"$stateDir/triples")
      .select("subjectId", "subject", "subjectType", "relation",
        "objectId", "obj", "objectType", "url")

  /** Aggregated canonical triples across batches. Support counts are
    * countDistinct over the url-grain provenance rows, so a url
    * re-delivered in a later batch counts ONCE — exact regardless of the
    * source's delivery guarantees. */
  def readCanonicalTriples(spark: SparkSession, stateDir: String): DataFrame =
    spark.read.parquet(s"$stateDir/triples")
      .groupBy("subjectId", "subject", "subjectType", "relation",
        "objectId", "obj", "objectType")
      .agg(countDistinct("url").as("urls"))

  /** Bridge ledger: components published separately that later batches
    * proved equal — the offline compaction work list. */
  def readBridges(spark: SparkSession, stateDir: String): DataFrame =
    spark.read.parquet(s"$stateDir/bridges").select("kept_id", "bridged_id").distinct()

  /** Write a FULL canonical state as `batch=-1` of a fresh `outDir` — the
    * sink [[graft.link.Compaction]] targets. The layout (bucket partition
    * columns, `_meta.json` pinning) is identical to what [[processBatch]]
    * writes, so a stream resumed against `outDir` links incrementally
    * against the compacted state with no special casing.
    *
    * The RESERVED batch id −1 is what makes that unconditional: every
    * `processBatch(batchId ≥ 0)` read includes `batch < batchId` state, so
    * even a FRESH stream checkpoint (whose first delivery is batchId 0)
    * sees the snapshot — and its `batch=0` overwrite can never clobber it.
    * Writing the snapshot as batch=0 would make batchId-0 runs read zero
    * state AND destroy the snapshot partition with their own overwrite:
    * silent re-publication plus state loss.
    *
    * `surfacesDf`: (surface, norm, id, canonical_id, canonical_surface);
    * `triplesDf`: url-grain provenance rows. The bridge ledger is written
    * EMPTY — compaction consumed it. */
  private[graft] def writeStateSnapshot(spark: SparkSession, outDir: String,
      surfacesDf: DataFrame, triplesDf: DataFrame, meta: StateMeta): Unit = {
    import spark.implicits._
    writeMeta(spark, outDir, meta)
    val nB = meta.nStateBuckets
    val sh = meta.shingleN
    val surf = surfacesDf
      .select("surface", "norm", "id", "canonical_id", "canonical_surface")
      .localCheckpoint() // surface write + band fan-out read it
    // same one-file-per-bucket layout as processBatch's overwrite; the four
    // snapshot writes are independent (all off the surf checkpoint / the
    // caller's triples frame) and run concurrently like the per-batch writes
    concurrently(
      () => surf.withColumn("sbucket", bucketOf(col("surface"), nB))
        .repartition(col("sbucket"))
        .write.mode("overwrite").partitionBy("sbucket")
        .parquet(s"$outDir/surfaces/batch=-1"),
      () => surf.select("id", "norm", "canonical_id", "canonical_surface")
        .as[(Long, String, Long, String)]
        .flatMap { case (id, norm, cid, rep) =>
          Linker.bandKeysOf(norm, shingleN = sh).map(b => (b, id, norm, cid, rep))
        }.toDF("bucket", "id", "norm", "canonical_id", "canonical_surface")
        .withColumn("pbucket", bucketOf(col("bucket"), nB))
        .repartition(col("pbucket"))
        .write.mode("overwrite").partitionBy("pbucket")
        .parquet(s"$outDir/bands/batch=-1"),
      () => spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("kept_id", LongType),
            StructField("bridged_id", LongType))))
        .write.mode("overwrite").parquet(s"$outDir/bridges/batch=-1"),
      () => triplesDf
        .select("subjectId", "subject", "subjectType", "relation",
          "objectId", "obj", "objectType", "url")
        .distinct()
        .write.mode("overwrite").parquet(s"$outDir/triples/batch=-1"))
  }
}
