package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.link.Linker
import graft.ops.{BucketPairs, Observed}
import graft.schema.Triple

/** Incremental entity linking: [[Linker]]'s rules (surface keys, band
  * keys, Jaccard verification, canonicalization, triple resolution and
  * support) applied one micro-batch at a time. Each batch's NEW mention
  * surfaces are LSH-banded and candidate-joined against the persisted
  * canonical table, verified, clustered among themselves, and appended to
  * the state. Per-batch cost: the candidate JOIN is O(batch × candidates),
  * and the state SCANS feeding it are pruned to the hash buckets the batch
  * touches (`sbucket`/`pbucket` partition columns, see [[writeState]]): a
  * batch touching the set T of the N full-resolution buckets opens, of each
  * earlier batch b, at most min(|T|, L_b) files, where L_b is the bucket
  * level b was written at. So month-of-drops state growth is paid only by
  * the buckets a batch actually lands in (a batch large enough to touch
  * every bucket reads the full state once — that is the floor any correct
  * candidate join has).
  *
  * **Bucket levels.** Each batch writes its bucketed tables at the level L
  * its own rows fill: the largest power of two L ≤ N with
  * `rows × rowBytes / L ≥ spark.sql.files.openCostInBytes` (1 when even one
  * file holds less), `rowBytes` being the table schema's `defaultSize`. A
  * file then always holds at least the bytes Spark's cost model charges for
  * opening one, except the single file of a batch smaller than that, and a
  * batch big enough writes at L = N. The partition value numbers buckets
  * like a heap: a row of full-resolution bucket `t = pmod(xxhash64(key), N)`
  * written at level L lands in dir `L + (t mod L)`; as N and L are powers
  * of two, `t mod L` is its bucket at level L, so a pruned read lists the
  * dirs of T at every level ([[bucketDirs]]) and stays exact.
  *
  * **Stability contract (the documented conflict rule):** a published
  * canonical id is NEVER rewritten. A surface keeps the canonical id and
  * representative it was first assigned, forever. When a batch BRIDGES two
  * existing components (one new-surface cluster verifies against canonical
  * ids A and B, A < B), the new surfaces adopt the minimum id A and its
  * representative, existing B-surfaces keep B, and the bridge
  * `(kept=A, bridged=B)` is recorded in the `bridges` state table — the
  * input for the OFFLINE compaction ([[graft.link.Compaction]]), which owns
  * merging published components and emits the old→new migration map. A
  * new-surface cluster that attaches to nothing publishes its own batch-rule
  * canonical id and representative. In-stream rewriting would mean a
  * consumer that joined against yesterday's ids silently disagrees with
  * today's table — at 10^12-doc scale that is a correctness bug, not a
  * convenience.
  *
  * Every batch writes its own `batch=<id>` partition of the state tables
  * with overwrite ([[writeState]]) and reads only state from batches
  * strictly before it — a replayed micro-batch (foreachBatch gives
  * at-least-once) overwrites its OWN partition, so replays are idempotent.
  *
  * The bucket count N (a power of two), the shingle width and the bucket
  * layout are pinned in `_meta.json` on the first batch and ADOPTED by every
  * later one (the nStateBuckets param is ignored once pinned; a shingleN
  * mismatch fails loudly) — a silently changed N would prune reads against
  * partitions written under the old N and silently lose candidates. A dir
  * written by the earlier flat layout (bucket t in dir t, no layout field)
  * is refused for the same reason; [[graft.link.Compaction]] reads it whole
  * and writes the level layout, which migrates it.
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
  private val bridgeSchema = StructType(Seq(
    StructField("kept_id", LongType), StructField("bridged_id", LongType)))
  private val provenanceSchema = StructType(Seq(
    StructField("subjectId", LongType), StructField("subject", StringType),
    StructField("subjectType", StringType), StructField("relation", StringType),
    StructField("objectId", LongType), StructField("obj", StringType),
    StructField("objectType", StringType), StructField("url", StringType)))

  private def emptyFrame(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Pinned per-state-dir parameters (see class doc). `layout` is
    * [[LevelLayout]] for every dir this code writes; [[FlatLayout]] marks a
    * dir of the earlier layout, whose `_meta.json` has no layout field. */
  final case class StateMeta(nStateBuckets: Int, shingleN: Int, layout: Int = LevelLayout)

  private[graft] val FlatLayout = 1
  private[graft] val LevelLayout = 2

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
      def required(k: String) =
        field(k).getOrElse(throw new IllegalStateException(s"corrupt $metaPath: $txt"))
      Some(StateMeta(required("nStateBuckets"), required("shingleN"),
        field("layout").getOrElse(FlatLayout)))
    }
  }

  private def writeMeta(spark: SparkSession, stateDir: String, meta: StateMeta): Unit = {
    require(Integer.bitCount(meta.nStateBuckets) == 1,
      s"nStateBuckets=${meta.nStateBuckets}: a state dir's bucket count must be a power " +
        "of two, so that a bucket at every coarser level is the full-resolution " +
        "bucket modulo that level")
    val (hfs, root) = fs(spark, stateDir)
    hfs.mkdirs(root)
    val out = hfs.create(new org.apache.hadoop.fs.Path(root, "_meta.json"), true)
    try out.write((s"""{"nStateBuckets": ${meta.nStateBuckets}, """ +
      s""""shingleN": ${meta.shingleN}, "layout": ${meta.layout}}""").getBytes("UTF-8"))
    finally out.close()
  }

  /** The first state artifact — `_meta.json` or a state table — under
    * `dir`, if any. */
  private[graft] def stateArtifact(spark: SparkSession, dir: String): Option[String] = {
    val (hfs, root) = fs(spark, dir)
    Seq("_meta.json", "surfaces", "bands", "triples", "bridges")
      .find(t => hfs.exists(new org.apache.hadoop.fs.Path(root, t)))
  }

  /** Read `_meta.json`, or write it from the params on first contact. The
    * write is create-overwrite with constant content, so a replayed batch 0
    * re-writing it is a no-op in effect. */
  private[streaming] def readOrInitMeta(spark: SparkSession, stateDir: String,
      nStateBuckets: Int): StateMeta =
    readMeta(spark, stateDir) match {
      case Some(meta) =>
        require(meta.shingleN == Linker.ShingleN,
          s"state dir $stateDir was built with shingleN=${meta.shingleN}; " +
            s"linking it with shingleN=${Linker.ShingleN} would band the same surface " +
            "under different keys and silently miss candidates")
        require(meta.layout == LevelLayout,
          s"state dir $stateDir was written by the flat bucket layout (bucket t in " +
            "dir t); pruned reads under the bucket-level numbering would miss its " +
            "candidates. Migrate it first: Compaction.compact it into a fresh dir " +
            "and continue the stream against that")
        meta
      case None =>
        // a dir that already holds state tables but no _meta.json was
        // written by something else (or a pre-bucketed layout): adopting it
        // as fresh would prune every read against partitions that don't
        // carry the bucket columns — state silently reads as EMPTY and
        // every published surface gets re-published. Refuse loudly.
        val held = stateArtifact(spark, stateDir)
        require(held.isEmpty,
          s"$stateDir contains a ${held.getOrElse("")}/ state table but no _meta.json — " +
            "not a state dir this layout wrote; refusing to adopt it " +
            "(relink from scratch, or compact the old state with the " +
            "version that wrote it)")
        val meta = StateMeta(nStateBuckets, Linker.ShingleN)
        writeMeta(spark, stateDir, meta)
        meta
    }

  /** The schema of a state table as stored: its data columns, then the
    * `batch` partition column and, for a bucketed table, its bucket
    * partition column. Every read passes it, so building a state frame runs
    * no footer-inference job. */
  private def stored(schema: StructType, bucket: Option[String] = None): StructType =
    StructType((schema.fields :+ StructField("batch", LongType)) ++
      bucket.map(StructField(_, LongType)))

  /** State read for batch `batchId`: only partitions from EARLIER batches —
    * a replayed batch must not see its own failed attempt's output — and
    * only the rows of the full-resolution buckets `touched` of `key`. The
    * scan lists just the `bucket` dirs that can hold them, at every level
    * ([[bucketDirs]]; partition-directory pruning), and a row filter on
    * the full-resolution bucket drops the other buckets that share a
    * coarser dir. With the [[stored]] schema, a state dir whose only write
    * died before any footer landed (just `_temporary` debris) lists no data
    * files and reads as EMPTY — the crash window the replay contract
    * covers. Any other failure (corrupt partition dir names, unreadable
    * files) throws: state corruption must be loud, not an empty read that
    * re-publishes every surface. */
  private def readState(spark: SparkSession, stateDir: String, table: String,
      schema: StructType, bucket: String, key: String, batchId: Long,
      touched: Seq[Long]): DataFrame = {
    val path = s"$stateDir/$table"
    val (hfs, p) = fs(spark, path)
    if (!hfs.exists(p)) emptyFrame(spark, schema)
    else {
      val n = readMeta(spark, stateDir).fold(1)(_.nStateBuckets)
      spark.read.schema(stored(schema, Some(bucket))).parquet(path)
        .filter(col("batch") < batchId && col(bucket).isin(bucketDirs(touched, n): _*))
        .filter(bucketOf(col(key), n).isin(touched: _*))
        .select(schema.fieldNames.map(col).toSeq: _*)
    }
  }

  private def bucketOf(c: Column, n: Int): Column = pmod(xxhash64(c), lit(n.toLong))

  /** The bucket dir of `key` at level `level` (see the class doc): the
    * heap number `level + pmod(xxhash64(key), level)`. */
  private def bucketDir(key: Column, level: Int): Column =
    lit(level.toLong) + bucketOf(key, level)

  /** The dirs that can hold a row of full-resolution bucket t ∈ `touched`
    * of an N = `n` bucket state: `L + (t mod L)` for every level L = 1, 2,
    * 4, …, N. */
  private[graft] def bucketDirs(touched: Seq[Long], n: Int): Seq[Long] =
    Iterator.iterate(1L)(_ * 2).takeWhile(_ <= n)
      .flatMap(l => touched.map(t => l + t % l)).toSeq.distinct

  /** The bucket level of a table of `rows` rows of `schema` (class doc): the
    * largest power of two L ≤ `n` with `rows × schema.defaultSize / L ≥
    * openCost`, 1 when even a single file holds less. */
  private[streaming] def bucketLevel(rows: Long, schema: StructType, openCost: Long,
      n: Int): Int = {
    val fill = rows * schema.defaultSize / math.max(openCost, 1L)
    if (fill < 1) 1 else math.min(java.lang.Long.highestOneBit(fill), n.toLong).toInt
  }

  /** The pruned band-state read for one batch — package-visible so the spec
    * can assert the scan's file count is bounded by the touched buckets and
    * PlanDump can publish the partition-filter evidence. */
  private[graft] def bandState(spark: SparkSession, stateDir: String,
      batchId: Long, touched: Seq[Long]): DataFrame =
    readState(spark, stateDir, "bands", bandSchema, "pbucket", "bucket", batchId, touched)

  private[graft] def surfaceState(spark: SparkSession, stateDir: String,
      batchId: Long, touched: Seq[Long]): DataFrame =
    readState(spark, stateDir, "surfaces", surfSchema, "sbucket", "surface", batchId, touched)

  /** Link one micro-batch of triples against (and into) the state. Public
    * for direct testing; [[run]] wires it into foreachBatch. */
  def processBatch(batchDf: DataFrame, stateDir: String, batchId: Long,
      nStateBuckets: Int = 64): Unit =
    described(batchDf.sparkSession, jobLabel(batchId, "probe"))(
      linkBatch(batchDf, stateDir, batchId, nStateBuckets))

  /** [[processBatch]]'s body; it relabels its jobs as each phase begins. */
  private def linkBatch(batchDf: DataFrame, stateDir: String, batchId: Long,
      nStateBuckets: Int): Unit = {
    val spark = batchDf.sparkSession
    import spark.implicits._
    def phase(name: String): Unit = spark.sparkContext.setJobDescription(jobLabel(batchId, name))
    // ONE evaluation of the caller's batch plan, no matter how expensive:
    // the surface derivation and the provenance join below read this
    // checkpoint (a foreachBatch frame is cheap to rescan, but a caller
    // driving the batch face directly may hand over a kernel-bearing plan),
    // and its row count, observed as it runs, is the emptiness test
    val (batchRows, batchObs) = Observed.counted(batchDf.select("url", "subjectType",
      "subject", "relation", "objectType", "obj"))
    val triples = batchRows.localCheckpoint().as[Triple]
    if (Observed.observedCount(batchObs) == 0) return
    val meta = readOrInitMeta(spark, stateDir, nStateBuckets)
    val nB = meta.nStateBuckets
    val batchSurf = Linker.surfaces(triples).toDF()
      .localCheckpoint() // bucket probe + anti-join + provenance reuse it
    // ONE bounded probe job computes both touched-bucket sets (driver-side
    // collect of at most 2·nB longs, independent of batch or state size).
    // The band probe runs over ALL batch surfaces — a superset of the new
    // surfaces' bands, so the pruned band read can only see MORE state than
    // the candidate join needs, never less
    val probes = batchSurf.select(bucketOf(col("surface"), nB).as("b"), lit("s").as("k"))
      .unionByName(Linker.bandRows(batchSurf.select("norm"))
        .select(bucketOf(col("bucket"), nB).as("b"), lit("p").as("k")))
      .distinct().as[(Long, String)].collect()
    val sBuckets = probes.collect { case (b, "s") => b }.toSeq
    val pBuckets = probes.collect { case (b, "p") => b }.toSeq

    phase("candidates")
    val exSurf = surfaceState(spark, stateDir, batchId, sBuckets)

    val newSurf = batchSurf
      .join(exSurf.select("surface"), Seq("surface"), "left_anti")
      .localCheckpoint() // two band fan-outs + the assignment reuse it
    // persisted (lazily — no dedicated job): the band fan-out is read by
    // the candidate semi-join and the tagged union, which would otherwise
    // re-minhash every new surface once per consumer
    val newBands = Linker.bandRows(newSurf.select("id", "norm")).persist()
    val exBands = bandState(spark, stateDir, batchId, pBuckets)

    // ---- candidate pairs under the hot-band guard ([[BucketPairs]]): the
    // (bucket-pruned) state side is semi-joined to the batch's exact band
    // values — candidates only — then band values whose combined new ∪
    // candidate-existing membership exceeds [[Linker.BucketCap]] pair by
    // bounded sorted neighborhood over the norm — one templated surface
    // family in the state must not make every later micro-batch quadratic
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
    val cand = BucketPairs(tagged, Seq("bucket"), Linker.BucketCap, Linker.NeighborWindow,
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
        if (Linker.jaccardOk(na, nb)) Some((s, d)) else None
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
        if (Linker.jaccardOk(na, nb)) Some((nid, cid, rep)) else None
      }.toDF("nid", "ex_cid", "ex_rep").distinct().persist()

    // the new surfaces' own components, canonicalized by the batch rule
    phase("components")
    val fresh = Linker.canonicalize(newSurf, nn, "id")

    // conflict rule: a component adopting ≥2 existing canonical ids takes
    // the MINIMUM; the others are recorded as bridges, never rewritten
    phase("assign")
    val neComp = ne.join(fresh.select(col("id").as("nid"), col("component")), "nid")
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

    val (assignedRows, assignedObs) = Observed.counted(fresh
      .join(adopt, Seq("component"), "left")
      .select(col("surface"), col("norm"), col("id"),
        coalesce(col("adopt_cid"), col("canonical_id")).as("canonical_id"),
        coalesce(col("adopt_rep"), col("canonical_surface")).as("canonical_surface")))
    // consumed by three writes + the batch resolution; its observed row
    // count sets the bucket level of this batch's state files
    val assigned = assignedRows.localCheckpoint()

    // this batch's canonical (triple, url) provenance rows under the batch's
    // OWN resolution — the existing-state side is the bucket-pruned exSurf
    // semi-joined to the batch's surfaces (every subject/obj of this batch
    // IS a batchSurf surface, so nothing is lost and the join never scans
    // full history). Url-grain, NOT pre-aggregated: summing per-batch counts
    // would double-count a url re-delivered in a later batch (re-crawl
    // appended to the drop dir, a non-file source), so the reader aggregates
    // [[Linker.support]] over the provenance instead
    val res = exSurf
      .join(batchSurf.select("surface"), Seq("surface"), "left_semi")
      .select("surface", "canonical_id", "canonical_surface")
      .unionByName(assigned.select("surface", "canonical_id", "canonical_surface"))
    writeState(stateDir, batchId, assigned, Observed.observedCount(assignedObs), bridges,
      Linker.resolveTriples(triples.toDF(), res), meta, jobLabel(batchId, _))
    tagged.unpersist(); newBands.unpersist(); ne.unpersist()
  }

  /** The ONE writer of the state layout: the four tables of batch
    * `batchId` under `dir`, each written with overwrite to its own
    * `batch=<batchId>` partition —
    *  - `surfaces/`: `surfaces` as given — (surface, norm, id, canonical_id,
    *    canonical_surface), `surfaceRows` rows — sub-partitioned by
    *    `sbucket`, the bucket dir of `surface`;
    *  - `bands/`: the [[Linker.bandRows]] fan-out of `surfaces` — (bucket,
    *    id, norm, canonical_id, canonical_surface), 4 rows per surface —
    *    sub-partitioned by `pbucket`, the bucket dir of `bucket`;
    *  - `bridges/`: (kept_id, bridged_id);
    *  - `triples/`: the distinct url-grain provenance rows of `triples`.
    * Each bucketed table is written at the level its own rows fill (class
    * doc): L = N = `meta.nStateBuckets` for a batch big enough, one dir
    * for a batch below the session's `spark.sql.files.openCostInBytes`. It
    * is repartitioned BY its bucket column first, so every bucket's rows
    * land in one task and each dir holds ONE file instead of (shuffle
    * partitions × buckets) fragments: the state stays one file per (batch,
    * bucket dir) at any size, and a pruned read opens of each batch at
    * most min(touched buckets, L) files. `surfaces` should be materialized
    * — the surface write and the band fan-out both read it.
    *
    * The four writes are mutually independent, so they run
    * [[concurrently]]: one write's straggler tail back-fills with the next
    * write's tasks instead of leaving the scheduler idle. Each write's jobs
    * are described as `label("write <table>")`. */
  private def writeState(dir: String, batchId: Long, surfaces: DataFrame,
      surfaceRows: Long, bridges: DataFrame, triples: DataFrame, meta: StateMeta,
      label: String => String): Unit = {
    val openCost = surfaces.sparkSession.sessionState.conf.filesOpenCostInBytes
    def level(rows: Long, schema: StructType) =
      bucketLevel(rows, schema, openCost, meta.nStateBuckets)
    def overwrite(df: DataFrame, table: String, bucket: Option[(String, Column)] = None): Unit =
      described(df.sparkSession, label(s"write $table"))(bucket match {
        case Some((name, c)) => df.withColumn(name, c)
          .repartition(col(name)).write.mode("overwrite")
          .partitionBy(name).parquet(s"$dir/$table/batch=$batchId")
        case None =>
          df.write.mode("overwrite").parquet(s"$dir/$table/batch=$batchId")
      })
    concurrently(
      () => overwrite(surfaces, "surfaces",
        Some(("sbucket", bucketDir(col("surface"), level(surfaceRows, surfSchema))))),
      () => overwrite(Linker.bandRows(
          surfaces.select("id", "norm", "canonical_id", "canonical_surface"), meta.shingleN),
        "bands", Some(("pbucket", bucketDir(col("bucket"), level(4 * surfaceRows, bandSchema))))),
      () => overwrite(bridges, "bridges"),
      () => overwrite(triples.distinct(), "triples"))
  }

  /** The job description of one phase of batch `batchId`. */
  private[graft] def jobLabel(batchId: Long, phase: String): String =
    s"StreamLink batch $batchId: $phase"

  /** Run `body` with Spark's job description set to `label`, then restore
    * the caller's — so the Spark UI and any `SparkListener` can attribute
    * the jobs of each phase without a tracer of their own. */
  private[graft] def described[T](spark: SparkSession, label: String)(body: => T): T = {
    val sc = spark.sparkContext
    val caller = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try body finally sc.setJobDescription(caller)
  }

  /** Run independent Spark actions concurrently, wait until EVERY one has
    * completed or failed, then rethrow the first failure in argument order —
    * so no sibling write is still running when this throws. Used for the
    * per-batch state writes, whose jobs otherwise serialize their scheduler
    * tails. Each action runs on a thread started by this call: Spark's local
    * properties (job group, description) are inheritable thread-locals,
    * copied when a thread is created, so a fresh thread submits its jobs
    * under the caller's CURRENT group — `cancelJobGroup` reaches them. A
    * pooled thread would keep the properties of whichever call created it. */
  private[streaming] def concurrently(fs: (() => Unit)*): Unit = {
    val failures = new Array[Throwable](fs.size)
    val threads = fs.zipWithIndex.map { case (f, i) =>
      val t = new Thread(() => try f() catch { case e: Throwable => failures(i) = e },
        "streamlink-state-write")
      t.setDaemon(true)
      t.start()
      t
    }
    threads.foreach(_.join())
    failures.find(_ != null).foreach(e => throw e)
  }

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
    readSurfaces(spark, stateDir).select("surface", "canonical_id", "canonical_surface")

  /** Full surface state rows (id, norm included) — the compaction input.
    * Whole-table reads ignore the bucket dirs, so they read either layout. */
  private[graft] def readSurfaces(spark: SparkSession, stateDir: String): DataFrame =
    spark.read.schema(stored(surfSchema, Some("sbucket"))).parquet(s"$stateDir/surfaces")
      .select(surfSchema.fieldNames.map(col).toSeq: _*)

  /** Url-grain canonical-triple provenance rows — the compaction input. */
  private[graft] def readTripleProvenance(spark: SparkSession, stateDir: String): DataFrame =
    spark.read.schema(stored(provenanceSchema)).parquet(s"$stateDir/triples")
      .select(provenanceSchema.fieldNames.map(col).toSeq: _*)

  /** Aggregated canonical triples across batches: [[Linker.support]] over
    * the url-grain provenance rows, so a url re-delivered in a later batch
    * counts ONCE — exact regardless of the source's delivery guarantees. */
  def readCanonicalTriples(spark: SparkSession, stateDir: String): DataFrame =
    Linker.support(readTripleProvenance(spark, stateDir))

  /** Bridge ledger: components published separately that later batches
    * proved equal — the offline compaction work list. */
  def readBridges(spark: SparkSession, stateDir: String): DataFrame =
    spark.read.schema(stored(bridgeSchema)).parquet(s"$stateDir/bridges")
      .select("kept_id", "bridged_id").distinct()

  /** Write a FULL canonical state as `batch=-1` of a fresh `outDir` — the
    * sink [[graft.link.Compaction]] targets: `_meta.json` pinning plus
    * [[writeState]], so a stream resumed against `outDir` links
    * incrementally against the compacted state with no special casing.
    * The snapshot is written in the bucket-level layout whatever layout
    * `meta` was read from, so compacting a flat-layout dir migrates it.
    *
    * The RESERVED batch id −1 is what makes that unconditional: every
    * `processBatch(batchId ≥ 0)` read includes `batch < batchId` state, so
    * even a FRESH stream checkpoint (whose first delivery is batchId 0)
    * sees the snapshot — and its `batch=0` overwrite can never clobber it.
    * Writing the snapshot as batch=0 would make batchId-0 runs read zero
    * state AND destroy the snapshot partition with their own overwrite:
    * silent re-publication plus state loss.
    *
    * `surfacesDf`: materialized (surface, norm, id, canonical_id,
    * canonical_surface), `surfaceRows` rows; `triplesDf`: url-grain
    * provenance rows. The bridge ledger is written EMPTY — compaction
    * consumed it. `label` names the jobs of each table write, as in
    * [[writeState]]. */
  private[graft] def writeStateSnapshot(spark: SparkSession, outDir: String,
      surfacesDf: DataFrame, surfaceRows: Long, triplesDf: DataFrame, meta: StateMeta,
      label: String => String): Unit = {
    val snapshot = meta.copy(layout = LevelLayout)
    writeMeta(spark, outDir, snapshot)
    writeState(outDir, -1, surfacesDf, surfaceRows, emptyFrame(spark, bridgeSchema),
      triplesDf, snapshot, label)
  }
}
