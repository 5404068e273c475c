package graft.io

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** Iceberg-style table facade: partitioned parquet + a JSON snapshot manifest
  * with per-bucket lineage (row count + order-independent checksum), giving
  * the north_rule's "resumable from checkpoint with per-partition lineage +
  * metrics" on plain parquet. The sandbox ships no Iceberg runtime jar
  * (BASELINE.md note); on a real cluster the write/read calls become
  * `format("iceberg")` one-liners while the manifest/resume logic stays.
  *
  * Layout: `<path>/bucket=NN/part-*.parquet` + `<path>/_graft_manifest.json`.
  *
  * Resume contract: work is keyed by `pmod(xxhash64(key), nBuckets)` — a pure
  * function of row content, so bucket identity is stable under any input
  * partitioning/cluster size. A bucket is COMMITTED once its rows are written
  * and the manifest records (count, checksum). `pendingInput` anti-joins the
  * input against committed buckets; re-running a finished stage is a no-op.
  * The manifest is committed via write-to-temp + atomic rename.
  */
object TableIO {

  final case class BucketManifest(bucket: Int, rowCount: Long, checksum: Long)
  final case class Snapshot(stage: String, inputSnapshot: String, nBuckets: Int,
      buckets: Seq[BucketManifest]) {
    def committed: Set[Int] = buckets.map(_.bucket).toSet
  }

  private def manifestPath(path: String) = new Path(path, "_graft_manifest.json")

  def bucketCol(keyCol: String, nBuckets: Int) =
    pmod(xxhash64(col(keyCol)), lit(nBuckets)).cast("int")

  // -------------------------------------------------------------- manifest IO

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def readSnapshot(spark: SparkSession, path: String): Option[Snapshot] = {
    val mp = manifestPath(path)
    val f = fs(spark, mp)
    if (!f.exists(mp)) None
    else {
      val in = f.open(mp)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      Some(parseSnapshot(txt))
    }
  }

  def writeSnapshot(spark: SparkSession, path: String, snap: Snapshot): Unit = {
    val mp = manifestPath(path)
    val tmp = new Path(path, s"_graft_manifest.json.tmp")
    val f = fs(spark, mp)
    val out = f.create(tmp, true)
    try out.write(renderSnapshot(snap).getBytes(UTF_8)) finally out.close()
    // OVERWRITE rename (FileContext): one atomic step — a delete-then-rename
    // pair would leave a crash window with data on disk and NO manifest,
    // which the unmanaged-data guard then refuses to resume
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      mp.toUri, spark.sparkContext.hadoopConfiguration)
    fc.rename(tmp, mp, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  // hand-rolled JSON (no extra deps); fields are flat and numeric apart from
  // two strings we escape minimally
  private def esc(s: String) = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Quoted JSON string literal — shared by the manifest renderer and
    * [[FileCache]]'s sidecar metadata. */
  private[io] def jsonStr(s: String): String = "\"" + esc(s) + "\""

  def renderSnapshot(s: Snapshot): String = {
    val bs = s.buckets.sortBy(_.bucket).map(b =>
      s"""{"bucket":${b.bucket},"rowCount":${b.rowCount},"checksum":${b.checksum}}""")
      .mkString("[", ",", "]")
    s"""{"stage":"${esc(s.stage)}","inputSnapshot":"${esc(s.inputSnapshot)}",""" +
      s""""nBuckets":${s.nBuckets},"buckets":$bs}"""
  }

  def parseSnapshot(txt: String): Snapshot = {
    def str(key: String): String = {
      val m = s""""$key":"((?:[^"\\\\]|\\\\.)*)"""".r
      m.findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
        .replace("\\\"", "\"").replace("\\\\", "\\")
    }
    def num(key: String): Long =
      s""""$key":(-?\\d+)""".r.findFirstMatchIn(txt).map(_.group(1).toLong).getOrElse(0L)
    val bucketRe =
      """\{"bucket":(-?\d+),"rowCount":(-?\d+),"checksum":(-?\d+)\}""".r
    val buckets = bucketRe.findAllMatchIn(txt).map { m =>
      BucketManifest(m.group(1).toInt, m.group(2).toLong, m.group(3).toLong)
    }.toSeq
    Snapshot(str("stage"), str("inputSnapshot"), num("nBuckets").toInt, buckets)
  }

  // -------------------------------------------------------------- stage write

  /** Write the not-yet-committed buckets of `df` under `path`, then commit an
    * updated manifest. Idempotent: committed buckets are skipped entirely
    * (their input rows are not recomputed by callers that use
    * [[pendingInput]], and are not rewritten here either).
    *
    * The input plan is evaluated exactly ONCE (the parquet write) — this is
    * the production path whose plan contains the inference kernel, so a
    * second action would double every run's compute. Lineage manifests are
    * derived AFTER the write from the PERSISTED files, so the checksum
    * attests the bytes a reader will actually see, not a recomputation that
    * upstream nondeterminism could diverge from.
    *
    * @param completeInput the caller attests `df` covers the WHOLE snapshot
    *        (the [[pendingInput]]-driven pipeline contract): buckets whose
    *        pending input produced ZERO rows are then committed with (0, 0)
    *        lineage. Without this, a stage with any genuinely-empty bucket
    *        (fewer keys than buckets, or a filter dropping a whole bucket)
    *        can never reach the fully-committed fast path and every resume
    *        re-evaluates the whole input plan. Leave false when feeding
    *        partial input batches deliberately.
    * @return number of buckets newly committed
    */
  def writeStage(df: DataFrame, path: String, stage: String, keyCol: String,
      nBuckets: Int, inputSnapshot: String = "",
      completeInput: Boolean = false): Int = {
    val spark = df.sparkSession
    val snapOpt = readSnapshot(spark, path)
    val prior = snapOpt
      .filter(s => s.stage == stage && s.nBuckets == nBuckets &&
        s.inputSnapshot == inputSnapshot)
    val base = new Path(path)
    val f = fs(spark, base)
    def bucketDirs() =
      if (!f.exists(base)) Array.empty[org.apache.hadoop.fs.Path]
      else f.listStatus(base).map(_.getPath).filter(_.getName.startsWith("bucket="))
    // lineage safety: manifests are later derived from on-disk bucket dirs,
    // so foreign data must never be silently adopted. A manifest from a
    // DIFFERENT (stage, nBuckets, snapshot) — or data with no manifest at
    // all — is a configuration error, not something to absorb.
    snapOpt match {
      case Some(s) if prior.isEmpty =>
        throw new IllegalStateException(
          s"$path already holds stage '${s.stage}' nBuckets=${s.nBuckets} " +
            s"inputSnapshot='${s.inputSnapshot}' — clean the directory or " +
            s"call with the matching configuration (got stage '$stage' " +
            s"nBuckets=$nBuckets inputSnapshot='$inputSnapshot')")
      case None if bucketDirs().nonEmpty =>
        throw new IllegalStateException(
          s"$path contains bucket directories but no graft manifest — " +
            "refusing to adopt unmanaged data; clean the directory")
      case None =>
        // claim the directory BEFORE writing any data: if this very first
        // run dies between the data write and the manifest commit, the next
        // run finds a matching (stage, nBuckets, snapshot) claim with zero
        // committed buckets and resumes by adopting the written dirs —
        // without the claim it would trip the unmanaged-data guard above
        writeSnapshot(spark, path, Snapshot(stage, inputSnapshot, nBuckets, Seq.empty))
      case _ => ()
    }
    val done = prior.map(_.committed).getOrElse(Set.empty)
    // fully committed → a true no-op: the input plan is not even evaluated
    if (done.size == nBuckets) return 0

    // null keys cannot be content-bucketed: they would land in the hive
    // default partition OUTSIDE every manifest, silently breaking the
    // "checksum attests what a reader sees" contract — drop them EXPLICITLY
    // (documented poison-pill policy, consistent with pendingInput)
    val withBucket = df.filter(col(keyCol).isNotNull)
      .withColumn("bucket", bucketCol(keyCol, nBuckets))
    val pending = excludeBuckets(withBucket, col("bucket"), done)

    // repartition on the partition column first: a dynamic-partition write
    // straight from N input tasks emits N×buckets files (catastrophic at
    // 10^5 tasks × 10^5 buckets); keyed repartition makes it one file per
    // bucket, and the in-partition sort gives parquet run-length locality.
    // Overwrite mode is per-WRITE (option), not a session-global conf flip.
    pending
      .repartition(col("bucket"))
      .sortWithinPartitions(col("bucket"), col(keyCol))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket").parquet(path)

    // lineage from the written files: per-bucket count + order-independent
    // checksum of the key, over the NEW bucket directories only — the
    // directory listing diffed against the committed set selects the paths,
    // so this is a column-pruned scan of O(new buckets) files no matter how
    // many buckets are already committed (at 10^5-bucket deployment scale a
    // whole-table re-read per incremental commit would dwarf the increment).
    // The configuration guard above makes the diff sound: every not-yet-
    // committed dir here was produced by THIS (stage, nBuckets, snapshot) —
    // either just now or by an interrupted run whose manifest commit died
    // after the data was durably written (adopting those IS the resume).
    // The schema is known (the key column as written, the int partition
    // column), so passing it skips a footer-inference job per stage write.
    val lineageSchema = StructType(Seq(df.schema(keyCol),
      StructField("bucket", IntegerType)))
    val newDirs = bucketDirs()
      .flatMap { p => // non-numeric partition dirs (e.g. hive default) are skipped
        scala.util.Try(p.getName.stripPrefix("bucket=").toInt).toOption
          .filterNot(done.contains).map(_ => p.toString)
      }
    val manifests =
      if (newDirs.isEmpty) Array.empty[BucketManifest]
      else spark.read.schema(lineageSchema).option("basePath", path)
        .parquet(newDirs: _*)
        .groupBy("bucket")
        .agg(count(lit(1)).as("rowCount"),
          coalesce(bit_xor(xxhash64(col(keyCol))), lit(0L)).as("checksum"))
        .collect()
        .map(r => BucketManifest(r.getInt(0), r.getLong(1), r.getLong(2)))

    // completeInput: every not-yet-committed bucket was fully processed by
    // the write above; those that produced no directory are genuinely empty
    // and commit as (0, 0) lineage so resume reaches the no-op fast path
    val dirBuckets = manifests.map(_.bucket).toSet
    val emptyManifests =
      if (!completeInput) Array.empty[BucketManifest]
      else (0 until nBuckets)
        .filterNot(done.contains).filterNot(dirBuckets.contains)
        .map(b => BucketManifest(b, 0L, 0L)).toArray
    val merged = (prior.map(_.buckets).getOrElse(Seq.empty) ++ manifests ++ emptyManifests)
      .groupBy(_.bucket).map(_._2.last).toSeq
    writeSnapshot(spark, path, Snapshot(stage, inputSnapshot, nBuckets, merged))
    manifests.length + emptyManifests.length
  }

  /** Buckets already committed for (path, stage, nBuckets, snapshot). */
  def committedBuckets(spark: SparkSession, path: String, stage: String,
      nBuckets: Int, inputSnapshot: String = ""): Set[Int] =
    readSnapshot(spark, path)
      .filter(s => s.stage == stage && s.nBuckets == nBuckets &&
        s.inputSnapshot == inputSnapshot)
      .map(_.committed).getOrElse(Set.empty)

  /** Input rows whose bucket is NOT yet committed for (path, stage).
    * Null-key rows are dropped (the same policy writeStage applies — they
    * cannot be content-bucketed or attested). */
  def pendingInput(input: DataFrame, keyCol: String, path: String, stage: String,
      nBuckets: Int, inputSnapshot: String = ""): DataFrame = {
    val spark = input.sparkSession
    val done = readSnapshot(spark, path)
      .filter(s => s.stage == stage && s.nBuckets == nBuckets &&
        s.inputSnapshot == inputSnapshot)
      .map(_.committed).getOrElse(Set.empty)
    excludeBuckets(input.filter(col(keyCol).isNotNull),
      bucketCol(keyCol, nBuckets), done)
  }

  /** Filter out rows whose bucket is in `done`. Small sets inline as an
    * IN-list; large sets (10^4+ buckets at deployment scale) become a
    * broadcast anti-join to keep the plan size bounded. */
  private def excludeBuckets(df: DataFrame, bucket: org.apache.spark.sql.Column,
      done: Set[Int]): DataFrame = {
    if (done.isEmpty) df
    else if (done.size <= 1000) df.filter(!bucket.isin(done.toSeq: _*))
    else {
      val spark = df.sparkSession
      import spark.implicits._
      val doneDf = broadcast(done.toSeq.toDF("_done_bucket"))
      df.withColumn("_b", bucket)
        .join(doneDf, col("_b") === col("_done_bucket"), "left_anti")
        .drop("_b")
    }
  }

  def readStage(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Write `df` as a Spark BUCKETED catalog table: both sides of a join
    * bucketed by the same key and count scan pre-partitioned, so the join
    * plans with ZERO exchange on either side — the co-located-join layout
    * for repeated large-large joins (e.g. triples ⨝ entity-resolution by
    * subject) where re-shuffling per query would dominate at 10^12 rows.
    * In-partition sort on the key gives merge-join-ready runs. */
  def writeBucketedTable(df: DataFrame, table: String, keyCol: String,
      nBuckets: Int): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(nBuckets, keyCol).sortBy(keyCol)
      .saveAsTable(table)

  /** Verify written data against the manifest lineage (count + checksum per
    * bucket). Returns mismatching buckets (empty = healthy). A bucket
    * committed empty (0, 0) has no directory on disk — absent data IS its
    * expected state. */
  def auditStage(spark: SparkSession, path: String, keyCol: String): Seq[Int] = {
    readSnapshot(spark, path) match {
      case None => Seq.empty
      case Some(snap) =>
        val base = new Path(path)
        val hasData = fs(spark, base).exists(base) &&
          fs(spark, base).listStatus(base).exists(_.getPath.getName.startsWith("bucket="))
        val actual =
          if (!hasData) Map.empty[Int, (Long, Long)] // all-empty stage: no files to scan
          else readStage(spark, path)
            .groupBy("bucket")
            .agg(count(lit(1)).as("c"), coalesce(bit_xor(xxhash64(col(keyCol))), lit(0L)).as("h"))
            .collect()
            .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
        snap.buckets.collect {
          case b if actual.getOrElse(b.bucket, (0L, 0L)) != ((b.rowCount, b.checksum)) => b.bucket
        }
    }
  }
}
