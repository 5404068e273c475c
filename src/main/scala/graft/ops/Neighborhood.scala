package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-safe sorted-neighborhood pairing inside oversized ("hot") LSH
  * buckets — the hot-bucket fallback of [[BucketPairs]].
  *
  * The naive formulation (`row_number().over(Window.partitionBy("bucket"))`)
  * places an ENTIRE bucket on one task to rank it: bounded output, unbounded
  * task input — a degenerate billion-row bucket sorts on one core. Here the
  * global per-bucket rank is computed in two bounded passes instead:
  *
  *  1. range-repartition by (bucket, sort, id) — the range partitioner
  *     splits even a single hot bucket across many partitions (id is unique,
  *     so boundaries exist even when every sort key is identical), and an
  *     eager localCheckpoint freezes the sampled boundaries so both
  *     downstream jobs see the same partition ids;
  *  2. per-(partition, bucket) counts → driver-side cumulative offsets (only
  *     hot buckets reach this path, so the table is tiny: O(partitions ×
  *     hot buckets)); global rank = rank within (partition, bucket) + offset
  *     — each ranking window task holds at most one range-partition slice.
  *
  * Pairing (each member with its next `window` neighbors in sort order) is
  * then a BLOCK equi-join, not a join on the bucket alone (which would
  * re-concentrate the hot bucket on one join task): with block(x) =
  * floor(x / window), a rank-r row can only pair with rows whose
  * block(rn-1) ∈ {block(r), block(r)+1}, so the a-side fans out to those two
  * block keys and every (bucket, block) join group is ≤ window b-rows ×
  * ≤ 2·window a-rows — bounded regardless of bucket size.
  */
object Neighborhood {

  /** Pass 1+2: exact global rank per (bucket, sort, id) with every task
    * bounded by one range-partition slice. Exposed for plan/partition-size
    * assertions in tests; columns: those of `big` plus pid and rn. */
  private[graft] def rankedWithinBuckets(big: DataFrame): DataFrame = {
    val spark = big.sparkSession
    import spark.implicits._
    val parts = math.max(spark.sparkContext.defaultParallelism, 2)
    val ranged = big
      .repartitionByRange(parts, col("bucket"), col("sort"), col("id"))
      .sortWithinPartitions(col("bucket"), col("sort"), col("id"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint() // eager: freezes sampled range boundaries + pids

    // the offsets table is (partitions × distinct hot buckets); hot buckets
    // number ≤ rows/bucketCap by definition, so this stays driver-sized for
    // any sane cap — fail fast with a diagnosis rather than OOM the driver
    // if a caller feeds an uncapped bucket stream
    val countsDf = ranged.groupBy("pid", "bucket").agg(count(lit(1)).as("c"))
      .localCheckpoint() // one aggregation feeds both the guard and the collect
    val nKeys = countsDf.count()
    require(nKeys <= 2000000L,
      s"hot-bucket offset table would have $nKeys entries — raise bucketCap " +
        "or pre-aggregate; the two-pass rank is for OVERSIZED buckets only")
    val counts = countsDf.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))

    val offsets = counts.groupBy(_._2).iterator.flatMap { case (bkt, rows) =>
      var acc = 0L
      rows.sortBy(_._1).map { case (pid, _, c) => val o = acc; acc += c; (pid, bkt, o) }
    }.toSeq.toDF("pid", "bucket", "off")

    val wLocal = Window.partitionBy("pid", "bucket").orderBy(col("sort"), col("id"))
    ranged.join(broadcast(offsets), Seq("pid", "bucket"))
      .withColumn("rn", row_number().over(wLocal) + col("off"))
  }

  /** Exact sorted-neighborhood candidate pairs for the given bucketed rows.
    *
    * @param big DataFrame with columns (bucket: long, id: long, sort: any
    *            orderable, payload…) — typically only the oversized buckets
    * @param window each row pairs with its next `window` rows in
    *               (sort, id) order within its bucket
    * @return (src, dst) with src < dst (ids normalized), plus every column
    *         `c` of `big` but bucket and id as `c_a` (src's row) and `c_b`
    *         (dst's row); each qualifying pair appears exactly once
    */
  def sortedNeighborhoodPairs(big: DataFrame, window: Int): DataFrame = {
    require(window >= 1, "neighbor window must be >= 1")
    val ranked = rankedWithinBuckets(big)
    val carried = big.columns.toSeq.filterNot(Set("bucket", "id"))
    def side(sfx: String) = col("id").as(s"id$sfx") +: col("rn").as(s"rn$sfx") +:
      carried.map(c => col(c).as(c + sfx))

    val a = ranked.select((col("bucket") +: side("_a") :+
      explode(array(floor(col("rn") / window),
        floor(col("rn") / window) + 1)).as("blk")): _*)
    val b = ranked.select((col("bucket") +: side("_b") :+
      floor((col("rn") - 1) / window).as("blk")): _*)

    // normalize (src,dst) ascending and keep the carried columns ALIGNED
    // with the swap, so c_a is always src's value (and a pair emitted by
    // both this path and an all-pairs path dedupes instead of surviving
    // distinct() with swapped carries)
    val aFirst = col("id_a") <= col("id_b")
    def pick(x: String, y: String) = when(aFirst, col(x)).otherwise(col(y))
    a.join(b, Seq("bucket", "blk"))
      .filter(col("rn_b") > col("rn_a") && col("rn_b") <= col("rn_a") + window)
      .select((pick("id_a", "id_b").as("src") +: pick("id_b", "id_a").as("dst") +:
        carried.flatMap(c => Seq(pick(c + "_a", c + "_b").as(c + "_a"),
          pick(c + "_b", c + "_a").as(c + "_b")))): _*)
      .filter(col("src") =!= col("dst"))
  }
}
