package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Candidate pairs from a banded fan-out — the ONE pairing primitive behind
  * entity linking ([[graft.link.Linker]]), incremental linking
  * ([[graft.streaming.StreamLink]]) and the near-dup operators of [[Dedup]]
  * (minhash, embedding LSH, simhash, winnowing).
  *
  * Input: one row per (bucket, member) — the bucket columns, a LONG `id`, and
  * any payload columns the caller needs on both sides of a pair. Output:
  * `id_a, id_b` plus every payload column `c` as `c_a`/`c_b`, one row per
  * candidate pair per bucket that emits it: a pair can meet in several
  * bands, so a caller that needs each pair once `distinct()`s it, and one
  * whose consumer ignores repeats (the linking core, whose edges go to
  * ConnectedComponents) does not. Both paths keep a pair by one rule
  * ([[keep]]): members with equal ids never pair with each other.
  *
  * Incremental mode (`newCol`, the streaming linker): a boolean column marks
  * the batch's NEW members; only pairs with at least one new member are
  * emitted, so existing–existing pairs never leave the emitter. A new member
  * is a different record from an existing one even at an equal id (two
  * surfaces of one norm), so that pair is emitted too, in small and hot
  * buckets alike.
  *
  * Design (100 TB posture):
  *  - the fan-out is never re-shuffled to learn its own bucket sizes: one
  *    aggregation counts members per bucket, the HOT list (buckets above
  *    `bucketCap`) is a BOUNDED driver collect — at most fanoutRows/bucketCap
  *    buckets can exceed the cap, and over [[hotLimit]] fails loudly instead
  *    of broadcasting a multi-GB list — and the small/hot split is a pair of
  *    BROADCAST anti/semi joins against it;
  *  - small buckets pair via ONE grouped aggregation: the fan-out shuffles
  *    once, each bucket's member list is bounded by `bucketCap` by
  *    construction, and one emitter streams the `i < j` pairs of the
  *    id-sorted members — the pair multiset of the `a.id < b.id` self-join
  *    without its two sorts of the whole fan-out;
  *  - hot buckets fall back to bounded sorted-neighborhood pairing
  *    ([[Neighborhood]]: each member pairs with its next `window` members in
  *    (sort, id) order, O(rows·window) pairs, no task holds a whole bucket),
  *    carrying each side's payload so nothing is joined back afterwards. The
  *    caller picks the sort key, which should make near-duplicates adjacent;
  *    an empty hot list is known on the driver, so it runs no rank jobs.
  */
private[graft] object BucketPairs {

  /** Most hot buckets one split may collect to the driver. */
  private val hotLimit = 2000000

  /** The small/hot split of a banded fan-out on its `buckets` columns,
    * with its bucket counts. Each comes from the hot-list collect the split
    * runs anyway: `hotBuckets`/`hotRows` from the collected `bucket_n`s, and
    * `bucketCount` from a row count observed ([[Observed]]) on the size
    * aggregation that collect evaluates whole — no job of their own. */
  final case class Split(buckets: Seq[String], small: DataFrame,
      hotSubset: DataFrame, hotBuckets: Long, hotRows: Long,
      private val sizesSeen: Observation) {
    def hotEmpty: Boolean = hotBuckets == 0
    def bucketCount: Long = Observed.observedCount(sizesSeen)
  }

  def split(members: DataFrame, buckets: Seq[String], bucketCap: Int): Split = {
    val spark = members.sparkSession
    val (sizes, sizesSeen) = Observed.counted(
      members.groupBy(buckets.map(col): _*).agg(count(lit(1)).as("bucket_n")))
    val hot = sizes.filter(col("bucket_n") > bucketCap).limit(hotLimit + 1).collect()
    require(hot.length <= hotLimit,
      s"over $hotLimit buckets exceed bucketCap=$bucketCap — pathological " +
        "banding (near-constant keys?); raise bucketCap or re-key the fan-out")
    val hotDf = broadcast(
      spark.createDataFrame(java.util.Arrays.asList(hot: _*), sizes.schema))
    Split(buckets,
      if (hot.isEmpty) members else members.join(hotDf, buckets, "left_anti"),
      members.join(hotDf, buckets, "left_semi"), hot.length,
      hot.map(_.getAs[Long]("bucket_n")).sum, sizesSeen)
  }

  /** Candidate pairs of `members` (see the object doc). `withSort` adds the
    * hot-path `sort` column to the hot members — it may join it in from a
    * table the fan-out does not carry. */
  def apply(members: DataFrame, buckets: Seq[String], bucketCap: Int,
      window: Int, withSort: DataFrame => DataFrame,
      newCol: Option[String] = None): DataFrame =
    pairs(split(members, buckets, bucketCap), window, withSort, newCol)

  /** [[apply]] over an existing [[split]] (callers that read its counts). */
  def pairs(s: Split, window: Int, withSort: DataFrame => DataFrame,
      newCol: Option[String] = None): DataFrame = {
    val small = allPairs(s.small, s.buckets, newCol)
    if (s.hotEmpty) small
    else {
      val payload = carried(s.hotSubset, s.buckets).tail
      val hot = Neighborhood.sortedNeighborhoodPairs(
          withSort(s.hotSubset).select(
            (xxhash64(s.buckets.map(col): _*).as("bucket") +: col("id") +:
              col("sort") +: payload.map(col)): _*), window)
        .select((col("src").as("id_a") +: col("dst").as("id_b") +:
          Seq("_a", "_b").flatMap(sfx => payload.map(c => col(c + sfx)))): _*)
      small.unionByName(hot.filter(keep((f, ab) => col(s"${f}_$ab"), newCol)))
    }
  }

  /** The one pair rule of both paths: `field(f, side)` is member field `f`
    * of pair side "a" or "b". Ids differ, or in incremental mode: at least
    * one side is new, and the sides differ in newness or in id. */
  private def keep(field: (String, String) => Column, newCol: Option[String]): Column = {
    val idsDiffer = field("id", "a") =!= field("id", "b")
    newCol.fold(idsDiffer) { c =>
      val (na, nb) = (field(c, "a"), field(c, "b"))
      (na || nb) && (na =!= nb || idsDiffer)
    }
  }

  /** Every `i < j` pair of the id-sorted members of each bucket — the
    * all-pairs emitter, unbounded in bucket size (callers bound it). Built
    * from native expressions (sort_array, posexplode, slice) rather than a
    * Scala loop over decoded rows, so the pairs are generated and filtered
    * in generated code with no per-pair encoder round trip. Without
    * `newCol` every member counts as new. */
  def allPairs(members: DataFrame, buckets: Seq[String],
      newCol: Option[String] = None): DataFrame = {
    val fields = carried(members, buckets)
    def side(m: String, sfx: String) = fields.map(f => col(s"$m.$f").as(f + sfx))
    // struct order is id first, so the sorted list is the id-sorted members
    members.groupBy(buckets.map(col): _*)
      .agg(sort_array(collect_list(struct(fields.map(col): _*))).as("ms"))
      .select(col("ms"), posexplode(col("ms")).as(Seq("i", "a")))
      .select(col("a"), explode(slice(col("ms"), col("i") + 2, size(col("ms")))).as("b"))
      .filter(keep((f, ab) => col(s"$ab.$f"), newCol))
      .select(side("a", "_a") ++ side("b", "_b"): _*)
  }

  /** `id` followed by the payload columns. */
  private def carried(members: DataFrame, buckets: Seq[String]): Seq[String] =
    "id" +: members.columns.toSeq.filterNot(c => c == "id" || buckets.contains(c))
}
