package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The shared bucket-pairing primitive: grouped all-pairs on small buckets,
  * payload-carrying sorted neighborhood on hot ones, and the broadcast
  * small/hot split between them. */
class BucketPairsSpec extends SparkSpec {

  private val noRank: DataFrame => DataFrame =
    _ => throw new AssertionError("the hot path was built for an empty hot list")

  test("cold buckets: the pair multiset equals the naive a.id < b.id self-join") {
    import spark.implicits._
    val rng = new scala.util.Random(3)
    // 40 buckets of 1-30 members, unique ids, payload per member
    val rows = (0 until 40).flatMap { b =>
      (0 until 1 + rng.nextInt(30)).map(i => (b.toLong, (b * 100 + i).toLong, s"p$b-$i"))
    }
    val members = rng.shuffle(rows).toDF("bucket", "id", "p")
    val got = BucketPairs(members, Seq("bucket"), bucketCap = 1000, window = 4, noRank)
      .select("id_a", "id_b", "p_a", "p_b").as[(Long, Long, String, String)]
      .collect().toSeq.sorted
    val want = members.as("a").join(members.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id"), col("a.p"), col("b.p"))
      .as[(Long, Long, String, String)].collect().toSeq.sorted
    assert(want.nonEmpty)
    assert(got === want)
  }

  test("a planted hot bucket yields exactly the Neighborhood pairs, payloads on each side") {
    import spark.implicits._
    val n = 300
    val w = 4
    // hot bucket 7: sort order is NOT id order, so (src, dst) normalization
    // swaps sides and the payloads must follow; cold tail of singletons
    val members = ((0 until n).map(i => (7L, i.toLong, s"p$i")) ++
        (1000 until 1020).map(i => (i.toLong, i.toLong, s"p$i")))
      .toDF("bucket", "id", "p")
    val got = BucketPairs(members, Seq("bucket"), bucketCap = 50, window = w,
        _.withColumn("sort", (col("id") * 37 % n).cast("string")))
      .select("id_a", "id_b", "p_a", "p_b").as[(Long, Long, String, String)]
      .collect().toSeq.sorted
    // each member pairs with its next w members in (sort, id) order
    val ranked = (0 until n).sortBy(i => ((i * 37 % n).toString, i))
    val want = (for {
      r <- ranked.indices
      d <- 1 to w if r + d < n
    } yield {
      val (s, t) = (math.min(ranked(r), ranked(r + d)), math.max(ranked(r), ranked(r + d)))
      (s.toLong, t.toLong, s"p$s", s"p$t")
    }).sorted
    assert(got === want)
  }

  test("split's bucket, hot-bucket and hot-row counts equal a naive groupBy count") {
    import spark.implicits._
    // two-column buckets: three planted hot buckets of different sizes in
    // band 0, one in band 1, beside a cold tail of 1-3 member buckets
    val hot = Seq((0, 7L, 300), (0, 8L, 120), (0, 9L, 51), (1, 7L, 80))
    val members = (hot.flatMap { case (b, k, n) => (0 until n).map(i => (i.toLong, b, k)) } ++
        (0L until 200L).flatMap(i => (0L to i % 3).map(j => (i * 10 + j, 1, 1000 + i))))
      .toDF("id", "band", "key")
    def naive(cap: Int) = {
      val sizes = members.groupBy("band", "key").count()
      val hotSizes = sizes.filter(col("count") > cap).as[(Int, Long, Long)].collect()
      (sizes.count(), hotSizes.length.toLong, hotSizes.map(_._3).sum)
    }
    val s = BucketPairs.split(members, Seq("band", "key"), bucketCap = 50)
    assert((s.bucketCount, s.hotBuckets, s.hotRows) === naive(50))
    assert((s.hotBuckets, s.hotRows) === ((4L, 551L)))
    // a cap above every bucket: empty hot list, counts 0/0
    val none = BucketPairs.split(members, Seq("band", "key"), bucketCap = 1000)
    assert(none.hotEmpty)
    assert((none.bucketCount, none.hotBuckets, none.hotRows) === ((naive(1000)._1, 0L, 0L)))
  }

  test("an empty hot list runs no rank jobs") {
    import spark.implicits._
    val members = (0L until 200L).map(i => (i % 20, i)).toDF("bucket", "id")
    // the hot path is never constructed (noRank would throw), so no
    // range-partition, checkpoint or window job can run
    val pairs = BucketPairs(members, Seq("bucket"), bucketCap = 50, window = 8, noRank)
    assert(pairs.count() === 20L * 45)
    val plan = pairs.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Window") && !plan.contains("RepartitionByExpression"), plan)
  }

  test("duplicate ids never self-pair on either path") {
    import spark.implicits._
    // small bucket 1: id 5 twice beside id 6; hot bucket 2: ids 100..159 twice
    val members = (Seq((1L, 5L, "x"), (1L, 5L, "y"), (1L, 6L, "z")) ++
        (0L until 120L).map(i => (2L, 100 + i % 60, s"h$i")))
      .toDF("bucket", "id", "side")
    val pairs = BucketPairs(members, Seq("bucket"), bucketCap = 50, window = 4,
        _.withColumn("sort", col("side")))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(pairs.nonEmpty && pairs.forall { case (a, b) => a < b }, pairs)
    assert(pairs.count(_ == ((5L, 6L))) === 2, "both copies of id 5 pair with 6")
  }

  test("incremental mode: pairs must touch a new member; new and existing pair at equal ids") {
    import spark.implicits._
    // small bucket 1: existing 5, 6, 7 and new 5, 8; hot bucket 2: 60
    // existing and 60 new members, ids interleaved
    val members = (Seq((1L, 5L, false), (1L, 6L, false), (1L, 7L, false),
        (1L, 5L, true), (1L, 8L, true)) ++
        (0L until 120L).map(i => (2L, 100 + i, i % 2 == 0)))
      .toDF("bucket", "id", "is_new")
    val got = BucketPairs(members, Seq("bucket"), bucketCap = 50, window = 4,
        _.withColumn("sort", col("id")), newCol = Some("is_new"))
      .select("id_a", "id_b", "is_new_a", "is_new_b")
      .as[(Long, Long, Boolean, Boolean)].collect().toSeq
    assert(got.forall(p => p._3 || p._4), "an existing–existing pair left the emitter")
    // new 5 meets existing 5 (a distinct record of the same id), 6 and 7;
    // new 8 meets everything else in the bucket
    val small = got.filter(p => p._1 < 100).map(p => (p._1, p._2)).sorted
    assert(small === Seq((5L, 5L), (5L, 6L), (5L, 7L), (5L, 8L), (5L, 8L),
      (6L, 8L), (7L, 8L)))
    // hot: the sorted-neighborhood pairs of the bucket, minus existing–existing
    val hot = got.filter(_._1 >= 100).map(p => (p._1, p._2)).sorted
    val want = (for {
      r <- 0 until 120; d <- 1 to 4 if r + d < 120 && (r % 2 == 0 || (r + d) % 2 == 0)
    } yield ((100 + r).toLong, (100 + r + d).toLong)).sorted
    assert(hot === want)
  }

  test("incremental mode: an equal-id new/existing pair is kept on the hot path as on the small path") {
    import spark.implicits._
    // one bucket: existing 5, 6, 7 and new 5, 8 — a window of 4 covers the
    // whole bucket, so the hot path must emit the small path's pairs
    val members = Seq((1L, 5L, false), (1L, 6L, false), (1L, 7L, false),
        (1L, 5L, true), (1L, 8L, true)).toDF("bucket", "id", "is_new")
    def pairsAt(cap: Int) = BucketPairs(members, Seq("bucket"), bucketCap = cap, window = 4,
        _.withColumn("sort", col("id")), newCol = Some("is_new"))
      .select("id_a", "is_new_a", "id_b", "is_new_b")
      .as[(Long, Boolean, Long, Boolean)].collect().toSeq
      .map { case (a, na, b, nb) =>
        val Seq(x, y) = Seq((a, na), (b, nb)).sorted
        (x, y)
      }.sorted
    val small = pairsAt(1000)
    assert(small.contains(((5L, false), (5L, true))))
    assert(pairsAt(2) === small)
  }
}
