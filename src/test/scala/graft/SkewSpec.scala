package graft

import org.apache.spark.sql.functions._

import graft.ops.Skew

/** Salted aggregation must be bit-identical to the direct aggregation. */
class SkewSpec extends SparkSpec {

  test("saltedCountSum equals direct groupBy on a zipf-hot key distribution") {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    // 90% of rows share one hot key
    val rows = (0 until 20000).map { i =>
      val key = if (rng.nextDouble() < 0.9) "hot" else s"cold-${rng.nextInt(50)}"
      (key, i.toLong, (i % 100).toLong)
    }
    val df = rows.toDF("k", "id", "v")
    val salted = Skew.saltedCountSum(df, "k", "v", "id", salts = 32)
      .select(col("k"), col("cnt"), col("sum_value").cast("long"))
      .as[(String, Long, Long)].collect().map { case (k, c, s) => k -> ((c, s)) }.toMap
    val direct = df.groupBy("k").agg(count(lit(1)).as("c"), sum("v").as("s"))
      .as[(String, Long, Long)].collect().map { case (k, c, s) => k -> ((c, s)) }.toMap
    assert(salted === direct)
  }

  test("AQE splits a skewed sort-merge join at runtime (north_rule skew-join path)") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import spark.implicits._
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      // force a sort-merge join and scale the skew thresholds down from the
      // production 256 MB to unit-test bytes — the MECHANISM under test
      // (OptimizeSkewedJoin splitting the hot partition) is identical
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")

      // one hot entity key carries ~50k rows of HIGH-ENTROPY payload (shuffle
      // bytes are compressed — constant padding would deflate below the skew
      // threshold); 999 cold keys share the rest
      val rnd = new scala.util.Random(7)
      val left = (0 until 55000).map { i =>
        val k = if (i < 50000) 0L else (i % 999) + 1L
        (k, rnd.alphanumeric.take(64).mkString)
      }.toDF("k", "payload")
      val right = (0L until 1000L).map(k => (k, s"dim-$k")).toDF("k", "name")
      val joined = left.join(right, "k")
      // collect() executes THIS Dataset's QueryExecution (count()/write
      // would plan a separate one and leave joined's adaptive plan
      // un-finalized); keeping payload in the output stops column pruning
      // from shrinking the shuffled rows under the threshold
      assert(joined.collect().length === 55000)

      val finalPlan = joined.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      // string match: node-collect stops at QueryStage boundaries, the
      // rendered tree does not
      val rendered = finalPlan.toString
      assert(rendered.contains("SortMergeJoin(skew=true)"),
        s"expected OptimizeSkewedJoin to mark the join:\n${rendered.take(2000)}")
      assert(rendered.contains("skewed"),
        s"expected an AQEShuffleRead with split (skewed) partitions:\n${rendered.take(2000)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
