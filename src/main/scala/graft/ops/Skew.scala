package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hot-key skew handling (north_rule: "skewed hot-key entities via salted
  * repartitioning and AQE skew-join splitting").
  *
  * Two-level salted aggregation: partial-aggregate on (key, salt) so a hot
  * key's rows spread over `salts` reducers, then final-aggregate on key.
  * The salt is derived from a row-content hash — deterministic, no rand() —
  * and the result is bit-identical to the unsalted aggregation.
  *
  * AQE complements this at runtime (`spark.sql.adaptive.skewJoin.enabled`
  * splits skewed JOIN partitions); salting is for the groupBy side AQE does
  * not cover.
  */
object Skew {

  def saltCol(entropy: Column, salts: Int): Column =
    pmod(xxhash64(entropy), lit(salts)).cast("int")

  /** count + sum per key via salted two-level aggregation. */
  def saltedCountSum(df: DataFrame, keyCol: String, valueCol: String,
      entropyCol: String, salts: Int = 16): DataFrame = {
    val partial = df
      .groupBy(col(keyCol), saltCol(col(entropyCol), salts).as("_salt"))
      .agg(count(lit(1)).as("_c"), sum(col(valueCol)).as("_s"))
    partial.groupBy(keyCol)
      .agg(sum("_c").as("cnt"), sum("_s").as("sum_value"))
  }
}
