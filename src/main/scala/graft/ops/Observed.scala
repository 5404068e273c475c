package graft.ops

import org.apache.spark.sql.{Column, Dataset, Observation}
import org.apache.spark.sql.functions.{count, lit}

/** Named counters read off an evaluation an action already runs — the one
  * stats mechanism of [[graft.pipeline.Pipeline]] and the near-dup operators
  * of [[Dedup]]: `observe` adds a CollectMetrics node, and no job.
  *
  * The observation completes on the FIRST action whose plan contains the
  * frame, so attach it to a frame that action evaluates WHOLE (an eager
  * checkpoint, a full aggregation, a persisted frame's cache build) — never
  * one a `head`/`limit` probe reaches first, which would report a partial
  * count. Read it only after that action ran: `Observation.get` waits for it.
  *
  * Placement (100 TB): a CollectMetrics node is a predicate-pushdown BARRIER
  * (verified on Spark 4.1 — filters above it reach the scan as
  * `PushedFilters: []`). Observing below a pushdown-eligible filter would
  * make the scan read every row, so observe ABOVE every such filter; the
  * scan plan then stays byte-identical to the un-instrumented one. */
private[graft] object Observed {

  /** `ds` with `metrics` (named aggregate columns) attached. */
  def apply[T](ds: Dataset[T], metrics: Column*): (Dataset[T], Observation) = {
    val obs = Observation()
    (ds.observe(obs, metrics.head, metrics.tail: _*), obs)
  }

  /** `ds` with its row count attached as `rows`. */
  def counted[T](ds: Dataset[T]): (Dataset[T], Observation) =
    apply(ds, count(lit(1)).as("rows"))

  /** The long metric `name` of `obs` — 0 when the observed frame was
    * optimized out of the plan that ran (an empty input). */
  def observedCount(obs: Observation, name: String = "rows"): Long =
    obs.get.get(name).collect { case l: Long => l }.getOrElse(0L)
}
