package graft.link

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Observed
import graft.streaming.StreamLink

/** Offline compaction for incremental linking — the consumer of
  * [[StreamLink]]'s bridge ledger that completes its stability contract
  * (generalizes the reference's corpus-scope dedup, run_qa.py:486-487 →
  * SURVEY J8): published canonical ids are immutable IN-STREAM, so
  * provably-equal components accumulate in the ledger until this batch job
  * merges them and hands consumers a migration map back to the new ids.
  *
  * What it computes, from the state dir alone (no re-crawl, no re-banding,
  * no re-verification — every edge it closes over was Jaccard-verified when
  * it was ledgered):
  *  1. [[Linker.canonicalize]] over the published canonical ids with the
  *     bridge edges: components later batches proved equal merge, and each
  *     merged component takes the batch rule's canonical id and
  *     representative over ALL its member surfaces — so the compacted state
  *     is exactly what [[Linker.canonicalTriples]] would publish on the union
  *     corpus (spec-proven), with none of the from-scratch re-run's cost and,
  *     unlike a re-run, WITH a migration map;
  *  2. the migration map covers EVERY published canonical id (ledgered ids
  *     are a subset: a component that merely GREW — a later batch attached
  *     a surface whose id undercuts the published minimum, no bridge
  *     involved — also re-canonicalizes; restricting the map to ledgered
  *     ids would strand consumers of those). `changed=false` rows are
  *     included so "id x is up to date" is an answer the map itself gives.
  *
  * Scale shape: one window aggregation over the surface state (partitioned
  * by merged component), one CC run over the ledger (edges = bridges, a set
  * that compaction itself resets to empty — it never grows past one
  * compaction cycle), and joins keyed by canonical id. Nothing is collected
  * to the driver beyond CC's bounded small-graph switch.
  */
object Compaction {

  /** Every published surface re-canonicalized: its state columns with the
    * published canonical id as `old_id`, plus the merged `component` and
    * the new `canonical_id` / `canonical_surface`. */
  private def recanonicalized(spark: SparkSession, stateDir: String): DataFrame =
    Linker.canonicalize(
      StreamLink.readSurfaces(spark, stateDir)
        .select(col("surface"), col("norm"), col("id"), col("canonical_id").as("old_id")),
      StreamLink.readBridges(spark, stateDir)
        .select(col("kept_id").as("src"), col("bridged_id").as("dst")),
      key = "old_id")

  private def migrationOf(surfaces: DataFrame): DataFrame =
    surfaces.select(col("old_id"), col("canonical_id").as("new_id"),
        col("canonical_surface").as("new_surface"),
        (col("old_id") =!= col("canonical_id")).as("changed"))
      .distinct()

  /** old_id → (new_id, new_surface, changed) for EVERY published canonical
    * id in the state (see class doc for why this is a superset of the
    * ledgered ids). */
  def migration(spark: SparkSession, stateDir: String): DataFrame =
    migrationOf(recanonicalized(spark, stateDir))

  /** Compact `stateDir` into a fresh `outDir`: migrated surfaces + bands,
    * an EMPTY bridge ledger, and re-resolved url-grain triple provenance —
    * the state layout [[StreamLink.processBatch]] reads, so the stream
    * continues against `outDir` with no special casing. The state tables
    * are read whole, so `stateDir` may be in either bucket layout; the
    * snapshot is written at the bucket level its own rows fill, in the
    * level layout, which makes compaction the migration of a flat-layout
    * dir. Returns the migration map (eagerly materialized — it is also the
    * write's input, and the caller persists it for consumers).
    *
    * `outDir` must hold no state: a snapshot written beside another state's
    * batch partitions (`stateDir` itself, say) would publish every surface
    * twice and keep the old ledger. */
  def compact(spark: SparkSession, stateDir: String, outDir: String): DataFrame = {
    def label(phase: String) = s"Compaction $stateDir: $phase"
    StreamLink.described(spark, label("compact")) {
      val meta = StreamLink.readMeta(spark, stateDir).getOrElse(
        throw new IllegalStateException(
          s"$stateDir has no _meta.json — not a StreamLink state dir"))
      StreamLink.requireShingleN(stateDir, meta)
      val held = StreamLink.stateArtifact(spark, outDir)
      require(held.isEmpty,
        s"compaction target $outDir already holds ${held.getOrElse("")} — writing " +
          "the snapshot beside existing state would publish every surface twice " +
          "and keep the old bridge ledger; refusing (compact into a fresh dir)")
      // its observed row count sets the snapshot's bucket level
      val (surfaceRows, surfaceObs) = Observed.counted(recanonicalized(spark, stateDir))
      val surfaces = surfaceRows.localCheckpoint()
      // its observed row count sizes the two joins below by Spark's
      // broadcast rule ([[Linker.broadcastBySize]])
      val (migRows, migObs) = Observed.counted(migrationOf(surfaces))
      val mig = migRows.localCheckpoint()
      val migJoin = Linker.broadcastBySize(mig, Observed.observedCount(migObs))
      val triples = StreamLink.readTripleProvenance(spark, stateDir)
        .join(migJoin.select(col("old_id").as("subjectId"),
          col("new_id").as("s_id"), col("new_surface").as("s_surf")), "subjectId")
        .join(migJoin.select(col("old_id").as("objectId"),
          col("new_id").as("o_id"), col("new_surface").as("o_surf")), "objectId")
        .select(col("s_id").as("subjectId"), col("s_surf").as("subject"),
          col("subjectType"), col("relation"),
          col("o_id").as("objectId"), col("o_surf").as("obj"),
          col("objectType"), col("url"))
      StreamLink.writeStateSnapshot(spark, outDir,
        surfaces.select("surface", "norm", "id", "canonical_id", "canonical_surface"),
        Observed.observedCount(surfaceObs), triples, meta, label)
      mig
    }
  }
}
