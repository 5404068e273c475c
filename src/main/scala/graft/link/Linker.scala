package graft.link

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.functions.TextNorm
import graft.ops.{BucketPairs, Hashing}
import graft.schema.{CanonicalTriple, Triple}

/** Entity linking + canonicalization (J8, SURVEY.md §2.4): resolve mention
  * surfaces to canonical ids via minhash/LSH blocking over normalized
  * surfaces, candidate-edge verification, and connected components — then
  * materialize deduplicated canonical triples.
  *
  * Scale design:
  *  - width-normalization (processSent) collapses trivial variants BEFORE
  *    hashing, so LSH pairing only carries genuinely distinct surfaces
  *    (entity vocabulary ≪ corpus size);
  *  - band fan-out is `bands` rows per surface — shuffle O(surfaces × bands);
  *  - candidate pairs come from [[graft.ops.BucketPairs]]: grouped all-pairs
  *    inside buckets up to `bucketCap`, bounded sorted-neighborhood pairing
  *    inside hotter ones;
  *  - canonical id = min id in component (deterministic under any
  *    partitioning).
  */
object Linker {

  final case class SurfaceKey(surface: String, norm: String, id: Long)

  /** Distinct mention surfaces with normalized form and stable 64-bit id. */
  def surfaces(triples: Dataset[Triple]): Dataset[SurfaceKey] = {
    val spark = triples.sparkSession
    import spark.implicits._
    triples.flatMap(t => Seq(t.subject, t.obj)).distinct()
      .map { s =>
        val norm = TextNorm.processSentStr(s)
        SurfaceKey(s, norm, Hashing.hash64(norm))
      }
  }

  /** LSH band keys of a normalized surface — the ONE definition shared by
    * the batch pairing and the incremental stream attach
    * ([[graft.streaming.StreamLink]]): `bands` keys, each a splitmix-
    * finalized fold over its k/bands minhash lanes. */
  def bandKeysOf(norm: String, k: Int = 8, bands: Int = 4,
      shingleN: Int = 2): Seq[Long] = {
    val mh = Hashing.minhash(Hashing.charShingles(norm, shingleN), k)
    val rows = k / bands
    (0 until bands).map { b =>
      Hashing.splitmix64(
        (b * rows until (b + 1) * rows).foldLeft(b.toLong)((acc, j) => acc * 31 + mh(j)))
    }
  }

  /** Candidate same-entity edges via minhash/LSH over char 2-gram shingles
    * of the normalized surface, verified by true Jaccard >= threshold.
    *
    * Hot-key handling (north_rule): pairs come from
    * [[graft.ops.BucketPairs]] — all pairs inside buckets of at most
    * `bucketCap` members; larger buckets are not dropped but switch to
    * SORTED-NEIGHBORHOOD pairing ordered by normalized surface, each member
    * pairing only with its next `neighborWindow` neighbors — near-identical
    * surfaces sort adjacently, so recall stays high while the pair count is
    * bounded to O(n·W).
    */
  def candidateEdges(surf: Dataset[SurfaceKey], k: Int = 8, bands: Int = 4,
      shingleN: Int = 2, threshold: Double = 0.6, bucketCap: Int = 1000,
      neighborWindow: Int = 8): DataFrame = {
    // standalone contract: checkpoint materializes the edges so the caches
    // can be released before returning the (otherwise lazy) frame
    val (edges, release) = candidateEdgesLazy(surf, k, bands, shingleN, threshold,
      bucketCap, neighborWindow)
    val out = edges.localCheckpoint()
    release()
    out
  }

  /** [[candidateEdges]] without the final materialization: the caller owns
    * calling `release` AFTER an action has consumed `edges` — the shape
    * [[resolution]] uses so ConnectedComponents' own checkpoint is the ONLY
    * materialization of the edge set (a second caller-side checkpoint would
    * store it twice). */
  private def candidateEdgesLazy(surf: Dataset[SurfaceKey], k: Int = 8,
      bands: Int = 4, shingleN: Int = 2, threshold: Double = 0.6,
      bucketCap: Int = 1000, neighborWindow: Int = 8): (DataFrame, () => Unit) = {
    val spark = surf.sparkSession
    import spark.implicits._
    require(bands >= 1 && k % bands == 0,
      s"minhash lanes k=$k must be a positive multiple of bands=$bands " +
        "(otherwise band keys degenerate or lanes are silently ignored)")
    // persisted: the bucket-size probe and the pairing both read the
    // fan-out, which would otherwise re-shingle + re-minhash every surface
    // per consumer (the same fix as the Dedup LSH signature tables)
    val banded = surf.flatMap { sk =>
      bandKeysOf(sk.norm, k, bands, shingleN).map(key => (key, sk.id, sk.norm))
    }.toDF("bucket", "id", "norm").persist()

    // hot buckets rank by normalized surface
    val edges = BucketPairs(banded, Seq("bucket"), bucketCap, neighborWindow,
        _.withColumn("sort", col("norm")))
      .select(col("id_a").as("src"), col("id_b").as("dst"), col("norm_a"), col("norm_b"))
      .distinct()
      .as[(Long, Long, String, String)]
      .flatMap { case (src, dst, na, nb) =>
        val j = Hashing.jaccard(
          Hashing.charShingles(na, shingleN), Hashing.charShingles(nb, shingleN))
        if (j >= threshold) Some((src, dst)) else None
      }.toDF("src", "dst")
    (edges, () => { banded.unpersist(): Unit })
  }

  /** surface → (canonical id, canonical surface). Canonical surface is the
    * representative with min (length, lexicographic) in the component. */
  def resolution(surf: Dataset[SurfaceKey]): DataFrame = {
    val spark = surf.sparkSession
    // lazy edges: ConnectedComponents canonicalizes + checkpoints them as
    // its first step — the single materialization of the verify plan
    val (edges, release) = candidateEdgesLazy(surf)
    val comp = ConnectedComponents.run(edges)
    release()
    val withComp = surf.toDF()
      .join(comp, surf("id") === comp("id"), "left")
      .select(col("surface"), col("norm"), surf("id").as("id"),
        coalesce(col("component"), surf("id")).as("canonical_id"))
    val reps = withComp
      .groupBy("canonical_id")
      .agg(min(struct(length(col("surface")).as("l"), col("surface").as("s"))).as("rep"))
      .select(col("canonical_id"), col("rep.s").as("canonical_surface"))
    withComp.join(reps, "canonical_id")
      .select("surface", "canonical_id", "canonical_surface")
  }

  /** Deduplicated canonical triples with support counts. */
  def canonicalTriples(triples: Dataset[Triple]): Dataset[CanonicalTriple] = {
    val spark = triples.sparkSession
    import spark.implicits._
    val res = resolution(surfaces(triples))
    val subjRes = res.select(col("surface").as("subject"),
      col("canonical_id").as("subjectId"), col("canonical_surface").as("subjectCanon"))
    val objRes = res.select(col("surface").as("obj"),
      col("canonical_id").as("objectId"), col("canonical_surface").as("objectCanon"))
    triples.toDF()
      .join(subjRes, "subject")
      .join(objRes, "obj")
      .groupBy("subjectId", "subjectCanon", "subjectType", "relation",
        "objectId", "objectCanon", "objectType")
      .agg(countDistinct("url").as("urls"))
      .select(col("subjectId"), col("subjectCanon").as("subject"), col("subjectType"),
        col("relation"), col("objectId"), col("objectCanon").as("obj"),
        col("objectType"), col("urls"))
      .as[CanonicalTriple]
  }
}
