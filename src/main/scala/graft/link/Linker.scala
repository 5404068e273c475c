package graft.link

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextNorm
import graft.ops.{BucketPairs, Hashing}
import graft.schema.{CanonicalTriple, Triple}

/** Entity linking + canonicalization (J8, SURVEY.md §2.4): resolve mention
  * surfaces to canonical ids via minhash/LSH blocking over normalized
  * surfaces, candidate-edge verification, and connected components — then
  * materialize deduplicated canonical triples.
  *
  * This object owns the linking rules; the incremental linker
  * ([[graft.streaming.StreamLink]]) and the offline compaction
  * ([[Compaction]]) call them rather than restating them:
  *  - surface key: width-normalized surface (processSent) and its 64-bit
  *    hash as id — trivial variants collapse BEFORE hashing, so LSH pairing
  *    only carries genuinely distinct surfaces ([[surfaces]]);
  *  - band keys and the band fan-out, `bands` rows per surface — shuffle
  *    O(surfaces × bands) ([[bandKeysOf]], [[bandRows]]);
  *  - pair verification: true Jaccard of char shingles ([[jaccardOk]]);
  *  - canonical id = min member id of a connected component, canonical
  *    surface = min (length, lexicographic) member — deterministic under any
  *    partitioning ([[canonicalize]]);
  *  - triple resolution and support = distinct urls ([[resolveTriples]],
  *    [[support]]).
  */
object Linker {

  /** The linking rule's parameters, one definition for the batch linker
    * and [[graft.streaming.StreamLink]]: `MinhashLanes` minhash lanes over
    * char `ShingleN`-gram shingles, folded into `Bands` LSH band keys; a
    * candidate pair is an edge when its true Jaccard is at least
    * `Threshold`. A band bucket of more than `BucketCap` members pairs by
    * sorted neighborhood, `NeighborWindow` neighbors per member. A state
    * dir pins `ShingleN` in its `_meta.json`. */
  val MinhashLanes = 8
  val Bands = 4
  val ShingleN = 2
  val Threshold = 0.6
  val BucketCap = 1000
  val NeighborWindow = 8

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

  /** LSH band keys of a normalized surface: `bands` keys, each a splitmix-
    * finalized fold over its k/bands minhash lanes. */
  def bandKeysOf(norm: String, k: Int = MinhashLanes, bands: Int = Bands,
      shingleN: Int = ShingleN): Seq[Long] = {
    val mh = Hashing.minhash(Hashing.charShingles(norm, shingleN), k)
    val rows = k / bands
    (0 until bands).map { b =>
      Hashing.splitmix64(
        (b * rows until (b + 1) * rows).foldLeft(b.toLong)((acc, j) => acc * 31 + mh(j)))
    }
  }

  /** The band fan-out of `df`: one row per band key of its `norm` column,
    * `bucket` first, then every column of `df`. */
  private[graft] def bandRows(df: DataFrame, shingleN: Int = ShingleN,
      k: Int = MinhashLanes, bands: Int = Bands): DataFrame = {
    val keys = udf((norm: String) => bandKeysOf(norm, k, bands, shingleN))
    df.select(explode(keys(col("norm"))).as("bucket") +: df.columns.toSeq.map(col): _*)
  }

  /** Whether two normalized surfaces are the same entity: true Jaccard of
    * their char shingles at or above `threshold`. */
  private[graft] def jaccardOk(na: String, nb: String, shingleN: Int = ShingleN,
      threshold: Double = Threshold): Boolean =
    Hashing.jaccard(Hashing.charShingles(na, shingleN),
      Hashing.charShingles(nb, shingleN)) >= threshold

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
  def candidateEdges(surf: Dataset[SurfaceKey], k: Int = MinhashLanes,
      bands: Int = Bands, shingleN: Int = ShingleN, threshold: Double = Threshold,
      bucketCap: Int = BucketCap, neighborWindow: Int = NeighborWindow): DataFrame = {
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
  private def candidateEdgesLazy(surf: Dataset[SurfaceKey], k: Int, bands: Int,
      shingleN: Int, threshold: Double, bucketCap: Int,
      neighborWindow: Int): (DataFrame, () => Unit) = {
    val spark = surf.sparkSession
    import spark.implicits._
    require(bands >= 1 && k % bands == 0,
      s"minhash lanes k=$k must be a positive multiple of bands=$bands " +
        "(otherwise band keys degenerate or lanes are silently ignored)")
    // persisted: the bucket-size probe and the pairing both read the
    // fan-out, which would otherwise re-shingle + re-minhash every surface
    // per consumer (the same fix as the Dedup LSH signature tables)
    val banded = bandRows(surf.toDF().select("id", "norm"), shingleN, k, bands).persist()

    // hot buckets rank by normalized surface
    val edges = BucketPairs(banded, Seq("bucket"), bucketCap, neighborWindow,
        _.withColumn("sort", col("norm")))
      .select(col("id_a").as("src"), col("id_b").as("dst"), col("norm_a"), col("norm_b"))
      .distinct()
      .as[(Long, Long, String, String)]
      .flatMap { case (src, dst, na, nb) =>
        if (jaccardOk(na, nb, shingleN, threshold)) Some((src, dst)) else None
      }.toDF("src", "dst")
    (edges, () => { banded.unpersist(): Unit })
  }

  /** Surfaces grouped into the connected components of `edges` over their
    * `key` column (a key on no edge is its own component), each component
    * canonicalized: `canonical_id` = min member `id`, `canonical_surface` =
    * min (length, lexicographic) member `surface`. Returns every column of
    * `surf` plus `component`, `canonical_id` and `canonical_surface`. Runs
    * [[ConnectedComponents]] eagerly; the rest stays lazy. Window
    * aggregates, not a group-by joined back: a caller that reads only
    * `id` and `component` pays no shuffle for the canonical columns. */
  private[graft] def canonicalize(surf: DataFrame, edges: DataFrame,
      key: String): DataFrame = {
    val comp = ConnectedComponents.run(edges)
      .select(col("id").as("cc_key"), col("component").as("cc"))
    val component = Window.partitionBy("component")
    surf.join(comp, col(key) === col("cc_key"), "left")
      .select(surf.columns.toSeq.map(col) :+
        coalesce(col("cc"), col(key)).as("component"): _*)
      .withColumn("canonical_id", min(col("id")).over(component))
      .withColumn("canonical_surface", min(struct(length(col("surface")).as("l"),
        col("surface").as("s"))).over(component).getField("s"))
  }

  /** surface → (canonical id, canonical surface), by [[canonicalize]] over
    * the verified candidate edges. */
  def resolution(surf: Dataset[SurfaceKey]): DataFrame = {
    // lazy edges: ConnectedComponents canonicalizes + checkpoints them as
    // its first step — the single materialization of the verify plan
    val (edges, release) = candidateEdgesLazy(surf, MinhashLanes, Bands, ShingleN,
      Threshold, BucketCap, NeighborWindow)
    val res = canonicalize(surf.toDF(), edges, "id")
    release()
    res.select("surface", "canonical_id", "canonical_surface")
  }

  /** Url-grain canonical triples: each triple's subject and object mapped
    * through `res` (surface, canonical_id, canonical_surface). */
  private[graft] def resolveTriples(triples: DataFrame, res: DataFrame): DataFrame = {
    val subjRes = res.select(col("surface").as("subject"),
      col("canonical_id").as("subjectId"), col("canonical_surface").as("subjectCanon"))
    val objRes = res.select(col("surface").as("obj"),
      col("canonical_id").as("objectId"), col("canonical_surface").as("objectCanon"))
    triples.join(subjRes, "subject").join(objRes, "obj")
      .select(col("subjectId"), col("subjectCanon").as("subject"), col("subjectType"),
        col("relation"), col("objectId"), col("objectCanon").as("obj"),
        col("objectType"), col("url"))
  }

  /** Canonical triples with support counts from url-grain rows: distinct
    * urls, so a url seen twice counts once. */
  private[graft] def support(resolved: DataFrame): DataFrame =
    resolved.groupBy("subjectId", "subject", "subjectType", "relation",
        "objectId", "obj", "objectType")
      .agg(countDistinct("url").as("urls"))

  /** Deduplicated canonical triples with support counts. */
  def canonicalTriples(triples: Dataset[Triple]): Dataset[CanonicalTriple] = {
    val spark = triples.sparkSession
    import spark.implicits._
    support(resolveTriples(triples.toDF(), resolution(surfaces(triples))))
      .as[CanonicalTriple]
  }
}
