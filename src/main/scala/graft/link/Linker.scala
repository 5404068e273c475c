package graft.link

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextNorm
import graft.ops.{BucketPairs, Hashing, Observed}
import graft.schema.{CanonicalTriple, Triple}

/** Entity linking + canonicalization (J8, SURVEY.md §2.4): resolve mention
  * surfaces to canonical ids via minhash/LSH blocking over normalized
  * surfaces, candidate-pair verification, and connected components — then
  * materialize deduplicated canonical triples.
  *
  * This object owns the linking rules; the incremental linker
  * ([[graft.streaming.StreamLink]]) and the offline compaction
  * ([[Compaction]]) call them rather than restating them:
  *  - surface key: width-normalized surface (processSent) and its 64-bit
  *    hash as id — trivial variants collapse BEFORE hashing, so LSH pairing
  *    only carries genuinely distinct surfaces ([[surfaces]]);
  *  - band keys and the band fan-out, `Bands` rows per surface — shuffle
  *    O(surfaces × bands) ([[bandKeysOf]], [[bandRows]]);
  *  - pair verification: true Jaccard of char shingles ([[jaccardOk]]);
  *  - canonical id = min member id of a connected component, canonical
  *    surface = min (length, lexicographic) member — deterministic under any
  *    partitioning ([[canonicalize]]);
  *  - triple resolution and support = distinct urls ([[resolveTriples]],
  *    [[support]]).
  *
  * ONE linking core, [[link]], runs those rules as one plan — band, pair,
  * verify once, canonicalize, adopt — for two callers: `StreamLink` links
  * a micro-batch's new surfaces against the bucket-pruned band rows of the
  * published state, and the batch linker ([[canonicalTriples]],
  * [[resolution]], [[candidateEdges]]) links every surface against no
  * state at all.
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

  /** Band rows of published surfaces — one per band key `bucket` of each:
    * the state's band table, and the existing side [[link]] pairs new
    * surfaces against. */
  private[graft] val BandSchema = StructType(Seq(
    StructField("bucket", LongType), StructField("id", LongType),
    StructField("norm", StringType), StructField("canonical_id", LongType),
    StructField("canonical_surface", StringType)))

  /** An empty frame the optimizer knows is empty: joins and unions with it
    * fold away at planning time instead of running a job. */
  private[graft] def emptyFrame(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

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

  /** LSH band keys of a normalized surface: the `Bands`
    * [[Hashing.minhashBandKeys]] of its `MinhashLanes`-lane minhash. */
  def bandKeysOf(norm: String): Seq[Long] = Hashing.minhashBandKeys(
    Hashing.minhash(Hashing.charShingles(norm, ShingleN), MinhashLanes), Bands).toSeq

  /** The band keys of the normalized surface `norm`, as an array column of
    * `Bands` longs ([[bandKeysOf]]). */
  private def bandKeys(norm: Column): Column = udf(bandKeysOf _).apply(norm)

  /** The band fan-out of `df`: one row per band key of its `norm` column,
    * `bucket` first, then every column of `df`. */
  private[graft] def bandRows(df: DataFrame): DataFrame =
    df.select(explode(bandKeys(col("norm"))).as("bucket") +: df.columns.toSeq.map(col): _*)

  /** Whether two normalized surfaces are the same entity: true Jaccard of
    * their char shingles at or above `threshold`. */
  private[graft] def jaccardOk(na: String, nb: String, threshold: Double = Threshold): Boolean =
    Hashing.jaccard(Hashing.charShingles(na, ShingleN),
      Hashing.charShingles(nb, ShingleN)) >= threshold

  /** Every candidate pair of the `fresh` surfaces among themselves and
    * against the `existing` band rows (see [[link]]), verified ONCE, into
    * one checkpoint: `nid` the new side, `oid` the other, `other_new`
    * whether it is new too, and for an existing other its `ex_cid` /
    * `ex_rep`. The pair rule is [[graft.ops.BucketPairs]]' incremental
    * mode: every pair anchors on a new surface, and a band bucket of more
    * than `bucketCap` members pairs by SORTED NEIGHBORHOOD over the norm,
    * each member with its next `neighborWindow` neighbors — near-identical
    * surfaces still meet and one templated surface family cannot make the
    * linker quadratic. A pair met in several bands is kept once per band:
    * ConnectedComponents canonicalizes its edges and the adoption takes a
    * min and a set, so no shuffle dedups them. */
  private def verifiedPairs(fresh: DataFrame, existing: DataFrame, threshold: Double,
      bucketCap: Int, neighborWindow: Int): DataFrame = {
    // persisted: the hot-bucket size probe and the pairing both read it; the
    // probe's size aggregation reads every partition, so it materializes the
    // cache before the pairing reads it
    val tagged = fresh
      .select(explode(col("keys")).as("bucket"), col("id"), col("norm"), lit(true).as("is_new"),
        lit(null).cast("long").as("cid"), lit(null).cast("string").as("rep"))
      .unionByName(existing.select(col("bucket"), col("id"), col("norm"),
        lit(false).as("is_new"), col("canonical_id").as("cid"),
        col("canonical_surface").as("rep")))
      .persist()
    // oriented new side first
    val aNew = col("is_new_a")
    def pick(n: String, e: String) = when(aNew, col(n)).otherwise(col(e))
    val verify = udf((na: String, nb: String) => jaccardOk(na, nb, threshold))
    val verified = BucketPairs(tagged, Seq("bucket"), bucketCap, neighborWindow,
        _.withColumn("sort", col("norm")), newCol = Some("is_new"))
      .filter(verify(col("norm_a"), col("norm_b")))
      .select(pick("id_a", "id_b").as("nid"), pick("id_b", "id_a").as("oid"),
        (aNew && col("is_new_b")).as("other_new"),
        pick("cid_b", "cid_a").as("ex_cid"), pick("rep_b", "rep_a").as("ex_rep"))
      .localCheckpoint()
    tagged.unpersist()
    verified
  }

  /** The linking core (object doc): the `fresh` surfaces ((surface, norm,
    * id) with their band keys as `keys`) linked among themselves and
    * against the `existing` band rows of published surfaces
    * ([[BandSchema]]; the batch linker passes an [[emptyFrame]]).
    * Candidate pairs are verified once ([[verifiedPairs]]); the fresh
    * surfaces form components over their verified edges among themselves
    * ([[canonicalize]], the batch rule), and each verified attachment to an
    * existing surface rides along as a surface-less row of its fresh
    * surface, so it lands in that surface's component.
    *
    * Conflict rule: a component attaching to existing canonical ids ADOPTS
    * the minimum of them and its representative; the others are its
    * `bridged` ids, carried by the component's row whose surface is its
    * batch-rule representative (one per component, fresh surfaces being
    * distinct), never rewritten. Both come from aggregates over the
    * component window canonicalize already shuffled by: the adopted
    * minimum and the component's distinct cid set (bounded by the number of
    * existing components one fresh component bridges).
    *
    * Returns the assignment as a checkpoint — (surface, norm, id,
    * canonical_id, canonical_surface, bridged), one row per fresh surface —
    * and its row count, observed as the checkpoint runs. `phase` is called
    * with "components" and "assign" as those steps begin, so a caller can
    * label their jobs. */
  private[graft] def link(fresh: DataFrame, existing: DataFrame,
      phase: String => Unit): (DataFrame, Long) = {
    val verified = verifiedPairs(fresh, existing, Threshold, BucketCap, NeighborWindow)
    phase("components")
    val attachments = verified.filter(!col("other_new"))
      .select(col("nid").as("id"), col("ex_cid"), col("ex_rep"))
    val comps = canonicalize(fresh.select("surface", "norm", "id")
        .unionByName(attachments, allowMissingColumns = true),
      verified.filter(col("other_new")).select(col("nid").as("src"), col("oid").as("dst")), "id")
    phase("assign")
    val component = Window.partitionBy("component")
    val kept = col("adopt.c")
    val (assigned, seen) = Observed.counted(comps
      .withColumn("adopt", min(when(col("ex_cid").isNotNull,
        struct(col("ex_cid").as("c"), col("ex_rep").as("r")))).over(component))
      .withColumn("cids", collect_set(col("ex_cid")).over(component))
      .filter(col("surface").isNotNull)
      .select(col("surface"), col("norm"), col("id"),
        coalesce(kept, col("canonical_id")).as("canonical_id"),
        coalesce(col("adopt.r"), col("canonical_surface")).as("canonical_surface"),
        when(col("surface") === col("canonical_surface"),
          filter(col("cids"), _ =!= kept)).as("bridged")))
    val out = assigned.localCheckpoint()
    (out, Observed.observedCount(seen))
  }

  /** `surf` with its band keys as `keys`: the fresh side of [[link]]. */
  private[graft] def keyed(surf: Dataset[SurfaceKey]): DataFrame =
    surf.toDF().withColumn("keys", bandKeys(col("norm")))

  /** Candidate same-entity edges (src, dst): the distinct verified pairs
    * of [[link]]'s first step over `surf` against no state, at `threshold`
    * and with the hot-bucket guard at `bucketCap` / `neighborWindow` (see
    * [[verifiedPairs]]), over the checkpoint that step writes. */
  def candidateEdges(surf: Dataset[SurfaceKey], threshold: Double = Threshold,
      bucketCap: Int = BucketCap, neighborWindow: Int = NeighborWindow): DataFrame =
    verifiedPairs(keyed(surf), emptyFrame(surf.sparkSession, BandSchema), threshold,
      bucketCap, neighborWindow)
      .select(col("nid").as("src"), col("oid").as("dst")).distinct()

  /** Surfaces grouped into the connected components of `edges` over their
    * `key` column (a key on no edge is its own component), each component
    * canonicalized: `canonical_id` = min member `id`, `canonical_surface` =
    * min (length, lexicographic) member `surface`. Returns every column of
    * `surf` plus `component`, `canonical_id` and `canonical_surface`. A row
    * with a null `surface` stands for its `key` alone: it joins that key's
    * component and is never its representative. Runs
    * [[ConnectedComponents]] eagerly; the rest stays lazy. Window
    * aggregates, not a group-by joined back: a caller that reads only
    * `id` and `component` pays no shuffle for the canonical columns, and
    * one that adds its own aggregates over the same `component` window
    * shares this one's shuffle. */
  private[graft] def canonicalize(surf: DataFrame, edges: DataFrame,
      key: String): DataFrame = {
    val comp = ConnectedComponents.run(edges)
      .select(col("id").as("cc_key"), col("component").as("cc"))
    val component = Window.partitionBy("component")
    surf.join(comp, col(key) === col("cc_key"), "left")
      .select(surf.columns.toSeq.map(col) :+
        coalesce(col("cc"), col(key)).as("component"): _*)
      .withColumn("canonical_id", min(col("id")).over(component))
      .withColumn("canonical_surface", min(when(col("surface").isNotNull,
        struct(length(col("surface")).as("l"), col("surface").as("s")))).over(component)
        .getField("s"))
  }

  /** surface → (canonical id, canonical surface): [[link]] over `surf`
    * against no state, and its row count. */
  private def resolved(surf: Dataset[SurfaceKey]): (DataFrame, Long) = {
    val (assigned, rows) = link(keyed(surf), emptyFrame(surf.sparkSession, BandSchema), _ => ())
    (assigned.select("surface", "canonical_id", "canonical_surface"), rows)
  }

  def resolution(surf: Dataset[SurfaceKey]): DataFrame = resolved(surf)._1

  /** `df` marked for broadcast when its `rows` rows fit Spark's own
    * threshold: rows × the schema's `defaultSize` ≤
    * `spark.sql.autoBroadcastJoinThreshold` (-1 turns it off, as for the
    * planner). The planner applies that rule to its size ESTIMATE; a caller
    * that has counted the rows (an [[graft.ops.Observed]] count on a
    * checkpoint it ran) applies it to the count, before any shuffle is
    * planned, which also fixes the join's build side. */
  private[graft] def broadcastBySize(df: DataFrame, rows: Long): DataFrame =
    if (rows * df.schema.defaultSize <=
        df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold) broadcast(df)
    else df

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

  /** Deduplicated canonical triples with support counts. Each triple
    * resolves through the resolution whose rows its checkpoint counted, by
    * Spark's broadcast rule ([[broadcastBySize]]), so the join plan does
    * not depend on which stage finishes first. */
  def canonicalTriples(triples: Dataset[Triple]): Dataset[CanonicalTriple] = {
    val spark = triples.sparkSession
    import spark.implicits._
    val (res, rows) = resolved(surfaces(triples))
    support(resolveTriples(triples.toDF(), broadcastBySize(res, rows))).as[CanonicalTriple]
  }
}
