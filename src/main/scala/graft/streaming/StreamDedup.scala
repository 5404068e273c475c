package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.ops.{Hashing, TextStats}

/** Streaming exact deduplication — the Structured Streaming twin of
  * [[graft.ops.Dedup.exact]] for a continuously-fed corpus (SURVEY.md §2.9
  * extension; the batch fingerprint is reused verbatim, so batch and stream
  * agree on what counts as a duplicate).
  *
  * State design (100 TB stream): `dropDuplicatesWithinWatermark` keys state
  * by the 64-bit content fingerprint only (16 bytes/entry-ish, not the
  * document), and the event-time watermark EVICTS entries once no duplicate
  * can still arrive — state is bounded by horizon × ingest rate instead of
  * growing with corpus lifetime. The documented trade: a copy arriving more
  * than `horizon` after its original is admitted again (re-deduplicated by
  * the batch pass downstream).
  */
object StreamDedup {

  /** Keep the first-arriving document per content fingerprint.
    *
    * @param docs streaming DataFrame with `tsCol` (event time) and `textCol`
    * @param horizon watermark delay bounding both lateness and dedup state
    */
  def exactDedup(docs: DataFrame, textCol: String = "text",
      tsCol: String = "warc_ts", horizon: String = "24 hours"): DataFrame =
    docs
      .withColumn("fp", TextStats.fingerprint(col(textCol)))
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("fp")

  /** Streaming NEAR-dup suppression: dedup key = the 64-bit content simhash
    * ([[graft.ops.Hashing.simhashText]] — lowercased char trigrams, so the
    * signature is meaningful on CJK and punctuation-only text), so small
    * edits that leave the signature unchanged (whitespace/punctuation drift,
    * the templated-page case) collapse to one survivor in-stream. This is
    * the Hamming-distance-0 slice of near-dup — distance ≥ 1 is
    * [[nearDupVerdicts]]' banded-state job (and the batch
    * [[graft.ops.Dedup.simhashPairs]] pass across horizons); state cost is
    * identical to [[exactDedup]] (one long key per doc within the horizon).
    *
    * Degenerate docs (null/empty text) have NO content signature: keying
    * them by a shared constant would silently drop every contentless doc
    * after the first. They dedup by the exact content hash instead, in a
    * key space disambiguated by the `degenerate` flag column — identical
    * empties still collapse (they ARE exact dups), distinct docs never do. */
  def simhashDedup(docs: DataFrame, textCol: String = "text",
      tsCol: String = "warc_ts", horizon: String = "24 hours"): DataFrame = {
    val outSchema = docs.schema
      .add("sim", org.apache.spark.sql.types.LongType)
      .add("degenerate", org.apache.spark.sql.types.BooleanType)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val idx = docs.schema.fieldIndex(textCol)
    val withSim = docs.mapPartitions { it =>
      it.map { r =>
        val t = if (r.isNullAt(idx)) null else r.getString(idx)
        val features = graft.ops.Hashing.simhashFeatures(t)
        val degenerate = features.isEmpty
        // fallback = the exact normalized fingerprint, so blank variants
        // collapse exactly as exactDedup would collapse them, nothing else
        val sim =
          if (degenerate) graft.ops.Hashing.normalizedFingerprint(t)
          else graft.ops.Hashing.simhash(features)
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ sim :+ degenerate)
      }
    }(enc)
    withSim
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("sim", "degenerate")
  }

  /** One per-(doc, band) verdict from [[nearDupVerdicts]]: `hamming` = the
    * verified distance between this doc's simhash and the band's current
    * keeper, or -1 when this doc CLAIMED the band (no keeper in the
    * horizon). Degenerate (blank) docs emit a single band = -1 row keyed by
    * their exact fingerprint (hamming 0 ⇔ identical blank content). */
  final case class BandVerdict(docId: Long, ts: Timestamp, band: Int, hamming: Int)

  // private[streaming], not private: Catalyst-generated encoder code must
  // access the constructor/accessors (object-private is private in bytecode)
  private[streaming] final case class BandRow(docId: Long, ts: Timestamp,
      sim: Long, band: Int, key: Long)

  /** Per-band-value state: the first `SigCap` DISTINCT signatures seen for
    * this band value in the horizon — not just the first writer's. A doc is
    * verified against all of them, so a doc near an earlier NON-first
    * arrival is still caught (the first claimant may be far: band equality
    * only pins its 64/bands-bit slice). Beyond the cap recall degrades to
    * best-effort against the stored set — the documented trade bounding
    * state at `SigCap` longs per live band value; the batch
    * [[graft.ops.Dedup.simhashPairs]] pass is the completeness backstop
    * (itself complete at the radius for all uncapped buckets — its
    * `bucketCap` hot-bucket fallback is the one documented recall trade). */
  private[streaming] final case class Keeper(sims: List[Long], lastTs: Long)

  /** Signatures retained per band value. 8 × 8 bytes: a hot templated band
    * value stays cheap while covering the realistic few distinct in-horizon
    * signatures that share a 16-bit band slice. */
  private[streaming] val SigCap = 8

  private[streaming] def updateBand(horizonMs: Long)(key: (Int, Long),
      rows: Iterator[BandRow], state: GroupState[Keeper]): Iterator[BandVerdict] = {
    if (rows.isEmpty && state.hasTimedOut) {
      // watermark passed lastSeen + horizon: no in-horizon duplicate can
      // still arrive for this band value — state is dropped, bounding total
      // state at O(bands × docs-per-horizon)
      state.remove()
      return Iterator.empty
    }
    val out = List.newBuilder[BandVerdict]
    var st = state.getOption
    // deterministic claim order within a micro-batch: earliest (ts, docId)
    rows.toSeq.sortBy(r => (r.ts.getTime, r.docId)).foreach { r =>
      st match {
        case None =>
          st = Some(Keeper(r.sim :: Nil, r.ts.getTime))
          out += BandVerdict(r.docId, r.ts, r.band, -1)
        case Some(k) =>
          // verified distance against EVERY stored signature — a band
          // collision between genuinely distant docs scores its true
          // (large) hamming and never suppresses, so the 2^-width collision
          // rate costs candidate work, not precision
          val h = k.sims.iterator.map(s => java.lang.Long.bitCount(r.sim ^ s)).min
          out += BandVerdict(r.docId, r.ts, r.band, h)
          // a NEW signature (kept or suppressed — transitive chains need
          // both) joins the stored set while the cap allows
          val sims =
            if (h > 0 && k.sims.size < SigCap) k.sims :+ r.sim else k.sims
          st = Some(Keeper(sims, math.max(k.lastTs, r.ts.getTime)))
      }
    }
    st.foreach { k =>
      state.update(k)
      state.setTimeoutTimestamp(k.lastTs + horizonMs)
    }
    out.result().iterator
  }

  /** In-stream near-dup suppression at Hamming radius ≥ 1 — the streaming
    * twin of [[graft.ops.Dedup.simhashPairs]]' pigeonhole blocking. Each doc
    * explodes to its band keys; per-band keyed state holds the first
    * [[SigCap]] distinct FULL 64-bit signatures seen for the value, and
    * every later doc sharing the band gets a VERIFIED Hamming distance
    * against all of them (an unverified shared-band key would
    * false-suppress at the 2^-width collision rate — fatal at stream
    * scale). Any pair within the radius shares at least one whole band
    * (Manku WWW'07), so in-horizon recall at the radius holds whenever the
    * earlier doc's signature is among the ≤ SigCap stored for some shared
    * band value — i.e. guaranteed until a band value has seen more than
    * SigCap distinct signatures, best-effort past that (the batch
    * simhashPairs pass is the completeness backstop — complete at the
    * radius except inside its own `bucketCap`-capped hot buckets).
    *
    * Band geometry (`blocks`): the tables and keys are the batch pass's own,
    * [[Hashing.simhashTables]] — one definition, so a doc keys the same
    * tables in the stream and in the batch. The default −1 keeps the
    * minimal maxHamming+1 single-block layout, whose keys are the block
    * values themselves: checkpoints written with it by earlier versions
    * restart unchanged. Checkpoints written at `blocks` > maxHamming+1 by
    * versions that folded subset keys through splitmix64 are re-keyed:
    * start them fresh. A deployment whose
    * in-horizon doc count drives ⌊64/(r+1)⌋-bit band values hot (random
    * collisions grow as n²/2^width, saturating SigCap and degrading recall
    * to best-effort) passes the SOLVED m from
    * [[graft.ops.Dedup.solveSimhashBlocks]](expected in-horizon docs, r) —
    * e.g. m=5 at radius 3 to ~10^9 docs: C(5,2)=10 tables of ~25-bit keys,
    * collapsing random band collisions by ~2^12 for a 2.5× state fan-out,
    * the same cost/recall geometry the batch twin solves per run. Changing
    * `blocks` re-keys the state: start a fresh checkpoint.
    *
    * All band rows of a doc land in the SAME micro-batch, so the per-doc
    * verdict is a plain per-batch vote — [[keptDocs]] inside `foreachBatch`
    * — not a second stateful operator (chaining flatMapGroupsWithState into
    * further stateful ops is unsupported). State cost: one (sim, ts) pair
    * per live band value, watermark-evicted after `horizon`.
    *
    * Greedy-online semantics (documented divergence from the batch pass):
    * a suppressed doc's bands still claim unclaimed band values, so chains
    * A ≈ B ≈ C suppress transitively like the batch CC clustering, but a
    * doc arriving more than `horizon` after its nearest neighbor is kept —
    * the batch [[graft.ops.Dedup.simhashPairs]] pass downstream owns
    * cross-horizon dedup. */
  def nearDupVerdicts(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", tsCol: String = "warc_ts",
      horizonMs: Long = 24L * 3600 * 1000, maxHamming: Int = 3,
      blocks: Int = -1): Dataset[BandVerdict] = {
    require(maxHamming >= 1 && maxHamming < 64, "radius-0 is simhashDedup's job")
    require(blocks < 0 || (blocks > maxHamming && blocks <= 64),
      "blocks must exceed maxHamming (pigeonhole) and fit 64 bits")
    val spark = docs.sparkSession
    import spark.implicits._
    val tables = Hashing.simhashTables(if (blocks < 0) maxHamming + 1 else blocks, maxHamming)
    docs
      .select(col(idCol).cast("long").as("docId"), col(tsCol).cast("timestamp").as("ts"),
        col(textCol).as("text"))
      .as[(Long, Timestamp, String)]
      .flatMap { case (docId, ts, text) =>
        val features = Hashing.simhashFeatures(text)
        if (features.isEmpty) {
          // blank doc: exact-fingerprint key in the reserved band -1 — the
          // same keyed state machine degrades to exact dedup for them
          val fp = Hashing.normalizedFingerprint(text)
          Iterator.single(BandRow(docId, ts, fp, -1, fp))
        } else {
          val sim = Hashing.simhash(features)
          Hashing.simhashTableKeys(sim, tables).iterator.zipWithIndex.map {
            case (key, b) => BandRow(docId, ts, sim, b, key)
          }
        }
      }
      // watermark AFTER the typed flatMap: the event-time column must be
      // tagged on the frame the stateful operator actually consumes
      .withWatermark("ts", s"$horizonMs milliseconds")
      .groupByKey(r => (r.band, r.key))
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(
        updateBand(horizonMs))
  }

  /** Per-micro-batch vote over [[nearDupVerdicts]] rows (all of a doc's band
    * verdicts are co-batched): a doc is KEPT unless some band verified a
    * keeper within `maxHamming`. Call inside `foreachBatch`. */
  def keptDocs(verdicts: DataFrame, maxHamming: Int = 3): DataFrame =
    verdicts.groupBy("docId")
      .agg(min(when(col("hamming") >= 0, col("hamming"))).as("min_hamming"))
      .filter(col("min_hamming").isNull || col("min_hamming") > maxHamming)
      .select("docId")
}
