package graft.synth

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.Hashing

/** Deterministic synthetic mention corpus for the incremental-linking /
  * compaction SCALE measurements (perfbench's `kg_incremental`,
  * LinkCompactionSpec's scale-shaped pin). [[Corpus]] cannot serve here:
  * its subject/object vocabulary is the bounded [[Lexicon]], so distinct
  * surfaces saturate at a few hundred no matter how many documents are
  * generated — a ≥100k-surface state needs an UNBOUNDED surface space.
  *
  * Construction: one entity family per index. Each family's base surface is
  * 16 DISTINCT letters drawn from 'a'..'v' (a seeded partial Fisher-Yates
  * over 22 letters); the reserved letters w/x/y/z never appear in a base, so
  * the variant edits below have EXACT char-2-shingle arithmetic (all 15
  * shingles of every variant are distinct):
  *
  *  - v0 = base                      (the late-arriving "true" surface)
  *  - v1 = "wx" + base.drop(2)       (head replaced)
  *  - v2 = base.take(14) + "yz"      (tail replaced)
  *
  *  J(v0,v1) = J(v0,v2) = 13/17 ≈ 0.765 ≥ 0.6 — v0 verifies against both;
  *  J(v1,v2) = 11/19 ≈ 0.579 < 0.6 — v1 and v2 do NOT verify against each
  *  other (their LSH bands may still collide; true-Jaccard verification
  *  kills the pair, exactly the [[graft.streaming.StreamLink]] semantics).
  *
  * So a drop order of v1 (batch 0), v2 (batch 1), v0 (batch 2) publishes two
  * components per family and then BRIDGES them — batch 2 ledgers one bridge
  * per family whose v0 shares an LSH band with both v1 and v2 (hash-
  * deterministic, ≈94% of families at the [[graft.link.Linker.bandKeysOf]]
  * default k=8 × 4-band geometry) — the exact workload
  * [[graft.link.Compaction]] exists to consume. Object surfaces are the
  * REVERSED base: with all-distinct letters, a pair cd adjacent in the base
  * would need dc also adjacent for a shared shingle — impossible — so
  * J(base, reverse) = 0 exactly, and objects stay singleton components.
  *
  * Everything is a pure function of (family, variant): built distributed
  * via `spark.range → map`, no shuffle, no driver-side loop, any scale.
  */
object LinkCorpus {

  private val Letters: Array[Char] = ('a' to 'v').toArray // 22, w-z reserved

  /** 16 distinct letters from 'a'..'v', seeded by the family id. */
  private[graft] def baseOf(family: Long): String = {
    val arr = Letters.clone()
    var s = Hashing.splitmix64(family * 0x9E3779B97F4A7C15L + 0x51ED270BL)
    var i = 0
    while (i < 16) {
      s = Hashing.splitmix64(s)
      val j = i + Math.floorMod(s, (Letters.length - i).toLong).toInt
      val t = arr(i); arr(i) = arr(j); arr(j) = t
      i += 1
    }
    new String(arr, 0, 16)
  }

  /** The family's variant surface (see class doc for the exact Jaccard
    * relations between the three variants). */
  def surface(family: Long, variant: Int): String = {
    val b = baseOf(family)
    variant match {
      case 0 => b
      case 1 => "wx" + b.substring(2)
      case 2 => b.substring(0, 14) + "yz"
      case v => throw new IllegalArgumentException(s"variant $v not in 0-2")
    }
  }

  /** The family's object surface — shares ZERO shingles with its base. */
  def objSurface(family: Long): String = baseOf(family).reverse

  /** One triple per family at the given variant, in
    * [[graft.schema.Triple]] column layout (url is unique per row, so the
    * url-grain provenance the state keeps grows with the corpus). Families
    * are the half-open range [from, until). */
  def triples(spark: SparkSession, from: Long, until: Long,
      variant: Int): DataFrame = {
    import spark.implicits._
    val slices = math.max(spark.sparkContext.defaultParallelism * 2, 4)
    spark.range(from, until, 1, slices).map { f =>
      (s"https://linkbench.test/v$variant/$f", "Mass", surface(f, variant),
        "Location", "Location", objSurface(f))
    }.toDF("url", "subjectType", "subject", "relation", "objectType", "obj")
  }
}
