package graft.ops

/** Deterministic 64-bit string hashing (FNV-1a + splitmix finalizer),
  * engine-independent: the same value on every executor, every Spark
  * version, and in tests — unlike relying on an engine builtin for
  * minhash/LSH semantics. Used for minhash lanes and entity ids.
  *
  * It owns the text signatures' keys, each defined once for every caller:
  * minhash band keys ([[minhashBandKeys]]: entity linking and minhash
  * near-dup) and simhash table keys ([[simhashTables]]: batch and
  * streaming simhash near-dup). The embedding signatures (sign-bit keys,
  * cosine) live in [[Similarity]].
  */
object Hashing {

  @inline def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** FNV-1a over UTF-16 code units, finalized with splitmix64(seed-mixed). */
  def hash64(s: String, seed: Long = 0L): Long = {
    var h = 0xCBF29CE484222325L ^ splitmix64(seed)
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001B3L
      i += 1
    }
    splitmix64(h)
  }

  /** k minhash lanes over a shingle set. Empty input → Long.MaxValue lanes. */
  def minhash(shingles: Iterable[String], k: Int): Array[Long] = {
    val mh = Array.fill(k)(Long.MaxValue)
    shingles.foreach { sh =>
      val base = hash64(sh)
      var j = 0
      while (j < k) {
        // cheap per-lane derivation: one strong base hash + splitmix stream
        val v = splitmix64(base + j * 0x9E3779B97F4A7C15L)
        if (v < mh(j)) mh(j) = v
        j += 1
      }
    }
    mh
  }

  /** Character n-gram shingle set. */
  def charShingles(s: String, n: Int): Set[String] = {
    if (s.length < n) { if (s.isEmpty) Set.empty else Set(s) }
    else (0 to s.length - n).iterator.map(i => s.substring(i, i + n)).toSet
  }

  /** 64-bit SimHash over weighted token hashes. */
  def simhash(tokens: Iterable[String]): Long = {
    val acc = new Array[Int](64)
    tokens.foreach { t =>
      val h = hash64(t)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Content normalization shared by [[simhashFeatures]] and
    * [[normalizedFingerprint]]: lowercase, collapse whitespace runs, trim —
    * the single definition of "same content modulo formatting" across the
    * exact and near-dup key spaces (a drift between them would silently
    * split blank-doc handling between the radius-0 and radius-≥1 paths). */
  def normalizedText(text: String): String =
    if (text == null) "" else text.toLowerCase.replaceAll("\\s+", " ").trim

  /** Exact content fingerprint over the normalized text ([[hash64]] of
    * [[normalizedText]]): the key blank documents fall back to in the
    * streaming simhash paths. Not interchangeable with
    * [[graft.ops.TextStats.fingerprint]], the exact-dedup Column key, which
    * hashes differently and does not trim. */
  def normalizedFingerprint(text: String): Long = hash64(normalizedText(text))

  /** SimHash feature set for a document: lowercased, whitespace-run-collapsed
    * char trigrams. Char shingles (not `\W+` word tokens) keep the signature
    * meaningful on punctuation-only and CJK text — an ASCII word tokenizer
    * yields ZERO tokens on a pure-CJK page, collapsing every such distinct
    * document to signature 0. Whitespace normalization (the same one the
    * exact fingerprint applies) keeps formatting drift signature-invariant.
    * Empty ⇔ the text is null/blank: such docs have no content signature and
    * callers must exempt them from near-dup keying (fall back to
    * [[normalizedFingerprint]]). */
  def simhashFeatures(text: String): Set[String] = {
    val norm = normalizedText(text)
    if (norm.isEmpty) Set.empty else charShingles(norm, 3)
  }

  /** 64-bit content simhash of a document ([[simhashFeatures]] ∘ [[simhash]]);
    * 0L for null/empty text — degenerate, see [[simhashFeatures]]. */
  def simhashText(text: String): Long = {
    val f = simhashFeatures(text)
    if (f.isEmpty) 0L else simhash(f)
  }

  /** LSH band keys of a minhash signature: `bands` keys, each a splitmix-
    * finalized fold over its `sig.length / bands` lanes, seeded with the
    * band index. The one band fold of [[graft.link.Linker]] (whose state
    * dirs persist these keys) and [[graft.ops.Dedup.minhashLsh]]. */
  def minhashBandKeys(sig: Array[Long], bands: Int): Array[Long] = {
    val rows = sig.length / bands
    Array.tabulate(bands) { b =>
      var acc = b.toLong
      var j = b * rows
      while (j < (b + 1) * rows) { acc = acc * 31 + sig(j); j += 1 }
      splitmix64(acc)
    }
  }

  /** The table geometry of a 64-bit simhash split into `m` near-equal
    * blocks (the first `64 % m` one bit wider, block 0 lowest): one table
    * per (m − r)-subset of blocks, in lexicographic subset order, as the
    * (mask, shift) of its key `(sim & mask) >>> shift` — the subset's bits,
    * shifted down to its lowest block. The key is injective per table, so
    * two signatures share a table key iff they agree on every bit of its
    * blocks; any pair within Hamming distance r leaves some subset intact
    * (pigeonhole, Manku et al. WWW'07). At m = r + 1 each table is one
    * block and its key is that block's value. One definition for
    * [[graft.ops.Dedup.simhashPairs]] and
    * [[graft.streaming.StreamDedup.nearDupVerdicts]]. */
  def simhashTables(m: Int, r: Int): Array[(Long, Int)] = {
    require(r >= 0 && m > r && m <= 64, s"need 0 <= r < m <= 64: m=$m r=$r")
    val widths = Array.tabulate(m)(b => 64 / m + (if (b < 64 % m) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    def blockMask(b: Int) = if (widths(b) == 64) -1L else ((1L << widths(b)) - 1) << offsets(b)
    (0 until m).combinations(m - r)
      .map(s => (s.map(blockMask).reduce(_ | _), offsets(s.head))).toArray
  }

  /** The keys of `sim` under [[simhashTables]] geometry `tables`, in table
    * order. */
  def simhashTableKeys(sim: Long, tables: Array[(Long, Int)]): Array[Long] =
    tables.map { case (mask, shift) => (sim & mask) >>> shift }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    if (a.isEmpty && b.isEmpty) 1.0
    else {
      val inter = a.intersect(b).size
      inter.toDouble / (a.size + b.size - inter)
    }
  }
}
