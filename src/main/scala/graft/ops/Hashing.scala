package graft.ops

/** Deterministic 64-bit string hashing (FNV-1a + splitmix finalizer),
  * engine-independent: the same value on every executor, every Spark
  * version, and in tests — unlike relying on an engine builtin for
  * minhash/LSH semantics. Used for minhash lanes and entity ids.
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

  /** Exact content fingerprint over the normalized text — the Scala-side
    * twin of [[graft.ops.TextStats.fingerprint]]'s Column form. */
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

  /** The `maxHamming+1` near-equal-width band keys of a 64-bit simhash —
    * the same pigeonhole banding [[graft.ops.Dedup.simhashPairs]] builds as
    * Column expressions (first `64 % bands` bands get the extra bit): any
    * pair within Hamming distance `bands-1` shares at least one whole band.
    * Returned keys are band-local values (band index is the array index). */
  def simhashBandKeys(sim: Long, bands: Int): Array[Long] = {
    require(bands >= 1 && bands <= 64)
    val base = 64 / bands
    val rem = 64 % bands
    val out = new Array[Long](bands)
    var b = 0
    var offset = 0
    while (b < bands) {
      val width = if (b < rem) base + 1 else base
      out(b) = if (width == 64) sim else (sim >>> offset) & ((1L << width) - 1)
      offset += width
      b += 1
    }
    out
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    if (a.isEmpty && b.isEmpty) 1.0
    else {
      val inter = a.intersect(b).size
      inter.toDouble / (a.size + b.size - inter)
    }
  }
}
