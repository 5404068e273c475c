package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

import graft.encode.Encoder
import graft.functions.Spans
import graft.ops.Hashing
import graft.schema.Span

/** Pure-JVM property tests (ScalaCheck runs them under sbt's test task):
  * algebraic invariants of the span codec, the simhash table keys, the
  * content-normalized fingerprint, and the encoder's truncation contract —
  * the randomized complement to the example-driven ParitySpec. */
object GraftProperties extends Properties("graft") {

  // ----- D1/T9: bioLabels ∘ indicesFromLabel round-trips any valid span set

  private val genSpanSet: Gen[(Int, List[Span])] = for {
    len <- Gen.choose(1, 160)
    // random non-overlapping spans: cut points paired into [s, e) runs,
    // keeping a gap or exact adjacency between consecutive spans
    cuts <- Gen.listOf(Gen.choose(0, len)).map(_.distinct.sorted)
  } yield (len, cuts.grouped(2).collect { case List(s, e) if s < e => Span(s, e) }.toList)

  property("bio round-trip: decode(encode(spans)) == spans") =
    forAll(genSpanSet, Gen.choose(1, 17).map(_ * 2)) { case ((len, spans), bId) =>
      val inBounds = spans.filter(_.end <= len)
      val bio = Spans.bioLabels(len + 1, bId, inBounds)
      Spans.indicesFromLabel(bio.drop(1), bId) == inBounds
    }

  property("indexNumber finds the first planted tag id") =
    forAll(genSpanSet, Gen.choose(1, 17).map(_ * 2)) { case ((len, spans), bId) =>
      val inBounds = spans.filter(_.end <= len)
      val bio = Spans.bioLabels(len + 1, bId, inBounds)
      Spans.indexNumber(bio) == (if (inBounds.isEmpty) 0 else bId)
    }

  // ----- simhash table keys: pigeonhole recall at every block count; at
  // m = r+1 the keys are the block values and reassemble the signature

  property("simhash table keys at m = r+1 are the signature blocks") =
    forAll(Gen.long, Gen.choose(1, 64)) { (sim, bands) =>
      val keys = Hashing.simhashTableKeys(sim, Hashing.simhashTables(bands, bands - 1))
      val base = 64 / bands
      val rem = 64 % bands
      var rebuilt = 0L
      var offset = 0
      val blockValues = keys.zipWithIndex.map { case (k, b) =>
        val width = if (b < rem) base + 1 else base
        val block = if (width == 64) sim else (sim >>> offset) & ((1L << width) - 1)
        rebuilt |= k << offset
        offset += width
        block
      }
      keys.length == bands && rebuilt == sim && keys.sameElements(blockValues)
    }

  property("pigeonhole: hamming <= r implies a shared table key for m in r+1..r+3") =
    forAll(Gen.long, Gen.choose(1, 15), Gen.choose(1, 3), Gen.choose(0, 63)) {
      (sim, r, extra, seed0) =>
        val m = r + extra
        // flip at most r distinct bits
        val nFlips = seed0 % (r + 1) // 0..r
        val bits = Iterator.iterate(Hashing.splitmix64(seed0))(Hashing.splitmix64)
          .map(b => (b & 63L).toInt).distinct.take(nFlips).toList
        val other = bits.foldLeft(sim)((s, b) => s ^ (1L << b))
        val tables = Hashing.simhashTables(m, r)
        val ka = Hashing.simhashTableKeys(sim, tables)
        val kb = Hashing.simhashTableKeys(other, tables)
        ka.zip(kb).exists { case (a, b) => a == b }
    }

  // ----- normalized fingerprint: formatting-invariant, content-sensitive

  private val genTokens: Gen[List[String]] =
    Gen.nonEmptyListOf(Gen.oneOf("alpha", "Beta", "GAMMA", "肺部", "δ", "x1"))
  private val genWs: Gen[String] =
    Gen.nonEmptyListOf(Gen.oneOf(" ", "  ", "\t", "\n", " \t ")).map(_.mkString)

  property("normalizedFingerprint is whitespace- and case-invariant") =
    forAll(genTokens, genWs, genWs) { (toks, ws1, ws2) =>
      val a = toks.mkString(" ")
      val b = ws1 + toks.map(_.toUpperCase).mkString(ws2) + ws1
      Hashing.normalizedFingerprint(a) == Hashing.normalizedFingerprint(b)
    }

  property("simhashFeatures empty iff normalized text is blank") =
    forAll(genWs) { ws =>
      Hashing.simhashFeatures(ws).isEmpty &&
        Hashing.simhashFeatures(null).isEmpty &&
        Hashing.simhashFeatures(ws + "x" + ws).nonEmpty
    }

  // ----- T8 encoder truncation contract

  private val genText: Gen[String] =
    Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf('肺', '部', '，', ' ')))
      .map(_.mkString)

  property("encode: fixed width, budget respected, context-first layout") =
    forAll(genText, genText, Gen.choose(8, 168)) { (ctx, q, maxSeq) =>
      val row = Encoder.encode(ctx, q, maxSeq)
      Prop.all(
        Prop(row.inputIds.length == maxSeq) :| "fixed width",
        Prop(row.inputMask.length == maxSeq && row.segmentIds.length == maxSeq) :| "parallel arrays",
        Prop(3 + row.lenContext + row.lenQuestion <= maxSeq) :| "token budget",
        Prop(row.lenContext <= ctx.length && row.lenQuestion <= q.length) :| "truncate only",
        // context occupies segment 0 right after [CLS]
        Prop((1 until 1 + row.lenContext).forall(row.segmentIds(_) == 0)) :| "ctx segment"
      )
    }
}
