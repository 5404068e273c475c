package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The byte-identical text contract (SURVEY.md §2.3, T1–T5).
  *
  * Every function is a `Column => Column` built from native Catalyst
  * expressions (regexp_replace / translate — whole-stage-codegen'd, zero
  * UDFs). Those that also run inside mapPartitions kernels or the golden
  * byte-identity tests (T1–T4, text extraction) have a plain
  * `String => String` twin with identical semantics.
  *
  * References (file:line in /root/reference):
  *  - cleanData:              data/data_utils.py:201-225
  *  - chineseToEnglishPunct:  data/apply_text_norm.py:35-48
  *  - full2half:              data/apply_text_norm.py:51-68
  *  - processSent:            data/apply_text_norm.py:72-77
  *  - spo-field normalization: data/data_utils.py:243-248
  */
object TextNorm {

  // ---------------------------------------------------------------- T1
  // Ordered regex pipeline. Order is semantic: ASCII parens are converted to
  // full-width BEFORE the （…） strips, so '(http...)' is caught by rule 5.
  // Python's `\s` is unicode-aware; Java needs the (?U) flag for parity.
  private val cleanRules: Seq[(String, String)] = Seq(
    "[(]" -> "（",
    "[)]" -> "）",
    "," -> "，",
    "（/.*）" -> "",
    "（http.*）" -> "",
    "targetUrl=http.*）" -> "",
    "(?U)[#*\\s]{2,}" -> "-",
    "[，]{2,}" -> "，"
  )

  def cleanData(c: Column): Column =
    cleanRules.foldLeft(c) { case (col, (pat, rep)) => regexp_replace(col, pat, rep) }

  // precompiled patterns — String.replaceAll recompiles per call, which
  // dominates allocation in per-doc kernels
  private val cleanCompiled: Seq[(java.util.regex.Pattern, String)] =
    cleanRules.map { case (p, r) => java.util.regex.Pattern.compile(p) -> r }

  def cleanDataStr(s: String): String =
    cleanCompiled.foldLeft(s) { case (t, (pat, rep)) => pat.matcher(t).replaceAll(rep) }

  // ---------------------------------------------------------------- T5
  // The lighter normalization applied to gold subject/object strings
  // (data/data_utils.py:243-248): only the , ( ) substitutions.
  def normalizeSpoField(c: Column): Column =
    translate(c, ",()", "，（）")

  // ---------------------------------------------------------------- T2
  // 23-entry Chinese→ASCII punctuation map. Sequential single-char replaces
  // with distinct sources ≡ one translate() (codegen'd, no UDF).
  val punctFrom = "，。！？；（）＠＃【】+=-：“”‘’》《「」"
  val punctTo = ",.!?;()@#[]+=-:\"\"''><{}"
  require(punctFrom.length == punctTo.length)

  def chineseToEnglishPunct(c: Column): Column = translate(c, punctFrom, punctTo)

  // hoisted: this runs once per entity surface at corpus scale (Linker) —
  // rebuilding the map per call would allocate on the hot path
  private val punctMap: Map[Char, Char] = punctFrom.zip(punctTo).toMap

  def chineseToEnglishPunctStr(s: String): String =
    s.map(ch => punctMap.getOrElse(ch, ch))

  // ---------------------------------------------------------------- T3
  // Full-width → half-width: U+3000 → space, U+FF01..U+FF5E → cp-0xFEE0.
  // Pure 95-char 1:1 map ⇒ translate(), no UDF.
  val fullFrom: String = "　" + (0xFF01 to 0xFF5E).map(_.toChar).mkString
  val halfTo: String = " " + (0x21 to 0x7E).map(_.toChar).mkString

  def full2half(c: Column): Column = translate(c, fullFrom, halfTo)

  def full2halfStr(s: String): String = s.map { ch =>
    val n = ch.toInt
    if (n == 0x3000) ' '
    else if (n >= 0xFF01 && n <= 0xFF5E) (n - 0xFEE0).toChar
    else ch
  }

  // ---------------------------------------------------------------- T4
  def processSent(c: Column): Column = full2half(chineseToEnglishPunct(c))
  def processSentStr(s: String): String = full2halfStr(chineseToEnglishPunctStr(s))

  // ------------------------------------------------------- text extraction
  // Strip-tags for the synthetic html wrapper (FIXTURES.md §1): remove
  // markup, then run the reference cleaning chain. This defines the
  // byte-identical `text = extractText(html)` invariant per url.
  def stripTags(c: Column): Column = regexp_replace(c, "<[^>]*>", "")
  private val tagPattern = java.util.regex.Pattern.compile("<[^>]*>")
  def stripTagsStr(s: String): String = tagPattern.matcher(s).replaceAll("")

  def extractText(htmlUtf8: Column): Column =
    cleanData(stripTags(htmlUtf8.cast("string")))

  def extractTextStr(html: Array[Byte]): String =
    cleanDataStr(stripTagsStr(new String(html, java.nio.charset.StandardCharsets.UTF_8)))

  // ------------------------------------------------------------ predict path
  // F3 newline strip (run_qa.py:428,436) — applied before the F2 filter.
  def stripNewlines(c: Column): Column = regexp_replace(c, "\n", "")
}
