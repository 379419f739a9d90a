package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for the training-data pipeline
  * (BASELINE.json north-star: language-ID, quality scoring, token
  * counting, document fingerprinting).
  *
  * Everything here is built from `org.apache.spark.sql.functions` and
  * higher-order array functions — no Scala UDFs — so Catalyst keeps
  * pushdown/pruning and the expressions serialize into any plan
  * (including streaming). Heuristics are deliberately integer-exact so
  * results are reproducible across engines (see queries/package.scala).
  *
  * The reference's language detection is Tika's `LanguageIdentifier`
  * (reference: participants/implementations.kt:224-226) and its analysis
  * ops are metadata maps (implementations.kt:92-146); here they are
  * first-class columns.
  */
object TextFunctions {

  /** Whitespace tokens (documents are single-space separated). */
  def tokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** BPE-ish subword count: letter runs, digit runs, and single symbols.
    * The pattern avoids `\s` so Java and RE2 char-class semantics agree. */
  val BpePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpePattern), lit(0))).cast("long")

  /** Stopword profiles for the stopword-hit language-ID heuristic. */
  val Stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "nicht"),
    "es" -> Seq("el", "la", "de", "y", "que", "los", "una"),
    "fr" -> Seq("le", "la", "et", "les", "des", "une", "est"))

  def stopwordHits(toks: Column, lang: String): Column = {
    val list = Stopwords.toMap.apply(lang)
    size(array_intersect(array_distinct(toks), array(list.map(lit): _*))).cast("long")
  }

  /** Priority-ordered argmax over per-language stopword hits; 'und' when
    * nothing matches. The CASE chain (en ≥ de ≥ es ≥ fr) is the
    * deterministic tie-break and mirrors 1:1 into SQL. */
  def langId(text: Column): Column = {
    val t = array_distinct(tokens(text))
    val h = Stopwords.map { case (l, _) => l -> stopwordHits(t, l) }.toMap
    when(h("en") === 0 && h("de") === 0 && h("es") === 0 && h("fr") === 0, lit("und"))
      .when(h("en") >= h("de") && h("en") >= h("es") && h("en") >= h("fr"), lit("en"))
      .when(h("de") >= h("es") && h("de") >= h("fr"), lit("de"))
      .when(h("es") >= h("fr"), lit("es"))
      .otherwise(lit("fr"))
  }

  /** Heuristic quality score in [0,1]: length saturation, lexical
    * diversity, non-numeric share, word-length saturation. All four
    * components are ratios of exact integers, so the double result is
    * bit-reproducible. Rounded to 6 decimals for stable presentation. */
  def qualityScore(text: Column): Column = round(qualityScoreRaw(text), 6)

  /** Unrounded score — use with integer micro-scaling for cross-engine
    * exactness (rounding a double at decimal scale N is a half-ulp
    * hazard; scale-0 rounding of the ×1e6 value is not). */
  def qualityScoreRaw(text: Column): Column = {
    val toks = tokens(text)
    val n = size(toks).cast("double")
    val distinctShare = size(array_distinct(toks)).cast("double") / n
    val digitToks = size(filter(toks, t => t.rlike("^[0-9]+$"))).cast("double")
    val lenSat = least(lit(1.0), n / 50)
    val avgLen = (length(text) - (size(toks) - 1)).cast("double") / n // chars minus separators
    val lenQuality = least(lit(1.0), avgLen / 8)
    lit(0.3) * lenSat + lit(0.3) * distinctShare +
      lit(0.2) * (lit(1.0) - digitToks / n) + lit(0.2) * lenQuality
  }

  /** Polynomial rolling-hash fingerprint over characters, mod 1e9+7.
    * Exact BIGINT arithmetic (acc ≤ 1e9, acc*31 + 255 ≪ 2^63), identical
    * in any engine with 64-bit ints. `split(text, "")` yields a trailing
    * empty string under Java regex semantics — filtered out to match the
    * SQL-side `substr` loop. */
  val FingerprintMod: Long = 1000000007L
  def fingerprint(text: Column): Column =
    aggregate(
      transform(filter(split(text, ""), ch => ch =!= ""), ch => ascii(ch).cast("long")),
      lit(0L),
      (acc, c) => (acc * 31 + c) % FingerprintMod)

  // ---------------------------------------------------- rule-based tagging

  /** Deterministic rule-based POS tagging — the offline stand-in for the
    * reference's CoreNLP parse-map producer (B6,
    * implementations.kt:92-146). First matching rule wins; the rule order
    * is the contract (mirrored by the SQL oracle and the row-level
    * enricher). */
  val PosDeterminers: Seq[String] = Seq("the", "a", "an")
  val PosConjunctions: Seq[String] = Seq("and", "or", "but")
  val PosPrepositions: Seq[String] = Seq("of", "in", "on", "at", "to", "for", "with", "by")

  def posTag(w: Column): Column =
    when(w.rlike("^[0-9]+$"), "CD")
      .when(w.isin(PosDeterminers: _*), "DT")
      .when(w.isin(PosConjunctions: _*), "CC")
      .when(w.isin(PosPrepositions: _*), "IN")
      .when(w.endsWith("ing"), "VBG")
      .when(w.endsWith("ed"), "VBD")
      .when(w.endsWith("ly"), "RB")
      .when(w.endsWith("s"), "NNS")
      .otherwise("NN")

  def posTagScala(w: String): String =
    if (w.matches("^[0-9]+$")) "CD"
    else if (PosDeterminers.contains(w)) "DT"
    else if (PosConjunctions.contains(w)) "CC"
    else if (PosPrepositions.contains(w)) "IN"
    else if (w.endsWith("ing")) "VBG"
    else if (w.endsWith("ed")) "VBD"
    else if (w.endsWith("ly")) "RB"
    else if (w.endsWith("s")) "NNS"
    else "NN"

  /** Named-entity-ish tag, same rules as the EntityEnricher stand-in
    * ('O' = not an entity, CoNLL-style). */
  def neTag(w: Column): Column =
    when(w.rlike("^[0-9]+$"), "NUMBER")
      .when(w.rlike("^[a-z]+[0-9]+$"), "IDENT")
      .otherwise("O")

  def neTagScala(w: String): String =
    if (w.matches("^[0-9]+$")) "NUMBER"
    else if (w.matches("^[a-z]+[0-9]+$")) "IDENT"
    else "O"

  /** Engine-portable 60-bit hash: first 15 hex chars of md5 as a BIGINT.
    * Nonnegative (top 4 bits zero), so signed shifts/comparisons behave
    * identically everywhere — lets MinHash/SimHash signatures be verified
    * bit-exactly by a SQL oracle (`CAST('0x' || substring(md5(x),1,15) AS
    * BIGINT)` in DuckDB). ~2-3× slower than xxhash64; the dedup pipeline
    * signs with the portable family (one-pass kernel, oracle-verified). */
  def portableHash60(c: Column): Column =
    // native kernel straight off the digest bytes — the previous
    // conv(substring(md5-hex)) form paid a per-row hex-string build plus
    // Conv's radix walk, ~30× the md5 itself (q48's sketch stage);
    // bit-identical (GraftFunctionsSpec parity case)
    graft.functions.NativeExpressions.hash60(c)
}
