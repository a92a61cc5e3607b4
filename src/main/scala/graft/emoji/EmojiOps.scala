package graft.emoji

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The reference's emoji tokenizer as pure `Column => Column` functions.
  *
  * Reference semantics (SURVEY.md §2.3; q1/src/main/scala/com/revature/
  * questionone/Runner.scala:97-109): a Java-regex character class over three
  * Unicode blocks — Emoticons U+1F600–U+1F64F, Misc Symbols & Pictographs
  * U+1F300–U+1F5FF, Supplemental Symbols & Pictographs U+1F900–U+1F9FF —
  * written in the reference as surrogate-pair ranges that accidentally also
  * admit the literal characters `(`, `)`, `|` (hence its artifact-char
  * post-filter, q1:109). ZWJ sequences are out of scope by design; skin-tone
  * modifiers count as separate tokens (reference pptx slide 7).
  *
  * Two paths are provided:
  *  - [[extractEmojis]] — the *intended* semantics, one codegen'd
  *    `regexp_extract_all` pass (strict spec per SURVEY.md §7.4 risk 1).
  *  - [[referenceTokenize]]/[[isEmojiToken]] — quirk-parity reproduction of
  *    the reference's T1→T2→T3 + F2/F4 pipeline for fidelity tests.
  */
object EmojiOps {

  /** Strict class: exactly the three intended blocks. */
  val EmojiClass: String =
    "[\\x{1F300}-\\x{1F5FF}\\x{1F600}-\\x{1F64F}\\x{1F900}-\\x{1F9FF}]"

  /** Quirk class: the blocks plus the accidental literal members `( ) |`
    * (reference q1:97). */
  val QuirkEmojiClass: String =
    "[\\x{1F300}-\\x{1F5FF}\\x{1F600}-\\x{1F64F}\\x{1F900}-\\x{1F9FF}()|]"

  /** Negation of [[QuirkEmojiClass]] (reference q1:98 `notEmoji`). */
  val QuirkNotEmojiClass: String =
    "[^\\x{1F300}-\\x{1F5FF}\\x{1F600}-\\x{1F64F}\\x{1F900}-\\x{1F9FF}()|]"

  /** Reference q1:99 `regexSpace`, kept verbatim (lone UTF-16 surrogates —
    * under code-point matching this can silently no-op; see SURVEY.md §7.4). */
  val RegexSpace: String =
    "(\\B\\uD83D.{1})|(\\B\\uD83C.{1})|(\\B\\uD83E.{1})"

  /** Intended semantics, single pass: every individual emoji code point in
    * the three blocks, in order. ZWJ-joined families decompose into their
    * component emojis (ZWJ itself never matches). */
  def extractEmojis(text: Column): Column =
    regexp_extract_all(text, lit(EmojiClass), lit(0))

  /** Quirk-parity T1→T2→T3 (reference q1:104-106): delete non-emoji, space
    * before each emoji, split on single space. */
  def referenceTokenize(text: Column): Column =
    split(
      regexp_replace(
        regexp_replace(text, QuirkNotEmojiClass, ""),
        RegexSpace, " $1"),
      " ")

  /** F2 + F4 (reference q1:108-109): token matches the class and carries no
    * artifact characters. */
  def isEmojiToken(token: Column): Column =
    token.rlike(QuirkEmojiClass) &&
      !token.contains("(") && !token.contains(")") && !token.contains("|")

  /** Grapheme-cluster census classes (round 13 — the first upgrade a real
    * emoji-analytics user asks for; the reference pptx slide 7 scopes ZWJ
    * sequences OUT of its code-point census, so this is a superset query
    * next to [[extractEmojis]], not a fidelity change). A maximal emoji
    * grapheme cluster is either a regional-indicator PAIR (a flag) or a
    * base pictograph carrying any run of skin-tone modifiers / VS-16,
    * extended through any number of ZWJ joints (👩‍💻, 👨‍👩‍👧, 🙏🏽,
    * ❤️‍🔥 each count ONCE). The base class extends the reference's three
    * blocks with Misc-Symbols/Dingbats, Transport, and Symbols-Ext-A so
    * ZWJ families built from them stay whole. The pattern text is valid
    * in BOTH Java regex (Spark) and RE2 (the DuckDB oracle): code-point
    * classes, greedy quantifiers, non-capturing groups, leftmost-first
    * alternation. */
  val GraphemeBase: String =
    "[\\x{2600}-\\x{27BF}\\x{1F300}-\\x{1F5FF}\\x{1F600}-\\x{1F64F}" +
      "\\x{1F680}-\\x{1F6FF}\\x{1F900}-\\x{1F9FF}\\x{1FA70}-\\x{1FAFF}]"
  val GraphemeMod: String = "[\\x{1F3FB}-\\x{1F3FF}\\x{FE0F}]"
  val GraphemeCluster: String =
    s"(?:[\\x{1F1E6}-\\x{1F1FF}]{2})|" +
      s"(?:$GraphemeBase$GraphemeMod*(?:\\x{200D}$GraphemeBase$GraphemeMod*)*)"

  /** Maximal emoji grapheme clusters, in order (see [[GraphemeCluster]]). */
  def extractEmojiClusters(text: Column): Column =
    regexp_extract_all(text, lit(GraphemeCluster), lit(0))

  /** q3's word pipeline (reference q3:167-168,173-174): strip whitespace /
    * control / invisible characters, then keep alphanumeric' words.
    * [[WordNoise]] is the reference's literal Java class (with its `&&`
    * intersection quirk — JVM-only, pinned in unit tests). The `Spec`
    * variants are the intended semantics spelled portably (same class
    * compiles in Java regex and RE2), used by every oracle-verified query;
    * they additionally strip the artifact `\|` the quirk class misses.
    * `WordNoiseSpec` names the categories of `\p{C}` except `Cn`: JDK 17's
    * tables put code points newer than its Unicode version (U+1FAE0, 🫠)
    * in `Cn`, so `\p{C}` deleted them in Spark and not in RE2. */
  val WordNoise: String = "[(\\s)(\\p{C})(\\p{Cntrl}&&[^\\r\\n\\t])()]"
  val WordValid: String = "^[A-Za-z0-9']+$"
  val WordNoiseSpec: String = "[\\s\\p{Cc}\\p{Cf}\\p{Co}\\p{Cs}()|]"
  val WordValidSpec: String = WordValid

  def cleanWord(w: Column): Column = regexp_replace(w, WordNoise, "")
  def isWord(w: Column): Column = w.rlike(WordValid)

  /** Full strict pipeline: text column → exploded-ready array of emoji
    * tokens (the §2.9 normal form's T1..F4 stage as one expression). */
  def emojiTokens(text: Column): Column = extractEmojis(text)
}
