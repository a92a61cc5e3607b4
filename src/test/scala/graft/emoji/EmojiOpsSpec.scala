package graft.emoji

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Tokenizer behavior on the A.4 corpus (FIXTURES.md §A.4; reference pptx
  * slides 7/11 semantics). Strict path = intended spec; quirk path = the
  * reference's literal T1→T2→T3+F2/F4 pipeline, whose observed JVM
  * behavior is pinned here (the lone-surrogate RegexSpace no-ops under
  * code-point matching — SURVEY.md §7.4 risk 1). */
class EmojiOpsSpec extends SparkSpec {
  import spark.implicits._

  private def extract(s: String): Seq[String] =
    Seq(s).toDF("text")
      .select(EmojiOps.extractEmojis(col("text")).as("e"))
      .as[Seq[String]].head()

  test("glued emojis split into individual tokens") {
    assert(extract("I love this 😀😀 movie!") == Seq("😀", "😀"))
    assert(extract("x😀🔥y") == Seq("😀", "🔥"))
  }

  private val Zwj = "\u200D"

  test("ZWJ sequences decompose into component emojis; ZWJ never emitted") {
    val fam = extract("👨" + Zwj + "👩" + Zwj + "👧") // man ZWJ woman ZWJ girl
    assert(fam == Seq("👨", "👩", "👧"))
    assert(!fam.exists(_.contains(Zwj)))
  }

  test("skin-tone modifiers count as separate emojis (pptx slide 7)") {
    assert(extract("👍🏽") == Seq("👍", "🏽"))
  }

  test("artifact characters ( ) | are never extracted by the strict class") {
    assert(extract("(ok) a|b (x)(y)||") == Seq.empty)
  }

  test("emoji-free and empty text extract nothing; null stays null") {
    assert(extract("no emoji here just words") == Seq.empty)
    assert(extract("") == Seq.empty)
    val n = Seq[Option[String]](None).toDF("text")
      .select(EmojiOps.extractEmojis(col("text")).as("e"))
      .collect()(0)
    assert(n.isNullAt(0))
  }

  private def clusters(s: String): Seq[String] =
    Seq(s).toDF("text")
      .select(EmojiOps.extractEmojiClusters(col("text")).as("c"))
      .as[Seq[String]].head()

  test("grapheme clusters: ZWJ families, modifier runs, VS-16, flags stay whole") {
    // hand-built ZWJ corpus (VERDICT r12 #5): every sequence one cluster
    val family = "👨" + Zwj + "👩" + Zwj + "👧"
    assert(clusters(family) == Seq(family), "3-member ZWJ family is ONE cluster")
    val coder = "👩" + Zwj + "💻"
    assert(clusters(s"pair $coder here") == Seq(coder))
    assert(clusters("👍🏽") == Seq("👍🏽"), "skin tone rides its base")
    val heartFire = "❤️" + Zwj + "🔥"
    assert(clusters(heartFire) == Seq(heartFire), "VS-16 + ZWJ extend the cluster")
    val flagBr = "🇧🇷" // regional indicators B+R
    assert(clusters(s"go $flagBr!") == Seq(flagBr), "flag = RI pair, one cluster")
    // adjacent clusters split between, never inside
    assert(clusters(family + coder) == Seq(family, coder))
    // three RIs: leftmost pair is a flag, the odd one out matches nothing
    val riC = "🇨"
    assert(clusters(flagBr + riC) == Seq(flagBr))
    // the code-point census DECOMPOSES the same corpus — the two censuses
    // provably measure different things
    assert(extract(family) == Seq("👨", "👩", "👧"))
    assert(extract(coder) == Seq("👩", "💻"))
  }

  test("grapheme clusters: bare modifiers and plain emoji degrade gracefully") {
    // a lone skin-tone char (fixture reality: ' 🏽😀') is its own cluster
    assert(clusters(" 🏽😀") == Seq("🏽", "😀"))
    // glued plain emoji stay separate clusters (no ZWJ between them)
    assert(clusters("😀😀🔥") == Seq("😀", "😀", "🔥"))
    assert(clusters("no emoji") == Seq.empty)
  }

  test("quirk pipeline: RegexSpace no-ops on valid pairs, so glued runs stay glued") {
    // Reference behavior on the JVM (verified outside Spark too): T2's
    // lone-surrogate pattern cannot match inside a valid surrogate pair,
    // so T1+T2 leave "😀😀()|" as ONE token carrying artifact chars...
    val toks = Seq("I love this 😀😀 movie! (ok) a|b").toDF("text")
      .select(EmojiOps.referenceTokenize(col("text")).as("t"))
      .as[Seq[String]].head()
    assert(toks == Seq("😀😀()|"))
    // ...which the F4 artifact filter then rejects wholesale.
    val kept = Seq("😀😀()|").toDF("tok")
      .filter(EmojiOps.isEmojiToken(col("tok")))
      .count()
    assert(kept == 0)
  }

  test("quirk F2/F4: pure emoji tokens pass, artifact-bearing tokens do not") {
    val df = Seq("😀", "😀😀", "(", ")", "|", "a(b", "plain").toDF("tok")
    val kept = df.filter(EmojiOps.isEmojiToken(col("tok")))
      .as[String].collect().toSeq
    assert(kept == Seq("😀", "😀😀"))
  }

  test("word pipeline (T4/T5): cleans noise, keeps alphanumeric words incl. RT/asdf/covfefe") {
    val df = Seq("RT", "asdf", "covfefe", "en", "y", "(", "a" + Zwj + "b", "don't", "😀")
      .toDF("w")
      .select(EmojiOps.cleanWord(col("w")).as("c"))
      .filter(EmojiOps.isWord(col("c")))
    val kept = df.as[String].collect().toSeq
    // ZWJ (a category-C char) is stripped by cleanWord so "a<zwj>b" -> "ab"
    assert(kept == Seq("RT", "asdf", "covfefe", "en", "y", "ab", "don't"))
  }

  test("word cleaner keeps code points newer than the JDK's Unicode tables") {
    // U+1FAE0 (🫠, Unicode 14) is unassigned (Cn) in JDK 17, so `\p{C}`
    // deleted it and `🫠a|b` became the word `ab`; RE2 keeps it
    val melt = new String(Character.toChars(0x1FAE0))
    val cleaned = Seq(melt + "a|b", "a" + Zwj + "b", "x\u00ADy")
      .toDF("w")
      .select(regexp_replace(col("w"), EmojiOps.WordNoiseSpec, "").as("c"))
      .as[String].collect().toSeq
    assert(cleaned == Seq(melt + "ab", "ab", "xy"))
    assert(!cleaned.head.matches(EmojiOps.WordValidSpec))
  }
}
