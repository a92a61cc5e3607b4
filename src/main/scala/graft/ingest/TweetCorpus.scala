package graft.ingest

import java.nio.file.Paths

import scala.util.Random

/** Deterministic generator for a bench-scale A.1-shaped tweet corpus.
  *
  * The committed fixture corpus (fixtures/tweets, 3 small files) pins
  * reference fidelity, but it is far too small to *measure* the tokenizer:
  * every tw_* bench number on it is session overhead. This generator
  * synthesizes an emoji-rich NDJSON corpus of [[ScaledTweets]] tweets at a
  * FIXED path from a FIXED seed, so the Spark query and the DuckDB oracle
  * (a static SQL string — it cannot interpolate a temp dir) read
  * byte-identical data no matter which process materialized it first.
  * Verify runs the Spark side before the driver runs oracles, so
  * ensure-on-first-use is sound.
  *
  * Content mirrors the fixture's hard cases (FIXTURES.md §A.1): glued
  * emoji runs, ZWJ sequences whose components are in-block, skin-tone
  * modifiers (in-block per reference pptx slide 7), out-of-block emoji
  * that must NOT match, the artifact chars `()|` the quirk class admits,
  * missing text/dimension fields, and plain words for the q3 ratio.
  */
object TweetCorpus {

  val ScaledDir = "/tmp/graft-tweets-scaled"
  val ScaledTweets = 100000
  private val FilesOut = 8
  private val Seed = 20260812L

  // in-block: Misc Symbols & Pictographs / Emoticons / Supplemental S&P
  private val blockEmoji = Vector(
    "😀", "😂", "😅", "😍", "🙃", "🙏", "😎", "😱",
    "🌀", "🌈", "🌙", "🍕", "🎉", "🏆", "🐍", "💡", "📚", "🔥", "🗿", "💯",
    "🤖", "🤝", "🥇", "🥳", "🦄", "🧠", "🧿", "🤌")
  // skin-tone modifiers U+1F3FB–U+1F3FF sit inside 1F300–1F5FF: in-block
  private val skinTones = Vector("🏻", "🏼", "🏽", "🏾", "🏿")
  // out-of-block pictographs the strict class must reject
  private val outOfBlock = Vector("❤", "☀", "✨", "☔", "⚡")
  // ZWJ family: components are in-block, the joiner never matches
  private val zwjFamily = "👨‍👩‍👧"
  private val artifacts = Vector("(", ")", "|")
  private val words = Vector(
    "the", "quick", "brown", "fox", "jumps", "over", "lazy", "dog",
    "spark", "stream", "shuffle", "emoji", "census", "tweet", "data",
    "scale", "hundred", "terabyte", "plan", "joins", "don't", "can't")
  private val users = Vector("alice", "bob", "carol", "dave", "eve", "mallory")
  private val domains = Vector("Sports", "Music", "Technology", "News", "Gaming")
  private val countries = Vector(
    "Brazil", "Japan", "Canada", "Germany", "France", "United States")

  private def text(rnd: Random): String = {
    val sb = new StringBuilder
    val nWords = 2 + rnd.nextInt(8)
    (0 until nWords).foreach { i =>
      if (i > 0) sb.append(' ')
      sb.append(words(rnd.nextInt(words.length)))
    }
    // glued emoji run (no separators — the tokenizer must decompose it)
    val nEmoji = rnd.nextInt(6)
    if (nEmoji > 0) {
      sb.append(' ')
      (0 until nEmoji).foreach { _ =>
        sb.append(blockEmoji(rnd.nextInt(blockEmoji.length)))
        if (rnd.nextInt(8) == 0) sb.append(skinTones(rnd.nextInt(skinTones.length)))
      }
    }
    if (rnd.nextInt(10) == 0) sb.append(' ').append(zwjFamily)
    if (rnd.nextInt(5) == 0)
      sb.append(' ').append(outOfBlock(rnd.nextInt(outOfBlock.length)))
    if (rnd.nextInt(6) == 0)
      sb.append(artifacts(rnd.nextInt(artifacts.length)))
    sb.toString
  }

  private def line(rnd: Random): String = {
    val sb = new StringBuilder("{\"data\":{")
    val hasText = rnd.nextInt(10) != 0 // 10% of tweets carry no text field
    if (hasText) sb.append("\"text\":\"").append(text(rnd)).append("\",")
    if (rnd.nextInt(3) != 0) {
      val n = 1 + rnd.nextInt(3)
      sb.append("\"entities\":{\"mentions\":[")
      sb.append((0 until n).map(_ =>
        s"""{"username":"${users(rnd.nextInt(users.length))}"}""").mkString(","))
      sb.append("]},")
    }
    if (rnd.nextInt(3) != 0) {
      sb.append("\"context_annotations\":[{\"domain\":{\"name\":\"")
      sb.append(domains(rnd.nextInt(domains.length))).append("\"}}],")
    }
    if (sb.last == ',') sb.setLength(sb.length - 1)
    sb.append("}")
    if (rnd.nextInt(2) == 0) {
      sb.append(",\"includes\":{\"places\":[{\"country\":\"")
      sb.append(countries(rnd.nextInt(countries.length))).append("\"}]}")
    }
    sb.append("}")
    sb.toString
  }

  /** Generates the corpus if absent and returns its directory, published
    * once across processes by [[graft.similarity.IndexStore.buildOnce]]:
    * a reader can never list a half-written ScaledDir. */
  def ensureScaled(): String =
    graft.similarity.IndexStore.buildOnce(ScaledDir) { tmp =>
      val rnd = new Random(Seed)
      val perFile = ScaledTweets / FilesOut
      val batches = (0 until FilesOut).map { _ =>
        (0 until perFile).map(_ => line(rnd))
      }
      FileFeeder.feed(Paths.get(tmp), batches, prefix = "tweets")
    }
}
