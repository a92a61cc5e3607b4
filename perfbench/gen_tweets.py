"""Seeded generator of the emoji-census tweet corpus.

Writes newline-delimited JSON in the Twitter API v2 sample-stream shape the
program's tweet queries read (`data.text`, `data.entities.mentions`,
`data.context_annotations`, `includes.places`), spread over a fixed number of
files. The same seed gives byte-identical files.

The mix follows the reference's published corpus figures (the repository's
`BASELINE.md`, from the reference's slides 8, 10 and 16):

- about 760,000 tweets held 367,157 emoji and 5,333,870 words, so about
  0.48 counted emoji and 7.0 words per tweet, an emoji/word ratio of about
  0.07 (a "word" as the Q3 census counts it: a space-separated token that is
  only ASCII letters, digits and apostrophes once `( ) |` are removed);
- under 1 % of tweets carry a place.

Most tweets carry no emoji; `EMOJI_TWEET_RATE` of them carry one run, and
the rest of the text is words plus tokens that are not words (mentions,
hashtags, links, punctuated words). The rates of missing mentions and
annotations are not published; they are fixed guesses.

The text also carries the tokenizer's hard cases (FIXTURES.md, A.1 and
A.4): glued emoji runs, skin-tone modifiers (attached and bare), ZWJ
families, VS-16 and flag sequences, pictographs outside the three counted
blocks, and the `( ) |` characters the reference's class admits by
accident. Every `HARD_EVERY`-th tweet carries the next case of
`HARD_CASES`, so each case is in every corpus whatever the seed.
"""

import json
import os
import random

# in the three counted blocks (U+1F300-1F5FF, U+1F600-1F64F, U+1F900-1F9FF)
BLOCK = ["😀", "😂", "😅", "😍", "🙃", "🙏", "😎", "😱", "🥰", "👍", "🌟", "🌀",
         "🌈", "🍕", "🎉", "🏆", "🐍", "💡", "📚", "🔥", "💯", "🤖", "🤝", "🥳",
         "🦄", "🧠", "🧿", "🤌"]
SKIN = ["🏻", "🏼", "🏽", "🏾", "🏿"]            # U+1F3FB-1F3FF, in-block
OUT_OF_BLOCK = ["❤", "☀", "✨", "⚡", "🚀", "🫠"]  # counted by no strict census
SEQUENCES = ["👨‍👩‍👧", "👩‍💻", "❤️", "🇧🇷", "🇯🇵", "❤️‍🔥"]
ARTIFACTS = ["(", ")", "|", "(ok)", "a|b"]
WORDS = ["the", "spark", "stream", "data", "love", "this", "movie", "great",
         "scan", "merge", "hash", "sort", "order", "fast", "small", "key",
         "RT", "asdf", "covfefe", "en", "y", "don't", "it's", "hmm", "ok", "2024"]
# tokens that are not words: the Q3 census skips them
NON_WORDS = ["@alice:", "#spark", "#data", "https://t.co/x1y2", "great!",
             "movie,", "wow...", "&amp;", "-", "?"]
USERS = ["alice", "bob", "carol", "dave", "eve", "mallory", "trent", "peggy"]
DOMAINS = ["Sports", "Music", "Musicians", "Technology", "News", "Gaming",
           "Movies", "Tech"]
COUNTRIES = ["Brazil", "Japan", "Canada", "Germany", "France", "USA",
             "United States", "India"]

FILES = 8
HARD_EVERY = 40
# a case glued together so no space separates the parts
HARD_CASES = ["👨‍👩‍👧", "🙏🏽", "🏿", "❤️", "🇧🇷", "❤️‍🔥", "🫠a|b", "☀(ok)",
              "😀😀😀", "🔥|", "(😂)", "RT", "covfefe🦄"]

# rates, tuned so a corpus lands on the published figures above
NO_TEXT_RATE = 0.03
TOKENS = (3, 13)            # tokens per text, uniform: 8 on average
NON_WORD_RATE = 0.1         # share of those tokens that are not words
EMOJI_TWEET_RATE = 0.2      # tweets with an emoji run, 1-4 glued emoji
SKIN_RATE = 0.12            # a modifier after an emoji of a run
GLUED_RUN_RATE = 0.3        # the run glued to the word before it
RARE_RATE = 0.01            # each: bare modifier, sequence, out-of-block, artifact
PLACE_RATE = 0.008


def _text(rnd):
    parts = [rnd.choice(NON_WORDS) if rnd.random() < NON_WORD_RATE else rnd.choice(WORDS)
             for _ in range(rnd.randint(*TOKENS))]
    if rnd.random() < EMOJI_TWEET_RATE:
        run = ""
        for _ in range(rnd.choice((1, 1, 1, 2, 2, 3, 4))):
            run += rnd.choice(BLOCK)
            if rnd.random() < SKIN_RATE:
                run += rnd.choice(SKIN)
        i = rnd.randint(0, len(parts))
        if i and rnd.random() < GLUED_RUN_RATE:
            parts[i - 1] += run
        else:
            parts.insert(i, run)
    if rnd.random() < RARE_RATE:
        parts.append(rnd.choice(SKIN))          # a bare modifier
    if rnd.random() < RARE_RATE:
        parts.insert(rnd.randint(0, len(parts)), rnd.choice(SEQUENCES))
    if rnd.random() < RARE_RATE:
        parts.append(rnd.choice(OUT_OF_BLOCK))
    if rnd.random() < RARE_RATE:
        i = rnd.randint(0, len(parts) - 1)
        parts[i] += rnd.choice(ARTIFACTS)       # glued to a word or a run
    return " ".join(parts)


def _tweet(rnd, hard=None):
    data = {}
    if rnd.random() >= NO_TEXT_RATE:
        data["text"] = _text(rnd)
    if hard is not None:
        data["text"] = data.get("text", rnd.choice(WORDS)) + " " + hard
    if rnd.random() < 0.6:
        data["entities"] = {"mentions": [{"username": rnd.choice(USERS)}
                                         for _ in range(rnd.randint(1, 3))]}
    if rnd.random() < 0.55:
        data["context_annotations"] = [{"domain": {"name": rnd.choice(DOMAINS)}}
                                       for _ in range(rnd.randint(1, 2))]
    tweet = {"data": data}
    if rnd.random() < PLACE_RATE:
        tweet["includes"] = {"places": [{"country": rnd.choice(COUNTRIES)}
                                        for _ in range(rnd.randint(1, 2))]}
    return json.dumps(tweet, ensure_ascii=False, separators=(", ", ": "))


def generate(seed, tweets, out_dir):
    """Writes `tweets` tweets under `out_dir`; returns (tweets, bytes)."""
    rnd = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    per_file = -(-tweets // FILES)
    for f in range(FILES):
        first = f * per_file
        ids = range(first, min(first + per_file, tweets))
        body = "".join(
            _tweet(rnd, HARD_CASES[i // HARD_EVERY % len(HARD_CASES)]
                   if i % HARD_EVERY == 0 else None) + "\n"
            for i in ids).encode("utf-8")
        with open(os.path.join(out_dir, f"tweets-{f:05d}.json"), "wb") as fh:
            fh.write(body)
        total += len(body)
    return tweets, total
