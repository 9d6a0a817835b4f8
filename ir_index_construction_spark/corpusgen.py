"""Deterministic synthetic Common-Crawl-style corpus generator.

Emits the north-rule input table (url STRING, warc_ts TIMESTAMP,
html BINARY, text STRING, lang STRING) — FIXTURES.md §1.  Every row is a
pure function of (seed, i), so generation parallelizes embarrassingly:
tests build a pandas frame on the driver, the bench generates the same
rows distributed via mapInPandas over an id range.

The vocabulary is Zipf-distributed and deliberately plants every
trip-wire from the reference's token rules (indexer.py:109-124) and the
normalization asymmetry (indexer.py:187 vs searcher.py:183):
reference-query terms, stopwords, 4-digit years (kept) vs longer
numbers (dropped), 1e5-style tokens (dropped), ensm*/ensg* (dropped),
punctuated forms (Don't, state-of-the-art), and one head term present
in >90% of docs to exercise skew salting.
"""

from __future__ import annotations

import datetime as _dt
import random
from bisect import bisect_right

from .text.extract import extract_text

EPOCH = _dt.datetime(2024, 1, 1)

QUERY_TERMS = [
    "cristina", "lopes", "machine", "learning", "acm",
    "master", "software", "engineering",
]
STOPWORDS = [
    "the", "and", "of", "to", "a", "in", "is", "it", "you", "that",
    "he", "was", "for", "on", "are", "with", "as", "his", "they", "at",
]
HEAD_TERM = "commoncrawl"          # planted in >90% of docs (skew test)
TRICKY = [
    "2024", "2019", "1998",        # 4-digit ints: kept
    "20245", "123456",             # >4-digit ints: dropped
    "1e5", "2E10", "e5",           # sci-notation-ish: dropped
    "ensm0001", "ensg0042",        # prefix-filtered: dropped
    "Don't", "state-of-the-art", "C++", "it's",  # punctuation asymmetry
]

_SYL = ["ba", "co", "di", "fu", "ga", "hy", "ji", "ko", "lu", "me",
        "no", "pa", "qui", "ro", "su", "ta", "ve", "wo", "xi", "zo"]


def _filler_words(n: int) -> list:
    rng = random.Random(0xF111E7)
    words = []
    seen = set()
    while len(words) < n:
        w = "".join(rng.choice(_SYL) for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


# Stopwords get the head Zipf ranks (realistic); query terms + trip-wire
# tokens sit at mid-frequency ranks so fixture queries have discriminating
# idf instead of matching every doc.
_FILLERS = _filler_words(2000)
VOCAB = STOPWORDS + _FILLERS[:120] + QUERY_TERMS + TRICKY + _FILLERS[120:]

# Zipf CDF over the vocabulary (rank-frequency exponent 1.07).
_weights = [1.0 / (r + 1) ** 1.07 for r in range(len(VOCAB))]
_total = sum(_weights)
_CDF = []
_acc = 0.0
for _w in _weights:
    _acc += _w
    _CDF.append(_acc / _total)

_LANGS = ["en"] * 24 + ["es", "zh", "de", "es"]

_SUBDOMAINS = ["www", "ics", "stat", "cs", "grad", "wiki", "news", "blog"]
_BAD_EXT = [".pdf", ".zip", ".jpg", ".pptx", ".tar"]


def _word(rng: random.Random) -> str:
    return VOCAB[bisect_right(_CDF, rng.random())]


def _sentence(rng: random.Random, lo: int, hi: int) -> str:
    n = rng.randint(lo, hi)
    words = [_word(rng) for _ in range(n)]
    if rng.random() < 0.9:
        words.insert(rng.randrange(len(words) + 1), HEAD_TERM)
    # sprinkle punctuation / case so normalization paths are exercised
    out = []
    for w in words:
        r = rng.random()
        if r < 0.05:
            w = w.capitalize()
        elif r < 0.08:
            w = w + ","
        out.append(w)
    return " ".join(out) + "."


def _phrase(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(_word(rng) for _ in range(rng.randint(lo, hi)))


def make_url(i: int, seed: int = 42) -> str:
    rng = random.Random((seed << 40) ^ (i * 2654435761))
    sub = _SUBDOMAINS[i % len(_SUBDOMAINS)]
    base = f"https://{sub}.example.edu/page/{seed}/{i}"
    if i % 53 == 2:                      # ~2%: blacklisted ext or bad scheme
        if rng.random() < 0.5:
            return base + rng.choice(_BAD_EXT)
        return "ftp://files.example.edu/page/%d" % i
    if i % 50 == 1 and i > 0:            # ~2%: fragment dup of previous url
        return make_url(i - 1, seed).split("#")[0] + "#section-2"
    if rng.random() < 0.1:
        base += "?q=" + _word(rng)
    return base


def make_doc(i: int, seed: int = 42) -> dict:
    """One deterministic synthetic page; depends only on (seed, i)."""
    rng = random.Random((seed << 32) ^ i)
    url = make_url(i, seed)

    title = _phrase(rng, 3, 6)
    parts = ["<!DOCTYPE html>", "<html><head>",
             f"<title>{title}</title>",
             "<style>body { color: #333; font: 12px arial; }</style>",
             "<script>var x = 42; function f() { return x * 2; }</script>",
             "</head><body>",
             f"<nav>home about {_phrase(rng, 2, 4)} contact</nav>"]
    if rng.random() < 0.8:
        parts.append(f"<h1>{_phrase(rng, 2, 5)}</h1>")
    for _ in range(rng.randint(0, 2)):
        parts.append(f"<h2>{_phrase(rng, 2, 5)}</h2>")
    for _ in range(rng.randint(0, 2)):
        parts.append(f"<h3>{_phrase(rng, 2, 4)}</h3>")
    for _ in range(rng.randint(2, 6)):
        sent = _sentence(rng, 15, 45)
        if rng.random() < 0.5:
            bold_tag = rng.choice(["strong", "b"])
            sent += f" <{bold_tag}>{_phrase(rng, 1, 3)}</{bold_tag}> {_sentence(rng, 5, 15)}"
        if rng.random() < 0.15:
            sent += " research &amp; development."
        parts.append(f"<p>{sent}</p>")
    parts.append(f"<aside>{_phrase(rng, 3, 6)}</aside>")
    parts.append(f"<footer>copyright 2024 example {_phrase(rng, 1, 3)}</footer>")
    parts.append("</body></html>")
    html = "\n".join(parts)

    return {
        "url": url,
        "warc_ts": EPOCH + _dt.timedelta(seconds=i),
        "html": html.encode("utf-8"),
        "text": extract_text(html),
        "lang": _LANGS[i % len(_LANGS)],
    }


def make_corpus(n_docs: int, seed: int = 42) -> list:
    return [make_doc(i, seed) for i in range(n_docs)]
